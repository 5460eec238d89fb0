"""Publisher façade tests: the three endpoint JSON contracts over a small
hand-built dau_info / order_wide table (FIXTURES.md §6), including the
edge params the reference mishandles (0-match item, page beyond last,
missing date partition)."""

from __future__ import annotations

import os

import pytest

from sparkstreaming_realtime_project_spark.plans.publisher import (
    dau_realtime_json,
    detail_by_item_json,
    stats_by_item_json,
)


@pytest.fixture(scope="module")
def dau_table(spark):
    rows = [
        ("m1", "2024-01-02", "01"),
        ("m2", "2024-01-02", "01"),
        ("m3", "2024-01-02", "09"),
        ("m1", "2024-01-01", "10"),
        ("m4", "2024-01-01", "23"),
    ]
    return spark.createDataFrame(rows, "mid string, dt string, hr string")


@pytest.fixture(scope="module")
def wide_table(spark):
    rows = [
        # detail_id, dt, sku_name, gender, age, amount, create_time
        (1, "2024-01-02", "小米 手机 12", "F", 25, 100.0, "2024-01-02 10:00:00"),
        (2, "2024-01-02", "小米 手机 pro", "M", 35, 50.0, "2024-01-02 11:00:00"),
        (3, "2024-01-02", "苹果 手机", "F", 18, 70.0, "2024-01-02 12:00:00"),
        (4, "2024-01-02", "小米 电视", "F", 25, 30.0, "2024-01-02 13:00:00"),
        (5, "2024-01-01", "小米 手机 12", "F", 25, 999.0, "2024-01-01 10:00:00"),
    ]
    return spark.createDataFrame(
        rows,
        "detail_id long, dt string, sku_name string, user_gender string, "
        "user_age int, split_total_amount double, create_time string",
    )


def test_dau_realtime_contract(dau_table):
    out = dau_realtime_json(dau_table, "2024-01-02")
    assert out == {
        "dauTotal": 3,
        "dauTd": {"01": 2, "09": 1},
        "dauYd": {"10": 1, "23": 1},
    }


def test_dau_realtime_missing_partition(dau_table):
    """Reference warns on a missing daily index and returns 0
    (PublisherMapperImpl.java:61-63); rebuild returns empty buckets."""
    out = dau_realtime_json(dau_table, "2030-12-31")
    assert out == {"dauTotal": 0, "dauTd": {}, "dauYd": {}}


def test_stats_by_item_gender_and_age(wide_table):
    """A4+A6: AND-match '小米 手机' hits rows 1-2 only (row 4 lacks 手机,
    row 3 lacks 小米, row 5 is the other date)."""
    by_gender = stats_by_item_json(wide_table, "小米 手机", "2024-01-02", "gender")
    assert by_gender == [{"name": "女", "value": 100.0}, {"name": "男", "value": 50.0}]
    by_age = stats_by_item_json(wide_table, "小米 手机", "2024-01-02", "age")
    assert by_age == [
        {"name": "20岁到29岁", "value": 100.0},
        {"name": "30岁及30岁以上", "value": 50.0},
    ]


def test_stats_by_item_no_match(wide_table):
    assert stats_by_item_json(wide_table, "不存在 产品", "2024-01-02", "gender") == []


def test_stats_by_item_bad_t(wide_table):
    with pytest.raises(ValueError):
        stats_by_item_json(wide_table, "小米", "2024-01-02", "city")


def test_detail_by_item_paging_and_highlight(wide_table):
    out = detail_by_item_json(wide_table, "2024-01-02", "小米", page_no=1, page_size=2)
    assert out["total"] == 3  # rows 1, 2, 4 match 小米 on the date
    # deterministic order: create_time desc -> row 4 (13:00) then row 2 (11:00)
    assert [d["detail_id"] for d in out["detail"]] == [4, 2]
    assert "<em>小米</em>" in out["detail"][0]["sku_name"]
    # page past the end (reference: from beyond hits -> empty page)
    out2 = detail_by_item_json(wide_table, "2024-01-02", "小米", page_no=3, page_size=2)
    assert out2["total"] == 3 and out2["detail"] == []


# --- HTTP façade: the reference's REST routes end to end -------------------


@pytest.fixture(scope="module")
def http_base(dau_table, wide_table):
    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )

    server = publisher_server(dau_table, wide_table)
    serve_in_background(server)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()
    server.server_close()


def _get(url: str):
    import json
    from urllib.request import urlopen
    from urllib.error import HTTPError

    try:
        with urlopen(url) as resp:
            return resp.status, json.loads(resp.read().decode("utf-8"))
    except HTTPError as e:
        return e.code, json.loads(e.read().decode("utf-8"))


def test_http_dau_realtime(http_base):
    """GET /dauRealtime?td= (PublisherController.java:26-33) returns the
    same shape the Vue dashboard consumes."""
    status, out = _get(f"{http_base}/dauRealtime?td=2024-01-02")
    assert status == 200
    assert out == {
        "dauTotal": 3,
        "dauTd": {"01": 2, "09": 1},
        "dauYd": {"10": 1, "23": 1},
    }


def test_http_stats_by_item(http_base):
    """GET /statsByItem?itemName=&date=&t= (PublisherController.java:36-42);
    UTF-8 query params and Chinese bucket labels round-trip."""
    from urllib.parse import quote

    q = quote("小米 手机")
    status, out = _get(f"{http_base}/statsByItem?itemName={q}&date=2024-01-02&t=gender")
    assert status == 200
    assert out == [{"name": "女", "value": 100.0}, {"name": "男", "value": 50.0}]


def test_http_detail_by_item(http_base):
    """GET /detailByItem?date=&itemName=&pageNo=&pageSize=
    (PublisherController.java:44-58): {total, detail} with highlight."""
    from urllib.parse import quote

    q = quote("小米")
    status, out = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}&pageNo=1&pageSize=2"
    )
    assert status == 200
    assert out["total"] == 3
    assert [d["detail_id"] for d in out["detail"]] == [4, 2]
    assert "<em>小米</em>" in out["detail"][0]["sku_name"]


def test_http_errors(http_base):
    """Missing required param and bad t are 400s with a JSON error body;
    unknown route is 404 (documented fix vs the reference's 500)."""
    status, out = _get(f"{http_base}/dauRealtime")
    assert status == 400 and "td" in out["error"]
    status, out = _get(f"{http_base}/statsByItem?itemName=x&date=2024-01-02&t=city")
    assert status == 400 and "gender" in out["error"]
    status, _ = _get(f"{http_base}/nope")
    assert status == 404


def test_raising_log_handler_keeps_the_status(http_base):
    """The request line is logged after the response is written, so a
    logging handler that raises on every record cannot turn a request
    into a dropped connection."""
    import logging

    class Raising(logging.Handler):
        def emit(self, record):
            raise RuntimeError("log sink down")

    log = logging.getLogger("sparkstreaming_realtime_project_spark.http_api")
    handler, level = Raising(), log.level
    log.addHandler(handler)
    log.setLevel(logging.INFO)
    try:
        status, out = _get(f"{http_base}/dauRealtime?td=2024-01-02")
        assert status == 200 and out["dauTotal"] == 3
        status, out = _get(f"{http_base}/dauRealtime")
        assert status == 400 and "td" in out["error"]
    finally:
        log.removeHandler(handler)
        log.setLevel(level)


def _serve_once(dau, wide, path: str):
    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )

    server = publisher_server(dau, wide)
    serve_in_background(server)
    host, port = server.server_address
    try:
        return _get(f"http://{host}:{port}{path}")
    finally:
        server.shutdown()
        server.server_close()


def test_http_failure_is_a_500_with_json_body(dau_table):
    """A request that fails for any reason other than a bad parameter
    still gets a status and a JSON body, not a dropped connection."""

    def broken():
        raise RuntimeError("sink unavailable")

    status, out = _serve_once(
        dau_table, broken, "/statsByItem?itemName=x&date=2024-01-02&t=age"
    )
    assert status == 500
    assert "sink unavailable" in out["error"]


def test_http_serves_date_columns_as_iso_strings(dau_table, wide_table):
    """A wide frame carrying a DATE column (the order-wide sink read back
    with its ``create_date`` partition) serves as ISO strings."""
    from urllib.parse import quote

    wide = wide_table.withColumn("create_date", wide_table.dt.cast("date"))
    status, out = _serve_once(
        dau_table, wide, f"/detailByItem?date=2024-01-02&itemName={quote('小米')}&pageSize=2"
    )
    assert status == 200
    assert out["total"] == 3
    assert {d["create_date"] for d in out["detail"]} == {"2024-01-02"}


def test_sink_providers_serve_a_compacted_dau_sink(spark, dau_table, tmp_path):
    """A dau sink compacted into ``gen=0`` with a later ``batch=2`` beside
    it (two partition layouts that one plain parquet read of the
    directory rejects) answers /dauRealtime with all three batches' rows."""
    from sparkstreaming_realtime_project_spark.http_api import sink_providers
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        compact_sink,
        idempotent_partitioned_writer,
    )

    out = str(tmp_path / "dau")
    write = idempotent_partitioned_writer(out, ["mid", "dt"], "dt")
    rows = dau_table.collect()
    for batch_id, batch in enumerate([rows[:2], rows[2:4]]):
        write(spark.createDataFrame(batch, dau_table.schema), batch_id)
    compact_sink(spark, out, ["mid", "dt"])
    write(spark.createDataFrame(rows[4:], dau_table.schema), 2)
    assert {"gen=0", "batch=2"} <= set(os.listdir(out))

    dau, wide = sink_providers(spark, out, str(tmp_path / "wide"))
    status, body = _serve_once(dau, wide, "/dauRealtime?td=2024-01-02")
    assert status == 200
    assert body == {
        "dauTotal": 3,
        "dauTd": {"01": 2, "09": 1},  # batches 0 and 1, from gen=0
        "dauYd": {"10": 1, "23": 1},  # m4 at 23 is batch=2's only row
    }


def test_dau_realtime_is_one_action_on_a_date_typed_sink(spark, dau_table, tmp_path):
    """/dauRealtime over a sink whose ``dt`` partition reads back as DATE
    runs at most 2 Spark jobs per call (one aggregate: its shuffle stage
    and its result) and answers exactly the three-query contract,
    including a day with no partition."""
    from pyspark.sql.types import DateType

    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
        read_sink,
    )

    from . import streaming_fixtures as fx

    out = str(tmp_path / "dau")
    write = idempotent_partitioned_writer(out, ["mid", "dt"], "dt")
    rows = dau_table.collect()
    write(spark.createDataFrame(rows[:3], dau_table.schema), 0)
    write(spark.createDataFrame(rows[3:], dau_table.schema), 1)
    sink = read_sink(spark, out)
    assert isinstance(sink.schema["dt"].dataType, DateType)
    for td, want in [
        ("2024-01-02", {
            "dauTotal": 3, "dauTd": {"01": 2, "09": 1},
            "dauYd": {"10": 1, "23": 1},
        }),
        ("2024-01-01", {"dauTotal": 2, "dauTd": {"10": 1, "23": 1}, "dauYd": {}}),
        ("2030-12-31", {"dauTotal": 0, "dauTd": {}, "dauYd": {}}),
    ]:
        got, jobs = fx.count_jobs(spark, lambda: dau_realtime_json(sink, td))
        assert got == want, td
        assert jobs <= 2, (td, jobs)


def test_sink_providers_serve_stats_by_item_from_order_wide_sink(
    spark, wide_table, tmp_path
):
    """The order-wide sink is partitioned by ``create_date``; the wide
    provider exposes it as the string ``dt`` the publisher plans filter
    on, so /statsByItem resolves."""
    from urllib.parse import quote

    from sparkstreaming_realtime_project_spark.http_api import sink_providers
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
    )

    out = str(tmp_path / "wide")
    idempotent_partitioned_writer(out, ["detail_id"], "create_date")(
        wide_table.withColumnRenamed("dt", "create_date"), 0
    )
    dau, wide = sink_providers(spark, str(tmp_path / "dau"), out)
    item = quote("小米 手机")
    status, body = _serve_once(
        dau, wide, f"/statsByItem?itemName={item}&date=2024-01-02&t=gender"
    )
    assert status == 200
    assert body == [{"name": "女", "value": 100.0}, {"name": "男", "value": 50.0}]


def test_http_reflects_live_streaming_sink(spark, tmp_path):
    """The provider contract end to end against the REAL streaming sink
    (http_api.py:12-15 claim): start the dau pipeline in availableNow
    mode, serve read_sink via the HTTP façade, then land MORE source
    files and replay — the SAME running server must reflect the second
    run's committed state on its next request (the analog of the
    reference's Spring app querying live daily ES indices)."""
    import json as _json

    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )
    from sparkstreaming_realtime_project_spark.sources.streams import text_stream
    from sparkstreaming_realtime_project_spark.streaming.pipelines import dau_pipeline
    from sparkstreaming_realtime_project_spark.streaming.sinks import read_sink
    from pyspark.sql import functions as F

    from . import streaming_fixtures as fx

    in_dir, out, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    fx.write_log_fixture(in_dir)
    dim_user, dim_province = fx.dim_frames(spark)

    def run_pipeline():
        writer = dau_pipeline(
            text_stream(spark, in_dir, max_files_per_trigger=1),
            dim_user,
            dim_province,
            out,
            ckpt,
            as_of=F.lit("2024-06-01"),
        )
        q = writer.trigger(availableNow=True).start()
        assert q.awaitTermination(120)

    run_pipeline()
    server = publisher_server(lambda: read_sink(spark, out), lambda: read_sink(spark, out))
    serve_in_background(server)
    host, port = server.server_address
    base = f"http://{host}:{port}"
    try:
        status, out1 = _get(f"{base}/dauRealtime?td=2024-01-02")
        assert status == 200
        assert out1["dauTotal"] == 1  # m2 is day-2's only active
        assert sum(out1["dauYd"].values()) == 2  # day-1: m1 + m5

        # land a third source file: a NEW device entering on day 2 plus a
        # cross-run duplicate of m2 (checkpoint state must still drop it)
        extra = [
            fx.log_row("m7", fx.D2_09 + 5000, uid="7", ar="11", page_id="home"),
            fx.log_row("m2", fx.D2_09 + 6000, uid="2", ar="12", page_id="home"),
        ]
        import os as _os

        path = _os.path.join(in_dir, "batch-002.json")
        with open(path, "w") as f:
            f.write("\n".join(extra) + "\n")
        run_pipeline()  # same checkpoint: replay picks up only the new file

        status, out2 = _get(f"{base}/dauRealtime?td=2024-01-02")
        assert status == 200
        assert out2["dauTotal"] == 2  # m2 + m7: provider re-read the sink
        assert out2["dauTd"].get("09") == 1  # m7's hour bucket
        assert sum(out2["dauYd"].values()) == 2  # day-1 untouched
    finally:
        server.shutdown()
        server.server_close()


def test_cjk_query_matches_unspaced_sku(wide_table, spark):
    """ES's standard analyzer tokenizes CJK one character per token
    (PublisherMapperImpl.java:143), so dashboard query 小米手机 must hit
    sku 小米11手机 even with NO whitespace — the round-9 divergence. The
    highlight wraps each maximal run of matched characters."""
    rows = [
        (1, "2024-01-02", "小米11手机", "F", 25, 100.0, "2024-01-02 10:00:00"),
        (2, "2024-01-02", "华为手机", "M", 35, 50.0, "2024-01-02 11:00:00"),
        (3, "2024-01-02", "小米平板", "F", 18, 70.0, "2024-01-02 12:00:00"),
        (4, "2024-01-02", "xiaomi 手机", "M", 40, 20.0, "2024-01-02 13:00:00"),
    ]
    wide = spark.createDataFrame(rows, wide_table.schema)
    out = detail_by_item_json(wide, "2024-01-02", "小米手机")
    # AND semantics: all four query chars must appear — only sku 1
    assert out["total"] == 1
    assert out["detail"][0]["detail_id"] == 1
    assert out["detail"][0]["sku_name"] == "<em>小米</em>11<em>手机</em>"
    # mixed Latin+CJK query: latin token whole-word, CJK per character
    out2 = detail_by_item_json(wide, "2024-01-02", "xiaomi 手机")
    assert out2["total"] == 1
    assert out2["detail"][0]["sku_name"] == "<em>xiaomi</em> <em>手机</em>"
    # stats route under the same analyzer
    stats = stats_by_item_json(wide, "小米手机", "2024-01-02", "gender")
    assert stats == [{"name": "女", "value": 100.0}]


def test_http_detail_keyset_walk(http_base):
    """GET /detailByItem with afterTime+afterId (the search_after param
    pair): page 2 via cursor equals page 2 via offset, and the response
    carries the next cursor + no total (track_total_hits=false idiom)."""
    from urllib.parse import quote

    q = quote("小米")
    _, p1 = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}&afterTime=&afterId=&pageSize=2"
    )
    assert [d["detail_id"] for d in p1["detail"]] == [4, 2]
    assert p1["last"] == {"create_time": "2024-01-02 11:00:00", "detail_id": 2}
    assert "total" not in p1
    at = quote(p1["last"]["create_time"])
    status, p2 = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}"
        f"&afterTime={at}&afterId={p1['last']['detail_id']}&pageSize=2"
    )
    assert status == 200
    _, off2 = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}&pageNo=2&pageSize=2"
    )
    assert [d["detail_id"] for d in p2["detail"]] == [
        d["detail_id"] for d in off2["detail"]
    ] == [1]
    assert p2["last"] == {"create_time": "2024-01-02 10:00:00", "detail_id": 1}
    # past the end: empty page, null cursor
    _, p3 = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}"
        f"&afterTime={quote(p2['last']['create_time'])}&afterId=1&pageSize=2"
    )
    assert p3 == {"detail": [], "last": None}


def test_http_detail_keyset_error_contracts(http_base):
    """Half cursors and non-numeric afterId are CLIENT faults: 400 with
    a JSON error body, never a dead handler thread; empty optional
    params keep their defaults instead of failing int('')."""
    from urllib.parse import quote

    q = quote("小米")
    at = quote("2024-01-02 11:00:00")
    # half cursor (afterTime without afterId)
    status, out = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}&afterTime={at}"
    )
    assert status == 400 and "together" in out["error"]
    # non-numeric afterId against the numeric detail_id column
    status, out = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}"
        f"&afterTime={at}&afterId=abc"
    )
    assert status == 400 and "afterId" in out["error"]
    # empty optional param falls back to its default (offset mode)
    status, out = _get(
        f"{http_base}/detailByItem?date=2024-01-02&itemName={q}&pageSize="
    )
    assert status == 200 and out["total"] == 3


def test_keyset_full_walk_reconstructs_total_order(wide_table, spark):
    """Walking keyset pages to exhaustion must reproduce EXACTLY the
    full (create_time DESC, detail_id ASC) match sequence — no row
    duplicated, none skipped — including across tied create_times."""
    from sparkstreaming_realtime_project_spark.plans.serving import (
        detail_by_item_keyset,
    )
    from pyspark.sql import functions as F

    full = [
        (r.create_time, r.detail_id)
        for r in wide_table.filter(
            (F.col("dt") == "2024-01-02") & F.col("sku_name").contains("小米")
        )
        .orderBy(F.col("create_time").desc(), "detail_id")
        .collect()
    ]
    walked, cursor = [], None
    for _ in range(10):  # bounded: 3 matches / page_size 1 -> 3 pages
        rows = detail_by_item_keyset(
            wide_table, "2024-01-02", "小米", after=cursor, page_size=1
        ).collect()
        if not rows:
            break
        walked.extend((r.create_time, r.detail_id) for r in rows)
        cursor = (rows[-1].create_time, rows[-1].detail_id)
    assert walked == full and len(walked) == 3


def test_stats_by_item_runs_two_jobs(spark, wide_table):
    """One /statsByItem aggregate is one shuffle: its map stage and its
    result, no range-partition sampling job for a global sort (the
    buckets are ordered driver-side)."""
    from . import streaming_fixtures as fx

    got, jobs = fx.count_jobs(
        spark, lambda: stats_by_item_json(wide_table, "小米", "2024-01-02", "age")
    )
    assert got == [
        {"name": "20岁到29岁", "value": 130.0},
        {"name": "30岁及30岁以上", "value": 50.0},
    ]
    assert jobs <= 2, jobs


# --- serving cache: the server's per-date slices ----------------------------


def _write_sinks(spark, root, dau_table, wide_table):
    """A dau sink (``dt`` reads back as DATE) and an order-wide sink
    (partitioned by ``create_date``), two batches each."""
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
    )

    dau_dir, wide_dir = str(root / "dau"), str(root / "wide")
    dau_w = idempotent_partitioned_writer(dau_dir, ["mid", "dt"], "dt")
    wide_w = idempotent_partitioned_writer(wide_dir, ["detail_id"], "create_date")
    rows = dau_table.collect()
    dau_w(spark.createDataFrame(rows[:3], dau_table.schema), 0)
    dau_w(spark.createDataFrame(rows[3:], dau_table.schema), 1)
    wide = wide_table.withColumnRenamed("dt", "create_date")
    wide_w(wide.filter("detail_id <= 3"), 0)
    wide_w(wide.filter("detail_id > 3"), 1)
    return dau_dir, wide_dir


def _wide_frame(df, dt_type: str):
    from pyspark.sql import functions as F

    if dt_type == "date":
        return df.withColumnRenamed("create_date", "dt")
    return df.withColumn("dt", F.col("create_date").cast("string"))


def _paths(valid: bool) -> list[str]:
    from urllib.parse import quote

    pair, one = quote("小米 手机"), quote("小米")
    cursor = quote("2024-01-02 11:00:00")
    if valid:
        return [
            "/dauRealtime?td=2024-01-02",
            "/dauRealtime?td=2024-01-01",
            "/dauRealtime?td=2030-12-31",
            f"/statsByItem?itemName={pair}&date=2024-01-02&t=gender",
            f"/statsByItem?itemName={one}&date=2024-01-01&t=age",
            f"/detailByItem?date=2024-01-02&itemName={one}&pageNo=1&pageSize=2",
            f"/detailByItem?date=2024-01-02&itemName={one}&pageNo=2&pageSize=2",
            f"/detailByItem?date=2024-01-01&itemName={one}",
            f"/detailByItem?date=2024-01-02&itemName={one}&afterTime=&afterId=&pageSize=2",
            f"/detailByItem?date=2024-01-02&itemName={one}&afterTime={cursor}&afterId=2",
        ]
    return [
        "/dauRealtime?td=2024-1-2",  # Spark's date cast accepts it
        "/dauRealtime?td=abc",
        "/dauRealtime",
        f"/statsByItem?itemName={one}&date=abc&t=age",
        f"/statsByItem?itemName={one}&date=abc&t=city",  # bad t wins
        f"/statsByItem?itemName={one}&date=2024-01-02&t=city",
        "/statsByItem?date=2024-01-02&t=age",
        f"/detailByItem?date=abc&itemName={one}",
        f"/detailByItem?date=abc&itemName={one}&pageNo=x",
        f"/detailByItem?date=2024-01-02&itemName={one}&pageNo=0",
        f"/detailByItem?date=2024-01-02&itemName={one}&afterTime={cursor}",
        f"/detailByItem?date=abc&itemName={one}&afterTime={cursor}&afterId=y",
        "/detailByItem?itemName=x",
        "/nope",
    ]


def _answers(base: str, paths: list[str]) -> list:
    """(status, body) per path; a 500 keeps its message's first line
    (the rest quotes the plan, whose expression ids differ per call)."""
    out = []
    for p in paths:
        status, body = _get(base + p)
        out.append((p, status, body["error"].splitlines()[0] if status == 500 else body))
    return out


def _uncached_answers(monkeypatch, spark, dau_dir, wide_dir, dt_type, paths):
    """The same routes with slicing switched off, over a fresh read of
    each sink per request (a fresh read is a new relation, so Spark's
    cache lookup cannot substitute the other server's slices into it)."""
    from sparkstreaming_realtime_project_spark import http_api
    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )
    from sparkstreaming_realtime_project_spark.streaming import sinks

    with monkeypatch.context() as m:
        m.setattr(http_api._Slices, "get", lambda self, *_: (None, "miss"))
        server = publisher_server(
            lambda: sinks._read_committed(spark, dau_dir),
            lambda: _wide_frame(sinks._read_committed(spark, wide_dir), dt_type),
        )
        serve_in_background(server)
        host, port = server.server_address
        try:
            return _answers(f"http://{host}:{port}", paths)
        finally:
            server.shutdown()
            server.server_close()


def _cached_server(spark, dau_dir, wide_dir, dt_type):
    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
        sink_providers,
    )
    from sparkstreaming_realtime_project_spark.streaming.sinks import read_sink

    dau, wide = sink_providers(spark, dau_dir, wide_dir)
    if dt_type == "date":
        wide = lambda: _wide_frame(read_sink(spark, wide_dir), "date")  # noqa: E731
    server = publisher_server(dau, wide)
    serve_in_background(server)
    host, port = server.server_address
    return server, f"http://{host}:{port}"


@pytest.mark.parametrize("dt_type", ["string", "date"])
def test_slices_answer_like_the_uncached_routes(
    spark, dau_table, wide_table, tmp_path, monkeypatch, dt_type
):
    """Every route, its 400s and 500s included, answers from the slices
    exactly what it answers with slicing off — uncached, filling and
    warm, with the wide ``dt`` a string and a DATE (a malformed date
    fails the DATE cast; when ``t`` is bad too, the 400 still wins)."""
    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    paths = _paths(True) + _paths(False)
    want = _uncached_answers(monkeypatch, spark, dau_dir, wide_dir, dt_type, paths)
    assert [a[1] for a in want].count(500) >= 2  # the malformed dates
    server, base = _cached_server(spark, dau_dir, wide_dir, dt_type)
    try:
        assert _answers(base, paths) == want  # first asks: uncached
        assert _answers(base, paths) == want  # second: cut and fill the slices
        assert _answers(base, paths) == want  # warm: serves them
    finally:
        server.shutdown()
        server.server_close()


def test_slices_follow_commits(spark, dau_table, wide_table, tmp_path, monkeypatch):
    """A running server answers like the uncached routes after a new
    batch commits, after a batch is rewritten in place behind Spark's
    back (a replay by another process: same dirs, new files) and after
    ``compact_sink``."""
    import shutil

    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        compact_sink,
        idempotent_partitioned_writer,
    )

    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    paths = _paths(True)[::2]  # dau td, dau no-day, stats, offset p2, keyset

    def want():
        return _uncached_answers(monkeypatch, spark, dau_dir, wide_dir, "string", paths)

    server, base = _cached_server(spark, dau_dir, wide_dir, "string")

    def served():
        """The routes asked three times (uncached, fill, hit)."""
        got = [_answers(base, paths) for _ in range(3)]
        assert got[1] == got[0] and got[2] == got[0]
        return got[0]

    try:
        assert served() == want()
        # a new batch: m5 active on 2024-01-02, a new 小米 order
        idempotent_partitioned_writer(dau_dir, ["mid", "dt"], "dt")(
            spark.createDataFrame([("m5", "2024-01-02", "02")], dau_table.schema), 2
        )
        idempotent_partitioned_writer(wide_dir, ["detail_id"], "create_date")(
            spark.createDataFrame(
                [(6, "2024-01-02", "小米 手机 9", "M", 19, 9.0, "2024-01-02 14:00:00")],
                wide_table.schema,
            ).withColumnRenamed("dt", "create_date"),
            2,
        )
        after_batch = served()
        assert after_batch == want() and after_batch[0][2]["dauTotal"] == 4
        # batch 2 rewritten in place with other rows, written elsewhere
        # and moved in (Spark never sees a write to the sink's paths)
        side = str(tmp_path / "side")
        idempotent_partitioned_writer(side, ["mid", "dt"], "dt")(
            spark.createDataFrame(
                [("m6", "2024-01-02", "03"), ("m7", "2024-01-02", "03")],
                dau_table.schema,
            ),
            2,
        )
        shutil.rmtree(f"{dau_dir}/batch=2")
        shutil.move(f"{side}/batch=2", f"{dau_dir}/batch=2")
        after_replay = served()
        assert after_replay == want() and after_replay[0][2]["dauTd"]["03"] == 2
        compact_sink(spark, dau_dir, ["mid", "dt"])
        compact_sink(spark, wide_dir, ["detail_id"], partition_col="create_date")
        assert served() == want()
    finally:
        server.shutdown()
        server.server_close()


def _executions_after(spark, last: int) -> list:
    status = spark._jsparkSession.sharedState().statusStore()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    lst = status.executionsList(max(0, status.executionsCount() - 16), 16)
    return [lst.apply(i) for i in range(lst.size()) if lst.apply(i).executionId() > last]


def _last_execution(spark) -> int:
    ex = _executions_after(spark, -1)
    return ex[-1].executionId() if ex else -1


def test_repeated_request_reads_the_cached_slice(spark, dau_table, wide_table, tmp_path):
    """Once the slice is cut (on the second request for its day), a
    repeated request's executed plans scan the slice's InMemoryRelation;
    none of them scans a parquet file."""
    from urllib.parse import quote

    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    server, base = _cached_server(spark, dau_dir, wide_dir, "string")
    path = f"/statsByItem?itemName={quote('小米')}&date=2024-01-02&t=age"
    try:
        assert _get(base + path)[0] == 200
        assert _get(base + path)[0] == 200
        last = _last_execution(spark)
        assert _get(base + path)[0] == 200
        plans = [e.physicalPlanDescription() for e in _executions_after(spark, last)]
    finally:
        server.shutdown()
        server.server_close()
    assert plans
    for plan in plans:
        top = plan.split("InMemoryRelation")[0]  # the cached plan is quoted below it
        assert "InMemoryTableScan" in top and "FileScan" not in top, plan


def _persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _held(server) -> list[tuple[str, str]]:
    """(provider, day) of every slice the server holds."""
    return sorted(
        (name, day) for name, (_, days) in server.slices._held.items() for day in days
    )


def test_concurrent_cold_requests_cut_one_slice_per_date(
    spark, dau_table, wide_table, tmp_path
):
    """Requests racing on a cold server (twice as many threads as cores,
    a short switch interval, two dates) leave exactly one cached slice
    per date."""
    import sys
    import threading
    from urllib.parse import quote

    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    server, base = _cached_server(spark, dau_dir, wide_dir, "string")
    before = _persistent_rdds(spark)
    n = 2 * max(2, os.cpu_count() or 2)
    gate, got = threading.Barrier(n), []

    def request(i):
        date = ("2024-01-01", "2024-01-02")[i % 2]
        gate.wait()
        got.append(_get(f"{base}/statsByItem?itemName={quote('小米')}&date={date}&t=age"))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=request, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    try:
        assert sorted(s for s, _ in got) == [200] * n
        assert _held(server) == [("wide", "2024-01-01"), ("wide", "2024-01-02")]
        assert _persistent_rdds(spark) == before + 2
    finally:
        server.shutdown()
        server.server_close()


def test_server_close_releases_its_slices(spark, dau_table, wide_table, tmp_path):
    """``server_close()`` brings the context's persistent-RDD count back
    to where it was before the server cached anything."""
    from urllib.parse import quote

    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    before = _persistent_rdds(spark)
    server, base = _cached_server(spark, dau_dir, wide_dir, "string")
    for p in [
        "/dauRealtime?td=2024-01-02",
        f"/statsByItem?itemName={quote('小米')}&date=2024-01-02&t=age",
        f"/detailByItem?date=2024-01-01&itemName={quote('小米')}",
    ] * 2:
        assert _get(base + p)[0] == 200
    assert _persistent_rdds(spark) == before + 3
    server.shutdown()
    server.server_close()
    assert _persistent_rdds(spark) == before


def test_request_log_line(spark, dau_table, wide_table, caplog):
    """One INFO line per request: route, status, ms and the slice state."""
    import logging
    import re
    import time

    from sparkstreaming_realtime_project_spark.http_api import (
        publisher_server,
        serve_in_background,
    )

    def lines():
        return [r.getMessage() for r in caplog.records if r.name.endswith("http_api")]

    wide = wide_table.withColumn("n", wide_table.detail_id)  # a frame no other test sliced
    with caplog.at_level(logging.INFO, logger="sparkstreaming_realtime_project_spark.http_api"):
        server = publisher_server(dau_table, wide)
        serve_in_background(server)
        host, port = server.server_address
        try:
            paths = ["/detailByItem?date=2024-01-02&itemName=x"] * 3 + ["/nope", "/dauRealtime"]
            for i, p in enumerate(paths, 1):
                _get(f"http://{host}:{port}{p}")
                # the line is logged just after the response is written
                deadline = time.monotonic() + 10
                while len(lines()) < i and time.monotonic() < deadline:
                    time.sleep(0.01)
        finally:
            server.shutdown()
            server.server_close()
    assert len(lines()) == 5, lines()
    pat = r"^(/\w+) (\d+) \d+\.\d ms slice=(\S+)$"
    assert [re.match(pat, x).groups() for x in lines()] == [
        ("/detailByItem", "200", "miss"),
        ("/detailByItem", "200", "fill"),
        ("/detailByItem", "200", "hit"),
        ("/nope", "404", "-"),
        ("/dauRealtime", "400", "-"),
    ]


def test_slices_stay_bounded(spark, dau_table, wide_table, tmp_path):
    """Many distinct dates (made-up ones included) keep at most
    ``_DAYS_KEPT`` slices per provider, and after a commit, requests for
    one date leave only that date's slice of the new snapshot: every
    slice of the old one is released, not just the one asked for again."""
    from urllib.parse import quote

    from sparkstreaming_realtime_project_spark.http_api import _DAYS_KEPT
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
    )

    dau_dir, wide_dir = _write_sinks(spark, tmp_path, dau_table, wide_table)
    before = _persistent_rdds(spark)
    server, base = _cached_server(spark, dau_dir, wide_dir, "string")
    stats = f"{base}/statsByItem?itemName={quote('小米')}&t=age&date="
    try:
        dates = [f"2024-02-{d:02d}" for d in range(1, _DAYS_KEPT + 3)] + ["abc"]
        for date in ["2024-01-01", "2024-01-02", *dates]:
            assert _get(stats + date)[0] == 200  # uncached
            assert _get(stats + date)[0] == 200  # cuts the slice
        assert _held(server) == sorted(("wide", d) for d in dates[-_DAYS_KEPT:])
        assert _persistent_rdds(spark) == before + _DAYS_KEPT
        idempotent_partitioned_writer(wide_dir, ["detail_id"], "create_date")(
            spark.createDataFrame(
                [(6, "2024-01-02", "小米 手机 9", "M", 19, 9.0, "2024-01-02 14:00:00")],
                wide_table.schema,
            ).withColumnRenamed("dt", "create_date"),
            2,
        )
        for _ in range(3):
            status, body = _get(stats + "2024-01-02")
            assert status == 200 and sum(b["value"] for b in body) == 180.0 + 9.0
        assert _held(server) == [("wide", "2024-01-02")]
        assert _persistent_rdds(spark) == before + 1
        held = [s for _, days in server.slices._held.values() for s in days.values()]
        assert all(s.users == 0 for s in held if s is not None)
    finally:
        server.shutdown()
        server.server_close()
    assert _persistent_rdds(spark) == before


def test_dropped_slice_outlives_its_last_user(spark, wide_table):
    """A slice dropped while a request still uses it (a commit landed
    mid-request) stays cached until that request is done, then is
    unpersisted; nothing is left for Spark's cleaner."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_project_spark.http_api import _Slices
    from sparkstreaming_realtime_project_spark.plans.serving import on_date

    old, new = (wide_table.withColumn("snap", F.lit(n)) for n in (1, 2))
    slices = _Slices()
    assert slices.get("wide", old, "2024-01-02", on_date) == (None, "miss")
    a, state = slices.get("wide", old, "2024-01-02", on_date)
    assert state == "fill" and a.users == 1
    assert a.frame.count() == 4  # the request's action fills the slice
    assert slices.get("wide", new, "2024-01-02", on_date) == (None, "miss")  # a commit
    assert a.retired
    assert a.frame.storageLevel == StorageLevel.MEMORY_AND_DISK  # still in use
    slices.done(a)
    assert a.frame.storageLevel == StorageLevel.NONE
    b, state = slices.get("wide", new, "2024-01-02", on_date)
    again, state2 = slices.get("wide", new, "2024-01-02", on_date)
    assert (state, state2) == ("fill", "hit") and again is b and b.users == 2
    slices.release()  # the server closes with b in use
    assert b.frame.storageLevel == StorageLevel.MEMORY_AND_DISK
    slices.done(b)
    slices.done(b)
    assert b.frame.storageLevel == StorageLevel.NONE
