"""End-to-end streaming pipeline tests (SURVEY §5): replay FIXTURES.md
§1-4 shaped inputs through each of the four pipelines with file sources +
``availableNow``, assert sink contents as SETS against hand-computed
golden outputs, plus a kill/restart exactly-once test (O4) and the K7
observe() metric.

One fixture file = one micro-batch (maxFilesPerTrigger=1), so cross-batch
semantics — dedup state (O1), join buffering (J4/O5), dim upsert races
(K5) — are genuinely exercised, not just the within-batch shapes.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from sparkstreaming_realtime_project_spark.operators.cdc import (
    decode_op,
    parse_cdc,
    route_facts,
)
from sparkstreaming_realtime_project_spark.schemas import (
    ORDER_DETAIL_SCHEMA,
    ORDER_INFO_SCHEMA,
)
from sparkstreaming_realtime_project_spark.sources.streams import (
    file_stream,
    text_stream,
)
from sparkstreaming_realtime_project_spark.streaming.pipelines import (
    cdc_route_pipeline,
    dau_pipeline,
    log_split_pipeline,
    order_wide_pipeline,
)
from sparkstreaming_realtime_project_spark.streaming.sinks import (
    compact_sink,
    current_dims,
    kafka_frame,
    merge_into,
    read_sink,
)

from . import streaming_fixtures as fx


@pytest.fixture(scope="module", autouse=True)
def _release_dim_caches(spark):
    """The pipelines persist their dim sides until the caller releases
    them (operators/enrich.py); this module's queries are the callers, so
    the cache leaves with the module instead of pinning later modules."""
    yield
    spark.catalog.clearCache()


@pytest.fixture
def cli(spark):
    """The launcher's ``main``. It calls ``get_spark``, which leaves the
    shared test session's confs and app name as they are."""
    from sparkstreaming_realtime_project_spark.__main__ import main

    return main


def as_of():
    return F.lit("2024-06-01")


def run_to_completion(writer, timeout=120):
    q = writer.trigger(availableNow=True).start()
    assert q.awaitTermination(timeout), "stream did not finish in time"
    return q


# --- DwdDauApp equivalent -------------------------------------------------


@pytest.fixture(scope="module")
def dau_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dau")
    fx.write_log_fixture(str(tmp / "in"))
    dim_user, dim_province = fx.dim_frames(spark)
    out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    writer = dau_pipeline(
        text_stream(spark, str(tmp / "in"), max_files_per_trigger=1),
        dim_user,
        dim_province,
        out,
        ckpt,
        as_of=as_of(),
    )
    q = run_to_completion(writer)
    sink = read_sink(spark, out).cache()
    yield q, sink
    sink.unpersist()


def test_dau_dedup_and_filtering(dau_run):
    """O1: one row per (mid, event-date); P9 session-entry filter; err
    exclusion; late prior-day event inside watermark still counted."""
    _, sink = dau_run
    # dt is written as the partition directory; partition-column type
    # inference reads it back as DATE — normalize to the contract string.
    keys = {(r["mid"], str(r["dt"])) for r in sink.select("mid", "dt").collect()}
    assert keys == {
        ("m1", "2024-01-01"),  # deduped within and across batches
        ("m5", "2024-01-01"),  # late day-1 arrival, inside 25 h watermark
        ("m2", "2024-01-02"),  # day-2 entry; day-1 non-entry row filtered
    }
    assert sink.count() == 3  # no duplicates materialized


def test_dau_enrichment_and_derivations(dau_run):
    """J1/J2 broadcast enrichment values, F5 age at fixed as_of, F2 hr,
    left-join nulls for missing dims."""
    _, sink = dau_run
    rows = {r["mid"]: r for r in sink.collect()}
    m5, m2 = rows["m5"], rows["m2"]
    assert (m5["user_gender"], m5["user_age"]) == ("M", 53)  # 1970-11-30
    assert (m2["user_gender"], m2["user_age"]) == ("M", 36)  # 1988-01-20
    assert m5["province_name"] == "Tianjin"
    assert rows["m1"]["province_name"] == "Beijing"
    assert m5["hr"] == "12" and m2["hr"] == "01"  # cross-batch first wins
    assert rows["m1"]["user_age"] == 28  # 1995-06-15 at 2024-06-01


def test_dau_to_publisher_end_to_end(dau_run):
    """Full stack: raw behavior logs -> dau pipeline -> serving sink ->
    publisher endpoint JSON — the reference's streaming -> ES -> REST
    path (§3.1 + §3.3) in one assertion chain."""
    from sparkstreaming_realtime_project_spark.plans.publisher import (
        dau_realtime_json,
    )

    _, sink = dau_run
    out = dau_realtime_json(sink, "2024-01-02")
    assert out["dauTotal"] == 1                      # day-2 actives: m2
    assert out["dauTd"] == {"01": 1}                 # m2 at 01:xx
    assert sum(out["dauYd"].values()) == 2           # day-1: m1 + m5
    assert out["dauYd"].get("12", 0) >= 1            # m5's hour bucket


def test_dau_observed_metrics(dau_run):
    """K7: per-batch row counts via observe() in StreamingQueryProgress
    (the reference's console count probes, DwdDauApp.scala:71-74)."""
    q, sink = dau_run
    observed = [
        p.observedMetrics["dau_metrics"].rows_written
        for p in q.recentProgress
        if "dau_metrics" in (p.observedMetrics or {})
    ]
    assert sum(observed) == sink.count()


# --- OdsBaseLogApp equivalent ---------------------------------------------


@pytest.fixture(scope="module")
def split_out(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("split")
    fx.write_log_fixture(str(tmp / "in"))
    out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    writer = log_split_pipeline(
        text_stream(spark, str(tmp / "in"), max_files_per_trigger=1), out, ckpt
    )
    run_to_completion(writer)
    sinks = {
        name: read_sink(spark, os.path.join(out, name)).cache()
        for name in ("error", "page", "display", "action", "start", "corrupt")
    }
    yield sinks
    for sink in sinks.values():
        sink.unpersist()


def test_split_err_exclusive_routing(split_out):
    """P3: err-bearing records go ONLY to the error output
    (OdsBaseLogApp.scala:111-115 if/else)."""
    err_mids = {r["mid"] for r in split_out["error"].select("mid").collect()}
    assert err_mids == {"m3", "m6"}
    for name in ("page", "display", "action", "start"):
        mids = {r["mid"] for r in split_out[name].select("mid").collect()}
        assert not mids & err_mids, f"{name} leaked err-bearing records"
    # error payload is a lossless passthrough of the err object
    err0 = json.loads(split_out["error"].collect()[0]["err"])
    assert err0["error_code"] == 1023


def test_split_counts_and_fanout(split_out):
    """P5-P8 projections and explode fan-out: 1 record -> 0..(1+D+A) rows."""
    assert split_out["page"].count() == 7     # err-free page rows
    assert split_out["display"].count() == 3  # 2 (m1) + 1 (m2); m3's 3 excluded
    assert split_out["action"].count() == 1
    assert split_out["start"].count() == 1    # m4 only; m6 has err
    start = split_out["start"].collect()[0]
    assert start["mid"] == "m4" and start["entry"] == "icon"


def test_split_action_ts_override(split_out):
    """P7: per-action ts replaces the envelope ts
    (bean/PageActionLog.scala:6-27)."""
    a = split_out["action"].collect()[0]
    assert a["ts"] == a["action_ts"] == fx.D1_10 + 100


def test_split_corrupt_records_route_to_dead_letter(split_out):
    """P1 robustness: a non-JSON line and a device-id-less envelope
    appear in NO routed output (the reference would NPE/throw in the
    executor, OdsBaseLogApp.scala:69-78) — and BOTH land in the
    dead-letter output with the raw line preserved verbatim and a
    diagnosis, so ingest loss is observable and replayable."""
    total = sum(
        split_out[n].count()
        for n in ("error", "page", "display", "action", "start")
    )
    # 2 error + 7 page + 3 display + 1 action + 1 start — nothing extra
    assert total == 14
    for name in ("page", "display", "action", "start", "error"):
        assert split_out[name].filter(F.col("mid").isNull()).count() == 0
    dlq = {
        r["reason"]: r["raw_value"] for r in split_out["corrupt"].collect()
    }
    assert set(dlq) == {"malformed_json", "missing_device_id"}
    assert dlq["malformed_json"] == "{this is not json at all"
    assert json.loads(dlq["missing_device_id"]) == {"ts": fx.D2_09 + 2000}


# --- OdsBaseDbApp equivalent ----------------------------------------------


@pytest.fixture(scope="module")
def cdc_out(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("cdc")
    fx.write_cdc_fixture(str(tmp / "in"))
    out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    writer = cdc_route_pipeline(
        text_stream(spark, str(tmp / "in"), max_files_per_trigger=1),
        fact_tables=["order_info", "order_detail"],
        dim_tables=["user_info", "base_province"],
        out_root=out,
        checkpoint=ckpt,
    )
    run_to_completion(writer)
    return out


def test_cdc_fact_routing(spark, cdc_out):
    """P10/P11: op decode, unknown table/type dropped, dynamic topic names."""
    facts = spark.read.option("basePath", os.path.join(cdc_out, "facts")).parquet(
        os.path.join(cdc_out, "facts", "batch=*")
    )
    assert facts.count() == 5
    topics = {r["topic"] for r in facts.select("topic").distinct().collect()}
    assert topics == {
        "DWD_ORDER_INFO_I",
        "DWD_ORDER_INFO_U",
        "DWD_ORDER_DETAIL_I",
        "DWD_ORDER_DETAIL_D",
    }
    tables = {r["table"] for r in facts.select("table").distinct().collect()}
    assert "mystery_table" not in tables


def test_cdc_dim_last_write_wins(spark, cdc_out):
    """K5: in-batch AND cross-batch last-write-wins by ts
    (OdsBaseDbApp.scala:144-163 Redis SET semantics)."""
    batch0 = spark.read.parquet(os.path.join(cdc_out, "dims", "batch=0"))
    ann_b0 = batch0.filter(F.col("id") == "1").collect()
    assert len(ann_b0) == 1
    assert json.loads(ann_b0[0]["value"])["name"] == "ann_v2"  # ts 120 > 110

    snapshot = current_dims(spark, cdc_out)
    rows = {(r["table"], r["id"]): json.loads(r["value"]) for r in snapshot.collect()}
    assert len(rows) == 3
    assert rows[("user_info", "1")]["name"] == "ann_v3"  # ts 200 wins overall
    assert rows[("user_info", "2")]["name"] == "bob_v1"
    assert rows[("base_province", "11")]["name"] == "Beijing"  # bootstrap-insert


def test_kafka_frame_shape(spark):
    """K2/F7: the Kafka sink frame is (topic, key, value) with JSON
    serialization when the payload isn't pre-serialized
    (MyKafkaUtils.scala:98-100, OdsBaseLogApp.scala:144)."""
    decoded = decode_op(
        parse_cdc(
            spark.createDataFrame(
                [(fx.cdc_row("order_info", "insert", 1, {"id": "3001", "x": 1}),)],
                "value string",
            )
        )
    )
    routed = route_facts(decoded, ["order_info"])
    shaped = kafka_frame(routed, key_col="table")
    assert shaped.columns == ["topic", "key", "value"]
    r = shaped.collect()[0]
    assert r["topic"] == "DWD_ORDER_INFO_I" and r["key"] == "order_info"
    assert json.loads(r["value"])["id"] == "3001"  # pre-serialized passthrough

    # no value column -> to_json(struct(*)) serialization; the key field
    # stays in the value (the reference serializes the full bean incl. mid,
    # OdsBaseLogApp.scala:144) — only the routing topic column is excluded
    df = spark.createDataFrame([(5, "a", "T1")], "mid int, item string, topic string")
    shaped2 = kafka_frame(df, key_col="mid")
    r2 = shaped2.collect()[0]
    assert shaped2.columns == ["topic", "key", "value"]
    assert json.loads(r2["value"]) == {"mid": 5, "item": "a"}
    assert r2["key"] == "5"


# --- DwdOrderApp equivalent -----------------------------------------------


@pytest.fixture(scope="module")
def order_run(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("orderwide")
    fx.write_order_fixture(str(tmp / "info"), str(tmp / "detail"))
    out, ckpt = str(tmp / "out"), str(tmp / "ckpt")
    dim_user, dim_province = fx.dim_frames(spark)
    writer = order_wide_pipeline(
        file_stream(
            spark, str(tmp / "info"), ORDER_INFO_SCHEMA, max_files_per_trigger=1
        ),
        file_stream(
            spark, str(tmp / "detail"), ORDER_DETAIL_SCHEMA, max_files_per_trigger=1
        ),
        out,
        ckpt,
        dim_user=dim_user,
        dim_province=dim_province,
        as_of=as_of(),
    )
    q = run_to_completion(writer, timeout=180)
    sink = read_sink(spark, out).cache()
    yield q, sink
    sink.unpersist()


@pytest.fixture
def order_sink(order_run):
    return order_run[1]


def test_order_wide_cross_batch_join(order_sink):
    """J4/O5: late detail joins the buffered info (and vice versa —
    detail-first order buffered until its info lands); an orphan detail
    whose info never arrives is dropped (DwdOrderApp.scala:177-254)."""
    ids = {r["detail_id"] for r in order_sink.select("detail_id").collect()}
    assert ids == {9001, 9002, 9101}  # 9201's info never arrived
    assert order_sink.count() == 3


def test_order_wide_assembly(order_sink):
    """J5 + F4: OrderWide columns, create_date partition, real
    (non-midnight) create_hour from the info datetime string."""
    rows = {r["detail_id"]: r for r in order_sink.collect()}
    assert rows[9001]["order_id"] == 3001
    assert str(rows[9001]["create_date"]) == "2024-01-01"  # partition col read back as DATE
    assert rows[9001]["create_hour"] == "10"
    assert rows[9101]["create_hour"] == "11"  # info 3003 at 11:30
    assert rows[9002]["total_amount"] == 100.0
    assert rows[9002]["sku_name"] == "小米手机 12 Pro"
    # J1/J2 dim enrichment on the info side (DwdOrderApp.scala:112-146):
    # fixture orders use user_id=1 (F, 1995-06-15) in province 11 (Beijing)
    assert rows[9001]["user_gender"] == "F" and rows[9001]["user_age"] == 28
    assert rows[9001]["province_name"] == "Beijing"
    assert rows[9001]["province_iso_code"] == "CN-11"  # ref bug §2.9 fixed


# --- stream-static dim joins: build side once per query -------------------


def _counting_dims(spark):
    """The fixture dims with ``dim_user.gender`` wrapped in a Python UDF
    that counts its calls, so a test can see how often the dim source
    is evaluated."""
    acc = spark.sparkContext.accumulator(0)

    def count_gender(g):
        acc.add(1)
        return g

    dim_user, dim_province = fx.dim_frames(spark)
    gender = F.udf(count_gender, "string")
    return acc, dim_user.withColumn("gender", gender("gender")), dim_province


def test_enrich_caches_the_dim_side_until_released(spark):
    """enrich_* persist the dim projection; a freshly built
    ``user_side``/``province_side`` finds the cache entry by plan and
    releases it."""
    from pyspark import StorageLevel

    from sparkstreaming_realtime_project_spark.operators.enrich import (
        enrich_province,
        enrich_user,
        province_side,
        user_side,
    )

    _, dim_user, dim_province = _counting_dims(spark)  # plans no other test caches
    facts = spark.createDataFrame([(1, 11)], "user_id long, province_id long")
    enrich_province(enrich_user(facts, dim_user), dim_province)
    for side in (user_side(dim_user), province_side(dim_province)):
        assert side.storageLevel != StorageLevel.NONE
        side.unpersist()
    assert user_side(dim_user).storageLevel == StorageLevel.NONE
    assert province_side(dim_province).storageLevel == StorageLevel.NONE


def test_dau_dim_source_evaluated_once_per_query(spark, tmp_path):
    """The user dim is evaluated once per query, not once per trigger:
    the dau fixture drains in several triggers, but the gender UDF runs
    once per dim row."""
    acc, dim_user, dim_province = _counting_dims(spark)
    fx.write_log_fixture(str(tmp_path / "in"))
    writer = dau_pipeline(
        text_stream(spark, str(tmp_path / "in"), max_files_per_trigger=1),
        dim_user,
        dim_province,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        as_of=as_of(),
    )
    q = run_to_completion(writer)
    assert len(q.recentProgress) >= 2
    assert acc.value == len(fx.DIM_USERS)
    sink = read_sink(spark, str(tmp_path / "out"))
    genders = {r["mid"]: r["user_gender"] for r in sink.collect()}
    assert genders == {"m1": "F", "m2": "M", "m5": "M"}


def test_order_wide_dim_source_evaluated_once_per_query(spark, tmp_path):
    """Same for the order-wide app's info-side enrichment."""
    acc, dim_user, dim_province = _counting_dims(spark)
    info, detail = fx.write_order_fixture(
        str(tmp_path / "info"), str(tmp_path / "detail")
    )
    writer = order_wide_pipeline(
        file_stream(spark, info, ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, detail, ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        dim_user=dim_user,
        dim_province=dim_province,
        as_of=as_of(),
    )
    q = run_to_completion(writer, timeout=180)
    assert len(q.recentProgress) >= 2
    assert acc.value == len(fx.DIM_USERS)
    sink = read_sink(spark, str(tmp_path / "out"))
    assert {r["user_gender"] for r in sink.collect()} == {"F"}
    assert sink.count() == 3


def test_dau_dims_are_a_snapshot_and_survive_clear_cache(spark, tmp_path):
    """Pins the stream-static join's dim semantics on a running query:

    - a dim ``batch=`` dir landed after ``start()`` is never joined (the
      parquet listing is fixed when the dim DataFrame is built);
    - after ``spark.catalog.clearCache()`` later triggers are still
      enriched (the cached dim keeps its lineage and is recomputed)."""
    from sparkstreaming_realtime_project_spark.schemas import DIM_USER_INFO_SCHEMA

    dim_root = str(tmp_path / "dim_user")
    spark.createDataFrame(fx.DIM_USERS, DIM_USER_INFO_SCHEMA).write.parquet(
        os.path.join(dim_root, "batch=0")
    )
    _, dim_province = fx.dim_frames(spark)
    in_dir, out = tmp_path / "in", str(tmp_path / "out")
    os.makedirs(in_dir)

    def land(name, *rows):
        (in_dir / name).write_text("\n".join(rows) + "\n")

    def genders():
        return {r["mid"]: r["user_gender"] for r in read_sink(spark, out).collect()}

    land("b0.json", fx.log_row("m1", fx.D1_10, uid="1", ar="11", page_id="home"))
    q = dau_pipeline(
        text_stream(spark, str(in_dir)),
        spark.read.parquet(dim_root),
        dim_province,
        out,
        str(tmp_path / "ckpt"),
        as_of=as_of(),
    ).start()
    try:
        q.processAllAvailable()
        assert genders() == {"m1": "F"}

        new_user = spark.createDataFrame([(7, "F", "2000-01-01")], DIM_USER_INFO_SCHEMA)
        new_user.write.parquet(os.path.join(dim_root, "batch=1"))
        land("b1.json", fx.log_row("m7", fx.D1_10, uid="7", ar="11", page_id="home"))
        q.processAllAvailable()
        assert genders()["m7"] is None  # uid 7 exists only in batch=1

        spark.catalog.clearCache()
        land(
            "b2.json",
            fx.log_row("m2", fx.D2_01, uid="2", ar="12", page_id="home"),
            fx.log_row("m8", fx.D2_01, uid="7", ar="12", page_id="home"),
        )
        q.processAllAvailable()
        got = genders()
        assert got["m2"] == "M"  # recomputed from the dim source
        assert got["m8"] is None  # still the listing taken at build time
    finally:
        q.stop()


def test_cdc_dynamic_config_reload(spark, tmp_path):
    """S7/O6: FACT/DIM table sets passed as a callable are re-resolved
    every micro-batch (the reference re-reads Redis SMEMBERS + re-broadcasts
    per batch, OdsBaseDbApp.scala:83-108) — a config change takes effect on
    the next batch without a restart."""
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    rows = [
        fx.cdc_row("order_info", "insert", 100, {"id": "1"}),
        fx.cdc_row("order_detail", "insert", 101, {"id": "2", "order_id": "1"}),
    ]
    for i in range(2):  # same content in both batches; only config differs
        p = in_dir / f"batch-{i:03d}.json"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (1_700_000_000 + 60 * i,) * 2)

    calls = []

    def fact_config() -> list[str]:
        calls.append(None)
        # batch 0 sees only order_info; later batches also order_detail
        return ["order_info"] if len(calls) == 1 else ["order_info", "order_detail"]

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    writer = cdc_route_pipeline(
        text_stream(spark, str(in_dir), max_files_per_trigger=1),
        fact_tables=fact_config,
        dim_tables=[],
        out_root=out,
        checkpoint=ckpt,
    )
    run_to_completion(writer)

    def topics(batch: int) -> set:
        df = spark.read.option(
            "basePath", os.path.join(out, "facts")
        ).parquet(os.path.join(out, "facts", f"batch={batch}"))
        return {r["topic"] for r in df.select("topic").distinct().collect()}

    assert topics(0) == {"DWD_ORDER_INFO_I"}
    assert topics(1) == {"DWD_ORDER_INFO_I", "DWD_ORDER_DETAIL_I"}


def test_kafka_split_frames_routing(spark, tmp_path):
    """K1+F7 on the split path: the five routed outputs become one
    (topic, key, value) frame — JSON values, mid keys, topic per branch
    (the single-sink equivalent of OdsBaseLogApp's five topic sends)."""
    from sparkstreaming_realtime_project_spark.operators.log_split import (
        parse_log,
        split_all,
    )
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        kafka_split_frames,
    )

    in_dir = tmp_path / "in"
    fx.write_log_fixture(str(in_dir))
    raw = spark.read.text(str(in_dir))
    frames = kafka_split_frames(split_all(parse_log(raw)))
    assert frames.columns == ["topic", "key", "value"]
    per_topic = {
        r["topic"]: r["n"]
        for r in frames.groupBy("topic").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # the reference's exact topic strings (OdsBaseLogApp.scala:93-97):
    # display/action do NOT follow the <NAME>_LOG_TOPIC pattern
    assert per_topic == {
        "DWD_ERROR_LOG_TOPIC": 2,
        "DWD_PAGE_LOG_TOPIC": 7,
        "DWD_PAGE_DISPLAY_TOPIC": 3,
        "DWD_PAGE_ACTION_TOPIC": 1,
        "DWD_START_LOG_TOPIC": 1,
    }
    row = frames.filter(F.col("topic") == "DWD_START_LOG_TOPIC").collect()[0]
    assert row["key"] == "m4"
    assert json.loads(row["value"])["entry"] == "icon"


def test_order_wide_watermark_evicts_state(spark, tmp_path):
    """O5 eviction: once BOTH sides' watermarks pass an order's event
    time, its buffered state is gone — a detail arriving later than the
    24 h grace never joins (the Redis TTL expiry, DwdOrderApp.scala:
    209,247). Complements the buffering test, which only proves the
    within-watermark path."""
    t0 = "2024-01-01 10:00:00"
    t_far = "2024-01-05 10:00:00"  # 96 h later: watermark sails past t0+24h
    info_dir, detail_dir = str(tmp_path / "info"), str(tmp_path / "detail")
    # state cleanup is lazy (end of batch): the watermark must advance a
    # full batch BEFORE the late row arrives for eviction to be visible
    fx._write_batches(info_dir, [
        [fx.info_row(1, t0)],
        [fx.info_row(2, t_far)],   # advances the info-side watermark
        [fx.info_row(3, t_far)],
        [fx.info_row(4, t_far)],
    ])
    fx._write_batches(detail_dir, [
        [fx.detail_row(90, 2, t_far)],  # keeps detail watermark moving too
        [fx.detail_row(91, 3, t_far)],
        [fx.detail_row(92, 4, t_far)],
        [fx.detail_row(99, 1, t0)],     # LATE: order 1's state already evicted
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    writer = order_wide_pipeline(
        file_stream(spark, info_dir, ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, detail_dir, ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        out,
        ckpt,
    )
    run_to_completion(writer, timeout=180)
    ids = {r["detail_id"] for r in read_sink(spark, out).select("detail_id").collect()}
    assert 99 not in ids  # beyond-grace detail dropped, like the expired Redis key
    assert 90 in ids      # same-batch match still emitted


def test_dau_drops_late_events_beyond_watermark(spark, tmp_path):
    """O1 bounded state: dropDuplicatesWithinWatermark FILTERS input rows
    whose event time has fallen behind the watermark (one-batch
    propagation lag), so dedup state is bounded AND a late straggler can
    never produce a duplicate DAU row — strictly stronger than the
    reference, where an event after the Redis set's TTL expiry would be
    counted again."""
    in_dir = tmp_path / "in"
    day5 = 1704448800000  # 2024-01-05 02:00:00 UTC
    fx._write_batches(str(in_dir), [
        [fx.log_row("w1", day5, uid="1", ar="11", page_id="home")],
        # filler: the watermark computed from batch 0 (day5 - 25 h)
        # reaches the input filter one batch later
        [fx.log_row("w3", day5 + 1000, uid="4", ar="11", page_id="home")],
        # 4 days behind the watermark -> dropped outright, even though
        # (w2, day1) was never seen before
        [fx.log_row("w2", fx.D1_10, uid="2", ar="12", page_id="home")],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dim_user, dim_province = fx.dim_frames(spark)
    writer = dau_pipeline(
        text_stream(spark, str(in_dir), max_files_per_trigger=1),
        dim_user, dim_province, out, ckpt, as_of=as_of(),
    )
    run_to_completion(writer)
    mids = {r["mid"] for r in read_sink(spark, out).select("mid").collect()}
    assert mids == {"w1", "w3"}  # w2's stale event never lands


def test_first_seen_custom_stateful_operator(spark, tmp_path):
    """The applyInPandasWithState extension operator reproduces O1 with a
    DETERMINISTIC winner (min event time per key) across micro-batches —
    the template for bespoke per-key state machines the built-ins can't
    express."""
    from sparkstreaming_realtime_project_spark.operators.log_split import parse_log
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        first_seen_per_key,
    )

    in_dir = tmp_path / "in"
    fx.write_log_fixture(str(in_dir))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    raw = text_stream(spark, str(in_dir), max_files_per_trigger=1)
    page = (
        parse_log(raw)
        .filter(F.col("err").isNull() & F.col("page").isNotNull())
        .select(
            F.col("common.mid").alias("mid"),
            F.col("page.last_page_id").alias("last_page_id"),
            F.timestamp_millis(F.col("ts")).alias("event_ts"),
        )
        .filter(F.col("last_page_id").isNull())
        .withColumn("dt", F.date_format("event_ts", "yyyy-MM-dd"))
        .withWatermark("event_ts", "25 hours")
    )
    firsts = first_seen_per_key(page, ["mid", "dt"], "event_ts")
    q = (
        firsts.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        (r["mid"], r["dt"], r["event_ts"].hour)
        for r in read_sink(spark, out).collect()
    }
    # deterministic winners: min event time per (mid, dt)
    assert got == {
        ("m1", "2024-01-01", 10),  # D1_10 beats D1_12 and the batch-2 dup
        ("m5", "2024-01-01", 12),
        ("m2", "2024-01-02", 1),   # D2_01 (batch 1) beats D2_09 (batch 2)
    }


def test_processing_time_trigger(spark, tmp_path):
    """O3: the reference's fixed 5 s micro-batch cadence
    (`Seconds(5)`, OdsBaseLogApp.scala:35) maps to
    trigger(processingTime=...) — run the split pipeline on a short
    cadence against a live directory and stop once output lands."""
    import time

    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    (in_dir / "b0.json").write_text(
        fx.log_row("m1", fx.D1_10, uid="1", ar="11", page_id="home") + "\n"
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    writer = log_split_pipeline(text_stream(spark, str(in_dir)), out, ckpt)
    q = writer.trigger(processingTime="500 milliseconds").start()
    try:
        deadline = time.time() + 60
        rows = 0
        while time.time() < deadline:
            try:
                rows = read_sink(spark, os.path.join(out, "page")).count()
            except Exception:
                rows = 0
            if rows:
                break
            time.sleep(0.5)
        assert rows == 1
    finally:
        q.stop()


# --- O4: kill/restart exactly-once ----------------------------------------


def test_batch_replay_is_idempotent(spark, tmp_path):
    """O4 hard case: delete the checkpoint's last COMMIT marker so the
    engine replays that batch on restart (offsets were written, commit
    wasn't — the crash-between-write-and-commit window). The foreachBatch
    writer must absorb the replay: same batch id -> same directory
    overwritten -> zero duplicates (the reference's ES doc-id upsert
    absorbing at-least-once delivery, MyOffsetsUtils.scala:10-21)."""
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)
    rows = [
        fx.log_row("m1", fx.D1_10, uid="1", ar="11", page_id="home"),
        fx.log_row("m2", fx.D1_12, uid="2", ar="12", page_id="home"),
    ]
    (in_dir / "batch-000.json").write_text("\n".join(rows) + "\n")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dim_user, dim_province = fx.dim_frames(spark)

    def run_once():
        writer = dau_pipeline(
            text_stream(spark, str(in_dir)), dim_user, dim_province, out, ckpt,
            as_of=as_of(),
        )
        run_to_completion(writer)

    run_once()
    assert read_sink(spark, out).count() == 2

    # simulate crash after sink write, before commit: drop the newest
    # commit marker (and its Hadoop checksum shadow) -> on restart the
    # engine re-runs that batch
    commits_dir = os.path.join(ckpt, "commits")
    newest = [c for c in sorted(os.listdir(commits_dir)) if not c.startswith(".")][-1]
    os.remove(os.path.join(commits_dir, newest))
    crc = os.path.join(commits_dir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run_once()

    sink = read_sink(spark, out)
    assert sink.count() == 2  # replayed batch overwrote itself
    assert sink.groupBy("mid", "dt").count().filter(F.col("count") > 1).count() == 0


def test_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    """O4: stop after batch 1, restart from the checkpoint with new input
    containing duplicate keys — dedup state is restored, nothing is
    reprocessed, sink keys stay unique (checkpoint replaces the
    reference's Redis offset+state recovery, MyOffsetsUtils/revertState).
    """
    in_dir = tmp_path / "in"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dim_user, dim_province = fx.dim_frames(spark)

    os.makedirs(in_dir)
    day1 = [
        fx.log_row("m1", fx.D1_10, uid="1", ar="11", page_id="home"),
        fx.log_row("m2", fx.D1_12, uid="2", ar="12", page_id="home"),
    ]
    (in_dir / "batch-000.json").write_text("\n".join(day1) + "\n")

    def run_once():
        writer = dau_pipeline(
            text_stream(spark, str(in_dir)), dim_user, dim_province, out, ckpt,
            as_of=as_of(),
        )
        run_to_completion(writer)

    run_once()  # first life of the query
    assert read_sink(spark, out).count() == 2

    # second life: duplicates of already-seen keys + one genuinely new mid
    day1_again = [
        fx.log_row("m1", fx.D1_10 + 5000, uid="1", ar="11", page_id="cart"),
        fx.log_row("m7", fx.D1_12, uid="4", ar="11", page_id="home"),
    ]
    (in_dir / "batch-001.json").write_text("\n".join(day1_again) + "\n")
    run_once()

    sink = read_sink(spark, out)
    assert sink.count() == 3  # m1 dup dropped by RESTORED state; m7 added
    dupes = (
        sink.groupBy("mid", "dt").count().filter(F.col("count") > 1).collect()
    )
    assert dupes == []

    # K3 compaction: collapse the batch dirs into one clean committed
    # generation — same rows, same keys, manifest + gen dir only
    before = {(r["mid"], str(r["dt"])) for r in sink.select("mid", "dt").collect()}
    compact_sink(spark, out, ["mid", "dt"], partition_col="dt")
    after_df = read_sink(spark, out)
    after = {(r["mid"], str(r["dt"])) for r in after_df.select("mid", "dt").collect()}
    assert after == before
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v0", "gen=0"]


def _store_instances(q) -> set[int]:
    return {
        op.numStateStoreInstances
        for p in q.recentProgress
        for op in p.stateOperators
    }


def test_fresh_stream_has_one_state_store_per_shuffle_partition(spark, dau_run):
    """A fresh checkpoint sizes the dedup state to the session's
    ``spark.sql.shuffle.partitions``: one store per partition."""
    q, _ = dau_run
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _store_instances(q) == {partitions}


def test_checkpoint_keeps_its_partition_count_across_restart(spark, tmp_path):
    """The first start pins the partition count in the checkpoint's
    offset log: a restart under a smaller session value keeps the
    original 32 state stores, and the dedup state they hold."""
    in_dir = tmp_path / "in"
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    dim_user, dim_province = fx.dim_frames(spark)
    os.makedirs(in_dir)
    (in_dir / "batch-000.json").write_text(
        fx.log_row("m1", fx.D1_10, uid="1", ar="11", page_id="home") + "\n"
        + fx.log_row("m2", fx.D1_12, uid="2", ar="12", page_id="home") + "\n"
    )

    key = "spark.sql.shuffle.partitions"

    def run_once(partitions: str):
        spark.conf.set(key, partitions)
        writer = dau_pipeline(
            text_stream(spark, str(in_dir)), dim_user, dim_province, out, ckpt,
            as_of=as_of(),
        )
        return run_to_completion(writer)

    before = spark.conf.get(key)
    try:
        assert _store_instances(run_once("32")) == {32}
        (in_dir / "batch-001.json").write_text(
            fx.log_row("m1", fx.D1_10 + 5000, uid="1", ar="11", page_id="home") + "\n"
            + fx.log_row("m7", fx.D1_12, uid="4", ar="11", page_id="home") + "\n"
        )
        assert _store_instances(run_once("2")) == {32}
    finally:
        spark.conf.set(key, before)

    keys = [(r["mid"], str(r["dt"])) for r in read_sink(spark, out).collect()]
    assert len(keys) == len(set(keys))
    assert set(keys) == {
        ("m1", "2024-01-01"), ("m2", "2024-01-01"), ("m7", "2024-01-01"),
    }


def test_fresh_join_has_one_state_store_per_shuffle_partition(spark, order_run):
    """A fresh stream-stream join keeps its four buffers in ONE store per
    partition (join state format 3), not four."""
    q, _ = order_run
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _store_instances(q) == {partitions}


def test_join_checkpoint_keeps_its_state_format_across_restart(spark, tmp_path):
    """A checkpoint started under join state format 2 keeps its four
    stores per partition when restarted under the session's format 3,
    and the buffered rows they hold: run 2's detail joins run 1's info,
    and run 2's info joins run 1's detail."""
    from sparkstreaming_realtime_project_spark.session import JOIN_STATE_FORMAT

    t0 = "2024-01-01 10:00:00"
    info_dir, detail_dir = tmp_path / "info", tmp_path / "detail"
    fx._write_batches(str(info_dir), [[fx.info_row(1, t0)]])
    fx._write_batches(str(detail_dir), [[fx.detail_row(90, 2, t0)]])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        writer = order_wide_pipeline(
            file_stream(spark, str(info_dir), ORDER_INFO_SCHEMA),
            file_stream(spark, str(detail_dir), ORDER_DETAIL_SCHEMA),
            out,
            ckpt,
        )
        return run_to_completion(writer, timeout=180)

    key = "spark.sql.shuffle.partitions"
    before = {k: spark.conf.get(k) for k in (key, JOIN_STATE_FORMAT)}
    assert before[JOIN_STATE_FORMAT] == "3"
    try:
        spark.conf.set(key, "2")
        spark.conf.set(JOIN_STATE_FORMAT, "2")
        assert _store_instances(run_once()) == {4 * 2}
        spark.conf.set(JOIN_STATE_FORMAT, before[JOIN_STATE_FORMAT])
        (info_dir / "batch-001.json").write_text(fx.info_row(2, t0) + "\n")
        (detail_dir / "batch-001.json").write_text(fx.detail_row(91, 1, t0) + "\n")
        assert _store_instances(run_once()) == {4 * 2}
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)

    got = {(r["order_id"], r["detail_id"]) for r in read_sink(spark, out).collect()}
    assert got == {(1, 91), (2, 90)}


def test_started_defaults_pick_commits_by_default_filesystem():
    """Rename commits only on a local default filesystem; join state
    format 3 only with the RocksDB provider; partitions = task slots."""
    from sparkstreaming_realtime_project_spark import session as S

    local = S.started_defaults(S.ROCKSDB, "file:///", 4)
    assert local == {
        S.SHUFFLE_PARTITIONS: "4",
        S.JOIN_STATE_FORMAT: "3",
        S.CHECKPOINT_MANAGER: S.RENAME_COMMITS,
    }
    for fs in ("hdfs://nn:8020", "s3a://bucket/", "abfs://c@a.dfs.core.windows.net"):
        assert S.started_defaults(S.ROCKSDB, fs, 4) == {
            S.SHUFFLE_PARTITIONS: "4", S.JOIN_STATE_FORMAT: "3",
        }
    hdfs_backed = (
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    )
    assert S.started_defaults(hdfs_backed, "file:///", 2) == {
        S.SHUFFLE_PARTITIONS: "2", S.CHECKPOINT_MANAGER: S.RENAME_COMMITS,
    }


def test_get_spark_on_a_running_session_derives_nothing(spark):
    """Called on a running session, ``get_spark`` keeps the partition
    count, join state format and checkpoint manager the session holds;
    an explicit argument or an ``extra_conf`` entry still applies."""
    from sparkstreaming_realtime_project_spark import session as S

    held = {
        S.SHUFFLE_PARTITIONS: "7",
        S.JOIN_STATE_FORMAT: "2",
        S.CHECKPOINT_MANAGER: "org.apache.spark.sql.execution.streaming."
        "checkpointing.FileContextBasedCheckpointFileManager",
    }
    before = {k: spark.conf.get(k) for k in held}
    try:
        for k, v in held.items():
            spark.conf.set(k, v)
        s = S.get_spark(app_name="tests")
        assert {k: s.conf.get(k) for k in held} == held
        s = S.get_spark(app_name="tests", shuffle_partitions=3)
        assert s.conf.get(S.SHUFFLE_PARTITIONS) == "3"
        s = S.get_spark(
            app_name="tests", shuffle_partitions=3,
            extra_conf={S.SHUFFLE_PARTITIONS: "5"},
        )
        assert s.conf.get(S.SHUFFLE_PARTITIONS) == "5"
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_get_spark_on_a_running_session_keeps_caller_confs(spark):
    """A conf the caller changed on the running session, and the app
    name, survive a second ``get_spark``: none of the package's fixed
    confs is copied back onto the session."""
    from sparkstreaming_realtime_project_spark import session as S

    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    name = spark.conf.get("spark.app.name")
    try:
        spark.conf.set(key, "1234")
        s = S.get_spark(app_name="x")
        assert s.conf.get(key) == "1234"
        assert s.conf.get("spark.app.name") == name
    finally:
        spark.conf.set(key, before)


def _run_in_new_process(script: str, *args: str) -> None:
    """Run ``script`` in a fresh interpreter (its own JVM, so the suite's
    session lives on) and expect it to print ``ok``."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    res = subprocess.run(
        [sys.executable, "-c", script, *args],
        cwd=root, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0 and res.stdout.strip().endswith("ok"), res.stderr[-3000:]


def test_get_spark_sizes_shuffle_partitions_to_task_slots():
    """A session ``get_spark`` starts gets one partition per task slot,
    join state format 3 and rename commits (the default filesystem is
    local); an explicit argument or ``extra_conf`` entry wins over each."""
    import textwrap

    _run_in_new_process(textwrap.dedent(
        """
        from sparkstreaming_realtime_project_spark import session as S

        small = {"spark.driver.memory": "512m"}
        s = S.get_spark(app_name="t", master="local[2]", extra_conf=small)
        assert s.conf.get(S.SHUFFLE_PARTITIONS) == "2"
        assert s.conf.get(S.JOIN_STATE_FORMAT) == "3"
        assert s.conf.get(S.CHECKPOINT_MANAGER) == S.RENAME_COMMITS
        s.stop()
        s = S.get_spark(
            app_name="t", master="local[2]", shuffle_partitions=3, extra_conf=small
        )
        assert s.conf.get(S.SHUFFLE_PARTITIONS) == "3"
        s.stop()
        mine = (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager"
        )
        explicit = {
            S.SHUFFLE_PARTITIONS: "5", S.JOIN_STATE_FORMAT: "2",
            S.CHECKPOINT_MANAGER: mine,
        }
        s = S.get_spark(
            app_name="t", master="local[2]", shuffle_partitions=3,
            extra_conf={**small, **explicit},
        )
        assert s.conf.get(S.SHUFFLE_PARTITIONS) == "5"
        assert s.conf.get(S.JOIN_STATE_FORMAT) == "2"
        assert s.conf.get(S.CHECKPOINT_MANAGER) == mine
        s.stop()
        print("ok")
        """
    ))


def test_quota_per_key_caps_across_batches(spark, tmp_path):
    """Per-source ingest quota: at most N rows admitted per key with the
    counter persisting ACROSS micro-batches — batch 2 rows of an
    exhausted source are dropped while an under-quota source keeps
    admitting; within a trigger the lowest-ts rows win."""
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        quota_per_key,
    )

    base = fx.D1_10
    mk = lambda src, i, ts: json.dumps({"source": src, "doc_id": i, "ts": ts})
    in_dir = tmp_path / "in"
    fx._write_batches(str(in_dir), [
        [mk("A", 1, base + 2000), mk("A", 2, base), mk("A", 3, base + 1000),
         mk("B", 10, base)],
        [mk("A", 4, base + 3000), mk("A", 5, base + 4000),
         mk("B", 11, base + 5000)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    schema = "source string, doc_id long, ts long"
    docs = (
        text_stream(spark, str(in_dir), max_files_per_trigger=1)
        .select(F.from_json("value", schema).alias("j"))
        .select("j.source", "j.doc_id", F.timestamp_millis("j.ts").alias("event_ts"))
        .withWatermark("event_ts", "25 hours")
    )
    admitted = quota_per_key(docs, ["source"], "event_ts", quota=2)
    q = (
        admitted.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    got = {
        (r["source"], r["doc_id"])
        for r in read_sink(spark, out).collect()
    }
    # A: quota 2 -> the two lowest-ts batch-1 rows; batch-2 rows dropped.
    # B: one per batch, both under quota.
    assert got == {("A", 2), ("A", 3), ("B", 10), ("B", 11)}


def test_sessionize_gap_sessions_across_batches(spark, tmp_path):
    """Gap sessionization: an in-batch gap closes a session immediately;
    watermark passage closes idle sessions via event-time timeout;
    sessions still open at end-of-stream are never emitted."""
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        sessionize,
    )

    base = fx.D1_10
    mn = 60 * 1000
    mk = lambda u, i, ts: json.dumps({"user": u, "event_id": i, "ts": ts})
    in_dir = tmp_path / "in"
    fx._write_batches(str(in_dir), [
        # A: two events 10min apart, then one 2h later -> the first
        # session closes IN-BATCH when the 2h event arrives.
        [mk("A", 1, base), mk("A", 2, base + 10 * mn),
         mk("A", 3, base + 120 * mn),
         mk("B", 10, base)],
        # B extends its session (10min gap); C's far-future event drags
        # the watermark to base+10h-3h = base+7h.
        [mk("B", 11, base + 10 * mn), mk("C", 20, base + 600 * mn)],
        # dummy tick: the next trigger fires the now-expired timeouts
        # for A's pending session and B's session. C stays open forever.
        [mk("C", 21, base + 601 * mn)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    schema = "user string, event_id long, ts long"
    events = (
        text_stream(spark, str(in_dir), max_files_per_trigger=1)
        .select(F.from_json("value", schema).alias("j"))
        .select("j.user", "j.event_id", F.timestamp_millis("j.ts").alias("event_ts"))
        .withWatermark("event_ts", "3 hours")
    )
    sessions = sessionize(events, ["user"], "event_ts", gap_minutes=30)
    q = (
        sessions.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)

    got = {
        (r["user"], r["start_ms"], r["end_ms"], r["n_events"])
        for r in read_sink(spark, out).collect()
    }
    assert got == {
        ("A", base, base + 10 * mn, 2),          # closed by the in-batch gap
        ("A", base + 120 * mn, base + 120 * mn, 1),  # closed by timeout
        ("B", base, base + 10 * mn, 2),          # cross-batch merge, timeout
    }


def test_topk_per_group_snapshots_across_batches(spark, tmp_path):
    """Streaming heavy hitters: per-group top-k snapshot after each
    trigger, counters accumulating ACROSS micro-batches (batch 2 flips
    the leader for group X), latest snapshot selected via max(seq)."""
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        topk_per_group,
    )

    base = fx.D1_10
    mk = lambda g, k, ts: json.dumps({"g": g, "k": k, "ts": ts})
    in_dir = tmp_path / "in"
    fx._write_batches(str(in_dir), [
        # batch 1 — X: a=2, b=1; Y: only q=1
        [mk("X", "a", base), mk("X", "a", base + 1000), mk("X", "b", base + 2000),
         mk("Y", "q", base)],
        # batch 2 — X: b gains 3 -> b=4 overtakes a=2; c enters with 1
        [mk("X", "b", base + 3000), mk("X", "b", base + 4000),
         mk("X", "b", base + 5000), mk("X", "c", base + 6000)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    schema = "g string, k string, ts long"
    events = (
        text_stream(spark, str(in_dir), max_files_per_trigger=1)
        .select(F.from_json("value", schema).alias("j"))
        .select("j.g", "j.k", F.timestamp_millis("j.ts").alias("event_ts"))
        .withWatermark("event_ts", "25 hours")
    )
    snaps = topk_per_group(events, "g", "k", "event_ts", k=2, max_tracked=8)
    q = (
        snaps.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    rows = read_sink(spark, out).collect()
    latest = {}
    for r in rows:
        latest.setdefault(r["g"], {})
        if r["seq"] >= max(x["seq"] for x in rows if x["g"] == r["g"]):
            latest[r["g"]][r["rank"]] = (r["key"], r["est_count"])
    # X after batch 2: b=4 leads, a=2 second (c=1 cut by k=2)
    assert latest["X"] == {1: ("b", 4), 2: ("a", 2)}
    # Y saw only batch 1: q=1
    assert latest["Y"] == {1: ("q", 1)}
    # and the batch-1 snapshot for X had a leading with 2
    seq1 = [r for r in rows if r["g"] == "X" and r["seq"] == 1]
    assert {(r["rank"], r["key"], r["est_count"]) for r in seq1} == {
        (1, "a", 2), (2, "b", 1)
    }


def test_zscore_per_key_flags_outlier_across_batches(spark, tmp_path):
    """Streaming Welford anomaly scoring: batch 1 establishes a key's
    baseline (all z NULL below min_n), batch 2's outlier scores against
    the ACCUMULATED state with a large |z| while an in-range value stays
    small; a cold key in batch 2 emits NULL z."""
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        zscore_per_key,
    )

    base = fx.D1_10
    mk = lambda dev, i, ts, v: json.dumps(
        {"device": dev, "event_id": i, "ts": ts, "value": v}
    )
    in_dir = tmp_path / "in"
    baseline = [10.0, 11.0, 9.0, 10.5, 9.5, 10.8]
    fx._write_batches(str(in_dir), [
        [mk("A", i, base + i * 1000, v) for i, v in enumerate(baseline)],
        [mk("A", 100, base + 100_000, 10.2),   # in-range
         mk("A", 102, base + 100_500, None),   # parse-failure NaN: scored NULL, NOT folded
         mk("A", 101, base + 101_000, 100.0),  # outlier
         mk("COLD", 200, base + 100_000, 5.0)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    schema = "device string, event_id long, ts long, value double"
    events = (
        text_stream(spark, str(in_dir), max_files_per_trigger=1)
        .select(F.from_json("value", schema).alias("j"))
        .select(
            "j.device", "j.event_id", F.timestamp_millis("j.ts").alias("event_ts"),
            F.col("j.value").alias("value"),
        )
        .withWatermark("event_ts", "25 hours")
    )
    scored = zscore_per_key(events, ["device"], "event_ts", "value", min_n=5)
    q = (
        scored.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    collected = read_sink(spark, out).collect()
    rows = {
        (r["device"], r["value"]): (r["n_prior"], r["z"])
        for r in collected
        if r["value"] is not None and r["value"] == r["value"]
    }
    assert len(collected) == 10 and len(rows) == 9
    # below min_n=5: z NULL (first 5 of the baseline)
    assert all(rows[("A", v)][1] is None for v in baseline[:5])
    # 6th baseline row has 5 priors -> scored, in-range
    n6, z6 = rows[("A", baseline[5])]
    assert n6 == 5 and z6 is not None and abs(z6) < 3.0
    # batch-2: state carried across the trigger (n_prior counts batch 1)
    n_in, z_in = rows[("A", 10.2)]
    n_out, z_out = rows[("A", 100.0)]
    assert n_in == 6 and abs(z_in) < 1.0
    # n_out == 7 proves the NaN row between 10.2 and 100.0 was NOT
    # folded (a folded NaN would also poison mean/m2 -> z_out None)
    assert n_out == 7 and z_out > 10.0
    # cold key: no history -> NULL
    assert rows[("COLD", 5.0)] == (0, None)


def test_scd2_sink_incremental_history(spark, tmp_path):
    """Incremental SCD2 maintenance: batch 2 closes batch 1's open
    interval for a changed key, extends (not splits) a same-value run,
    and leaves untouched keys' histories to their original batch."""
    from sparkstreaming_realtime_project_spark.streaming.scd2 import (
        read_scd2,
        scd2_sink,
    )

    base = fx.D1_10
    mk = lambda k, v, i, ts: json.dumps({"k": k, "v": v, "event_id": i, "ts": ts})
    in_dir = tmp_path / "in"
    fx._write_batches(str(in_dir), [
        [mk("A", "x", 1, base), mk("A", "y", 2, base + 3000),
         mk("KEEP", "w", 3, base + 1000)],
        [mk("A", "y", 4, base + 4000),   # same-value: extends the run
         mk("A", "z", 5, base + 5000),
         mk("B", "n", 6, base + 2000)],
    ])
    store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")

    schema = "k string, v string, event_id long, ts long"
    changes = (
        text_stream(spark, str(in_dir), max_files_per_trigger=1)
        .select(F.from_json("value", schema).alias("j"))
        .select("j.k", "j.v", "j.event_id", F.timestamp_millis("j.ts").alias("event_ts"))
    )
    q = (
        scd2_sink(changes, store, ckpt, "k", "v", "event_ts", "event_id")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    us = lambda ms: ms * 1000
    got = {
        (r["key"], r["value"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
        for r in read_scd2(spark, store).collect()
    }
    assert got == {
        ("A", "x", us(base), us(base + 3000), 0),
        ("A", "y", us(base + 3000), us(base + 5000), 0),  # run extended, then closed
        ("A", "z", us(base + 5000), None, 1),
        ("KEEP", "w", us(base + 1000), None, 1),          # untouched by batch 2
        ("B", "n", us(base + 2000), None, 1),
    }


def test_scd2_store_replay_and_crash_visibility(spark, tmp_path):
    """Exactly-once discipline of the SCD2 store itself: a replayed
    batch reads only strictly-earlier batches (reproducing, not
    compounding, its own output), and a crashed write (no _SUCCESS) is
    invisible to readers until its replay commits."""
    from sparkstreaming_realtime_project_spark.streaming.scd2 import (
        read_scd2,
        scd2_apply_batch,
    )

    store = str(tmp_path / "store")

    def batch(rows):
        return spark.createDataFrame(
            rows, "k string, v string, event_id long, ts_ms long"
        ).select(
            "k", "v", "event_id", F.timestamp_millis("ts_ms").alias("event_ts")
        )

    def write(df, bid):
        scd2_apply_batch(df, bid, store, "k", "v", "event_ts", "event_id")

    def snap():
        return {
            (r["key"], r["value"], r["is_current"])
            for r in read_scd2(spark, store).collect()
        }

    t = 1704067200000
    write(batch([("A", "x", 1, t)]), 0)
    write(batch([("A", "y", 2, t + 1000)]), 1)
    snap1 = snap()
    # replay batch 1 (restart): same output, not compounded
    write(batch([("A", "y", 2, t + 1000)]), 1)
    assert snap() == snap1 == {("A", "x", 0), ("A", "y", 1)}
    # crashed batch 2: dir present, _SUCCESS removed -> invisible
    write(batch([("A", "z", 3, t + 2000)]), 2)
    os.remove(f"{store}/batch=2/_SUCCESS")
    assert snap() == snap1
    # replay of batch 2 commits -> now visible
    write(batch([("A", "z", 3, t + 2000)]), 2)
    assert snap() == {("A", "x", 0), ("A", "y", 0), ("A", "z", 1)}


def test_order_wide_left_outer_emits_unmatched_detail(spark, tmp_path):
    """join_type="left_outer": a detail whose info NEVER arrives is
    emitted null-padded once both watermarks pass its join window —
    detail-preserving semantics the reference cannot express (its
    unmatched Redis detail buffer just expires silently,
    DwdOrderApp.scala:247). Matched rows are identical to inner mode;
    the unmatched row's create_date falls back to the detail's own
    create_time so the sink partition is never null."""
    t0 = "2024-01-01 10:00:00"
    t_far = "2024-01-05 10:00:00"  # 96 h later: both watermarks sail past
    info_dir, detail_dir = str(tmp_path / "info"), str(tmp_path / "detail")
    fx._write_batches(info_dir, [
        [fx.info_row(2, t0)],          # order 1's info never arrives
        [fx.info_row(3, t_far)],       # advance info watermark
        [fx.info_row(4, t_far)],
        [fx.info_row(5, t_far)],
    ])
    fx._write_batches(detail_dir, [
        [fx.detail_row(99, 1, t0), fx.detail_row(90, 2, t0)],
        [fx.detail_row(91, 3, t_far)],  # advance detail watermark
        [fx.detail_row(92, 4, t_far)],
        [fx.detail_row(93, 5, t_far)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    writer = order_wide_pipeline(
        file_stream(spark, info_dir, ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, detail_dir, ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        out,
        ckpt,
        join_type="left_outer",
    )
    run_to_completion(writer, timeout=180)
    got = {r["detail_id"]: r for r in read_sink(spark, out).collect()}
    assert 90 in got and got[90]["order_status"] is not None  # matched, as inner
    assert 99 in got, "unmatched detail must surface null-padded"
    assert got[99]["order_status"] is None
    assert got[99]["user_id"] is None
    # detail-side fallback (partition col type-infers to date on read)
    assert str(got[99]["create_date"]) == "2024-01-01"


def test_order_wide_launcher_left_outer_flag(spark, tmp_path, cli):
    """Launcher smoke for --left-outer: flag parses, the drain completes,
    and matched rows land exactly as in inner mode (the outer-emission
    semantics themselves are covered by the pipeline-level test)."""
    t0 = "2024-01-01 10:00:00"
    info_dir, detail_dir = str(tmp_path / "info"), str(tmp_path / "detail")
    fx._write_batches(info_dir, [[fx.info_row(1, t0)]])
    fx._write_batches(detail_dir, [[fx.detail_row(7, 1, t0)]])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(SystemExit) as exc:
        cli([
            "order-wide",
            "--input-info", info_dir,
            "--input-detail", detail_dir,
            "--out", out,
            "--checkpoint", ckpt,
            "--left-outer",
        ])
    assert exc.value.code == 0
    rows = read_sink(spark, out).collect()
    assert {r["detail_id"] for r in rows} == {7}
    assert rows[0]["order_status"] is not None


def test_compact_manifest_commit_is_atomic(spark, tmp_path, monkeypatch):
    """Crash-injection around the compaction commit point: a reader must
    never see a torn table — the OLD state before the single atomic
    manifest rename, the NEW state after it, no matter where the
    compactor dies (the contract of the reference's per-doc atomic ES
    upsert, MyEsUtils.scala:69-79). Also: leftovers from a crashed
    cleanup are invisible and swept by the next run, and batches landing
    after a compaction stay visible."""
    import shutil as _shutil

    from sparkstreaming_realtime_project_spark.streaming import sinks

    out = str(tmp_path / "sink")

    def land(batch_id, rows):
        spark.createDataFrame(rows, "k string, v string, dt string").write.mode(
            "overwrite"
        ).partitionBy("dt").parquet(os.path.join(out, f"batch={batch_id}"))

    def state():
        return {
            (r["k"], r["v"])
            for r in read_sink(spark, out).select("k", "v").collect()
        }

    land(0, [("k1", "v1", "2024-01-01"), ("k2", "v1", "2024-01-01")])
    land(1, [("k1", "v2", "2024-01-01")])
    orig = {("k1", "v1"), ("k2", "v1"), ("k1", "v2")}
    assert state() == orig

    # crash BEFORE the commit point: the gen dir is written but the
    # manifest rename never happens -> readers still see the old state
    def boom(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact_sink(spark, out, ["k"], partition_col="dt")
    assert os.path.isdir(os.path.join(out, "gen=0"))  # torn write exists
    assert state() == orig  # ...but is invisible
    monkeypatch.undo()

    # recovery run: same gen id is rewritten, commit lands, batch dirs go
    compact_sink(spark, out, ["k"], partition_col="dt")
    assert state() == {("k1", "v2"), ("k2", "v1")}  # later batch won
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v0", "gen=0"]

    # crash AFTER the commit point, during cleanup: the new state is
    # already live; superseded dirs remain on disk but are excluded
    land(2, [("k2", "v2", "2024-01-01")])
    monkeypatch.setattr(_shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="injected"):
        compact_sink(spark, out, ["k"], partition_col="dt")
    monkeypatch.undo()
    leftovers = sorted(os.listdir(out))
    assert "gen=0" in leftovers and "batch=2" in leftovers  # stranded
    assert state() == {("k1", "v2"), ("k2", "v2")}  # manifest decides

    # next run (nothing new to compact) sweeps the stranded dirs
    compact_sink(spark, out, ["k"], partition_col="dt")
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v1", "gen=1"]
    assert state() == {("k1", "v2"), ("k2", "v2")}

    # post-compaction arrivals are visible alongside the generation
    land(3, [("k3", "v1", "2024-01-02")])
    assert state() == {("k1", "v2"), ("k2", "v2"), ("k3", "v1")}
    # and a re-compaction folds them in, keeping prior winners
    compact_sink(spark, out, ["k"], partition_col="dt")
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v2", "gen=2"]
    assert state() == {("k1", "v2"), ("k2", "v2"), ("k3", "v1")}


def test_compact_time_travel_and_vacuum(spark, tmp_path):
    """read_sink(at_gen=N) serves the exact snapshot generation N
    committed (VERSION AS OF); retain_generations bounds how far back,
    and a vacuumed generation raises naming the readable ones."""
    out = str(tmp_path / "sink")

    def land(batch_id, rows):
        spark.createDataFrame(rows, "k string, v string, dt string").write.mode(
            "overwrite"
        ).partitionBy("dt").parquet(os.path.join(out, f"batch={batch_id}"))

    def snap(df):
        return {(r["k"], r["v"]) for r in df.select("k", "v").collect()}

    land(0, [("k1", "v1", "2024-01-01")])
    compact_sink(spark, out, ["k"], partition_col="dt", retain_generations=2)
    land(1, [("k1", "v2", "2024-01-01"), ("k2", "v1", "2024-01-01")])
    compact_sink(spark, out, ["k"], partition_col="dt", retain_generations=2)
    # both snapshots readable inside the retention window
    assert snap(read_sink(spark, out, at_gen=0)) == {("k1", "v1")}
    assert snap(read_sink(spark, out, at_gen=1)) == {("k1", "v2"), ("k2", "v1")}
    assert snap(read_sink(spark, out)) == {("k1", "v2"), ("k2", "v1")}

    land(2, [("k3", "v1", "2024-01-02")])
    compact_sink(spark, out, ["k"], partition_col="dt", retain_generations=2)
    # gen 0 vacuumed out of the 2-generation window
    with pytest.raises(RuntimeError, match=r"retained generations: \[1, 2\]"):
        read_sink(spark, out, at_gen=0)
    assert snap(read_sink(spark, out, at_gen=1)) == {("k1", "v2"), ("k2", "v1")}
    assert snap(read_sink(spark, out, at_gen=2)) == {
        ("k1", "v2"), ("k2", "v1"), ("k3", "v1"),
    }


_SNAP_SCHEMA = "k string, v string, p int"


def _snap_rows(df):
    return {(r["k"], r["v"], r["p"]) for r in df.select("k", "v", "p").collect()}


def test_read_sink_reuses_an_unchanged_snapshot(spark, tmp_path):
    """Two reads of an unchanged sink return the same DataFrame, and the
    second launches no Spark job (no listing, no schema inference)."""
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        idempotent_partitioned_writer,
    )

    out = str(tmp_path / "sink")
    write = idempotent_partitioned_writer(out, ["k"], "p")
    for b in range(2):
        write(spark.createDataFrame([(f"k{b}", "v", b)], _SNAP_SCHEMA), b)
    first, jobs_first = fx.count_jobs(spark, lambda: read_sink(spark, out))
    second, jobs_second = fx.count_jobs(spark, lambda: read_sink(spark, out))
    assert jobs_first > 0  # the counter sees the inference job
    assert second is first
    assert jobs_second == 0
    assert _snap_rows(second) == {("k0", "v", 0), ("k1", "v", 1)}


@pytest.mark.parametrize("compacted", [False, True])
def test_read_sink_snapshot_follows_every_commit(spark, tmp_path, compacted):
    """After each kind of commit — a new batch dir, a replay of an
    existing batch id, compact_sink and merge_into — the next read_sink
    serves a new DataFrame whose rows equal a fresh read's, in both the
    uncompacted and the compacted layout."""
    from sparkstreaming_realtime_project_spark.streaming import sinks

    out = str(tmp_path / "sink")
    write = sinks.idempotent_partitioned_writer(out, ["k"], "p")

    def land(batch_id, rows):
        write(spark.createDataFrame(rows, _SNAP_SCHEMA), batch_id)

    land(0, [("k1", "v1", 1), ("k2", "v1", 2)])
    if compacted:
        sinks.compact_sink(spark, out, ["k"], partition_col="p")
        assert "_MANIFEST" in os.listdir(out)
    commits = [
        ("new batch", lambda: land(1, [("k3", "v1", 1)])),
        ("replay", lambda: land(1, [("k3", "v2", 1), ("k4", "v1", 2)])),
        ("compact", lambda: sinks.compact_sink(spark, out, ["k"], partition_col="p")),
        ("merge", lambda: sinks.merge_into(
            spark, out,
            spark.createDataFrame(
                [("k1", "v9", 1, False), ("k2", None, 2, True)],
                _SNAP_SCHEMA + ", del boolean",
            ),
            ["k"], delete_col="del", partition_col="p",
        )),
    ]
    before = read_sink(spark, out)
    for name, commit in commits:
        assert read_sink(spark, out) is before, name  # warm, unchanged
        commit()
        after = read_sink(spark, out)
        assert after is not before, name
        assert _snap_rows(after) == _snap_rows(
            sinks._read_committed(spark, out)
        ), name
        before = after
    assert _snap_rows(before) == {
        ("k1", "v9", 1), ("k3", "v2", 1), ("k4", "v1", 2),
    }
    assert sinks._SNAPSHOTS[os.path.abspath(out)][2] is before


def test_read_sink_snapshot_under_concurrent_readers(spark, tmp_path):
    """More reader threads than cores call read_sink while batches land
    (the threaded publisher's access pattern). Racing rebuilds may
    replace each other's entry, but the read after the last commit
    serves the final state."""
    import sys
    import threading

    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import CapturedException

    from sparkstreaming_realtime_project_spark.streaming import sinks

    out = str(tmp_path / "sink")
    write = sinks.idempotent_partitioned_writer(out, ["k"], "p")
    write(spark.createDataFrame([("k0", "v", 0)], _SNAP_SCHEMA), 0)
    done = threading.Event()
    errors = []

    def reader():
        try:
            while not done.is_set():
                sinks.read_sink(spark, out)
        except Exception as e:  # noqa: BLE001 (reported below)
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(2 * os.cpu_count())]
    try:
        for t in threads:
            t.start()
        for b in range(1, 4):
            write(spark.createDataFrame([(f"k{b}", "v", b)], _SNAP_SCHEMA), b)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    # a read racing an in-place write may see it half done and fail in
    # Spark (as an uncached read can); a Python-side error would point
    # at the snapshot map
    assert all(
        isinstance(e, (CapturedException, Py4JJavaError)) for e in errors
    ), errors
    assert _snap_rows(read_sink(spark, out)) == {
        (f"k{b}", "v", b) for b in range(4)
    }


def test_read_sink_new_context_builds_a_new_snapshot(tmp_path):
    """A snapshot kept under one SparkContext is never returned under
    the next one (a separate process, so the suite's session lives on)."""
    import textwrap

    script = textwrap.dedent(
        """
        import sys
        from pyspark.sql import SparkSession
        from sparkstreaming_realtime_project_spark.streaming import sinks

        def session():
            return (
                SparkSession.builder.master("local[1]")
                .config("spark.ui.enabled", "false")
                .config("spark.driver.memory", "512m")
                .getOrCreate()
            )

        out = sys.argv[1]
        s1 = session()
        sinks.idempotent_partitioned_writer(out, ["k"], "p")(
            s1.createDataFrame([("k1", "v1", 1)], "k string, v string, p int"), 0
        )
        first = sinks.read_sink(s1, out)
        assert sinks.read_sink(s1, out) is first
        s1.stop()
        s2 = session()
        second = sinks.read_sink(s2, out)
        assert second is not first
        assert sinks.read_sink(s2, out) is second
        assert len(sinks._SNAPSHOTS) == 1
        assert [tuple(r) for r in second.collect()] == [("k1", "v1", 1)]
        s2.stop()
        print("ok")
        """
    )
    _run_in_new_process(script, str(tmp_path / "sink"))


def test_crawl_frontier_dedup_on_canonical_url(spark, tmp_path):
    """Crawl-frontier semantics from existing pieces: canonicalize the
    URL (operators/urls.py) and first-seen-dedup on the canonical key
    across micro-batches — a tracking-variant refetch of an
    already-crawled page in a LATER batch is dropped, a genuinely new
    path or a real-param variant is admitted."""
    import json as _json

    from sparkstreaming_realtime_project_spark.operators.urls import (
        canonical_url,
    )
    from sparkstreaming_realtime_project_spark.streaming.stateful import (
        first_seen_per_key,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    b0 = [
        {"url": "https://www.Example.COM/a?utm_source=feed", "ts": 1000},
        {"url": "http://example.com/b", "ts": 2000},
    ]
    b1 = [
        {"url": "http://example.com/a#frag", "ts": 3000},   # refetch of /a
        {"url": "https://example.com/b?page=2", "ts": 4000},  # real param: new
        {"url": "https://example.com/c/", "ts": 5000},        # new path
    ]
    for i, rows in enumerate((b0, b1)):
        (in_dir / f"b{i}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    raw = text_stream(spark, str(in_dir), max_files_per_trigger=1)
    frontier = (
        raw.select(
            F.get_json_object("value", "$.url").alias("url"),
            F.timestamp_millis(
                F.get_json_object("value", "$.ts").cast("long")
            ).alias("event_ts"),
        )
        .withColumn("canon", canonical_url(F.col("url")))
        .withWatermark("event_ts", "1 hour")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    admitted = first_seen_per_key(frontier, ["canon"], "event_ts")
    q = (
        admitted.writeStream.foreachBatch(
            lambda b, i: b.write.mode("overwrite").parquet(f"{out}/batch={i}")
        )
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r["canon"] for r in read_sink(spark, out).collect()}
    assert got == {
        "example.com/a",          # batch-0 fetch won; batch-1 refetch dropped
        "example.com/b",
        "example.com/b?page=2",   # non-tracking param is a distinct page
        "example.com/c",          # trailing slash canonicalized, admitted
    }


def test_order_wide_full_outer_emits_both_unmatched_sides(spark, tmp_path):
    """join_type="full_outer": besides the matched and detail-only rows
    left_outer emits, an INFO whose details never arrive surfaces
    null-padded on the detail side once both watermarks pass — the
    order-placed-but-no-line-items reconciliation signal. order_id
    coalesces from whichever side exists and info-only rows keep their
    own order_id (not null)."""
    t0 = "2024-01-01 10:00:00"
    t_far = "2024-01-05 10:00:00"  # 96 h later: both watermarks sail past
    info_dir, detail_dir = str(tmp_path / "info"), str(tmp_path / "detail")
    fx._write_batches(info_dir, [
        [fx.info_row(2, t0), fx.info_row(6, t0)],  # 6's detail never lands
        [fx.info_row(3, t_far)],
        [fx.info_row(4, t_far)],
        [fx.info_row(5, t_far)],
    ])
    fx._write_batches(detail_dir, [
        [fx.detail_row(99, 1, t0), fx.detail_row(90, 2, t0)],  # 1's info never
        [fx.detail_row(91, 3, t_far)],
        [fx.detail_row(92, 4, t_far)],
        [fx.detail_row(93, 5, t_far)],
    ])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    writer = order_wide_pipeline(
        file_stream(spark, info_dir, ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        file_stream(spark, detail_dir, ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        out,
        ckpt,
        join_type="full_outer",
    )
    run_to_completion(writer, timeout=180)
    rows = read_sink(spark, out).collect()
    by_detail = {r["detail_id"]: r for r in rows}
    # matched row: identical to inner mode
    assert by_detail[90]["order_status"] is not None
    assert by_detail[90]["order_id"] == 2
    # detail-only: info side null-padded, detail's own create_date
    assert by_detail[99]["order_status"] is None
    assert by_detail[99]["order_id"] == 1
    # info-only: detail side null-padded, order_id from the INFO side,
    # create_date from the info's own create_time
    info_only = [r for r in rows if r["detail_id"] is None]
    assert [r["order_id"] for r in info_only] == [6]
    assert info_only[0]["sku_id"] is None
    assert info_only[0]["order_status"] is not None
    assert str(info_only[0]["create_date"]) == "2024-01-01"


def test_cdc_corrupt_line_routes_to_dead_letter(spark, cdc_out):
    """The broken Maxwell payload vanished at the routing filters before
    round 10; it must land in corrupt/ with the raw line verbatim and a
    malformed_json diagnosis (the log-split DLQ contract, applied to
    the CDC pipeline)."""
    dlq = spark.read.option(
        "basePath", os.path.join(cdc_out, "corrupt")
    ).parquet(os.path.join(cdc_out, "corrupt", "batch=*"))
    rows = {(r["reason"], r["raw_value"]) for r in dlq.collect()}
    assert rows == {("malformed_json", "{broken maxwell payload")}


def test_sink_reads_across_additive_schema_evolution(spark, tmp_path):
    """A column added in later batches must not break reads or
    compaction against an older generation: the missing side null-fills
    (additive parquet-table evolution)."""
    out = str(tmp_path / "sink")
    spark.createDataFrame(
        [("k1", "v1", "2024-01-01")], "k string, v string, dt string"
    ).write.partitionBy("dt").parquet(os.path.join(out, "batch=0"))
    compact_sink(spark, out, ["k"], partition_col="dt")
    # later batches carry a NEW column
    spark.createDataFrame(
        [("k2", "v1", "tagged", "2024-01-02")],
        "k string, v string, extra string, dt string",
    ).write.partitionBy("dt").parquet(os.path.join(out, "batch=1"))
    rows = {r["k"]: r for r in read_sink(spark, out).collect()}
    assert rows["k1"]["extra"] is None and rows["k2"]["extra"] == "tagged"
    # re-compaction folds the evolved batch in, keeping the new column
    compact_sink(spark, out, ["k"], partition_col="dt")
    rows = {r["k"]: r for r in read_sink(spark, out).collect()}
    assert set(rows) == {"k1", "k2"} and rows["k2"]["extra"] == "tagged"


def test_compact_cli_subcommand(spark, tmp_path, cli):
    """Launcher smoke for `compact`: folds batch dirs into a committed
    generation via the manifest protocol and reports the live count."""
    out = str(tmp_path / "sink")
    spark.createDataFrame(
        [("k1", "2024-01-01"), ("k2", "2024-01-01"), ("k1", "2024-01-01")],
        "k string, dt string",
    ).write.partitionBy("dt").parquet(os.path.join(out, "batch=0"))
    with pytest.raises(SystemExit) as exc:
        cli(["compact", "--dir", out, "--keys", "k"])
    assert exc.value.code == 0
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v0", "gen=0"]
    assert read_sink(spark, out).count() == 2  # k1 deduped


def test_compact_store_cli_subcommand(spark, tmp_path, cli):
    """Launcher smoke for `compact-store`: the agg sketch store folds
    batch dirs into one committed generation with read_agg_totals
    unchanged, and the suffix anchor store folds into its bucketed
    generation with a manifest — the cron surface for the round-13
    store-maintenance jobs."""
    from pyspark.sql import functions as F

    from sparkstreaming_realtime_project_spark.streaming.incremental import (
        agg_write_batch,
        read_agg_totals,
        read_compaction_manifest,
    )

    agg = str(tmp_path / "agg")
    for b in range(3):
        agg_write_batch(
            spark.range(b * 10, b * 10 + 20).selectExpr(
                "cast(id % 4 AS string) AS k", "cast(id AS double) AS v"
            ),
            b, agg, ["k"], "v",
        )
    before = sorted(read_agg_totals(spark, agg, ["k"]).collect())
    with pytest.raises(SystemExit) as exc:
        cli(["compact-store", "--dir", agg, "--kind", "agg",
              "--keys", "k"])
    assert exc.value.code == 0
    assert sorted(read_agg_totals(spark, agg, ["k"]).collect()) == before
    names = os.listdir(agg)
    assert not [n for n in names if n.startswith("batch=")], names
    assert [n for n in names if n.startswith("gen=")] == ["gen=0"]
    assert "_MANIFEST" in names

    suffix = str(tmp_path / "suffix")
    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(20)))], "doc_id long, text string"
    )
    from sparkstreaming_realtime_project_spark.operators.dedup import (
        suffix_anchors,
    )

    anchors = suffix_anchors(docs, "text", "doc_id", 8)
    anchors.write.parquet(os.path.join(suffix, "anchors", "batch=0"))
    anchors.groupBy("g").agg(F.count(F.lit(1)).alias("n")).write.parquet(
        os.path.join(suffix, "gramdf", "batch=0")
    )
    with pytest.raises(SystemExit) as exc:
        cli(["compact-store", "--dir", suffix, "--kind", "suffix",
              "--buckets", "4"])
    assert exc.value.code == 0
    man = read_compaction_manifest(suffix)
    assert man["through_batch"] == 0 and man["buckets"] == 4
    for sub in ("anchors", "gramdf"):
        spark.sql(f"DROP TABLE IF EXISTS `{man['tables'][sub]['name']}`")

    # --fanout exists only for the generation stores: a kind whose fold
    # is a cheap merged-dir reduction must REJECT it, not silently run
    # the full fold the operator chose --fanout to avoid
    with pytest.raises(SystemExit) as exc:
        cli(["compact-store", "--dir", agg, "--kind", "agg",
              "--keys", "k", "--fanout", "2"])
    assert exc.value.code != 0
    assert "only supported for --kind suffix/minhash" in str(exc.value.code)


def test_merge_into_semantics(spark, tmp_path):
    """MERGE INTO the manifest sink: matched+flag deletes, matched
    updates, unmatched inserts, delete-of-nonexistent no-ops, unmatched
    targets survive — and live batch dirs fold into the committed
    generation."""
    out = str(tmp_path / "tbl")

    def land(batch_id, rows):
        spark.createDataFrame(rows, "k string, v string").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, f"batch={batch_id}"))

    def state():
        return {
            (r["k"], r["v"])
            for r in read_sink(spark, out).select("k", "v").collect()
        }

    land(0, [("k1", "a"), ("k2", "b"), ("k3", "c"), ("k4", "d")])
    src = spark.createDataFrame(
        [("k1", "A", False),   # matched update
         ("k2", None, True),   # matched delete
         ("k5", "E", False),   # unmatched insert
         ("k6", None, True)],  # delete of a nonexistent key: no-op
        "k string, v string, is_del boolean",
    )
    stats = merge_into(spark, out, src, ["k"], delete_col="is_del")
    assert stats == {
        "gen": 0, "updated": 1, "deleted": 1, "inserted": 1, "kept": 2
    }
    assert state() == {("k1", "A"), ("k3", "c"), ("k4", "d"), ("k5", "E")}
    # batch dirs folded into the generation and swept
    assert sorted(os.listdir(out)) == ["_MANIFEST", "_MANIFEST.v0", "gen=0"]

    # a batch landing after the merge is visible and the NEXT merge
    # folds it in
    land(1, [("k7", "g")])
    assert ("k7", "g") in state()
    stats = merge_into(
        spark, out,
        spark.createDataFrame([("k3", "C", False)],
                              "k string, v string, is_del boolean"),
        ["k"], delete_col="is_del",
    )
    assert stats["gen"] == 1 and stats["updated"] == 1 and stats["kept"] == 4
    assert state() == {
        ("k1", "A"), ("k3", "C"), ("k4", "d"), ("k5", "E"), ("k7", "g")
    }


def test_merge_into_fails_loud_on_bad_source(spark, tmp_path):
    out = str(tmp_path / "tbl")
    spark.createDataFrame([("k1", "a")], "k string, v string").write.parquet(
        os.path.join(out, "batch=0")
    )
    dup = spark.createDataFrame(
        [("k1", "x", False), ("k1", "y", False)],
        "k string, v string, is_del boolean",
    )
    with pytest.raises(ValueError, match="duplicate source key"):
        merge_into(spark, out, dup, ["k"], delete_col="is_del")
    bad_schema = spark.createDataFrame(
        [("k1", 1, False)], "k string, other int, is_del boolean"
    )
    with pytest.raises(ValueError, match="source columns"):
        merge_into(spark, out, bad_schema, ["k"], delete_col="is_del")


def test_merge_into_commit_is_atomic(spark, tmp_path, monkeypatch):
    """Crash before the manifest rename: the merged gen dir exists but
    readers still see the pre-merge table; a re-run lands cleanly. With
    retention, the pre-merge snapshot stays time-travel readable."""
    from sparkstreaming_realtime_project_spark.streaming import sinks

    out = str(tmp_path / "tbl")
    spark.createDataFrame(
        [("k1", "a"), ("k2", "b")], "k string, v string"
    ).write.parquet(os.path.join(out, "batch=0"))
    compact_sink(spark, out, ["k"], partition_col=None,
                 retain_generations=2)
    pre = {(r["k"], r["v"])
           for r in read_sink(spark, out).select("k", "v").collect()}

    src = spark.createDataFrame(
        [("k1", "A", False)], "k string, v string, is_del boolean"
    )

    def boom(*a, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(sinks, "_commit_manifest", boom)
    with pytest.raises(RuntimeError, match="injected"):
        merge_into(spark, out, src, ["k"], delete_col="is_del",
                   retain_generations=2)
    assert os.path.isdir(os.path.join(out, "gen=1"))  # torn write exists
    got = {(r["k"], r["v"])
           for r in read_sink(spark, out).select("k", "v").collect()}
    assert got == pre  # ...but is invisible
    monkeypatch.undo()

    merge_into(spark, out, src, ["k"], delete_col="is_del",
               retain_generations=2)
    got = {(r["k"], r["v"])
           for r in read_sink(spark, out).select("k", "v").collect()}
    assert got == {("k1", "A"), ("k2", "b")}
    # time travel: the pre-merge snapshot is still readable at gen 0
    old = {(r["k"], r["v"])
           for r in read_sink(spark, out, at_gen=0).select("k", "v").collect()}
    assert old == pre


def test_merge_stream_writer_end_to_end(spark, tmp_path):
    """CDC stream -> MERGE INTO table: one JSON file per micro-batch
    (maxFilesPerTrigger=1 + availableNow), committed table after the
    run equals the absolute-state fold of the stream; an in-batch
    multi-version key resolves by order_col; replaying the final batch
    (crash-recovery semantics) leaves the table byte-identical."""
    import json as _json

    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        merge_stream_writer,
    )

    src_dir = str(tmp_path / "cdc")
    os.makedirs(src_dir)
    batches = [
        # batch 0 bootstraps the table
        [{"k": "k1", "v": "a", "ts": 1, "is_del": False},
         {"k": "k2", "v": "b", "ts": 1, "is_del": False}],
        # batch 1: two versions of k1 (ts picks v=c), delete k2, add k3
        [{"k": "k1", "v": "stale", "ts": 2, "is_del": False},
         {"k": "k1", "v": "c", "ts": 3, "is_del": False},
         {"k": "k2", "v": None, "ts": 4, "is_del": True},
         {"k": "k3", "v": "d", "ts": 5, "is_del": False}],
    ]
    base = 1_700_000_000
    for i, rows in enumerate(batches):
        p = os.path.join(src_dir, f"batch-{i:03d}.json")
        with open(p, "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows) + "\n")
        os.utime(p, (base + 60 * i, base + 60 * i))

    out = str(tmp_path / "tbl")
    schema = "k string, v string, ts long, is_del boolean"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    writer = merge_stream_writer(
        out, ["k"], delete_col="is_del", order_col="ts"
    )
    q = (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def state():
        return {
            (r["k"], r["v"], r["ts"])
            for r in read_sink(spark, out).select("k", "v", "ts").collect()
        }

    expected = {("k1", "c", 3), ("k3", "d", 5)}
    assert state() == expected

    # crash-recovery replay: re-apply the final batch verbatim — the
    # absolute-state property makes the merge idempotent
    replay = spark.createDataFrame(
        [(r["k"], r["v"], r["ts"], r["is_del"]) for r in batches[1]],
        schema,
    )
    writer(replay, batch_id=1)
    assert state() == expected


def test_merge_into_bootstrap_edge_cases(spark, tmp_path):
    """First-merge bootstrap: pure upsert (no delete col) creates the
    table; an all-deletes first batch creates an EMPTY but readable
    table (schema preserved), and a later merge populates it."""
    out = str(tmp_path / "t1")
    src = spark.createDataFrame([("k1", "a")], "k string, v string")
    stats = merge_into(spark, out, src, ["k"])  # no delete col
    assert stats == {"gen": 0, "updated": 0, "deleted": 0,
                     "inserted": 1, "kept": 0}
    assert {(r["k"], r["v"]) for r in read_sink(spark, out).collect()} == {
        ("k1", "a")
    }

    out2 = str(tmp_path / "t2")
    alldel = spark.createDataFrame(
        [("k1", None, True)], "k string, v string, is_del boolean"
    )
    stats = merge_into(spark, out2, alldel, ["k"], delete_col="is_del")
    assert stats["inserted"] == 0
    assert read_sink(spark, out2).count() == 0  # empty but readable
    follow = spark.createDataFrame(
        [("k2", "b", False)], "k string, v string, is_del boolean"
    )
    stats = merge_into(spark, out2, follow, ["k"], delete_col="is_del")
    assert stats["inserted"] == 1
    assert {(r["k"], r["v"]) for r in read_sink(spark, out2).collect()} == {
        ("k2", "b")
    }


def test_merge_stream_writer_tiebreak_deterministic(spark, tmp_path):
    """ADVICE r10: two CDC rows for one key with EQUAL order_col must
    pick a DETERMINISTIC winner (payload-hash tiebreak) so a crash
    replay of the batch commits the same row — the writer is run twice
    on the same batch with opposite input row orders and must commit
    identical tables both times."""
    from sparkstreaming_realtime_project_spark.streaming.sinks import (
        merge_stream_writer,
        read_sink,
    )

    rows = [("k1", 5, "payload_a"), ("k1", 5, "payload_z"), ("k2", 1, "x")]
    schema = "k string, ver int, v string"
    winners = []
    for order in (rows, rows[::-1]):
        out = str(tmp_path / f"t_{len(winners)}")
        batch = spark.createDataFrame(order, schema).repartition(4)
        merge_stream_writer(out, ["k"], order_col="ver")(batch, 0)
        winners.append(
            {(r["k"], r["ver"], r["v"]) for r in read_sink(spark, out).collect()}
        )
    assert winners[0] == winners[1]
    assert len(winners[0]) == 2  # one row per key


def test_merge_into_bootstrap_rejects_ambiguous_source(spark, tmp_path):
    """ADVICE r10: a first batch carrying BOTH a delete row and an
    upsert row for one key must fail loud on batch 0 exactly as it
    would on batch 1+ (the dup check runs on the unfiltered source in
    the bootstrap path too)."""
    out = str(tmp_path / "t")
    src = spark.createDataFrame(
        [("k1", None, True), ("k1", "a", False)],
        "k string, v string, is_del boolean",
    )
    with pytest.raises(ValueError, match="duplicate source key"):
        merge_into(spark, out, src, ["k"], delete_col="is_del")

