"""Workload ``ingest_replay``: the four reference apps drain a seeded
backlog one after another (fresh checkpoints), then two dashboard
clients query the sinks they wrote through the publisher HTTP server.

Stream phase layers: session, pipelines, state (RocksDB), sinks (write).
Query phase layers: sinks (read_sink), serving, publisher, http_api.
"""

from __future__ import annotations

import http.client
import itertools
import json
import os
import random
import re
import threading
import time
from urllib.parse import quote, urlencode

import pyarrow as pa
import pyarrow.parquet as pq

from . import common as C
from . import gen

_S, _L, _I, _D = pa.string(), pa.int64(), pa.int32(), pa.float64()
# the sinks' file schemas as the dau and order_wide apps write them
# (partition columns live in the directory names)
DAU_SCHEMA = pa.schema([
    ("mid", _S), ("user_id", _L), ("province_id", _L), ("channel", _S),
    ("is_new", _S), ("event_ts", pa.timestamp("us", tz="UTC")), ("user_gender", _S),
    ("user_age", _I), ("province_name", _S), ("province_iso_code", _S),
    ("province_3166_2", _S), ("province_area_code", _S), ("hr", _S),
])
WIDE_SCHEMA = pa.schema([
    ("detail_id", _L), ("sku_id", _L), ("order_price", _D), ("sku_num", _L),
    ("sku_name", _S), ("split_total_amount", _D), ("split_activity_amount", _D),
    ("split_coupon_amount", _D), ("province_id", _L), ("order_status", _S),
    ("user_id", _L), ("total_amount", _D), ("create_time", _S), ("user_gender", _S),
    ("user_age", _I), ("province_name", _S), ("province_iso_code", _S),
    ("province_3166_2", _S), ("province_area_code", _S), ("order_id", _L),
    ("create_hour", _S),
])
# The stateful apps that feed the dashboard. The stateless log-split and
# CDC-routing apps are left out: a run that keeps a full comparison
# (22 runs per workload) under an hour holds two apps' drains plus the
# dashboard phase, not four.
APPS = ("dau", "order_wide")
DATES = ("2024-01-03", "2024-01-04", gen.TD)


def write_history(rows: list[dict], schema: pa.Schema, part: str, sink: str) -> None:
    """Earlier micro-batches in the sink's ``batch=N/<part>=V/`` layout,
    one parquet file per directory."""
    groups: dict = {}
    for r in rows:
        groups.setdefault((r["batch"], r[part]), []).append(r)
    for (b, v), rs in groups.items():
        d = os.path.join(sink, f"batch={b}", f"{part}={v}")
        os.makedirs(d, exist_ok=True)
        table = pa.Table.from_pylist(
            [{c: r.get(c) for c in schema.names} for r in rs], schema=schema
        )
        pq.write_table(table, os.path.join(d, "part-00000.snappy.parquet"))


def setup(sess: C.Session, seed: int, root: str, event_log: bool) -> dict:
    """One complete set-up: a (re)started session, the backlog files and
    the dashboard sinks' history of uncompacted ``batch=N`` dirs."""
    from pyspark.sql import functions as F

    start_s = sess.restart(event_log=event_log)
    exp = gen.ingest_backlog(seed, os.path.join(root, "in"))
    users, provinces = gen.dim_rows(seed)
    dau_hist, wide_hist = gen.history_frames(seed)
    for rows, schema, part, name in (
        (dau_hist, DAU_SCHEMA, "dt", "dau"),
        (wide_hist, WIDE_SCHEMA, "create_date", "order_wide"),
    ):
        write_history(rows, schema, part, os.path.join(root, "out", name))
    return {
        "root": root, "exp": exp, "start_s": start_s,
        "dims": (users, provinces),
        "as_of": F.lit(gen.AS_OF),
    }


def _writer(spark, app: str, st: dict, out_root: str | None = None):
    from importlib import import_module

    P = import_module(f"{C.PKG}.streaming.pipelines")
    S = import_module(f"{C.PKG}.sources.streams")
    schemas = import_module(f"{C.PKG}.schemas")
    root = out_root or st["root"]
    inp = lambda n: os.path.join(st["root"], "in", n)  # noqa: E731
    out = lambda n: os.path.join(root, "out", n)  # noqa: E731
    ck = os.path.join(root, "ckpt", app)
    users, provinces = st["dims"]  # frames of this session, not of a stopped one
    du = spark.createDataFrame(users, "id bigint, gender string, birthday string")
    dp = spark.createDataFrame(
        provinces, "id bigint, name string, iso_code string, iso_3166_2 string, area_code string"
    )
    # one file per trigger, so dedup and join state cross batches
    if app == "dau":
        return P.dau_pipeline(
            S.text_stream(spark, inp("log"), 1), du, dp, out("dau"), ck, as_of=st["as_of"]
        )
    return P.order_wide_pipeline(
        S.file_stream(spark, inp("info"), schemas.ORDER_INFO_SCHEMA, max_files_per_trigger=1),
        S.file_stream(spark, inp("detail"), schemas.ORDER_DETAIL_SCHEMA, max_files_per_trigger=1),
        out("order_wide"), ck, dim_user=du, dim_province=dp, as_of=st["as_of"],
    )


def drain(spark, app: str, st: dict, out_root: str | None = None):
    """*app* drains the whole backlog: (wall s, progress, query id)."""
    wall, prog, ids = C.drain({app: _writer(spark, app, st, out_root)})
    return wall, prog[app], ids[app]


# --- sink correctness ---------------------------------------------------------


def check_sinks(st: dict) -> dict[str, bool]:
    """Every sink against the generator's own counts, read with DuckDB
    straight from the parquet files the apps wrote."""
    import duckdb

    out = lambda n: os.path.join(st["root"], "out", n)  # noqa: E731
    exp, res = st["exp"], {}
    con = duckdb.connect()

    def rows(glob: str, cols: str = "count(*)", where: str = "true"):
        return con.execute(
            f"SELECT {cols} FROM read_parquet('{glob}', hive_partitioning=true) WHERE {where}"
        ).fetchall()

    # the stream's batch dirs; the history starts at batch=100
    dau = [(m, str(d)) for m, d in rows(f"{out('dau')}/batch=*/*/*.parquet", "mid, dt", "batch < 100")]
    res["dau.keys"] = set(dau) == exp["dau_keys"] and len(dau) == len(set(dau))
    ids = [i for (i,) in rows(f"{out('order_wide')}/batch=*/*/*.parquet", "detail_id", "batch < 100")]
    res["order_wide.details"] = set(ids) == exp["order_wide"] and len(ids) == len(set(ids))
    con.close()
    return res


def _stream_batches(sink: str) -> list[str]:
    """Batch dirs the stream wrote (history dirs start at batch=100)."""
    return [
        os.path.join(sink, d)
        for d in os.listdir(sink)
        if d.startswith("batch=") and int(d.split("=")[1]) < 100
    ]


# --- dashboard clients and their oracle ----------------------------------------

_CJK = re.compile("([぀-ヿ㐀-䶿一-鿿])")


def _tokens(s: str) -> list[str]:
    """ES-standard-like analysis written independently of the package:
    lower-case, one token per CJK character, whitespace split."""
    return [t for t in _CJK.sub(r" \1 ", s.lower()).split() if t]


def _matches(sku: str, query: str) -> bool:
    toks = set(_tokens(sku))
    return all(t in toks for t in _tokens(query))


# Each request kind walks a small fixed grid of parameters, in a
# seeded order: every run covers about the same grid, so the seed moves
# the data and the order, not the mix of cheap and costly requests.
D1, D2, D3 = DATES
GRIDS = {
    "dau": [(D1,), (D2,), (D3,)],
    "stats": [("小米", D3, "gender"), ("手机", D3, "age"), ("华为", D2, "gender"),
              ("iphone pro", D3, "age"), ("redmi", D2, "age"), ("小米手机", D3, "gender")],
    "detail": [("手机", D3, 1), ("小米", D3, 6), ("华为", D2, 2),
               ("iphone pro", D3, 10), ("redmi", D2, 1), ("手机", D2, 6)],
    "keyset": [("手机", D3), ("小米", D2), ("华为", D3),
               ("iphone pro", D2), ("redmi", D3), ("小米手机", D3)],
}


def request_stream(rng: random.Random, start: int):
    """Endless request mix: the four request kinds in a fixed rotation,
    each kind cycling through its grid in a seeded order. Yields
    (path, None) for single requests and ("keyset", params) to start a
    keyset walk."""
    order = {k: rng.sample(g, len(g)) for k, g in GRIDS.items()}
    for n in itertools.count(start):
        kind = ("dau", "stats", "detail", "keyset")[n % 4]
        grid = order[kind]
        args = grid[(n // 4) % len(grid)]
        if kind == "dau":
            yield f"/dauRealtime?td={args[0]}", None
        elif kind == "stats":
            item, date, t = args
            yield "/statsByItem?" + urlencode(
                {"itemName": item, "date": date, "t": t}, quote_via=quote), None
        elif kind == "detail":  # shallow and deep offset pages
            item, date, page = args
            yield "/detailByItem?" + urlencode(
                {"date": date, "itemName": item, "pageNo": page, "pageSize": 10},
                quote_via=quote), None
        else:
            item, date = args
            yield "keyset", {"date": date, "itemName": item, "pageSize": 10}


def _get(port: int, path: str):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def client_loop(port: int, rng: random.Random, start: int, deadline: float, log: list, lock):
    """Closed loop: the next request is sent when the previous returns.
    A dropped connection or non-200 status is a failed request."""
    reqs = request_stream(rng, start)

    def one(path):
        t0 = time.perf_counter()
        try:
            status, body = _get(port, path)
        except (OSError, http.client.HTTPException):
            status, body = None, b""
        rec = (path, status, (time.perf_counter() - t0) * 1000, body)
        with lock:
            log.append(rec)
        return rec

    while time.perf_counter() < deadline:
        path, params = next(reqs)
        if path != "keyset":
            one(path)
            continue
        q = dict(params, afterTime="", afterId="")
        for _ in range(3):  # first page plus up to two follow-ups
            rec = one("/detailByItem?" + urlencode(q, quote_via=quote))
            if rec[1] != 200 or time.perf_counter() >= deadline:
                break
            last = json.loads(rec[3]).get("last")
            if not last:
                break
            q = dict(params, afterTime=last["create_time"], afterId=last["detail_id"])


class Oracle:
    """Expected responses computed with DuckDB straight from the sink
    parquet files, independently of the publisher path."""

    def __init__(self, root: str):
        import duckdb

        self.con = duckdb.connect()
        out = os.path.join(root, "out")
        self.con.execute(
            "CREATE VIEW dau AS SELECT mid, hr, CAST(dt AS VARCHAR) AS dt FROM read_parquet("
            f"'{out}/dau/batch=*/dt=*/*.parquet', hive_partitioning=true)"
        )
        self.con.execute(
            "CREATE VIEW wide AS SELECT detail_id, order_id, sku_name, create_time, "
            "split_total_amount, user_gender, user_age, "
            "CAST(create_date AS VARCHAR) AS dt FROM read_parquet("
            f"'{out}/order_wide/batch=*/create_date=*/*.parquet', hive_partitioning=true)"
        )
        self.skus = [r[0] for r in self.con.execute("SELECT DISTINCT sku_name FROM wide").fetchall()]

    def _skus(self, item: str) -> list[str]:
        return [s for s in self.skus if s is not None and _matches(s, item)]

    def dau(self, td: str) -> dict:
        from datetime import date, timedelta

        yd = (date.fromisoformat(td) - timedelta(days=1)).isoformat()
        hist = lambda d: {  # noqa: E731
            hr: n for hr, n in self.con.execute(
                "SELECT hr, count(mid) FROM dau WHERE dt = ? GROUP BY hr", [d]
            ).fetchall()
        }
        total = self.con.execute("SELECT count(mid) FROM dau WHERE dt = ?", [td]).fetchone()[0]
        return {"dauTotal": total, "dauTd": hist(td), "dauYd": hist(yd)}

    def matched(self, date: str, item: str):
        skus = self._skus(item)
        if not skus:
            return []
        marks = ",".join("?" * len(skus))
        return self.con.execute(
            "SELECT detail_id, order_id, sku_name, create_time, split_total_amount, "
            f"user_gender, user_age FROM wide WHERE dt = ? AND sku_name IN ({marks}) "
            "ORDER BY create_time DESC, detail_id ASC",
            [date, *skus],
        ).fetchall()

    def stats(self, item: str, date: str, t: str) -> list:
        sums: dict = {}
        for _, _, _, _, amt, g, age in self.matched(date, item):
            if t == "gender":
                name = {"F": "女", "M": "男"}.get(g, g)
            elif age is not None and age < 20:
                name = "20岁以下"
            elif age is not None and age <= 29:
                name = "20岁到29岁"
            else:
                name = "30岁及30岁以上"
            sums[name] = sums.get(name, 0.0) + amt
        return sorted(sums.items(), key=lambda kv: (kv[0] is not None, kv[0] or ""))

    def check(self, path: str, body: bytes) -> bool:
        from urllib.parse import parse_qs, urlparse

        url = urlparse(path)
        qs = {k: v[0] for k, v in parse_qs(url.query, keep_blank_values=True).items()}
        got = json.loads(body)
        if url.path == "/dauRealtime":
            return got == self.dau(qs["td"])
        if url.path == "/statsByItem":
            want = self.stats(qs["itemName"], qs["date"], qs["t"])
            return len(got) == len(want) and all(
                g["name"] == n and abs(g["value"] - v) < 0.011
                for g, (n, v) in zip(got, want)
            )
        rows = self.matched(qs["date"], qs["itemName"])
        size = int(qs.get("pageSize", 20))
        if "afterTime" in qs:
            if qs["afterTime"]:
                at, aid = qs["afterTime"], int(qs["afterId"])
                rows = [r for r in rows if r[3] < at or (r[3] == at and r[0] > aid)]
            page = rows[:size]
        else:
            if got.get("total") != len(rows):
                return False
            off = (int(qs.get("pageNo", 1)) - 1) * size
            page = rows[off:off + size]
        det = got["detail"]
        return len(det) == len(page) and all(
            d["detail_id"] == r[0] and d["order_id"] == r[1] and d["create_time"] == r[3]
            and d["sku_name"].replace("<em>", "").replace("</em>", "") == r[2]
            and "<em>" in d["sku_name"]
            for d, r in zip(det, page)
        )


def serve(spark, st: dict, seed: int, seconds: float, win: C.Windows, trace: bool) -> dict:
    from importlib import import_module

    from pyspark.sql import functions as F

    sinks = import_module(f"{C.PKG}.streaming.sinks")
    http_api = import_module(f"{C.PKG}.http_api")
    out = lambda n: os.path.join(st["root"], "out", n)  # noqa: E731
    read_ms = {"dau": [], "wide": []}

    def dau_provider():
        t0 = time.perf_counter()
        df = sinks.read_sink(spark, out("dau"))
        read_ms["dau"].append((time.perf_counter() - t0) * 1000)
        return df

    def wide_provider():
        # The order-wide sink partitions by create_date, which partition
        # discovery types as DATE; the publisher filters on a string dt.
        t0 = time.perf_counter()
        df = sinks.read_sink(spark, out("order_wide"))
        df = df.withColumn("dt", F.col("create_date").cast("string")).drop("create_date")
        read_ms["wide"].append((time.perf_counter() - t0) * 1000)
        return df

    server = http_api.publisher_server(dau_provider, wide_provider)
    thread = http_api.serve_in_background(server)
    port = server.server_address[1]
    log, lock = [], threading.Lock()
    try:
        warm = [f"/dauRealtime?td={gen.TD}",
                "/statsByItem?" + urlencode({"itemName": "小米", "date": gen.TD, "t": "age"}, quote_via=quote),
                "/detailByItem?" + urlencode({"date": gen.TD, "itemName": "手机"}, quote_via=quote)]
        for p in warm:
            _get(port, p)
        for v in read_ms.values():
            v.clear()
        with win.span("query") as sp:
            deadline = time.perf_counter() + seconds
            clients = [
                threading.Thread(
                    target=client_loop,
                    args=(port, random.Random(seed * 101 + i), 2 * i, deadline, log, lock),
                )
                for i in range(2)
            ]
            for c in clients:
                c.start()
            for c in clients:
                c.join()
        layers = layer_probe(spark, dau_provider, wide_provider, port, win) if trace else {}
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)
    return {"log": log, "wall_s": sp.seconds, "read_ms": read_ms, "probe": layers}


def layer_probe(spark, dau_provider, wide_provider, port, win: C.Windows) -> dict:
    """Traced run only: time the serving plan builders, the publisher
    functions and the HTTP round trip for one request of each route."""
    from importlib import import_module

    serving = import_module(f"{C.PKG}.plans.serving")
    pub = import_module(f"{C.PKG}.plans.publisher")
    dau, wide = dau_provider(), wide_provider()
    calls = {
        "dau_realtime": (lambda: serving.dau_realtime(dau, gen.TD),
                         lambda: pub.dau_realtime_json(dau, gen.TD),
                         f"/dauRealtime?td={gen.TD}"),
        "stats_by_item": (lambda: serving.stats_by_item(wide, "小米", gen.TD, "gender"),
                          lambda: pub.stats_by_item_json(wide, "小米", gen.TD, "gender"),
                          "/statsByItem?" + urlencode({"itemName": "小米", "date": gen.TD, "t": "gender"}, quote_via=quote)),
        "detail_by_item": (lambda: serving.detail_by_item(wide, gen.TD, "手机", page_no=6, page_size=10),
                           lambda: pub.detail_by_item_json(wide, gen.TD, "手机", page_no=6, page_size=10),
                           "/detailByItem?" + urlencode({"date": gen.TD, "itemName": "手机", "pageNo": 6, "pageSize": 10}, quote_via=quote)),
        "detail_keyset": (lambda: serving.detail_by_item_keyset(wide, gen.TD, "手机", page_size=10),
                          lambda: pub.detail_by_item_keyset_json(wide, gen.TD, "手机", page_size=10),
                          "/detailByItem?" + urlencode({"date": gen.TD, "itemName": "手机", "afterTime": "", "afterId": "", "pageSize": 10}, quote_via=quote)),
    }
    res = {}
    for name, (build, call, path) in calls.items():
        cons, pubs, https = [], [], []
        for _ in range(3):
            with win.span(f"construct:{name}") as sp:
                build()
            cons.append(sp.seconds * 1000)
            with win.span(f"publisher.{name}") as sp:
                call()
            pubs.append(sp.seconds * 1000)
            t0 = time.perf_counter()
            _get(port, path)
            https.append((time.perf_counter() - t0) * 1000)
        res[name] = {"construct_ms": C.median(cons), "ms": C.median(pubs),
                     "http_ms": C.median(https)}
    return res


# --- one run -------------------------------------------------------------------


def run(sess: C.Session, seed: int, seconds: float, trace: bool, work: str, setups: int) -> dict:
    win = C.Windows()
    setup_s = []
    for i in range(setups):
        t0 = time.perf_counter()
        st = setup(sess, seed, os.path.join(work, f"s{i}"), event_log=trace and i == setups - 1)
        setup_s.append(time.perf_counter() - t0)
        if i == 0:
            session_start = st["start_s"]
    spark = sess.spark

    phases = {"setup": sum(setup_s)}
    stream, qids, wall = {}, {}, 0.0
    for app in APPS:
        with win.span("stream"):
            w, stream[app], qids[app] = drain(spark, app, st)
        wall += w
    phases["stream"] = wall
    srv = serve(spark, st, seed, seconds, win, trace)
    phases["query"] = srv["wall_s"]
    t0 = time.perf_counter()
    sink_ok = check_sinks(st)
    oracle, verdict, bad = Oracle(st["root"]), {}, 0
    for path, status, _, body in srv["log"]:
        if status != 200:
            bad += 1
            continue
        if path not in verdict:
            verdict[path] = oracle.check(path, body)
        bad += not verdict[path]
    phases["check"] = time.perf_counter() - t0
    rss = C.peak_rss_mb(sess.jvm_pid())
    calib = C.calib_probe_s(spark)

    exp = st["exp"]
    gen_rows = sum(exp["rows"].values())
    lat = [ms for _, _, ms, _ in srv["log"]]
    n_req = len(lat)
    triggers = {a: [p["trigger"] for p in stream[a]] for a in APPS}
    e2e = {
        "setup_s": C.median(setup_s),
        "stream_rows_per_s": gen_rows / wall,
        "stream_batch_ms_p50": C.median(t for ts in triggers.values() for t in ts),
        "query_per_s": n_req / srv["wall_s"],
        "query_ms_p50": C.median(lat),
    }
    failed = bad + sum(not ok for ok in sink_ok.values())
    detail = {
        "rows_per_s": e2e["stream_rows_per_s"],
        "slowest_batch_ms_p50": max(C.median(t) for t in triggers.values()),
        "requests_per_s": e2e["query_per_s"],
        "request_ms_p50": e2e["query_ms_p50"],
        "request_ms_p90": C.quantile(lat, 0.9),
        "request_samples": n_req,
        "failed_ratio": failed / (n_req + len(sink_ok)),
        "peak_rss_mb": rss,
        "setup_s_samples": setup_s,
        "calib_probe_s": calib,
        "checks": {k: v for k, v in sink_ok.items() if not v},
        "distinct_requests": len(verdict),
        "phase_s": phases,
        "trigger_ms": triggers,
    }
    out = {"e2e": e2e, "detail": detail, "attempted": n_req + len(sink_ok), "failed": failed}
    if trace:
        sess.stop()
        out["layers"] = layers(sess, st, stream, qids, srv, win, session_start)
        sess.restart(master="local[1]")
        wall1, _, _ = drain(sess.spark, "dau", st, os.path.join(work, "local1"))
        out["layers"]["stream.rows_per_s_local1"] = exp["rows"]["dau"] / wall1
    return out


def layers(sess, st, stream, qids, srv, win, session_start) -> dict:
    jobs = C.read_event_log(sess.event_dir)
    spans = win.spans
    out_root = os.path.join(st["root"], "out")
    sink_dirs = [d for a in APPS for d in _stream_batches(os.path.join(out_root, a))]
    stateful = [stream[a] for a in APPS]
    last_state = [o for ps in stateful for o in ps[-1]["state"]]
    probe = srv["probe"]
    L = {
        "session.start_s": session_start,
        **C.stream_layers(
            jobs, spans, set(qids.values()),
            [p for a in APPS for p in stream[a]],
            sum(st["exp"]["rows"].values()), C.dir_usage(*sink_dirs),
        ),
        "state.store_instances": sum(
            max(sum(o["instances"] for o in p["state"]) for p in ps) for ps in stateful
        ),
        "state.rows_total": sum(o["rows"] for o in last_state),
        "state.memory_bytes": sum(o["mem"] for o in last_state),
        **dict(zip(("store.files", "store.bytes"), C.dir_usage(os.path.join(st["root"], "ckpt")))),
        "sinks.read_ms_p50": C.median(srv["read_ms"]["dau"] + srv["read_ms"]["wide"]),
        "query.construct_ms_p50": C.median(v["construct_ms"] for v in probe.values()),
        **C.query_layers(jobs, spans, len(srv["log"]), passes=3),
    }
    # per-app and per-route breakdown (printed beside the metrics)
    per = {}
    for a in APPS:
        ps = stream[a]
        aj = C.job_totals(C.jobs_of(jobs, {qids[a]}))
        per[f"pipelines.{a}"] = {
            "batch_ms_p50": C.median(p["trigger"] for p in ps),
            "add_batch_ms_p50": C.median(p["add"] for p in ps),
            "offsets_ms_p50": C.median(p["offsets"] for p in ps),
            "commit_ms_p50": C.median(p["commit"] for p in ps),
            "jobs_per_batch": aj["jobs"] / len(ps),
            "tasks_per_batch": aj["tasks"] / len(ps),
            "input_amplification": sum(p["input"] for p in ps) / st["exp"]["rows"][a],
        }
        last = ps[-1]["state"]
        per[f"state.{a}"] = {
            "rows_total": sum(o["rows"] for o in last),
            "memory_bytes": sum(o["mem"] for o in last),
            "commit_ms_p50": C.median(sum(o["commit_ms"] for o in p["state"]) for p in ps),
            "store_instances": max(sum(o["instances"] for o in p["state"]) for p in ps),
        }
        f, b = C.dir_usage(*_stream_batches(os.path.join(out_root, a)))
        n = max(1, sum(1 for p in ps if p["input"] > 0))
        per[f"sinks.{a}"] = {"files_per_batch": f / n, "bytes_per_batch": b / n}
    per["sinks.read_sink_ms"] = {k: C.median(v) for k, v in srv["read_ms"].items()}
    for name, v in probe.items():
        per[f"serving.{name}"] = {"construct_ms": v["construct_ms"]}
        per[f"publisher.{name}"] = {
            "ms": v["ms"], "jobs": len(C.jobs_in(jobs, spans, {f"publisher.{name}"})) / 3,
        }
    per["http_api"] = {"overhead_ms": C.median(v["http_ms"] - v["ms"] for v in probe.values())}
    return {**L, "breakdown": per}
