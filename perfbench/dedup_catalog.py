"""Workload ``dedup_catalog``: the incremental suffix-scrub dedup stream
drains two document batches with a store compaction between the
drains, then the catalog's headline queries run through the ``noop``
sink over seeded TPC-H-like tables.

Stream phase layers: session, incremental (anchor store, compaction),
sinks (batch dirs, read back with ``read_sink``).
Query phase layer: catalog (plan construction and execution).
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import time

from . import common as C
from . import gen

# bench.py's fixed order: the first query absorbs session warm-in
HEADLINE = (
    "o_dedup_first_per_day", "o_session_window", "x_dedup_ngram_jaccard",
    "x_dedup_minhash_lsh", "x_knn_bruteforce", "q1_pricing_summary",
    "j_order_wide", "a_dau_compare", "a_stats_by_item_segment",
    "x_suffix_span_pairs",
)
CHECKS_PER_RUN = 2  # catalog oracle checks per run, rotated by seed


def setup(sess: C.Session, seed: int, root: str, event_log: bool) -> dict:
    start_s = sess.restart(event_log=event_log)
    batches = gen.dedup_batches(seed)
    gen.write_doc_batch(os.path.join(root, "docs"), 0, batches[0])
    gen.catalog_tables(seed, os.path.join(root, "tables"))
    return {"root": root, "batches": batches, "start_s": start_s}


def drain(spark, out: str, docs: str):
    """``streaming_suffix_scrub`` drains the docs under *docs* into
    *out*; returns (wall s, progress, query id)."""
    from importlib import import_module

    inc = import_module(f"{C.PKG}.streaming.incremental")
    src = spark.readStream.schema("doc_id bigint, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(docs)
    p = lambda n: os.path.join(out, n)  # noqa: E731
    w = inc.streaming_suffix_scrub(src, p("store"), p("decisions"), p("clean"), p("ckpt"))
    wall, prog, ids = C.drain({"suffix": w})
    return wall, prog["suffix"], ids["suffix"]


def stream_phase(spark, st: dict, win: C.Windows) -> dict:
    """Drain batch 0, stop, compact the store, land batch 1, drain
    again. Drains and compaction are timed."""
    from importlib import import_module

    inc = import_module(f"{C.PKG}.streaming.incremental")
    out, docs = os.path.join(st["root"], "out"), os.path.join(st["root"], "docs")
    with win.span("stream"):
        w0, prog, id0 = drain(spark, out, docs)
    with win.span("stream") as sp:  # the stream is stopped: compaction is allowed
        inc.compact_suffix_store(spark, os.path.join(out, "store"))
    gen.write_doc_batch(docs, 1, st["batches"][1])
    with win.span("stream"):
        w1, prog1, id1 = drain(spark, out, docs)
    return {"wall": w0 + sp.seconds + w1, "progress": prog + prog1,
            "qids": {id0, id1}, "compact_ms": sp.seconds * 1000}


def check_stream(spark, st: dict, read_ms: list) -> dict[str, bool]:
    """One clean row per doc (``n_clean`` = doc count); every copy loses
    its spans shared with the original, no original loses any. Batch 1
    is decided after the compaction, so this also shows compaction
    changed no decision."""
    from importlib import import_module

    sinks = import_module(f"{C.PKG}.streaming.sinks")
    n_docs = len(st["batches"][0])
    t0 = time.perf_counter()
    clean = sinks.read_sink(spark, os.path.join(st["root"], "out", "clean"))
    read_ms.append((time.perf_counter() - t0) * 1000)
    sx = {r["doc_id"]: r["n_removed"] for r in clean.select("doc_id", "n_removed").collect()}
    off = gen.COPY_OFFSET
    return {
        "suffix.n_clean": len(sx) == 2 * n_docs,
        "suffix.originals": all(sx.get(i) == 0 for i in range(n_docs)),
        "suffix.copies": all((sx.get(i) or 0) > 0 for i in range(off, off + n_docs)),
    }


def catalog_specs():
    from importlib import import_module

    reg = import_module(f"{C.PKG}.plans.catalog").registry()
    by = {s.name: s for s in reg}
    return [by[n] for n in HEADLINE]


def query_phase(spark, st: dict, win: C.Windows) -> dict:
    """One pass over the headline queries in bench.py's order. Each
    query: build the plan, run it into ``noop``, clear the cache and the
    persisted handles, as bench.py does. A fixed pass count keeps every
    run's figure the same kind (the first pass in a session is colder
    than later ones)."""
    from importlib import import_module

    release = import_module(f"{C.PKG}.operators.distributed").release_persisted
    tables = os.path.join(st["root"], "tables")
    times, construct = {}, {}
    with win.span("query") as sp:
        for spec in catalog_specs():
            t0 = time.perf_counter()
            with win.span(f"construct:{spec.name}") as c:
                df = spec.spark(spark, tables)
            with win.span(f"exec:{spec.name}"):
                df.write.format("noop").mode("overwrite").save()
            times[spec.name] = time.perf_counter() - t0
            construct[spec.name] = c.seconds
            spark.catalog.clearCache()
            release()
    return {"times": times, "construct": construct, "wall_s": sp.seconds}


def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", round(v, 9))
    if isinstance(v, decimal.Decimal):
        return ("f", round(float(v), 9))
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("d", v.isoformat())
    return ("s", str(v))


def _digest(cols, rows) -> tuple:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(_cell(r[i]) for i in order) for r in rows),
    )


def check_catalog(spark, st: dict, seed: int) -> dict[str, bool]:
    """Order-insensitive digest of each checked query's Spark output
    against the DuckDB oracle SQL on the same generated tables."""
    import duckdb

    tables = os.path.join(st["root"], "tables")
    con = duckdb.connect()
    for f in os.listdir(tables):
        name = f.split(".")[0]
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables}/{f}')"
        )
    specs = catalog_specs()
    res = {}
    for k in range(CHECKS_PER_RUN):
        spec = specs[(seed * CHECKS_PER_RUN + k) % len(specs)]
        sdf = spec.spark(spark, tables)
        got = _digest(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = con.execute(spec.sql)
        want = _digest([d[0] for d in cur.description], cur.fetchall())
        res[f"catalog.{spec.name}"] = got == want
        spark.catalog.clearCache()
    con.close()
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

    stream = stream_phase(spark, st, win)
    phases["stream"] = stream["wall"]
    qp = query_phase(spark, st, win)
    phases["query"] = qp["wall_s"]
    t0 = time.perf_counter()
    read_ms: list = []
    checks = check_stream(spark, st, read_ms)
    checks.update(check_catalog(spark, st, seed))
    phases["check"] = time.perf_counter() - t0
    rss = C.peak_rss_mb(sess.jvm_pid())
    calib = C.calib_probe_s(spark)

    n_docs = sum(len(b) for b in st["batches"])
    triggers = [p["trigger"] for p in stream["progress"]]
    per_query = qp["times"]
    e2e = {
        "setup_s": C.median(setup_s),
        "stream_rows_per_s": n_docs / phases["stream"],
        "stream_batch_ms_p50": C.median(triggers),
        "query_per_s": len(per_query) / sum(per_query.values()),
        "query_ms_p50": C.median(per_query.values()) * 1000,
    }
    failed = sum(not ok for ok in checks.values())
    detail = {
        "rows_per_s": e2e["stream_rows_per_s"],
        "slowest_batch_ms_p50": e2e["stream_batch_ms_p50"],  # one stream
        "catalog_s_total": sum(per_query.values()),
        "catalog_s_geomean": math.exp(sum(math.log(v) for v in per_query.values()) / len(per_query)),
        "catalog_s": per_query,
        "failed_ratio": failed / len(checks),
        "peak_rss_mb": rss,
        "setup_s_samples": setup_s,
        "calib_probe_s": calib,
        "checks": checks,
        "phase_s": phases,
        "trigger_ms": triggers,
    }
    out = {"e2e": e2e, "detail": detail, "attempted": len(checks), "failed": failed}
    if trace:
        sess.stop()
        out["layers"] = layers(sess, st, stream, qp, read_ms, win, session_start)
        sess.restart(master="local[1]")
        wall1, _, _ = drain(sess.spark, os.path.join(work, "local1"),
                            os.path.join(st["root"], "docs"))
        out["layers"]["stream.rows_per_s_local1"] = n_docs / wall1
    return out


def layers(sess, st, stream, qp, read_ms, win, session_start) -> dict:
    jobs = C.read_event_log(sess.event_dir)
    spans = win.spans
    root = os.path.join(st["root"], "out")
    outs = [os.path.join(root, "decisions"), os.path.join(root, "clean")]
    n_docs = sum(len(b) for b in st["batches"])
    store = C.dir_usage(os.path.join(root, "store"))
    sj = C.job_totals(C.jobs_of(jobs, stream["qids"]))
    L = {
        "session.start_s": session_start,
        **C.stream_layers(
            jobs, spans, stream["qids"], stream["progress"], n_docs, C.dir_usage(*outs),
        ),
        "state.store_instances": 0,  # the dedup stream keeps no state store
        "state.rows_total": 0,
        "state.memory_bytes": 0,
        "store.files": store[0],
        "store.bytes": store[1],
        "sinks.read_ms_p50": C.median(read_ms),
        "query.construct_ms_p50": C.median(qp["construct"].values()) * 1000,
        **C.query_layers(jobs, spans, len(HEADLINE)),
    }
    per = {"incremental.suffix": {
        "batch_ms_p50": L["stream.batch_ms_p50"],
        "jobs_per_batch": sj["jobs"] / len(stream["progress"]),
        "store_files": store[0], "store_bytes": store[1],
        "compact_ms": stream["compact_ms"],
    }}
    for q in HEADLINE:
        qj1 = C.job_totals(C.jobs_in(jobs, spans, {f"construct:{q}", f"exec:{q}"}))
        per[f"catalog.{q}"] = {
            "s": qp["times"][q],
            "construct_s": qp["construct"][q],
            "eager_jobs": len(C.jobs_in(jobs, spans, {f"construct:{q}"})),
            "tasks": qj1["tasks"],
            "shuffle_write_bytes": qj1["shuffle"],
        }
    per["catalog"] = {
        "executor_cpu_ms": L["query.cpu_ms_per_query"] * len(HEADLINE),
        "driver_gap_s": L["query.driver_gap_s"],
    }
    return {**L, "breakdown": per}
