"""Shared pieces of the workloads: session set-up, timing windows,
event-log and streaming-progress summaries, memory and host probes."""

from __future__ import annotations

import json
import os
import resource
import statistics
import time

PKG = "sparkstreaming_realtime_project_spark"


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Nearest-rank quantile; 0.0 for no samples."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return float(xs[min(len(xs) - 1, max(0, int(round(q * len(xs) + 0.5)) - 1))])


class Session:
    """Owns the SparkSession of one run. ``restart`` stops the current
    context and builds a new one through the package's ``get_spark``;
    the JVM stays up, so only the first start pays for launching it."""

    def __init__(self, work: str, cores: int):
        self.work, self.cores = work, cores
        self.spark = None
        self.event_dir = os.path.join(work, "eventlog")

    def conf(self, event_log: bool = False) -> dict:
        c = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={self.work}",
        }
        if event_log:
            os.makedirs(self.event_dir, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    def restart(self, master: str | None = None, event_log: bool = False) -> float:
        from importlib import import_module

        get_spark = import_module(f"{PKG}.session").get_spark
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=master or f"local[{self.cores}]",
            extra_conf=self.conf(event_log),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it: the
        gateway JVM exits once its stdin closes."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def jvm_pid(self) -> int:
        return int(self.spark._jvm.java.lang.ProcessHandle.current().pid())


class Windows:
    """Labelled wall-clock windows (epoch ms) used to attribute Spark
    jobs from the event log to the benchmark step that launched them."""

    def __init__(self):
        self.spans: list[tuple[str, int, int]] = []

    def span(self, label: str):
        return _Span(self, label)


class _Span:
    def __init__(self, owner: Windows, label: str):
        self.owner, self.label = owner, label

    def __enter__(self):
        self.t0 = time.time()
        self.p0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.p0
        self.owner.spans.append(
            (self.label, int(self.t0 * 1000), int(time.time() * 1000) + 1)
        )


def read_event_log(event_dir: str) -> dict:
    """Jobs (submit/complete ms, task count, executor CPU, shuffle
    bytes, and the streaming query that ran them, if any) from the
    uncompressed JSON event log of the last app."""
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    path = max(files, key=os.path.getmtime)
    jobs, stage_job = {}, {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"], "end": None,
                             "tasks": 0, "cpu_ns": 0, "shuffle": 0,
                             "query": (ev.get("Properties") or {}).get("sql.streaming.queryId")}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is None:
                    continue
                job["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                job["cpu_ns"] += m.get("Executor CPU Time", 0)
                job["shuffle"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs


def jobs_of(jobs: dict, query_ids) -> list[dict]:
    """Jobs run by the streaming queries with these ids."""
    return [j for j in jobs.values() if j["query"] in query_ids]


def jobs_in(jobs: dict, spans, labels) -> list[dict]:
    """Jobs submitted inside any span whose label is in *labels*."""
    ws = [(a, b) for lab, a, b in spans if lab in labels]
    return [j for j in jobs.values() if any(a <= j["submit"] <= b for a, b in ws)]


def driver_gap_s(jobs: list[dict], spans, labels) -> float:
    """Wall of the labelled spans minus the union of the intervals of
    the jobs in them: time in which the driver kept no job running."""
    wall = sum(b - a for lab, a, b in spans if lab in labels)
    covered, cur_a, cur_b = 0, None, None
    for a, b in sorted((j["submit"], j["end"] or j["submit"]) for j in jobs):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (wall - covered) / 1000)


def job_totals(jobs: list[dict]) -> dict:
    return {
        "jobs": len(jobs),
        "tasks": sum(j["tasks"] for j in jobs),
        "cpu_ms": sum(j["cpu_ns"] for j in jobs) / 1e6,
        "shuffle": sum(j["shuffle"] for j in jobs),
    }


def progress_rows(query) -> list[dict]:
    """One dict per trigger from ``StreamingQuery.recentProgress``."""
    out = []
    for p in query.recentProgress:
        d = p.durationMs or {}
        ops = [
            {
                "rows": s.numRowsTotal,
                "mem": s.memoryUsedBytes,
                "instances": s.numStateStoreInstances,
                "commit_ms": s.commitTimeMs,
            }
            for s in p.stateOperators or []
        ]
        out.append({
            "batch": p.batchId, "input": p.numInputRows,
            "trigger": d.get("triggerExecution", 0), "add": d.get("addBatch", 0),
            "offsets": d.get("latestOffset", 0) + d.get("walCommit", 0),
            "commit": d.get("commitOffsets", 0), "planning": d.get("queryPlanning", 0),
            "state": ops,
        })
    return out


def drain(writers: dict) -> tuple[float, dict, dict]:
    """Start the streaming writers with ``availableNow`` and wait for
    all: (wall seconds, progress per name, query id per name)."""
    t0 = time.perf_counter()
    queries = {n: w.trigger(availableNow=True).start() for n, w in writers.items()}
    for n, q in queries.items():
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"{n} stream failed: {q.exception()}")
    wall = time.perf_counter() - t0
    return (
        wall,
        {n: progress_rows(q) for n, q in queries.items()},
        {n: str(q.id) for n, q in queries.items()},
    )


def dir_usage(*roots: str) -> tuple[int, int]:
    """(files, bytes) under *roots*, checksum side files excluded."""
    files = size = 0
    for root in roots:
        for dp, _, fs in os.walk(root):
            for f in fs:
                if not f.endswith(".crc"):
                    files += 1
                    size += os.path.getsize(os.path.join(dp, f))
    return files, size


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Driver JVM plus Python high-water RSS, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    if jvm_pid:
        with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def calib_probe_s(spark) -> float:
    """bench.py's constant-work CPU probe: one warm pass, median of 3.
    Recorded as host context beside each run, never as a metric."""
    runs = []
    for i in range(4):
        t0 = time.perf_counter()
        spark.range(0, 64_000_000, 1, 32).selectExpr(
            "sum(id * 2654435761 % 1000003) AS s"
        ).collect()
        if i:
            runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


UNITS = {
    # end to end
    "setup_s": "s",
    "stream_rows_per_s": "1/s",
    "stream_batch_ms_p50": "ms",
    "query_per_s": "1/s",
    "query_ms_p50": "ms",
    # per layer
    "session.start_s": "s",
    "stream.batch_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.offsets_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.jobs_per_batch": "count",
    "stream.tasks_per_batch": "count",
    "stream.cpu_ms_per_batch": "ms",
    "stream.shuffle_bytes_per_batch": "bytes",
    "stream.driver_gap_s": "s",
    "stream.input_amplification": "ratio",
    "stream.files_per_batch": "count",
    "stream.bytes_per_batch": "bytes",
    "stream.rows_per_s_local1": "1/s",
    "state.store_instances": "count",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "store.files": "count",
    "store.bytes": "bytes",
    "sinks.read_ms_p50": "ms",
    "query.construct_ms_p50": "ms",
    "query.eager_jobs": "count",
    "query.jobs_per_query": "count",
    "query.tasks_per_query": "count",
    "query.cpu_ms_per_query": "ms",
    "query.shuffle_bytes_per_query": "bytes",
    "query.driver_gap_s": "s",
}


def stream_layers(jobs: dict, spans, query_ids, progress: list[dict], gen_rows: int,
                  written: tuple[int, int]) -> dict:
    """``stream.*`` metrics: trigger phases from the progress of every
    trigger, the jobs the streaming queries ran from the event log, and
    the (files, bytes) the drains *written* to sinks. The drains run
    inside the ``stream`` span."""
    n = len(progress)
    data = max(1, sum(1 for p in progress if p["input"] > 0))
    sj = jobs_of(jobs, query_ids)
    tot = job_totals(sj)
    return {
        "stream.batch_ms_p50": median(p["trigger"] for p in progress),
        "stream.add_batch_ms_p50": median(p["add"] for p in progress),
        "stream.offsets_ms_p50": median(p["offsets"] for p in progress),
        "stream.commit_ms_p50": median(p["commit"] for p in progress),
        "stream.planning_ms_p50": median(p["planning"] for p in progress),
        "stream.jobs_per_batch": tot["jobs"] / n,
        "stream.tasks_per_batch": tot["tasks"] / n,
        "stream.cpu_ms_per_batch": tot["cpu_ms"] / n,
        "stream.shuffle_bytes_per_batch": tot["shuffle"] / n,
        "stream.driver_gap_s": driver_gap_s(sj, spans, {"stream"}),
        "stream.input_amplification": sum(p["input"] for p in progress) / gen_rows,
        "stream.files_per_batch": written[0] / data,
        "stream.bytes_per_batch": written[1] / data,
    }


def query_layers(jobs: dict, spans, n_queries: int, passes: int = 1) -> dict:
    """``query.*`` job metrics: jobs submitted inside the ``query`` span
    per request or query, and those inside ``construct:*`` spans (plan
    builders that run jobs before returning) per pass."""
    qj = jobs_in(jobs, spans, {"query"})
    t = job_totals(qj)
    cons = {lab for lab, _, _ in spans if lab.startswith("construct:")}
    return {
        "query.eager_jobs": len(jobs_in(jobs, spans, cons)) / passes,
        "query.jobs_per_query": t["jobs"] / n_queries,
        "query.tasks_per_query": t["tasks"] / n_queries,
        "query.cpu_ms_per_query": t["cpu_ms"] / n_queries,
        "query.shuffle_bytes_per_query": t["shuffle"] / n_queries,
        "query.driver_gap_s": driver_gap_s(qj, spans, {"query"}),
    }
