"""The four reference streaming apps as Structured Streaming pipelines
(SURVEY §3, §2.6).

Each pipeline is a function (stream DataFrame[s] + static dims) ->
StreamingQuery builder, parameterized over source/sink so tests drive them
with file streams + availableNow and production wires Kafka. The
reference's hand-rolled state (Redis dedup set O1, Redis join buffers J4,
offset hashes K6) all collapses into Spark's checkpointed state store.

Scale: dedup and join state are partitioned by key across the cluster;
watermarks bound state size exactly like the reference's 24 h TTLs
(DwdOrderApp.scala:209,247). No per-record external I/O anywhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dates import derive_dt_hr
from ..operators.caching import cache_scope, cached
from ..operators.cdc import decode_op, parse_cdc, route_dims, route_facts
from ..schemas import CDC_ENVELOPE_SCHEMA
from ..operators.enrich import enrich_province, enrich_user
from ..operators.log_split import parse_log, split_all
from .sinks import idempotent_partitioned_writer, split_writer, write_batch


def dau_pipeline(
    raw_stream: DataFrame,
    dim_user: DataFrame,
    dim_province: DataFrame,
    out_dir: str,
    checkpoint: str,
    watermark: str = "25 hours",
    as_of=None,
):
    """DwdDauApp (DwdDauApp.scala:30-231) re-expressed:

    parse -> session-entry filter (P9) -> watermark + dropDuplicates on
    (mid, dt) (O1: one row per device per event-date; watermark > 24 h
    covers late events of the previous day, SURVEY §7) -> broadcast dim
    joins (J1/J2) -> dt/hr derivation (F2) -> idempotent partitioned sink
    keyed by (mid, dt) (K3/K4).

    The dims are fixed when the pipeline is built: every trigger joins
    the same snapshot, cached once per query (``operators/enrich.py``).
    Restart over a fresh dim read to join new dim rows.
    """
    parsed = parse_log(raw_stream)
    # err IS NULL: DwdDauApp consumes DWD_PAGE_LOG_TOPIC, which the split
    # never routes err-bearing records to (OdsBaseLogApp.scala:111-115).
    page = parsed.filter(
        F.col("err").isNull() & F.col("page").isNotNull()
    ).select(
        F.col("common.mid").alias("mid"),
        F.col("common.uid").cast("long").alias("user_id"),
        F.col("common.ar").cast("long").alias("province_id"),
        F.col("common.ch").alias("channel"),
        F.col("common.is_new").alias("is_new"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.timestamp_millis(F.col("ts")).alias("event_ts"),
    )
    entries = page.filter(F.col("last_page_id").isNull())  # P9
    # dropDuplicatesWithinWatermark: dedup state for a (mid, dt) key is
    # EVICTED once the watermark passes its event time — plain
    # dropDuplicates on keys without the event-time column would grow
    # state forever. Watermark > 24 h reproduces the reference's one-row-
    # per-device-per-event-date with its 24 h TTL (DwdDauApp.scala:87-135).
    deduped = (
        entries.withColumn("dt", F.date_format("event_ts", "yyyy-MM-dd"))
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["mid", "dt"])
    )
    enriched = enrich_user(deduped, dim_user, "user_id", as_of=as_of)
    enriched = enrich_province(enriched, dim_province, "province_id")
    dau = derive_dt_hr(enriched.drop("dt"), "event_ts").drop("last_page_id")
    # K7: per-batch row-count metric, the reference's console count probes
    # (DwdDauApp.scala:71-74,82-85) as an observe() visible in
    # StreamingQueryProgress.observedMetrics instead of stdout.
    dau = dau.observe("dau_metrics", F.count(F.lit(1)).alias("rows_written"))
    return (
        dau.writeStream.foreachBatch(
            idempotent_partitioned_writer(out_dir, ["mid", "dt"], "dt")
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def log_split_pipeline(raw_stream: DataFrame, out_root: str, checkpoint: str):
    """OdsBaseLogApp (OdsBaseLogApp.scala:30-213): one source, five routed
    outputs from a single cached batch (§3.2), plus a SIXTH dead-letter
    output: records no routed branch will carry (unparseable lines,
    device-id-less envelopes) land in ``corrupt/`` with the raw line
    and a diagnosis — ingest loss is observable and replayable, where
    the reference NPEs in the executor and a naive rebuild drops
    silently."""
    from ..operators.log_split import corrupt_log

    outputs = {
        name: (lambda b, n=name: split_all(b)[n])
        for name in ("error", "page", "display", "action", "start")
    }
    outputs["corrupt"] = corrupt_log
    route = split_writer(outputs, out_root)

    # foreachBatch receives the RAW batch; parse once (split_writer cuts
    # the parsed batch), fan out six ways.
    def write(batch_df: DataFrame, batch_id: int) -> None:
        route(parse_log(batch_df, keep_raw=True), batch_id)

    return (
        raw_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def cdc_route_pipeline(
    raw_stream: DataFrame,
    fact_tables: "list[str] | Callable[[], list[str]]",
    dim_tables: "list[str] | Callable[[], list[str]]",
    out_root: str,
    checkpoint: str,
):
    """OdsBaseDbApp (OdsBaseDbApp.scala:35-170): Maxwell decode (P10),
    fact rows routed to per-topic outputs (P11 — locally one directory per
    computed topic name), dim rows upserted by id (P12/K5).

    S7/O6 dynamic config: the reference re-reads FACT:TABLES / DIM:TABLES
    from Redis and re-broadcasts them EVERY batch (OdsBaseDbApp.scala:
    83-108), so routing follows config changes without a restart. Pass a
    zero-arg callable (e.g. one that reads a config table/file) and it is
    re-resolved inside every micro-batch; a plain list keeps the static
    behavior."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        facts_now = fact_tables() if callable(fact_tables) else fact_tables
        dims_now = dim_tables() if callable(dim_tables) else dim_tables
        # dead-letter FIRST, from the raw batch: envelopes that decode to
        # no routable (table, op) would otherwise vanish at the routing
        # filters — same observable-ingest-loss contract as the log
        # split's corrupt/ output
        parsed_raw = batch_df.select(
            F.col("value").alias("_raw"),
            F.from_json(F.col("value"), CDC_ENVELOPE_SCHEMA).alias("m"),
        ).select("_raw", "m.*")
        reason = F.when(
            F.col("table").isNull() & F.col("type").isNull(),
            F.lit("malformed_json"),
        ).otherwise(F.lit("unroutable_envelope"))
        write_batch(
            parsed_raw.filter(
                F.col("table").isNull() | F.col("type").isNull()
            ).select(F.col("_raw").alias("raw_value"), reason.alias("reason")),
            f"{out_root}/corrupt", batch_id,
        )
        with cache_scope():
            decoded = cached(decode_op(parse_cdc(batch_df)))
            # Single pass per side: partitionBy writes every topic/table
            # directory in ONE job — no driver round-trip, no dependence on
            # topic cardinality (replaces a collect()+filter-per-topic loop
            # that rescanned the batch N times).
            write_batch(
                route_facts(decoded, facts_now), f"{out_root}/facts", batch_id,
                partition_by="topic",
            )
            # Dim upsert is last-write-wins by ts (Redis SET semantics,
            # OdsBaseDbApp.scala:144-163) — deterministic winner, not
            # dropDuplicates' arbitrary row. Equal-ts ties break on op
            # precedence (delete > update > insert > bootstrap-insert:
            # the op that would have reached Redis last wins) then the
            # serialized value, so reruns pick the same row.
            dims = route_dims(decoded, dims_now)
            op_rank = (
                F.when(F.col("op") == "D", 2)
                .when(F.col("op") == "U", 1)
                .otherwise(0)  # I (insert / bootstrap-insert)
            )
            w = Window.partitionBy("table", "id").orderBy(
                F.col("ts").desc(), op_rank.desc(), F.col("value").desc()
            )
            latest = (
                dims.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            write_batch(
                latest, f"{out_root}/dims", batch_id, partition_by="table"
            )

    return (
        raw_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )


def order_wide_pipeline(
    info_stream: DataFrame,
    detail_stream: DataFrame,
    out_dir: str,
    checkpoint: str,
    lateness: str = "24 hours",
    dim_user: DataFrame | None = None,
    dim_province: DataFrame | None = None,
    as_of=None,
    join_type: str = "inner",
):
    """DwdOrderApp (DwdOrderApp.scala:35-280): the cross-batch 24 h-state
    join (J3/J4) as a watermarked stream-stream inner join.

    Both sides carry event-time from create_time; state for unmatched rows
    lives in the state store until the watermark passes (the Redis
    SETEX/EXPIRE 24 h buffers, :205-248). Under the session's join state
    format 3 (``session.py``) each shuffle partition keeps ONE RocksDB
    store holding both sides' key-to-row-count and row buffers as
    virtual column families; a checkpoint started under format 2 keeps
    its four stores per partition (one per buffer) for its lifetime, as
    the offset log pins the format. Join condition bounds detail
    time within [info_time - lateness, info_time + lateness] so Spark can
    evict state (required for stream-stream joins). Output rows are
    OrderWide-shaped (J5) keyed detail_id, partitioned by create_date —
    fixing the reference's full-datetime index suffix bug (§2.9).

    When dims are supplied, the info side is enriched BEFORE the
    stream-stream join — the reference's per-record Redis dim GETs
    (DwdOrderApp.scala:112-146, J1/J2) as stream-static broadcast joins;
    province_iso_code is populated (reference bug §2.9 fixed). The dims
    are fixed when the pipeline is built and cached once per query
    (``operators/enrich.py``).

    ``join_type="left_outer"`` upgrades the join to detail-preserving: a
    detail whose info never arrives within the grace window is emitted
    null-padded once BOTH watermarks pass its event time (Structured
    Streaming's outer stream-stream semantics) instead of silently
    dropped — the reference has no analog (an unmatched Redis detail
    just expires, DwdOrderApp.scala:247); this is the stream twin of the
    per-batch full outer (J3). ``join_type="full_outer"`` additionally
    emits an info whose details never arrive (order placed, no line
    items landed — the reconciliation signal): order_id coalesces from
    whichever side is present and the sink upsert keys on
    (order_id, detail_id) so info-only rows — whose detail_id is null —
    stay one-per-order instead of colliding on the null key. Inner-mode
    output is unchanged: create_date falls back to the detail's own
    create_time only when the info side is null, which never happens
    under inner."""
    if dim_user is not None:
        info_stream = enrich_user(info_stream, dim_user, "user_id", as_of=as_of)
    if dim_province is not None:
        info_stream = enrich_province(info_stream, dim_province, "province_id")
    info = info_stream.withColumn(
        "info_ts", F.to_timestamp("create_time")
    ).withWatermark("info_ts", lateness)
    detail = detail_stream.withColumn(
        "detail_ts", F.to_timestamp("create_time")
    ).withWatermark("detail_ts", lateness)

    d = detail.select(
        F.col("id").alias("detail_id"),
        "order_id",
        "sku_id",
        "order_price",
        "sku_num",
        "sku_name",
        "split_total_amount",
        "split_activity_amount",
        "split_coupon_amount",
        F.col("create_time").alias("__detail_create_time"),
        "detail_ts",
    )
    dim_cols = [
        c
        for c in (
            "user_gender",
            "user_age",
            "province_name",
            "province_iso_code",
            "province_3166_2",
            "province_area_code",
        )
        if c in info.columns
    ]
    i = info.select(
        F.col("id").alias("order_id"),
        "province_id",
        "order_status",
        "user_id",
        "total_amount",
        F.col("create_time"),
        "info_ts",
        *dim_cols,
    )
    joined = (
        d.join(
            i,
            (d.order_id == i.order_id)
            & (d.detail_ts >= i.info_ts - F.expr("INTERVAL 24 HOURS"))
            & (d.detail_ts <= i.info_ts + F.expr("INTERVAL 24 HOURS")),
            join_type,
        )
        # order_id must survive WHICHEVER side is present (full_outer's
        # info-only rows have a null detail side); drop both ambiguous
        # originals and keep the coalesced one under the contract name
        .withColumn("__order_id", F.coalesce(d.order_id, i.order_id))
        .drop("order_id")
        .withColumnRenamed("__order_id", "order_id")
    )
    wide = (
        joined.withColumn(
            "create_time", F.coalesce("create_time", "__detail_create_time")
        )
        .withColumn("create_date", F.substring("create_time", 1, 10))
        .withColumn("create_hour", F.date_format(F.to_timestamp("create_time"), "HH"))
        .drop("detail_ts", "info_ts", "__detail_create_time")
    )
    upsert_keys = (
        ["order_id", "detail_id"] if join_type == "full_outer" else ["detail_id"]
    )
    return (
        wide.writeStream.foreachBatch(
            idempotent_partitioned_writer(out_dir, upsert_keys, "create_date")
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
