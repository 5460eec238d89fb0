"""Incremental SCD2 dimension-history maintenance.

The reference's dim store keeps ONLY the latest value per key (Redis
``SET DIM:<TABLE>:<id>``, OdsBaseDbApp.scala:144-163 — K5); the batch
entry j_scd2_history derives full validity intervals from a complete
change log after the fact. This sink maintains those intervals
INCREMENTALLY as CDC batches arrive: the point-in-time dim table a
training pipeline joins as-of against, kept current per micro-batch
instead of rebuilt from the full log.

Mechanics (foreachBatch):

1. the batch's changes touch a set of keys; ONLY those keys' histories
   are rewritten (dim-sized work per batch, never the full table);
2. an affected key's prior intervals are turned back into their run
   START events, merged with the new changes, and the value runs are
   recomputed exactly like the batch operator (lag-compare -> starts,
   lead -> [from, to) half-open intervals, NULL to = current);
3. the key's new history lands in the batch's own subdirectory —
   idempotent under replay (a restarted batch overwrites itself);
   readers take each key's rows from the newest batch that touched it
   (read_scd2), so an interrupted write is never half-visible.

Late data caveat (documented, not hidden): history is reconstructed
from run STARTS, so a same-value change that was collapsed into a run
cannot re-split it if an out-of-order change later lands inside the
run. Bound lateness with a watermark upstream if exact late-data
semantics matter; in-order CDC (the Maxwell topology here) is exact.

At 100 TB: per-batch ROW work is affected-key-sized (the semi-join on
changed keys precedes every aggregate), but the store's batch dirs
accumulate and each batch lists/scans them at the file level —
periodically compact superseded dirs (the compact_sink winner-rewrite
idiom over (key, valid_from_us)) or keep the store in a table format
with real compaction; everything else is keyed windows and equi-joins
on the dim key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.caching import cache_scope, cached
from .sinks import batch_dir, batch_ids, read_batches, write_batch


def scd2_intervals(changes: DataFrame) -> DataFrame:
    """Value runs -> half-open validity intervals for a change frame
    shaped (key, value, ts_us, ord): one row per run, [valid_from_us,
    valid_to_us), NULL to = current, is_current flag. Same recurrence
    as operators.cdc.scd2_history, factored over epoch-us columns."""
    w = Window.partitionBy("key").orderBy("ts_us", "ord", "value")
    starts = (
        changes.withColumn("prev", F.lag("value").over(w))
        .filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
        .drop("prev")
    )
    w2 = Window.partitionBy("key").orderBy("ts_us", "ord", "value")
    return starts.select(
        "key",
        "value",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w2).alias("valid_to_us"),
        "ord",
        F.lead("ts_us").over(w2).isNull().cast("int").alias("is_current"),
    )


# empty-history placeholder for the pre-first-commit window; the string
# key/value default is a documented fallback — pass key_type /
# value_type to read_scd2 for a store keyed by another type so the empty
# frame's schema matches the post-commit one (downstream joins/unions
# written against the real type never see a schema flip). SELECT ...
# WHERE false folds to an empty LocalRelation, so no job runs to read
# it (an empty createDataFrame is a Python-backed RDD scan).
def _empty_history(
    spark, key_type: str = "string", value_type: str = "string"
) -> DataFrame:
    return spark.sql(
        f"SELECT CAST(NULL AS {key_type}) AS key, "
        f"CAST(NULL AS {value_type}) AS value, "
        "CAST(NULL AS BIGINT) AS valid_from_us, "
        "CAST(NULL AS BIGINT) AS valid_to_us, CAST(NULL AS BIGINT) AS ord, "
        "CAST(NULL AS INT) AS is_current WHERE false"
    )


def _committed(store_dir: str) -> list[int]:
    """Ids of the batch dirs carrying _SUCCESS — the only dirs anyone
    may read here (a crashed in-flight write has no _SUCCESS and stays
    invisible; a rule of this store, not of the shared batch listing)."""
    return [
        b for b in batch_ids(store_dir)
        if os.path.exists(os.path.join(batch_dir(store_dir, b), "_SUCCESS"))
    ]


def read_scd2(
    spark,
    store_dir: str,
    key_type: str = "string",
    value_type: str = "string",
) -> DataFrame:
    """Current history: per key, the rows of the NEWEST COMMITTED batch
    that touched it (earlier batches' rows for that key are superseded
    whole — step 3 above). Before any batch has committed — store dir
    missing, or only crashed partials — the history is EMPTY, not an
    error: readers started ahead of the sink just see no rows yet.
    ``key_type``/``value_type`` fix the empty frame's schema for stores
    keyed by non-string types (default keeps the string fallback)."""
    committed = _committed(store_dir)
    if not committed:
        return _empty_history(spark, key_type, value_type)
    df = read_batches(spark, store_dir, committed)
    latest = df.groupBy("key").agg(F.max("batch").alias("batch"))
    return df.join(latest, ["key", "batch"]).drop("batch")


def scd2_apply_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    order_col: str,
) -> None:
    """One batch of SCD2 maintenance (the foreachBatch body, exposed so
    the replay/crash discipline is testable without a stream)."""
    spark = batch_df.sparkSession
    with cache_scope():
        new = cached(batch_df.select(
            F.col(key_col).alias("key"),
            F.col(value_col).alias("value"),
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            F.col(order_col).cast("long").alias("ord"),
        ))
        if new.isEmpty():
            return
        affected = new.select("key").distinct()
        # committed dirs only (a crashed first batch leaves a dir with no
        # readable files — schema inference would fail) and strictly earlier
        # batches only: a replayed batch must not read its own crashed
        # attempt's partial output, nor overwrite a path its plan still
        # reads.
        earlier = [b for b in _committed(store_dir) if b < batch_id]
        if earlier:
            # affected-key semi-join FIRST so the max-batch aggregate runs
            # on changed keys' rows, not the whole store
            hist = read_batches(spark, store_dir, earlier).join(affected, "key")
            latest = hist.groupBy("key").agg(F.max("batch").alias("batch"))
            prior = (
                hist.join(latest, ["key", "batch"])
                .select("key", "value", F.col("valid_from_us").alias("ts_us"), "ord")
            )
            merged = prior.unionByName(new)
        else:
            merged = new
        write_batch(scd2_intervals(merged), store_dir, batch_id)


def scd2_sink(
    change_stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str,
    value_col: str,
    ts_col: str,
    order_col: str,
):
    """Build the streaming query maintaining the SCD2 store. The change
    stream carries (key_col, value_col, ts_col timestamp, order_col
    tiebreak for equal timestamps)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        scd2_apply_batch(
            batch_df, batch_id, store_dir, key_col, value_col, ts_col, order_col
        )

    return (
        change_stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
