"""SparkSession factory.

Single place where scale-oriented defaults live. Tests and bench run on
``local[N]`` but every knob here is chosen for the 1000-executor / 100 TB
case and merely *sized down* locally:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast-join demotion/promotion replace hand-tuning.
- ``spark.sql.shuffle.partitions`` defaults to the context's
  ``defaultParallelism``: one partition per task slot (on a cluster, the
  deployment's ``spark.default.parallelism``). For batch plans it is only
  the pre-AQE upper bound; AQE coalesces to data size. For a stream it
  is the number of state stores per stateful operator (a stream-stream
  join keeps four per partition), each opened and committed on every
  trigger whatever the batch holds, and the first start pins it in the
  checkpoint's offset log: a restarted query keeps its original count,
  so scaling a stream out to more slots needs a new checkpoint.
- Arrow enabled for the (few) pandas_udf paths — extension operators only;
  the reference surface itself compiles to pure JVM expressions.
- RocksDB state store: streaming state (dedup keys, join buffers) lives
  off-heap instead of on the JVM heap — at 100 TB the 24 h join buffer
  is far bigger than any executor heap; the HDFS-backed default would
  OOM where RocksDB spills. Changelog checkpointing is left at Spark's
  default (off): every commit uploads a RocksDB snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkstreaming-realtime-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        # the slot count is known only once the context is up
        n = shuffle_partitions or spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
    return spark
