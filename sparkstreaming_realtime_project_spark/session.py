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
  is the number of state stores per stateful operator, each opened and
  committed on every trigger whatever the batch holds, and the first
  start pins it in the checkpoint's offset log: a restarted query keeps
  its original count, so scaling a stream out to more slots needs a new
  checkpoint.
- Arrow enabled for the (few) pandas_udf paths — extension operators only;
  the reference surface itself compiles to pure JVM expressions.
- RocksDB state store: streaming state (dedup keys, join buffers) lives
  off-heap instead of on the JVM heap — at 100 TB the 24 h join buffer
  is far bigger than any executor heap; the HDFS-backed default would
  OOM where RocksDB spills.
- Stream-stream joins keep ONE RocksDB store per partition
  (``spark.sql.streaming.join.stateFormatVersion=3``: the four join
  buffers as virtual column families) instead of four, so the order-wide
  join opens and commits a quarter of the stores per trigger. Set only
  with the RocksDB provider, the one format 3 supports. Spark pins the
  format in each checkpoint's offset log like the partition count: a
  checkpoint started under format 2 keeps its four stores per partition
  and its state across restarts; only a new checkpoint gets one store
  per partition.
- Local checkpoints commit by rename. pip PySpark ships no native Hadoop
  library, so Hadoop's local filesystem forks ``readlink``/``chmod``/
  ``ls`` for file-status and permission calls. Spark's default
  FileContext-based checkpoint manager spent about 43 ms and 20 process
  forks per atomic file write on a 4-core host; the FileSystem-based
  manager (temp file, then POSIX rename, which is atomic and
  overwrites) spent about 12 ms and 4. It writes the offset, commit and
  source logs and the RocksDB snapshot uploads, so it is chosen when the
  session's default filesystem is ``file``. Any other filesystem keeps
  Spark's default: HDFS's ``FileSystem.rename`` does not overwrite, and
  the snapshot upload relies on overwriting. A checkpoint given as a
  non-local URI under a local default filesystem needs ``extra_conf`` to
  set the manager back.
- Changelog checkpointing is left at Spark's default (off): every commit
  uploads a RocksDB snapshot. On top of the two defaults above, turning
  it on cut the order-wide state commit from ~390 to ~30 ms per trigger
  but added ~120 ms of store loads (summed over the stores) per
  trigger, and the median trigger wall of the dashboard apps did not
  fall (1290 -> 1359 ms, 5 pairs on a 4-core host).

The fixed and derived defaults (slot count, join state format,
checkpoint manager) and the app name are applied only to a session
``get_spark`` starts; called on a running session it changes only
``shuffle_partitions`` and the ``extra_conf`` entries. An ``extra_conf``
entry always wins.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark import SparkContext
from pyspark.sql import SparkSession

PROVIDER = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
JOIN_STATE_FORMAT = "spark.sql.streaming.join.stateFormatVersion"
CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
RENAME_COMMITS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def started_defaults(provider: str, default_fs: str, slots: int) -> dict[str, str]:
    """The confs ``get_spark`` derives for a session it starts, from the
    session's state-store provider, default filesystem URI and task
    slots."""
    conf = {SHUFFLE_PARTITIONS: str(slots)}
    if provider == ROCKSDB:
        conf[JOIN_STATE_FORMAT] = "3"
    if urlparse(default_fs).scheme == "file":
        conf[CHECKPOINT_MANAGER] = RENAME_COMMITS
    return conf


def get_spark(
    app_name: str = "sparkstreaming-realtime-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    extra = extra_conf or {}
    running = SparkContext._active_spark_context is not None
    conf: dict[str, str] = {}
    if running:
        # a running session keeps its confs and app name: a builder
        # carrying options would copy every one of them onto it
        spark = SparkSession.builder.getOrCreate()
    else:
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
            .config(PROVIDER, ROCKSDB)
            .config(
                "spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            )
        )
        for k, v in extra.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        # the slot count and default filesystem are known only once the
        # context is up
        conf = started_defaults(
            spark.conf.get(PROVIDER),
            spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS"),
            spark.sparkContext.defaultParallelism,
        )
    if shuffle_partitions:
        conf[SHUFFLE_PARTITIONS] = str(shuffle_partitions)
    # an extra_conf entry wins; the builder already applied them to a
    # session it started
    if running:
        conf.update(extra)
    for k, v in conf.items():
        if running or k not in extra:
            spark.conf.set(k, v)
    return spark
