"""Order-wide assembly: info x detail join + dim enrichment.

Reference: DwdOrderApp.scala — per-batch fullOuterJoin on order_id
(:170-175, J3) + hand-rolled cross-batch buffering in Redis with 24 h TTL
(:177-254, J4), merged into a 29-col OrderWide bean (bean/OrderWide.
scala:42-60, J5).

Rebuild: the batch shape is a plain 1:N equi-join (Catalyst picks
broadcast vs sort-merge by stats; at 100 TB both sides shuffle on order_id
once — AQE handles skewed hot orders). The cross-batch/lateness semantics
live in streaming/pipelines.py as a watermarked stream-stream join; this
module owns the join + column assembly used by both modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def order_wide(info: DataFrame, detail: DataFrame) -> DataFrame:
    """J4/J5: inner 1:N join detail.order_id = info.id; detail's id becomes
    detail_id, info's id becomes order_id (bean/OrderWide.scala:48-60);
    create_date/create_hour derived from info.create_time (F4,
    DwdOrderApp.scala:148-155). Partitions by create_date downstream —
    using the DATE, not the reference's buggy full-datetime suffix
    (DwdOrderApp.scala:263-268, SURVEY §2.9)."""
    d = detail.select(
        F.col("id").alias("detail_id"),
        "order_id",
        "sku_id",
        "order_price",
        "sku_num",
        "sku_name",
        F.col("create_time").alias("detail_create_time"),
        "split_total_amount",
        "split_activity_amount",
        "split_coupon_amount",
    )
    i = info.select(
        F.col("id").alias("order_id"),
        "province_id",
        "order_status",
        "user_id",
        "total_amount",
        "activity_reduce_amount",
        "coupon_reduce_amount",
        "original_total_amount",
        "feight_fee",
        "expire_time",
        "create_time",
        "operate_time",
    )
    return (
        d.join(i, "order_id", "inner")
        .withColumn("create_date", F.substring("create_time", 1, 10))
        .withColumn(
            "create_hour", F.date_format(F.to_timestamp("create_time"), "HH")
        )
    )
