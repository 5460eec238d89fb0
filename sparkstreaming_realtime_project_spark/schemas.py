"""Schema system: the reference's compile-time case-class schemas as
StructTypes (SURVEY.md §1.1-1.2), plus the driver testdata table names.

Reference citations:
- log envelope: sparkStreaming-realtime/.../app/OdsBaseLogApp.scala:111-201
- Maxwell CDC envelope: .../app/OdsBaseDbApp.scala:65-163
- beans: .../bean/{PageLog,PageDisplayLog,PageActionLog,StartLog,DauInfo,
  OrderInfo,OrderDetail,OrderWide}.scala

Deliberate upgrades over the reference (SURVEY §2.9):
- consistent ``channel`` field (reference typo ``channer`` silently drops it)
- schema-on-read via ``from_json`` with explicit StructType instead of
  unvalidated fastjson access (missing fields -> null, never NPE).
Money stays DoubleType for oracle parity (SURVEY §7 "hard parts").
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _struct(fields: list[tuple[str, object]]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# --- behavior-log envelope (OdsBaseLogApp.scala:111-201, FIXTURES.md §1) ---

COMMON_SCHEMA = _struct(
    [
        ("ar", StringType()),
        ("uid", StringType()),
        ("os", StringType()),
        ("ch", StringType()),
        ("is_new", StringType()),
        ("md", StringType()),
        ("mid", StringType()),
        ("vc", StringType()),
        ("ba", StringType()),
    ]
)

PAGE_SCHEMA = _struct(
    [
        ("page_id", StringType()),
        ("item", StringType()),
        ("item_type", StringType()),
        ("during_time", LongType()),
        ("last_page_id", StringType()),
        ("source_type", StringType()),
    ]
)

DISPLAY_SCHEMA = _struct(
    [
        ("display_type", StringType()),
        ("item", StringType()),
        ("item_type", StringType()),
        ("pos_id", StringType()),
        ("order", StringType()),
    ]
)

ACTION_SCHEMA = _struct(
    [
        ("action_id", StringType()),
        ("item", StringType()),
        ("item_type", StringType()),
        ("ts", LongType()),
    ]
)

START_SCHEMA = _struct(
    [
        ("entry", StringType()),
        ("loading_time", LongType()),
        ("open_ad_id", StringType()),
        ("open_ad_ms", LongType()),
        ("open_ad_skip_ms", LongType()),
    ]
)

LOG_ENVELOPE_SCHEMA = StructType(
    [
        StructField("common", COMMON_SCHEMA, True),
        StructField("page", PAGE_SCHEMA, True),
        StructField("displays", ArrayType(DISPLAY_SCHEMA), True),
        StructField("actions", ArrayType(ACTION_SCHEMA), True),
        StructField("start", START_SCHEMA, True),
        # err is opaque in the reference (OdsBaseLogApp.scala:111) — kept
        # as raw string so the error topic is a lossless passthrough.
        StructField("err", StringType(), True),
        StructField("ts", LongType(), True),
    ]
)

# --- Maxwell CDC envelope (OdsBaseDbApp.scala:65-71, FIXTURES.md §2) ---

CDC_ENVELOPE_SCHEMA = StructType(
    [
        StructField("database", StringType(), True),
        StructField("table", StringType(), True),
        StructField("type", StringType(), True),
        StructField("ts", LongType(), True),
        # payload stays a JSON string: each routed table re-parses with its
        # own schema (schema-on-read at the table boundary, not the envelope)
        StructField("data", StringType(), True),
        StructField("old", StringType(), True),
    ]
)

# --- order beans (bean/OrderInfo.scala:3-29, bean/OrderDetail.scala:3-16) ---

ORDER_INFO_SCHEMA = _struct(
    [
        ("id", LongType()),
        ("province_id", LongType()),
        ("order_status", StringType()),
        ("user_id", LongType()),
        ("total_amount", DoubleType()),
        ("activity_reduce_amount", DoubleType()),
        ("coupon_reduce_amount", DoubleType()),
        ("original_total_amount", DoubleType()),
        ("feight_fee", DoubleType()),
        ("feight_fee_reduce", DoubleType()),
        ("expire_time", StringType()),
        ("refundable_time", StringType()),
        ("create_time", StringType()),
        ("operate_time", StringType()),
    ]
)

ORDER_DETAIL_SCHEMA = _struct(
    [
        ("id", LongType()),
        ("order_id", LongType()),
        ("sku_id", LongType()),
        ("order_price", DoubleType()),
        ("sku_num", LongType()),
        ("sku_name", StringType()),
        ("create_time", StringType()),
        ("split_total_amount", DoubleType()),
        ("split_activity_amount", DoubleType()),
        ("split_coupon_amount", DoubleType()),
    ]
)

# --- dimension tables (FIXTURES.md §3) ---

DIM_USER_INFO_SCHEMA = _struct(
    [("id", LongType()), ("gender", StringType()), ("birthday", StringType())]
)

DIM_BASE_PROVINCE_SCHEMA = _struct(
    [
        ("id", LongType()),
        ("name", StringType()),
        ("iso_code", StringType()),
        ("iso_3166_2", StringType()),
        ("area_code", StringType()),
    ]
)

# --- driver testdata tables (TESTDATA.md) ---

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Multimodal column convention (north-star): opaque payload + typed metadata.
MULTIMODAL_META_SCHEMA = _struct(
    [
        ("modality", StringType()),   # image | audio | video | text
        ("mime", StringType()),
        ("width", IntegerType()),
        ("height", IntegerType()),
        ("duration_ms", LongType()),
        ("sha256", StringType()),
        ("n_bytes", LongType()),
    ]
)
