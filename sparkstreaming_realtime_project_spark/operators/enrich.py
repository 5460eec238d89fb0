"""Dimension enrichment as broadcast joins (SURVEY §2.4 J1/J2).

Reference: per-record Redis GETs — DIM:USER_INFO:<user_id> and
DIM:BASE_PROVINCE:<province_id> (DwdDauApp.scala:149-185,
DwdOrderApp.scala:112-146). That idiom is 1-2 network round-trips per
surviving record — the dominant cost at any scale (BASELINE.md).

Rebuild: stream/batch -> **broadcast hash join** against dim tables. Dims
are small by construction (users, provinces), so the probe is a hash
lookup inside whole-stage codegen — zero per-record I/O, no shuffle of
the fact side.

Build side once per query: in a stream-static join Structured Streaming
re-plans and re-executes the static side on every micro-batch, so each
trigger's broadcast job would rescan the dim and rebuild the same rows.
Each enrich function therefore ``persist()``s its dim projection
(:func:`user_side` / :func:`province_side`). The first trigger's
broadcast job fills the cache; later triggers still broadcast, but from
the cached rows. ``persist`` keeps lineage, so an evicted or lost block
is recomputed from the dim source (a ``localCheckpoint`` would instead
fail every later trigger).

Lifetime: the cached projection is registered in the session's cache
manager and lives until the caller releases it with
``user_side(dim_user).unpersist()`` (the cache is looked up by plan, so a
freshly built projection finds it), ``spark.catalog.clearCache()``, or by
stopping the session. After a release, later triggers read the dim
source again.

Snapshot semantics, the same with or without the cache: a dim is fixed
when its DataFrame is built. A parquet dim's file listing is taken when
it is read, so a dim ``batch=`` dir written after the query starts is
never joined; an in-memory dim is immutable. Restart the query over a
fresh read to join new dim rows.

Fixes carried (SURVEY §2.9): province_iso_code is populated (reference
assigns area_code twice and never sets iso_code, DwdOrderApp.scala:143-146);
missing dims produce NULLs via left join (reference NPEs,
DwdDauApp.scala:153-155); age is computed against an explicit as_of date.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.dates import age_years


def user_side(dim_user: DataFrame) -> DataFrame:
    """The user dim's build-side projection, as :func:`enrich_user`
    caches it."""
    return dim_user.select(
        F.col("id").alias("__uid"),
        F.col("gender").alias("user_gender"),
        F.col("birthday").alias("__birthday"),
    )


def province_side(dim_province: DataFrame) -> DataFrame:
    """The province dim's build-side projection, as
    :func:`enrich_province` caches it."""
    return dim_province.select(
        F.col("id").alias("__pid"),
        F.col("name").alias("province_name"),
        F.col("iso_code").alias("province_iso_code"),
        F.col("iso_3166_2").alias("province_3166_2"),
        F.col("area_code").alias("province_area_code"),
    )


def enrich_user(
    facts: DataFrame,
    dim_user: DataFrame,
    fact_key: str = "user_id",
    as_of: Column | None = None,
) -> DataFrame:
    """J1: left broadcast join on user dim; derives user_gender, user_age
    (DwdDauApp.scala:149-165)."""
    dim = user_side(dim_user).persist()
    return (
        facts.join(F.broadcast(dim), facts[fact_key] == dim["__uid"], "left")
        .withColumn("user_age", age_years(F.col("__birthday"), as_of))
        .drop("__uid", "__birthday")
    )


def enrich_province(
    facts: DataFrame, dim_province: DataFrame, fact_key: str = "province_id"
) -> DataFrame:
    """J2: left broadcast join on province dim (DwdDauApp.scala:167-185)."""
    dim = province_side(dim_province).persist()
    return facts.join(
        F.broadcast(dim), facts[fact_key] == dim["__pid"], "left"
    ).drop("__pid")
