"""Canonical point schema and derived columns.

Reference data model (SURVEY.md §1; /root/reference/lib/orestes-utils.js):
a *point* is ``{time, value, ...tags}``; a *series* is the tag-set minus
time/value; a *bucket* is the day index rounded down to the space's
granularity.

Canonical Spark schema:

    time_ms   LONG                 -- epoch milliseconds (UTC)
    value     DOUBLE
    tags      MAP<STRING,STRING>   -- dynamic tag keys, like the reference
    series_id STRING               -- sorted "k=v" join, the attr string
    bucket    INT                  -- partition column (days, granularity-rounded)

``time_ms`` (not TIMESTAMP) is canonical because the reference's read
output is ``[epoch_ms, value]`` pairs and epoch-ms longs sidestep
timezone pitfalls; helpers convert at the edges.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orestes_spark.config import MS_IN_DAY

POINT_SCHEMA = T.StructType(
    [
        T.StructField("time_ms", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

STORED_SCHEMA = T.StructType(
    list(POINT_SCHEMA.fields)
    + [
        T.StructField("series_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

SERIES_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("series_id", T.StringType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
    ]
)


def series_id_col(tags: Column) -> Column:
    """Canonical series identity: sorted ``k=v`` joined by commas.

    Matches the test model of the reference's Bubo attr string
    (/root/reference/test/orestes-test-utils.js:55-61). Pure built-in
    functions → stays inside whole-stage codegen.
    """
    entries = F.array_sort(F.map_entries(tags))  # sorts by key (keys unique)
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["key"], F.lit("="), e["value"])),
        ",",
    )


def series_id(tags: dict[str, str]) -> str:
    """``series_id_col`` for one driver-side tag dict. Python orders
    str by code point, which for valid Unicode is the UTF-8 byte order
    Spark's array_sort uses."""
    return ",".join(f"{k}={v}" for k, v in sorted(tags.items()))


def _bucket_long(time_ms: Column, granularity_days: int) -> Column:
    day = F.floor(time_ms / F.lit(MS_IN_DAY))
    g = F.lit(granularity_days)
    return F.floor(day / g) * g


def bucket_of(time_ms: int, granularity_days: int) -> int:
    """``bucket_col`` for one driver-side int time within ±2**53.
    Spark's ``/`` is a double division; Python's int ``/`` rounds the
    exact quotient the same way, so a time a hair below a day boundary
    lands in the same bucket on both sides."""
    day = math.floor(time_ms / MS_IN_DAY)
    return math.floor(day / granularity_days) * granularity_days


def bucket_col(time_ms: Column, granularity_days: int) -> Column:
    """Day index floored to a multiple of granularity
    (/root/reference/lib/orestes-utils.js:49-53 semantics)."""
    return _bucket_long(time_ms, granularity_days).cast("int")


def bucketable_time_col(time_ms: Column, granularity_days: int) -> Column:
    """``time_ms``, or NULL where its bucket overflows the INT partition
    column (|time| beyond ~1.8e17 ms): such a time is an invalid
    timestamp, not a CAST_OVERFLOW that aborts the whole batch."""
    b = _bucket_long(time_ms, granularity_days)
    return F.when(b.between(-(2**31), 2**31 - 1), time_ms)


def normalize_time_col(time_any: Column) -> Column:
    """Epoch-ms LONG or ISO-8601 STRING or TIMESTAMP → epoch-ms LONG.

    Mirrors normalize_timestamp (/root/reference/lib/orestes-utils.js:81-88):
    numbers pass through as epoch ms, strings are parsed as timestamps,
    unparseable input becomes NULL (caller turns NULL into a validation
    error instead of throwing — per-point error semantics, S4).
    """
    s = time_any.cast("string")
    return F.when(
        s.rlike(r"^-?\d+(\.\d+)?$"),
        s.try_cast("double").try_cast("long"),
    ).otherwise(F.unix_millis(F.try_to_timestamp(s)))


def with_derived(df: DataFrame, granularity_days: int) -> DataFrame:
    """Add series_id and bucket to a canonical (time_ms, value, tags) frame."""
    return df.withColumn("series_id", series_id_col(F.col("tags"))).withColumn(
        "bucket", bucket_col(F.col("time_ms"), granularity_days)
    )


def points_from_wide(df: DataFrame, time_col: str = "time", value_col: str = "value") -> DataFrame:
    """Adapt a wide frame (one column per tag) to the canonical shape.

    Every column other than ``time_col``/``value_col`` becomes a tag
    (cast to string; NULL-valued tags are dropped from the map, matching
    the reference where an absent key simply isn't in the doc).
    """
    tag_cols = [c for c in df.columns if c not in (time_col, value_col)]
    pairs: list[Column] = []
    for c in tag_cols:
        pairs.append(
            F.when(F.col(c).isNotNull(), F.struct(F.lit(c).alias("key"), F.col(c).cast("string").alias("value")))
        )
    tags = F.map_from_entries(F.filter(F.array(*pairs), lambda x: x.isNotNull()))
    return df.select(
        normalize_time_col(F.col(time_col)).alias("time_ms"),
        F.col(value_col).cast("double").alias("value"),
        tags.alias("tags"),
    )
