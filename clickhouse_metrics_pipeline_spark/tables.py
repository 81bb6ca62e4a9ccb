"""Shared table loaders for the workload catalogs.

Lives outside workloads.py so workloads_ext.py (and any future catalog
module) can import it without a circular dependency on the catalog
import order.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark import plan_memo

# memoized plans (plan_memo.py) over the read-only test-data dirs;
# workloads that write and re-read intermediates never pass through here


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return plan_memo.memo(
        ("table", spark, sf_dir, name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def workload_plan_memo(fn):
    """Memoize a PURE ``(spark, sf_dir) -> DataFrame`` workload's plan;
    a hit is a fresh Dataset. Only for builders with NO side effects and
    NO data-dependent decisions (audited: the 22 TPC-H builders)."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan_memo.memo(
            ("workload", spark, sf_dir, fn), lambda: fn(spark, sf_dir)
        ).select("*")

    return wrapper


def frame_memo(fn):
    """Memoize a ``(spark, sf_dir) -> DataFrame`` frame BUILDER by
    (session, dir); callers build further plans on the frame, so a hit
    returns the same object."""

    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        return plan_memo.memo(
            ("frame", spark, sf_dir, fn), lambda: fn(spark, sf_dir)
        )

    return wrapper


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts normalized to a microsecond TimestampType.

    The driver's events.parquet stores TIMESTAMP(NANOS); Spark reads it as
    bigint nanos (legacy.parquet.nanosAsLong) - truncate to micros, same
    flooring DuckDB applies when surfacing ns timestamps to clients."""

    def build() -> DataFrame:
        ev = _t(spark, sf_dir, "events")
        dt = dict(ev.dtypes)["ts"]
        if dt == "bigint":
            # integer `div`, NOT `/`: float division loses ULPs at 1e18
            ev = ev.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dt == "timestamp_ntz":
            # micros-precision files read as NTZ; session tz is pinned
            # UTC so this cast is value-identity - gives every sf the
            # same ts type
            ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        return ev

    return plan_memo.memo(("events", spark, sf_dir), build)


def value_cents(col="value"):
    """Exact integer-cents form of a 2-decimal double column — see
    oracle_fragments.sum_value_sql for why sums ride on this."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("bigint")


def sum_value(col="value"):
    """Order-independent exact sum of a 2-decimal value, rounded to 4.
    Column twin of oracle_fragments.sum_value_sql; S/100.0 has <= 2 true
    decimals so the round is boundary-free."""
    from pyspark.sql import functions as F

    return F.round(F.sum(value_cents(col)) / F.lit(100.0), 4)


def avg_from_cents(sum_cents, n):
    """Exact half-up 4-decimal average from pre-aggregated (cents,
    count) columns — sign(S) * floor((200 |S| + n)/(2 n)) / 10000,
    entirely free of float rounding boundaries; twin of
    avg_from_cents_sql (see oracle_fragments for the exactness
    argument). The magnitude form makes HALF_UP (round away from zero)
    hold for negative sums too — for S >= 0 it is identical to the
    plain floor((200 S + n)/(2 n)) form, so catalog hashes (all
    non-negative data) are unchanged; property-pinned against
    decimal.ROUND_HALF_UP over both signs in
    tests/test_properties.py."""
    from pyspark.sql import functions as F

    mag = F.floor(
        (F.lit(200) * F.abs(sum_cents) + n) / (F.lit(2) * n)
    )
    return F.when(sum_cents < 0, -mag).otherwise(mag) / F.lit(10000.0)


def avg_value(col="value"):
    """Order-independent exact average; twin of avg_value_sql."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return avg_from_cents(F.sum(value_cents(col)), F.count(c))
