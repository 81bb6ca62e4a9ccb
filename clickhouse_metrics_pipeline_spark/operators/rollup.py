"""Multi-resolution rollups (A1-A12): the reference's materialized-view
cascade as Spark windowed aggregations.

The reference chains insert-triggered ClickHouse MVs raw -> 1m -> 5m -> 1h
(``internal/clickhouse/schema.sql:146-192, 249-283, 340-373``). OSS Spark
has no continuous MV, so the cascade is explicit jobs - each one a single
shuffle on the rollup grouping key, map-side combinable, incremental over
recent partitions (the MV freshness guards at schema.sql:183,274,365 become
partition pruning on the ingest date).

Scale notes (100 TB design point):
- One groupBy per resolution = one shuffle; all aggregates are partial
  (min/max/sum/count combine map-side), so shuffle volume is one row per
  (series, window), not per sample.
- Bucket merge happens AT ROLLUP TIME (explode -> per-le partial sum)
  instead of the reference's groupArray-of-arrays storage
  (schema.sql:168-169) which defers merging to every read
  (test/validate_percentiles.go:140-151). Rollup-time merge stores O(le)
  per window and makes percentile reads cheap - a documented improvement.
- Cascading 5m-from-1m / 1h-from-5m re-aggregates 1/60th the input of
  raw; value_avg is weighted by samples_count, fixing the reference's
  unweighted avg-of-avgs (schema.sql:262, documented deviation A11).

Semantics per aggregate (schema.sql:146-192):
  value_min/max/avg (A1-A2), value_last = argmax by timestamp - the
  deterministic form of anyLast (A3), count/sum totals (A4), merged
  buckets (A5/H3), exp-histogram merge (A6/H7), any(attributes) ->
  first (A7), samples_count (A8), tumbling windows (A9), grouping key
  (A10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_metrics_pipeline_spark.schema import METRICS_1M_SCHEMA

GROUP_KEY = [
    "workspaceId",
    "series_hash",
    "metric",
    "serviceName",
    "metric_type",
    "temporality",
    "is_monotonic",
]

_GRAINS = {"1m": "1 minute", "5m": "5 minutes", "1h": "1 hour"}


def _merged_buckets_expr():
    """Merge collected bucket arrays by le, row-locally after collect.

    Used on the already-grouped collect_list; at most samples-per-window
    arrays per group (bounded by window grain), so row-local flatten is
    cheap and avoids a second shuffle.
    """
    flat = F.flatten(F.filter(F.collect_list("buckets"), lambda x: x.isNotNull()))
    return flat


def _merge_flat_buckets(col):
    les = F.array_distinct(F.transform(col, lambda x: x["le"]))
    merged = F.array_sort(
        F.transform(
            les,
            lambda le: F.struct(
                le.alias("le"),
                F.aggregate(
                    F.filter(col, lambda x: x["le"] == le),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x["count"],
                ).alias("count"),
            ),
        )
    )
    return F.when(F.size(col) > 0, merged).otherwise(F.lit(None))


def rollup_raw_to_1m(raw: DataFrame, grain: str = "1 minute") -> DataFrame:
    """metrics_raw -> metrics_1m (schema.sql:146-192)."""
    win = F.window("timestamp", grain)
    grouped = raw.groupBy(*GROUP_KEY, win.alias("w")).agg(
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.avg("value").alias("value_avg"),
        F.max_by("value", "timestamp").alias("value_last"),
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
        _merged_buckets_expr().alias("_flat_buckets"),
        F.min("exp_scale").alias("exp_scale"),
        F.sum("exp_zero_count").alias("exp_zero_count"),
        F.max("exp_zero_threshold").alias("exp_zero_threshold"),
        F.flatten(
            F.filter(F.collect_list("exp_positive_buckets"), lambda x: x.isNotNull())
        ).alias("_flat_pos"),
        F.flatten(
            F.filter(F.collect_list("exp_negative_buckets"), lambda x: x.isNotNull())
        ).alias("_flat_neg"),
        F.first("attributes").alias("attributes"),
        F.count(F.lit(1)).alias("samples_count"),
    )
    return (
        grouped.withColumn("timestamp", F.col("w.start"))
        .withColumn("buckets", _merge_flat_buckets(F.col("_flat_buckets")))
        .withColumn(
            "exp_positive_buckets", _merge_exp_flat(F.col("_flat_pos"))
        )
        .withColumn(
            "exp_negative_buckets", _merge_exp_flat(F.col("_flat_neg"))
        )
        .drop("w", "_flat_buckets", "_flat_pos", "_flat_neg")
    )


def _merge_exp_flat(col):
    """Merge flattened exp buckets by index (same scale within a series)."""
    idxs = F.array_distinct(F.transform(col, lambda x: x["index"]))
    merged = F.array_sort(
        F.transform(
            idxs,
            lambda i: F.struct(
                i.alias("index"),
                F.aggregate(
                    F.filter(col, lambda x: x["index"] == i),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x["count"],
                ).alias("count"),
            ),
        )
    )
    return F.when(F.size(col) > 0, merged).otherwise(F.lit(None))


def rollup_cascade(lower: DataFrame, grain: str) -> DataFrame:
    """metrics_1m -> metrics_5m or metrics_5m -> metrics_1h
    (schema.sql:249-283, 340-373).

    Documented deviation (A11): value_avg is weighted by samples_count;
    the reference's ``avg(value_avg)`` over-weights sparse windows.
    """
    win = F.window("timestamp", grain)
    has_exp = "exp_scale" in lower.columns
    aggs = [
        F.min("value_min").alias("value_min"),
        F.max("value_max").alias("value_max"),
        (
            F.sum(F.col("value_avg") * F.col("samples_count"))
            / F.sum(F.when(F.col("value_avg").isNotNull(), F.col("samples_count")))
        ).alias("value_avg"),
        F.max_by("value_last", "timestamp").alias("value_last"),
        F.sum("count").alias("count"),
        F.sum("sum").alias("sum"),
        _merged_buckets_expr().alias("_flat_buckets"),
        F.first("attributes").alias("attributes"),
        F.sum("samples_count").alias("samples_count"),
    ]
    grouped = lower.groupBy(*GROUP_KEY, win.alias("w")).agg(*aggs)
    return (
        grouped.withColumn("timestamp", F.col("w.start"))
        .withColumn("buckets", _merge_flat_buckets(F.col("_flat_buckets")))
        .drop("w", "_flat_buckets")
    )


def build_rollup_hierarchy(raw: DataFrame) -> dict[str, DataFrame]:
    """Full cascade raw -> 1m -> 5m -> 1h, mirroring the MV chain."""
    m1 = rollup_raw_to_1m(raw)
    m5 = rollup_cascade(m1.drop("exp_scale", "exp_zero_count", "exp_zero_threshold", "exp_positive_buckets", "exp_negative_buckets"), "5 minutes")
    h1 = rollup_cascade(m5, "1 hour")
    return {"metrics_1m": m1, "metrics_5m": m5, "metrics_1h": h1}


def apply_retention(df: DataFrame, retention: str, now=None) -> DataFrame:
    """TTL retention (schema.sql:63,72,...) as a filter for rewrite jobs.

    On partitioned storage, prefer dropping whole date partitions older
    than the ladder; this row filter handles the partial boundary day.
    """
    now = F.current_timestamp() if now is None else now
    return df.filter(F.col("timestamp") >= now - F.expr(f"INTERVAL {retention}"))


def _partition_dates(spark, path: str) -> set[str]:
    """Dates (date=YYYY-MM-DD partition values) present under a metrics
    table path: one directory listing, no schema inference, no Spark
    job."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):  # nothing rolled up yet
        return set()
    names = [
        s.getPath().getName() for s in fs.listStatus(root) if s.isDirectory()
    ]
    return {n[len("date="):] for n in names if n.startswith("date=")}


# what incremental_rollup_job stores at every grain, partition column
# last; serving reads the stored tables with it
ROLLUP_STORED_SCHEMA = T.StructType(
    [*METRICS_1M_SCHEMA.fields, T.StructField("date", T.DateType())]
)


def incremental_rollup_job(
    spark,
    raw_path: str,
    out_path: str,
    grain: str = "1 minute",
    lookback_days: int = 1,
    adapt=None,
) -> list[str]:
    """Roll up only what changed: the reference's MV freshness guards
    (WHERE timestamp >= now() - INTERVAL 1 DAY, schema.sql:183,274,365)
    as partition arithmetic.

    Processes raw date partitions that are (a) absent from the output
    or (b) within ``lookback_days`` of the newest raw date (the
    late-data window), and overwrites exactly those output partitions
    (dynamic partition overwrite -> rerunning is idempotent). At 100 TB
    this is the difference between re-aggregating the full history
    nightly and touching ~1/455th of it; late data older than the
    lookback is dropped by design, mirroring the reference's guard.

    ``adapt`` (optional) maps the stored sink shape back to the
    metrics_raw shape the rollup consumes (``plans.serving
    .as_metrics_raw`` for the ingest sink's split bucket arrays) —
    applied after the partition-pruned read, so pruning still happens
    on the raw scan.

    Returns the list of processed dates (empty = nothing to do)."""
    import datetime as dt

    raw_dates = _partition_dates(spark, raw_path)
    if not raw_dates:
        return []
    done = _partition_dates(spark, out_path)
    horizon = dt.date.fromisoformat(max(raw_dates)) - dt.timedelta(
        days=lookback_days - 1
    )
    stale = {d for d in raw_dates if dt.date.fromisoformat(d) >= horizon}
    todo = sorted((raw_dates - done) | stale)

    raw = spark.read.parquet(raw_path).where(F.col("date").isin(todo))
    if adapt is not None:
        raw = adapt(raw)
    out = rollup_raw_to_1m(raw, grain).withColumn(
        "date", F.to_date("timestamp")
    ).select(*ROLLUP_STORED_SCHEMA.fieldNames())
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("date")
        .parquet(out_path)
    )
    return todo
