"""OTLP-shaped ingest flattening (S1-S3, F5-F7).

The reference receives ``pmetricotlp.ExportRequest`` over gRPC and walks
ResourceMetrics -> ScopeMetrics -> Metrics -> DataPoints imperatively
(``internal/receiver/otlp.go:91-285``). Spark has no gRPC source, so the
ingest edge stays a thin adapter (Kafka topic / file drop of OTLP JSON
payloads); everything after the wire format is expressed here as one
declarative explode chain - the distributed equivalent of the triple loop,
fully column-pruned and codegen'd. The five metric types share that chain:
each maps its data points into one common point struct, and the points of
all types explode together, so every request is read once per batch.

Input contract: a DataFrame with one row per ExportRequest, column
``resourceMetrics`` shaped like OTLP/JSON (see ``OTLP_EXPORT_SCHEMA``).
Works identically on ``spark.read.json`` batch input and a
``readStream`` Kafka value stream after ``from_json``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_metrics_pipeline_spark.functions.hashing import series_hash
from clickhouse_metrics_pipeline_spark.schema import (
    EXEMPLAR_TYPE,
    METRIC_TYPE_EXP_HISTOGRAM,
    METRIC_TYPE_GAUGE,
    METRIC_TYPE_HISTOGRAM,
    METRIC_TYPE_SUM,
    METRIC_TYPE_SUMMARY,
)

_KV = T.ArrayType(
    T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField(
                "value",
                T.StructType(
                    [
                        T.StructField("stringValue", T.StringType()),
                        # int64 -> protojson string; cast on use
                        T.StructField("intValue", T.StringType()),
                        T.StructField("doubleValue", T.DoubleType()),
                        T.StructField("boolValue", T.BooleanType()),
                    ]
                ),
            ),
        ]
    )
)

_EXEMPLAR = T.ArrayType(
    T.StructType(
        [
            T.StructField("spanId", T.StringType()),
            T.StructField("traceId", T.StringType()),
            T.StructField("asDouble", T.DoubleType()),
            T.StructField("asInt", T.StringType()),
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("filteredAttributes", _KV),
        ]
    )
)

_NUMBER_DP = T.ArrayType(
    T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("asDouble", T.DoubleType()),
            T.StructField("asInt", T.StringType()),
            T.StructField("attributes", _KV),
            T.StructField("exemplars", _EXEMPLAR),
        ]
    )
)

_HIST_DP = T.ArrayType(
    T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("count", T.StringType()),
            T.StructField("sum", T.DoubleType()),
            T.StructField("bucketCounts", T.ArrayType(T.StringType())),
            T.StructField("explicitBounds", T.ArrayType(T.DoubleType())),
            T.StructField("attributes", _KV),
            T.StructField("exemplars", _EXEMPLAR),
        ]
    )
)

_EXP_HIST_DP = T.ArrayType(
    T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("count", T.StringType()),
            T.StructField("sum", T.DoubleType()),
            T.StructField("scale", T.IntegerType()),
            T.StructField("zeroCount", T.StringType()),
            T.StructField("zeroThreshold", T.DoubleType()),
            T.StructField(
                "positive",
                T.StructType(
                    [
                        T.StructField("offset", T.IntegerType()),
                        T.StructField("bucketCounts", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
            T.StructField(
                "negative",
                T.StructType(
                    [
                        T.StructField("offset", T.IntegerType()),
                        T.StructField("bucketCounts", T.ArrayType(T.StringType())),
                    ]
                ),
            ),
            T.StructField("attributes", _KV),
        ]
    )
)

_SUMMARY_DP = T.ArrayType(
    T.StructType(
        [
            T.StructField("timeUnixNano", T.StringType()),
            T.StructField("count", T.StringType()),
            T.StructField("sum", T.DoubleType()),
            T.StructField("attributes", _KV),
        ]
    )
)

OTLP_EXPORT_SCHEMA = T.StructType(
    [
        T.StructField(
            "resourceMetrics",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "resource",
                            T.StructType([T.StructField("attributes", _KV)]),
                        ),
                        T.StructField(
                            "scopeMetrics",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField(
                                            "metrics",
                                            T.ArrayType(
                                                T.StructType(
                                                    [
                                                        T.StructField("name", T.StringType()),
                                                        T.StructField(
                                                            "gauge",
                                                            T.StructType([T.StructField("dataPoints", _NUMBER_DP)]),
                                                        ),
                                                        T.StructField(
                                                            "sum",
                                                            T.StructType(
                                                                [
                                                                    T.StructField("dataPoints", _NUMBER_DP),
                                                                    T.StructField("aggregationTemporality", T.IntegerType()),
                                                                    T.StructField("isMonotonic", T.BooleanType()),
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "histogram",
                                                            T.StructType(
                                                                [
                                                                    T.StructField("dataPoints", _HIST_DP),
                                                                    T.StructField("aggregationTemporality", T.IntegerType()),
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "exponentialHistogram",
                                                            T.StructType(
                                                                [
                                                                    T.StructField("dataPoints", _EXP_HIST_DP),
                                                                    T.StructField("aggregationTemporality", T.IntegerType()),
                                                                ]
                                                            ),
                                                        ),
                                                        T.StructField(
                                                            "summary",
                                                            T.StructType([T.StructField("dataPoints", _SUMMARY_DP)]),
                                                        ),
                                                    ]
                                                )
                                            ),
                                        )
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        )
    ]
)


_EXP_BUCKETS = T.ArrayType(
    T.StructType([T.StructField("index", T.IntegerType()), T.StructField("count", T.LongType())])
)

# One data point of any metric type, as the per-type rules of
# ``flatten_otlp`` fill it in: the metrics_raw columns a point carries
# as they are, then the raw fields converted once for every type.
_POINT = T.StructType(
    [
        T.StructField("metric_type", T.ByteType(), False),
        T.StructField("temporality", T.ByteType(), False),
        T.StructField("is_monotonic", T.BooleanType(), False),
        T.StructField("value", T.DoubleType()),
        T.StructField("count", T.LongType()),
        T.StructField("sum", T.DoubleType()),
        T.StructField(
            "buckets",
            T.ArrayType(T.StructType([T.StructField("le", T.DoubleType()), T.StructField("count", T.LongType())])),
        ),
        T.StructField("exp_scale", T.IntegerType()),
        T.StructField("exp_zero_count", T.LongType()),
        T.StructField("exp_zero_threshold", T.DoubleType()),
        T.StructField("exp_positive_buckets", _EXP_BUCKETS),
        T.StructField("exp_negative_buckets", _EXP_BUCKETS),
        T.StructField("timeUnixNano", T.StringType()),
        T.StructField("attributes", _KV),
        T.StructField("exemplars", EXEMPLAR_TYPE),
    ]
)
_CARRIED = _POINT.names[:-3]


def otlp_json_stream(
    spark,
    drop_dir: str,
    workspace_id: str = "default",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-drop OTLP listener: the runnable stand-in for the reference's
    gRPC receiver (``internal/receiver/otlp.go:42-89``).

    Watches ``drop_dir`` for OTLP/JSON ExportRequest files (one JSON
    object per line, the standard OTLP file-exporter layout; a
    collector's ``file`` exporter or any curl of the /v1/metrics JSON
    body drops straight in) and returns the flattened ``metrics_raw``
    stream — feed it to ``streaming.pipeline.ingest_stream`` for the
    full validate -> delta-convert -> partitioned-parquet path.
    ``max_files_per_trigger`` bounds per-batch file intake (backpressure
    at scale; at 100 TB/day the same flatten plan runs on a Kafka
    source instead — the contract is just the resourceMetrics column)."""
    reader = spark.readStream.schema(OTLP_EXPORT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return flatten_otlp(reader.json(drop_dir), workspace_id=workspace_id)


def _attrs_to_map(attrs: Column) -> Column:
    """OTLP key-value list -> MAP<STRING,STRING>, values stringified
    (mergeAttributes stringification, receiver/otlp.go:332-344)."""
    entries = F.transform(
        F.coalesce(attrs, F.array().cast(_KV)),
        lambda kv: F.struct(
            kv["key"].alias("key"),
            F.coalesce(
                kv["value"]["stringValue"],
                kv["value"]["intValue"].cast("string"),
                kv["value"]["doubleValue"].cast("string"),
                kv["value"]["boolValue"].cast("string"),
            ).alias("value"),
        ),
    )
    return F.map_from_entries(entries)


def _ts(nanos: Column) -> Column:
    # OTLP nanos -> microsecond TimestampType (DateTime64(6) equivalent).
    # protojson serializes int64/fixed64 as JSON STRINGS (the OTLP/JSON
    # spec), so the read schema keeps these fields as strings and this
    # cast accepts both the numeric and the quoted form (r9)
    return F.timestamp_micros((nanos.cast("bigint") / 1000).cast("bigint"))


def _exemplars(raw: Column) -> Column:
    """OTLP exemplars -> struct array (convertExemplars, otlp.go:298-330)."""
    return F.transform(
        F.coalesce(raw, F.array().cast(_EXEMPLAR)),
        lambda e: F.struct(
            e["spanId"].alias("spanId"),
            e["traceId"].alias("traceId"),
            F.coalesce(e["asDouble"], e["asInt"].cast("double")).alias("value"),
            _ts(e["timeUnixNano"]).alias("timestamp"),
            _attrs_to_map(e["filteredAttributes"]).alias("attributes"),
        ),
    )


def _merged_attrs(resource_attrs: Column, dp_attrs: Column) -> Column:
    # F5: resource u datapoint, datapoint wins (LAST_WIN dedup policy set in
    # session.py; map_concat keeps the last occurrence).
    return F.map_concat(_attrs_to_map(resource_attrs), _attrs_to_map(dp_attrs))


def flatten_otlp(requests: DataFrame, workspace_id: str = "default") -> DataFrame:
    """ExportRequest rows -> metrics_raw rows (S2+S3+F5-F7 in one pass).

    resourceMetrics, scopeMetrics and metrics explode once. Each metric
    type maps its ``dataPoints`` into the common ``_POINT`` struct with
    its own conversion rule; the five arrays concatenate (a missing type
    adds none) and explode once. The source is read once per batch, and
    the attribute merge, ``service.name`` promotion and series hash
    apply to every type in one place.
    """
    m = F.col("m")

    def number(dp: Column) -> Column:
        # int-or-double coercion (otlp.go:139-186)
        return F.coalesce(dp["asDouble"], dp["asInt"].cast("double"))

    def points(mtype: int, dps: Column, temporality=F.lit(0), monotonic=F.lit(False), **rules) -> Column:
        """One type's data points as ``_POINT`` array; ``rules`` fill
        the type's own fields from the data point, the rest stay NULL."""
        def point(dp: Column) -> Column:
            given = {
                "metric_type": F.lit(mtype).cast("tinyint"),
                "temporality": temporality.cast("tinyint"),
                "is_monotonic": monotonic,
                "timeUnixNano": dp["timeUnixNano"],
                "attributes": dp["attributes"],
                **{name: rule(dp) for name, rule in rules.items()},
            }
            return F.struct(*[given.get(n, F.lit(None)).alias(n) for n in _POINT.names])

        typed = T.ArrayType(_POINT, containsNull=False)
        return F.coalesce(F.transform(dps, point).cast(typed), F.array().cast(typed))

    def hist_buckets(dp: Column) -> Column:
        # zip explicitBounds + bucketCounts with the +Inf tail (otlp.go:188-232)
        counts = F.coalesce(dp["bucketCounts"], F.array().cast("array<string>"))
        bounds = F.concat(
            F.coalesce(dp["explicitBounds"], F.array().cast("array<double>")),
            F.array(F.lit(float("inf"))),
        )
        zipped = F.zip_with(
            bounds,
            counts,
            lambda le, c: F.struct(
                le.alias("le"), F.coalesce(c.cast("bigint"), F.lit(0).cast("bigint")).alias("count")
            ),
        )
        return F.when(F.size(counts) > 0, zipped)

    def exp_buckets(side: str):
        # dense offset form -> sparse (index, count); an empty side is NULL
        def rule(dp: Column) -> Column:
            bc = F.coalesce(dp[side]["bucketCounts"], F.array().cast("array<string>"))
            off = F.coalesce(dp[side]["offset"], F.lit(0))
            arr = F.transform(
                bc, lambda c, i: F.struct((off + i).cast("int").alias("index"), c.cast("bigint").alias("count"))
            )
            return F.when(F.size(bc) > 0, F.filter(arr, lambda x: x["count"] > 0))

        return rule

    def count(dp: Column) -> Column:
        return dp["count"].cast("bigint")

    def total(dp: Column) -> Column:
        return dp["sum"]

    def exemplars(dp: Column) -> Column:
        return _exemplars(dp["exemplars"])

    all_points = F.concat(
        # gauge (otlp.go:139-160)
        points(METRIC_TYPE_GAUGE, m["gauge"]["dataPoints"], value=number, exemplars=exemplars),
        # sum (otlp.go:162-186)
        points(
            METRIC_TYPE_SUM,
            m["sum"]["dataPoints"],
            _temporality(m["sum"]["aggregationTemporality"]),
            F.coalesce(m["sum"]["isMonotonic"], F.lit(False)),
            value=number,
            exemplars=exemplars,
        ),
        # histogram (otlp.go:188-232)
        points(
            METRIC_TYPE_HISTOGRAM,
            m["histogram"]["dataPoints"],
            _temporality(m["histogram"]["aggregationTemporality"]),
            count=count,
            sum=total,
            buckets=hist_buckets,
            exemplars=exemplars,
        ),
        # exponential histogram: FULL path incl. buckets. The reference
        # drops exp buckets on ingest (otlp.go:234-258 takes only
        # count/sum; writer.go:206-212 inserts empty arrays) - documented
        # fix, the schema and math library support them end-to-end here.
        points(
            METRIC_TYPE_EXP_HISTOGRAM,
            m["exponentialHistogram"]["dataPoints"],
            _temporality(m["exponentialHistogram"]["aggregationTemporality"]),
            count=count,
            sum=total,
            exp_scale=lambda dp: F.coalesce(dp["scale"], F.lit(0)),
            exp_zero_count=lambda dp: F.coalesce(dp["zeroCount"].cast("bigint"), F.lit(0).cast("bigint")),
            exp_zero_threshold=lambda dp: F.coalesce(dp["zeroThreshold"], F.lit(0.0)),
            exp_positive_buckets=exp_buckets("positive"),
            exp_negative_buckets=exp_buckets("negative"),
        ),
        # summary (otlp.go:260-283)
        points(METRIC_TYPE_SUMMARY, m["summary"]["dataPoints"], count=count, sum=total),
    )
    rows = (
        requests.select(F.explode("resourceMetrics").alias("rm"))
        .select(
            F.col("rm.resource.attributes").alias("res_attrs"),
            F.explode("rm.scopeMetrics").alias("sm"),
        )
        .select("res_attrs", F.explode("sm.metrics").alias("m"))
        .select("res_attrs", m["name"].alias("metric"), F.explode(all_points).alias("p"))
    )
    p = F.col("p")
    out = rows.select(
        F.lit(workspace_id).alias("workspaceId"),
        F.lit(0).cast("bigint").alias("series_hash"),
        "metric",
        # service.name promotion (otlp.go:100-110)
        F.element_at(_attrs_to_map(F.col("res_attrs")), "service.name").alias("serviceName"),
        _ts(p["timeUnixNano"]).alias("timestamp"),
        *[p[n].alias(n) for n in _CARRIED],
        _merged_attrs(F.col("res_attrs"), p["attributes"]).alias("attributes"),
        p["exemplars"].alias("exemplars"),
        F.lit(None).cast("timestamp").alias("_ttl"),
    )
    # K1: canonical deterministic series hash (writer.go:105-116, fixed)
    return out.withColumn(
        "series_hash", series_hash("metric", "workspaceId", "attributes")
    )


def _temporality(otlp_code: Column) -> Column:
    """OTLP temporality enum -> internal code (F6, otlp.go:287-296).

    OTLP: 1=delta, 2=cumulative; internal: 1=cumulative, 2=delta."""
    return (
        F.when(otlp_code == 1, F.lit(2))
        .when(otlp_code == 2, F.lit(1))
        .otherwise(F.lit(0))
    )
