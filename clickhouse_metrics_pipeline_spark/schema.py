"""Fixed schemas mirroring the reference's ClickHouse DDL.

``metrics_raw`` mirrors ``internal/clickhouse/schema.sql:2-73``; the rollup
tables (``metrics_1m/5m/1h``) mirror ``schema.sql:76-143, 195-246, 286-337``
(value replaced by min/max/avg/last + samples_count). Nested bucket and
exemplar structures are idiomatic struct-arrays instead of ClickHouse's
parallel-array ``Nested`` physical layout; attributes are a proper MapType.

Enum codes follow ``internal/models/metric.go:7-24``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Metric type codes (models/metric.go:7-16)
METRIC_TYPE_UNKNOWN = 0
METRIC_TYPE_GAUGE = 1
METRIC_TYPE_SUM = 2
METRIC_TYPE_HISTOGRAM = 3
METRIC_TYPE_SUMMARY = 4
METRIC_TYPE_EXP_HISTOGRAM = 5

METRIC_TYPE_NAMES = {
    METRIC_TYPE_UNKNOWN: "unknown",
    METRIC_TYPE_GAUGE: "gauge",
    METRIC_TYPE_SUM: "sum",
    METRIC_TYPE_HISTOGRAM: "histogram",
    METRIC_TYPE_SUMMARY: "summary",
    METRIC_TYPE_EXP_HISTOGRAM: "exponential_histogram",
}

# Temporality codes (models/metric.go:18-24)
TEMPORALITY_UNSPECIFIED = 0
TEMPORALITY_CUMULATIVE = 1
TEMPORALITY_DELTA = 2

BUCKET_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("le", T.DoubleType(), False),
            T.StructField("count", T.LongType(), False),
        ]
    )
)

EXP_BUCKET_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("index", T.IntegerType(), False),
            T.StructField("count", T.LongType(), False),
        ]
    )
)

EXEMPLAR_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("spanId", T.StringType(), True),
            T.StructField("traceId", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("timestamp", T.TimestampType(), True),
            T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        ]
    )
)

METRICS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("workspaceId", T.StringType(), False),
        T.StructField("series_hash", T.LongType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("serviceName", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("metric_type", T.ByteType(), False),
        T.StructField("temporality", T.ByteType(), False),
        T.StructField("is_monotonic", T.BooleanType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("buckets", BUCKET_TYPE, True),
        T.StructField("exp_scale", T.IntegerType(), True),
        T.StructField("exp_zero_count", T.LongType(), True),
        T.StructField("exp_zero_threshold", T.DoubleType(), True),
        T.StructField("exp_positive_buckets", EXP_BUCKET_TYPE, True),
        T.StructField("exp_negative_buckets", EXP_BUCKET_TYPE, True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("exemplars", EXEMPLAR_TYPE, True),
        T.StructField("_ttl", T.TimestampType(), True),
    ]
)

# Rollup tables: value -> value_min/max/avg/last + samples_count
# (schema.sql:102-105, 131). The reference keeps the exp_* columns only
# in 1m (schema.sql:172-178); operators.rollup.incremental_rollup_job
# stores them at every grain, so this one shape serves 1m, 5m and 1h.
METRICS_1M_SCHEMA = T.StructType(
    [
        T.StructField("workspaceId", T.StringType(), False),
        T.StructField("series_hash", T.LongType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("serviceName", T.StringType(), True),
        T.StructField("timestamp", T.TimestampType(), False),
        T.StructField("metric_type", T.ByteType(), False),
        T.StructField("temporality", T.ByteType(), False),
        T.StructField("is_monotonic", T.BooleanType(), False),
        T.StructField("value_min", T.DoubleType(), True),
        T.StructField("value_max", T.DoubleType(), True),
        T.StructField("value_avg", T.DoubleType(), True),
        T.StructField("value_last", T.DoubleType(), True),
        T.StructField("count", T.LongType(), True),
        T.StructField("sum", T.DoubleType(), True),
        T.StructField("buckets", BUCKET_TYPE, True),
        T.StructField("exp_scale", T.IntegerType(), True),
        T.StructField("exp_zero_count", T.LongType(), True),
        T.StructField("exp_zero_threshold", T.DoubleType(), True),
        T.StructField("exp_positive_buckets", EXP_BUCKET_TYPE, True),
        T.StructField("exp_negative_buckets", EXP_BUCKET_TYPE, True),
        T.StructField("attributes", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("samples_count", T.LongType(), False),
    ]
)

# Retention ladder (schema.sql:63,133,237,328; README.md:17-21)
RETENTION = {
    "metrics_raw": "3 hours",
    "metrics_1m": "15 days",
    "metrics_5m": "63 days",
    "metrics_1h": "455 days",
}

ROLLUP_GRAIN = {
    "metrics_1m": "1 minute",
    "metrics_5m": "5 minutes",
    "metrics_1h": "1 hour",
}


def _has_float_type(dt) -> bool:
    """True iff the DataType tree contains a FloatType/DoubleType node.

    A real tree walk, not a substring match on simpleString(): a nested
    struct/map FIELD NAME containing 'float'/'double' (e.g.
    struct<value_double:bigint>) must not false-positive the no-float
    gate (r7 ADVICE item)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        FloatType,
        MapType,
        StructType,
    )

    if isinstance(dt, (DoubleType, FloatType)):
        return True
    if isinstance(dt, ArrayType):
        return _has_float_type(dt.elementType)
    if isinstance(dt, MapType):
        return _has_float_type(dt.keyType) or _has_float_type(dt.valueType)
    if isinstance(dt, StructType):
        return any(_has_float_type(f.dataType) for f in dt.fields)
    return False


def float_columns(schema) -> list[str]:
    """Names of top-level columns whose Spark type contains FLOAT or
    DOUBLE anywhere (nested included), as "name:type" strings.

    The single definition of the no-float-in-hash-graded-projections
    contract: the local gate (tools/check_oracle.py::audit_stream_schema)
    and the pytest pin (tests/test_graded_stream_schema.py) both import
    this, so the gate and the test can never disagree about what a
    float-free projection is."""
    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if _has_float_type(f.dataType)
    ]
