"""Golden tests for the OTLP explode-chain flattener (S2/S3, F5-F7).

One ExportRequest carrying all five metric types is flattened and every
per-type conversion rule from receiver/otlp.go:126-285 is asserted:
service.name promotion, datapoint-wins attribute merge, OTLP->internal
temporality mapping, int-or-double value coercion, histogram bucket
zip with the +Inf tail, exponential dense->sparse bucket conversion
(the documented fix: the reference drops exp buckets on ingest), and
exemplar conversion with int/double coercion. Edge payloads and the
output schema (nullability included) pin the flattener's contract, and
a plan test pins that it reads its source once.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F
from pyspark.sql import types as T

from clickhouse_metrics_pipeline_spark.schema import (
    METRIC_TYPE_EXP_HISTOGRAM,
    METRIC_TYPE_GAUGE,
    METRIC_TYPE_HISTOGRAM,
    METRIC_TYPE_SUM,
    METRIC_TYPE_SUMMARY,
)
from clickhouse_metrics_pipeline_spark.sources.otlp import (
    OTLP_EXPORT_SCHEMA,
    flatten_otlp,
)

_NS = 1_700_000_000_000_000_000  # 2023-11-14T22:13:20Z in nanos


def _kv(k, s=None, i=None, d=None, b=None):
    return {
        "key": k,
        "value": {
            "stringValue": s,
            "intValue": i,
            "doubleValue": d,
            "boolValue": b,
        },
    }


def _request():
    res_attrs = [
        _kv("service.name", s="svc-a"),
        _kv("env", s="prod"),
        _kv("k", s="resource"),
    ]
    gauge_dp = {
        "timeUnixNano": _NS,
        "asDouble": 42.5,
        "asInt": None,
        "attributes": [_kv("k", s="dp")],  # must win over resource k
        "exemplars": [
            {
                "spanId": "s1",
                "traceId": "t1",
                "asDouble": None,
                "asInt": 7,  # int->double coercion
                "timeUnixNano": _NS,
                "filteredAttributes": [_kv("q", i=3)],
            }
        ],
    }
    sum_dp = {
        "timeUnixNano": _NS,
        "asDouble": None,
        "asInt": 100,  # int->double coercion
        "attributes": [],
        "exemplars": [],
    }
    hist_dp = {
        "timeUnixNano": _NS,
        "count": 6,
        "sum": 3.0,
        "bucketCounts": [1, 2, 3],
        "explicitBounds": [0.1, 1.0],
        "attributes": [],
        "exemplars": [],
    }
    exp_dp = {
        "timeUnixNano": _NS,
        "count": 9,
        "sum": 12.0,
        "scale": 1,
        "zeroCount": 5,
        "zeroThreshold": 1e-6,
        "positive": {"offset": 2, "bucketCounts": [1, 0, 3]},
        "negative": {"offset": 0, "bucketCounts": []},
        "attributes": [],
    }
    summary_dp = {
        "timeUnixNano": _NS,
        "count": 10,
        "sum": 55.5,
        "attributes": [],
    }
    metrics = [
        {"name": "temp", "gauge": {"dataPoints": [gauge_dp]}},
        {
            "name": "requests_total",
            "sum": {
                "dataPoints": [sum_dp],
                "aggregationTemporality": 2,  # OTLP cumulative
                "isMonotonic": True,
            },
        },
        {
            "name": "latency",
            "histogram": {
                "dataPoints": [hist_dp],
                "aggregationTemporality": 1,  # OTLP delta
            },
        },
        {
            "name": "exp_latency",
            "exponentialHistogram": {
                "dataPoints": [exp_dp],
                "aggregationTemporality": 1,
            },
        },
        {"name": "quantiles", "summary": {"dataPoints": [summary_dp]}},
    ]
    return {
        "resourceMetrics": [
            {
                "resource": {"attributes": res_attrs},
                "scopeMetrics": [{"metrics": metrics}],
            }
        ]
    }


def _flatten_payload(spark, payload):
    # route through the JSON reader like production ingest does (r9:
    # the int64 fields read as strings per protojson, so a raw python
    # dict with ints no longer matches the read schema directly)
    df = (
        spark.createDataFrame([(json.dumps(payload),)], "value STRING")
        .select(F.from_json("value", OTLP_EXPORT_SCHEMA).alias("r"))
        .select("r.*")
    )
    return flatten_otlp(df, workspace_id="w1")


def _flatten(spark, payload=None):
    rows = _flatten_payload(spark, payload or _request()).collect()
    return {r.metric: r for r in rows}


def test_flattens_all_five_types_with_per_type_rules(spark):
    rows = _flatten(spark)
    assert set(rows) == {"temp", "requests_total", "latency", "exp_latency", "quantiles"}

    g = rows["temp"]
    assert g.metric_type == METRIC_TYPE_GAUGE and g.value == 42.5
    assert g.serviceName == "svc-a"  # promoted from resource attrs
    assert g.attributes["k"] == "dp"  # datapoint wins (F5)
    assert g.attributes["env"] == "prod"
    assert g.workspaceId == "w1"
    assert g.timestamp.isoformat() == "2023-11-14T22:13:20"
    ex = g.exemplars[0]
    assert ex.spanId == "s1" and ex.value == 7.0  # int coerced (F7)
    assert ex.attributes == {"q": "3"}  # value stringified

    s = rows["requests_total"]
    assert s.metric_type == METRIC_TYPE_SUM and s.value == 100.0
    assert s.temporality == 1  # OTLP 2 (cumulative) -> internal 1 (F6)
    assert s.is_monotonic is True

    h = rows["latency"]
    assert h.metric_type == METRIC_TYPE_HISTOGRAM
    assert h.temporality == 2  # OTLP 1 (delta) -> internal 2
    assert h["count"] == 6 and h["sum"] == 3.0
    got = [(b.le, b["count"]) for b in h.buckets]
    assert got[:2] == [(0.1, 1), (1.0, 2)]
    assert math.isinf(got[2][0]) and got[2][1] == 3  # +Inf tail (S3)

    e = rows["exp_latency"]
    assert e.metric_type == METRIC_TYPE_EXP_HISTOGRAM
    assert e.exp_scale == 1 and e.exp_zero_count == 5
    # dense offset form -> sparse (index, count), zero-count buckets dropped
    assert [(b["index"], b["count"]) for b in e.exp_positive_buckets] == [(2, 1), (4, 3)]
    assert e.exp_negative_buckets is None  # empty side stays NULL

    q = rows["quantiles"]
    assert q.metric_type == METRIC_TYPE_SUMMARY
    assert q["count"] == 10 and q["sum"] == 55.5 and q.value is None


def test_series_hash_is_deterministic_and_attr_sensitive(spark):
    a = _flatten(spark)
    b = _flatten(spark)
    for m in a:
        assert a[m].series_hash == b[m].series_hash != 0
    # different attr values -> different series
    assert a["temp"].series_hash != a["requests_total"].series_hash


def test_roundtrips_through_otlp_json(spark):
    """The documented input contract: OTLP/JSON through from_json."""
    import json

    from pyspark.sql import functions as F

    payload = json.dumps(_request())
    df = (
        spark.createDataFrame([(payload,)], "value STRING")
        .select(F.from_json("value", OTLP_EXPORT_SCHEMA).alias("r"))
        .select("r.resourceMetrics")
    )
    out = flatten_otlp(df)
    assert out.count() == 5


def test_protojson_string_int64_form_parses_identically(spark):
    """r9: spec-compliant OTLP/JSON (protojson) serializes int64 and
    fixed64 fields — timeUnixNano, asInt, count, zeroCount,
    bucketCounts, intValue — as JSON STRINGS. The read schema keeps
    those fields as strings and casts on use, so the quoted form must
    flatten to EXACTLY the rows of the numeric form (previously the
    quoted form read as NULL and the validator silently dropped the
    samples)."""

    def stringify(obj):
        int64_keys = {
            "timeUnixNano", "asInt", "count", "zeroCount", "intValue",
        }
        if isinstance(obj, dict):
            out = {}
            for k, v in obj.items():
                if k in int64_keys and isinstance(v, int):
                    out[k] = str(v)
                elif k == "bucketCounts" and isinstance(v, list):
                    out[k] = [str(x) for x in v]
                else:
                    out[k] = stringify(v)
            return out
        if isinstance(obj, list):
            return [stringify(x) for x in obj]
        return obj

    numeric = _flatten(spark)
    quoted = _flatten(spark, stringify(_request()))
    assert set(numeric) == set(quoted) and numeric
    for m in numeric:
        a, b = numeric[m], quoted[m]
        assert a.timestamp == b.timestamp and a.timestamp is not None
        assert a.value == b.value and a["count"] == b["count"]
        assert a.buckets == b.buckets
        assert a.exp_zero_count == b.exp_zero_count
        assert a.exp_positive_buckets == b.exp_positive_buckets
        assert a.attributes == b.attributes


def _f(name, dtype, nullable=True):
    return T.StructField(name, dtype, nullable)


_STR_MAP = T.MapType(T.StringType(), T.StringType())
_INDEXED = T.ArrayType(
    T.StructType([_f("index", T.IntegerType()), _f("count", T.LongType())])
)
# the metrics_raw rows flatten_otlp returns, nullability included
_FLAT_SCHEMA = T.StructType(
    [
        _f("workspaceId", T.StringType(), False),
        _f("series_hash", T.LongType(), False),
        _f("metric", T.StringType()),
        _f("serviceName", T.StringType()),
        _f("timestamp", T.TimestampType()),
        _f("metric_type", T.ByteType(), False),
        _f("temporality", T.ByteType(), False),
        _f("is_monotonic", T.BooleanType(), False),
        _f("value", T.DoubleType()),
        _f("count", T.LongType()),
        _f("sum", T.DoubleType()),
        _f("buckets", T.ArrayType(
            T.StructType([_f("le", T.DoubleType()), _f("count", T.LongType())])
        )),
        _f("exp_scale", T.IntegerType()),
        _f("exp_zero_count", T.LongType()),
        _f("exp_zero_threshold", T.DoubleType()),
        _f("exp_positive_buckets", _INDEXED),
        _f("exp_negative_buckets", _INDEXED),
        _f("attributes", _STR_MAP, False),
        _f("exemplars", T.ArrayType(T.StructType([
            _f("spanId", T.StringType()),
            _f("traceId", T.StringType()),
            _f("value", T.DoubleType()),
            _f("timestamp", T.TimestampType()),
            _f("attributes", _STR_MAP),
        ]))),
        _f("_ttl", T.TimestampType()),
    ]
)


def test_output_schema_is_pinned(spark):
    """metric_type, temporality and is_monotonic stay non-nullable for
    the validator and the sink; every nested type keeps its nullability."""
    assert _flatten_payload(spark, _request()).schema == _FLAT_SCHEMA


def test_edge_payloads(spark):
    def dp(**kw):
        return {"timeUnixNano": _NS, "attributes": [_kv("a", s="x")], **kw}

    metrics = [
        # one metric carrying two types flattens to a row of each
        {
            "name": "dual",
            "gauge": {"dataPoints": [dp(asDouble=1.5)]},
            "sum": {
                "dataPoints": [dp(asInt=7)],
                "aggregationTemporality": 2,
                "isMonotonic": True,
            },
        },
        # null, empty or missing data points flatten to nothing
        {"name": "gauge_null", "gauge": {"dataPoints": None}},
        {"name": "sum_empty", "sum": {"dataPoints": [], "aggregationTemporality": 1}},
        {"name": "hist_null", "histogram": {"dataPoints": None}},
        {"name": "exp_empty", "exponentialHistogram": {"dataPoints": []}},
        {"name": "summary_bare", "summary": {}},
        {"name": "no_type"},
        # an exp histogram without bucket sides: both sides NULL, the
        # scale and zero bucket default to 0
        {
            "name": "exp_bare",
            "exponentialHistogram": {
                "dataPoints": [dp(count=4, sum=2.0)],
                "aggregationTemporality": 2,
            },
        },
        # a histogram without buckets keeps count/sum and NULL buckets
        {"name": "hist_bare", "histogram": {"dataPoints": [dp(count=3)]}},
    ]
    out = _flatten_payload(spark, {"resourceMetrics": [{
        "resource": {"attributes": [_kv("service.name", s="svc-e")]},
        "scopeMetrics": [{"metrics": metrics}],
    }]})
    rows = sorted(out.collect(), key=lambda r: (r.metric, r.metric_type))
    got = [
        (r.metric, r.metric_type, r.temporality, r.is_monotonic, r.value,
         r["count"], r["sum"], r.buckets, r.exp_scale, r.exp_zero_count,
         r.exp_zero_threshold, r.exp_positive_buckets,
         r.exp_negative_buckets, r.attributes, r.exemplars, r.serviceName)
        for r in rows
    ]
    attrs = {"service.name": "svc-e", "a": "x"}
    assert got == [
        ("dual", METRIC_TYPE_GAUGE, 0, False, 1.5, None, None, None, None,
         None, None, None, None, attrs, [], "svc-e"),
        ("dual", METRIC_TYPE_SUM, 1, True, 7.0, None, None, None, None,
         None, None, None, None, attrs, [], "svc-e"),
        ("exp_bare", METRIC_TYPE_EXP_HISTOGRAM, 1, False, None, 4, 2.0, None,
         0, 0, 0.0, None, None, attrs, None, "svc-e"),
        ("hist_bare", METRIC_TYPE_HISTOGRAM, 0, False, None, 3, None, None,
         None, None, None, None, None, attrs, [], "svc-e"),
    ]
    assert rows[0].series_hash == rows[1].series_hash  # same identity


def test_reads_its_source_once(spark, tmp_path):
    """All five metric types come out of one scan of the source, with no
    Union: a micro-batch reads and parses each request once."""
    with open(tmp_path / "export.json", "w") as fh:
        for _ in range(3):
            fh.write(json.dumps(_request()) + "\n")
    raw = spark.read.schema(OTLP_EXPORT_SCHEMA).json(str(tmp_path))
    out = flatten_otlp(raw)
    assert len(out.collect()) == 15
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") == 1, plan
    assert "Union" not in plan, plan
