"""End-to-end ingest-edge demo loop: OTLP/JSON files dropped in a dir ->
``otlp_json_stream`` (the gRPC-receiver stand-in,
``internal/receiver/otlp.go:42-89``) -> ``ingest_stream`` (validate ->
delta-convert -> date-partitioned parquet) -> golden assertions from the
reference's integration test (``test/integration_test.go:70-149,
246-432`` via FIXTURES.md §2): gauge value preserved, cumulative counter
stored as delta [100, 50], 9 histogram buckets stored with P95 > P50 > 0,
exemplar carried through.
"""

from __future__ import annotations

import json
import math
import time

import pytest

from clickhouse_metrics_pipeline_spark.functions.histogram import bucket_percentile
from clickhouse_metrics_pipeline_spark.sources.otlp import otlp_json_stream
from clickhouse_metrics_pipeline_spark.streaming.pipeline import ingest_stream

_NOW_NS = (int(time.time()) - 120) * 1_000_000_000  # 2 min ago: inside the
# validation window (now-7d .. now+24h); whole seconds so timestamps are exact


def _drain(q, timeout_s=120):
    """Wait until an ``available_now`` ingest drain has committed its
    backlog, stop it, and return its progress reports. The drain does
    not end by itself (see ``ingest_stream``): the first batch that read
    no input shows that every batch before it is committed."""
    deadline = time.time() + timeout_s
    try:
        while not any(p.numInputRows == 0 for p in q.recentProgress):
            assert q.isActive and time.time() < deadline, q.exception()
            time.sleep(0.2)
        return q.recentProgress
    finally:
        q.stop()


def _kv(k, s=None, i=None, d=None, b=None):
    return {"key": k, "value": {"stringValue": s, "intValue": i,
                                "doubleValue": d, "boolValue": b}}


def _export_request():
    """FIXTURES.md §2: the three canonical data points the reference's
    integration test pushes end-to-end."""
    res_attrs = [_kv("service.name", s="test-service")]
    gauge = {
        "name": "cpu_usage",
        "gauge": {"dataPoints": [{
            "timeUnixNano": _NOW_NS,
            "asDouble": 75.5, "asInt": None,
            "attributes": [_kv("host", s="server-1"), _kv("env", s="test")],
            "exemplars": [],
        }]},
    }
    counter = {
        "name": "requests_total",
        "sum": {
            "aggregationTemporality": 2,  # OTLP cumulative
            "isMonotonic": True,
            "dataPoints": [
                {"timeUnixNano": _NOW_NS, "asDouble": None, "asInt": 100,
                 "attributes": [_kv("endpoint", s="/api/users"), _kv("method", s="GET")],
                 "exemplars": []},
                {"timeUnixNano": _NOW_NS + 1_000_000_000, "asDouble": None, "asInt": 150,
                 "attributes": [_kv("endpoint", s="/api/users"), _kv("method", s="GET")],
                 "exemplars": []},
            ],
        },
    }
    # 9 delta buckets, integration_test.go:121-131 (+Inf derived from the
    # count - sum(bucketCounts) tail rule in the flattener)
    hist = {
        "name": "request_duration",
        "histogram": {
            "aggregationTemporality": 1,  # OTLP delta
            "dataPoints": [{
                "timeUnixNano": _NOW_NS,
                "count": 1000, "sum": 5000.0,
                "bucketCounts": [100, 200, 300, 200, 150, 40, 8, 2, 0],
                "explicitBounds": [0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0],
                "attributes": [_kv("endpoint", s="/api/orders"), _kv("method", s="POST")],
                "exemplars": [{
                    "spanId": "abc123def456", "traceId": "trace-12345",
                    "asDouble": 0.025, "asInt": None,
                    "timeUnixNano": _NOW_NS,
                    "filteredAttributes": [_kv("user_id", i=12345)],
                }],
            }],
        },
    }
    return {"resourceMetrics": [{
        "resource": {"attributes": res_attrs},
        "scopeMetrics": [{"metrics": [gauge, counter, hist]}],
    }]}


@pytest.mark.slow  # r12: excluded from the driver-completable fast gate (make test-full runs it)
def test_otlp_json_drop_to_parquet_end_to_end(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "export-0001.json").write_text(json.dumps(_export_request()) + "\n")

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = ingest_stream(
        otlp_json_stream(spark, str(drop), workspace_id="integration_test"),
        out, ckpt,
        workspace_id="integration_test",
        available_now=True,  # drain the drop dir, then stop
    )
    # each export request is read once, whatever metric types it carries
    assert sum(p.numInputRows for p in _drain(q)) == 1

    res = spark.read.parquet(out)
    rows = res.collect()
    assert len(rows) >= 3  # integration_test.go:246 — all points stored

    g = [r for r in rows if r.metric == "cpu_usage"]
    assert len(g) == 1 and g[0].value == 75.5
    assert g[0].serviceName == "test-service"
    assert g[0].workspaceId == "integration_test"
    assert g[0].attributes["host"] == "server-1"

    # cumulative -> delta: [100, 150] stored as [100, 50], temporality=2
    c = sorted((r for r in rows if r.metric == "requests_total"),
               key=lambda r: r.timestamp)
    assert [r.value for r in c] == [100.0, 50.0]
    assert {r.temporality for r in c} == {2}
    assert {r.is_monotonic for r in c} == {True}

    h = [r for r in rows if r.metric == "request_duration"]
    assert len(h) == 1
    hist = h[0]
    assert hist["count"] == 1000 and hist["sum"] == 5000.0
    assert len(hist.buckets_le) == 9  # 9 buckets stored (incl. +Inf tail)
    assert math.isinf(hist.buckets_le[-1]) and hist.buckets_count[-1] == 0
    ex = hist.exemplars[0]
    assert ex.spanId == "abc123def456" and ex.value == 0.025
    assert ex.attributes == {"user_id": "12345"}

    # percentile goldens over the STORED buckets (walk by hand: cum
    # 100/300/600/800/950/990/998/1000): P50=(500-300)/300*0.025,
    # P95 tops bucket 0.1 exactly, P99 tops 0.25 — and the reference's
    # own assertion P95 > P50 > 0 (integration_test.go:396-432)
    stored = [
        {"le": le, "count": c}
        for le, c in zip(hist.buckets_le, hist.buckets_count)
    ]
    p = (
        spark.createDataFrame([(stored,)], "buckets array<struct<le:double,count:bigint>>")
        .select(
            bucket_percentile("buckets", 50.0).alias("p50"),
            bucket_percentile("buckets", 95.0).alias("p95"),
            bucket_percentile("buckets", 99.0).alias("p99"),
        )
        .collect()[0]
    )
    assert p["p50"] == pytest.approx(0.0166667, abs=1e-4)
    assert p["p95"] == pytest.approx(0.1, abs=1e-9)
    assert p["p99"] == pytest.approx(0.25, abs=1e-9)
    assert p["p95"] > p["p50"] > 0

    # idempotent restart: draining again with the same checkpoint and no
    # new files must not duplicate rows
    q2 = ingest_stream(
        otlp_json_stream(spark, str(drop), workspace_id="integration_test"),
        out, ckpt,
        workspace_id="integration_test",
        available_now=True,
    )
    assert sum(p.numInputRows for p in _drain(q2)) == 0
    assert spark.read.parquet(out).count() == len(rows)


def _counter_request(t0_ns, values):
    """One cumulative monotonic counter series, one point a second."""
    return {"resourceMetrics": [{
        "resource": {"attributes": [_kv("service.name", s="restart")]},
        "scopeMetrics": [{"metrics": [{
            "name": "restarts_total",
            "sum": {
                "aggregationTemporality": 2,
                "isMonotonic": True,
                "dataPoints": [
                    {"timeUnixNano": t0_ns + i * 1_000_000_000,
                     "asInt": v, "attributes": [_kv("pod", s="p1")]}
                    for i, v in enumerate(values)
                ],
            },
        }]}],
    }]}


@pytest.mark.slow
def test_drain_then_processing_time_restart_continues_deltas(spark, tmp_path):
    """A drain and the processing-time ingest share one checkpoint: the
    restarted query reads the drain's converter state (same state schema)
    and continues the deltas without a second first point and without
    re-reading the drained file."""
    drop = tmp_path / "drop"
    drop.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    (drop / "export-0001.json").write_text(
        json.dumps(_counter_request(_NOW_NS, [100, 150])) + "\n")
    _drain(ingest_stream(otlp_json_stream(spark, str(drop)), out, ckpt,
                         available_now=True))

    (drop / "export-0002.json").write_text(
        json.dumps(_counter_request(_NOW_NS + 2_000_000_000, [200, 260])) + "\n")
    q = ingest_stream(otlp_json_stream(spark, str(drop)), out, ckpt,
                      trigger_seconds=1)
    try:
        deadline = time.time() + 120
        # progress is reported after the batch's sink write commits
        while not any(p.numInputRows for p in q.recentProgress):
            assert q.isActive and time.time() < deadline, q.exception()
            time.sleep(0.5)
    finally:
        q.stop()
    rows = sorted(spark.read.parquet(out).collect(), key=lambda r: r.timestamp)
    assert [r.value for r in rows] == [100.0, 50.0, 50.0, 60.0]
    assert {r.temporality for r in rows} == {2}
