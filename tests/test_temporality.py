"""Golden sequence tests for temporality conversion (T1-T6).

Expected values pinned by ``test/temporality_test.go`` (FIXTURES.md SS5).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.schema import (
    METRICS_RAW_SCHEMA,
    METRIC_TYPE_GAUGE,
    METRIC_TYPE_HISTOGRAM,
    METRIC_TYPE_SUM,
    TEMPORALITY_CUMULATIVE,
    TEMPORALITY_DELTA,
)
from clickhouse_metrics_pipeline_spark.operators.temporality import (
    convert_to_delta,
    convert_to_cumulative,
    detect_resets,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _row(
    series=1,
    ts_min=0,
    mtype=METRIC_TYPE_SUM,
    temporality=TEMPORALITY_CUMULATIVE,
    monotonic=True,
    value=None,
    count=None,
    total=None,
    buckets=None,
):
    return (
        "ws",
        series,
        "m",
        "svc",
        T0 + dt.timedelta(minutes=ts_min),
        mtype,
        temporality,
        monotonic,
        value,
        count,
        total,
        buckets,
        None,
        None,
        None,
        None,
        None,
        {},
        None,
        None,
    )


def _mk(spark, rows):
    return spark.createDataFrame(rows, METRICS_RAW_SCHEMA)


def _values(df, series=1):
    rows = (
        df.filter(F.col("series_hash") == series)
        .orderBy("timestamp")
        .select("value", "count", "sum", "buckets", "temporality")
        .collect()
    )
    return rows


class TestConvertToDelta:
    def test_plain_counter(self, spark):
        # temporality_test.go:20-52: [100,150,200] -> [100,50,50]
        df = _mk(spark, [_row(ts_min=i, value=v) for i, v in enumerate([100.0, 150.0, 200.0])])
        out = _values(convert_to_delta(df))
        assert [r["value"] for r in out] == [100.0, 50.0, 50.0]
        assert all(r["temporality"] == TEMPORALITY_DELTA for r in out)

    def test_counter_with_reset(self, spark):
        # temporality_test.go:54-94: [100,150,20,50] -> [100,50,20,30]
        df = _mk(spark, [_row(ts_min=i, value=v) for i, v in enumerate([100.0, 150.0, 20.0, 50.0])])
        out = _values(convert_to_delta(df))
        assert [r["value"] for r in out] == [100.0, 50.0, 20.0, 30.0]

    def test_non_monotonic_never_resets(self, spark):
        # temporality_test.go:271-326: non-monotonic [100,50,75] -> deltas
        df = _mk(
            spark,
            [_row(ts_min=i, value=v, monotonic=False) for i, v in enumerate([100.0, 50.0, 75.0])],
        )
        out = _values(convert_to_delta(df))
        assert [r["value"] for r in out] == [100.0, -50.0, 25.0]

    def test_gauge_passthrough(self, spark):
        df = _mk(
            spark,
            [
                _row(ts_min=i, mtype=METRIC_TYPE_GAUGE, temporality=0, monotonic=False, value=v)
                for i, v in enumerate([10.0, 5.0])
            ],
        )
        out = _values(convert_to_delta(df))
        assert [r["value"] for r in out] == [10.0, 5.0]
        assert all(r["temporality"] == 0 for r in out)

    def test_already_delta_passthrough(self, spark):
        df = _mk(
            spark,
            [_row(ts_min=i, temporality=TEMPORALITY_DELTA, value=v) for i, v in enumerate([7.0, 8.0])],
        )
        out = _values(convert_to_delta(df))
        assert [r["value"] for r in out] == [7.0, 8.0]

    def test_histogram_two_step(self, spark):
        # temporality_test.go:191-269
        bounds = [0.005, 0.01, 0.025, 0.05, 0.1]
        b1 = list(zip(bounds, [10, 30, 60, 80, 100]))
        b2 = list(zip(bounds, [15, 50, 100, 150, 200]))
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=100, total=500.0, buckets=b1),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=200, total=1000.0, buckets=b2),
            ],
        )
        out = _values(convert_to_delta(df))
        assert out[0]["count"] == 100 and out[0]["sum"] == 500.0
        assert [b["count"] for b in out[0]["buckets"]] == [10, 30, 60, 80, 100]
        assert out[1]["count"] == 100 and out[1]["sum"] == 500.0
        assert [b["count"] for b in out[1]["buckets"]] == [5, 20, 40, 70, 100]

    def test_histogram_reset(self, spark):
        bounds = [0.1, 1.0]
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=100, total=50.0, buckets=list(zip(bounds, [60, 100]))),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=10, total=5.0, buckets=list(zip(bounds, [6, 10]))),
            ],
        )
        out = _values(convert_to_delta(df))
        # count dropped 100 -> 10: reset -> raw passthrough
        assert out[1]["count"] == 10 and out[1]["sum"] == 5.0
        assert [b["count"] for b in out[1]["buckets"]] == [6, 10]

    def test_histogram_zero_prev_count_guard(self, spark):
        # temporality.go:87-94: previous count 0 -> raw cumulative passes through
        bounds = [0.1]
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=0, total=0.0, buckets=list(zip(bounds, [0]))),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=5, total=2.5, buckets=list(zip(bounds, [5]))),
            ],
        )
        out = _values(convert_to_delta(df))
        assert out[1]["count"] == 5  # not 5-0 via subtraction path; raw passthrough
        assert out[1]["sum"] == 2.5
        # buckets still subtract (no zero-guard on buckets in the reference)
        assert [b["count"] for b in out[1]["buckets"]] == [5]

    def test_bucket_bound_mismatch_passthrough(self, spark):
        # temporality.go:127-136: bounds absent from previous pass through
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=10, total=1.0, buckets=[(0.1, 10)]),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=30, total=3.0, buckets=[(0.1, 25), (1.0, 30)]),
            ],
        )
        out = _values(convert_to_delta(df))
        got = {b["le"]: b["count"] for b in out[1]["buckets"]}
        assert got == {0.1: 15, 1.0: 30}

    def test_histogram_null_count_and_sum(self, spark):
        # a null count/sum stays null and the next point is not
        # differenced against it; the streaming twin is
        # test_stream_chunks.py::TestConvertGroupNullCountSum
        ladder = [1.0, 5.0]
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=10, total=5.0, buckets=list(zip(ladder, [4, 10]))),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, buckets=list(zip(ladder, [5, 12]))),
                _row(ts_min=2, mtype=METRIC_TYPE_HISTOGRAM, monotonic=False, count=15, total=9.0, buckets=list(zip(ladder, [7, 15]))),
            ],
        )
        out = _values(convert_to_delta(df))
        assert [r["count"] for r in out] == [10, None, 15]
        assert [r["sum"] for r in out] == [5.0, None, 9.0]
        assert [[b["count"] for b in r["buckets"]] for r in out] == [[4, 10], [1, 2], [2, 3]]

    def test_multiple_series_independent(self, spark):
        rows = [_row(series=1, ts_min=i, value=v) for i, v in enumerate([100.0, 150.0])]
        rows += [_row(series=2, ts_min=i, value=v) for i, v in enumerate([10.0, 30.0])]
        out_df = convert_to_delta(_mk(spark, rows))
        assert [r["value"] for r in _values(out_df, 1)] == [100.0, 50.0]
        assert [r["value"] for r in _values(out_df, 2)] == [10.0, 20.0]


class TestConvertToCumulative:
    def test_delta_to_cumulative(self, spark):
        # temporality_test.go:122-163: deltas [10,20,30] -> [10,30,60]
        df = _mk(
            spark,
            [_row(ts_min=i, temporality=TEMPORALITY_DELTA, value=v) for i, v in enumerate([10.0, 20.0, 30.0])],
        )
        out = _values(convert_to_cumulative(df))
        assert [r["value"] for r in out] == [10.0, 30.0, 60.0]
        assert all(r["temporality"] == TEMPORALITY_CUMULATIVE for r in out)

    def test_histogram_cumulative(self, spark):
        bounds = [0.1, 1.0]
        df = _mk(
            spark,
            [
                _row(ts_min=0, mtype=METRIC_TYPE_HISTOGRAM, temporality=TEMPORALITY_DELTA, monotonic=False, count=10, total=5.0, buckets=list(zip(bounds, [6, 10]))),
                _row(ts_min=1, mtype=METRIC_TYPE_HISTOGRAM, temporality=TEMPORALITY_DELTA, monotonic=False, count=20, total=7.0, buckets=list(zip(bounds, [12, 20]))),
            ],
        )
        out = _values(convert_to_cumulative(df))
        assert [r["count"] for r in out] == [10, 30]
        assert [r["sum"] for r in out] == [5.0, 12.0]
        assert [b["count"] for b in out[1]["buckets"]] == [18, 30]

    def test_cumulative_passthrough(self, spark):
        df = _mk(spark, [_row(ts_min=i, value=v) for i, v in enumerate([100.0, 150.0])])
        out = _values(convert_to_cumulative(df))
        assert [r["value"] for r in out] == [100.0, 150.0]

    def test_per_series_isolation(self, spark):
        # Fixes the reference's shared-accumulator flaw (handler.go:184-197):
        # two series accumulate independently.
        rows = [_row(series=1, ts_min=i, temporality=TEMPORALITY_DELTA, value=10.0) for i in range(3)]
        rows += [_row(series=2, ts_min=i, temporality=TEMPORALITY_DELTA, value=1.0) for i in range(3)]
        out_df = convert_to_cumulative(_mk(spark, rows))
        assert [r["value"] for r in _values(out_df, 1)] == [10.0, 20.0, 30.0]
        assert [r["value"] for r in _values(out_df, 2)] == [1.0, 2.0, 3.0]


class TestResetDetector:
    def test_truth_table(self, spark):
        # temporality_test.go:271-326: monotonic [100,150,50,75] -> F,F,T,F
        df = _mk(spark, [_row(ts_min=i, value=v) for i, v in enumerate([100.0, 150.0, 50.0, 75.0])])
        out = detect_resets(df).orderBy("timestamp").select("reset_detected").collect()
        assert [r[0] for r in out] == [False, False, True, False]

    def test_monotonic_increasing_no_resets(self, spark):
        df = _mk(spark, [_row(ts_min=i, value=float(v)) for i, v in enumerate([1, 2, 3, 4])])
        out = detect_resets(df).orderBy("timestamp").select("reset_detected").collect()
        assert [r[0] for r in out] == [False] * 4

    def test_non_monotonic_never_resets(self, spark):
        df = _mk(
            spark,
            [_row(ts_min=i, value=v, monotonic=False) for i, v in enumerate([100.0, 50.0, 75.0])],
        )
        out = detect_resets(df).orderBy("timestamp").select("reset_detected").collect()
        assert [r[0] for r in out] == [False] * 3
