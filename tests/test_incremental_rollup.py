"""Incremental rollup job (A12 freshness guards as partition arithmetic):
only new/stale date partitions are processed; reruns are idempotent; the
incremental output equals a full recompute.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.operators.rollup import (
    incremental_rollup_job,
    rollup_raw_to_1m,
)
from clickhouse_metrics_pipeline_spark.sources.fixtures import seed_metrics
from clickhouse_metrics_pipeline_spark.sources.writer import write_metrics_table

DAY0 = dt.datetime(2024, 6, 1, 12, 0, 0)
DAY1 = dt.datetime(2024, 6, 2, 12, 0, 0)
DAY2 = dt.datetime(2024, 6, 3, 12, 0, 0)


def _rollup_rows(spark, out_path):
    df = spark.read.parquet(out_path)
    return sorted(
        (r["series_hash"], r["timestamp"], r["value_avg"], r["samples_count"])
        for r in df.select(
            "series_hash", "timestamp", "value_avg", "samples_count"
        ).collect()
    )


def _full_recompute_rows(spark, raw_path):
    out = rollup_raw_to_1m(spark.read.parquet(raw_path))
    return sorted(
        (r["series_hash"], r["timestamp"], r["value_avg"], r["samples_count"])
        for r in out.select(
            "series_hash", "timestamp", "value_avg", "samples_count"
        ).collect()
    )


def test_incremental_rollup(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("inc")
    raw_path, out_path = str(base / "raw"), str(base / "1m")

    write_metrics_table(seed_metrics(spark, now=DAY0), raw_path)
    write_metrics_table(seed_metrics(spark, now=DAY1), raw_path)

    done = incremental_rollup_job(spark, raw_path, out_path)
    assert done == ["2024-06-01", "2024-06-02"]
    assert _rollup_rows(spark, out_path) == _full_recompute_rows(spark, raw_path)

    # rerun with no new data: only the lookback window is reprocessed,
    # and the output is unchanged (idempotent overwrite)
    before = _rollup_rows(spark, out_path)
    assert incremental_rollup_job(spark, raw_path, out_path) == ["2024-06-02"]
    assert _rollup_rows(spark, out_path) == before

    # a new day arrives: only it is processed; result still equals a
    # full recompute over all raw data
    write_metrics_table(seed_metrics(spark, now=DAY2), raw_path)
    assert incremental_rollup_job(spark, raw_path, out_path) == ["2024-06-03"]
    assert _rollup_rows(spark, out_path) == _full_recompute_rows(spark, raw_path)

    # late data lands in the newest (in-lookback) partition and is
    # absorbed by the partition overwrite
    late = seed_metrics(spark, now=DAY2 + dt.timedelta(minutes=30))
    write_metrics_table(late, raw_path)
    assert incremental_rollup_job(spark, raw_path, out_path) == ["2024-06-03"]
    assert _rollup_rows(spark, out_path) == _full_recompute_rows(spark, raw_path)


def test_partition_dates_runs_no_job(spark, tmp_path):
    # the dates come from one directory listing, not from a read that
    # infers the schema from the parquet footers
    from clickhouse_metrics_pipeline_spark.operators.rollup import (
        _partition_dates,
    )

    raw_path = str(tmp_path / "raw")
    write_metrics_table(seed_metrics(spark, now=DAY0), raw_path)
    write_metrics_table(seed_metrics(spark, now=DAY1), raw_path)
    sc = spark.sparkContext
    sc.setJobGroup("partition-dates", "partition dates", False)
    try:
        dates = _partition_dates(spark, raw_path)
        missing = _partition_dates(spark, str(tmp_path / "absent"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert dates == {"2024-06-01", "2024-06-02"} and missing == set()
    assert list(sc.statusTracker().getJobIdsForGroup("partition-dates")) == []


def test_rollup_write_leaves_the_session_conf_alone(spark, tmp_path, monkeypatch):
    # the job asks its own writer for dynamic partition overwrite; the
    # session conf, which concurrent jobs and requests share, is never
    # changed, not even while the write runs
    from pyspark.sql import DataFrameWriter

    key = "spark.sql.sources.partitionOverwriteMode"
    raw_path, out_path = str(tmp_path / "raw"), str(tmp_path / "1m")
    write_metrics_table(seed_metrics(spark, now=DAY0), raw_path)
    seen = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        seen.append(spark.conf.get(key))
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    before = spark.conf.get(key)
    assert incremental_rollup_job(spark, raw_path, out_path) == ["2024-06-01"]
    assert seen == [before] and spark.conf.get(key) == before
