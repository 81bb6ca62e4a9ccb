"""The code-generation cache holds a serving working set.

``session.get_spark`` sizes ``spark.sql.codegen.cache.maxEntries`` so
that re-running a set of PromQL queries reuses the classes Janino
compiled for them the first time. The ten queries below use more than
Spark's default of 100 classes between them; with a 100-entry cache
every re-run compiled about 140 of them again. Their window ranges are
used nowhere else, so the first pass compiles dozens of classes
whichever tests ran before it in this JVM.
"""

from __future__ import annotations

from clickhouse_metrics_pipeline_spark.plans import promql as P
from clickhouse_metrics_pipeline_spark.tables import _events
from clickhouse_metrics_pipeline_spark.workloads_ext10 import (
    _cum_bucket_series_frame,
)

SF = "/root/testdata/sf0.001"

BUCKET_QUERIES = (
    "histogram_quantile(0.9, sum by (event_type) "
    "(rate(hist_requests[17m])))",
    "sum by (event_type) (increase(hist_requests[19m]))",
)
EVENT_QUERIES = (
    "sum by (event_type) (count_over_time(events[23m]))",
    "max by (event_type) (max_over_time(events[29m]))",
    "avg by (user) (avg_over_time(events[31m]))",
    "topk(3, sum by (user) (count_over_time(events[37m])))",
    "quantile_over_time(0.7, events[41m])",
    "sum by (event_type) (rate(events[43m]))",
    "max by (event_type) (stddev_over_time(events[47m]))",
    "sum by (event_type) (count_over_time(events[53m])) / on(event_type) "
    "group_right sum by (event_type, user) (count_over_time(events[53m]))",
)


def test_rerun_queries_compile_almost_nothing(spark):
    compiles = spark.sparkContext._jvm.org.apache.spark.metrics.source \
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    buckets = _cum_bucket_series_frame(spark, SF)
    events = P.events_as_series(_events(spark, SF))
    work = [(q, buckets) for q in BUCKET_QUERIES] + [
        (q, events) for q in EVENT_QUERIES
    ]

    def run_all() -> int:
        n0 = compiles.getCount()
        for q, frame in work:
            P.compile_promql(q, frame).collect()
        return compiles.getCount() - n0

    first, again = run_all(), run_all()
    assert again <= 5 and first > 5 * again
