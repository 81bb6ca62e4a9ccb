"""SparkSession factory tuned for this engine.

Design point is a large cluster reading ~100 TB; tests run on local[N].
Every knob set here is cluster-relevant, not local-only:

- AQE on (runtime coalesce, skew-join splitting) - replaces hand-tuning
  shuffle partition counts per query.
- ``mapKeyDedupPolicy=LAST_WIN`` - required for attribute-map merge
  semantics (datapoint attrs win over resource attrs; the default raises
  on duplicate keys). Mirrors ``internal/receiver/otlp.go:332-344``.
- zstd parquet compression + v2 writer - mirrors the reference schema's
  ZSTD(1) column codecs (``internal/clickhouse/schema.sql:4-62``).
- Arrow enabled for the pandas-UDF reference kernels.
- Python worker daemon ``daemon_preload``: pandas/numpy/pyarrow are
  imported once before the fork, and a worker's per-task
  ``importlib.invalidate_caches()`` no longer re-reads ``pyspark.zip``
  unless the archive changed (CPython < 3.12).
- Code-generation cache of 200 classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100).
  Serving re-runs the same few plans, and a class that has been evicted
  from this cache is compiled by Janino again. One refresh of the
  benchmark's dashboard (5 PromQL panels, a series call and a Remote
  Read) uses 160-180 classes: with 100 entries every refresh compiled
  about 132 of them again; with 140 entries about 50, with 160 up to
  25, and with 180, 200 or 400 only the 4-6 whose code differs per
  request (``tools/codegen_probe.py --cache-entries N``). 200 covers
  that working set with a margin. A range that slides with ``now``
  changes the literals of about 16 of them per refresh
  (``--slide-s 60``); the rest still hit. The cache is built when the
  JVM first generates code, so the setting takes effect only for the
  JVM this builder launches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "clickhouse-metrics-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master``/``shuffle_partitions`` default from ``SPARK_GRAFT_CPUS``
    so the driver's bench and local tests share one code path.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # worker daemon pre-imports pandas/numpy/pyarrow before forking so
    # every pandas-UDF worker inherits them copy-on-write instead of
    # importing independently (~2-3 s x num-cores on a cold page cache)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + pp if pp else "")
        )

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # read parquet TIMESTAMP(NANOS) columns as bigint nanos (Spark has
        # no nanosecond timestamp type); converted at the source wrapper
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.python.daemon.module",
            "clickhouse_metrics_pipeline_spark.daemon_preload",
        )
        .config("spark.sql.codegen.cache.maxEntries", "200")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # r10 verdict (What's wrong 2): a java.util.regex
        # StackOverflowError once killed a stream-execution thread
        # mid-compaction (the regex engine recurses per character on
        # giant exception strings). Local-mode threads inherit the
        # driver JVM's stack size; 8m quadruples the 2m default at
        # negligible per-thread cost and removes that failure mode.
        # Takes effect when THIS builder launches the JVM (no-op on
        # getOrCreate reuse — same as every launch-time conf here).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-Xss8m"),
        )
        # NOTE: spark.cleaner.periodicGC.interval was tried at 2min to
        # bound out-of-scope localCheckpoint blocks and REGRESSED the
        # suite ~1.7x — the forced full GC lands mid-query and stalls
        # every executor thread. The default (30min) is right: checkpoint
        # blocks are tiny and the ContextCleaner reclaims them on natural
        # GCs; do not re-add without A/B timings.
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
