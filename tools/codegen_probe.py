"""Count the Janino compiles of one ``dashboard_query`` refresh.

    python tools/codegen_probe.py [--seed 1] [--refreshes 5] \
        [--cache-entries N] [--slide-s S]

Builds the benchmark's dashboard store (``perfbench/wl_dashboard.py``,
used read-only), warms it up, then runs ``--refreshes`` refreshes and
prints, per refresh, the number of generated classes Spark compiled,
read from the driver JVM's ``CodegenMetrics``. A refresh
whose classes all hit the code-generation cache compiles none.
``--cache-entries`` overrides ``spark.sql.codegen.cache.maxEntries``
for the launched JVM, to size the cache against this working set.
``--slide-s`` moves every range S seconds later before each refresh, as
a dashboard whose range follows ``now`` does; its answers then differ
from the first refresh's, which the output lists as failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--refreshes", type=int, default=5)
    ap.add_argument("--cache-entries", type=int, default=None)
    ap.add_argument("--slide-s", type=int, default=0)
    args = ap.parse_args()

    import common
    from wl_dashboard import DashboardWorkload

    from clickhouse_metrics_pipeline_spark.session import get_spark

    work = common.fresh_dir(os.path.join(common.WORK_ROOT, "codegen-probe"))
    common.configure_env(work)
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if args.cache_entries is not None:
        conf["spark.sql.codegen.cache.maxEntries"] = str(args.cache_entries)
    spark = get_spark(app_name="codegen-probe", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source
    hist = metrics.CodegenMetrics.METRIC_COMPILATION_TIME()
    wl = DashboardWorkload(spark, os.path.join(work, "data"), args.seed, 0)
    try:
        rows = []
        for i in range(3 + args.refreshes):  # 3 warm-ups fill the cache
            if args.slide_s:
                wl.anchor += args.slide_s
                wl.requests = wl._build_requests()
            n0 = hist.getCount()
            rec = wl.cycle()
            if i >= 3:
                rows.append({"refresh_ms": round(rec["refresh_s"] * 1000),
                             "compiles": hist.getCount() - n0})
        print(json.dumps({
            "cache_entries": spark.conf.get(
                "spark.sql.codegen.cache.maxEntries"),
            "slide_s": args.slide_s,
            "failures": wl.failures,
            "refreshes": rows,
        }))
    finally:
        wl.close()
        common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
