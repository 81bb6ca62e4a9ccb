"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload ingest_drain --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The engine is started from the source in
this checkout (``clickhouse_metrics_pipeline_spark``); inputs are made
from ``--seed`` under ``.perfbench_work/``. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Any failed correctness check makes the exit code 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "memory_mb": "MB",
    "unit_p50_ms": "ms",
    "items_per_s": "1/s",
}

WORKLOADS = ("ingest_drain", "dashboard_query")


def _workload_class(name: str):
    if name == "ingest_drain":
        from wl_ingest import IngestWorkload

        return IngestWorkload
    from wl_dashboard import DashboardWorkload

    return DashboardWorkload


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit. A traced run reports all of
    them; a layer its workload does not exercise reads 0."""
    from wl_dashboard import DashboardWorkload
    from wl_ingest import IngestWorkload

    return {
        **IngestWorkload.PER_LAYER_UNITS,
        **DashboardWorkload.PER_LAYER_UNITS,
        "trace.overhead_pct": "%",
        "host.floor_shuffle_ms": "ms",
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, common.ROOT)
    try:
        import clickhouse_metrics_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"engine source not found under {common.ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = os.path.join(common.WORK_ROOT, f"{args.workload}-{os.getpid()}")
    common.fresh_dir(work)
    cores = common.configure_env(work)
    spark = wl = None
    try:
        marks = [("python_ready", time.time())]
        spark = common.start_spark()
        marks.append(("spark_ready", time.time()))
        from spans import Tracer

        wl = _workload_class(args.workload)(
            spark, os.path.join(work, "data"), args.seed, args.seconds)
        wl.tracer = Tracer()
        rec = wl.run(bool(args.trace))
        marks += wl.marks + [("run_done", time.time())]
        setup_s = rec["setup_end"] - T_PROCESS
        jvm_mb, py_mb = common.peak_memory_mb(spark)
        memory_mb = jvm_mb + py_mb
        if args.trace:
            units = per_layer_units()
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(wl.per_layer(rec))
            metrics["host.floor_shuffle_ms"] = common.floor_shuffle_ms(spark)
            wl.tracer.dump(os.path.join(
                common.WORK_ROOT, f"{args.workload}.trace.jsonl"))
        else:
            units = END_TO_END
            metrics = wl.end_to_end(rec)
            metrics["setup_s"] = setup_s
            metrics["memory_mb"] = memory_mb
        attempted, failed = wl.attempted(rec)
        failures = list(wl.failures)
        record = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "seconds": args.seconds, "trace": args.trace,
            "setup_s": setup_s, "memory_mb": memory_mb,
            "jvm_peak_mb": jvm_mb, "python_peak_mb": py_mb,
            "failures": failures, "metrics": metrics,
            "run": {k: v for k, v in rec.items() if k != "progress"},
            "marks_s": [(k, round(t - T_PROCESS, 2)) for k, t in marks],
        }
        with open(os.path.join(common.WORK_ROOT,
                               f"{args.workload}.last_run.json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if wl is not None and hasattr(wl, "close"):
            wl.close()
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in failures:
        print(f"correctness check failed: {f}", file=sys.stderr)
    correct = not failures and failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in sorted(metrics)},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
