"""Shared plumbing for the benchmark: environment, Spark session, host
probes and the summary statistics every workload reports with.

Nothing here starts Spark at import time; ``start_spark`` does, after
``configure_env`` has pinned the core count and moved every scratch
directory into the work directory under the checkout.
"""

from __future__ import annotations

import os
import re
import resource
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# the driver JVM's heap, pinned like the core count (see NOTES.md)
DRIVER_MEMORY = "2g"

METRIC_NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def nproc() -> int:
    """Cores this process may run on (the benchmark's pinned core
    count: Spark's local[N], shuffle partitions and client
    connections all use it)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def configure_env(work: str) -> int:
    """Pin the core count and keep every scratch file inside ``work``.

    ``session.get_spark`` sizes ``local[N]`` and the shuffle partitions
    from ``SPARK_GRAFT_CPUS`` and defaults to 32, which oversubscribes a
    small host; the benchmark always sets it to ``nproc``."""
    cores = nproc()
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        f"-Xss8m -Xms{DRIVER_MEMORY} -XX:-UsePerfData "
        # C1 only: see NOTES.md, "Pinned settings"
        f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("PYSPARK_PYTHON", "python3")
    return cores


def start_spark():
    from clickhouse_metrics_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={"spark.sql.warehouse.dir": os.path.join(
            os.environ["TMPDIR"], "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# --------------------------------------------------------------------------
# host / JVM probes
# --------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    name = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getName()
    )
    return int(name.split("@")[0])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_memory_mb(spark) -> tuple[float, float]:
    """Peak RSS of the Spark driver JVM and of the Python driver, in MB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return _vm_hwm_kb(jvm_pid(spark)) / 1024.0, py_kb / 1024.0


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return float(sum(max(0, b.getCollectionTime()) for b in beans))


def floor_shuffle_ms(spark, reps: int = 3) -> float:
    """``bench.py``'s fixed two-exchange probe over a generated range,
    median of ``reps`` runs: a host-drift diagnostic, not a product
    metric."""
    from pyspark.sql import functions as F

    def once() -> None:
        df = spark.range(0, 200_000, 1, 4)
        (
            df.groupBy((F.col("id") % 1500).alias("k"))
            .agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
            .groupBy((F.col("k") % 37).alias("k2"))
            .agg(F.sum("s"), F.sum("n"))
            .collect()
        )

    once()
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        once()
        samples.append((time.perf_counter() - t0) * 1000.0)
    return statistics.median(samples)


class JobCounter:
    """Jobs and tasks Spark ran for one job group, from the status
    tracker (works with the UI disabled)."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()

    def count(self, group: str) -> tuple[int, int]:
        jobs = self._tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None:
                    tasks += st.numTasks
        return len(jobs), tasks


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail_percentile(samples, min_beyond: int = 10):
    """The highest percentile that has at least ``min_beyond`` samples
    beyond it, as ``(percentile, value, n)``; ``None`` when the sample
    is too small for any percentile above the median to qualify.

    With ``n`` sorted samples, the value at rank ``k`` (0-based) has
    ``n - 1 - k`` samples beyond it, so the highest qualifying rank is
    ``n - 1 - min_beyond`` and its percentile is ``100 * k / (n - 1)``.
    """
    xs = sorted(samples)
    n = len(xs)
    k = n - 1 - min_beyond
    if n < 2 or k < (n - 1) / 2:
        return None
    return round(100.0 * k / (n - 1), 2), float(xs[k]), n


def warm_until_steady(
    unit, min_units: int = 2, max_s: float = 30.0, tol: float = 0.05
) -> list[float]:
    """Run ``unit()`` (which returns its own duration in seconds) until
    its time stops falling: the latest unit is no faster than ``1 - tol``
    of the best one before it, for two units in a row. Stops early at
    ``max_s`` of warm-up, after at least ``min_units``. Returns the
    unit times."""
    times: list[float] = []
    t0 = time.perf_counter()
    flat = 0
    while True:
        times.append(unit())
        if len(times) > 1 and times[-1] >= (1 - tol) * min(times[:-1]):
            flat += 1
        else:
            flat = 0
        if len(times) >= min_units and (
                flat >= 2 or time.perf_counter() - t0 >= max_s):
            break
    return times
