"""Workload ``ingest_drain``: drain a pre-generated OTLP/JSON backlog
through ``sources.otlp.otlp_json_stream`` -> ``streaming.pipeline
.ingest_stream(available_now=True)`` at a fixed
``max_files_per_trigger``, then run ``operators.rollup
.incremental_rollup_job`` for each of 1m/5m/1h over the drained sink.

One unit of user work is one micro-batch commit at the fixed batch
size (the freshness floor). The drain is watched through the engine's
own progress reports (``StreamingQuery.recentProgress``): the leading
batches are the warm-up, until the batch time stops falling; the rest
of the drain is measured. ``ingest_stream(available_now=True)`` never
terminates on its own (see NOTES.md), so :func:`drain` stops the query
once every batch of the backlog is in and the committed sink row count
equals the generator's valid-point count.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from statistics import fmean

from common import JobCounter, fresh_dir, jvm_gc_ms, median
from gen import IngestExpect, write_ingest_backlog

TICKS_PER_FILE = 10
FILES_PER_TRIGGER = 2
# the drain's leading batches may be spent warming up, at most this many
# (the batch time keeps falling for longer; the cap bounds set-up time)
WARM_MAX_BATCHES = 3
# nominal warm batch time on a 4-core host; sizes the measured part of
# the backlog to roughly ``--seconds``
NOMINAL_BATCH_S = 3.5
MIN_MEASURED_BATCHES = 6
GRAINS = (("1m", "1 minute"), ("5m", "5 minutes"), ("1h", "1 hour"))

_PROGRESS_MS = (
    ("sources.otlp.latest_offset_ms", "latestOffset"),
    ("sources.otlp.get_batch_ms", "getBatch"),
    ("streaming.pipeline.add_batch_ms", "addBatch"),
    ("streaming.pipeline.query_planning_ms", "queryPlanning"),
)


def _iso_s(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_window(p: dict) -> tuple[float, float]:
    """(start, end) epoch seconds of one micro-batch progress report."""
    start = _iso_s(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


def drain(spark, drop: str, out: str, ckpt: str, batches: int,
          valid_points: int, max_files: int | None, on_batch=None,
          timeout_s: float = 170.0) -> dict:
    """Drain ``drop`` into a fresh sink and stop the query once all
    ``batches`` non-empty micro-batches are in and the sink holds
    ``valid_points`` committed rows. ``on_batch(progress)`` sees the
    non-empty batch reports as they arrive.

    Returns the query start time, the non-empty batch reports, and the
    jobs/tasks Spark ran for the query."""
    from clickhouse_metrics_pipeline_spark.sources.otlp import otlp_json_stream
    from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
        ingest_stream,
    )

    fresh_dir(out)
    fresh_dir(ckpt)
    t0 = time.time()
    q = ingest_stream(
        otlp_json_stream(spark, drop, max_files_per_trigger=max_files),
        out, ckpt, available_now=True,
    )
    seen = 0
    try:
        while True:
            done = [dict(p) for p in q.recentProgress if p["numInputRows"] > 0]
            if on_batch is not None:
                for p in done[seen:]:
                    on_batch(p)
            seen = len(done)
            if seen >= batches:
                break
            if not q.isActive:
                raise RuntimeError(f"ingest stream ended early: {q.exception()}")
            if time.time() - t0 > timeout_s:
                raise TimeoutError("ingest drain did not finish")
            time.sleep(0.02)
        committed = read_parquet(out).num_rows
        jobs, tasks = JobCounter(spark).count(str(q.runId))
        all_batches = len(q.recentProgress)
    finally:
        q.stop()
    if committed != valid_points:
        raise AssertionError(
            f"committed {committed} rows, generator says {valid_points}")
    return {"start": t0, "batches": done, "jobs": jobs, "tasks": tasks,
            "all_batches": max(1, all_batches), "committed": committed}


def read_parquet(path: str, columns: list[str] | None = None):
    """The committed rows of a partitioned parquet table, read with
    pyarrow (a reader independent of the engine); files and directories
    starting with ``.`` or ``_`` (staging, metadata) are skipped."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)


def sink_series_sums(table) -> list[dict]:
    """Per (metric, job, route) sums of ``value`` and ``count`` and the
    temporality range, over the sink's counters and histograms; plus a
    ``junk`` row counting points the generator made invalid."""
    acc: dict = {}
    cols = table.to_pydict()
    for metric, attrs, v, c, t in zip(cols["metric"], cols["attributes"],
                                      cols["value"], cols["count"],
                                      cols["temporality"]):
        a = dict(attrs)
        if a.get("job") == "junk" or not metric:
            acc.setdefault("junk", {"metric": "junk", "rows": 0})["rows"] += 1
            continue
        if metric not in ("bench_requests_total", "bench_latency_ms"):
            continue
        key = (metric, a.get("job"), a.get("route"))
        r = acc.setdefault(key, {"metric": metric, "job": key[1],
                                 "route": key[2], "v": None, "c": None,
                                 "tmin": t, "tmax": t})
        if v is not None:
            r["v"] = (r["v"] or 0.0) + v
        if c is not None:
            r["c"] = (r["c"] or 0) + c
        r["tmin"], r["tmax"] = min(r["tmin"], t), max(r["tmax"], t)
    return list(acc.values())


def sink_failures(rows: list[dict], exp: IngestExpect) -> list[str]:
    """Per-series sums of the stored deltas must equal the generator's
    counter increments across resets, counters must be stored as delta
    (temporality 2), delta histogram counts must pass through, and no
    invalid point may reach the sink."""
    failures = []
    got_inc, got_cnt = {}, {}
    for r in rows:
        if r["metric"] == "junk":
            failures.append(f"{r['rows']} points validation must reject "
                            "reached the sink")
            continue
        key = (r["metric"], r["job"], r["route"])
        if r["metric"] == "bench_requests_total":
            got_inc[key] = r["v"]
            if (r["tmin"], r["tmax"]) != (2, 2):
                failures.append(f"{key} not stored as delta")
        else:
            got_cnt[key] = r["c"]
    want_inc = {k: float(v) for k, v in exp.counter_increase.items()}
    if got_inc != want_inc:
        failures.append("counter delta sums differ from increments")
    if got_cnt != exp.hist_count:
        failures.append("histogram counts differ from generator")
    return failures


class IngestWorkload:
    PER_LAYER_UNITS = {
        **{name: "ms" for name, _ in _PROGRESS_MS},
        "streaming.pipeline.checkpoint_ms": "ms",
        "streaming.pipeline.state_rows": "count",
        "streaming.pipeline.state_memory_bytes": "bytes",
        "streaming.pipeline.state_update_ms": "ms",
        "streaming.pipeline.state_commit_ms": "ms",
        "spark.tasks_per_batch": "count",
        "operators.validate.accepted_points": "count",
        "operators.validate.rejected_points": "count",
        "sources.writer.files_written": "count",
        "sources.writer.bytes_per_point": "bytes",
        "operators.rollup.job_1m_s": "s",
        "operators.rollup.job_5m_s": "s",
        "operators.rollup.job_1h_s": "s",
        "operators.rollup.refresh_s": "s",
        "operators.rollup.rows_out": "count",
        "ingest.drain_s": "s",
        "jvm.gc_ms": "ms",
    }

    def __init__(self, spark, work: str, seed: int, seconds: float) -> None:
        self.spark = spark
        self.work = work
        self.drop = os.path.join(work, "drop")
        self.batches = WARM_MAX_BATCHES + max(
            MIN_MEASURED_BATCHES, math.ceil(seconds / NOMINAL_BATCH_S))
        today = dt.datetime.now(dt.timezone.utc).replace(
            hour=0, minute=0, second=0, microsecond=0)
        # the whole backlog sits on yesterday (UTC): always inside the
        # validation window, and on one date partition
        base_s = int(today.timestamp()) - 86400 + 6 * 3600
        self.exp: IngestExpect = write_ingest_backlog(
            self.drop, seed, self.batches * FILES_PER_TRIGGER * TICKS_PER_FILE,
            TICKS_PER_FILE, base_s)
        self.points_per_batch = self.exp.valid_points // self.batches
        self.failures: list[str] = []
        self.tracer = None
        self.warm_batches = 0
        self.marks: list[tuple[str, float]] = []

    # ----------------------------------------------------------------- run
    def run(self, trace: bool) -> dict:
        """Drain the backlog, check the sink, run the rollup passes.
        Set-up ends where the first measured batch starts."""
        times: list[float] = []

        def on_batch(p: dict) -> None:
            times.append(p["durationMs"]["triggerExecution"] / 1000.0)
            if self.warm_batches:
                return
            flat = len(times) >= 3 and all(
                t >= 0.95 * min(times[:-2]) for t in times[-2:])
            if flat or len(times) >= WARM_MAX_BATCHES:
                self.warm_batches = len(times)

        out = os.path.join(self.work, "sink")
        self.marks.append(("data_ready", time.time()))
        gc0 = jvm_gc_ms(self.spark)
        d = drain(self.spark, self.drop, out, os.path.join(self.work, "ckpt"),
                  self.batches, self.exp.valid_points, FILES_PER_TRIGGER,
                  on_batch=on_batch)
        measured = d["batches"][self.warm_batches:]
        first, last = batch_window(measured[0]), batch_window(measured[-1])
        rec = {
            "setup_end": first[0],
            "warm_batch_s": times[: self.warm_batches],
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in measured],
            "progress": measured,
            "measured_s": last[1] - first[0],
            "drain_s": batch_window(d["batches"][-1])[1] - d["start"],
            "tasks_per_batch": d["tasks"] / d["all_batches"],
            "gc_ms": jvm_gc_ms(self.spark) - gc0,
            "committed": d["committed"],
        }
        self.marks.append(("drained", time.time()))
        rec["files_written"], rec["bytes"] = _sink_files(out)
        self.failures += sink_failures(sink_series_sums(read_parquet(
            out, ["metric", "attributes", "value", "count", "temporality"])),
            self.exp)
        self.marks.append(("sink_checked", time.time()))
        if trace:
            # an untraced pass to warm up, a traced pass, and an untraced
            # one: the tracing overhead compares the last two
            rec["rollup"] = self._rollup_pass(out)
            self.tracer.unit = 1
            self.install_trace()
            try:
                rec["rollup_traced"] = self._rollup_pass(out)
            finally:
                self.tracer.unwrap_all()
            rec["rollup_after"] = self._rollup_pass(out)
        self.marks.append(("rollup_done", time.time()))
        return rec

    def _rollup_pass(self, out: str) -> dict:
        from clickhouse_metrics_pipeline_spark.operators import rollup
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            as_metrics_raw,
        )

        job_s, rows_out = {}, 0
        for tag, grain in GRAINS:
            path = fresh_dir(os.path.join(self.work, f"rollup_{tag}"))
            t0 = time.perf_counter()
            rollup.incremental_rollup_job(self.spark, out, path, grain=grain,
                                          adapt=as_metrics_raw)
            job_s[tag] = time.perf_counter() - t0
            rows_out += self._check_rollup(path)
        return {"job_s": job_s, "total_s": sum(job_s.values()),
                "rows_out": rows_out}

    def install_trace(self) -> None:
        from clickhouse_metrics_pipeline_spark.operators import rollup

        self.tracer.wrap(rollup, "incremental_rollup_job",
                         "operators.rollup.incremental_rollup_job")
        self.tracer.wrap(rollup, "rollup_raw_to_1m",
                         "operators.rollup.rollup_raw_to_1m")

    # -------------------------------------------------------------- checks
    def _check_rollup(self, path: str) -> int:
        """Every rollup row set covers every valid point exactly once."""
        t = read_parquet(path, ["samples_count"])
        covered = sum(x for x in t.column("samples_count").to_pylist())
        if covered != self.exp.valid_points:
            self.failures.append(
                f"rollup {path} covers {covered} points, "
                f"want {self.exp.valid_points}")
        return t.num_rows

    # ------------------------------------------------------------- metrics
    def attempted(self, rec: dict) -> tuple[int, int]:
        """Micro-batches committed plus rollup jobs run, and the failed
        checks."""
        passes = sum(1 for k in ("rollup", "rollup_traced", "rollup_after")
                     if k in rec)
        n = len(rec["batch_ms"]) + self.warm_batches + passes * len(GRAINS)
        return n, len(self.failures)

    def end_to_end(self, rec: dict) -> dict:
        return {
            "unit_p50_ms": median(rec["batch_ms"]),
            "items_per_s": self.points_per_batch * len(rec["batch_ms"])
            / rec["measured_s"],
        }

    def per_layer(self, rec: dict) -> dict:
        # means, not medians: the progress reports carry whole
        # milliseconds, and a median of a few of them loses the digits
        prog = rec["progress"]

        def dur(key: str) -> float:
            return fmean([p["durationMs"].get(key, 0) for p in prog])

        def state(key: str) -> float:
            return fmean([p["stateOperators"][0][key] for p in prog])

        out = {name: dur(key) for name, key in _PROGRESS_MS}
        out["streaming.pipeline.checkpoint_ms"] = fmean([
            p["durationMs"].get("walCommit", 0)
            + p["durationMs"].get("commitOffsets", 0) for p in prog])
        out["streaming.pipeline.state_rows"] = max(
            p["stateOperators"][0]["numRowsTotal"] for p in prog)
        out["streaming.pipeline.state_memory_bytes"] = state("memoryUsedBytes")
        out["streaming.pipeline.state_update_ms"] = state("allUpdatesTimeMs")
        out["streaming.pipeline.state_commit_ms"] = state("commitTimeMs")
        out["spark.tasks_per_batch"] = rec["tasks_per_batch"]
        # accepted: rows committed to the sink (checked equal to the
        # generator's valid points); rejected: the rest of what was sent
        out["operators.validate.accepted_points"] = rec["committed"]
        out["operators.validate.rejected_points"] = (
            self.exp.valid_points + self.exp.rejected_points - rec["committed"])
        out["sources.writer.files_written"] = rec["files_written"]
        out["sources.writer.bytes_per_point"] = (
            rec["bytes"] / self.exp.valid_points)
        traced = rec["rollup_traced"]
        for tag, _ in GRAINS:
            out[f"operators.rollup.job_{tag}_s"] = traced["job_s"][tag]
        out["operators.rollup.refresh_s"] = traced["total_s"]
        out["operators.rollup.rows_out"] = traced["rows_out"]
        out["ingest.drain_s"] = rec["drain_s"]
        out["jvm.gc_ms"] = rec["gc_ms"]
        out["trace.overhead_pct"] = 100.0 * (
            traced["total_s"] / rec["rollup_after"]["total_s"] - 1.0)
        return out


def _sink_files(out: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(out):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size
