"""Seeded input generators. The engine only ever sees what these write.

- :func:`write_ingest_backlog`: OTLP/JSON export files for the ingest
  drain: gauges, cumulative monotonic sums with counter resets, delta
  histograms, and a fixed share of points validation must reject. It
  returns the exact counts and per-series increments the drain must
  reproduce.
- :func:`write_dashboard_backlog`: OTLP/JSON files for the store the
  dashboard reads, with a sample schedule dense near "now" and sparse
  in the past, so range queries route to raw, 1m, 5m and 1h.

Everything derives from one ``random.Random`` per call, seeded by the
caller, so the same seed writes the same bytes.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

HIST_BOUNDS = [5.0, 10.0, 25.0, 50.0, 100.0, 250.0, 500.0, 1000.0]
JOBS = ("api", "web", "db")
SEVEN_DAYS_S = 7 * 86400

# OTLP aggregationTemporality codes
_OTLP_DELTA, _OTLP_CUMULATIVE = 1, 2


def _kv(key: str, value: str) -> dict:
    return {"key": key, "value": {"stringValue": value}}


def _number_dp(ts_ns: int, attrs: dict, value=None, as_int=None) -> dict:
    dp = {
        "timeUnixNano": str(ts_ns),
        "attributes": [_kv(k, v) for k, v in attrs.items()],
    }
    if value is not None:
        dp["asDouble"] = value
    if as_int is not None:
        dp["asInt"] = str(as_int)
    return dp


def _gauge(name: str, dps: list) -> dict:
    return {"name": name, "gauge": {"dataPoints": dps}}


def _counter(name: str, dps: list) -> dict:
    return {
        "name": name,
        "sum": {
            "aggregationTemporality": _OTLP_CUMULATIVE,
            "isMonotonic": True,
            "dataPoints": dps,
        },
    }


def _histogram(name: str, dps: list) -> dict:
    return {
        "name": name,
        "histogram": {
            "aggregationTemporality": _OTLP_DELTA,
            "dataPoints": dps,
        },
    }


def _hist_dp(rng: random.Random, ts_ns: int, attrs: dict) -> tuple[dict, int]:
    n = rng.randint(0, 12)
    counts = [0] * (len(HIST_BOUNDS) + 1)
    total = 0.0
    for _ in range(n):
        v = rng.choice((3.0, 7.0, 20.0, 40.0, 80.0, 200.0, 400.0, 900.0, 2000.0))
        total += v
        for j, b in enumerate(HIST_BOUNDS):
            if v <= b:
                counts[j] += 1
                break
        else:
            counts[-1] += 1
    dp = {
        "timeUnixNano": str(ts_ns),
        "count": str(n),
        "sum": total,
        "bucketCounts": [str(c) for c in counts],
        "explicitBounds": HIST_BOUNDS,
        "attributes": [_kv(k, v) for k, v in attrs.items()],
    }
    return dp, n


def _resource(job: str, metrics: list) -> dict:
    return {
        "resource": {"attributes": [_kv("service.name", job)]},
        "scopeMetrics": [{"metrics": metrics}],
    }


def _write_files(out_dir: str, lines: list[str], per_file: int) -> int:
    """One export request per line, ``per_file`` lines per file. File
    modification times increase by one second per file so the file
    source takes them in generation order."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = 0
    for i in range(0, len(lines), per_file):
        path = os.path.join(out_dir, f"export-{n_files:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines[i : i + per_file]) + "\n")
        os.utime(path, (1_000_000_000 + n_files, 1_000_000_000 + n_files))
        n_files += 1
    return n_files


@dataclass
class IngestExpect:
    requests: int = 0
    files: int = 0
    valid_points: int = 0
    rejected_points: int = 0
    # (metric, job, key label value) -> expected sum of stored deltas
    counter_increase: dict = field(default_factory=dict)
    hist_count: dict = field(default_factory=dict)
    resets: int = 0


def write_ingest_backlog(
    out_dir: str,
    seed: int,
    ticks: int,
    ticks_per_file: int,
    base_s: int,
    step_s: int = 10,
) -> IngestExpect:
    """OTLP backlog for the drain: one export request per tick, each
    with 30 valid points (per job: 4 cumulative counters, 2 gauges, 4
    delta histograms) and 3 points validation rejects (empty name,
    older than 7 days, gauge without a value)."""
    rng = random.Random(seed)
    routes = ("a", "b", "c", "d")
    exp = IngestExpect()
    counters = {(j, r): 0 for j in JOBS for r in routes}
    lines = []
    for t in range(ticks):
        ts_ns = (base_s + t * step_s) * 1_000_000_000
        resources = []
        for job in JOBS:
            c_dps, h_dps, g_dps = [], [], []
            for r in routes:
                inc = rng.randint(0, 20)
                v = counters[(job, r)]
                if v > 200 and rng.random() < 0.03:
                    inc = rng.randint(1, 20)  # restart: the new total
                    v = inc
                    exp.resets += 1
                else:
                    v += inc
                counters[(job, r)] = v
                key = ("bench_requests_total", job, r)
                exp.counter_increase[key] = exp.counter_increase.get(key, 0) + inc
                c_dps.append(_number_dp(ts_ns, {"job": job, "route": r}, as_int=v))
                dp, n = _hist_dp(rng, ts_ns, {"job": job, "route": r})
                hkey = ("bench_latency_ms", job, r)
                exp.hist_count[hkey] = exp.hist_count.get(hkey, 0) + n
                h_dps.append(dp)
            for core in ("0", "1"):
                g_dps.append(_number_dp(
                    ts_ns, {"job": job, "core": core},
                    value=round(rng.random(), 4),
                ))
            resources.append(_resource(job, [
                _counter("bench_requests_total", c_dps),
                _gauge("bench_cpu_ratio", g_dps),
                _histogram("bench_latency_ms", h_dps),
            ]))
        stale_ns = ts_ns - (SEVEN_DAYS_S + 2 * 86400) * 1_000_000_000
        resources.append(_resource("junk", [
            _gauge("", [_number_dp(ts_ns, {"job": "junk"}, value=1.0)]),
            _gauge("bench_cpu_ratio", [
                _number_dp(stale_ns, {"job": "junk"}, value=1.0)]),
            _gauge("bench_cpu_ratio", [_number_dp(ts_ns, {"job": "junk"})]),
        ]))
        lines.append(json.dumps({"resourceMetrics": resources},
                                separators=(",", ":")))
        exp.valid_points += 30
        exp.rejected_points += 3
    exp.requests = len(lines)
    exp.files = _write_files(out_dir, lines, ticks_per_file)
    return exp


# --------------------------------------------------------------------------
# dashboard store
# --------------------------------------------------------------------------

DASH_ROUTES = ("a", "b")
DASH_INSTANCES = ("i0", "i1")


def dashboard_schedule(anchor_s: int) -> list[int]:
    """Sample times (epoch seconds) relative to the hour-aligned
    ``anchor_s``: every 2 h from 6 days back to 6 h back, every 15 min
    up to 1 h back, then every 30 s up to the anchor."""
    ts = list(range(anchor_s - 6 * 86400, anchor_s - 6 * 3600, 7200))
    ts += list(range(anchor_s - 6 * 3600, anchor_s - 3600, 900))
    ts += list(range(anchor_s - 3600, anchor_s, 30))
    return ts


@dataclass
class DashboardData:
    anchor_s: int
    times: list
    requests: int
    files: int
    valid_points: int
    # (job, route) -> {ts: counter increment at that sample}
    increments: dict


def write_dashboard_backlog(
    out_dir: str, seed: int, anchor_s: int, per_file: int = 50
) -> DashboardData:
    """Per job: 2 cumulative counters, 2 gauges (one per instance) and
    2 delta histograms, all sampled on :func:`dashboard_schedule`."""
    rng = random.Random(seed)
    times = dashboard_schedule(anchor_s)
    totals = {(j, r): 0 for j in JOBS for r in DASH_ROUTES}
    increments = {k: {} for k in totals}
    lines = []
    for t in times:
        ts_ns = t * 1_000_000_000
        resources = []
        for job in JOBS:
            c_dps, g_dps, h_dps = [], [], []
            for r in DASH_ROUTES:
                inc = rng.randint(0, 30)
                totals[(job, r)] += inc
                increments[(job, r)][t] = inc
                c_dps.append(_number_dp(
                    ts_ns, {"job": job, "route": r}, as_int=totals[(job, r)]))
                h_dps.append(_hist_dp(rng, ts_ns, {"job": job, "route": r})[0])
            for inst in DASH_INSTANCES:
                g_dps.append(_number_dp(
                    ts_ns, {"job": job, "instance": inst},
                    value=round(rng.random(), 4)))
            resources.append(_resource(job, [
                _counter("bench_requests_total", c_dps),
                _gauge("bench_cpu_ratio", g_dps),
                _histogram("bench_latency_ms", h_dps),
            ]))
        lines.append(json.dumps({"resourceMetrics": resources},
                                separators=(",", ":")))
    files = _write_files(out_dir, lines, per_file)
    return DashboardData(
        anchor_s=anchor_s,
        times=times,
        requests=len(lines),
        files=files,
        valid_points=len(lines) * len(JOBS) * 6,
        increments=increments,
    )
