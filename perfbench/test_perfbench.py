"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402


def _read_all(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


# ---------------------------------------------------------------- generator


def test_ingest_backlog_is_deterministic_per_seed(tmp_path):
    a = gen.write_ingest_backlog(str(tmp_path / "a"), 7, 60, 10, 1_700_000_000)
    b = gen.write_ingest_backlog(str(tmp_path / "b"), 7, 60, 10, 1_700_000_000)
    c = gen.write_ingest_backlog(str(tmp_path / "c"), 8, 60, 10, 1_700_000_000)
    assert a == b
    assert _read_all(tmp_path / "a") == _read_all(tmp_path / "b")
    assert _read_all(tmp_path / "a") != _read_all(tmp_path / "c")
    assert (a.requests, a.files, a.valid_points, a.rejected_points) == (
        60, 6, 60 * 30, 60 * 3)


def test_ingest_backlog_counts_its_resets_and_increments(tmp_path):
    exp = gen.write_ingest_backlog(str(tmp_path), 3, 400, 10, 1_700_000_000)
    assert exp.resets > 0
    # increments are what a delta-converted sink must sum to: one entry
    # per (job, route) counter, each at least the post-reset restarts
    assert len(exp.counter_increase) == len(gen.JOBS) * 4
    assert sum(exp.counter_increase.values()) > 0


def test_dashboard_backlog_is_deterministic_per_seed(tmp_path):
    anchor = 1_700_000_000 // 3600 * 3600
    a = gen.write_dashboard_backlog(str(tmp_path / "a"), 5, anchor)
    b = gen.write_dashboard_backlog(str(tmp_path / "b"), 5, anchor)
    gen.write_dashboard_backlog(str(tmp_path / "c"), 6, anchor)
    assert a == b
    assert _read_all(tmp_path / "a") == _read_all(tmp_path / "b")
    assert _read_all(tmp_path / "a") != _read_all(tmp_path / "c")
    assert max(a.times) < anchor and min(a.times) >= anchor - 6 * 86400


# -------------------------------------------------------------- metric names


def _benchmark_json() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_use_the_allowed_alphabet():
    import run

    spec = _benchmark_json()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for name in names + list(run.per_layer_units()) + list(run.END_TO_END):
        assert common.METRIC_NAME_RE.match(name), name


def test_benchmark_json_lists_what_the_run_prints():
    import run

    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        run.per_layer_units())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


# ------------------------------------------------------------- tail rule


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 31))  # 30 samples
    pct, value, n = common.tail_percentile(xs)
    assert n == 30
    assert sum(1 for x in xs if x > value) == 10
    assert pct == pytest.approx(100 * 19 / 29, abs=0.01)


def test_tail_percentile_on_101_samples_is_p90():
    assert common.tail_percentile(list(range(101))) == (90.0, 90.0, 101)


def test_tail_percentile_refuses_too_few_samples():
    assert common.tail_percentile(list(range(10))) is None
    assert common.tail_percentile(list(range(20))) is None
    assert common.tail_percentile(list(range(21)))[0] == 50.0


def test_warm_up_stops_once_the_unit_time_is_flat():
    times = iter([9.0, 5.0, 4.0, 4.1, 4.05, 3.0, 3.0])
    seen = common.warm_until_steady(lambda: next(times), max_s=60)
    assert seen == [9.0, 5.0, 4.0, 4.1, 4.05]


# --------------------------------------------------------- correctness checks


def _sink_rows(exp):
    rows = []
    for (metric, job, route), inc in exp.counter_increase.items():
        rows.append({"metric": metric, "job": job, "route": route,
                     "v": float(inc), "c": None, "tmin": 2, "tmax": 2})
    for (metric, job, route), n in exp.hist_count.items():
        rows.append({"metric": metric, "job": job, "route": route,
                     "v": None, "c": n, "tmin": 1, "tmax": 1})
    return rows


def test_sink_check_accepts_the_generator_sums(tmp_path):
    from wl_ingest import sink_failures

    exp = gen.write_ingest_backlog(str(tmp_path), 4, 80, 10, 1_700_000_000)
    assert sink_failures(_sink_rows(exp), exp) == []


@pytest.mark.parametrize("field,delta", [("v", 1.0), ("c", 1), ("tmin", -1)])
def test_a_corrupted_sink_row_fails_the_check(tmp_path, field, delta):
    from wl_ingest import sink_failures

    exp = gen.write_ingest_backlog(str(tmp_path), 4, 80, 10, 1_700_000_000)
    rows = _sink_rows(exp)
    target = next(r for r in rows if r[field] is not None)
    target[field] += delta
    assert sink_failures(rows, exp)


def test_an_invalid_point_in_the_sink_fails_the_check(tmp_path):
    from wl_ingest import sink_failures

    exp = gen.write_ingest_backlog(str(tmp_path), 4, 80, 10, 1_700_000_000)
    rows = _sink_rows(exp) + [{"metric": "junk", "rows": 1}]
    assert sink_failures(rows, exp)


def test_sink_sums_group_by_series_and_count_junk():
    import pyarrow as pa

    from wl_ingest import sink_series_sums

    table = pa.table({
        "metric": ["bench_requests_total", "bench_requests_total",
                   "bench_latency_ms", "", "bench_cpu_ratio"],
        "attributes": [[("job", "api"), ("route", "a")]] * 3
        + [[("job", "junk")], [("job", "api"), ("core", "0")]],
        "value": [3.0, 4.0, None, 1.0, 0.5],
        "count": [None, None, 5, None, None],
        "temporality": [2, 2, 1, 0, 0],
    })
    rows = {r["metric"]: r for r in sink_series_sums(table)}
    assert rows["bench_requests_total"]["v"] == 7.0
    assert rows["bench_latency_ms"]["c"] == 5
    assert rows["junk"]["rows"] == 1
    assert "bench_cpu_ratio" not in rows


def _topk_body(counts: dict) -> bytes:
    result = {}
    for (job, w), v in counts.items():
        result.setdefault(job, []).append([w, str(v)])
    return json.dumps({"status": "success", "data": {
        "resultType": "matrix",
        "result": [{"metric": {"job": j}, "values": vs}
                   for j, vs in result.items()],
    }}).encode()


def test_a_corrupted_panel_answer_fails_the_count_check():
    from wl_dashboard import expected_topk_counts, topk_failures

    anchor = 1_700_000_000 // 3600 * 3600
    times = gen.dashboard_schedule(anchor)
    want = expected_topk_counts(times, anchor)
    good = {(job, w): v for w, v in want.items() for job in gen.JOBS[:2]}
    assert topk_failures(_topk_body(good), times, anchor) == []
    bad = dict(good)
    key = next(iter(bad))
    bad[key] += 1.0
    assert topk_failures(_topk_body(bad), times, anchor)


def test_a_corrupted_remote_read_sample_fails_the_check():
    from wl_dashboard import REMOTE_READ_SPAN_S, remote_read_failures

    anchor = 1_700_000_000 // 3600 * 3600
    incs = {r: {t: 2 for t in gen.dashboard_schedule(anchor)}
            for r in gen.DASH_ROUTES}
    series = []
    for r, by_t in incs.items():
        running, samples = 0, []
        for t in sorted(by_t):
            if anchor - REMOTE_READ_SPAN_S <= t <= anchor:
                running += by_t[t]
                samples.append((float(running), t * 1000))
        series.append({"labels": {"route": r}, "samples": samples})
    assert remote_read_failures(series, incs, anchor) == []
    series[0]["samples"][-1] = (series[0]["samples"][-1][0] + 1,
                                series[0]["samples"][-1][1])
    assert remote_read_failures(series, incs, anchor)
