"""Workload ``dashboard_query``: one dashboard viewer in a closed loop.

Setup writes the store with the product's own ingest path (OTLP files
-> ``ingest_stream``) and rollup jobs (``incremental_rollup_job`` for
1m/5m/1h), then starts ``plans.promql_http.make_promql_server`` and
``plans.remote_read_http.make_remote_read_server`` over the series
provider ``scripts/serve.py`` uses (``plans.serving
.routed_series_frame`` over ``stored_rollup_reader``).

One unit of user work is one dashboard refresh: the panels below, one
``/api/v1/series`` call and one Remote Read request, sent over at most
``nproc`` connections; the refresh ends when every answer is in. The
provider builds a fresh frame per request, so the PromQL plan memo
misses every time. Every answer is checked against the first refresh
byte for byte, and the first refresh against values the generator
knows: sample counts (``topk_5m``, ``ratio_1h``, Remote Read) and counter
increases (the Remote Read running sums).
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from common import (
    JobCounter,
    fresh_dir,
    jvm_gc_ms,
    median,
    nproc,
    tail_percentile,
    warm_until_steady,
)
from gen import DASH_INSTANCES, DASH_ROUTES, JOBS, write_dashboard_backlog
from wl_ingest import GRAINS, drain

HOUR = 3600
DAY = 86400

# (name, PromQL, start offset from the anchor in seconds); the spans
# route to raw, 1m, 5m, 1h and raw (plans.router.select_resolution)
PANELS = (
    ("rate_raw", "sum by (job) (rate(bench_requests_total[5m]))", 3000),
    ("p95_1m", "histogram_quantile(0.95, sum by (job) "
     "(rate(bench_latency_ms[30m])))", 6 * HOUR),
    ("topk_5m", "topk(2, sum by (job) "
     "(count_over_time(bench_cpu_ratio[1h])))", 3 * DAY),
    ("ratio_1h", "sum by (job) (count_over_time(bench_cpu_ratio[1d])) "
     "/ on(job) group_right "
     "sum by (job, instance) (count_over_time(bench_cpu_ratio[1d]))",
     7 * DAY),
    ("q90_raw", "max by (job) (quantile_over_time(0.9, bench_cpu_ratio[10m]))",
     3000),
)
REMOTE_READ_SPAN_S = 3000
# warm-up stops when the refresh time stops falling, or after this long
WARM_MAX_S = 10.0
MIN_REFRESHES = 5


class DashboardWorkload:
    PER_LAYER_UNITS = {
        "plans.promql.parse_ms": "ms",
        "plans.promql.compile_ms": "ms",
        "plans.promql.plan_memo_hit_ratio": "ratio",
        "plans.promql.plan_memo_lookups": "count",
        "plans.promql.plan_memo_misses": "count",
        "plans.promql.probes_run": "count",
        "plans.promql.probe_replays": "count",
        "plans.serving.frame_ms": "ms",
        "plans.serving.route_raw": "count",
        "plans.serving.route_1m": "count",
        "plans.serving.route_5m": "count",
        "plans.serving.route_1h": "count",
        "plans.promql_http.payload_ms": "ms",
        "plans.remote_read.request_ms": "ms",
        "http.overhead_ms": "ms",
        "catalyst.plan_ms": "ms",
        "spark.execute_ms": "ms",
        "spark.jobs_per_query": "count",
        "spark.tasks_per_query": "count",
        "jvm.gc_ms": "ms",
        "dashboard.refresh_tail_ms": "ms",
        "dashboard.refresh_tail_pct": "%",
        "dashboard.refresh_tail_n": "count",
    }

    def __init__(self, spark, work: str, seed: int, seconds: float) -> None:
        from clickhouse_metrics_pipeline_spark.operators.rollup import (
            incremental_rollup_job,
        )
        from clickhouse_metrics_pipeline_spark.plans.promql_http import (
            make_promql_server,
        )
        from clickhouse_metrics_pipeline_spark.plans.remote_read_http import (
            make_remote_read_server,
        )
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            StoredFirstCatalog,
            as_metrics_raw,
            stored_rollup_reader,
        )

        self.spark = spark
        self.seconds = seconds
        self.failures: list[str] = []
        self.cycles: list[dict] = []
        self.tracer = None
        self.traced = False
        self.anchor = int(time.time()) // HOUR * HOUR
        drop = os.path.join(work, "drop")
        self.data = write_dashboard_backlog(drop, seed, self.anchor)
        self.marks = [("data_ready", time.time())]
        self.raw = os.path.join(work, "metrics_raw")
        drain(spark, drop, self.raw, os.path.join(work, "ckpt"),
              batches=1, valid_points=self.data.valid_points, max_files=None)
        self.marks.append(("store_drained", time.time()))

        paths = {f"metrics_{tag}": fresh_dir(os.path.join(work, f"metrics_{tag}"))
                 for tag, _ in GRAINS}
        # the three grains are independent jobs into empty directories;
        # run them side by side to shorten set-up. Each job flips the
        # session's partitionOverwriteMode and restores what it saw,
        # which interleaving can leave changed, so restore it here.
        key = "spark.sql.sources.partitionOverwriteMode"
        mode = spark.conf.get(key)
        with ThreadPoolExecutor(max_workers=len(GRAINS)) as pool:
            for f in [pool.submit(incremental_rollup_job, spark, self.raw,
                                  paths[f"metrics_{tag}"], grain=grain,
                                  adapt=as_metrics_raw)
                      for tag, grain in GRAINS]:
                f.result()
        spark.conf.set(key, mode)
        self.marks.append(("store_ingested", time.time()))
        self.stored = stored_rollup_reader(spark, paths)
        self.catalog = StoredFirstCatalog(spark, self.raw, self.stored)
        self.promql_srv = make_promql_server(self._series_frame)
        self.read_srv = make_remote_read_server(
            self.catalog, workspace_id="default")
        self._threads = [
            threading.Thread(target=s.serve_forever, daemon=True)
            for s in (self.promql_srv, self.read_srv)
        ]
        for t in self._threads:
            t.start()
        self.requests = self._build_requests()
        self.pool = ThreadPoolExecutor(
            max_workers=min(nproc(), len(self.requests)))
        self.baseline: list[bytes] | None = None
        self._gids = itertools.count()
        self.marks.append(("servers_ready", time.time()))

    def close(self) -> None:
        self.pool.shutdown(wait=True)
        for s in (self.promql_srv, self.read_srv):
            s.shutdown()
            s.server_close()
        for t in self._threads:
            t.join(timeout=10)

    # ------------------------------------------------------------ provider
    def _series_frame(self, start_s=None, end_s=None):
        """``scripts/serve.py``'s provider: re-list the raw sink per
        request and project the router-chosen resolution."""
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            routed_series_frame,
        )

        span = nullcontext()
        if self.traced:
            self._count_route(start_s, end_s)
            self._set_job_group()
            span = self.tracer.span("plans.serving.frame")
        with span:
            raw = self.spark.read.parquet(self.raw)
            return routed_series_frame(raw, start_s, end_s, stored=self.stored)

    def _count_route(self, start_s, end_s) -> None:
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            serving_resolution,
        )

        table = serving_resolution(start_s, end_s)
        self.tracer.count("route_" + table.replace("metrics_", ""))

    def _set_job_group(self) -> None:
        """Tag this request thread's Spark jobs, so the status tracker can
        count the jobs and tasks of one request."""
        gid = f"perfbench-{self.tracer.unit}-{next(self._gids)}"
        self.spark.sparkContext.setJobGroup(gid, "perfbench", False)
        self._groups.append(gid)

    # ------------------------------------------------------------ requests
    def _build_requests(self) -> list[dict]:
        from clickhouse_metrics_pipeline_spark.plans.matchers import (
            LabelMatcher,
            MatchType,
        )
        from clickhouse_metrics_pipeline_spark.plans.remote_read_wire import (
            encode_read_request,
            snappy_compress,
        )

        promql = f"http://127.0.0.1:{self.promql_srv.server_address[1]}"
        reqs = []
        for name, query, back_s in PANELS:
            qs = urllib.parse.urlencode({
                "query": query,
                "start": self.anchor - back_s,
                "end": self.anchor,
            })
            reqs.append({"name": name, "panel": True,
                         "url": f"{promql}/api/v1/query_range?{qs}",
                         "body": None})
        qs = urllib.parse.urlencode({"match[]": "bench_requests_total"})
        reqs.append({"name": "series", "panel": False,
                     "url": f"{promql}/api/v1/series?{qs}", "body": None})
        body = snappy_compress(encode_read_request([{
            "start_ms": (self.anchor - REMOTE_READ_SPAN_S) * 1000,
            "end_ms": self.anchor * 1000,
            "matchers": [
                LabelMatcher(MatchType.EQ, "__name__", "bench_requests_total"),
                LabelMatcher(MatchType.EQ, "job", "api"),
            ],
        }]))
        reqs.append({
            "name": "remote_read", "panel": False,
            "url": f"http://127.0.0.1:{self.read_srv.server_address[1]}"
                   "/api/v1/read",
            "body": body,
        })
        return reqs

    @staticmethod
    def _fetch(req: dict) -> tuple[int, bytes, float]:
        headers = {}
        if req["body"] is not None:
            headers = {"Content-Type": "application/x-protobuf",
                       "Content-Encoding": "snappy"}
        r = urllib.request.Request(req["url"], data=req["body"],
                                   headers=headers)
        t0 = time.perf_counter()
        try:
            with urllib.request.urlopen(r, timeout=120) as resp:
                body, status = resp.read(), resp.status
        except urllib.error.HTTPError as exc:
            body, status = exc.read(), exc.code
        return status, body, time.perf_counter() - t0

    # --------------------------------------------------------------- cycle
    def cycle(self, traced: bool = False) -> dict:
        self.traced = traced
        self._groups = []
        gc0 = jvm_gc_ms(self.spark) if traced else 0.0
        probes0 = replays0 = 0
        if traced:
            from clickhouse_metrics_pipeline_spark.plans import promql

            probes0, replays0 = promql._PROBES_RUN[0], promql._REPLAYS_RUN[0]
        t0 = time.perf_counter()
        futures = [self.pool.submit(self._fetch, r) for r in self.requests]
        results = [f.result() for f in futures]
        refresh_s = time.perf_counter() - t0
        self.traced = False
        rec = {"traced": traced, "refresh_s": refresh_s,
               "latency_s": [lat for _, _, lat in results],
               "errors": sum(1 for st, _, _ in results if st != 200)}
        bodies = [b for _, b, _ in results]
        if rec["errors"]:
            self.failures.append(
                f"refresh {len(self.cycles)}: {rec['errors']} requests failed: "
                + "; ".join(b[:200].decode("utf-8", "replace")
                            for st, b, _ in results if st != 200))
        elif self.baseline is None:
            self.baseline = bodies
            self._check_answers(bodies)
        elif bodies != self.baseline:
            diff = [r["name"] for r, a, b in
                    zip(self.requests, bodies, self.baseline) if a != b]
            self.failures.append(
                f"refresh {len(self.cycles)}: answers changed for {diff}")
        if traced:
            from clickhouse_metrics_pipeline_spark.plans import promql

            rec["gc_ms"] = jvm_gc_ms(self.spark) - gc0
            rec["probes"] = promql._PROBES_RUN[0] - probes0
            rec["replays"] = promql._REPLAYS_RUN[0] - replays0
            counter = JobCounter(self.spark)
            jobs = tasks = 0
            for gid in self._groups:
                j, t = counter.count(gid)
                jobs, tasks = jobs + j, tasks + t
            rec["queries"] = len(self._groups)
            rec["jobs"], rec["tasks"] = jobs, tasks
        self.cycles.append(rec)
        return rec

    def run(self, trace: bool) -> dict:
        """Warm up until the refresh time stops falling, then refresh for
        ``seconds``. With tracing, refreshes alternate untraced/traced:
        the traced ones give the layer spans, and their time against the
        untraced ones is the tracing overhead."""
        warm = warm_until_steady(lambda: self.cycle()["refresh_s"],
                                 min_units=3, max_s=WARM_MAX_S)
        setup_end = time.time()
        measured: list[dict] = []
        t0 = time.perf_counter()
        while (len(measured) < (6 if trace else MIN_REFRESHES)
               or time.perf_counter() - t0 < self.seconds):
            traced = trace and len(measured) % 2 == 1
            if traced:
                self.tracer.unit = len(measured)
                self.install_trace()
            try:
                measured.append(self.cycle(traced=traced))
            finally:
                if traced:
                    self.tracer.unwrap_all()
        return {"warm_s": warm, "cycles": measured, "setup_end": setup_end}

    def attempted(self, rec: dict) -> tuple[int, int]:
        recs = rec["cycles"]
        n = len(recs) * len(self.requests)
        return n, sum(r["errors"] for r in recs) + len(self.failures)

    # -------------------------------------------------------------- tracing
    def install_trace(self) -> None:
        """Timing wrappers around the names the HTTP handlers call."""
        from clickhouse_metrics_pipeline_spark.plans import (
            promql,
            promql_http,
            remote_read_http,
        )

        t = self.tracer

        def force_plan(df, *args, **kwargs):
            with t.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()

        def read_request_start(*args, **kwargs):
            self._set_job_group()

        t.wrap(promql_http, "parse", "plans.promql.parse")
        t.wrap(promql_http, "compile_promql", "plans.promql.compile",
               before=lambda *a, **k: t.count("memo_lookups"))
        t.wrap(promql, "compile_promql", "plans.promql.compile_nested",
               before=lambda *a, **k: t.count("memo_lookups"))
        t.wrap(promql, "_compile_promql_uncached", "plans.promql.construct",
               before=lambda *a, **k: t.count("memo_misses"))
        t.wrap(promql_http, "promql_result_payload",
               "plans.promql_http.payload", before=force_plan)
        t.wrap(promql_http, "series_payload", "plans.promql_http.payload")
        t.wrap(remote_read_http, "handle_remote_read",
               "plans.remote_read.request", before=read_request_start)
        t.wrap(self.catalog, "get", "plans.serving.catalog_get",
               before=lambda name: t.count(
                   "route_" + name.replace("metrics_", "")))
        for srv in (self.promql_srv, self.read_srv):
            t.wrap(srv, "finish_request", "http.request")

    # -------------------------------------------------------------- metrics
    def end_to_end(self, rec: dict) -> dict:
        recs = [r for r in rec["cycles"] if not r["traced"]]
        n_panels = sum(1 for r in self.requests if r["panel"])
        return {
            "unit_p50_ms": 1000.0 * median([r["refresh_s"] for r in recs]),
            "items_per_s": n_panels * len(recs)
            / sum(r["refresh_s"] for r in recs),
        }

    def per_layer(self, rec: dict) -> dict:
        recs = [r for r in rec["cycles"] if r["traced"]]
        plain = [r for r in rec["cycles"] if not r["traced"]]
        t = self.tracer
        units = [u for u, r in enumerate(rec["cycles"]) if r["traced"]]

        def ms(name: str) -> list[float]:
            return t.per_unit_ms(name, units)

        def cnt(name: str) -> list[int]:
            return t.per_unit_count(name, units)

        lookups, misses = cnt("memo_lookups"), cnt("memo_misses")
        payload, plan = ms("plans.promql_http.payload"), ms("catalyst.plan")
        served = ms("http.request")
        out = {
            "plans.promql.parse_ms": median(ms("plans.promql.parse")),
            "plans.promql.compile_ms": median(ms("plans.promql.compile")),
            "plans.promql.plan_memo_lookups": median(lookups),
            "plans.promql.plan_memo_misses": median(misses),
            "plans.promql.plan_memo_hit_ratio": median(
                [1.0 - m / n if n else 0.0 for n, m in zip(lookups, misses)]),
            "plans.promql.probes_run": median([r["probes"] for r in recs]),
            "plans.promql.probe_replays": median([r["replays"] for r in recs]),
            "plans.serving.frame_ms": median(ms("plans.serving.frame")),
            "plans.promql_http.payload_ms": median(payload),
            "plans.remote_read.request_ms": median(
                ms("plans.remote_read.request")),
            "http.overhead_ms": median([
                (1000.0 * sum(r["latency_s"]) - s) / len(r["latency_s"])
                for r, s in zip(recs, served)]),
            "catalyst.plan_ms": median(plan),
            "spark.execute_ms": median([p - q for p, q in zip(payload, plan)]),
            "spark.jobs_per_query": median(
                [r["jobs"] / r["queries"] for r in recs]),
            "spark.tasks_per_query": median(
                [r["tasks"] / r["queries"] for r in recs]),
            "jvm.gc_ms": median([r["gc_ms"] for r in recs]),
        }
        out["trace.overhead_pct"] = 100.0 * (
            median([r["refresh_s"] for r in recs])
            / median([r["refresh_s"] for r in plain]) - 1.0)
        for route in ("raw", "1m", "5m", "1h"):
            out[f"plans.serving.route_{route}"] = median(cnt(f"route_{route}"))
        # too few refreshes in one run for a percentile above the median
        # to have ten samples beyond it falls back to the median
        times = [r["refresh_s"] for r in plain]
        pct, val, n = tail_percentile(times) or (50.0, median(times), len(times))
        out["dashboard.refresh_tail_ms"] = 1000.0 * val
        out["dashboard.refresh_tail_pct"] = pct
        out["dashboard.refresh_tail_n"] = n
        return out

    # --------------------------------------------------------------- checks
    def _check_answers(self, bodies: list[bytes]) -> None:
        by_name = {r["name"]: b for r, b in zip(self.requests, bodies)}
        for name, _, _ in PANELS:
            payload = json.loads(by_name[name])
            if payload.get("status") != "success" or not payload["data"]["result"]:
                self.failures.append(f"panel {name}: empty or failed answer")
        self.failures += topk_failures(by_name["topk_5m"], self.data.times,
                                       self.anchor)
        ratio = _matrix(by_name["ratio_1h"], ("job", "instance"))
        if not ratio or any(v != 2.0 for v in ratio.values()):
            self.failures.append("ratio_1h: instance share is not 1/2")
        q90 = _matrix(by_name["q90_raw"], ("job",))
        if any(not 0.0 <= v <= 1.0 for v in q90.values()):
            self.failures.append("q90_raw: quantile outside the gauge range")
        series = json.loads(by_name["series"])["data"]
        got = sorted((d["job"], d["route"]) for d in series)
        if got != sorted((j, r) for j in JOBS for r in DASH_ROUTES):
            self.failures.append(f"series: label sets {got}")
        self._check_remote_read(by_name["remote_read"])

    def _check_remote_read(self, body: bytes) -> None:
        from clickhouse_metrics_pipeline_spark.plans.remote_read_wire import (
            decode_read_response,
            snappy_decompress,
        )

        (series,) = decode_read_response(snappy_decompress(body))
        incs = {r: self.data.increments[("api", r)] for r in DASH_ROUTES}
        self.failures += remote_read_failures(series, incs, self.anchor)


def expected_topk_counts(times: list[int], anchor: int) -> dict[int, float]:
    """Per 1h window of ``topk_5m``: the count_over_time one job sums
    over its instances, where each stored 5m rollup row is one sample."""
    buckets: dict[int, set] = {}
    for ts in times:
        bucket = ts // 300 * 300
        w = bucket // HOUR * HOUR
        if anchor - 3 * DAY <= w <= anchor:
            buckets.setdefault(w, set()).add(bucket)
    return {w: float(len(b) * len(DASH_INSTANCES)) for w, b in buckets.items()}


def topk_failures(body: bytes, times: list[int], anchor: int) -> list[str]:
    """Every answered (job, window) carries the generator's count, and
    every window has exactly two series (topk(2) over three jobs with
    equal counts)."""
    want = expected_topk_counts(times, anchor)
    per_window: dict[int, int] = {}
    for (job, w), v in _matrix(body, ("job",)).items():
        per_window[w] = per_window.get(w, 0) + 1
        if v != want.get(w):
            return [f"topk_5m: {job}@{w} counted {v}, want {want.get(w)}"]
    if set(per_window) != set(want) or any(
            n != 2 for n in per_window.values()):
        return ["topk_5m: not two series per window"]
    return []


def remote_read_failures(series: list[dict], increments: dict,
                         anchor: int) -> list[str]:
    """Remote Read of ``job="api"`` over the last REMOTE_READ_SPAN_S:
    one series per route with the generator's sample count, whose
    re-cumulated running sum ends at the counter's increase over the
    range."""
    lo, hi = anchor - REMOTE_READ_SPAN_S, anchor
    got = {s["labels"].get("route"): s["samples"] for s in series}
    failures = []
    for route, by_t in increments.items():
        incs = [v for t, v in by_t.items() if lo <= t <= hi]
        samples = got.get(route, [])
        if len(samples) != len(incs) or (
                samples and samples[-1][0] != float(sum(incs))):
            failures.append(
                f"remote_read: api/{route} has {len(samples)} samples, "
                f"want {len(incs)} summing to {sum(incs)}")
    return failures


def _matrix(body: bytes, labels: tuple[str, ...]) -> dict:
    """``{(label values..., unix_s): float}`` from a matrix payload."""
    out = {}
    for s in json.loads(body)["data"]["result"]:
        key = tuple(s["metric"].get(k) for k in labels)
        for ts, v in s["values"]:
            out[(*key, int(ts))] = float(v)
    return out
