"""Pins for the plan-construction memo (plan_memo.py) as the frame
loaders of tables.py and plans/promql.compile_promql use it.

The memo caches LOGICAL PLANS only. These properties must hold:

1. a memo hit returns a FRESH Dataset (never the same object), so AQE
   can never reuse a previous execution's materialized shuffle stages
   across invocations;
2. data-dependent dispatch probes run on EVERY invocation — a memo
   hit replays the recorded probe jobs against the live data before
   serving the cached expression tree, nested builds included, and
   concurrent requests never mix their traces;
3. hits compile to the same values as misses, and a commit or a
   rewrite of the store is seen by the next request;
4. a new session or gateway never gets an old entry, and the memo
   stays within its bound.
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import threading
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import replace

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark import plan_memo
from clickhouse_metrics_pipeline_spark.plans import promql as P
from clickhouse_metrics_pipeline_spark.plans import promql_http
from clickhouse_metrics_pipeline_spark.tables import _events, _t

T0 = dt.datetime(2026, 1, 1)


def test_read_frame_memo_is_per_session_and_stable(spark):
    a = _t(spark, "/root/testdata/sf0.001", "events")
    b = _t(spark, "/root/testdata/sf0.001", "events")
    assert a is b
    c = _events(spark, "/root/testdata/sf0.001")
    d = _events(spark, "/root/testdata/sf0.001")
    assert c is d


def test_compile_memo_returns_fresh_dataset_same_values(spark):
    series = P.events_as_series(_events(spark, "/root/testdata/sf0.001"))
    q = "sum by (event_type) (count_over_time(events[1h]))"
    a = P.compile_promql(q, series)
    b = P.compile_promql(q, series)
    assert a is not b  # fresh Dataset per call — no stage reuse
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and ra


def test_probed_plan_reruns_probe_jobs_on_every_hit(spark):
    rows = [
        (
            "m",
            {"k": "v"},
            T0 + dt.timedelta(minutes=i),
            float(i),
            i,
            [10.0, 20.0],
            [i + 1, 2 * i + 2],
        )
        for i in range(6)
    ]
    frame = spark.createDataFrame(
        rows,
        "metric string, attributes map<string,string>, ts timestamp, "
        "value double, sample_id long, buckets_le array<double>, "
        "buckets_count array<bigint>",
    )
    q = "histogram_quantile(0.95, sum by (k) (count_over_time(m[1h])))"
    p0 = P._PROBES_RUN[0]
    a = P.compile_promql(q, frame)
    probes_per_compile = P._PROBES_RUN[0] - p0
    assert probes_per_compile >= 1  # the dispatch really probed
    p1, r1 = P._PROBES_RUN[0], P._REPLAYS_RUN[0]
    b = P.compile_promql(q, frame)
    # the hit replayed every recorded probe against the live data
    assert P._REPLAYS_RUN[0] - r1 == probes_per_compile
    assert a is not b
    assert sorted(map(tuple, a.collect())) == sorted(
        map(tuple, b.collect())
    )


def test_uncacheable_series_frame_still_compiles(spark):
    # a frame with a different plan must simply miss the memo
    q = "sum by (event_type) (count_over_time(events[1h]))"
    f1 = P.events_as_series(_events(spark, "/root/testdata/sf0.001"))
    out1 = P.compile_promql(q, f1)
    f2 = f1.where(F.lit(True))
    out2 = P.compile_promql(q, f2)
    assert sorted(map(tuple, out1.collect())) == sorted(
        map(tuple, out2.collect())
    )


_BUCKET_DDL = (
    "metric string, attributes map<string,string>, ts timestamp, "
    "value double, sample_id long, buckets_le array<double>, "
    "buckets_count array<bigint>"
)
_PROBED = "histogram_quantile(0.9, sum by (k) (count_over_time(m[1h])))"


def _bucket_rows(n: int) -> list:
    return [
        (
            "m",
            {"k": "a" if i % 2 else "b"},
            T0 + dt.timedelta(minutes=i),
            float(i),
            i,
            [10.0, 20.0],
            [i + 1, 2 * i + 2],
        )
        for i in range(n)
    ]


def _write(spark, path, rows, mode="append") -> None:
    spark.createDataFrame(rows, _BUCKET_DDL).coalesce(1).write.mode(
        mode
    ).parquet(str(path))


@pytest.fixture
def builds(monkeypatch):
    """The queries compile_promql constructed (memo misses)."""
    built = []
    real = P._compile_promql_uncached

    def counting(query, series):
        built.append(query)
        return real(query, series)

    monkeypatch.setattr(P, "_compile_promql_uncached", counting)
    return built


def _serve(provider):
    srv = promql_http.make_promql_server(provider, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def _ask(base: str, query: str) -> list:
    qs = urllib.parse.urlencode({"query": query})
    url = f"{base}/api/v1/query_range?{qs}"
    with urllib.request.urlopen(url, timeout=120) as r:
        assert r.status == 200
        return json.loads(r.read())["data"]["result"]


def test_memo_keys_on_the_frame_object(spark, tmp_path, builds):
    # a frame holds the file listing it was read with: a new frame over
    # the same store builds again, the same frame hits
    _write(spark, tmp_path, _bucket_rows(6))
    q = "sum by (k) (count_over_time(m[1h]))"
    frame = spark.read.parquet(str(tmp_path))
    a = P.compile_promql(q, frame)
    b = P.compile_promql(q, frame)
    assert builds == [q] and a is not b
    c = P.compile_promql(q, spark.read.parquet(str(tmp_path)))
    assert builds == [q, q]
    rows = sorted(map(tuple, a.collect()))
    assert rows == sorted(map(tuple, b.collect()))
    assert rows == sorted(map(tuple, c.collect()))


def test_commit_or_rewrite_is_seen_by_the_next_request(
    spark, tmp_path, builds
):
    # a provider that re-reads the store per request, as serve.py does
    store = tmp_path / "store"
    _write(spark, store, _bucket_rows(6))
    srv, base = _serve(lambda: spark.read.parquet(str(store)))
    q = "sum by (k) (count_over_time(m[1h]))"

    def counts():
        return {
            s["metric"]["k"]: [v for _, v in s["values"]]
            for s in _ask(base, q)
        }

    try:
        assert counts() == {"a": ["3"], "b": ["3"]}
        _write(spark, store, _bucket_rows(2))  # a new commit
        assert counts() == {"a": ["4"], "b": ["4"]}
        _write(spark, store, _bucket_rows(4), mode="overwrite")  # rewrite
        assert counts() == {"a": ["2"], "b": ["2"]}
        assert len(builds) == 3  # a new frame per request builds
    finally:
        srv.shutdown()
        srv.server_close()


def test_concurrent_requests_replay_their_full_trace(
    spark, tmp_path, builds, monkeypatch
):
    """Threaded HTTP requests over one frame: the first builds race
    each other, every later one hits, every hit replays the whole probe
    trace, and every answer equals the serial one."""
    _write(spark, tmp_path, _bucket_rows(6))
    frame = spark.read.parquet(str(tmp_path))
    queries = [
        _PROBED,
        "histogram_quantile(0.5, sum by (k) (count_over_time(m[1h])))",
    ]
    p0 = P._PROBES_RUN[0]
    P._compile_promql_uncached(queries[0], frame)
    per_build = P._PROBES_RUN[0] - p0
    assert per_build >= 1
    builds.clear()
    lookups = []
    real = promql_http.compile_promql

    def counting(query, series):
        lookups.append(query)
        return real(query, series)

    monkeypatch.setattr(promql_http, "compile_promql", counting)
    srv, base = _serve(lambda: frame)
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads finely
    try:
        p0, r0 = P._PROBES_RUN[0], P._REPLAYS_RUN[0]
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(lambda q: (q, _ask(base, q)), queries * 6))
        serial = {q: _ask(base, q) for q in queries}
    finally:
        sys.setswitchinterval(switch)
        srv.shutdown()
        srv.server_close()
    assert all(answer == serial[q] for q, answer in got) and serial[_PROBED]
    hits = len(lookups) - len(builds)
    assert len(lookups) == 14 and hits >= 6
    assert P._PROBES_RUN[0] - p0 == per_build * len(builds)
    assert P._REPLAYS_RUN[0] - r0 == per_build * hits


def test_nested_probes_are_replayed_by_the_outer_plan(spark, builds):
    """``q @ T`` compiles ``q`` nested. The inner build's probes, and an
    inner hit's replays, belong to the outer plan's trace, so an outer
    hit replays them."""
    frame = spark.createDataFrame(_bucket_rows(6), _BUCKET_DDL)
    outer = P.parse(
        "histogram_quantile(0.9, sum by (k) (count_over_time(m[1h] @ 1767225600)))"
    )
    inner = replace(outer, at_s=None)
    p0 = P._PROBES_RUN[0]
    P.compile_promql(outer, frame)  # inner and outer both miss
    per_build = P._PROBES_RUN[0] - p0
    assert per_build >= 1 and builds == [outer, inner]
    r0 = P._REPLAYS_RUN[0]
    P.compile_promql(outer, frame)
    assert P._REPLAYS_RUN[0] - r0 == per_build

    # an outer build whose inner plan hits: the inner replay joins it
    outer2 = replace(outer, at_s=outer.at_s + 3600)
    r0 = P._REPLAYS_RUN[0]
    a = P.compile_promql(outer2, frame)
    assert P._REPLAYS_RUN[0] - r0 == per_build
    r0 = P._REPLAYS_RUN[0]
    b = P.compile_promql(outer2, frame)
    assert P._REPLAYS_RUN[0] - r0 == per_build
    assert builds == [outer, inner, outer2]
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_new_session_or_gateway_gets_no_old_entry(spark, builds, monkeypatch):
    q = "sum by (k) (count_over_time(m[1h]))"
    rows = _bucket_rows(6)
    P.compile_promql(q, spark.createDataFrame(rows, _BUCKET_DDL))
    other = spark.newSession()
    out = P.compile_promql(q, other.createDataFrame(rows, _BUCKET_DDL))
    assert len(builds) == 2 and out.sparkSession is other
    assert sorted(map(tuple, out.collect()))

    plan_memo.put(("probe-key",), "old")
    assert plan_memo.get(("probe-key",)) == "old"
    monkeypatch.setattr(SparkContext, "_gateway", object())  # a restart
    assert plan_memo.get(("probe-key",)) is None
    plan_memo.put(("other-key",), "new")
    assert len(plan_memo._ENTRIES) == 1  # the old gateway's are gone


def test_memo_stays_within_its_bound(monkeypatch):
    monkeypatch.setattr(plan_memo, "CAP", 8)
    for i in range(20):
        plan_memo.put(("bound", i), i)
    assert len(plan_memo._ENTRIES) <= 8
    assert plan_memo.get(("bound", 19)) == 19
    assert plan_memo.get(("bound", 0)) is None
