"""Pins for the expression helpers (functions/expr.py, plan_memo.py):

- ``row_let`` — row-local let binding: same values as the unbound form.
- ``packed_ts_order`` — the DECIMAL(38,0) packing of the (ts, id) total
  order that keeps ``max_by`` a HashAggregate: value equality vs the
  struct ordering, plan-shape pin, and the tie-break itself.
- ``memo_expr`` — expression-tree memoization: identical args return
  one shared Column, Column args fall through, and a shared Column is
  reusable across two different DataFrames.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.functions.expr import (
    packed_ts_order,
    row_let,
)
from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr


def test_row_let_matches_unbound_form(spark):
    df = spark.createDataFrame(
        [("a b c",), ("x",), (None,), ("",)], ["text"]
    )
    unbound = F.size(F.split("text", " ")) + F.size(F.split("text", " "))
    bound = row_let(
        {"w": F.split("text", " ")},
        lambda s: F.size(s["w"]) + F.size(s["w"]),
    )
    rows = df.select(
        unbound.alias("u"), bound.alias("b")
    ).collect()
    assert all(r["u"] == r["b"] for r in rows)


def test_packed_ts_order_equals_struct_order(spark):
    t0 = datetime.datetime(2026, 8, 1, 12, 0, 0)
    rows = [
        # same group: later ts wins
        ("g", t0, 7, 1.0),
        ("g", t0 + datetime.timedelta(seconds=1), 3, 2.0),
        # tie on ts: higher event_id wins
        ("h", t0, 1, 10.0),
        ("h", t0, 2, 20.0),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "event_id", "value"])
    packed = df.groupBy("k").agg(
        F.max_by("value", packed_ts_order("ts", "event_id")).alias("v")
    )
    structed = df.groupBy("k").agg(
        F.max_by("value", F.struct("ts", "event_id")).alias("v")
    )
    assert {(r["k"], r["v"]) for r in packed.collect()} == {
        (r["k"], r["v"]) for r in structed.collect()
    } == {("g", 2.0), ("h", 20.0)}


def test_packed_ts_order_hash_aggregates(spark):
    t0 = datetime.datetime(2026, 8, 1)
    df = spark.createDataFrame(
        [("g", t0, 1, 1.0)], ["k", "ts", "event_id", "value"]
    )
    agg = df.groupBy("k").agg(
        F.max_by("value", packed_ts_order("ts", "event_id"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    # the struct form is the one that degrades — pin the contrast
    agg2 = df.groupBy("k").agg(
        F.max_by("value", F.struct("ts", "event_id"))
    )
    plan2 = agg2._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" in plan2


def test_memo_expr_shares_and_falls_through(spark):
    calls = []

    @memo_expr
    def kernel(col, n=2):
        calls.append(col)
        return F.length(col) * n if not isinstance(col, str) else F.length(
            F.col(col)
        ) * n

    a = kernel("text")
    b = kernel("text")
    assert a is b  # one construction, shared Column
    assert calls == ["text"]
    c = kernel("text", n=3)
    assert c is not a
    # Column args are unhashable -> rebuilt every call
    d = kernel(F.col("text"))
    e = kernel(F.col("text"))
    assert d is not e
    assert len(calls) == 4

    # one shared Column works across two different DataFrames
    df1 = spark.createDataFrame([("ab",)], ["text"])
    df2 = spark.createDataFrame([("wxyz", 1)], ["text", "extra"])
    assert df1.select(a.alias("n")).collect()[0]["n"] == 4
    assert df2.select(a.alias("n")).collect()[0]["n"] == 8


def test_rate_kernel_construction_is_memoized(spark):
    """r11: rate_over_window routes its expression construction through
    a memo_expr'd helper — identical argument tuples share ONE
    constructed set, and repeated kernel invocations still compute
    correct values from the input (expression caching, never result
    caching)."""
    import datetime

    from clickhouse_metrics_pipeline_spark.functions.rate import (
        _kernel_exprs,
        rate_over_window,
    )

    args = (("k",), None, 300, "ts", "value", "event_id", "rate")
    assert _kernel_exprs(*args) is _kernel_exprs(*args)
    assert _kernel_exprs(*args) is not _kernel_exprs(
        ("k",), None, 60, "ts", "value", "event_id", "rate"
    )

    t0 = datetime.datetime(2026, 8, 1, 12, 0, 0)
    rows = [
        ("a", t0 + datetime.timedelta(seconds=s), i, float(v))
        for i, (s, v) in enumerate([(0, 10.0), (100, 40.0), (200, 70.0)])
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "event_id", "value"])
    r1 = rate_over_window(df, ["k"], 300).collect()
    r2 = rate_over_window(df, ["k"], 300).collect()
    assert r1 == r2
    assert len(r1) == 1 and r1[0]["n_samples"] == 3
    # 60/200s sampled, extrapolated to the full 300 s window -> 0.3/s
    assert abs(r1[0]["rate"] - 0.3) < 1e-9
