"""PromQL ``rate()`` / ``increase()`` kernel: counter increase with
reset correction and Prometheus boundary extrapolation, shared by the
catalog query (``workloads_ext2.events_rate_5m``) and the PromQL text
front-end (``plans/promql.py``).

Semantics (the Prometheus ``extrapolatedRate`` loop): the counter
increase over a window's samples is last-first plus the pre-reset value
at every reset; the sampled interval is then extended toward each range
edge by the distance to it when that is under 1.1x the average sample
interval, else by half an average interval, with the counter
zero-crossing clamp on the start side (never extrapolate a counter
below zero). ``increase`` is ``rate`` times the range.

Determinism contract: only deterministic double arithmetic over
(first, last, corrections, n) per group — no cross-row float summation
— so ``round(rate, 6)`` hashes identically against a DuckDB oracle
that evaluates the same expression tree (proven by the driver-green
``events_rate_5m``).

Scale: ONE shuffle on (series, bucket) serves both the in-window lag
and the aggregation; reset corrections are map-side partial sums.

Reference parity: the reference re-cumulates counters for Remote Read
(``promread/handler.go:177-205``) and delegates rate() itself to the
downstream Prometheus; this kernel is the engine-side completion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhouse_metrics_pipeline_spark.plan_memo import memo_expr


def rate_over_window(
    df: DataFrame,
    series_cols: list[str],
    range_s: int,
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    mode: str = "rate",
    window_cols: list[str] | None = None,
) -> DataFrame:
    """Per (series, tumbling range_s window) extrapolated rate.

    Returns the series columns plus ``bucket_ts``, ``n_samples`` and
    ``rate`` (round(double, 6); NULL when the window has <2 samples or
    zero sampled duration — Prometheus emits nothing there).
    ``mode='increase'`` multiplies by the range before rounding.
    ``window_cols``: orderable subset of series_cols to partition the
    in-window lag by (Spark windows cannot partition by MAP columns —
    pass a canonical series hash here and keep the map in series_cols
    for the output grouping).
    """
    if mode not in ("rate", "increase"):
        raise ValueError(f"mode must be rate|increase, got {mode!r}")
    # the expressions depend only on the hashable arguments: built once
    # (memo_expr, plan_memo.py), ~0.27 s of py4j round trips otherwise
    sel, win_exprs, aggs, final = _kernel_exprs(
        tuple(series_cols),
        tuple(window_cols) if window_cols is not None else None,
        range_s,
        ts_col,
        value_col,
        tiebreak_col,
        mode,
    )
    pkeys = list(window_cols if window_cols is not None else series_cols)
    rows = df.select(*sel).select("*", *win_exprs)
    agg = rows.groupBy(*pkeys, "bucket_ts").agg(*aggs)
    return agg.select(*final)


@memo_expr
def _kernel_exprs(
    series_cols: tuple,
    window_cols: tuple | None,
    range_s: int,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    mode: str,
):
    """Constructed-once column sets for ``rate_over_window``: the
    pre-window projection, the window expressions, the aggregate
    expressions, and the final extrapolation select."""
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts_col) / range_s) * range_s
    ).alias("bucket_ts")
    pkeys = list(window_cols if window_cols is not None else series_cols)
    w = Window.partitionBy(*pkeys, "bucket_ts").orderBy(
        ts_col, tiebreak_col
    )
    # r11 optimization (guide §2.4 + §5): first_v/last_v were
    # min_by/max_by(value, struct(ts, tiebreak)) in the groupBy — a
    # struct-ordered aggregation buffer Spark can only run as a
    # SortAggregate (two extra Sorts), and grouping by the full
    # series_cols (a superset of the window partition keys, re-aliased
    # by the partial aggregate) re-shuffled the entire exploded row set
    # a second time (measured: Exchange on every (series x le) row in
    # the stored-bucket rate plans). The window's (pkeys, bucket) sort
    # already puts each group in (ts, tiebreak) order, so the same
    # Window pass now emits the partition's first/last value over an
    # unbounded frame — identical values, (ts, tiebreak) is unique per
    # the determinism contract — and the groupBy runs on EXACTLY the
    # window partition keys (plain min/max/sum/count buffers -> one
    # HashAggregate, exchange reused). Non-window series_cols are
    # functionally determined by the canonical series key in pkeys
    # (callers pass label projections of the same attributes), so they
    # ride along as first() aggregates.
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sel = [*series_cols, ts_col, tiebreak_col, value_col, bucket]
    win_exprs = [
        F.lag(value_col).over(w).alias("prev_v"),
        F.first(value_col).over(w_all).alias("_first_v"),
        F.last(value_col).over(w_all).alias("_last_v"),
    ]
    extra = [c for c in series_cols if c not in pkeys]
    aggs = [
        *[F.first(c).alias(c) for c in extra],
        F.count(F.lit(1)).alias("n_samples"),
        F.min("_first_v").alias("first_v"),
        F.max("_last_v").alias("last_v"),
        (F.unix_micros(F.min(ts_col)) / 1e6).alias("first_s"),
        (F.unix_micros(F.max(ts_col)) / 1e6).alias("last_s"),
        F.sum(
            F.when(
                F.col("prev_v").isNotNull()
                & (F.col(value_col) < F.col("prev_v")),
                F.col("prev_v"),
            ).otherwise(F.lit(0.0))
        ).alias("corr"),
    ]
    range_start = F.unix_timestamp("bucket_ts").cast("double")
    result_v = F.col("last_v") - F.col("first_v") + F.col("corr")
    sampled = F.col("last_s") - F.col("first_s")
    avg_iv = sampled / (F.col("n_samples") - 1)
    dur_start0 = F.col("first_s") - range_start
    dur_end = range_start + F.lit(float(range_s)) - F.col("last_s")
    # counter zero-clamp: never extrapolate the start past the point
    # where the counter would have been negative
    dur_zero = sampled * (F.col("first_v") / result_v)
    dur_start = F.when(
        (result_v > 0) & (F.col("first_v") >= 0) & (dur_zero < dur_start0),
        dur_zero,
    ).otherwise(dur_start0)
    threshold = avg_iv * 1.1
    ext_start = F.when(dur_start < threshold, dur_start).otherwise(avg_iv / 2)
    ext_end = F.when(dur_end < threshold, dur_end).otherwise(avg_iv / 2)
    extrapolated = result_v * ((sampled + ext_start + ext_end) / sampled)
    val: Column = (
        extrapolated / F.lit(float(range_s))
        if mode == "rate"
        else extrapolated
    )
    final = [
        *series_cols,
        "bucket_ts",
        "n_samples",
        F.when(
            (F.col("n_samples") >= 2) & (sampled > 0), F.round(val, 6)
        ).alias("rate"),
    ]
    return tuple(sel), tuple(win_exprs), tuple(aggs), tuple(final)
