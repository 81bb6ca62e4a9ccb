"""Structured Streaming variant of the ingest pipeline (SS2.9).

Reference dataflow: gRPC push -> processor buffer (1000 rows / 10 s) ->
writer batch (1000 rows / 10 s) -> ClickHouse
(``internal/processor/processor.go:79-87``, ``clickhouse/writer.go:91-145``).
Spark-native form: a file/Kafka drop-zone source -> validation ->
stateful cumulative->delta conversion keyed by series_hash
(``applyInPandasWithState``) -> idempotent ``foreachBatch`` parquet sink
with a 10 s processing-time trigger (S5's ticker is the trigger; the
double buffering collapses into micro-batching).

Improvements over the reference, kept deliberately:
- state TTL evicts idle series (the reference's maps grow forever -
  temporality.go:13-27);
- watermark + explicit bounds filter for late/future data (the
  reference hard-drops in validation only - processor.go:129-135);
- checkpointed exactly-once sink vs. at-least-once inserts.

The state logic mirrors ``converter/temporality.go:43-113`` exactly -
same first-point / reset / zero-guard semantics as the batch operator in
``operators.temporality`` (both are pinned by the same golden tests).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clickhouse_metrics_pipeline_spark.schema import (
    METRIC_TYPE_HISTOGRAM,
    METRIC_TYPE_SUM,
    TEMPORALITY_CUMULATIVE,
    TEMPORALITY_DELTA,
)

# state: (last_value, last_count, last_sum, last_les, last_counts)
_STATE_SCHEMA = (
    "last_value double, last_count bigint, last_sum double, "
    "last_les array<double>, last_counts array<bigint>"
)

_EXEMPLARS_DDL = (
    "array<struct<spanId:string,traceId:string,value:double,"
    "timestamp:timestamp,attributes:map<string,string>>>"
)

def _whole_group(
    pdfs: Iterator[pd.DataFrame], sort_cols: list[str]
) -> pd.DataFrame | None:
    """Materialize ALL Arrow chunks of one keyed group and sort ONCE.

    A group whose per-micro-batch rows exceed
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` (default 10k)
    arrives as MULTIPLE pandas chunks in shuffle order — sorting each
    chunk separately (the r7 shape) processes rows out of timestamp
    order across chunk boundaries: wrong deltas and false resets in
    the temporality state machine, silently dropped "late" rows in the
    bucket-close machines. Invisible at sf0.01/sf0.1 (small per-series
    batches) but a real 100x-scale correctness bug — the r7 verdict's
    one latent finding, pinned by the forced-multi-chunk test in
    tests/test_streaming.py.

    Memory bound: the concat holds one group's rows for one trigger
    interval — the same volume the per-chunk path already buffered in
    its output list, so this changes peak memory by at most 2x the
    group's batch slice, never by data volume. mergesort keeps equal
    keys in arrival order (stable), so adding a tiebreak column is a
    caller choice, not a requirement."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return None
    pdf = frames[0] if len(frames) == 1 else pd.concat(
        frames, ignore_index=True
    )
    return pdf.sort_values(sort_cols, kind="mergesort")


# full metrics_raw width (minus the exp-histogram columns, which the
# cumulative->delta state machine never touches — the reference's
# converter handles sum/histogram only, temporality.go:43-113): the
# sink must store serviceName/attributes/exemplars like the reference's
# writer does (clickhouse/writer.go:184-241), not just the numeric core
_OUTPUT_SCHEMA = (
    "series_hash bigint, timestamp timestamp, metric string, "
    "workspaceId string, serviceName string, metric_type tinyint, "
    "temporality tinyint, is_monotonic boolean, value double, "
    "count bigint, sum double, "
    "buckets_le array<double>, buckets_count array<bigint>, "
    f"attributes map<string,string>, exemplars {_EXEMPLARS_DDL}"
)


def _convert_group(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    ttl_ms: int | None = 3 * 3600 * 1000,  # raw-table TTL ladder: 3h
) -> Iterator[pd.DataFrame]:
    """Per-series cumulative->delta with reset detection, stateful.

    Rows inside a micro-batch are processed in timestamp order; the
    carried state is the last raw cumulative point (temporality.go:51-105).
    ``ttl_ms=None`` skips the processing-time timeout registration —
    required when the caller runs with GroupStateTimeout.NoTimeout
    (setTimeoutDuration raises there).
    """
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        last_value, last_count, last_sum, last_les, last_counts = state.get
        prev_buckets = (
            dict(zip(last_les, last_counts)) if last_les is not None else {}
        )
        first = False
    else:
        last_value, last_count, last_sum, prev_buckets = 0.0, 0, 0.0, {}
        first = True

    out = []
    pdf = _whole_group(pdfs, ["timestamp"])
    if pdf is not None:
        for row in pdf.itertuples(index=False):
            r = row._asdict()
            mtype, temp = r["metric_type"], r["temporality"]
            if temp != TEMPORALITY_CUMULATIVE or mtype not in (
                METRIC_TYPE_SUM,
                METRIC_TYPE_HISTOGRAM,
            ):
                out.append(r)
                continue
            r["temporality"] = TEMPORALITY_DELTA
            if mtype == METRIC_TYPE_SUM and r["value"] is not None:
                v = r["value"]
                reset = (not first) and r["is_monotonic"] and v < last_value
                if not first and not reset:
                    r["value"] = v - last_value
                last_value = v
                first = False
            elif mtype == METRIC_TYPE_HISTOGRAM:
                # Arrow hands a null bigint/double to pandas as NaN
                c = None if pd.isna(r["count"]) else r["count"]
                s = None if pd.isna(r["sum"]) else r["sum"]
                reset = (not first) and c is not None and c < last_count
                if not first and not reset:
                    if c is not None and last_count > 0:
                        r["count"] = c - last_count
                    if s is not None and last_sum > 0:
                        r["sum"] = s - last_sum
                    if r["buckets_le"] is not None and prev_buckets:
                        r["buckets_count"] = [
                            cnt - prev_buckets.get(le, 0)
                            if le in prev_buckets
                            else cnt
                            for le, cnt in zip(r["buckets_le"], r["buckets_count"])
                        ]
                # a null count/sum is not differenced against, like the
                # batch operator's lag over a null (0 fails the > 0 guards)
                last_count = 0 if c is None else c
                last_sum = 0.0 if s is None else s
                if r["buckets_le"] is not None:
                    # state stores the raw cumulative buckets
                    raw = dict(zip(row.buckets_le, row.buckets_count))
                    prev_buckets = raw
                first = False
            out.append(r)

    les = [float(k) for k in prev_buckets]
    # plain-Python natives only: the state tuple is pickled to the JVM
    # state store, and numpy scalars (itertuples yields them for the
    # histogram count/bucket columns) fail Pyrolite unpickling with
    # "expected zero arguments for construction of ClassDict"
    state.update(
        (
            float(last_value),
            int(last_count),
            float(last_sum),
            les,
            [int(prev_buckets[k]) for k in prev_buckets],
        )
    )
    if ttl_ms is not None:
        state.setTimeoutDuration(ttl_ms)
    if out:
        yield pd.DataFrame(out)


def delta_convert_stream(df: DataFrame, state_ttl: bool = True) -> DataFrame:
    """Stateful streaming cumulative->delta keyed by series_hash (T1-T4).

    Input must carry flat bucket arrays (buckets_le/buckets_count) - use
    ``split_buckets`` below. Watermark bounds state for late data.

    ``state_ttl=False`` disables the processing-time idle-series
    eviction (GroupStateTimeout.NoTimeout). With the default timeout
    every trigger runs a batch even without new data, so an AvailableNow
    query over this operator never terminates on its own. The timeout
    also costs a second Python pass per state partition on every
    micro-batch: after the pass over the new rows, Spark calls the
    Python runner again for the timed-out-group sweep, even when no
    group has timed out, and each pass pays the worker's per-task set-up
    (see ``daemon_preload``). The timeout mode is part of the state
    value schema: a checkpoint cannot be restarted under the other
    ``state_ttl`` (``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``)."""
    if state_ttl:
        fn, conf = _convert_group, GroupStateTimeout.ProcessingTimeTimeout
    else:
        def fn(key, pdfs, state):  # noqa: ANN001 — Spark UDF signature
            yield from _convert_group(key, pdfs, state, ttl_ms=None)

        conf = GroupStateTimeout.NoTimeout
    return (
        df.withWatermark("timestamp", "7 days")
        .groupBy("series_hash")
        .applyInPandasWithState(
            fn,
            outputStructType=_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=conf,
        )
    )


def split_buckets(df: DataFrame) -> DataFrame:
    """struct-array buckets -> parallel arrays for the state UDF
    (Arrow-friendly; mirrors the reference's nested->parallel flatten,
    writer.go:184-241)."""
    from pyspark.sql import functions as F

    return df.select(
        "series_hash",
        "timestamp",
        "metric",
        "workspaceId",
        "serviceName",
        "metric_type",
        "temporality",
        "is_monotonic",
        "value",
        "count",
        "sum",
        F.transform("buckets", lambda b: b["le"]).alias("buckets_le"),
        F.transform("buckets", lambda b: b["count"]).alias("buckets_count"),
        "attributes",
        "exemplars",
    )


def rollup_stream(
    df: DataFrame,
    grain: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming windowed rollup — the continuous form of the reference's
    insert-triggered materialized views (schema.sql:146-192): tumbling
    windows over event time with a late-data watermark instead of the
    MV's "WHERE timestamp >= now() - INTERVAL" freshness guard.

    Returns the aggregated streaming DataFrame; sink choice is the
    caller's (append mode emits a window once its watermark passes —
    exactly-once rollup rows; update mode gives low-latency running
    values to a serving store).

    Column semantics match the batch rollup (operators.rollup): min/max/
    sum/count plus a deterministic last-by-event-time. samples_count and
    value_sum are carried (not avg) so higher-grain cascades re-aggregate
    losslessly (the A11 weighted-avg fix).
    """
    from pyspark.sql import functions as F

    return (
        df.withWatermark("timestamp", watermark)
        .groupBy(
            F.window("timestamp", grain).alias("w"),
            "workspaceId",
            "metric",
            "series_hash",
        )
        .agg(
            F.min("value").alias("value_min"),
            F.max("value").alias("value_max"),
            F.sum("value").alias("value_sum"),
            F.max_by("value", "timestamp").alias("value_last"),
            F.sum("count").alias("count"),
            F.sum("sum").alias("sum"),
            F.count(F.lit(1)).alias("samples_count"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"),
            "workspaceId",
            "metric",
            "series_hash",
            "value_min",
            "value_max",
            "value_sum",
            (F.col("value_sum") / F.col("samples_count")).alias("value_avg"),
            "value_last",
            "count",
            "sum",
            "samples_count",
        )
    )


def rollup_cascade_stream(
    df: DataFrame,
    grain: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming re-aggregation of a lower-grain rollup to a higher
    grain — the continuous form of the reference's MV cascade chain
    (schema.sql:249-283 for 1m→5m, 340-373 for 5m→1h): each rollup
    table is itself a streaming source (its parquet sink), and the next
    grain is a tumbling window over ``bucket_ts``.

    Lossless under the A11 weighted-avg semantics: ``value_sum`` and
    ``samples_count`` are carried at every grain, so ``value_avg`` is
    always the exact raw-sample-weighted average, never an average of
    averages. Late lower-grain rows (a window the upstream stage closed
    late) merge into the right higher-grain window as long as they are
    inside this stage's watermark."""
    from pyspark.sql import functions as F

    return (
        df.withWatermark("bucket_ts", watermark)
        .groupBy(
            F.window("bucket_ts", grain).alias("w"),
            "workspaceId",
            "metric",
            "series_hash",
        )
        .agg(
            F.min("value_min").alias("value_min"),
            F.max("value_max").alias("value_max"),
            F.sum("value_sum").alias("value_sum"),
            F.max_by("value_last", "bucket_ts").alias("value_last"),
            F.sum("count").alias("count"),
            F.sum("sum").alias("sum"),
            F.sum("samples_count").alias("samples_count"),
        )
        .select(
            F.col("w.start").alias("bucket_ts"),
            "workspaceId",
            "metric",
            "series_hash",
            "value_min",
            "value_max",
            "value_sum",
            (F.col("value_sum") / F.col("samples_count")).alias("value_avg"),
            "value_last",
            "count",
            "sum",
            "samples_count",
        )
    )


def kmv_distinct_stream(
    df: DataFrame,
    k: int = 64,
    grain: str = "1 minute",
    watermark: str = "10 minutes",
    key_cols: tuple[str, ...] = ("workspaceId", "metric"),
    ts_col: str = "timestamp",
    entity_col: str = "series_hash",
) -> DataFrame:
    """Streaming per-window KMV distinct sketch — continuous series-
    cardinality monitoring (the operational guard a metrics pipeline
    needs against label-cardinality explosions; the reference has no
    equivalent — its schema can only count exact distinct after the
    fact). Each closed window emits the k-smallest-distinct-hash
    sketch (functions/sketch.py) plus its estimate; because the sketch
    is a mergeable VALUE, downstream batch or streaming jobs can
    re-aggregate window sketches to coarser grains or global counts
    with kmv_merge, losslessly w.r.t. a direct sketch over the raw
    rows — pinned against the batch kernel in tests/test_streaming.py.

    State per open (window, keys) group is the distinct-hash set (the
    same bound as any streaming collect_set agg); the watermark expires
    it. At 100 TB the map-side partial aggregation already reduces each
    task's contribution before the shuffle."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        portable_hash60,
    )
    from clickhouse_metrics_pipeline_spark.functions.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    h = portable_hash60(F.col(entity_col).cast("string"))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, grain).alias("w"), *key_cols)
        .agg(kmv_sketch(h, k).alias("sk"))
        .select(
            F.col("w.start").alias("bucket_ts"),
            *key_cols,
            "sk",
            kmv_estimate("sk", k).alias("n_distinct_est"),
        )
    )


def stddev_state_stream(
    df: DataFrame,
    grain: str = "1 hour",
    watermark: str = "10 minutes",
    key_cols: tuple[str, ...] = ("event_type",),
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Continuous twin of workloads_ext5.events_stddev_over_time: per
    closed (window, keys) group, the EXACT integer moment state
    (n, sum_cents, var_num = n*Σc² − (Σc)²). The state is three
    integer counters — map-side combinable, watermark-bounded, and
    mergeable to coarser grains losslessly (the same sum+count
    contract the rollup cascade rides); pinned state-equal to the
    batch fold in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    c = F.round(F.col(value_col) * 100).cast("bigint")
    g = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, grain).alias("w"), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.sum(c).alias("sum_cents"),
            F.sum(c * c).alias("sumsq_cents"),
        )
    )
    return g.select(
        F.col("w.start").alias("bucket_ts"),
        *key_cols,
        "n_samples",
        "sum_cents",
        (
            F.col("n_samples") * F.col("sumsq_cents")
            - F.col("sum_cents") * F.col("sum_cents")
        ).alias("var_num"),
    )


def recording_rules_stream(
    df: DataFrame,
    rules,
    grain: str = "1 hour",
    watermark: str = "10 minutes",
    type_col: str = "metric",
    ts_col: str = "timestamp",
    value_col: str = "value",
) -> DataFrame:
    """Continuous recording rules (plans/rules.py evaluated at ingest):
    ONE streaming aggregation to the per-(type, window) integer
    partials (n, cents), then every rule derives row-locally and fans
    out through a single explode — adding a rule never adds streaming
    state or a second aggregation (Structured Streaming would reject
    one anyway). Emits the same long format as the batch engine.

    Supported rule aggs: the per-type ones (count / sum_cents /
    avg_scaled). Window-relative rules (share_ppm / error_ratio_ppm)
    need the FINALIZED window across all types — run them as a second
    batch stage over this stream's emitted partials (the rollup-
    cascade pattern); requesting one here raises. Pinned rule-equal to
    the batch engine over closed windows in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    per_type = ("count", "sum_cents", "avg_scaled")
    bad = [r.record for r in rules if r.agg not in per_type]
    if bad:
        raise ValueError(
            "recording_rules_stream supports per-type rules only "
            f"(count/sum_cents/avg_scaled); window-relative rules {bad} "
            "need a second stage over the emitted partials"
        )
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    g = (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, grain).alias("w"), F.col(type_col))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
    )
    # exact DECIMAL(38,0) route, matching the batch rules engine —
    # BIGINT/BIGINT double division loses ULPs past 2^53, which would
    # break the pinned stream≡batch equality at that magnitude
    from clickhouse_metrics_pipeline_spark.functions.histogram import (
        _floordiv_exact,
    )

    mag = _floordiv_exact(
        F.lit(200) * F.abs(F.col("c")) + F.col("n"), F.lit(2) * F.col("n")
    )
    avg_scaled = F.when(F.col("c") < 0, -mag).otherwise(mag)
    exprs = {
        "count": F.col("n"),
        "sum_cents": F.col("c"),
        "avg_scaled": avg_scaled,
    }
    fanout = F.array(
        *[
            F.struct(
                F.lit(r.record).alias("record"),
                exprs[r.agg].cast("bigint").alias("value"),
            )
            for r in rules
        ]
    )
    return g.select(
        F.col("w.start").alias("bucket_ts"),
        F.col(type_col).alias("event_type"),
        F.explode(fanout).alias("_r"),
    ).select("_r.record", "event_type", "bucket_ts", "_r.value")


def anomaly_zscore_stream(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    key_ddl: str = "event_type string",
    ts_col: str = "ts",
    grain_seconds: int = 3600,
    trail_max: int = 24,
    min_trail: int = 12,
    watermark: str = "2 hours",
    state_ttl_hours: int = 48,
) -> DataFrame:
    """Continuous per-series rolling z-score anomaly flags — the
    streaming twin of the batch ``events_anomaly_zscore`` catalog query
    (workloads_ext3.py), sharing its EXACT integer algebra: a closed
    bucket's count n is flagged when, with k trailing closed buckets
    summing to S with square-sum SS,
    ``(k·n − S)² · (k−1) > 4 · k · (k·SS − S²)`` and ``k ≥ min_trail``
    — z² > 4 rearranged division/sqrt/float-free (Python integers are
    arbitrary-precision, so the ~1e21 cross-terms of 100 TB-scale
    bucket counts cannot wrap).

    Stateful shape: per key, the open bucket's (start, count) plus a
    deque of the last ``trail_max`` closed-bucket counts. A bucket
    CLOSES when a later-bucket row for the same key arrives (event-time
    progress, the same bucket sequence the batch window sees), emitting
    its flag; rows older than the open bucket are dropped (the
    watermark bounds how late they can be). Equality with the batch
    query over every closeable bucket is pinned in
    tests/test_streaming.py. State is O(trail_max) per live series and
    TTL-evicted — the alerting loop a metrics store runs continuously,
    which the reference can only approximate with repeated full-table
    queries."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    out_schema = (
        f"{key_ddl}, bucket_ts timestamp, n_events bigint, "
        "trail_k bigint, is_anomaly boolean"
    )
    state_schema = "open_ts bigint, open_n bigint, trail array<bigint>"
    names = list(key_cols)

    def convert(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            open_ts, open_n, trail = state.get
            trail = list(trail) if trail is not None else []
        else:
            open_ts, open_n, trail = None, 0, []

        def close_row():
            k, n = len(trail), open_n
            s = sum(trail)
            ss = sum(x * x for x in trail)
            dev = k * n - s
            flag = k >= min_trail and dev * dev * (k - 1) > 4 * k * (
                k * ss - s * s
            )
            row = dict(zip(names, key))
            row.update(
                bucket_ts=pd.Timestamp(open_ts, unit="s"),
                n_events=n,
                trail_k=k,
                is_anomaly=bool(flag),
            )
            return row

        out = []
        pdf = _whole_group(pdfs, [ts_col])
        if pdf is not None:
            # floor to epoch seconds regardless of the column's
            # datetime64 unit (ns under Arrow today, us tomorrow)
            secs = pdf[ts_col].values.astype("datetime64[s]").astype("int64")
            for t in secs:
                b = int(t) // grain_seconds * grain_seconds
                if open_ts is None:
                    open_ts, open_n = b, 1
                elif b == open_ts:
                    open_n += 1
                elif b < open_ts:
                    continue  # late beyond the open bucket: dropped
                else:
                    out.append(close_row())
                    trail.append(open_n)
                    del trail[:-trail_max]
                    open_ts, open_n = b, 1
        state.update((open_ts, open_n, trail))
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        if out:
            yield pd.DataFrame(out)

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            convert,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def slo_burn_stream(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    key_ddl: str = "event_type string",
    ts_col: str = "ts",
    value_col: str = "value",
    bad_min: float = 95.0,
    budget_bp: int = 100,
    thresh_x10: int = 144,
    grain_seconds: int = 3600,
    long_buckets: int = 6,
    watermark: str = "2 hours",
    state_ttl_hours: int = 48,
) -> DataFrame:
    """Continuous two-window SLO burn-rate paging — the streaming twin
    of the batch ``events_slo_burn_rate`` query (workloads_ext3.py),
    sharing its exact integer page condition: a closed hourly bucket
    with (total, bad) pages when BOTH the bucket itself and the
    trailing ``long_buckets`` hours (bucket included) burn the error
    budget faster than thresh_x10/10, evaluated cross-multiplied
    (``bad·10000·10 > thresh_x10·budget_bp·total``) so the flag cannot
    flip between engines or restarts.

    Stateful shape: per service, the open bucket's (start, total, bad)
    plus a deque of the last ``long_buckets − 1`` closed (bucket_start,
    total, bad) triples; a bucket CLOSES on event-time progress
    (same mechanics as anomaly_zscore_stream). Calendar-gap semantics
    match the batch RANGE window: trailing entries older than
    ``long_buckets − 1`` grains before the closing bucket drop out even
    when fewer than ``long_buckets`` buckets exist. Equality with the
    batch query over every closeable bucket is pinned in
    tests/test_streaming.py."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    out_schema = (
        f"{key_ddl}, bucket_ts timestamp, total_1h bigint, bad_1h bigint, "
        "burn_1h double, burn_6h double, page_alert boolean"
    )
    state_schema = (
        "open_ts bigint, open_n bigint, open_bad bigint, "
        "trail_ts array<bigint>, trail_n array<bigint>, "
        "trail_bad array<bigint>"
    )
    names = list(key_cols)
    thresh = thresh_x10 * budget_bp

    def convert(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            open_ts, open_n, open_bad, t_ts, t_n, t_bad = state.get
            trail = list(zip(t_ts or [], t_n or [], t_bad or []))
        else:
            open_ts, open_n, open_bad, trail = None, 0, 0, []

        def close_row():
            # long window: trailing closed buckets within range + self
            lo = open_ts - (long_buckets - 1) * grain_seconds
            tot6 = open_n + sum(n for ts0, n, _ in trail if ts0 >= lo)
            bad6 = open_bad + sum(b for ts0, _, b in trail if ts0 >= lo)
            page = (
                open_bad * 100000 > thresh * open_n
                and bad6 * 100000 > thresh * tot6
            )
            row = dict(zip(names, key))
            row.update(
                bucket_ts=pd.Timestamp(open_ts, unit="s"),
                total_1h=open_n,
                bad_1h=open_bad,
                burn_1h=round(open_bad * 10000.0 / (open_n * budget_bp), 4),
                burn_6h=round(bad6 * 10000.0 / (tot6 * budget_bp), 4),
                page_alert=bool(page),
            )
            return row

        out = []
        pdf = _whole_group(pdfs, [ts_col])
        if pdf is not None:
            secs = pdf[ts_col].values.astype("datetime64[s]").astype("int64")
            vals = pdf[value_col].values
            for i in range(len(secs)):
                t, bad = int(secs[i]), bool(vals[i] >= bad_min)
                b = t // grain_seconds * grain_seconds
                if open_ts is None:
                    open_ts, open_n, open_bad = b, 1, int(bad)
                elif b == open_ts:
                    open_n += 1
                    open_bad += int(bad)
                elif b < open_ts:
                    continue  # late beyond the open bucket: dropped
                else:
                    out.append(close_row())
                    trail.append((open_ts, open_n, open_bad))
                    del trail[: -(long_buckets - 1)]
                    open_ts, open_n, open_bad = b, 1, int(bad)
        state.update(
            (
                open_ts,
                open_n,
                open_bad,
                [x[0] for x in trail],
                [x[1] for x in trail],
                [x[2] for x in trail],
            )
        )
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        if out:
            yield pd.DataFrame(out)

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            convert,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def funnel_stream(
    df: DataFrame,
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    window_s: int = 6 * 3600,
    key_col: str = "user_id",
    step_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    watermark: str = "2 hours",
    state_ttl_hours: int = 48,
) -> DataFrame:
    """Continuous windowFunnel: the SAME linear state machine the batch
    ``events_funnel_levels`` query runs as an ``F.aggregate`` walk
    (workloads_ext3.py), here maintained as keyed streaming state —
    per user, (best level-1 chain start, best completed level-2 chain
    start, level-3 reached). Each micro-batch emits the users whose
    funnel level CHANGED, with the new level — the live conversion
    feed a product-analytics pipeline tails. Greedy max-chain-start is
    complete (see the batch docstring), so the streamed level equals
    the batch level over the same ordered events — pinned in
    tests/test_streaming.py. State is three scalars per live user,
    TTL-evicted. Rows arriving out of (ts, id) order across batches
    beyond the watermark are processed in arrival-batch order (the
    same ordering caveat as every keyed state machine here)."""
    from pyspark.sql import functions as F

    s1, s2, s3 = steps
    win = window_s * 1_000_000
    out_schema = f"{key_col} long, funnel_level int, bucket_ts timestamp"
    state_schema = "c1 bigint, c2 bigint, l3 boolean"

    def convert(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            c1, c2, l3 = state.get
        else:
            c1, c2, l3 = -1, -1, False

        def level():
            return 3 if l3 else (2 if c2 >= 0 else (1 if c1 >= 0 else 0))

        before = level()
        last_ts = None
        pdf = _whole_group(pdfs, [ts_col, id_col])
        if pdf is not None:
            us = pdf[ts_col].values.astype("datetime64[us]").astype("int64")
            for t, et in zip(us, pdf[step_col]):
                t = int(t)
                if et == s1:
                    c1 = max(c1, t)
                elif et == s2 and c1 >= 0 and t - c1 <= win:
                    c2 = max(c2, c1)
                elif et == s3 and c2 >= 0 and t - c2 <= win:
                    l3 = True
                last_ts = t
        state.update((c1, c2, bool(l3)))
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        after = level()
        if after != before and last_ts is not None:
            yield pd.DataFrame(
                [
                    {
                        key_col: key[0],
                        "funnel_level": after,
                        "bucket_ts": pd.Timestamp(last_ts, unit="us"),
                    }
                ]
            )

    return (
        df.where(F.col(step_col).isin(*steps))
        .withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            convert,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def hash_sample_stream(
    df: DataFrame,
    k: int = 64,
    grain: str = "1 minute",
    watermark: str = "10 minutes",
    key_cols: tuple[str, ...] = ("workspaceId", "metric"),
    ts_col: str = "timestamp",
    value_col: str = "value",
    row_key_cols: tuple[str, ...] = ("series_hash", "timestamp"),
) -> DataFrame:
    """Streaming per-window bottom-k value sample — the mergeable
    quantile state (functions/sketch.py hash_sample) maintained
    continuously: each closed window emits the k rows with smallest
    portable row-key hash as sorted (hash, cents) structs plus
    p50/p95 type-1 estimates. Because the sample is a mergeable VALUE
    (same lossless bottom-k-of-union argument as the KMV sketch),
    downstream jobs re-aggregate window samples to coarser grains and
    serve quantile queries from stored state — the capability the
    reference's exact sum/count MV cascade (schema.sql:146-373)
    fundamentally lacks. Pinned against the batch kernel in
    tests/test_streaming.py.

    State per open (window, keys) group is ≤ the group's distinct row
    set pre-cut (the same bound as any streaming collect_set agg); the
    watermark expires it; map-side partial aggregation reduces each
    task's contribution before the shuffle."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        portable_hash60,
    )
    from clickhouse_metrics_pipeline_spark.functions.sketch import (
        hash_sample,
        hash_sample_quantile,
    )
    from clickhouse_metrics_pipeline_spark.tables import value_cents

    h = portable_hash60(
        F.concat_ws(":", *[F.col(c).cast("string") for c in row_key_cols])
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, grain).alias("w"), *key_cols)
        .agg(hash_sample(h, value_cents(value_col), k).alias("sk"))
        .select(
            F.col("w.start").alias("bucket_ts"),
            *key_cols,
            "sk",
            F.size("sk").cast("bigint").alias("sample_n"),
            hash_sample_quantile("sk", 5000).alias("p50"),
            hash_sample_quantile("sk", 9500).alias("p95"),
        )
    )


def session_stream(
    df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming session windows per series — activity episodes with a
    merge-on-gap rule, an operator family the reference's tumbling-only
    MV cascade cannot express (SURVEY §2.9 'windows' row). Built-in
    ``session_window`` carries the session state in the streaming state
    store; the watermark bounds it (closed sessions evict once event
    time passes end + watermark).

    Merge semantics are identical to the batch form pinned by
    tests/test_workloads_ext2.py: a point exactly ``gap`` after the
    previous point still merges; session end = last event + gap.
    """
    from pyspark.sql import functions as F

    return (
        df.withWatermark("timestamp", watermark)
        .groupBy(
            F.session_window("timestamp", gap).alias("sw"),
            "workspaceId",
            "metric",
            "series_hash",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
            F.max_by("value", "timestamp").alias("value_last"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "workspaceId",
            "metric",
            "series_hash",
            "n_events",
            "value_sum",
            "value_last",
        )
    )


def rollup_to_parquet(
    df: DataFrame,
    out_path: str,
    checkpoint: str,
    grain: str = "1 minute",
    watermark: str = "10 minutes",
    trigger_seconds: int = 10,
    available_now: bool = False,
):
    """Continuous rollup job: append-mode parquet sink partitioned by
    date — each window row is written exactly once, after the watermark
    closes it (replaces the reference's MV insert trigger).
    ``available_now=True`` drains the source and stops (the batch
    backfill form of the same job)."""
    from pyspark.sql import functions as F

    rolled = rollup_stream(df, grain=grain, watermark=watermark)
    writer = (
        rolled.withColumn("date", F.to_date("bucket_ts"))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_stream(
    raw_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    workspace_id: str = "default",
    trigger_seconds: int = 10,
    available_now: bool = False,
    compact_every: int | None = None,
    compact_max_files: int = 8,
    compact_target_bytes: int = 128 * 1024 * 1024,
):
    """Full streaming ingest: validate -> stamp -> delta-convert ->
    partitioned parquet sink, 10 s trigger (cmd/main.go:181-207 defaults).
    ``available_now=True`` drains the source — the batch-drain mode for
    catch-up runs and tests. The drain never terminates on its own (see
    :func:`delta_convert_stream`): once a progress report shows no input
    rows the backlog is committed, and the caller stops the query. The
    processing-time query can continue on the drain's checkpoint.

    The sink is IDEMPOTENT UNDER REPLAY, not just under clean restart:
    rows land under ``date=D/batch=K`` and each micro-batch writes with
    dynamic partition overwrite keyed by its batch id, so a batch
    replayed after a crash *between the parquet write and the
    checkpoint commit* (the at-least-once window of a plain append
    ``foreachBatch``) overwrites its own partitions instead of
    appending a second copy. Readers see one extra ``batch`` partition
    column (droppable); ``batch=-1`` holds compacted rows.

    ``compact_every=N`` runs :func:`sources.writer.compact_ingest_sink`
    at the START of every Nth micro-batch — inside ``foreachBatch``, so
    the sweep is serialized with the writes (no concurrent writer ever
    races the trash-swap) and sees only committed batches; a replayed
    batch's crashed-attempt dir is detected (``defer_batch_geq``) and
    that partition's sweep deferred, so an uncommitted batch is never
    folded into ``batch=-1`` and then re-written (which would duplicate
    it). MergeTree gets the same effect from its merge scheduler.

    Returns the StreamingQuery handle."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.operators.validate import validate
    from clickhouse_metrics_pipeline_spark.sources.writer import (
        compact_ingest_sink,
    )

    validated = validate(raw_stream, workspace_id=workspace_id)
    converted = delta_convert_stream(split_buckets(validated))

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact_ingest_sink(
                batch_df.sparkSession,
                out_path,
                max_files=compact_max_files,
                target_file_bytes=compact_target_bytes,
                # a replayed batch finds its crashed attempt's dir on
                # disk; folding it would duplicate rows on the re-write
                defer_batch_geq=batch_id,
            )
        (
            batch_df.withColumn("date", F.to_date("timestamp"))
            .withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date", "batch")
            .parquet(out_path)
        )

    writer = converted.writeStream.foreachBatch(_write).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dead_letter_stream(
    raw_stream: DataFrame,
    dlq_path: str,
    checkpoint: str,
    trigger_seconds: int = 10,
    available_now: bool = False,
):
    """Dead-letter queue for the ingest path: the rows the validation
    filter (F1) drops, annotated with their first-failing-check reason
    code and partitioned by (date, reason) so operators can see WHAT is
    being rejected and why without replaying the source. The reference
    only counts drops (``DroppedCount``, processor.go:69); at 100 TB a
    rising drop rate with no sample of the dropped payloads is
    undiagnosable. Runs as an independent streaming query over the same
    source as :func:`ingest_stream` — at scale an independent job with
    its own checkpoint, so a DLQ backlog never backpressures ingest."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.operators.validate import (
        rejection_reason,
        valid_predicate,
    )

    rejects = (
        raw_stream.filter(
            ~F.coalesce(valid_predicate(), F.lit(False))
        )
        .withColumn("reject_reason", rejection_reason())
        .withColumn(
            "date", F.coalesce(F.to_date("timestamp"), F.lit("1970-01-01"))
        )
    )
    writer = (
        rejects.writeStream.format("parquet")
        .option("path", dlq_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("date", "reject_reason")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def dedup_stream(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first arrival per key wins; later copies
    within the watermark horizon are dropped
    (``dropDuplicatesWithinWatermark``).

    The ingest-side dedup stage a training-data pipeline needs: the
    batch ``docs_exact_dedup`` catalog query is the offline form, this
    is the same first-wins contract applied while data lands. State is
    one row per distinct key currently inside the watermark horizon and
    is evicted as event time advances — the shape that survives an
    infinite stream, unlike plain ``dropDuplicates`` whose key state
    grows forever."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def dedup_documents_stream(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Content dedup for a streaming document feed: normalize -> md5
    fingerprint (same kernel as the batch exact-dedup path, so offline
    and online agree on what counts as a duplicate), then first-wins
    within the watermark horizon."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.functions.text import doc_fingerprint

    with_fp = df.withColumn("fp", doc_fingerprint(F.col(text_col)))
    return dedup_stream(with_fp, ["fp"], ts_col=ts_col, watermark=watermark)


def exemplar_trace_join_stream(
    samples: DataFrame,
    exemplars: DataFrame,
    max_lag_seconds: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: attach in-flight exemplar trace IDs
    to the metric samples they were observed under — the continuous
    form of the batch events_exemplar_trace_join query (reference
    analog: the exemplars columns every row carries, schema.sql:55-61,
    joined here across two live streams instead of within one stored
    row).

    ``samples`` carries (series_hash, timestamp, value); ``exemplars``
    carries (series_hash, ex_ts, trace_id). An exemplar matches a
    sample of the same series when it was recorded in the
    ``max_lag_seconds`` window ending at the sample timestamp — the
    scrape-interval attachment rule.

    Scale/state: BOTH sides get event-time watermarks and the join
    condition bounds ex_ts to a closed range around the sample time, so
    Spark derives state-eviction thresholds for both buffers — state
    per side is only the rows inside watermark + lag, the only
    stream-stream-join shape that survives an infinite stream. Matches
    emit immediately (inner join); the shuffle is on series_hash, the
    same key the ingest path already partitions by."""
    from pyspark.sql import functions as F

    s = samples.withWatermark("timestamp", watermark)
    e = exemplars.select(
        F.col("series_hash").alias("ex_series_hash"),
        "ex_ts",
        "trace_id",
    ).withWatermark("ex_ts", watermark)
    cond = (
        (s["series_hash"] == e["ex_series_hash"])
        & (e["ex_ts"] >= s["timestamp"] - F.expr(f"INTERVAL {max_lag_seconds} SECONDS"))
        & (e["ex_ts"] <= s["timestamp"])
    )
    return s.join(e, cond, "inner").select(
        "series_hash", "timestamp", "value", "trace_id", "ex_ts"
    )


def decontaminate_documents_stream(
    df: DataFrame,
    bloom_bits,
    eval_hashes,
    text_col: str = "text",
) -> DataFrame:
    """At-ingest decontamination for a streaming document feed: score
    every incoming document against the eval benchmark set's Bloom
    filter (built offline by workloads_ext4.docs_bloom_decontaminate /
    exported by bloom_filter_arrays), resolving Bloom candidates
    against the exact eval hash set in the same row-local pass. Emits
    the input plus ``n_candidate_grams`` / ``n_true_shared`` /
    ``contaminated`` — the upstream filter a training pipeline applies
    while data lands, so contaminated documents never reach storage.

    Scale/state: the gram hashes are the same JVM shingle+md5 kernel
    the batch md5grams8 index uses; the scorer is a STATELESS Arrow
    pandas UDF over two closure-broadcast numpy arrays (128 KB filter
    + the eval gram set). No state store, no join, no watermark
    needed: each micro-batch is map-only, so the operator survives an
    unbounded stream at any rate and batch/stream verdicts agree
    hash-for-hash (pinned in tests/test_streaming.py)."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.functions.hashing import (
        portable_hash60,
    )
    from clickhouse_metrics_pipeline_spark.operators.dedup import (
        bloom_decontaminate_kernel,
        word_shingles,
    )

    score = bloom_decontaminate_kernel(bloom_bits, eval_hashes)
    hashes = F.transform(
        word_shingles(F.col(text_col), 8), portable_hash60
    )
    return (
        df.withColumn("_score", score(hashes))
        .withColumn("n_candidate_grams", F.col("_score.n_candidate_grams"))
        .withColumn("n_true_shared", F.col("_score.n_true_shared"))
        .withColumn("contaminated", F.col("n_true_shared") > 0)
        .drop("_score")
    )


def simhash_neardup_stream(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ingest_ts",
    max_hamming: int = 6,
    watermark: str = "30 minutes",
    state_ttl_hours: int = 3,
) -> DataFrame:
    """Continuous SimHash near-dup detection at ingest — the streaming
    twin of the batch ``docs_simhash_pairs`` query, sharing its exact
    kernel and pigeonhole banding: each document's portable 60-bit
    signature splits into ``max_hamming + 1`` bit chunks, and per
    (chunk, key) bucket the operator keeps the (doc_id, signature)
    pairs seen so far; a new arrival emits one row per earlier
    bucket-mate within Hamming distance ``max_hamming``
    (``id_a`` = the earlier doc, ``id_b`` = the arrival, plus the
    exact distance). Pigeonhole guarantees every qualifying pair
    shares at least one chunk, so the emitted pair set equals the
    batch query's — pinned in tests/test_streaming.py.

    At-least-once per pair: a pair agreeing on several chunks emits
    from each, so consumers key on (id_a, id_b) (idempotent upsert /
    dropDuplicates), the same contract as every retried streaming
    sink write.

    Scale/state: state per bucket is the bucket's occupants — in
    aggregate one (id, int64) pair per document per chunk, the same
    footprint as the batch signatures index, TTL-evicted so an
    unbounded stream holds only the trailing dedup horizon (a
    production deployment seeds state from the stored ``simhash60``
    index instead of an empty store). The shuffle is on (chunk, key)
    — the LSH bucket key, never all-pairs."""
    from pyspark.sql import functions as F

    from clickhouse_metrics_pipeline_spark.operators.dedup import (
        PORTABLE_SIMHASH_BITS,
        simhash60_portable_kernel,
    )

    n_chunks = max_hamming + 1
    width = -(-PORTABLE_SIMHASH_BITS // n_chunks)
    sig = df.select(
        F.col(id_col).alias("_id"),
        F.col(ts_col).alias("_ts"),
        simhash60_portable_kernel(text_col).alias("sim"),
    )
    chunks = sig.select(
        "_id",
        "_ts",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sim"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("_ck"),
    ).select("_id", "_ts", "sim", F.col("_ck.chunk").alias("chunk"), F.col("_ck.key").alias("key"))

    out_schema = "id_a bigint, id_b bigint, hamming int, ts timestamp"
    state_schema = "ids array<bigint>, sims array<bigint>"

    def detect(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, sims = state.get
            ids = list(ids) if ids is not None else []
            sims = list(sims) if sims is not None else []
        else:
            ids, sims = [], []
        out = []
        pdf = _whole_group(pdfs, ["_ts", "_id"])
        if pdf is not None:
            for _id, _ts, sim in zip(
                pdf["_id"], pdf["_ts"], pdf["sim"]
            ):
                _id, sim = int(_id), int(sim)
                if _id in ids:
                    continue  # replayed doc: state already has it
                for pid, psim in zip(ids, sims):
                    h = bin(sim ^ psim).count("1")
                    if h <= max_hamming:
                        out.append(
                            {
                                "id_a": pid,
                                "id_b": _id,
                                "hamming": h,
                                "ts": _ts,
                            }
                        )
                ids.append(_id)
                sims.append(sim)
        state.update((ids, sims))
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        if out:
            yield pd.DataFrame(out)

    return (
        chunks.withWatermark("_ts", watermark)
        .groupBy("chunk", "key")
        .applyInPandasWithState(
            detect,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def holt_winters_stream(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    key_ddl: str = "event_type string",
    ts_col: str = "ts",
    value_col: str = "value",
    grain_seconds: int = 3600,
    watermark: str = "2 hours",
    state_ttl_hours: int = 48,
) -> DataFrame:
    """Continuous PromQL ``holt_winters()`` — the streaming twin of the
    batch ``events_holt_winters`` catalog query, sharing its EXACT
    fixed-point recursion (sf=0.3, tf=0.1 in thousandths; every step
    floors the /1000 rescale; python ``//`` IS that floor). A bucket
    closes when a later-bucket row arrives for the same key
    (event-time progress, the same bucket sequence the batch fold
    sees); each close emits the smoothed level and trend over all
    closed buckets so far — equal, bucket for bucket, to the batch
    query run over that closed prefix (pinned in
    tests/test_streaming.py).

    Stateful shape: per series just (first-bucket cents, s, b,
    closed-bucket count) plus the open bucket's (start, cents sum) —
    O(1) state per live series regardless of range length, the
    defining advantage of the recurrence over windowed smoothing;
    TTL-evicted. Prometheus init (s0 = y0, b0 = y1 - y0) means the
    first close emits (y0, 0) and the recursion proper starts at the
    second close."""
    from clickhouse_metrics_pipeline_spark.workloads_ext4 import (
        _HW_SCALE,
        _HW_SF,
        _HW_TF,
    )

    out_schema = (
        f"{key_ddl}, bucket_ts timestamp, n_buckets bigint, "
        "smooth_cents bigint, trend_cents bigint"
    )
    state_schema = (
        "open_ts bigint, open_y bigint, y0 bigint, s bigint, b bigint, "
        "n_closed bigint"
    )
    names = list(key_cols)

    def smooth(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            open_ts, open_y, y0, s, b, n_closed = state.get
        else:
            open_ts, open_y, y0, s, b, n_closed = None, 0, None, None, None, 0

        out = []

        def close_bucket():
            nonlocal y0, s, b, n_closed
            y = open_y
            n_closed += 1
            if n_closed == 1:
                y0, s, b = y, y, 0
            else:
                if n_closed == 2:
                    b = y - y0  # Prometheus b0 = y1 - y0
                s2 = (_HW_SF * y + (_HW_SCALE - _HW_SF) * (s + b)) // _HW_SCALE
                b = (_HW_TF * (s2 - s) + (_HW_SCALE - _HW_TF) * b) // _HW_SCALE
                s = s2
            row = dict(zip(names, key))
            row.update(
                bucket_ts=pd.Timestamp(open_ts, unit="s"),
                n_buckets=n_closed,
                smooth_cents=s,
                trend_cents=b,
            )
            out.append(row)

        # value_col tiebreak (r8 ADVICE item): equal-timestamp rows
        # otherwise keep post-shuffle arrival order, which Spark does
        # not guarantee across runs. The in-bucket fold is a SUM (open_y
        # += c, order-free), so this is determinism hygiene rather than
        # a result change — it restores the r7 (ts, value) ordering.
        pdf = _whole_group(pdfs, [ts_col, value_col])
        if pdf is not None:
            secs = pdf[ts_col].values.astype("datetime64[s]").astype("int64")
            cents = (
                (pdf[value_col].to_numpy(dtype="float64") * 100)
                .round()
                .astype("int64")
            )
            for t, c in zip(secs, cents):
                bk = int(t) // grain_seconds * grain_seconds
                if open_ts is None:
                    open_ts, open_y = bk, int(c)
                elif bk == open_ts:
                    open_y += int(c)
                elif bk < open_ts:
                    continue  # late beyond the open bucket: dropped
                else:
                    close_bucket()
                    open_ts, open_y = bk, int(c)
        state.update((open_ts, open_y, y0, s, b, n_closed))
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        if out:
            yield pd.DataFrame(out)

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            smooth,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def alert_for_stream(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("event_type",),
    key_ddl: str = "event_type string",
    ts_col: str = "ts",
    threshold: int = 4,
    for_buckets: int = 3,
    grain_seconds: int = 3600,
    watermark: str = "2 hours",
    state_ttl_hours: int = 48,
) -> DataFrame:
    """Continuous Prometheus alert-rule ``for:`` debounce — the
    streaming twin of the batch ``events_alert_for`` catalog query
    with identical lifecycle semantics: a rule is PENDING while its
    condition (bucket count >= threshold) has held for fewer than
    ``for_buckets`` consecutive present buckets, FIRING once it has,
    INACTIVE when the condition fails; a missing bucket (calendar gap)
    resets the streak, exactly as an expr returning no sample resets
    the alert. Emits one row per closed bucket with the state — equal,
    bucket for bucket, to the batch query over the closed prefix
    (pinned in tests/test_streaming.py).

    This IS the evaluation loop an alerting engine runs: the batch
    query is the backfill/audit form over stored rollups, this is the
    live form. State per series: the open bucket's (start, count) and
    the current streak — O(1), TTL-evicted."""
    from pyspark.sql import functions as F  # noqa: F401 (parity w/ siblings)

    out_schema = (
        f"{key_ddl}, bucket_ts timestamp, n_events bigint, state string"
    )
    state_schema = "open_ts bigint, open_n bigint, streak bigint"
    names = list(key_cols)

    def evaluate(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            open_ts, open_n, streak = state.get
        else:
            open_ts, open_n, streak = None, 0, 0

        out = []

        def close_bucket(next_ts: int | None):
            nonlocal streak
            cond = open_n >= threshold
            if not cond:
                streak = 0
                st = "inactive"
            else:
                streak += 1
                st = "firing" if streak >= for_buckets else "pending"
            row = dict(zip(names, key))
            row.update(
                bucket_ts=pd.Timestamp(open_ts, unit="s"),
                n_events=open_n,
                state=st,
            )
            out.append(row)
            # a calendar gap to the next bucket resets the streak (the
            # batch RANGE frame sees no rows for missing hours)
            if next_ts is not None and next_ts > open_ts + grain_seconds:
                streak = 0

        pdf = _whole_group(pdfs, [ts_col])
        if pdf is not None:
            secs = pdf[ts_col].values.astype("datetime64[s]").astype("int64")
            for t in secs:
                b = int(t) // grain_seconds * grain_seconds
                if open_ts is None:
                    open_ts, open_n = b, 1
                elif b == open_ts:
                    open_n += 1
                elif b < open_ts:
                    continue  # late beyond the open bucket: dropped
                else:
                    close_bucket(b)
                    open_ts, open_n = b, 1
        state.update((open_ts, open_n, streak))
        state.setTimeoutDuration(state_ttl_hours * 3600 * 1000)
        if out:
            yield pd.DataFrame(out)

    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            evaluate,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
