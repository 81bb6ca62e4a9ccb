"""Structured Streaming pipeline tests (SURVEY §2.9).

Drives the real streaming operators through a file drop-zone source and
asserts sink contents — the micro-batch equivalent of the reference's
gRPC→processor→writer flow (processor.go:55-91, writer.go:87-145).
"""

from __future__ import annotations

import datetime as dt
import time

import pytest

from pyspark.sql import functions as F

from clickhouse_metrics_pipeline_spark.schema import METRICS_RAW_SCHEMA
from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
    ingest_stream,
    rollup_stream,
    rollup_to_parquet,
    session_stream,
)

# Every test here drives a real micro-batch query (file source, trigger
# loop, checkpoint dirs) — 30-90 s each, >10 min for the module. The
# default gate (make test-unit, -m "not slow") skips them; streaming
# coverage there comes from test_pipeline_e2e.py / test_otlp_ingest_e2e.py.
# make test-full (nightly / pre-artifact) runs everything.
pytestmark = pytest.mark.slow

_NOW = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None, microsecond=0)


def _ts(seconds: int) -> dt.datetime:
    return _NOW - dt.timedelta(seconds=3600 - seconds)


def _sum_row(series: int, sec: int, value: float, monotonic: bool = True):
    return (
        "w1", series, "requests_total", "svc", _ts(sec), 2, 1, monotonic,
        float(value), None, None, None, None, None, None, None, None,
        {"env": "prod"}, None, None,
    )


def _gauge_row(series: int, sec: int, value: float):
    return (
        "w1", series, "temp", "svc", _ts(sec), 1, 0, False, float(value),
        None, None, None, None, None, None, None, None, {}, None, None,
    )


def _wait_for_parquet(q, out, timeout_s=60):
    import os

    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(out)
            for f in fs
        ):
            time.sleep(3)
            return
        time.sleep(1)
    raise AssertionError("no parquet output within timeout")


class TestIngestStream:
    def test_cumulative_to_delta_with_reset_and_validation(self, spark, tmp_path):
        src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
        rows = [
            # temporality_test.go:51-120 sequences: [100,150,200] -> [100,50,50];
            # reset series [100,150,20,50] -> [100,50,20,30]
            _sum_row(1, 1, 100), _sum_row(1, 2, 150), _sum_row(1, 3, 200),
            _sum_row(2, 1, 100), _sum_row(2, 2, 150), _sum_row(2, 3, 20), _sum_row(2, 4, 50),
            # invalid: empty metric name -> dropped by F1
            ("w1", 3, "", "svc", _ts(5), 2, 1, True, 5.0, None, None, None,
             None, None, None, None, None, {}, None, None),
            # gauge passes through unconverted
            _gauge_row(4, 1, 42.5),
        ]
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(src)
        q = ingest_stream(
            spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(src),
            out, ckpt, workspace_id="w1", trigger_seconds=2,
        )
        try:
            _wait_for_parquet(q, out)
        finally:
            q.stop()
        res = spark.read.parquet(out)
        s1 = [r.value for r in res.where("series_hash = 1").orderBy("timestamp").collect()]
        assert s1 == [100.0, 50.0, 50.0]
        s2 = [r.value for r in res.where("series_hash = 2").orderBy("timestamp").collect()]
        assert s2 == [100.0, 50.0, 20.0, 30.0]
        assert res.where("series_hash = 3").count() == 0  # dropped
        g = res.where("series_hash = 4").collect()
        assert [r.value for r in g] == [42.5]
        assert g[0].temporality == 0  # gauge untouched

    def test_checkpoint_restart_is_idempotent(self, spark, tmp_path):
        src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
        rows = [_sum_row(1, i, 100 * i) for i in range(1, 4)]
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(src)
        for _ in range(2):  # second start must not reprocess
            q = ingest_stream(
                spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(src),
                out, ckpt, workspace_id="w1", trigger_seconds=2,
            )
            try:
                _wait_for_parquet(q, out)
            finally:
                q.stop()
        assert spark.read.parquet(out).count() == 3


class TestRollupStream:
    def test_windowed_rollup_update_mode(self, spark, tmp_path):
        src = str(tmp_path / "src")
        base = _NOW.replace(second=0) - dt.timedelta(minutes=30)
        rows = []
        for i, v in enumerate([10.0, 20.0, 30.0]):  # same minute
            r = list(_gauge_row(7, 0, v))
            r[4] = base + dt.timedelta(seconds=10 * (i + 1))
            rows.append(tuple(r))
        r = list(_gauge_row(7, 0, 99.0))  # next minute
        r[4] = base + dt.timedelta(minutes=1, seconds=5)
        rows.append(tuple(r))
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(src)

        stream = spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(src)
        rolled = rollup_stream(stream, grain="1 minute", watermark="5 minutes")
        q = (
            rolled.writeStream.format("memory")
            .queryName("rollup_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        out = spark.sql(
            "SELECT * FROM rollup_test WHERE series_hash = 7 ORDER BY bucket_ts"
        ).collect()
        assert len(out) == 2
        w1, w2 = out
        assert w1.value_min == 10.0 and w1.value_max == 30.0
        assert w1.value_avg == pytest.approx(20.0)
        assert w1.value_last == 30.0  # by event time
        assert w1.samples_count == 3
        assert w2.samples_count == 1 and w2.value_last == 99.0


class TestSessionStream:
    def test_session_merge_and_gap_split(self, spark, tmp_path):
        src = str(tmp_path / "src")
        base = _NOW.replace(second=0) - dt.timedelta(minutes=50)
        rows = []
        # three points 10 min apart -> one session (gap 30m); a fourth
        # 40 min later -> second session
        for i, v in enumerate([1.0, 2.0, 3.0]):
            r = list(_gauge_row(9, 0, v))
            r[4] = base + dt.timedelta(minutes=10 * i)
            rows.append(tuple(r))
        r = list(_gauge_row(9, 0, 9.0))
        r[4] = base + dt.timedelta(minutes=20 + 40)
        rows.append(tuple(r))
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(src)

        stream = spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(src)
        sess = session_stream(stream, gap="30 minutes", watermark="5 minutes")
        # session windows only support append mode: a session is emitted
        # exactly once, after the watermark passes its end
        q = (
            sess.writeStream.format("memory")
            .queryName("session_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        out = spark.sql(
            "SELECT * FROM session_test WHERE series_hash = 9 ORDER BY session_start"
        ).collect()
        # watermark = last event (base+60m) - 5m = base+55m: the merged
        # session (end base+50m) has closed and is emitted once; the
        # base+60m singleton's window is still open -> held in state,
        # not emitted. Exactly-once session emission.
        assert len(out) == 1
        (s1,) = out
        assert s1.n_events == 3 and s1.value_sum == 6.0 and s1.value_last == 3.0
        # merge rule: 10-min gaps < 30-min gap merged 3 points into one
        # session; end = last event + gap
        assert (s1.session_end - s1.session_start) == dt.timedelta(minutes=50)


class TestRollupToParquet:
    def test_exactly_once_append_after_watermark(self, spark, tmp_path):
        src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
        base = _NOW.replace(second=0) - dt.timedelta(hours=2)
        rows = []
        for i, v in enumerate([10.0, 20.0, 30.0]):  # minute M
            r = list(_gauge_row(11, 0, v))
            r[4] = base + dt.timedelta(seconds=10 * (i + 1))
            rows.append(tuple(r))
        r = list(_gauge_row(11, 0, 99.0))  # minute M+1
        r[4] = base + dt.timedelta(minutes=1, seconds=5)
        rows.append(tuple(r))
        # watermark driver: 15 min later, leaves windows M and M+1 closed
        r = list(_gauge_row(11, 0, 1.0))
        r[4] = base + dt.timedelta(minutes=15)
        rows.append(tuple(r))
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(src)

        def run():
            q = rollup_to_parquet(
                spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(src),
                out, ckpt, grain="1 minute", watermark="10 minutes",
                available_now=True,
            )
            q.awaitTermination(120)
            q.stop()

        run()
        got = spark.read.parquet(out).where("series_hash = 11").orderBy("bucket_ts").collect()
        # the two closed windows emitted once; the 15-min point's window
        # is still open (watermark = max - 10m), held in state
        assert len(got) == 2
        assert got[0].samples_count == 3 and got[0].value_last == 30.0
        assert got[1].samples_count == 1 and got[1].value_last == 99.0
        # restart on the same checkpoint: nothing reprocessed, no dupes
        run()
        assert spark.read.parquet(out).where("series_hash = 11").count() == 2


class TestStreamingDedup:
    def test_first_wins_across_microbatches(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            dedup_documents_stream,
        )

        src = tmp_path / "src"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt"
        schema = "doc_id BIGINT, text STRING, ingest_ts TIMESTAMP"
        # batch 1: two distinct docs; batch 2 (later file): an exact
        # duplicate of doc 1 (different id, later ts) plus a new doc
        spark.createDataFrame(
            [(1, "alpha beta gamma", _ts(0)), (2, "delta epsilon", _ts(1))],
            schema,
        ).coalesce(1).write.parquet(str(src / "f1"))
        spark.createDataFrame(
            [(3, "alpha  BETA gamma ", _ts(120)), (4, "zeta eta", _ts(121))],
            schema,
        ).coalesce(1).write.parquet(str(src / "f2"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        deduped = dedup_documents_stream(stream)
        q = (
            deduped.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(str(out))
        ids = sorted(r.doc_id for r in got.select("doc_id").collect())
        # doc 3 is a normalized duplicate of doc 1 -> dropped
        assert ids == [1, 2, 4]
        assert got.select("fp").distinct().count() == 3

    def test_checkpoint_restart_keeps_dedup_state(self, spark, tmp_path):
        """Restarting from the same checkpoint must not re-emit already
        seen fingerprints: a duplicate arriving in a new file after the
        restart is still dropped (dedup state rides the state store)."""
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            dedup_documents_stream,
        )

        src = tmp_path / "src"
        out = tmp_path / "out"
        ckpt = tmp_path / "ckpt"
        schema = "doc_id BIGINT, text STRING, ingest_ts TIMESTAMP"

        def _run_drain():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "*"))
            )
            q = (
                dedup_documents_stream(stream)
                .writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        spark.createDataFrame(
            [(1, "alpha beta", _ts(0)), (2, "gamma delta", _ts(1))], schema
        ).coalesce(1).write.parquet(str(src / "f1"))
        _run_drain()
        assert spark.read.parquet(str(out)).count() == 2

        # restart: duplicate of doc 1 (same fp, ts within watermark) + new doc
        spark.createDataFrame(
            [(3, "ALPHA  beta", _ts(60)), (4, "epsilon zeta", _ts(61))], schema
        ).coalesce(1).write.parquet(str(src / "f2"))
        _run_drain()
        ids = sorted(r.doc_id for r in spark.read.parquet(str(out)).collect())
        assert ids == [1, 2, 4]


class TestStreamingRollupCascade:
    """Round-4 e2e: the full raw -> 1m -> 5m streaming CHAIN with late
    data crossing a window boundary, asserted equal to the batch
    rollup_raw_to_1m / rollup_cascade results (reference analog: the MV
    cascade schema.sql:146-373)."""

    _CMP_1M = [
        "value_min", "value_max", "value_avg", "value_last",
        "count", "sum", "samples_count",
    ]

    def _raw_files(self, base):
        """Three arrival-ordered micro-batch files; file 2 carries a row
        ~4 min LATE that lands in an already-seen 1m window (inside the
        10 min watermark); file 3 is the watermark driver (series 999)
        that closes every real window at both grains."""

        def g(series, offset_s, value, count=None, s=None):
            r = list(_gauge_row(series, 0, value))
            r[4] = base + dt.timedelta(seconds=offset_s)
            r[9], r[10] = count, s
            return tuple(r)

        return [
            [g(21, 10, 10.0, 2, 8.0), g(21, 40, 20.0, 1, 4.0),
             g(21, 330, 50.0)],
            # late: minute B+1 arrives after B+5 was seen
            [g(21, 80, 30.0, 3, 9.0), g(21, 370, 60.0)],
            # two watermark drivers: append mode withholds the last
            # open window, so the B+30 driver (which closes every real
            # window in stage 1) must itself be closed by the B+60 one
            # to reach the 1m parquet and drive stage 2's watermark
            [g(999, 1800, 1.0)],
            [g(999, 3600, 1.0)],
        ]

    def test_chain_matches_batch_cascade(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.operators.rollup import (
            rollup_cascade,
            rollup_raw_to_1m,
        )
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            rollup_cascade_stream,
        )

        base = _NOW.replace(second=0, minute=0) - dt.timedelta(hours=3)
        src = tmp_path / "src"
        src.mkdir()
        batches = self._raw_files(base)
        for i, rows in enumerate(batches):
            spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(
                1
            ).write.parquet(str(src / f"b{i}"))

        # ---- stage 1: raw -> 1m, one file per micro-batch (arrival
        # order), append mode so each 1m window emits exactly once
        out1, ck1 = str(tmp_path / "out1m"), str(tmp_path / "ck1")
        q = rollup_to_parquet(
            spark.readStream.schema(METRICS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*")),
            out1, ck1, grain="1 minute", watermark="10 minutes",
            available_now=True,
        )
        q.awaitTermination(120)
        q.stop()

        m1_stream = spark.read.parquet(out1)
        # every real 1m window closed (watermark driver is 30 min out)
        got_1m = {
            r.bucket_ts: tuple(r[c] for c in self._CMP_1M)
            for r in m1_stream.where("series_hash = 21").collect()
        }
        raw_all = spark.createDataFrame(
            [r for b in batches for r in b], METRICS_RAW_SCHEMA
        )
        want_1m = {
            r.timestamp: tuple(r[c] for c in self._CMP_1M)
            for r in rollup_raw_to_1m(raw_all)
            .where("series_hash = 21").collect()
        }
        assert got_1m == want_1m
        # the late minute-B+1 row really crossed a boundary: 4 windows
        assert len(got_1m) == 4

        # ---- stage 2: the 1m parquet sink is itself the stream source
        # for the 5m grain (the MV-chain shape)
        out5, ck5 = str(tmp_path / "out5m"), str(tmp_path / "ck5")
        rolled5 = rollup_cascade_stream(
            spark.readStream.schema(m1_stream.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(out1),
            grain="5 minutes", watermark="10 minutes",
        )
        q = (
            rolled5.writeStream.format("parquet")
            .option("path", out5)
            .option("checkpointLocation", ck5)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

        got_5m = {
            r.bucket_ts: tuple(r[c] for c in self._CMP_1M)
            for r in spark.read.parquet(out5)
            .where("series_hash = 21").collect()
        }
        m1_batch = rollup_raw_to_1m(raw_all)
        want_5m = {
            r.timestamp: tuple(r[c] for c in self._CMP_1M)
            for r in rollup_cascade(
                m1_batch.drop(
                    "exp_scale", "exp_zero_count", "exp_zero_threshold",
                    "exp_positive_buckets", "exp_negative_buckets",
                ),
                "5 minutes",
            ).where("series_hash = 21").collect()
        }
        assert got_5m == want_5m
        # two 5m windows: [B, B+5) and [B+5, B+10)
        assert len(got_5m) == 2
        # weighted-avg check straight from the raw numbers: window B
        # holds 10,20,30 -> avg 20 even though its minutes are uneven
        assert got_5m[base][2] == 20.0


class TestKmvDistinctStream:
    """Streaming per-window KMV distinct sketches match the batch kernel
    bit-for-bit, and the emitted sketches re-merge losslessly to the
    direct global sketch (the mergeable-state contract from
    functions/sketch.py carried into the streaming path)."""

    def test_stream_sketch_matches_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.functions.hashing import (
            portable_hash60,
        )
        from clickhouse_metrics_pipeline_spark.functions.sketch import (
            kmv_estimate,
            kmv_merge,
            kmv_sketch,
        )
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            kmv_distinct_stream,
        )

        k = 8
        base = _NOW.replace(second=0, minute=0) - dt.timedelta(hours=3)
        rows = []
        # 20 distinct series across two 1m windows (> k in each), plus
        # a watermark driver far ahead to close both real windows
        for s in range(20):
            r = list(_gauge_row(100 + s, 0, float(s)))
            r[4] = base + dt.timedelta(seconds=3 * s)
            rows.append(tuple(r))
            r2 = list(_gauge_row(100 + (s * 7) % 15, 0, float(s)))
            r2[4] = base + dt.timedelta(seconds=60 + 3 * s)
            rows.append(tuple(r2))
        drv = list(_gauge_row(999, 0, 1.0))
        drv[4] = base + dt.timedelta(seconds=3600)
        rows.append(tuple(drv))

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(
            str(src / "b0")
        )

        out, ck = str(tmp_path / "kmv_out"), str(tmp_path / "kmv_ck")
        stream = kmv_distinct_stream(
            spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(str(src / "*")),
            k=k,
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        got = spark.read.parquet(out).where(
            F.col("bucket_ts") < base + dt.timedelta(seconds=3000)
        )
        batch = spark.createDataFrame(rows, METRICS_RAW_SCHEMA)
        h = portable_hash60(F.col("series_hash").cast("string"))
        want = (
            batch.groupBy(
                F.window("timestamp", "1 minute").alias("w"),
                "workspaceId",
                "metric",
            )
            .agg(kmv_sketch(h, k).alias("sk"))
            .select(
                F.col("w.start").alias("bucket_ts"),
                "workspaceId",
                "metric",
                "sk",
                kmv_estimate("sk", k).alias("n_distinct_est"),
            )
            .where(F.col("bucket_ts") < base + dt.timedelta(seconds=3000))
        )
        g = {
            (r.bucket_ts, r.metric): (list(r.sk), r.n_distinct_est)
            for r in got.collect()
        }
        w = {
            (r.bucket_ts, r.metric): (list(r.sk), r.n_distinct_est)
            for r in want.collect()
        }
        assert g == w
        assert len(g) == 2  # both real windows closed and emitted

        # merge the emitted window sketches -> equals the direct global
        merged = (
            got.groupBy("metric")
            .agg(kmv_merge("sk", k).alias("sk"))
            .collect()
        )
        direct = (
            batch.where(F.col("timestamp") < base + dt.timedelta(seconds=3000))
            .groupBy("metric")
            .agg(kmv_sketch(h, k).alias("sk"))
            .collect()
        )
        assert {r.metric: list(r.sk) for r in merged} == {
            r.metric: list(r.sk) for r in direct
        }


def _drain_files(spark, src, out, ckpt):
    """Drain one micro-batch per file under ``src`` through
    ``ingest_stream`` and stop once a batch read no input (the drain
    does not end by itself); returns the progress reports."""
    q = ingest_stream(
        spark.readStream.schema(METRICS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*")),
        out,
        ckpt,
        workspace_id="w1",
        available_now=True,
    )
    deadline = time.time() + 300
    try:
        while not any(p["numInputRows"] == 0 for p in q.recentProgress):
            assert q.isActive and time.time() < deadline, q.exception()
            time.sleep(0.2)
        return q.recentProgress
    finally:
        q.stop()


def _write_batch_files(spark, src, n_batches):
    """One 2-row source file per micro-batch, one series per batch."""
    for i in range(n_batches):
        rows = [_gauge_row(500 + i, 2 * i + j, float(i)) for j in range(2)]
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(
            1
        ).write.parquet(str(src / f"b{i:03d}"))


class TestIngestReplay:
    """The ingest sink is exactly-once under replay: a micro-batch run
    again after a crash between its sink write and its checkpoint
    commit adds no rows."""

    def test_replayed_batch_adds_no_rows(self, spark, tmp_path):
        import os

        src = tmp_path / "src"
        src.mkdir()
        n_batches = 3
        _write_batch_files(spark, src, n_batches)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

        progress = _drain_files(spark, src, out, ckpt)
        back = spark.read.parquet(out)
        assert back.count() == 2 * n_batches
        assert back.select("series_hash").distinct().count() == n_batches

        def forget(log_dir, first):
            # drop the log entries (and their checksums) from ``first`` on
            for name in os.listdir(log_dir):
                n = name.lstrip(".").split(".")[0]
                if n.isdigit() and int(n) >= first:
                    os.remove(os.path.join(log_dir, name))

        def data_files():
            return sum(
                f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
            )

        # at-least-once crash window: the last batch that read input
        # wrote its files but its checkpoint commit never landed, and
        # nothing ran after it -> on restart the batch is REPLAYED
        last = max(p["batchId"] for p in progress if p["numInputRows"])

        def crash_after_write():
            forget(os.path.join(ckpt, "commits"), last)
            forget(os.path.join(ckpt, "offsets"), last + 1)

        # (a) the sink's log holds the batch: the replay is skipped
        crash_after_write()
        files = data_files()
        replay = _drain_files(spark, src, out, ckpt)
        assert replay[0]["batchId"] == last
        assert data_files() == files
        assert spark.read.parquet(out).count() == 2 * n_batches

        # (b) the crash also beat the sink's log entry: the batch is
        # written again, and the first attempt's files, which the log
        # never names, stay unread
        crash_after_write()
        forget(os.path.join(out, "_spark_metadata"), last)
        replay = _drain_files(spark, src, out, ckpt)
        assert replay[0]["batchId"] == last
        assert replay[0]["numInputRows"] == 2
        assert data_files() > files
        back = spark.read.parquet(out)
        assert back.count() == 2 * n_batches  # replayed, not duplicated
        assert back.select("series_hash").distinct().count() == n_batches


class TestIngestSinkManifest:
    def test_frame_build_runs_no_job_at_40_batches(self, spark, tmp_path):
        """Readers resolve the sink through its _spark_metadata log, so
        building a serving frame lists no directories: no Spark job,
        even above Spark's 32-path parallel-listing threshold."""
        from clickhouse_metrics_pipeline_spark.plans.serving import (
            read_stored,
            routed_series_frame,
        )
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            SINK_STORED_SCHEMA,
        )

        src = tmp_path / "src"
        src.mkdir()
        n_batches = 40
        _write_batch_files(spark, src, n_batches)
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        progress = _drain_files(spark, src, out, ckpt)
        assert sum(1 for p in progress if p["numInputRows"]) == n_batches

        sc = spark.sparkContext
        sc.setJobGroup("sink-frame-build", "sink frame build", False)
        try:
            frame = routed_series_frame(
                read_stored(spark, out, SINK_STORED_SCHEMA)
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(
            "sink-frame-build")) == []
        assert frame.count() == 2 * n_batches


class TestStreamingHashSample:
    """hash_sample_stream emits per-window bottom-k value samples that
    match the batch kernel exactly, and the emitted window samples
    re-aggregate (hash_sample_merge) to the direct global sample — the
    mergeable quantile-state contract carried into the streaming path."""

    def test_stream_sample_matches_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.functions.hashing import (
            portable_hash60,
        )
        from clickhouse_metrics_pipeline_spark.functions.sketch import (
            hash_sample,
            hash_sample_merge,
            hash_sample_quantile,
        )
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            hash_sample_stream,
        )
        from clickhouse_metrics_pipeline_spark.tables import value_cents

        k = 8
        base = _NOW.replace(second=0, minute=0) - dt.timedelta(hours=3)
        rows = []
        # 20 rows in each of two 1m windows (> k), distinct values so
        # the quantile cut is meaningful; driver row closes both
        for s in range(20):
            r = list(_gauge_row(100 + s, 0, float(s) + 0.25))
            r[4] = base + dt.timedelta(seconds=3 * s)
            rows.append(tuple(r))
            r2 = list(_gauge_row(100 + s, 0, float((s * 7) % 15) + 0.5))
            r2[4] = base + dt.timedelta(seconds=60 + 3 * s)
            rows.append(tuple(r2))
        drv = list(_gauge_row(999, 0, 1.0))
        drv[4] = base + dt.timedelta(seconds=3600)
        rows.append(tuple(drv))

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(
            str(src / "b0")
        )

        out, ck = str(tmp_path / "hs_out"), str(tmp_path / "hs_ck")
        stream = hash_sample_stream(
            spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(str(src / "*")),
            k=k,
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        cutoff = base + dt.timedelta(seconds=3000)
        got = spark.read.parquet(out).where(F.col("bucket_ts") < cutoff)
        batch = spark.createDataFrame(rows, METRICS_RAW_SCHEMA)
        h = portable_hash60(
            F.concat_ws(
                ":",
                F.col("series_hash").cast("string"),
                F.col("timestamp").cast("string"),
            )
        )
        want = (
            batch.groupBy(
                F.window("timestamp", "1 minute").alias("w"),
                "workspaceId",
                "metric",
            )
            .agg(hash_sample(h, value_cents("value"), k).alias("sk"))
            .select(
                F.col("w.start").alias("bucket_ts"),
                "workspaceId",
                "metric",
                "sk",
                F.size("sk").cast("bigint").alias("sample_n"),
                hash_sample_quantile("sk", 5000).alias("p50"),
                hash_sample_quantile("sk", 9500).alias("p95"),
            )
            .where(F.col("bucket_ts") < cutoff)
        )
        key = lambda r: (r.bucket_ts, r.metric)  # noqa: E731
        g = {key(r): (list(map(tuple, r.sk)), r.sample_n, r.p50, r.p95)
             for r in got.collect()}
        w = {key(r): (list(map(tuple, r.sk)), r.sample_n, r.p50, r.p95)
             for r in want.collect()}
        assert g == w
        assert len(g) == 2  # both real windows closed and emitted
        assert all(v[1] == k for v in g.values())  # cut branch exercised

        # merge the emitted window samples -> equals the direct global
        merged = (
            got.groupBy("metric")
            .agg(hash_sample_merge("sk", k).alias("sk"))
            .collect()
        )
        direct = (
            batch.where(F.col("timestamp") < cutoff)
            .groupBy("metric")
            .agg(hash_sample(h, value_cents("value"), k).alias("sk"))
            .collect()
        )
        assert {r.metric: list(map(tuple, r.sk)) for r in merged} == {
            r.metric: list(map(tuple, r.sk)) for r in direct
        }


class TestStreamingAnomaly:
    """anomaly_zscore_stream shares the batch query's exact integer
    algebra; streamed flags over the real events fixture must equal
    events_anomaly_zscore on every CLOSEABLE bucket (all but each
    series' final bucket, which stays open awaiting event-time
    progress)."""

    def test_stream_flags_match_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            anomaly_zscore_stream,
        )
        from clickhouse_metrics_pipeline_spark.tables import _events
        from clickhouse_metrics_pipeline_spark.workloads_ext3 import (
            events_anomaly_zscore,
        )

        sf = "/root/testdata/sf0.001"
        src = tmp_path / "src"
        src.mkdir()
        ev = _events(spark, sf).select("event_type", "ts")
        ev.coalesce(1).write.parquet(str(src / "b0"))

        out, ck = str(tmp_path / "an_out"), str(tmp_path / "an_ck")
        stream = anomaly_zscore_stream(
            spark.readStream.schema("event_type string, ts timestamp").parquet(
                str(src / "*")
            ),
            watermark="0 seconds",
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        got = {
            (r.event_type, r.bucket_ts): (r.n_events, r.trail_k, r.is_anomaly)
            for r in spark.read.parquet(out).collect()
        }
        batch = events_anomaly_zscore(spark, sf).collect()
        last = {}
        for r in batch:
            cur = last.get(r.event_type)
            if cur is None or r.bucket_ts > cur:
                last[r.event_type] = r.bucket_ts
        want = {
            (r.event_type, r.bucket_ts): (r.n_events, r.trail_k, r.is_anomaly)
            for r in batch
            if r.bucket_ts != last[r.event_type]
        }
        assert got and got == want
        assert any(v[2] for v in got.values())  # detector fires somewhere


class TestStreamingFunnel:
    """funnel_stream runs the batch query's linear windowFunnel state
    machine as keyed streaming state; the last emitted level per user
    must equal the batch events_funnel_levels per-user level over the
    same events."""

    def test_stream_levels_match_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            funnel_stream,
        )
        from clickhouse_metrics_pipeline_spark.tables import _events
        from clickhouse_metrics_pipeline_spark.workloads_ext3 import (
            events_funnel_levels,
        )

        sf = "/root/testdata/sf0.001"
        src = tmp_path / "src"
        src.mkdir()
        ev = _events(spark, sf).select("user_id", "event_type", "ts", "event_id")
        ev.coalesce(1).write.parquet(str(src / "b0"))

        out, ck = str(tmp_path / "fn_out"), str(tmp_path / "fn_ck")
        stream = funnel_stream(
            spark.readStream.schema(
                "user_id long, event_type string, ts timestamp, event_id long"
            ).parquet(str(src / "*"))
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        # one batch -> at most one transition row per user: final level
        emitted = {
            r.user_id: r.funnel_level
            for r in spark.read.parquet(out).collect()
        }
        assert emitted
        # batch per-user levels: histogram back to levels via recompute
        batch_hist = {
            r.funnel_level: r.n_users
            for r in events_funnel_levels(spark, sf).collect()
        }
        # users with level 0 emit nothing (level never changed from 0)
        stream_hist: dict = {}
        for lvl in emitted.values():
            stream_hist[lvl] = stream_hist.get(lvl, 0) + 1
        for lvl, n in batch_hist.items():
            if lvl == 0:
                continue
            assert stream_hist.get(lvl, 0) == n, (lvl, stream_hist, batch_hist)
        assert set(stream_hist) <= {1, 2, 3}


class TestStreamingSloBurn:
    """slo_burn_stream shares the batch query's exact integer page
    condition; streamed rows over the events fixture must equal
    events_slo_burn_rate on every CLOSEABLE bucket (all but each
    service's final bucket)."""

    def test_stream_burn_matches_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            slo_burn_stream,
        )
        from clickhouse_metrics_pipeline_spark.tables import _events
        from clickhouse_metrics_pipeline_spark.workloads_ext3 import (
            events_slo_burn_rate,
        )

        sf = "/root/testdata/sf0.001"
        src = tmp_path / "src"
        src.mkdir()
        _events(spark, sf).select("event_type", "ts", "value").coalesce(
            1
        ).write.parquet(str(src / "b0"))

        out, ck = str(tmp_path / "sb_out"), str(tmp_path / "sb_ck")
        stream = slo_burn_stream(
            spark.readStream.schema(
                "event_type string, ts timestamp, value double"
            ).parquet(str(src / "*")),
            watermark="0 seconds",
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        key = lambda r: (r.event_type, r.bucket_ts)  # noqa: E731
        val = lambda r: (  # noqa: E731
            r.total_1h, r.bad_1h, r.burn_1h, r.burn_6h, r.page_alert
        )
        got = {key(r): val(r) for r in spark.read.parquet(out).collect()}
        batch = events_slo_burn_rate(spark, sf).collect()
        last = {}
        for r in batch:
            cur = last.get(r.event_type)
            if cur is None or r.bucket_ts > cur:
                last[r.event_type] = r.bucket_ts
        want = {
            key(r): val(r)
            for r in batch
            if r.bucket_ts != last[r.event_type]
        }
        assert got and got == want
        assert any(v[4] for v in got.values())  # pages somewhere
        assert not all(v[4] for v in got.values())


class TestStreamStreamExemplarJoin:
    """Stream-stream interval join (exemplar_trace_join_stream): the
    continuous twin of the batch exemplar-trace join. Pins (a) the
    streaming result equals the identical batch interval join, (b) the
    lag window is closed on both ends and excludes exemplars after the
    sample or older than max_lag."""

    def test_stream_join_matches_batch(self, spark, tmp_path):
        import datetime as dt

        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            exemplar_trace_join_stream,
        )

        base = dt.datetime(2024, 3, 1, 12, 0, 0)
        t = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
        s_schema = "series_hash bigint, timestamp timestamp, value double"
        e_schema = "series_hash bigint, ex_ts timestamp, trace_id string"
        samples = [
            (1, t(300), 10.0),
            (1, t(600), 11.0),
            (2, t(300), 20.0),
        ]
        exemplars = [
            (1, t(299), "tr-a"),   # in [0,300] window of sample@300
            (1, t(300), "tr-b"),   # boundary: ex_ts == sample ts -> in
            (1, t(301), "tr-c"),   # after sample@300, in window of @600
            (1, t(0), "tr-old"),   # exactly max_lag before @300 -> in
            (2, t(601), "tr-d"),   # after series 2's only sample -> out
            (3, t(300), "tr-e"),   # no samples for series 3 -> out
        ]
        src_s, src_e = str(tmp_path / "s"), str(tmp_path / "e")
        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        sdf = spark.createDataFrame(samples, s_schema)
        edf = spark.createDataFrame(exemplars, e_schema)
        sdf.coalesce(1).write.parquet(src_s)
        edf.coalesce(1).write.parquet(src_e)

        joined = exemplar_trace_join_stream(
            spark.readStream.schema(s_schema).parquet(src_s),
            spark.readStream.schema(e_schema).parquet(src_e),
            max_lag_seconds=300,
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="2 seconds")
            .start()
        )
        try:
            _wait_for_parquet(q, out)
        finally:
            q.stop()
        got = sorted(
            (r.series_hash, r.timestamp, r.trace_id)
            for r in spark.read.parquet(out).collect()
        )
        # batch twin: identical condition on the static frames
        from pyspark.sql import functions as F

        e2 = edf.select(
            F.col("series_hash").alias("ex_series_hash"), "ex_ts", "trace_id"
        )
        cond = (
            (sdf["series_hash"] == e2["ex_series_hash"])
            & (e2["ex_ts"] >= sdf["timestamp"] - F.expr("INTERVAL 300 SECONDS"))
            & (e2["ex_ts"] <= sdf["timestamp"])
        )
        want = sorted(
            (r.series_hash, r.timestamp, r.trace_id)
            for r in sdf.join(e2, cond).select(
                "series_hash", "timestamp", "trace_id"
            ).collect()
        )
        assert got == want
        traces = {tr for _, _, tr in got}
        assert {"tr-a", "tr-b", "tr-c", "tr-old"} <= traces
        assert "tr-d" not in traces and "tr-e" not in traces
        # sample@300 matches tr-a/tr-b/tr-old; sample@600's [300,600]
        # window matches tr-b (300, boundary) and tr-c (301) but NOT
        # tr-a (299, one second too old): exactly 5 pairs
        assert len(got) == 5


class TestStreamingDecontamination:
    """decontaminate_documents_stream: stateless at-ingest Bloom+exact
    scoring must agree with the batch docs_bloom_decontaminate verdicts
    doc-for-doc."""

    def test_stream_verdicts_match_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            decontaminate_documents_stream,
        )
        from clickhouse_metrics_pipeline_spark.workloads_ext4 import (
            bloom_filter_arrays,
            docs_bloom_decontaminate,
        )

        sf = "/root/testdata/sf0.001"
        words, eval_hashes = bloom_filter_arrays(spark, sf)
        # the batch truth: per-train-doc candidate + exact counts
        batch = {
            r.doc_id: (r.n_candidate_grams, r.n_true_shared)
            for r in docs_bloom_decontaminate(spark, sf).collect()
        }
        assert batch, "fixture must contain contamination"

        # stream the train split through in two micro-batch files
        docs = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .where("doc_id % 50 != 0")
            .select("doc_id", "text")
            .collect()
        )
        src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
        schema = "doc_id BIGINT, text STRING"
        half = len(docs) // 2
        for i, chunk in enumerate((docs[:half], docs[half:])):
            spark.createDataFrame(
                [(r.doc_id, r.text) for r in chunk], schema
            ).coalesce(1).write.parquet(str(src / f"f{i}"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        scored = decontaminate_documents_stream(stream, words, eval_hashes)
        q = (
            scored.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(str(out))
        flagged = {
            r.doc_id: (r.n_candidate_grams, r.n_true_shared)
            for r in got.where("n_candidate_grams > 0").collect()
        }
        assert flagged == batch
        # every contaminated verdict is exact-verified, none invented
        for r in got.collect():
            assert r.contaminated == (r.n_true_shared > 0)
            assert r.n_candidate_grams >= r.n_true_shared

    def test_kernel_rejects_wrong_filter_shape(self, spark):
        import numpy as np
        import pytest

        from clickhouse_metrics_pipeline_spark.operators.dedup import (
            bloom_decontaminate_kernel,
        )

        with pytest.raises(ValueError):
            bloom_decontaminate_kernel(
                np.zeros(7, dtype=np.uint64), np.array([], dtype=np.int64)
            )


class TestStreamingSimhashNearDup:
    """simhash_neardup_stream: the emitted (deduped) pair set must
    equal the batch docs_simhash_pairs result, hamming values
    included."""

    def test_stream_pairs_match_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            simhash_neardup_stream,
        )
        from clickhouse_metrics_pipeline_spark.workloads import (
            docs_simhash_pairs,
        )

        sf = "/root/testdata/sf0.001"
        batch = {
            (r.id_a, r.id_b): r.hamming
            for r in docs_simhash_pairs(spark, sf).collect()
        }
        assert batch, "fixture must contain near-dup pairs"

        docs = (
            spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "text")
            .orderBy("doc_id")
            .collect()
        )
        src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
        schema = "doc_id BIGINT, text STRING, ingest_ts TIMESTAMP"
        # ingest in doc_id order (ts follows id) across two files so
        # pairs span micro-batches; "earlier" then means smaller id,
        # the batch orientation
        half = len(docs) // 2
        for i, chunk in enumerate((docs[:half], docs[half:])):
            spark.createDataFrame(
                [
                    (r.doc_id, r.text, _ts(int(r.doc_id)))
                    for r in chunk
                ],
                schema,
            ).coalesce(1).write.parquet(str(src / f"f{i}"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        pairs = simhash_neardup_stream(stream)
        q = (
            pairs.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got_rows = spark.read.parquet(str(out)).collect()
        assert got_rows, "stream must emit pairs"
        got = {}
        for r in got_rows:
            a, b = sorted((r.id_a, r.id_b))
            # at-least-once across chunks: same pair, same hamming
            prev = got.setdefault((a, b), r.hamming)
            assert prev == r.hamming
        assert got == batch


class TestStreamingHoltWinters:
    """holt_winters_stream: the last emission per series must equal the
    batch events_holt_winters fold over the closed-bucket prefix."""

    def test_stream_matches_batch_over_closed_prefix(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            holt_winters_stream,
        )
        from clickhouse_metrics_pipeline_spark.workloads_ext4 import (
            events_holt_winters,
        )

        sf = "/root/testdata/sf0.001"
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "ts", "event_type", "value"
        )
        batch = {
            r.event_type: (r.n_buckets, r.smooth_cents, r.trend_cents)
            for r in events_holt_winters(spark, sf).collect()
        }

        # append one sentinel event per series two hours past the end,
        # so every real bucket CLOSES in the stream; the batch result
        # over the real events is then the stream's closed-prefix state
        import datetime as dt

        rows = ev.collect()
        max_ts = max(r.ts for r in rows)
        sentinel_ts = (max_ts + dt.timedelta(hours=2)).replace(
            minute=0, second=0, microsecond=0
        )
        types = sorted({r.event_type for r in rows})
        sentinels = [(sentinel_ts, t, 0.0) for t in types]

        src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
        schema = "ts TIMESTAMP, event_type STRING, value DOUBLE"
        half = len(rows) // 2
        spark.createDataFrame(
            [(r.ts, r.event_type, r.value) for r in rows[:half]], schema
        ).coalesce(1).write.parquet(str(src / "f0"))
        spark.createDataFrame(
            [(r.ts, r.event_type, r.value) for r in rows[half:]] + sentinels,
            schema,
        ).coalesce(1).write.parquet(str(src / "f1"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        hw = holt_winters_stream(stream)
        q = (
            hw.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got_rows = spark.read.parquet(str(out)).collect()
        assert got_rows
        last = {}
        for r in got_rows:
            cur = last.get(r.event_type)
            if cur is None or r.n_buckets > cur.n_buckets:
                last[r.event_type] = r
        assert set(last) == set(batch)
        for et, want in batch.items():
            got = last[et]
            assert (got.n_buckets, got.smooth_cents, got.trend_cents) == want


class TestSimhashStreamRestart:
    """Bucket state rides the checkpoint: a near-dup arriving AFTER a
    restart still pairs with a pre-restart document, and replayed
    doc_ids do not double-enter state."""

    def test_restart_keeps_bucket_state(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            simhash_neardup_stream,
        )

        src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
        schema = "doc_id BIGINT, text STRING, ingest_ts TIMESTAMP"
        base = (
            "the quick brown fox jumps over the lazy dog and then "
            "runs far away into the quiet green forest before dawn"
        )
        near = base.replace("quiet", "silent")  # small token change
        far = "completely different content about databases and streams"

        def _run_drain():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(src / "*"))
            )
            q = (
                simhash_neardup_stream(stream)
                .writeStream.format("parquet")
                .option("path", str(out))
                .option("checkpointLocation", str(ckpt))
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        spark.createDataFrame(
            [(1, base, _ts(0)), (2, far, _ts(1))], schema
        ).coalesce(1).write.parquet(str(src / "f1"))
        _run_drain()
        first = spark.read.parquet(str(out)).count()

        # the near-dup arrives only after the restart
        spark.createDataFrame(
            [(3, near, _ts(120))], schema
        ).coalesce(1).write.parquet(str(src / "f2"))
        _run_drain()
        rows = spark.read.parquet(str(out)).collect()
        pairs = {tuple(sorted((r.id_a, r.id_b))) for r in rows}
        if first == 0:
            # base/near must be within the hamming threshold for this
            # fixture to test anything
            assert (1, 3) in pairs, rows
        assert (1, 2) not in pairs and (2, 3) not in pairs


class TestStreamingAlertFor:
    """alert_for_stream: per-closed-bucket states must equal an
    independent pandas replay of the batch lifecycle (threshold 2,
    for 2 — the sparse sf0.001 fixture's densest runs)."""

    def test_stream_states_match_pandas_lifecycle(self, spark, tmp_path):
        import datetime as dt

        import pandas as pd

        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            alert_for_stream,
        )

        sf = "/root/testdata/sf0.001"
        ev = spark.read.parquet(f"{sf}/events.parquet").select(
            "ts", "event_type"
        )
        rows = ev.collect()

        # independent lifecycle replay (threshold 2, for 3)
        pdf = pd.DataFrame(
            [(r.event_type, r.ts) for r in rows], columns=["et", "ts"]
        )
        pdf["h"] = pdf["ts"].dt.floor("h")
        counts = pdf.groupby(["et", "h"]).size()
        want = {}
        for et, g in counts.groupby(level=0):
            streak = 0
            prev_h = None
            for (_, h), n in g.sort_index().items():
                if prev_h is not None and h > prev_h + pd.Timedelta(hours=1):
                    streak = 0  # calendar gap resets
                if n < 2:
                    streak = 0
                    st = "inactive"
                else:
                    streak += 1
                    st = "firing" if streak >= 2 else "pending"
                want[(et, h.to_pydatetime())] = (int(n), st)
                prev_h = h
        assert any(s == "firing" for _, s in want.values())
        assert any(s == "pending" for _, s in want.values())
        assert any(s == "inactive" for _, s in want.values())

        max_ts = max(r.ts for r in rows)
        sentinel_ts = (max_ts + dt.timedelta(hours=2)).replace(
            minute=0, second=0, microsecond=0
        )
        types = sorted({r.event_type for r in rows})
        src, out, ckpt = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
        schema = "ts TIMESTAMP, event_type STRING"
        half = len(rows) // 2
        spark.createDataFrame(
            [(r.ts, r.event_type) for r in rows[:half]], schema
        ).coalesce(1).write.parquet(str(src / "f0"))
        spark.createDataFrame(
            [(r.ts, r.event_type) for r in rows[half:]]
            + [(sentinel_ts, t) for t in types],
            schema,
        ).coalesce(1).write.parquet(str(src / "f1"))

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )
        q = (
            alert_for_stream(stream, threshold=2, for_buckets=2)
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r.event_type, r.bucket_ts): (r.n_events, r.state)
            for r in spark.read.parquet(str(out)).collect()
        }
        # every real bucket closed (the sentinel stays open and is
        # absent from the pandas expectation keys)
        assert got == want


class TestStddevStateStream:
    """Continuous exact-integer moment state (round-5
    events_stddev_over_time twin): closed windows must carry the SAME
    (n, sum_cents, var_num) integers the batch fold computes, and the
    state must merge losslessly to coarser grains."""

    def test_stream_state_matches_batch(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            stddev_state_stream,
        )

        base = _NOW.replace(second=0, minute=0) - dt.timedelta(hours=3)
        rows = []
        for s in range(30):
            r = list(_gauge_row(100 + s, 0, float(s) + 0.25 * (s % 3)))
            r[4] = base + dt.timedelta(seconds=2 * s)
            rows.append(tuple(r))
        drv = list(_gauge_row(999, 0, 1.0))
        drv[4] = base + dt.timedelta(seconds=7200)
        rows.append(tuple(drv))

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(
            str(src / "b0")
        )
        out, ck = str(tmp_path / "sd_out"), str(tmp_path / "sd_ck")
        stream = stddev_state_stream(
            spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(str(src / "*")),
            grain="1 minute",
            key_cols=("metric",),
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        cutoff = base + dt.timedelta(seconds=3000)
        got = {
            (r.bucket_ts, r.metric): (r.n_samples, r.sum_cents, r.var_num)
            for r in spark.read.parquet(out)
            .where(F.col("bucket_ts") < cutoff)
            .collect()
        }
        batch = spark.createDataFrame(rows, METRICS_RAW_SCHEMA)
        c = F.round(F.col("value") * 100).cast("bigint")
        want = {
            (r.bucket_ts, r.metric): (r.n_samples, r.sum_cents, r.var_num)
            for r in batch.groupBy(
                F.window("timestamp", "1 minute").alias("w"), "metric"
            )
            .agg(
                F.count(F.lit(1)).alias("n_samples"),
                F.sum(c).alias("sum_cents"),
                F.sum(c * c).alias("sumsq_cents"),
            )
            .select(
                F.col("w.start").alias("bucket_ts"),
                "metric",
                "n_samples",
                "sum_cents",
                (
                    F.col("n_samples") * F.col("sumsq_cents")
                    - F.col("sum_cents") * F.col("sum_cents")
                ).alias("var_num"),
            )
            .where(F.col("bucket_ts") < cutoff)
            .collect()
        }
        assert got == want and got
        # lossless merge to the hour grain: recompute var_num from the
        # merged counters == direct hour-grain fold
        emitted = spark.read.parquet(out).where(F.col("bucket_ts") < cutoff)
        merged = (
            emitted.select(
                "metric",
                "n_samples",
                "sum_cents",
                # recover sumsq from (n, sum, var_num)
                (
                    (F.col("var_num") + F.col("sum_cents") * F.col("sum_cents"))
                    / F.col("n_samples")
                )
                .cast("bigint")
                .alias("sumsq_cents"),
            )
            .groupBy("metric")
            .agg(
                F.sum("n_samples").alias("n"),
                F.sum("sum_cents").alias("s"),
                F.sum("sumsq_cents").alias("ss"),
            )
            .select(
                "metric",
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias(
                    "var_num"
                ),
            )
            .collect()
        )
        direct = (
            batch.where(F.col("timestamp") < cutoff)
            .groupBy("metric")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(c).alias("s"),
                F.sum(c * c).alias("ss"),
            )
            .select(
                "metric",
                (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).alias(
                    "var_num"
                ),
            )
            .collect()
        )
        assert {r.metric: r.var_num for r in merged} == {
            r.metric: r.var_num for r in direct
        }


class TestRecordingRulesStream:
    """Continuous recording rules: closed windows must carry the same
    long-format rows the batch engine (plans/rules.py) computes for
    the per-type rule subset; window-relative rules are rejected with
    the documented second-stage guidance."""

    def test_stream_rules_match_batch_engine(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.plans.rules import (
            Rule,
            evaluate_rules,
        )
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            recording_rules_stream,
        )

        rules = [
            Rule("r:count_1h", "count"),
            Rule("r:sum_cents_1h", "sum_cents"),
            Rule("r:avg_scaled_1h", "avg_scaled"),
        ]
        base = _NOW.replace(second=0, minute=0) - dt.timedelta(hours=4)
        rows = []
        for s in range(25):
            r = list(_gauge_row(100 + s, 0, float(s) + 0.5))
            r[4] = base + dt.timedelta(minutes=2 * s)
            rows.append(tuple(r))
        drv = list(_gauge_row(999, 0, 1.0))
        drv[4] = base + dt.timedelta(hours=3)
        rows.append(tuple(drv))

        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(rows, METRICS_RAW_SCHEMA).coalesce(1).write.parquet(
            str(src / "b0")
        )
        out, ck = str(tmp_path / "rr_out"), str(tmp_path / "rr_ck")
        stream = recording_rules_stream(
            spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(str(src / "*")),
            rules,
        )
        q = (
            stream.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(120)
        q.stop()

        cutoff = base + dt.timedelta(hours=2)
        got = sorted(
            map(
                tuple,
                spark.read.parquet(out)
                .where(F.col("bucket_ts") < cutoff)
                .select("record", "event_type", "bucket_ts", "value")
                .collect(),
            )
        )
        batch = spark.createDataFrame(rows, METRICS_RAW_SCHEMA)
        want = sorted(
            map(
                tuple,
                evaluate_rules(
                    batch, rules, type_col="metric", ts_col="timestamp"
                )
                .where(F.col("bucket_ts") < cutoff)
                .collect(),
            )
        )
        assert got == want and got

    def test_window_relative_rules_rejected(self, spark, tmp_path):
        from clickhouse_metrics_pipeline_spark.plans.rules import Rule
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            recording_rules_stream,
        )

        stream = spark.readStream.schema(METRICS_RAW_SCHEMA).parquet(
            str(tmp_path)
        )
        with pytest.raises(ValueError, match="second stage"):
            recording_rules_stream(stream, [Rule("bad", "share_ppm")])


class TestMultiChunkGroups:
    def test_delta_stream_series_spanning_arrow_chunks(self, spark, tmp_path):
        """End-to-end twin of tests/test_stream_chunks.py: force one
        series' single-micro-batch rows through MULTIPLE Arrow chunks
        (maxRecordsPerBatch=3) arriving in reverse-timeline order, and
        assert the emitted deltas still match the sorted-timeline lag
        form — the r7 verdict's cross-chunk ordering hazard, pinned on
        the real applyInPandasWithState path."""
        from clickhouse_metrics_pipeline_spark.streaming.pipeline import (
            _OUTPUT_SCHEMA,
            delta_convert_stream,
        )

        src, out, ckpt = (
            str(tmp_path / "src"),
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
        )
        # one series, 14 cumulative points with a mid-timeline reset;
        # rows written in REVERSE timestamp order so each 3-row Arrow
        # chunk covers a later timeline slice than the next chunk
        cum = [100, 150, 200, 260, 20, 70, 90, 140, 150, 200, 210, 260, 300, 330]
        expect = []
        for i, v in enumerate(cum):
            if i == 0 or v < cum[i - 1]:
                expect.append(float(v))
            else:
                expect.append(float(v - cum[i - 1]))
        rows = [
            (
                7, _ts(i + 1), "requests_total", "w1", "svc", 2, 1, True,
                float(v), None, None, None, None, {}, None,
            )
            for i, v in enumerate(cum)
        ][::-1]
        spark.createDataFrame(rows, _OUTPUT_SCHEMA).coalesce(1).write.parquet(src)

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        try:
            stream = spark.readStream.schema(_OUTPUT_SCHEMA).parquet(src)
            q = (
                delta_convert_stream(stream, state_ttl=False)
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .format("parquet")
                .start(out)
            )
            assert q.awaitTermination(120)
            q.stop()
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old
            )

        got = (
            spark.read.parquet(out)
            .orderBy("timestamp")
            .select("value", "temporality")
            .collect()
        )
        assert [r["value"] for r in got] == expect
        assert {r["temporality"] for r in got} == {2}  # TEMPORALITY_DELTA
