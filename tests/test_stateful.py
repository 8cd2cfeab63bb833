"""Stateful streaming operator tests: state must carry ACROSS micro-batches
(debounce suppresses an alert whose predecessor was in an earlier batch),
and recovery from a checkpoint must not reprocess completed batches."""

from __future__ import annotations

import glob
import tempfile

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.streaming.sinks import IdempotentParquetSink
from kafka_streams_dexcom_spark.streaming.stateful import (
    debounced_alerts,
    debounced_alerts_batch_reference,
)

MIN = 60 * 1_000_000  # one minute in µs

# user 1: alerts at t=0 (250), t=5min suppressed (debounce 10min), t=12min
# fires again; user 2: below threshold, never alerts.
ROWS = [
    (1, 0 * MIN, 250.0),
    (1, 5 * MIN, 260.0),
    (1, 12 * MIN, 270.0),
    (2, 0 * MIN, 100.0),
    (2, 6 * MIN, 150.0),
]
SCHEMA = "user_id long, ts_us long, value double"


def _run_stream_in_chunks(spark, rows, workdir, n_files: int):
    """One parquet file per micro-batch; state must bridge the files."""
    chunk = max(1, (len(rows) + n_files - 1) // n_files)
    for i in range(0, len(rows), chunk):
        spark.createDataFrame(rows[i : i + chunk], SCHEMA).coalesce(
            1
        ).write.mode("append").parquet(f"{workdir}/in")
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{workdir}/in")
    )
    collected = []
    q = (
        debounced_alerts(stream, threshold=200.0, debounce_s=600)
        .writeStream.foreachBatch(
            lambda df, bid: collected.extend(df.collect())
        )
        .outputMode("append")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted((r.user_id, r.ts_us, r.value) for r in collected)


def test_debounce_state_spans_micro_batches(spark):
    expected = sorted(debounced_alerts_batch_reference(ROWS))
    assert expected == [(1, 0, 250.0), (1, 12 * MIN, 270.0)]
    with tempfile.TemporaryDirectory() as d:
        # 5 rows over 5 files: the suppressed alert (t=5min) arrives in a
        # different micro-batch than the one that set last_alert (t=0) —
        # only persisted state can suppress it.
        got = _run_stream_in_chunks(spark, ROWS, d, n_files=5)
    assert got == expected


def test_checkpoint_recovery_no_reprocessing(spark):
    """Restarting from a checkpoint processes only NEW input files; with
    the idempotent sink the total output has no duplicates."""
    with tempfile.TemporaryDirectory() as d:
        sink = IdempotentParquetSink(f"{d}/out")
        batch1 = spark.createDataFrame(ROWS[:3], SCHEMA)
        batch1.coalesce(1).write.mode("append").parquet(f"{d}/in")

        def start():
            stream = spark.readStream.schema(SCHEMA).parquet(f"{d}/in")
            q = (
                stream.withColumn("doubled", F.col("value") * 2)
                .writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", f"{d}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        start()
        n1 = spark.read.parquet(f"{d}/out").count()
        assert n1 == 3
        # new data arrives; restart from the same checkpoint
        spark.createDataFrame(ROWS[3:], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(f"{d}/in")
        start()
        out = spark.read.parquet(f"{d}/out")
        assert out.count() == 5  # 3 old (not reprocessed/duplicated) + 2 new
        assert out.select("user_id", "ts_us").distinct().count() == 5


def test_debounce_on_rocksdb_state_store(spark):
    """The RocksDB state store provider (SCALE.md's state ≫ heap path)
    must produce identical debounce output. providerClass is read at
    query start, so a runtime conf flip on the shared session works."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        saved = spark.conf.get(key)
    except Exception:
        saved = None
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        expected = sorted(debounced_alerts_batch_reference(ROWS))
        with tempfile.TemporaryDirectory() as d:
            got = _run_stream_in_chunks(spark, ROWS, d, n_files=5)
        assert got == expected
    finally:
        if saved is not None:
            spark.conf.set(key, saved)
        else:
            spark.conf.unset(key)


def _await_stopped(spark, q, ckpt: str, timeout_s: float = 60.0) -> None:
    """Wait until ``q`` has ended, no task is running and nothing under
    ``ckpt`` has changed for half a second. Stopping a query interrupts
    its batch, and the batch's tasks abort their state stores after the
    stop returns. An abort hands its file creation to a checksum writer
    thread, which can still create a file under ``ckpt`` after the task
    has ended. Removing the checkpoint meanwhile fails with ``OSError``
    (directory not empty)."""
    import os
    import time

    def files():
        return sorted((root, sorted(names)) for root, _, names in os.walk(ckpt))

    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    deadline, settled = time.time() + timeout_s, None
    while time.time() < deadline:
        sc.listenerBus().waitUntilEmpty()
        running = sum(
            e.numRunningTasks() for e in sc.statusTracker().getExecutorInfos()
        )
        if q.isActive or running:
            settled = None
        else:
            now = files()
            if now == settled:
                return
            settled = now
        time.sleep(0.5)
    raise AssertionError(f"query active: {q.isActive}; tasks running: {running}")


def test_debounce_with_state_ttl_same_alerts(spark):
    """Enabling the production state-TTL knob (ProcessingTimeTimeout)
    must not change which alerts are emitted — expired state is
    equivalent to last=None, and these alerts all precede any expiry.
    Uses a continuous trigger with a manual stop: with processing-time
    timeouts the engine schedules batches to fire timers, so
    availableNow (which waits for quiescence) is the wrong trigger for
    a TTL'd query — that interaction is exactly why the TTL defaults to
    off for finite replays."""
    import time

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(ROWS, SCHEMA).coalesce(1).write.parquet(
            f"{d}/in"
        )
        stream = spark.readStream.schema(SCHEMA).parquet(f"{d}/in")
        collected = []
        q = (
            debounced_alerts(
                stream, threshold=200.0, debounce_s=600, state_ttl_s=1
            )
            .writeStream.foreachBatch(
                lambda df, bid: collected.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .start()
        )
        deadline = time.time() + 60
        expected = sorted(debounced_alerts_batch_reference(ROWS))
        while time.time() < deadline:
            if len(collected) >= len(expected):
                break
            time.sleep(1)
        try:
            q.stop()
            q.awaitTermination()
        except Exception:
            pass  # stopping a timer-busy query can raise engine-side
        _await_stopped(spark, q, f"{d}/ckpt")
    got = sorted((r.user_id, r.ts_us, r.value) for r in collected)
    assert got == expected
