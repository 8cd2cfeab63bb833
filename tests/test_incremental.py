"""Incremental materialized aggregate, compaction, and schema-evolution
reads."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.streaming.incremental import (
    IncrementalCounts,
)


def _rows(view) -> dict:
    return {
        r[view.key_col]: (r.n_events, r.sum_value)
        for r in view.read().collect()
    }


def test_incremental_counts_across_batches(spark):
    with tempfile.TemporaryDirectory() as d:
        view = IncrementalCounts(spark, f"{d}/view", "user_id")
        b1 = spark.createDataFrame(
            [(1, 10.0), (1, 20.0), (2, 5.0)], "user_id long, value double"
        )
        b2 = spark.createDataFrame(
            [(1, 1.0), (3, 7.0)], "user_id long, value double"
        )
        view(b1, 0)
        view(b2, 1)
        got = {
            r.user_id: (r.n_events, r.sum_value)
            for r in view.read().collect()
        }
        assert got == {1: (3, 31.0), 2: (1, 5.0), 3: (1, 7.0)}


def test_incremental_equals_full_recompute(spark, sf_dir):
    from kafka_streams_dexcom_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    full = {
        r.user_id: (r.n_events, r.sum_value)
        for r in e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .collect()
    }
    with tempfile.TemporaryDirectory() as d:
        view = IncrementalCounts(spark, f"{d}/view", "user_id")
        rows = e.collect()
        third = len(rows) // 3 + 1
        for i, start in enumerate(range(0, len(rows), third)):
            view(
                spark.createDataFrame(rows[start : start + third], e.schema),
                i,
            )
        inc = _rows(view)
    assert inc == full


def test_incremental_sum_is_exact_across_batches(spark, tmp_path):
    """The sum stays decimal across batches and is cast to double once
    at read — 0.1 + 0.2 reads as the full recompute's 0.3, not
    0.30000000000000004."""
    view = IncrementalCounts(spark, f"{tmp_path}/view", "user_id")
    for i, v in enumerate((0.1, 0.2)):
        view(spark.createDataFrame([(1, v)], "user_id long, value double"), i)
    assert _rows(view) == {1: (2, 0.3)}
    assert view.read().dtypes == [
        ("user_id", "bigint"),
        ("n_events", "bigint"),
        ("sum_value", "double"),
    ]


def test_compact_small_files(spark, tmp_path):
    """compact() folds the per-batch increments into fewer files; the
    view reads the same and the replay watermark carries over."""
    view = IncrementalCounts(spark, f"{tmp_path}/view", "user_id")
    batches = [
        spark.createDataFrame(
            [(i % 3, 1.5 * i), (7, 0.25)], "user_id long, value double"
        )
        for i in range(4)
    ]
    for i, b in enumerate(batches):
        view(b, i)
    before = _rows(view)
    n_files = len(view.table.files())
    assert view.compact() == len(batches)
    assert len(view.table.files()) < n_files
    assert _rows(view) == before
    view(batches[-1], len(batches) - 1)  # replay: still a no-op
    assert _rows(view) == before


def test_schema_evolution_merge_read(spark):
    """New columns appearing in later files read seamlessly with
    mergeSchema — the forward-compatible ingestion contract."""
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame([(1, "a")], "id long, x string").write.parquet(
            f"{d}/t/p1"
        )
        spark.createDataFrame(
            [(2, "b", 9.5)], "id long, x string, score double"
        ).write.parquet(f"{d}/t/p2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{d}/t/p1", f"{d}/t/p2"
        )
        rows = {r.id: (r.x, r.score) for r in merged.collect()}
        assert rows == {1: ("a", None), 2: ("b", 9.5)}


class _RacedCounts(IncrementalCounts):
    """A writer whose first staging loses to ``rival_commit()``, run
    mid-stage on the same base — the two-writer race, made
    deterministic."""

    def __init__(self, spark, path, writer_id, rival_commit):
        super().__init__(spark, path, "user_id", lineage_id="L")
        self.writer_id = writer_id
        self.rival_commit = rival_commit
        self.stagings = 0

    def _stage(self, batch_df, base):
        self.stagings += 1
        if self.rival_commit is not None:
            self.rival_commit()
            self.rival_commit = None
        return super()._stage(batch_df, base)


def test_two_writer_race_equals_sequential_fold(spark, tmp_path):
    """Two writers of one lineage race a commit: the loser re-links its
    staged increment onto the winner's version, and the view equals
    the sequential fold of every batch — nothing vanishes."""
    schema = "user_id long, value double"
    a = [
        spark.createDataFrame([(1, 0.1), (2, 5.0)], schema),
        spark.createDataFrame([(1, 0.2)], schema),
    ]
    b = [
        spark.createDataFrame([(1, 0.7), (3, 1.0)], schema),
        spark.createDataFrame([(2, 2.5)], schema),
    ]
    path = f"{tmp_path}/view"
    writer_b = IncrementalCounts(spark, path, "user_id", lineage_id="L")
    writer_b.writer_id = "b"
    writer_a = _RacedCounts(spark, path, "a", lambda: writer_b(b[0], 0))
    writer_a(a[0], 0)  # loses to b's batch 0, then commits on top
    writer_b(b[1], 1)
    writer_a(a[1], 1)
    assert writer_a.stagings == 2  # one per batch: the race re-linked
    assert writer_a._applied(writer_a.table.latest_version()) == {
        "a": 1,
        "b": 1,
    }

    sequential = IncrementalCounts(spark, f"{tmp_path}/seq", "user_id")
    for i, df in enumerate([a[0], b[0], b[1], a[1]]):
        sequential(df, i)
    assert _rows(writer_a) == _rows(sequential)
    assert _rows(writer_a)[1] == (3, 1.0)


def test_crash_between_stage_and_commit_replays_once(spark, tmp_path):
    """A crash after the increment is staged but before its manifest
    commits leaves read() unchanged; the replayed batch applies once."""
    import pytest

    path = f"{tmp_path}/view"
    schema = "user_id long, value double"
    b0 = spark.createDataFrame([(1, 10.0)], schema)
    b1 = spark.createDataFrame([(1, 1.0), (2, 2.0)], schema)
    view = IncrementalCounts(spark, path, "user_id", lineage_id="ck")
    view(b0, 0)
    before = _rows(view)

    def crash(staged, *args, **kwargs):
        assert any(
            f.endswith(".parquet") for _, _, fs in os.walk(staged) for f in fs
        )
        raise RuntimeError("injected crash before commit")

    view.table._commit = crash
    with pytest.raises(RuntimeError, match="injected crash"):
        view(b1, 1)
    restarted = IncrementalCounts(spark, path, "user_id", lineage_id="ck")
    assert _rows(restarted) == before
    restarted(b1, 1)  # the replay after restart
    restarted(b1, 1)  # and a second delivery: a no-op
    assert _rows(restarted) == {1: (2, 11.0), 2: (1, 2.0)}


def test_incremental_replay_is_idempotent(spark):
    """foreachBatch is at-least-once: a crash between view publish and
    checkpoint commit replays the last micro-batch. The view records the
    applied batch_id and must skip the replay, or every key in that
    batch double-counts."""
    with tempfile.TemporaryDirectory() as d:
        view = IncrementalCounts(spark, f"{d}/view", "user_id")
        b1 = spark.createDataFrame(
            [(1, 10.0), (2, 5.0)], "user_id long, value double"
        )
        view(b1, 0)
        view(b1, 0)  # replayed batch: must be a no-op
        b2 = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
        view(b2, 1)
        view(b2, 1)  # and again for a later batch
        got = {
            r.user_id: (r.n_events, r.sum_value)
            for r in view.read().collect()
        }
        assert got == {1: (2, 11.0), 2: (1, 5.0)}


def test_incremental_string_keyed_view(spark):
    """The empty bootstrap frame derives the key TYPE from the batch —
    a string-keyed view must not be forced through a long-typed merge."""
    with tempfile.TemporaryDirectory() as d:
        view = IncrementalCounts(spark, f"{d}/view", "status")
        b = spark.createDataFrame(
            [("ok", 1.0), ("ok", 2.0), ("err", 5.0)],
            "status string, value double",
        )
        view(b, 0)
        got = {
            r.status: (r.n_events, r.sum_value)
            for r in view.read().collect()
        }
        assert got == {"ok": (2, 3.0), "err": (1, 5.0)}


def test_fresh_view_read_returns_empty_dataframe(spark, tmp_path):
    """read() always returns a DataFrame: collect() on a fresh view is an
    empty result, never an AttributeError (r3 ADVICE contract fix)."""
    view = IncrementalCounts(spark, f"{tmp_path}/view", "user_id")
    assert view.read().collect() == []


def test_lineage_mismatch_fails_loudly(spark, tmp_path):
    """A NEW streaming query (fresh checkpoint, batch ids restarting at 0)
    pointed at an EXISTING view directory must error, not silently drop
    its early batches through the replay guard (r3 ADVICE item)."""
    import pytest

    path = f"{tmp_path}/view"
    b = spark.createDataFrame([(1, 10.0)], "user_id long, value double")
    view_a = IncrementalCounts(spark, path, "user_id", lineage_id="ckpt-a")
    view_a(b, 0)
    view_a(b, 1)

    # same lineage resumes fine (replay of batch 1 skipped, batch 2 applied)
    view_a2 = IncrementalCounts(spark, path, "user_id", lineage_id="ckpt-a")
    view_a2(b, 1)
    view_a2(b, 2)
    got = {r.user_id: r.n_events for r in view_a2.read().collect()}
    assert got == {1: 3}

    # a different lineage restarting at batch 0 is rejected
    view_b = IncrementalCounts(spark, path, "user_id", lineage_id="ckpt-b")
    with pytest.raises(ValueError, match="lineage"):
        view_b(b, 0)


def test_legacy_marker_requires_explicit_adoption(spark, tmp_path):
    """A pre-lineage marker is ambiguous: binding a lineage to it must
    fail loudly, and adopt_legacy() is the explicit upgrade path
    (review finding r4)."""
    import pytest

    path = f"{tmp_path}/view"
    b = spark.createDataFrame([(1, 10.0)], "user_id long, value double")
    legacy = IncrementalCounts(spark, path, "user_id")  # no lineage
    legacy(b, 0)
    upgraded = IncrementalCounts(spark, path, "user_id", lineage_id="ck-a")
    with pytest.raises(ValueError, match="legacy"):
        upgraded(b, 1)
    upgraded.adopt_legacy()
    upgraded(b, 1)  # now resumes cleanly
    got = {r.user_id: r.n_events for r in upgraded.read().collect()}
    assert got == {1: 2}
