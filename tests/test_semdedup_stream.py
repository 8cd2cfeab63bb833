"""Streaming SemDeDup maintainer (streaming/semdedup_stream.py):
EXACT batch≡stream equality against the REGISTERED one-shot semdedup
and d4_selection queries (same trained quantizer, same tau), replay
no-ops, and append-granular commit accounting."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.clustering import kmeans_train
from kafka_streams_dexcom_spark.queries.dedup import (
    SEMDEDUP_TAU,
    q_d4_selection,
    q_semdedup,
)
from kafka_streams_dexcom_spark.queries.similarity import (
    KMEANS_ITERS,
    KMEANS_K,
    kmeans_cells_map,
)
from kafka_streams_dexcom_spark.sources.files import load_table
from kafka_streams_dexcom_spark.streaming.semdedup_stream import (
    SemClusterMaintainer,
)
from tests.conftest import SF_DIR


def _trained_quantizer(spark):
    cents, assigned = kmeans_train(
        load_table(spark, SF_DIR, "embeddings"),
        k=KMEANS_K,
        iterations=KMEANS_ITERS,
    )
    return cents.localCheckpoint(), assigned


def _stream_embeddings(spark, tmp_path, cents, chunks=3, lineage="q1"):
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "in")
    e.withColumn("chunk", F.col("vec_id") % chunks).write.partitionBy(
        "chunk"
    ).mode("overwrite").parquet(src)
    m = SemClusterMaintainer(
        spark,
        str(tmp_path / "sem"),
        cents,
        lineage_id=lineage,
        tau=SEMDEDUP_TAU,
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/chunk=*")
    )
    q = (
        stream.writeStream.foreachBatch(m)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return m


def test_stream_equals_registered_semdedup_and_d4(spark, tmp_path):
    """The strongest claim: streamed state replayed through the views
    equals the REGISTERED q_semdedup / q_d4_selection outputs row for
    row — same quantizer, same tau, any batch split."""
    cents, assigned = _trained_quantizer(spark)
    # the frozen-centroids invariant kmeans_train documents: the
    # registry's cells artifact is reproducible by re-assignment
    want_cells = {
        (r.vec_id, r.cell) for r in kmeans_cells_map(spark, SF_DIR).collect()
    }
    assert {(r.vec_id, r.cell) for r in assigned.collect()} == want_cells

    m = _stream_embeddings(spark, tmp_path, cents)
    got_member = {
        (r.vec_id, r.cell, r.sem_cluster) for r in m.membership().collect()
    }
    assert {
        (r.vec_id, r.cell) for r in m.vectors().select("vec_id", "cell").collect()
    } == want_cells

    want_view = {
        (r.vec_id, r.cell, r.sem_cluster, r.keep)
        for r in q_semdedup(spark, SF_DIR).collect()
    }
    got_view = {
        (r.vec_id, r.cell, r.sem_cluster, r.keep)
        for r in m.semdedup_view().collect()
    }
    assert got_view == want_view
    assert got_member == {
        (v, c, s) for v, c, s, _k in want_view
    }
    # real clusters formed (not the all-singletons degenerate case)
    assert any(k == 0 for _v, _c, _s, k in got_view)

    want_d4 = {
        tuple(r) for r in q_d4_selection(spark, SF_DIR).collect()
    }
    got_d4 = {tuple(r) for r in m.d4_view().collect()}
    assert got_d4 == want_d4
    assert any(r[5] == 0 for r in got_d4), "degenerate: D4 prunes nothing"


def _planted_hot_cell(spark, tmp_path, sub, max_cell_probe):
    """One centroid (everything lands in cell 0); stored batch at
    angles 0/20/40/60 degrees (pairwise cosine <= cos20 ~ 0.94, below
    tau=0.99 — all singletons); probe batch id 100 EQUAL to id 4's
    direction (cosine 1.0). With cap=3 the probe set is the lowest-id
    representatives {1,2,3} and the (4,100) edge is out of reach; with
    a non-binding cap it is found."""
    import math

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0])], "cid int, cvec array<double>"
    )
    ang = lambda d: [math.cos(math.radians(d)), math.sin(math.radians(d))]  # noqa: E731
    m = SemClusterMaintainer(
        spark,
        str(tmp_path / sub),
        cents,
        tau=0.99,
        max_cell_probe=max_cell_probe,
    )
    stored = spark.createDataFrame(
        [(i + 1, ang(20 * i)) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    probe = spark.createDataFrame(
        [(100, ang(60))], "vec_id long, embedding array<double>"
    )
    m(stored, 1)
    m(probe, 2)
    return {
        (r.vec_id, r.sem_cluster) for r in m.membership().collect()
    }


def test_hot_cell_probe_cap_bounds_fold(spark, tmp_path):
    """The stored-side probe cap (SEM_MAX_CELL_PROBE's knob) bounds a
    hot cell's per-batch fold: with cap=3 only representatives {1,2,3}
    are probed, so the edge to non-representative id 4 is deliberately
    out of reach (bounded-cost/degraded-recall, the LSH_MAX_BUCKET
    trade); with any non-binding cap the fold is exact and equals the
    uncapped maintainer."""
    capped = _planted_hot_cell(spark, tmp_path, "capped", 3)
    assert (100, 100) in capped  # singleton: (4,100) edge not probed
    assert (4, 4) in capped

    loose = _planted_hot_cell(spark, tmp_path, "loose", 10)
    uncapped = _planted_hot_cell(spark, tmp_path, "uncapped", None)
    assert loose == uncapped  # non-binding cap: exact
    assert (100, 4) in uncapped and (4, 4) in uncapped
    # and everything else stayed singleton in all three runs
    for got in (capped, loose, uncapped):
        assert {(1, 1), (2, 2), (3, 3)} <= got


def test_replay_is_noop_and_commits_are_append_granular(spark, tmp_path):
    cents, _ = _trained_quantizer(spark)
    m = _stream_embeddings(spark, tmp_path, cents)
    t = m.table
    assert t.latest_version() == 2
    for v in range(3):
        assert "files" in t.read_manifest(v)
    # per-version increments sum to the whole stored table
    n_total = m.vectors().count()
    n_v0 = m.vectors(version=0).count()
    assert 0 < n_v0 < n_total
    # replayed batch: no-op
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    m(e.limit(10), 1)
    assert t.latest_version() == 2
    assert m.vectors().count() == n_total
    # commit leg is metadata-only: never slower than a second even on
    # this cold local FS, and far below the stage leg's Spark jobs
    assert all(tm["commit_sec"] < 1.0 for tm in m.timings)
    # pure append: vacuum collects nothing until compaction
    assert t.vacuum(keep_last=1, grace_seconds=0) == []
    before = {
        (r.vec_id, r.cell, r.sem_cluster) for r in m.membership().collect()
    }
    assert m.compact() == 3
    assert {
        (r.vec_id, r.cell, r.sem_cluster) for r in m.membership().collect()
    } == before
