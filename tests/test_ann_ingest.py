"""Streaming IVF postings maintainer (streaming/ann_ingest.py): exact
batch≡stream assignment equality against the frozen quantizer, commit-
log versioning with replay/lineage guards, and cell-count consistency."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.clustering import (
    assign_to_centroids,
)
from kafka_streams_dexcom_spark.operators.dedup import with_embedding_norm
from kafka_streams_dexcom_spark.operators.similarity import ivf_centroids
from kafka_streams_dexcom_spark.sources.files import load_table
from kafka_streams_dexcom_spark.streaming.ann_ingest import (
    IvfPostingsMaintainer,
)
from tests.conftest import SF_DIR


def _frozen_centroids(spark):
    """A frozen quantizer from the embeddings' label column — the
    maintainer never trains, it only assigns."""
    e = load_table(spark, SF_DIR, "embeddings")
    base = with_embedding_norm(
        e.select("vec_id", "embedding", "label"), "embedding"
    )
    cents = ivf_centroids(
        base.select(F.col("vec_id").alias("vid"), "vec", "label"), "label"
    ).select(F.col("label").alias("cid"), F.col("centroid").alias("cvec"))
    return e, cents


def _stream_embeddings(spark, tmp_path, centroids, chunks=3, lineage="q1"):
    e = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    src = str(tmp_path / "in")
    e.withColumn("chunk", F.col("vec_id") % chunks).write.partitionBy(
        "chunk"
    ).mode("overwrite").parquet(src)
    m = IvfPostingsMaintainer(
        spark, str(tmp_path / "index"), centroids, lineage_id=lineage
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
    return m, e


def test_stream_equals_one_shot_assignment(spark, tmp_path):
    e, cents = _frozen_centroids(spark)
    m, _ = _stream_embeddings(spark, tmp_path, cents)
    got = {(r.vec_id, r.cell) for r in m.postings().collect()}
    base = with_embedding_norm(
        e.select("vec_id", "embedding"), "embedding"
    ).select(F.col("vec_id").alias("vid"), "vec")
    want = {
        (r.vid, r.cid)
        for r in assign_to_centroids(base, m.centroids).collect()
    }
    assert got == want
    assert got, "degenerate test: no vectors assigned"


def test_versions_accumulate_per_batch(spark, tmp_path):
    _, cents = _frozen_centroids(spark)
    m, _ = _stream_embeddings(spark, tmp_path, cents, chunks=3)
    assert m.table.latest_version() == 2  # one commit per micro-batch
    n0 = m.postings(version=0).count()
    n2 = m.postings(version=2).count()
    assert 0 < n0 < n2
    meta = m.table.read_manifest(2)["meta"]
    assert meta["lineage"] == "q1" and meta["applied"] == {"q1": 2}


def test_replayed_batch_is_noop(spark, tmp_path):
    _, cents = _frozen_centroids(spark)
    m, e = _stream_embeddings(spark, tmp_path, cents)
    v = m.table.latest_version()
    n = m.postings().count()
    replay = e.limit(10)
    m(replay, 0)  # batch 0 already applied
    assert m.table.latest_version() == v
    assert m.postings().count() == n


def test_new_lineage_on_existing_index_fails_loudly(spark, tmp_path):
    _, cents = _frozen_centroids(spark)
    m, e = _stream_embeddings(spark, tmp_path, cents, lineage="q1")
    fresh = IvfPostingsMaintainer(
        spark, str(tmp_path / "index"), cents, lineage_id="q2"
    )
    with pytest.raises(RuntimeError, match="lineage"):
        fresh(e.limit(5), 0)


def test_cell_counts_reconcile(spark, tmp_path):
    _, cents = _frozen_centroids(spark)
    m, _ = _stream_embeddings(spark, tmp_path, cents)
    total = sum(r.n_vectors for r in m.cell_counts().collect())
    assert total == m.postings().count()


def test_two_racing_writers_serialize_and_lose_nothing(spark, tmp_path):
    """Two maintainers race DISTINCT embedding batches into one index:
    the loser must rebase and re-merge (not crash, not silently drop) —
    the final postings equal the one-shot assignment of the union, and
    each writer's replay stays a no-op afterwards."""
    import threading

    e, cents = _frozen_centroids(spark)
    e0 = e.filter(F.col("vec_id") % 2 == 0).localCheckpoint()
    e1 = e.filter(F.col("vec_id") % 2 == 1).localCheckpoint()
    idx = str(tmp_path / "index")
    m_a = IvfPostingsMaintainer(spark, idx, cents, writer_id="a")
    m_b = IvfPostingsMaintainer(spark, idx, cents, writer_id="b")
    barrier = threading.Barrier(2)
    errors = []

    def run(m, batch, bid):
        try:
            barrier.wait()
            m(batch, bid)
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(m_a, e0, 0)),
        threading.Thread(target=run, args=(m_b, e1, 1)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert m_a.table.latest_version() == 1  # both landed, serialized
    got = {(r.vec_id, r.cell) for r in m_a.postings().collect()}
    base = with_embedding_norm(
        e.select("vec_id", "embedding"), "embedding"
    ).select(F.col("vec_id").alias("vid"), "vec")
    want = {
        (r.vid, r.cid)
        for r in assign_to_centroids(base, cents).collect()
    }
    assert got == want and got
    # per-writer replay guards hold after the race
    m_a(e0, 0)
    m_b(e1, 1)
    assert m_a.table.latest_version() == 1
    assert m_a.postings().count() == len(want)


def test_append_granular_commit_is_o_batch(spark, tmp_path):
    """Each commit's own data dir holds ONLY the batch increment — the
    manifest links prior files by reference (O(batch) commit cost), and
    under pure append vacuum correctly collects nothing."""
    import os

    _, cents = _frozen_centroids(spark)
    m, _ = _stream_embeddings(spark, tmp_path, cents, chunks=3)
    t = m.table
    total = m.postings().count()
    per_version_incr = []
    for v in range(3):
        manifest = t.read_manifest(v)
        assert "files" in manifest and "data_dir" not in manifest
        own_dir_files = [
            f for f in t.files(v)
            if f"v{v:08d}-" in os.path.basename(os.path.dirname(f))
        ]
        per_version_incr.append(
            spark.read.parquet(*own_dir_files).count()
        )
    assert sum(per_version_incr) == total
    assert all(n < total for n in per_version_incr)
    assert t.vacuum(keep_last=1, grace_seconds=0) == []


def test_compact_preserves_postings_and_frees_increments(spark, tmp_path):
    import os

    _, cents = _frozen_centroids(spark)
    m, _ = _stream_embeddings(spark, tmp_path, cents, chunks=3)
    before = {(r.vec_id, r.cell) for r in m.postings().collect()}
    meta_before = m._meta(m.table.latest_version())
    v = m.compact()
    assert v == 3
    assert {(r.vec_id, r.cell) for r in m.postings().collect()} == before
    # watermarks ride through compaction — a replayed batch is still a no-op
    assert m._meta(v) == meta_before
    # increments age out once past retention
    s = m.table.stage()
    m.postings().limit(0).write.mode("overwrite").parquet(s)
    m.table.commit_append(s, 3)
    removed = m.table.vacuum(keep_last=1, grace_seconds=0)
    assert len(removed) == 3
    assert {(r.vec_id, r.cell) for r in m.postings().collect()} == before


def test_legacy_batch_id_manifest_seeds_applied_watermark(spark, tmp_path):
    """ADVICE r7: a legacy single-counter manifest's batch_id must
    survive the format upgrade under the default writer key, so a
    replayed batch against an upgraded table stays a no-op."""
    import json
    import os

    _, cents = _frozen_centroids(spark)
    m, e = _stream_embeddings(spark, tmp_path, cents, chunks=3, lineage="q1")
    # rewrite the latest manifest into the legacy shape
    t = m.table
    v = t.latest_version()
    mp = t._manifest_path(v)
    with open(mp) as f:
        manifest = json.load(f)
    manifest["meta"] = {"batch_id": 2, "lineage": "q1"}
    os.unlink(mp)
    with open(mp, "w") as f:
        json.dump(manifest, f)
    n_before = m.postings().count()
    fresh = IvfPostingsMaintainer(
        spark, str(tmp_path / "index"), cents, lineage_id="q1"
    )
    assert fresh._applied(t.latest_version())["q1"] == 2
    # replay batch 1: must be a no-op, not a duplicate append
    batch = e.select("vec_id", "embedding").limit(50)
    fresh(batch, 1)
    assert m.postings().count() == n_before
    # a genuinely new batch still lands and folds the legacy watermark
    fresh(batch.withColumn("vec_id", F.col("vec_id") + 10_000_000), 3)
    assert m.postings().count() == n_before + 50
    assert fresh._applied(t.latest_version())["q1"] == 3
