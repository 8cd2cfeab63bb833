"""Streaming cluster-map maintenance (streaming/cluster_map_stream.py):
the daily-ingest clustering path as a live topology.

The load-bearing assertion is BATCH≡STREAM: streaming the corpus in
micro-batches through ClusterMapMaintainer must end with labels
IDENTICAL to one-shot minhash_lsh_dedup + connected_components over the
whole corpus (caps disabled). Plus replay idempotence and the
lineage-mismatch guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import dedup as dd
from kafka_streams_dexcom_spark.operators.graph import connected_components
from kafka_streams_dexcom_spark.sources.files import load_table
from kafka_streams_dexcom_spark.streaming.cluster_map_stream import (
    ClusterMapMaintainer,
)

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.2


def _stream_corpus(spark, tmp_path, chunks=3, lineage="q1"):
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    src = str(tmp_path / "in")
    # deterministic chunking by doc_id so the batch split is stable
    d.withColumn("chunk", F.col("doc_id") % chunks).write.partitionBy(
        "chunk"
    ).mode("overwrite").parquet(src)
    view = str(tmp_path / "view")
    m = ClusterMapMaintainer(
        spark, view, lineage_id=lineage, threshold=THRESHOLD
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
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
    return m, d


def test_stream_equals_one_shot_batch(spark, tmp_path):
    m, d = _stream_corpus(spark, tmp_path)
    got = {(r.node, r.component) for r in m.labels().collect()}

    # (the pipeline's LSH_MAX_BUCKET cap is far above any bucket at this
    # SF, so capped batch == uncapped streaming here)
    pairs = dd.minhash_lsh_dedup(d, threshold=THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == want
    assert got, "degenerate test: no near-dup pairs at this threshold"


def test_replayed_batch_is_noop(spark, tmp_path):
    m, d = _stream_corpus(spark, tmp_path)
    before = sorted((r.node, r.component) for r in m.labels().collect())
    last = m._applied(m.table.latest_version()).get(m.writer_id, -1)
    # simulate the at-least-once replay: re-apply an already-folded batch
    m(d.limit(5), last)
    after = sorted((r.node, r.component) for r in m.labels().collect())
    assert before == after


def test_new_lineage_on_existing_view_fails_loudly(spark, tmp_path):
    m, d = _stream_corpus(spark, tmp_path, lineage="q1")
    fresh = ClusterMapMaintainer(
        spark, m.path, lineage_id="q2", threshold=THRESHOLD
    )
    with pytest.raises(RuntimeError, match="lineage"):
        fresh(d.limit(5), 0)


def test_two_racing_maintainers_serialize_and_lose_nothing(spark, tmp_path):
    """Two maintainers race DISTINCT batches into one view. The commit
    log must serialize them — exactly one winner per version, the loser
    rebases and refolds — so the final labels equal the one-shot batch
    result over the union, and no batch's edges are lost (the failure
    mode of the old rename-swap publish)."""
    import threading

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    d0 = d.filter(F.col("doc_id") % 2 == 0).localCheckpoint()
    d1 = d.filter(F.col("doc_id") % 2 == 1).localCheckpoint()
    view = str(tmp_path / "view")
    # two writers of ONE logical lineage: distinct writer_ids give each
    # its own replay counter (batch ids restart per foreachBatch query)
    m_a = ClusterMapMaintainer(
        spark, view, threshold=THRESHOLD, writer_id="a"
    )
    m_b = ClusterMapMaintainer(
        spark, view, threshold=THRESHOLD, writer_id="b"
    )
    barrier = threading.Barrier(2)
    errors = []

    def run(m, batch, bid):
        try:
            barrier.wait()
            m(batch, bid)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=run, args=(m_a, d0, 0)),
        threading.Thread(target=run, args=(m_b, d1, 1)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # both commits landed (no lost update), serialized as v0 then v1
    assert m_a.table.latest_version() == 1
    got = {(r.node, r.component) for r in m_a.labels().collect()}
    pairs = dd.minhash_lsh_dedup(d, threshold=THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == want and got


def test_writers_do_not_share_replay_counters(spark, tmp_path):
    """Deterministic pin of the shared-high-water-mark bug: writer B
    commits its batch 1 FIRST; writer A's batch 0 must still fold (a
    shared counter would read 0 <= 1 and silently drop A's documents)."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    d0 = d.filter(F.col("doc_id") % 2 == 0)
    d1 = d.filter(F.col("doc_id") % 2 == 1)
    view = str(tmp_path / "view")
    m_a = ClusterMapMaintainer(
        spark, view, threshold=THRESHOLD, writer_id="a"
    )
    m_b = ClusterMapMaintainer(
        spark, view, threshold=THRESHOLD, writer_id="b"
    )
    m_b(d1, 1)
    m_a(d0, 0)
    got = {(r.node, r.component) for r in m_a.labels().collect()}
    pairs = dd.minhash_lsh_dedup(d, threshold=THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    assert got == want and got
    # replays of each writer's own batch stay no-ops
    before = sorted((r.node, r.component) for r in m_a.labels().collect())
    m_a(d0, 0)
    m_b(d1, 1)
    after = sorted((r.node, r.component) for r in m_a.labels().collect())
    assert before == after


def test_label_changelog_append_granular_and_compaction(spark, tmp_path):
    """The labels leg is a changelog (latest-per-node read); each commit
    dir holds only the batch's increment, and compact() folds all three
    legs into a snapshot with identical resolved content."""
    import os

    m, d = _stream_corpus(spark, tmp_path)
    t = m.table
    # every commit is an append manifest whose own dir holds only the
    # increment: the labels leg accumulates MORE rows than distinct
    # nodes exactly when some batch changed an earlier label
    for v in range(t.latest_version() + 1):
        assert "files" in t.read_manifest(v)
    log_rows = m._label_log(t.latest_version()).count()
    resolved = {(r.node, r.component) for r in m.labels().collect()}
    assert log_rows >= len(resolved)
    bands_before = m._bands(t.latest_version()).count()
    sets_before = m._sets(t.latest_version()).count()
    # under pure append nothing is collectable
    assert t.vacuum(keep_last=1, grace_seconds=0) == []
    # compaction preserves all three legs' content byte-for-byte
    meta_before = t.read_manifest(t.latest_version()).get("meta", {})
    v = m.compact()
    assert v == t.latest_version()
    assert {(r.node, r.component) for r in m.labels().collect()} == resolved
    assert m._label_log(v).count() == len(resolved)  # log folded
    assert m._bands(v).count() == bands_before
    assert m._sets(v).count() == sets_before
    assert t.read_manifest(v).get("meta", {}) == meta_before
    # replay is still a no-op after compaction
    n = m._label_log(v).count()
    m(d.limit(5), 0)
    assert m._label_log(t.latest_version()).count() == n
    # old increment dirs age out of retention after one more commit
    m(d.limit(0), 99)
    removed = t.vacuum(keep_last=1, grace_seconds=0)
    assert removed, "pre-compaction increments should be collectable"
    assert {(r.node, r.component) for r in m.labels().collect()} == resolved
