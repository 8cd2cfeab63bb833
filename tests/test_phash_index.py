"""Streaming perceptual-dup index (streaming/phash_index.py): EXACT
batch≡stream equality against the one-shot banded-pair + CC election
(the q_phash_survivors per-modality arithmetic), cross-batch pair
discovery, replay no-ops, crash/restart resume, and the lineage
guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import multimodal as mm
from kafka_streams_dexcom_spark.streaming.phash_index import (
    PhashIndexMaintainer,
)

_FP_SCHEMA = "doc_id long, b0 long, b1 long, b2 long, b3 long"


def _planted_fp(spark, n_groups=6):
    """Synthetic fingerprint corpus in the planted phash geometry:
    group g's docs 3g and 3g+1 share the exact fingerprint (the
    re-encode), 3g+2 differs by one low bit of b0 (the near-dup);
    groups are far apart (distinct high bits in every band)."""
    rows = []
    for g in range(n_groups):
        bands = [((g * 2654435761) >> (13 * i)) % 65536 for i in range(4)]
        for v in range(3):
            b = list(bands)
            if v == 2:
                b[0] ^= 1
            rows.append((3 * g + v, *b))
    return spark.createDataFrame(rows, _FP_SCHEMA)


def _batch_election(spark, fp):
    """The one-shot q_phash_survivors leg over a fingerprint frame:
    banded pairs -> exact CC -> min-id canonical, singletons self."""
    from kafka_streams_dexcom_spark.operators.graph import (
        connected_components,
    )
    from kafka_streams_dexcom_spark.queries.multimodal import _banded_pairs

    comp = connected_components(
        _banded_pairs(fp), a_col="id_a", b_col="id_b"
    )
    ids = fp.select("doc_id")
    return ids.join(comp, ids.doc_id == comp.node, "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("canonical_id"),
    )


def _feed(m, fp, splits):
    """Drive the maintainer as foreachBatch would: one call per split
    of the fingerprint frame (split k = doc_id % splits == k)."""
    for k in range(splits):
        m(fp.filter(F.col("doc_id") % splits == k), k)


def _survivors(m):
    return {
        r["doc_id"]: (r["canonical_id"], r["is_survivor"])
        for r in m.survivors_view().collect()
    }


def _expected(spark, fp):
    return {
        r["doc_id"]: (r["canonical_id"], r["doc_id"] == r["canonical_id"])
        for r in _batch_election(spark, fp).collect()
    }


def test_stream_equals_batch(spark, tmp_path):
    """Streaming the corpus in 3 batches (groups deliberately SPLIT
    across batches — every within-group pair is a cross-batch probe)
    yields exactly the one-shot election."""
    fp = _planted_fp(spark)
    m = PhashIndexMaintainer(spark, str(tmp_path / "idx"), lineage_id="q1")
    _feed(m, fp, 3)  # doc_id % 3 == variant: each batch is one variant
    assert _survivors(m) == _expected(spark, fp)
    # every full group elected its min id
    for g in range(6):
        assert _survivors(m)[3 * g] == (3 * g, True)
        assert _survivors(m)[3 * g + 1] == (3 * g, False)


def test_replay_is_noop(spark, tmp_path):
    fp = _planted_fp(spark)
    m = PhashIndexMaintainer(spark, str(tmp_path / "idx"), lineage_id="q1")
    _feed(m, fp, 2)
    v = m.table.latest_version()
    m(fp.filter(F.col("doc_id") % 2 == 0), 0)  # replayed batch 0
    m(fp.filter(F.col("doc_id") % 2 == 1), 1)  # replayed batch 1
    assert m.table.latest_version() == v  # no new commits
    assert _survivors(m) == _expected(spark, fp)


def test_restart_resumes(spark, tmp_path):
    """A new maintainer instance over the same table (the post-crash
    restart) continues from the committed state and converges to the
    one-shot election."""
    fp = _planted_fp(spark)
    path = str(tmp_path / "idx")
    m1 = PhashIndexMaintainer(spark, path, lineage_id="q1")
    m1(fp.filter(F.col("doc_id") % 3 == 0), 0)
    m2 = PhashIndexMaintainer(spark, path, lineage_id="q1")
    m2(fp.filter(F.col("doc_id") % 3 == 0), 0)  # replay across restart
    m2(fp.filter(F.col("doc_id") % 3 == 1), 1)
    m2(fp.filter(F.col("doc_id") % 3 == 2), 2)
    assert _survivors(m2) == _expected(spark, fp)


def test_lineage_guard(spark, tmp_path):
    fp = _planted_fp(spark)
    path = str(tmp_path / "idx")
    m1 = PhashIndexMaintainer(spark, path, lineage_id="q1")
    m1(fp.filter(F.col("doc_id") % 3 == 0), 0)
    m2 = PhashIndexMaintainer(spark, path, lineage_id="q2")
    with pytest.raises(RuntimeError, match="lineage"):
        m2(fp.filter(F.col("doc_id") % 3 == 1), 0)


def test_compact_preserves_view(spark, tmp_path):
    fp = _planted_fp(spark)
    m = PhashIndexMaintainer(spark, str(tmp_path / "idx"), lineage_id="q1")
    _feed(m, fp, 3)
    before = _survivors(m)
    assert m.compact() is not None
    assert _survivors(m) == before


@pytest.mark.parametrize(
    "modality",
    [n for n, f in mm.MEDIA_FAMILIES.items() if not f.oriented],
)
def test_real_fingerprints(spark, sf_dir, tmp_path, modality):
    """Integration: stream a family's REAL fingerprint artifact (codec
    decode -> dHash or contour) in two batches and match the registered
    q_phash_survivors leg of that modality."""
    from kafka_streams_dexcom_spark.queries.multimodal import (
        _fp_artifact,
        q_phash_survivors,
    )

    fp = _fp_artifact(spark, sf_dir, modality).select(
        "doc_id", "b0", "b1", "b2", "b3"
    )
    m = PhashIndexMaintainer(spark, str(tmp_path / "idx"), lineage_id="q1")
    _feed(m, fp, 2)
    got = _survivors(m)
    want = {
        r["doc_id"]: (r["canonical_id"], r["is_survivor"])
        for r in q_phash_survivors(spark, sf_dir)
        .filter(F.col("modality") == modality)
        .collect()
    }
    assert got == want
