"""Session-artifact layer guards: fingerprint failure modes, scalar
probe caching, the ngram pair artifact's hot-bucket cap-safety
fallback, and trained-PQ geometry validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import dedup as dd
from kafka_streams_dexcom_spark.operators.quantize import (
    pq_topk,
    pq_train_encode,
)
from kafka_streams_dexcom_spark.sources.files import (
    corpus_fingerprint,
    session_artifacts,
    session_value,
)


def test_corpus_fingerprint_raises_on_missing_path(tmp_path):
    # a constant empty-listing digest would silently disable stale-
    # artifact detection; missing paths must fail loudly instead
    with pytest.raises(FileNotFoundError):
        corpus_fingerprint(str(tmp_path / "nope.parquet"))


def test_corpus_fingerprint_raises_on_empty_dir(tmp_path):
    empty = tmp_path / "empty_table"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        corpus_fingerprint(str(empty))


def test_corpus_fingerprint_tracks_content(tmp_path):
    f = tmp_path / "t.parquet"
    f.write_bytes(b"aaa")
    fp1 = corpus_fingerprint(str(f))
    f.write_bytes(b"aaaa")  # size change -> new fingerprint
    assert corpus_fingerprint(str(f)) != fp1


def test_session_value_builds_once(spark):
    calls = []

    def build():
        calls.append(1)
        return 42

    k = ("test_session_value", "unique-key-xyz")
    assert session_value(spark, "t", k, build) == 42
    assert session_value(spark, "t", k, build) == 42
    assert len(calls) == 1


def test_session_artifacts_train_once_per_key(spark):
    """One ``train`` run publishes every leg; a repeat call is a cache
    hit for all of them; a changed key retrains."""
    calls = []

    def train():
        calls.append(1)
        return spark.range(2), spark.range(3)

    tags = ("t_leg_a", "t_leg_b")
    k = ("test_session_artifacts", "unique-key-xyz")
    a, b = session_artifacts(spark, tags, k, train)
    assert (a.count(), b.count(), len(calls)) == (2, 3, 1)
    a2, b2 = session_artifacts(spark, tags, k, train)
    assert a2 is a and b2 is b and len(calls) == 1
    a3, b3 = session_artifacts(spark, tags, (*k, "changed"), train)
    assert (a3.count(), b3.count(), len(calls)) == (2, 3, 2)


def _tiny_corpus(spark, tmp_path):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "a completely different document about spark shuffles"),
        (4, "a completely different document about spark shuffling"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "corpus")
    df.write.parquet(out + "/documents.parquet")
    return out


def test_ngram_pairs_map_falls_back_when_cap_binds(
    spark, tmp_path, monkeypatch
):
    """A bucket over NGRAM_MAX_BUCKET at the base threshold makes the
    shared artifact lossy for tighter thresholds — the probe must route
    every call to the direct per-threshold computation (with a warning)
    instead of serving the filtered artifact."""
    from kafka_streams_dexcom_spark.queries import dedup as qd

    sf_dir = _tiny_corpus(spark, tmp_path)
    # force the probe to see over-cap buckets on this 4-doc corpus
    monkeypatch.setattr(dd, "NGRAM_MAX_BUCKET", 1)
    with pytest.warns(UserWarning, match="lossy"):
        got = qd.ngram_pairs_map(spark, sf_dir, threshold=0.3)
    # the fallback is the direct computation (cap bound at def time in
    # ngram_jaccard_pairs' default, so it is NOT affected by the patch)
    exp = dd.ngram_jaccard_pairs(
        spark.read.parquet(sf_dir + "/documents.parquet"), threshold=0.3
    )
    assert sorted(
        (r.id_a, r.id_b) for r in got.collect()
    ) == sorted((r.id_a, r.id_b) for r in exp.collect())


def test_ngram_pairs_map_serves_artifact_when_cap_safe(spark, tmp_path):
    from kafka_streams_dexcom_spark.queries import dedup as qd

    sf_dir = _tiny_corpus(spark, tmp_path)
    got = qd.ngram_pairs_map(spark, sf_dir, threshold=0.3)
    exp = dd.ngram_jaccard_pairs(
        spark.read.parquet(sf_dir + "/documents.parquet"), threshold=0.3
    )
    assert sorted(
        (r.id_a, r.id_b) for r in got.collect()
    ) == sorted((r.id_a, r.id_b) for r in exp.collect())


def _emb(spark, n=20, dim=8):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_pq_trained_geometry_mismatch_raises(spark):
    emb = _emb(spark, n=20, dim=8)
    trained = pq_train_encode(emb, m=4, ksub=4, dim=8)
    # m mismatch: query slices would misalign with codebook subspaces
    with pytest.raises(ValueError, match="geometry|subspaces"):
        pq_topk(emb, [0, 1], k=3, m=2, dim=8, trained=trained)
    # dim mismatch: subvector width differs
    with pytest.raises(ValueError, match="geometry|subspaces"):
        pq_topk(emb, [0, 1], k=3, m=4, dim=16, trained=trained)


def test_pq_trained_matching_geometry_accepted(spark):
    emb = _emb(spark, n=20, dim=8)
    trained = pq_train_encode(emb, m=4, ksub=4, dim=8)
    out = pq_topk(emb, [0], k=3, m=4, dim=8, trained=trained)
    assert out.count() == 3


def test_geometry_memo_survives_id_reuse(spark):
    """The validation memo must be pinned to the frame OBJECT, not its
    id(): after GC a different codebook frame can land on the same id()
    and must NOT inherit the dead frame's validation pass."""
    from kafka_streams_dexcom_spark.operators import quantize as qz

    emb = _emb(spark, n=20, dim=8)
    good_cents, good_codes = pq_train_encode(emb, m=4, ksub=4, dim=8)
    pq_topk(emb, [0], k=3, m=4, dim=8, trained=(good_cents, good_codes))
    # simulate an id() collision: a stale memo entry recorded under the
    # NEW frame's id but referencing the (now conceptually dead) old
    # frame — exactly what a recycled address produces
    import weakref

    bad_cents, bad_codes = pq_train_encode(emb, m=2, ksub=4, dim=8)
    qz._TRAINED_GEOMETRY_OK[(id(bad_cents), 4, 8)] = weakref.ref(good_cents)
    with pytest.raises(ValueError, match="geometry|subspaces"):
        pq_topk(emb, [0], k=3, m=4, dim=8, trained=(bad_cents, bad_codes))
