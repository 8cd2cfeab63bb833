"""Cross-query consistency invariants over the dedup/curation family.

Each query has its own DuckDB oracle, but oracles are per-query: two
related queries could BOTH match their oracles while silently
disagreeing with each other (e.g. the manifest's keep policy drifting
from the survivor election after a refactor of one of them). These
tests pin the family-level contracts — the properties a user composing
the curation pipeline actually relies on. All queries share the
session artifacts, so the suite pays one cluster-map build total."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _rows(spark, name):
    import __spark_entry__ as m

    return m.queries()[name](spark, SF_DIR).collect()


def test_manifest_keep_equals_survivor_election(spark):
    """curation_manifest.keep must be EXACTLY dedup_survivors'
    is_survivor — the manifest is the packaging of that election, not a
    second opinion."""
    keep = {r.doc_id: r.keep for r in _rows(spark, "curation_manifest")}
    surv = {
        r.doc_id: r.is_survivor for r in _rows(spark, "dedup_survivors")
    }
    assert keep.keys() == surv.keys()
    assert keep == surv


def test_manifest_split_equals_leakage_safe_split(spark):
    man = {r.doc_id: r.split for r in _rows(spark, "curation_manifest")}
    ls = {r.doc_id: r.split for r in _rows(spark, "leakage_safe_split")}
    assert man == ls


def test_split_never_straddles_a_cluster(spark):
    """The leakage-safety contract itself: every member of a near-dup
    cluster lands in the SAME split."""
    rows = _rows(spark, "leakage_safe_split")
    by_cluster: dict[int, set[str]] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster, set()).add(r.split)
    straddlers = {c: s for c, s in by_cluster.items() if len(s) > 1}
    assert not straddlers, straddlers


def test_exactly_one_survivor_per_cluster(spark):
    rows = _rows(spark, "dedup_survivors")
    by_canon: dict[int, int] = {}
    for r in rows:
        by_canon[r.canonical_id] = by_canon.get(r.canonical_id, 0) + (
            1 if r.is_survivor else 0
        )
    assert all(v == 1 for v in by_canon.values()), by_canon
    # and the survivor IS the canonical (min-id policy)
    for r in rows:
        if r.is_survivor:
            assert r.doc_id == r.canonical_id


def test_cluster_stats_agrees_with_histogram(spark):
    """dedup_cluster_stats (multi-doc clusters only) and
    cluster_size_histogram (all clusters) must describe the same
    cluster map: per-size counts of the stats table == the histogram's
    rows for size >= 2, and both agree on the total document count."""
    stats = _rows(spark, "dedup_cluster_stats")
    hist = {
        r.cluster_size: r.n_clusters
        for r in _rows(spark, "cluster_size_histogram")
    }
    from collections import Counter

    by_size = Counter(r.n_docs for r in stats)
    assert dict(by_size) == {s: n for s, n in hist.items() if s >= 2}
    n_docs_total = sum(s * n for s, n in hist.items())
    assert n_docs_total == len(_rows(spark, "curation_manifest"))


def test_cluster_stats_density_is_consistent(spark):
    """Edge counts must be achievable: 1 <= n_edges <= n(n-1)/2, with
    the clique flag true exactly at the upper bound, and the jaccard
    range ordered and at/above the clustering threshold."""
    from kafka_streams_dexcom_spark.queries.dedup import NGRAM_THRESHOLD

    for r in _rows(spark, "dedup_cluster_stats"):
        max_edges = r.n_docs * (r.n_docs - 1) // 2
        assert 1 <= r.n_edges <= max_edges, r
        assert bool(r.is_complete) == (r.n_edges == max_edges), r
        assert NGRAM_THRESHOLD <= r.min_jaccard <= r.max_jaccard <= 1.0, r
        assert 0.0 < r.density <= 1.0, r


# every sum column a family's *_encode and *_fertility share
_SHARED_SUMS = {
    "bpe": ("n_words", "n_tokens"),
    "bytebpe": ("n_words", "n_tokens", "n_bytes"),
    "unigram": ("n_words", "n_tokens"),
    "wordpiece": ("n_words", "n_tokens", "n_unk_words"),
}


@pytest.mark.parametrize("family", sorted(_SHARED_SUMS))
def test_encode_totals_agree_with_fertility(spark, family):
    """<family>_fertility is the per-language rollup of
    <family>_encode's per-doc counts: both apply the same frozen
    tokenizer, so every sum column they share has equal grand totals."""
    enc = _rows(spark, f"{family}_encode")
    fert = _rows(spark, f"{family}_fertility")
    for col in _SHARED_SUMS[family]:
        assert sum(r[col] for r in enc) == sum(r[col] for r in fert), col


def test_unigram_never_beats_chars_and_bpe_sanity(spark):
    """Tokenizer-family sanity: for every doc, unigram token count is
    between the word count (each word ≥ 1 token) and the char count
    (worst case segments to chars) — the bounds a correct Viterbi can
    never escape."""
    enc = _rows(spark, "unigram_encode")
    for r in enc:
        assert r.n_words <= r.n_tokens <= max(r.n_chars, r.n_words), r
