"""Randomized property tests for the corpus-curation operators: each
example compares the distributed implementation against an exhaustive
Python reference on a small random corpus — adversarial coverage beyond
the handcrafted fixtures (overlap patterns, tie pile-ups, all-duplicate
and no-duplicate corpora all arise from the generator).

Example counts are kept small because every example runs a Spark job;
deadline is disabled for the same reason.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st

from kafka_streams_dexcom_spark.operators.text import (
    boilerplate_ngram_rewrite,
    eval_span_scrub,
    heavy_hitters,
    span_dedup_rewrite,
)

# Tiny vocabulary so duplicated k-grams actually occur in short docs.
_WORD = st.sampled_from(["a", "b", "c", "d", "e"])
_DOC = st.lists(_WORD, min_size=0, max_size=14).map(" ".join)
_CORPUS = st.lists(_DOC, min_size=1, max_size=8)

K = 3


def _span_reference(
    docs: dict[int, str], k: int, covers
) -> dict[int, tuple[int, int, str]]:
    """(n_tokens, n_removed, clean_text) per doc of ``docs`` after cutting
    every k-gram occurrence the cover policy selects: ``covers(d, gram,
    owners)`` says whether doc ``d``'s occurrence of ``gram`` is cut,
    where ``owners`` is the set of docs of ``docs`` that contain it."""
    toks = {d: [t for t in txt.split() if t] for d, txt in docs.items()}
    gram_docs: dict[tuple[str, ...], set[int]] = {}
    for d, tk in toks.items():
        for i in range(len(tk) - k + 1):
            gram_docs.setdefault(tuple(tk[i : i + k]), set()).add(d)
    out = {}
    for d, tk in toks.items():
        covered: set[int] = set()
        for i in range(len(tk) - k + 1):
            g = tuple(tk[i : i + k])
            if covers(d, g, gram_docs[g]):
                covered.update(range(i, i + k))
        kept = [t for j, t in enumerate(tk) if j not in covered]
        out[d] = (len(tk), len(tk) - len(kept), " ".join(kept))
    return out


def _docs(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    ).repartition(3)


def _rewritten(rows) -> dict[int, tuple[int, int, str]]:
    return {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["clean_text"])
        for r in rows
    }


@settings(max_examples=12, deadline=None)
@given(_CORPUS)
def test_span_dedup_rewrite_matches_reference(spark, texts):
    docs = {i + 1: t for i, t in enumerate(texts)}
    got = _rewritten(span_dedup_rewrite(_docs(spark, docs), k=K).collect())
    assert got == _span_reference(
        docs, K, lambda d, g, owners: len(owners) >= 2 and d != min(owners)
    )


@settings(max_examples=12, deadline=None)
@given(_CORPUS, st.integers(min_value=1, max_value=4))
def test_boilerplate_ngram_rewrite_matches_reference(spark, texts, min_docs):
    docs = {i + 1: t for i, t in enumerate(texts)}
    got = _rewritten(
        boilerplate_ngram_rewrite(
            _docs(spark, docs), k=K, min_docs=min_docs
        ).collect()
    )
    assert got == _span_reference(
        docs, K, lambda d, g, owners: len(owners) >= min_docs
    )


@settings(max_examples=12, deadline=None)
@given(_CORPUS, st.lists(st.booleans(), min_size=8, max_size=8))
def test_eval_span_scrub_matches_reference(spark, texts, is_eval):
    train = {i + 1: t for i, t in enumerate(texts) if not is_eval[i]}
    held = {i + 1: t for i, t in enumerate(texts) if is_eval[i]}
    grams = set()
    for txt in held.values():
        tk = txt.split()
        grams.update(tuple(tk[i : i + K]) for i in range(len(tk) - K + 1))
    got = _rewritten(
        eval_span_scrub(_docs(spark, train), _docs(spark, held), k=K)
        .collect()
    )
    assert got == _span_reference(train, K, lambda d, g, owners: g in grams)


@settings(max_examples=10, deadline=None)
@given(_CORPUS, st.integers(min_value=2, max_value=6))
def test_heavy_hitters_matches_reference(spark, texts, m):
    df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    ).repartition(3)
    got = {
        r["term"]: r["n_occurrences"]
        for r in heavy_hitters(df, m=m).collect()
    }
    counts = Counter(t for txt in texts for t in txt.split() if t)
    n = sum(counts.values())
    want = {t: c for t, c in counts.items() if c * m > n}
    assert got == want
