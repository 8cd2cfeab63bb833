"""Tokenizer-artifact refresh contract
(streaming/tokenizer_store.py): a trained vocabulary republishes
through the commit log as a new atomic version; readers at latest pick
up exactly the new vocab, pinned readers replay the old one, and
``ensure`` retrains only when (family, fingerprint, params) changed."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.text import (
    _unigram_em_loop,
    unigram_encode_counts,
)
from kafka_streams_dexcom_spark.streaming.tokenizer_store import (
    TokenizerArtifactStore,
)


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _train(spark, rows):
    return _unigram_em_loop(_corpus(spark, rows), "text", 2, 80, 4, 16)


def test_republish_new_version_readers_pick_up(spark, tmp_path):
    store = TokenizerArtifactStore(str(tmp_path / "tok"))
    assert store.version() == -1 and store.read(spark) is None

    rows_a = [(1, "xyz xyz ab ab")]
    v0 = store.publish(
        _train(spark, rows_a), family="unigram", fingerprint="fp-a"
    )
    assert v0 == 0
    pieces_a = {r.pc for r in store.read(spark).collect()}
    assert "xyz" in pieces_a

    # corpus changed -> retrain -> republish as a NEW version
    rows_b = [(1, "qq qq rr rr")]
    v1 = store.publish(
        _train(spark, rows_b), family="unigram", fingerprint="fp-b"
    )
    assert v1 == 1
    # reader at latest: exactly the new vocabulary
    latest = {r.pc for r in store.read(spark).collect()}
    assert "qq" in latest and "xyz" not in latest
    # pinned reader: exactly the old vocabulary (time travel)
    pinned = {r.pc for r in store.read(spark, version=v0).collect()}
    assert pinned == pieces_a
    assert store.meta(v0)["fingerprint"] == "fp-a"
    assert store.meta()["fingerprint"] == "fp-b"


def test_ensure_is_idempotent_and_refreshes_on_fingerprint(spark, tmp_path):
    store = TokenizerArtifactStore(str(tmp_path / "tok"))
    calls = []

    def build_a():
        calls.append("a")
        return _train(spark, [(1, "xyz xyz ab ab")])

    v0, vocab0 = store.ensure(
        spark, family="unigram", fingerprint="fp-a", build=build_a
    )
    assert v0 == 0 and calls == ["a"]
    # same corpus: no retrain, same version, same rows
    v0b, vocab0b = store.ensure(
        spark, family="unigram", fingerprint="fp-a", build=build_a
    )
    assert v0b == 0 and calls == ["a"]
    assert {tuple(r) for r in vocab0.collect()} == {
        tuple(r) for r in vocab0b.collect()
    }

    def build_b():
        calls.append("b")
        return _train(spark, [(1, "qq qq rr rr")])

    v1, vocab1 = store.ensure(
        spark, family="unigram", fingerprint="fp-b", build=build_b
    )
    assert v1 == 1 and calls == ["a", "b"]
    assert "qq" in {r.pc for r in vocab1.collect()}
    # params change alone also refreshes
    v2, _ = store.ensure(
        spark,
        family="unigram",
        fingerprint="fp-b",
        params={"n_rounds": 3},
        build=build_b,
    )
    assert v2 == 2 and calls == ["a", "b", "b"]


def test_encode_under_pinned_vs_latest_vocab(spark, tmp_path):
    """The reproducibility story end-to-end: an encode job pinned to
    the old tokenizer version reproduces its token counts exactly after
    a republish, while a latest reader sees the new tokenizer's
    segmentation."""
    store = TokenizerArtifactStore(str(tmp_path / "tok"))
    train_a = [(1, "ab ab ab cd")]
    v0 = store.publish(
        _train(spark, train_a), family="unigram", fingerprint="fp-a"
    )
    apply_df = _corpus(spark, [(10, "ab cd")])

    def counts(vocab):
        return {
            r.doc_id: (r.n_words, r.n_tokens)
            for r in unigram_encode_counts(apply_df, vocab=vocab).collect()
        }

    before = counts(store.read(spark, version=v0))
    # republish a DIFFERENT vocabulary (trained where 'ab' never wins a
    # multi-char piece)
    store.publish(
        _train(spark, [(1, "a b a b x")]),
        family="unigram",
        fingerprint="fp-b",
    )
    # pinned: bit-stable replay
    assert counts(store.read(spark, version=v0)) == before
    # latest: the new vocab has no 'ab'/'cd' pieces -> per-char paths
    after = counts(store.read(spark))
    assert after[10][0] == before[10][0] == 2  # words never change
    assert after != before


def test_bpe_two_leg_publish_is_atomic(spark, tmp_path):
    """The BPE family's two frames (merges, vocab) publish in ONE
    manifest version — a reader can never observe new merges with an
    old vocab."""
    store = TokenizerArtifactStore(str(tmp_path / "bpe"))
    merges = spark.createDataFrame(
        [(1, "a", "b")], "rnd int, s1 string, s2 string"
    )
    vocab = spark.createDataFrame(
        [("ab", ["ab"])], "w string, syms array<string>"
    )
    v0 = store.publish(
        {"merges": merges, "vocab": vocab},
        family="bpe",
        fingerprint="fp-a",
    )
    assert v0 == 0
    assert store.read(spark, sub="merges").count() == 1
    merges2 = merges.union(
        spark.createDataFrame([(2, "ab", "c")], "rnd int, s1 string, s2 string")
    )
    vocab2 = vocab.withColumn("w", F.concat(F.col("w"), F.lit("!")))
    v1 = store.publish(
        {"merges": merges2, "vocab": vocab2},
        family="bpe",
        fingerprint="fp-b",
    )
    assert v1 == 1
    assert store.read(spark, sub="merges").count() == 2
    assert [r.w for r in store.read(spark, sub="vocab").collect()] == ["ab!"]
    # both legs of v0 still pinned-readable
    assert store.read(spark, sub="merges", version=0).count() == 1
    assert [r.w for r in store.read(spark, sub="vocab", version=0).collect()] == ["ab"]


def test_bytebpe_family_republish_and_total_apply(spark, tmp_path):
    """Fourth family through the store: byte-level BPE's two legs
    (merges, vocab) publish atomically, ``ensure`` retrains only on a
    corpus change, pinned readers replay the old merges — and the
    frozen merge table applies TOTALLY to unseen words (including
    non-ASCII, where one char is several byte symbols), matching a
    Python replay of the greedy fold exactly."""
    from kafka_streams_dexcom_spark.operators.text import (
        BYTEBPE,
        _merge_loop,
        bytebpe_apply_merges,
    )

    rows_a = [(1, "atlas atlas atoll at"), (2, "atlas atom at at")]
    rows_b = [(1, "zz zz zz zip"), (2, "zip zip zap zz")]

    def train(rows):
        merges, vocab = _merge_loop(_corpus(spark, rows), "text", 3, BYTEBPE)
        return {"merges": merges, "vocab": vocab}

    store = TokenizerArtifactStore(str(tmp_path / "bytebpe"))
    calls = [0]

    def build_a():
        calls[0] += 1
        return train(rows_a)

    v0, _ = store.ensure(
        spark, family="bytebpe", fingerprint="fp-a", build=build_a
    )
    v_again, _ = store.ensure(
        spark, family="bytebpe", fingerprint="fp-a", build=build_a
    )
    assert (v0, v_again, calls[0]) == (0, 0, 1)  # no redundant retrain
    merges_v0 = [
        (r["round"], r["pair"])
        for r in store.read(spark, sub="merges", version=v0)
        .orderBy("round")
        .collect()
    ]
    # corpus change → republish; pinned merges replay bit-identically
    v1, _ = store.ensure(
        spark,
        family="bytebpe",
        fingerprint="fp-b",
        build=lambda: train(rows_b),
    )
    assert v1 == 1
    assert [
        (r["round"], r["pair"])
        for r in store.read(spark, sub="merges", version=v0)
        .orderBy("round")
        .collect()
    ] == merges_v0
    assert store.meta(v1)["family"] == "bytebpe"

    # totality: the frozen v0 merges tokenize an UNSEEN corpus —
    # words never in the training vocab, one of them non-ASCII
    unseen = spark.createDataFrame(
        [(9, "atlas naïve zebra at")], "doc_id long, text string"
    )
    got = bytebpe_apply_merges(
        unseen, store.read(spark, sub="merges", version=v0)
    ).collect()[0]

    def py_fold(syms, s1, s2):
        acc = []
        for s in syms:
            if acc and acc[-1] == s1 and s == s2:
                acc[-1] = s1 + s2
            else:
                acc.append(s)
        return acc

    def py_tokens(word, merges):
        syms = [
            word.encode("utf-8").hex().upper()[2 * i : 2 * i + 2]
            for i in range(len(word.encode("utf-8")))
        ]
        for _rnd, pair in sorted(merges):
            s1, s2 = pair.split("+")
            syms = py_fold(syms, s1, s2)
        return len(syms)

    want = sum(
        py_tokens(w, merges_v0) for w in "atlas naïve zebra at".split()
    )
    assert got["n_words"] == 4
    assert got["n_tokens"] == want
