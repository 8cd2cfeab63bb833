"""Streaming Bloom-filter maintainer (streaming/bloom_ingest.py):
stream≡batch screen equality against the prefix corpus, the structural
no-false-negative guarantee across batches, replay/width bounds, and
commit-log versioning — plus its screening sibling, the URL first-seen
index (streaming/url_index.py): lineage guard and verdict
re-emission."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    bloom_dedup_screen,
)
from kafka_streams_dexcom_spark.sources.files import load_table
from kafka_streams_dexcom_spark.streaming.bloom_ingest import (
    BloomFilterMaintainer,
)
from kafka_streams_dexcom_spark.streaming.url_index import (
    UrlFirstSeenMaintainer,
)
from tests.conftest import SF_DIR

M_BITS = 1024  # deliberately under-sized: ~0.8 fill by the last batch,
# so probable-seen verdicts (true hits AND false positives) actually
# fire and the stream≡batch equality is non-trivial


def _run_stream(spark, tmp_path, docs, chunks=4, lineage="q1"):
    """Stream ``docs`` in micro-batches; returns (maintainer, verdicts
    per batch_id as {doc_id: probably_seen})."""
    src = str(tmp_path / "in")
    docs.withColumn("chunk", F.col("doc_id") % chunks).write.partitionBy(
        "chunk"
    ).mode("overwrite").parquet(src)
    verdicts: dict[int, dict[int, int]] = {}

    def screened(df, batch_id):
        verdicts[batch_id] = {
            r["doc_id"]: r["probably_seen"] for r in df.collect()
        }

    m = BloomFilterMaintainer(
        spark,
        str(tmp_path / "filter"),
        m_bits=M_BITS,
        screened=screened,
        lineage_id=lineage,
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
    return m, verdicts


@pytest.fixture(scope="module")
def docs(spark):
    return (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .localCheckpoint()
    )


def test_stream_screen_equals_batch_prefix(spark, tmp_path, docs):
    """Every batch's streamed verdict must equal the BATCH twin run
    against the union of all earlier batches at the same fixed width —
    the screen semantics are one implementation in two execution
    shapes."""
    _m, verdicts = _run_stream(spark, tmp_path, docs)
    assert len(verdicts) == 4
    seen_prefix: list[int] = []
    for bid in sorted(verdicts):
        batch_ids = list(verdicts[bid])
        batch_df = docs.filter(F.col("doc_id").isin(batch_ids))
        if seen_prefix:
            corpus = docs.filter(F.col("doc_id").isin(seen_prefix))
            want = {
                r["doc_id"]: r["probably_seen"]
                for r in bloom_dedup_screen(
                    batch_df, corpus, m_bits=M_BITS
                ).collect()
            }
        else:
            want = {d: 0 for d in batch_ids}  # empty filter: nothing seen
        assert verdicts[bid] == want, f"batch {bid} diverged"
        seen_prefix += batch_ids
    # the small width must actually bind at test scale, or the
    # equality above is the trivial all-zeros one
    assert any(v for vs in verdicts.values() for v in vs.values()), (
        "degenerate: no probable-seen verdict fired at this fill ratio"
    )


def test_no_false_negative_across_batches(spark, tmp_path):
    """A text ingested in an early batch MUST be flagged when it
    reappears in any later batch — Bloom's structural guarantee,
    pinned through the staged-commit plumbing."""
    rows = [(i, f"unique body {i}") for i in range(40)]
    # doc 100 (chunk 0) replays doc 3's text... doc_id % 4 maps
    # 100 -> chunk 0, 3 -> chunk 3; pick ids so the replay lands in a
    # DIFFERENT chunk than the original: 3 in chunk 3, 101 in chunk 1.
    rows.append((101, "unique body 3"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    _m, verdicts = _run_stream(spark, tmp_path, docs)
    by_doc = {d: v for vs in verdicts.values() for d, v in vs.items()}
    order = {
        bid: set(vs) for bid, vs in verdicts.items()
    }
    b_orig = next(b for b, ids in order.items() if 3 in ids)
    b_replay = next(b for b, ids in order.items() if 101 in ids)
    if b_orig < b_replay:
        assert by_doc[101] == 1
    else:  # chunk order flipped: then 3 must flag instead
        assert by_doc[3] == 1


def test_replay_guard_and_versions(spark, tmp_path, docs):
    m, verdicts = _run_stream(spark, tmp_path, docs)
    assert m.table.latest_version() == 3  # one commit per micro-batch
    before = m.bits().count()
    # replayed batch: no new version, no new bits
    m.screened = None
    m(docs.limit(5), 0)
    assert m.table.latest_version() == 3
    assert m.bits().count() == before


def test_replay_of_last_batch_reemits_identical_verdicts(
    spark, tmp_path, docs
):
    """A restart replays the most recent micro-batch: the bit commit is
    skipped (idempotent), but the screen verdicts must be RE-EMITTED —
    bit-identically, because the screen re-runs against the pre-batch
    filter version recorded in the manifest, not the post-commit one
    (which now contains the batch's own bits and would flip every row
    to probably_seen=1)."""
    m, verdicts = _run_stream(spark, tmp_path, docs)
    last_bid = max(verdicts)
    last_batch = docs.filter(
        F.col("doc_id").isin(list(verdicts[last_bid]))
    )
    version_before, bits_before = m.table.latest_version(), m.bits().count()
    replayed: dict[int, dict[int, int]] = {}
    m.screened = lambda df, bid: replayed.__setitem__(
        bid, {r["doc_id"]: r["probably_seen"] for r in df.collect()}
    )
    m(last_batch, last_bid)
    assert replayed == {last_bid: verdicts[last_bid]}
    assert m.table.latest_version() == version_before  # no new commit
    assert m.bits().count() == bits_before


def test_replay_of_batch_zero_reemits_identical_verdicts(
    spark, tmp_path, docs
):
    """The batch-0 edge of the re-emission contract: screen_base is -1
    (the pre-ingest EMPTY filter), and -1 must not fall through to the
    LATEST version (which holds batch 0's own bits and would flip its
    rows to probably_seen=1). Found by review in round 12 — the
    line_census handled -1 explicitly, bloom/url_index did not."""
    base = docs.limit(40).localCheckpoint()
    verdicts: dict[int, dict[int, int]] = {}
    m = BloomFilterMaintainer(
        spark,
        str(tmp_path / "filter0"),
        m_bits=M_BITS,
        screened=lambda df, bid: verdicts.__setitem__(
            bid, {r["doc_id"]: r["probably_seen"] for r in df.collect()}
        ),
        lineage_id="q0",
    )
    m(base, 0)
    original = dict(verdicts[0])
    # against the empty pre-ingest filter nothing is probably_seen
    assert set(original.values()) == {0}
    replayed: dict[int, dict[int, int]] = {}
    m.screened = lambda df, bid: replayed.__setitem__(
        bid, {r["doc_id"]: r["probably_seen"] for r in df.collect()}
    )
    m(base, 0)  # replay of the one applied batch
    assert replayed == {0: original}


def test_width_ceiling(spark, tmp_path, docs):
    """m_bits above 2^31-1 would leave bits unreachable under the
    31-bit universal-hash fold — both twins must refuse, loudly."""
    with pytest.raises(ValueError, match="ceiling"):
        BloomFilterMaintainer(
            spark, str(tmp_path / "f2"), m_bits=2**31
        )
    with pytest.raises(ValueError, match="ceiling"):
        bloom_dedup_screen(
            docs.limit(1), docs.limit(1), m_bits=2**31
        ).collect()


def test_width_bound_and_compaction(spark, tmp_path, docs):
    m, _ = _run_stream(spark, tmp_path, docs)
    distinct = m.bits().select("pos").distinct().count()
    assert 0 < distinct <= M_BITS
    assert 0.0 < m.fill_ratio() <= 1.0
    v = m.compact()
    assert v is not None
    assert m.bits().count() == distinct  # duplicates folded away
    assert m.bits().select("pos").distinct().count() == distinct


def test_fill_meta_tracks_scan_and_alarm_fires(spark, tmp_path, docs):
    """The O(1) fill_bits counter in the manifest must equal the exact
    distinct-bit scan after a single-writer run (the streaming
    contract), the per-batch trajectory must be monotone, and at this
    deliberately under-sized width (~0.8 fill) the rebuild-due alarm
    must fire — all without a planted failure path, because the
    over-fill is the fixture's own geometry."""
    m, _ = _run_stream(spark, tmp_path, docs)
    assert m.fill_ratio_meta() == pytest.approx(m.fill_ratio())
    traj = [t["fill_ratio"] for t in m.timings]
    assert traj == sorted(traj) and len(traj) == 4
    assert m.rebuild_due(threshold=0.5)  # ~0.8 fill: alarm fires
    assert not m.rebuild_due(threshold=0.99)
    # survives compaction (meta carried through the replace commit)
    m.compact()
    assert m.fill_ratio_meta() == pytest.approx(m.fill_ratio())
    # a replay commits nothing and leaves the counter untouched
    before = m.fill_ratio_meta()
    m.screened = None
    m(docs.limit(5), 0)
    assert m.fill_ratio_meta() == before


def test_lineage_guard(spark, tmp_path, docs):
    m, _ = _run_stream(spark, tmp_path, docs, lineage="q1")
    m2 = BloomFilterMaintainer(
        spark,
        str(tmp_path / "filter"),
        m_bits=M_BITS,
        lineage_id="q2",
    )
    with pytest.raises(RuntimeError, match="lineage"):
        m2(docs.limit(1), 0)


def test_replay_older_than_newest_raises(spark, tmp_path, docs):
    """Only the newest batch's screen base is retained, so a screened
    replay of an OLDER batch cannot re-emit its verdicts: it must fail
    loudly, not return with nothing emitted."""
    m, verdicts = _run_stream(spark, tmp_path, docs)
    last_bid = max(verdicts)
    with pytest.raises(RuntimeError, match="most recent batch"):
        m(docs.limit(5), last_bid - 1)
    assert m.table.latest_version() == 3


# -- the URL first-seen index -------------------------------------------


def _url_docs(docs):
    # 7 distinct addresses over the corpus: prior AND in-batch dups fire
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("http://example.test/"), (F.col("doc_id") % 7).cast("string")
        ).alias("url"),
    )


def _url_maintainer(spark, path, lineage="u1"):
    """(maintainer, verdicts per batch_id as {doc_id: (url_dup,
    dup_kind)}); the callback is rebindable through ``m.screened``."""
    verdicts: dict[int, dict] = {}

    def screened(df, bid):
        verdicts[bid] = {
            r["doc_id"]: (r["url_dup"], r["dup_kind"]) for r in df.collect()
        }

    m = UrlFirstSeenMaintainer(
        spark, path, screened=screened, lineage_id=lineage
    )
    return m, verdicts


def _url_batches(docs):
    u = _url_docs(docs).limit(40).localCheckpoint()
    return (
        u.filter(F.col("doc_id") % 2 == 0).localCheckpoint(),
        u.filter(F.col("doc_id") % 2 == 1).localCheckpoint(),
    )


def test_url_lineage_guard(spark, tmp_path, docs):
    b0, _ = _url_batches(docs)
    m, _ = _url_maintainer(spark, str(tmp_path / "urls"), lineage="u1")
    m(b0, 0)
    rogue = UrlFirstSeenMaintainer(
        spark, str(tmp_path / "urls"), lineage_id="u2"
    )
    with pytest.raises(RuntimeError, match="lineage"):
        rogue(b0, 1)
    assert m.table.latest_version() == 0


def test_url_replay_of_last_batch_reemits_identical_verdicts(
    spark, tmp_path, docs
):
    """Replaying the newest epoch commits nothing and re-emits its
    verdicts bit-identically against the recorded pre-batch index —
    not the post-commit one, which holds the epoch's own addresses
    and would flip every holder to a ``prior`` duplicate."""
    b0, b1 = _url_batches(docs)
    m, verdicts = _url_maintainer(spark, str(tmp_path / "urls"))
    m(b0, 0)
    m(b1, 1)
    assert "prior" in {kind for _, kind in verdicts[1].values()}
    version, rows = m.table.latest_version(), m.index().count()
    original = dict(verdicts[1])
    m(b1, 1)
    assert verdicts[1] == original
    assert m.table.latest_version() == version  # no new commit
    assert m.index().count() == rows


def test_url_replay_older_than_newest_raises(spark, tmp_path, docs):
    b0, b1 = _url_batches(docs)
    m, _ = _url_maintainer(spark, str(tmp_path / "urls"))
    m(b0, 0)
    m(b1, 1)
    with pytest.raises(RuntimeError, match="most recent batch"):
        m(b0, 0)
    assert m.table.latest_version() == 1


def test_url_replay_of_batch_zero_reemits_identical_verdicts(
    spark, tmp_path, docs
):
    """The batch-0 edge: screen_base is -1, the EMPTY pre-ingest index,
    never the latest version that holds batch 0's own addresses."""
    b0, _ = _url_batches(docs)
    m, verdicts = _url_maintainer(spark, str(tmp_path / "urls0"))
    m(b0, 0)
    original = dict(verdicts[0])
    assert "prior" not in {kind for _, kind in original.values()}
    assert "batch" in {kind for _, kind in original.values()}
    m(b0, 0)
    assert verdicts[0] == original
    assert m.table.latest_version() == 0
