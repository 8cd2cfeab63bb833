"""End-to-end streaming curation pipeline
(streaming/curation_pipeline.py): WebDataset shard drop zone → corrupt
quarantine → gopher gate → cluster map + ANN postings, published
through the commit log with ONE lineage/replay story.

The load-bearing test crashes the query MID-EPOCH (between the two
maintainer commits), restarts from the same checkpoint, and asserts
both published views are bit-equal to the one-shot batch run and the
quarantine ledger holds each planted corrupt member exactly once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import dedup as dd
from kafka_streams_dexcom_spark.operators.clustering import (
    assign_to_centroids,
)
from kafka_streams_dexcom_spark.operators.dedup import with_embedding_norm
from kafka_streams_dexcom_spark.operators.graph import connected_components
from kafka_streams_dexcom_spark.operators.text import gopher_rules
from kafka_streams_dexcom_spark.sources import corpus as cs
from kafka_streams_dexcom_spark.sources.corpus import (
    tar_end_bytes,
    tar_member_bytes,
    write_webdataset,
)
from kafka_streams_dexcom_spark.sources.files import load_table
from kafka_streams_dexcom_spark.streaming.curation_pipeline import (
    CurationPipeline,
    parse_txt_members,
    text_feature_vector,
)

SF_DIR = "/root/testdata/sf0.001"
THRESHOLD = 0.2
LINEAGE = "e2e-test"


def _drop_zone(spark, tmp_path) -> str:
    """4 WebDataset shards of the documents corpus plus one shard with
    two corrupt txt members (non-numeric key, invalid UTF-8)."""
    drop = tmp_path / "drop"
    drop.mkdir()
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    members = docs.select(
        F.col("doc_id").cast("string").alias("key"),
        F.lit("txt").alias("ext"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    write_webdataset(members, str(drop), n_shards=4)
    blob = (
        tar_member_bytes("not-a-number.txt", b"parses as text fine")
        + tar_member_bytes("999999.txt", b"\xff\xfe not utf8 \xff")
        + tar_end_bytes()
    )
    (drop / "shard-corrupt.tar").write_bytes(blob)
    return str(drop)


def _centroids(spark):
    """Frozen quantizer: 4 seed documents' feature vectors."""
    seeds = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "text")
        .filter("doc_id < 4")
    )
    feat = with_embedding_norm(
        text_feature_vector(seeds).select("doc_id", "embedding"),
        "embedding",
    )
    return feat.select(
        F.col("doc_id").cast("int").alias("cid"), F.col("vec").alias("cvec")
    ).localCheckpoint()


def _run_stream(spark, drop, ckpt, pipe):
    q = (
        cs.read_webdataset_stream(spark, drop, max_files_per_trigger=2)
        .writeStream.foreachBatch(pipe)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


HOST_EXPR = "concat('h', CAST(doc_id % 3 AS STRING), '.example')"


def _crash_after(pipe, leg, epoch):
    """Make ``pipe.<leg>`` fail mid-epoch ``epoch``: the real
    maintainer publishes, then the epoch dies before the next leg."""
    real = getattr(pipe, leg)

    def crashing(df, batch_id):
        real(df, batch_id)
        if batch_id == epoch:
            raise RuntimeError(
                f"injected crash after {leg} commit, epoch {batch_id}"
            )

    setattr(pipe, leg, crashing)
    return pipe


def test_end_to_end_crash_restart_bit_equal(spark, tmp_path):
    drop = _drop_zone(spark, tmp_path)
    cents = _centroids(spark)
    root = str(tmp_path / "views")
    ckpt = str(tmp_path / "ckpt")

    # run 1 crashes mid-epoch 1: AFTER the chrome-census commit,
    # BEFORE the cluster-map commit
    crash1 = _crash_after(
        CurationPipeline(
            spark,
            root,
            cents,
            lineage_id=LINEAGE,
            threshold=THRESHOLD,
            chrome_host_expr=HOST_EXPR,
        ),
        "census",
        1,
    )
    with pytest.raises(Exception, match="injected crash"):
        _run_stream(spark, drop, ckpt, crash1)

    # run 2 replays epoch 1 (census no-ops on its watermark and
    # re-emits verdicts; cluster + postings apply), then crashes
    # mid-epoch 2 AFTER the cluster-map commit, BEFORE the postings
    # commit — both inter-leg gaps exercised across one lineage
    crash2 = _crash_after(
        CurationPipeline(
            spark,
            root,
            cents,
            lineage_id=LINEAGE,
            threshold=THRESHOLD,
            chrome_host_expr=HOST_EXPR,
        ),
        "cluster",
        2,
    )
    with pytest.raises(Exception, match="injected crash"):
        _run_stream(spark, drop, ckpt, crash2)

    # run 3 restarts clean: epoch 2 replays — census and cluster both
    # no-op on their manifests, the postings leg applies
    clean = CurationPipeline(
        spark,
        root,
        cents,
        lineage_id=LINEAGE,
        threshold=THRESHOLD,
        chrome_host_expr=HOST_EXPR,
    )
    _run_stream(spark, drop, ckpt, clean)

    # one-shot batch expectation over the same drop zone
    members = cs.read_webdataset(spark, drop)
    docs, quar = parse_txt_members(members)
    flagged = gopher_rules(docs, carry_cols=("text",))
    accepted = flagged.filter("keep = 1").select("doc_id", "text")
    n_accept = accepted.count()
    assert n_accept > 0, "degenerate: gate accepted nothing"
    assert accepted.count() < docs.count(), "degenerate: gate rejects nothing"

    # cluster map bit-equal to one-shot LSH + CC over accepted docs
    pairs = dd.minhash_lsh_dedup(accepted, threshold=THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want_labels = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    got_labels = {
        (r.node, r.component) for r in clean.cluster.labels().collect()
    }
    assert got_labels == want_labels and got_labels

    # postings bit-equal to one-shot frozen-quantizer assignment
    base = with_embedding_norm(
        text_feature_vector(accepted).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
        "embedding",
    ).select(F.col("vec_id").alias("vid"), "vec")
    want_post = {
        (r.vid, r.cid)
        for r in assign_to_centroids(base, cents).collect()
    }
    got_post = {
        (r.vec_id, r.cell) for r in clean.index.postings().collect()
    }
    assert got_post == want_post
    assert len(got_post) == n_accept

    # quarantine ledger: each planted corrupt member exactly once,
    # despite the epoch replay
    got_quar = [
        (r.key, bytes(r.payload))
        for r in clean.ledger("quarantine").collect()
    ]
    assert sorted(k for k, _p in got_quar) == ["999999", "not-a-number"]

    # rejected ledger is the gate's keep=0 partition exactly
    want_reject = {
        r.doc_id for r in flagged.filter("keep = 0").collect()
    }
    got_reject = {r.doc_id for r in clean.ledger("rejected").collect()}
    assert got_reject == want_reject

    # chrome leg: the converged census rewrite bit-equals the BATCH
    # host_line_dedup over the same accepted docs — despite two
    # crash-replays (a double-counted census would over-strip)
    from kafka_streams_dexcom_spark.operators.text import (
        host_line_dedup,
    )

    hosted = accepted.withColumn("host", F.expr(HOST_EXPR))
    got_chrome = {
        (r.doc_id, r.host, r.n_lines, r.n_removed_lines, r.clean_text)
        for r in clean.census.rewrite(hosted).collect()
    }
    want_chrome = {
        (r.doc_id, r.host, r.n_lines, r.n_removed_lines, r.clean_text)
        for r in host_line_dedup(hosted).collect()
    }
    assert got_chrome == want_chrome and got_chrome
    # and something actually crossed the chrome threshold (exact-dup
    # docs exist in the corpus, so repeated lines per host do too)
    assert any(r[3] > 0 for r in got_chrome)
    # chrome verdict ledger: one row per accepted doc, at-least-once
    got_verdicts = {
        r.doc_id for r in clean.ledger("chrome").collect()
    }
    assert got_verdicts == {r.doc_id for r in accepted.collect()}


def test_contamination_gate_routes_planted_eval_dupes(spark, tmp_path):
    """Plant two gate-passing docs that CONTAIN an eval item into a
    dropped shard: they must route to the contaminated ledger and reach
    NEITHER training index, and the surviving views must bit-equal the
    one-shot batch computation over the screened corpus."""
    drop = _drop_zone(spark, tmp_path)
    cents = _centroids(spark)

    # eval suite: nonsense-token items whose trigram shingles cannot
    # occur in the corpus — only the planted docs contain them
    eval_rows = [
        (1, " ".join(f"zxq{i}veil" for i in range(12))),
        (2, " ".join(f"wqj{i}morn" for i in range(12))),
    ]
    eval_docs = spark.createDataFrame(eval_rows, "doc_id long, text string")

    # hosts: two long accepted docs — appending a 12-token eval item
    # must not flip the gopher gate
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    hosts = [
        r.text
        for r in gopher_rules(docs, carry_cols=("text",))
        .filter("keep = 1")
        .orderBy(F.length("text").desc())
        .limit(2)
        .collect()
    ]
    planted = spark.createDataFrame(
        [
            (str(900001), "txt", (hosts[0] + " " + eval_rows[0][1]).encode()),
            (str(900002), "txt", (hosts[1] + " " + eval_rows[1][1]).encode()),
        ],
        "key string, ext string, payload binary",
    )
    import os

    blob = b"".join(
        tar_member_bytes(f"{r.key}.txt", bytes(r.payload))
        for r in planted.collect()
    ) + tar_end_bytes()
    with open(os.path.join(drop, "shard-planted.tar"), "wb") as f:
        f.write(blob)

    root = str(tmp_path / "views")
    pipe = CurationPipeline(
        spark,
        root,
        cents,
        lineage_id=LINEAGE,
        threshold=THRESHOLD,
        eval_docs=eval_docs,
        semantic_tau=0.9,
    )
    _run_stream(spark, drop, str(tmp_path / "ckpt"), pipe)

    # the planted docs (and only they) hit the contaminated ledger,
    # each naming its eval item at full containment
    got = {
        (r.doc_id, r.eval_doc, r.inter == r.esz)
        for r in pipe.ledger("contaminated").collect()
    }
    assert got == {(900001, 1, True), (900002, 2, True)}

    # neither index saw them
    assert pipe.cluster.labels().filter("node >= 900000").count() == 0
    assert pipe.index.postings().filter("vec_id >= 900000").count() == 0

    # batch≡stream over the SCREENED corpus
    members = cs.read_webdataset(spark, drop)
    docs_all, _ = parse_txt_members(members)
    accepted = (
        gopher_rules(docs_all, carry_cols=("text",))
        .filter("keep = 1")
        .select("doc_id", "text")
    )
    hits = dd.contamination_flags(accepted, dd.eval_fingerprints(eval_docs))
    clean_docs = accepted.join(
        hits.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    assert accepted.count() == clean_docs.count() + 2  # gate passed, then screened
    pairs = dd.minhash_lsh_dedup(clean_docs, threshold=THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    want_labels = {
        (r.node, r.component)
        for r in connected_components(pairs).collect()
    }
    got_labels = {
        (r.node, r.component) for r in pipe.cluster.labels().collect()
    }
    assert got_labels == want_labels and got_labels
    base = with_embedding_norm(
        text_feature_vector(clean_docs).select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ),
        "embedding",
    ).select(F.col("vec_id").alias("vid"), "vec")
    want_post = {
        (r.vid, r.cid) for r in assign_to_centroids(base, cents).collect()
    }
    got_post = {
        (r.vec_id, r.cell) for r in pipe.index.postings().collect()
    }
    assert got_post == want_post and got_post

    # semantic leg: the maintained SemDeDup membership bit-equals the
    # one-shot cells→pairs→CC pipeline over the same clean corpus, and
    # the contaminated docs never reached it
    clean_feat = text_feature_vector(clean_docs).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    cells = assign_to_centroids(
        with_embedding_norm(clean_feat, "embedding").select(
            F.col("vec_id").alias("vid"), "vec"
        ),
        cents,
    ).select(
        F.col("vid").alias("vec_id"), F.col("cid").cast("int").alias("cell")
    )
    sem_pairs = dd.embedding_cosine_pairs(
        clean_feat.join(cells, "vec_id"), block_col="cell", threshold=0.9
    )
    comp = connected_components(
        sem_pairs, a_col="vec_id_a", b_col="vec_id_b"
    )
    want_member = {
        (r.vec_id, r.cell, r.sem_cluster)
        for r in cells.join(
            comp, cells.vec_id == comp.node, "left"
        )
        .select(
            "vec_id",
            "cell",
            F.coalesce("component", "vec_id").alias("sem_cluster"),
        )
        .collect()
    }
    got_member = {
        (r.vec_id, r.cell, r.sem_cluster)
        for r in pipe.sem.membership().collect()
    }
    assert got_member == want_member and got_member
    assert pipe.sem.vectors().filter("vec_id >= 900000").count() == 0


def test_crawl_front_door_legs_crash_replay(spark, tmp_path):
    """Round-12 crawl stages 0-1 in the streaming topology: robots
    verdicts against the FROZEN per-host rule table + the canonical-URL
    first-seen index through the commit log, AHEAD of the quality gate.
    Crashes after the url-index commit of epoch 1, restarts, and
    asserts (a) the robots_blocked ledger row-equals the batch verdict
    set, (b) the converged index holds exactly one holder per distinct
    canonical address among allowed docs, (c) the streamed stage-0/1
    counts equal q_crawl_manifest's stage-1/2 ledger rows over the same
    corpus."""
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.dedup import HASH60_TPL
    from kafka_streams_dexcom_spark.operators.robots import (
        robots_verdicts,
    )
    from kafka_streams_dexcom_spark.queries.corpus import q_crawl_manifest

    drop = tmp_path / "drop2"
    drop.mkdir()
    docs_src = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    members = docs_src.select(
        F.col("doc_id").cast("string").alias("key"),
        F.lit("txt").alias("ext"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    write_webdataset(members, str(drop), n_shards=4)

    # the same planted address fixture crawl_manifest runs on, with
    # the source token reconstructed from doc_id (shard members carry
    # only (doc_id, text))
    src_expr = "concat('src', CAST(doc_id % 20 AS STRING))"
    url_expr = ux.messy_url_sql(source_expr=src_expr)
    um = load_table(spark, SF_DIR, "documents").select(
        "doc_id",
        F.expr(ux.canonical_url_sql(f"({ux.messy_url_sql()})")).alias(
            "url"
        ),
    ).select(
        "doc_id",
        "url",
        F.expr(ux.host_sql("url")).alias("host"),
        F.coalesce(F.expr(ux.path_sql("url")), F.lit("")).alias("path"),
    ).localCheckpoint()
    robots_df = um.select("host").distinct().select(
        "host", F.expr(ux.robots_txt_sql("host")).alias("body")
    ).localCheckpoint()

    cents = _centroids(spark)
    root = str(tmp_path / "views2")
    ckpt = str(tmp_path / "ckpt2")
    kwargs = dict(
        lineage_id=LINEAGE + "-crawl",
        threshold=THRESHOLD,
        robots=robots_df,
        url_expr=url_expr,
    )
    crash = _crash_after(
        CurationPipeline(spark, root, cents, **kwargs), "url_index", 1
    )
    with pytest.raises(Exception, match="injected crash"):
        _run_stream(spark, str(drop), ckpt, crash)
    clean = CurationPipeline(spark, root, cents, **kwargs)
    _run_stream(spark, str(drop), ckpt, clean)

    # (a) robots ledger == batch verdicts (despite the epoch replay)
    rv = robots_verdicts(um.select("doc_id", "host", "path"), robots_df)
    want_blocked = {
        r.doc_id for r in rv.filter("NOT allowed").collect()
    }
    got_blocked = {
        r.doc_id for r in clean.ledger("robots_blocked").collect()
    }
    assert got_blocked == want_blocked and got_blocked

    # (b) converged first-seen index: one holder per distinct
    # canonical address among ALLOWED docs, every holder a member of
    # its own address group
    allowed_urls = (
        um.join(
            spark.createDataFrame(
                [(d,) for d in want_blocked], "doc_id long"
            ),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", F.expr(HASH60_TPL.format(x="url")).alias("h"))
        .localCheckpoint()
    )
    idx = clean.url_index.index().localCheckpoint()
    assert idx.count() == allowed_urls.select("h").distinct().count()
    bad_holder = idx.join(
        allowed_urls.withColumnRenamed("h", "url_hash"),
        ["url_hash", "doc_id"],
        "left_anti",
    ).count()
    assert bad_holder == 0

    # (c) streamed stage counts == crawl_manifest stage-1/2 ledger
    led = {r.name: r for r in q_crawl_manifest(spark, SF_DIR).collect()}
    n_all = um.count()
    assert led["robots"].docs_in == n_all
    assert led["robots"].docs_out == n_all - len(want_blocked)
    assert led["url_dedup"].docs_out == idx.count()

    # the url_screen ledger accounts for every duplicate exactly
    dup_total = (
        clean.ledger("url_screen").filter("url_dup = 1").count()
    )
    assert dup_total == (n_all - len(want_blocked)) - idx.count()
