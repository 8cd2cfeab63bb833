"""Dedup queries over the `documents`/`embeddings` tables, with DuckDB
oracles generated from the same constants as the Spark pipeline
(functions.hashing.PERM_COEFFS), so both engines replay identical
arithmetic — including the md5-derived hashes and sequential-fold dot
products."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.hashing import MERSENNE_P, PERM_COEFFS
from kafka_streams_dexcom_spark.operators import dedup as dd
from kafka_streams_dexcom_spark.queries.duck import DUCK_HASH60, DUCK_TOKENS
from kafka_streams_dexcom_spark.sources.files import load_table

JACCARD_THRESHOLD = 0.2
NGRAM_THRESHOLD = 0.3
COSINE_THRESHOLD = 0.3
MAX_HAMMING = 8


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup — RefinedWeb/CCNet dedup stage 1 (runs BEFORE
    any content hashing; see functions/url.py): canonicalize each
    document's address (lowercase scheme/host, strip www/default
    port/fragment/tracking params/trailing slashes) and keep one
    survivor per canonical URL. Per canonical URL: min-id survivor,
    duplicate count, and the number of DISTINCT raw spellings merged
    (>1 ⟺ canonicalization actually earned the merge; the planted
    geometry rotates case/port/utm/fragment/www variants across docs
    sharing a page — and a kept non-tracking ?ref=a param pins that
    only the named policy is stripped).

    Scale: canonicalization is scan-side string expressions; the one
    shuffle groups 8-byte-ish canonical keys — at 100 TB this is the
    cheapest dedup stage there is, which is exactly why the crawl
    pipelines run it first."""
    return (
        url_map(spark, sf_dir)
        .groupBy("url")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.count_distinct("raw_url").alias("n_spellings"),
        )
    )


def url_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document URL projection (doc_id, raw_url, url, host,
    path), MATERIALIZED ONCE per (Spark application, corpus) and shared
    by every crawl-stage consumer — dedup_url, host_line_dedup,
    domain_mix, robots_filter, compliance_report, crawl_manifest,
    curation_manifest. A crawl pipeline parses every URL exactly once
    and publishes the address table; before round 12 each of those
    queries re-ran the canonicalize∘host regex pile independently
    (~70 µs/doc interpreted — the identified cost behind
    host_line_dedup's r11 ×1.61 and robots_filter's ×1.73), so
    consumers now plan against a flat narrow parquet scan. Oracles are
    unchanged: they replay the same expressions from the documents
    view, and the parquet round-trip is bit-exact."""
    import os

    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    def build() -> DataFrame:
        return (
            load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                F.expr(ux.messy_url_sql()).alias("raw_url"),
            )
            .select(
                "doc_id",
                "raw_url",
                F.expr(ux.canonical_url_sql("raw_url")).alias("url"),
            )
            .select(
                "doc_id",
                "raw_url",
                "url",
                F.expr(ux.host_sql("url")).alias("host"),
                F.coalesce(
                    F.expr(ux.path_sql("url")), F.lit("")
                ).alias("path"),
            )
        )

    return session_artifact(
        spark,
        "url_map",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        ),
        build,
    )


def _dedup_url_oracle() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux

    return f"""
        WITH u AS (
            SELECT doc_id, raw_url,
                   {ux.canonical_url_sql("raw_url", duck=True)} AS url
            FROM (
                SELECT doc_id, {ux.messy_url_sql(duck=True)} AS raw_url
                FROM documents
            )
        )
        SELECT url,
               min(doc_id) AS doc_id,
               count(*) AS dup_count,
               count(DISTINCT raw_url) AS n_spellings
        FROM u
        GROUP BY url
    """


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one survivor (min doc_id) per distinct text, with the
    duplicate count. Single shuffle on the text hash (never the full
    text — at 100 TB you shuffle 8-byte hashes, not documents)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn(
            "text_hash", F.expr(dd.HASH60_TPL.format(x="text"))
        )
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = dd.minhash_lsh_dedup(d, threshold=JACCARD_THRESHOLD)
    return out.select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash(d.select("doc_id", "text"))


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = dd.simhash(d.select("doc_id", "text"))
    return dd.simhash_pairs(fp, max_hamming=MAX_HAMMING).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_pairs_map(spark, sf_dir, threshold=NGRAM_THRESHOLD).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "jaccard",
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → connected components → dedup clusters: the final
    step of a dedup pipeline (drop everything but each cluster's min-id
    representative). Min-label propagation run to fixpoint (exact CC for
    any diameter); the oracle is an exact recursive-CTE CC, so parity
    holds on pathological chain graphs too, not just shallow blobs.

    Reads the shared materialized cluster map (see cluster_map): the CC
    node set is exactly the documents in clusters of size >= 2 (every
    node in the pair graph has a neighbor, and a component label is the
    min doc_id of its members, so it can never collide with a singleton's
    self-label)."""
    m = cluster_map(spark, sf_dir)
    sizes = m.groupBy(F.col("cluster").alias("sz_cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        m.join(
            sizes.where(F.col("n") >= 2),
            m.cluster == F.col("sz_cluster"),
        )
        .select(
            F.col("doc_id").alias("node"),
            F.col("cluster").alias("component"),
        )
    )


EVAL_SOURCE = "src0"

# The loosest Jaccard cutoff any registered consumer uses (the threshold
# curve sweeps down to 0.2); the shared pair artifact is built once at
# this cutoff and every tighter consumer is an exact filter of it.
NGRAM_PAIRS_BASE = 0.2


def ngram_pairs_map(
    spark: SparkSession, sf_dir: str, threshold: float = NGRAM_THRESHOLD
) -> DataFrame:
    """The near-dup candidate pair set (id_a, id_b, jaccard) over the
    documents corpus, MATERIALIZED ONCE per (Spark application, corpus)
    at the loosest registered cutoff and shared by every consumer —
    dedup_ngram_jaccard, the cluster-map build, cc_incremental_replay,
    dedup_cross_source, dedup_threshold_curve (five independent
    prefix-index pair computations before this). A pair at Jaccard 0.4
    is also a pair at 0.2, and the prefix filter is oracle-proven
    lossless at every threshold, so ``pairs(τ) ==
    pairs(base).filter(jaccard >= τ)`` exactly — the filter compares the
    same stored double both engines computed. At 100 TB the candidate
    pair table is the published output of the most expensive dedup
    stage; every policy query downstream reads it, none re-shingle the
    corpus.

    Cap-safety guard: the base prefix index is LOOSER than any tighter
    threshold's (longer prefixes → bigger buckets), so a bucket that
    exceeds NGRAM_MAX_BUCKET at base 0.2 but fits under it at τ=0.3
    would be dropped from the artifact while the direct computation
    keeps it — the filter identity above holds only when the cap never
    binds at base. A one-time per-(session, corpus) probe counts
    over-cap base buckets; if any exist, every call falls back to the
    direct per-threshold computation instead of serving a silently
    lossy artifact (correctness-first caching, same discipline as the
    threshold guard below)."""
    import os

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
        session_value,
    )

    if threshold < NGRAM_PAIRS_BASE:
        # looser than the artifact's base: the filter would silently
        # drop pairs — compute directly instead of serving a wrong set
        return dd.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=threshold
        )
    corpus_key = (
        os.path.abspath(sf_dir),
        corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
    )

    def _probe_cap_binds() -> int:
        docs = load_table(spark, sf_dir, "documents")
        pref = dd.prefix_index(
            dd.hashed_shingle_corpus(docs, "doc_id", "text", 3),
            "doc_id",
            NGRAM_PAIRS_BASE,
        )
        return dd.dropped_buckets(pref, ["sh"], dd.NGRAM_MAX_BUCKET).count()

    n_over_cap = session_value(
        spark, "ngram_pairs_cap_binds", corpus_key, _probe_cap_binds
    )
    if n_over_cap:
        import warnings

        warnings.warn(
            f"ngram_pairs_map: {n_over_cap} prefix bucket(s) exceed "
            f"NGRAM_MAX_BUCKET={dd.NGRAM_MAX_BUCKET} at base threshold "
            f"{NGRAM_PAIRS_BASE}; the shared pair artifact would be "
            "lossy for tighter thresholds — computing pairs directly "
            f"at threshold={threshold} instead.",
            stacklevel=2,
        )
        return dd.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"), threshold=threshold
        )
    base = session_artifact(
        spark,
        "ngram_pairs",
        (*corpus_key, NGRAM_PAIRS_BASE),
        lambda: dd.ngram_jaccard_pairs(
            load_table(spark, sf_dir, "documents"),
            threshold=NGRAM_PAIRS_BASE,
        ),
    )
    if threshold == NGRAM_PAIRS_BASE:
        return base
    return base.filter(F.col("jaccard") >= threshold)


def _cluster_members(
    spark: SparkSession, sf_dir: str, out_col: str = "cluster"
) -> DataFrame:
    """Shared near-dup cluster membership: ngram near-dup graph → exact
    connected components → (doc_id, <out_col>), singleton documents
    labeled with their own id. The single source of truth for every
    query whose policy hangs off cluster identity (survivor election,
    quality argmax, leakage-safe splitting) — the membership rule can
    only change in one place."""
    from kafka_streams_dexcom_spark.operators.graph import (
        connected_components,
    )

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_pairs_map(spark, sf_dir, threshold=NGRAM_THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    comp = connected_components(pairs)
    return (
        d.select("doc_id")
        .join(comp, d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(out_col),
        )
    )




def cluster_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup cluster map (doc_id, cluster), MATERIALIZED ONCE per
    (Spark application, corpus) and shared by every consumer —
    dedup_clusters, dedup_survivors, dedup_best_survivors,
    leakage_safe_split. At 100 TB connected components over the corpus
    is a published artifact that every downstream policy reads, never a
    subquery each consumer recomputes; this mirrors that contract at
    test scale (the four queries previously rebuilt the same
    ngram-candidate + CC pipeline from raw text, ~4x the cost of
    building it once).

    The artifact is a parquet directory under a per-process temp root,
    keyed by application id, and the root is removed at interpreter
    exit (atexit), so artifacts die with the process — nothing
    accumulates across CI/bench sessions. A new session (or a
    regenerated corpus, which only ever happens across sessions here)
    recomputes. Reading it back also cuts the CC lineage, so consumers
    plan against a flat scan of (doc_id, cluster), not the iterative
    graph pipeline."""
    import os

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    # the corpus fingerprint (file listing + sizes + mtimes) is part of
    # the key, so an in-session rewrite of documents.parquet recomputes
    # instead of serving stale labels — regeneration is no longer
    # assumed to be cross-session-only
    return session_artifact(
        spark,
        "cluster_map",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        ),
        lambda: _cluster_members(spark, sf_dir),
    )


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final materialization: every document mapped
    to its cluster canonical (min doc_id of its near-dup component; its
    own id if it has no near-dup), plus the keep/drop decision. This is
    the row a 100 TB dedup job actually writes back out."""
    return cluster_map(spark, sf_dir).select(
        "doc_id",
        F.col("cluster").alias("canonical_id"),
        keep_col().alias("is_survivor"),
    )


def q_dedup_best_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted survivor selection: per near-dup cluster keep
    the HIGHEST-QUALITY document (composite quality score, tie-break min
    doc_id) instead of the min-id — what a curation pipeline actually
    wants (the min-id policy can keep the worst copy). Composes the
    ngram near-dup graph -> exact connected components -> quality score
    -> argmax-per-cluster.

    Scale: the argmax is a hash aggregate over (score, -doc_id) structs
    — map-side combinable, never a window sort over the corpus; cluster
    membership joins on doc_id, both sides hash-partitioned."""
    from kafka_streams_dexcom_spark.operators.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    member = cluster_map(spark, sf_dir)
    q = quality_score(d).select("doc_id", "quality_score")
    scored = member.join(q, "doc_id")
    best = scored.groupBy("cluster").agg(
        F.max(
            F.struct(
                F.col("quality_score").alias("qs"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("b")
    )
    win = best.select(
        "cluster",
        (-F.col("b.neg_id")).cast("bigint").alias("kept_doc"),
    )
    return (
        scored.join(win, "cluster")
        .select(
            "doc_id",
            "cluster",
            "kept_doc",
            "quality_score",
            (F.col("doc_id") == F.col("kept_doc")).cast("int").alias(
                "is_kept"
            ),
        )
    )


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: treat source=src0 as the eval set
    and every other source as training data; report each eval doc's most
    contaminating train doc by n-gram containment."""
    d = load_table(spark, sf_dir, "documents")
    return dd.contamination_report(
        d.filter(F.col("source") == EVAL_SOURCE),
        d.filter(F.col("source") != EVAL_SOURCE),
    )


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return dd.embedding_cosine_pairs(e, threshold=COSINE_THRESHOLD).select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        "cos_sim",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest dedup: documents with doc_id % 10 == 0 play the NEW
    batch, the rest the existing corpus; emit each new doc's near-dups in
    the corpus (exact Jaccard >= threshold after LSH banding). The
    asymmetric production shape of dedup_minhash_lsh."""
    d = load_table(spark, sf_dir, "documents")
    return dd.incremental_minhash_dedup(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
        threshold=JACCARD_THRESHOLD,
    )


def q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by TRAINED IVF cells instead of
    the label column — the actual 100 TB configuration of
    dedup_embedding (labels don't exist in production; the coarse
    quantizer from kmeans_cells does). Pairs are generated only within a
    k-means cell, so candidate volume is Σ cell² under a learned,
    data-adaptive partition; the oracle replays the 3 Lloyd rounds and
    the in-cell pair generation exactly."""
    from kafka_streams_dexcom_spark.queries.similarity import (
        kmeans_cells_map,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cells = kmeans_cells_map(spark, sf_dir)
    base = e.join(cells, "vec_id")
    return dd.embedding_cosine_pairs(
        base, block_col="cell", threshold=COSINE_THRESHOLD
    ).select(
        F.col("vec_id_a").alias("vec_a"),
        F.col("vec_id_b").alias("vec_b"),
        "cos_sim",
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over the
    embedding near-dup graph (operators/graph.py:triangle_counts) —
    distinguishes clique-like duplicate blobs from chain-like
    transitive noise before committing to cluster-level dedup."""
    from kafka_streams_dexcom_spark.operators.graph import triangle_counts

    e = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_cosine_pairs(e, threshold=COSINE_THRESHOLD)
    return triangle_counts(pairs, a_col="vec_id_a", b_col="vec_id_b")


TRI_DEGREE_CAP = 2  # small on purpose: exercises the cap on testdata


def q_triangle_count_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped triangle counting — the 100 TB-safe variant. The
    path join emits deg(v)^2 wedges per pivot, so one celebrity node
    makes the uncapped join quadratic in its degree; here heavy nodes
    (degree > cap, a tiny broadcast set) are anti-joined out first and
    counting is EXACT on the capped subgraph. Cap is 2 at test scale so
    the filter path is actually exercised (max degree on testdata is 3);
    production would use ~1000."""
    from kafka_streams_dexcom_spark.operators.graph import triangle_counts

    e = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_cosine_pairs(e, threshold=COSINE_THRESHOLD)
    return triangle_counts(
        pairs, a_col="vec_id_a", b_col="vec_id_b", max_degree=TRI_DEGREE_CAP
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplicate accounting: how many of each source's
    documents survive hash dedup (min-doc_id policy) and the duplicate
    rate — the 'which source is polluting the corpus' curation view.
    One hash groupBy for survivor election (the 8-byte text hash, never
    the text) + a bounded per-source rollup.

    Survivor election is a min(doc_id) window over the hash — ONE
    shuffle on the 8-byte hash and no join at all. (The previous shape
    broadcast the survivor table, which is corpus-sized — one row per
    distinct text — and would blow the broadcast limit at 100 TB.)"""
    from pyspark.sql import Window

    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id", "source", F.expr(dd.HASH60_TPL.format(x="text")).alias("h")
    )
    marked = hashed.select(
        "source",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("h"))
        ).cast("int").alias("kept"),
    )
    n = F.count(F.lit(1))
    k = F.sum("kept")
    return marked.groupBy("source").agg(
        n.alias("n_docs"),
        k.cast("bigint").alias("n_kept"),
        trunc6(
            (n - k).cast("double") / n.cast("double")
        ).alias("dup_rate"),
    )


def q_source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE-sketch demo: per-source MinHash signatures built as
    min-of-document-minima (a MinHash of a union IS the elementwise min
    of the parts' signatures — the property that lets 1000 executors
    sketch shards independently and merge in one tiny reduce), then
    pairwise estimated Jaccard (signature agreement / 16) side-by-side
    with the exact shingle-set Jaccard so the sketch error is visible.

    Scale: ONE shingle-hash pipeline feeds both legs (round-12 rework;
    previously the per-doc signature chain — materialize + 16 array_min
    transforms per doc + a doc_id join back to source — ran beside the
    exact leg's explode). min is associative and the permutation is a
    pure function of the 60-bit shingle hash, so
    min-of-document-minima == min over the DISTINCT (source, h) set:
    the source signature is a 16-column min aggregate over the same
    exploded table the exact leg already builds. Exact Jaccard runs on
    distinct (source, shingle-hash) pairs via the bucket combination
    generator — bounded by C(sources, 2) pairs per shingle."""
    from kafka_streams_dexcom_spark.sources.files import fan_out_small

    d = load_table(spark, sf_dir, "documents")
    t = dd.tokenize(fan_out_small(d.select("source", "text")), "text")
    t = t.filter(F.size("tokens") >= 3)
    # no materialize barrier: explode is the array's ONLY consumer, so
    # Generate evaluates it once per input row (the recompute trap needs
    # multiple sibling consumers); measured 1.1 s vs 1.9 s with the
    # barrier's extra array shuffle
    hashed = t.select(
        "source",
        F.expr(
            f"transform({dd._shingle_expr('tokens', 3)}, "
            f"x -> {dd.HASH60_TPL.format(x='x')})"
        ).alias("sh_hashes"),
    )
    # (source, hash) vocabulary feeds the sketch aggregate, the pair
    # generator and the per-source sizes — one distinct, materialized once
    sh = (
        hashed.select("source", F.explode("sh_hashes").alias("h"))
        .distinct()
        .localCheckpoint()
    )
    per_source = sh.groupBy("source").agg(
        *[
            F.min(
                F.expr(
                    f"(h % {MERSENNE_P} * {PERM_COEFFS[i][0]}L "
                    f"+ {PERM_COEFFS[i][1]}L) % {MERSENNE_P}"
                )
            ).alias(f"m{i}")
            for i in range(dd.NUM_PERM)
        ]
    ).localCheckpoint()  # consumed by both self-join sides; 20 rows
    a = per_source.select(
        F.col("source").alias("src_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(dd.NUM_PERM)],
    )
    b = per_source.select(
        F.col("source").alias("src_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(dd.NUM_PERM)],
    )
    matches = None
    for i in range(dd.NUM_PERM):
        t = (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        matches = t if matches is None else matches + t
    est = a.join(b, F.col("src_a") < F.col("src_b")).select(
        "src_a",
        "src_b",
        (matches.cast("double") / F.lit(float(dd.NUM_PERM))).alias(
            "est_jaccard"
        ),
    )
    inter = (
        dd.pairs_within_buckets(
            sh, ["h"], F.struct(F.col("source").alias("id"))
        )
        .select(
            F.col("pair_a.id").alias("src_a"),
            F.col("pair_b.id").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    vocab = sh.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    exact = (
        inter.join(
            F.broadcast(
                vocab.select(
                    F.col("source").alias("src_a"),
                    F.col("v").alias("va"),
                )
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                vocab.select(
                    F.col("source").alias("src_b"),
                    F.col("v").alias("vb"),
                )
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            trunc6(
                F.col("n_common").cast("double")
                / (F.col("va") + F.col("vb") - F.col("n_common")).cast(
                    "double"
                )
            ).alias("exact_jaccard"),
        )
    )
    return est.join(exact, ["src_a", "src_b"], "left").na.fill(
        0.0, ["exact_jaccard"]
    )


PR_ROUNDS = 3


def q_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the embedding near-dup pair graph — similarity-graph
    centrality for corpus curation (central docs are cluster-typical;
    peripheral docs are outliers worth review). Fixed-point BIGINT
    arithmetic makes the iterative rank bit-identical on any
    partitioning and exactly replayable by the unrolled SQL oracle
    (operators/graph.py:pagerank)."""
    from kafka_streams_dexcom_spark.operators.graph import pagerank

    e = load_table(spark, sf_dir, "embeddings")
    pairs = dd.embedding_cosine_pairs(e, threshold=COSINE_THRESHOLD)
    return pagerank(
        pairs, a_col="vec_id_a", b_col="vec_id_b", rounds=PR_ROUNDS
    )


# --- oracle SQL generation -------------------------------------------------


def _duck_shingles_cte() -> str:
    h = DUCK_HASH60.format(x="x")
    return f"""
        toks AS (
            -- non-empty tokens, matching operators/dedup.py:tokenize
            -- (leading whitespace must not shift shingles/votes)
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS t
            FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
            FROM toks WHERE len(t) >= 3
        ),
        hs AS (
            -- full 60-bit fingerprints (operators/dedup.hashed_shingle_corpus
            -- round-12 fix); minhash reduces to [0, P) per permutation
            SELECT doc_id, s,
                   list_transform(s, x -> {h}) AS h
            FROM sh
        )
    """


def _sig_band_elems() -> tuple[str, str]:
    """Shared minhash signature + band-hash SQL fragments (one copy for
    both the symmetric and the incremental oracle — a banding change
    must reach both or the two silently diverge)."""
    sig_elems = ", ".join(
        f"list_min(list_transform(h, v -> (v % {MERSENNE_P} * {a} + {b}) % {MERSENNE_P}))"
        for a, b in PERM_COEFFS[: dd.NUM_PERM]
    )
    band_elems = []
    for bidx in range(dd.NUM_BANDS):
        parts = " || ',' || ".join(
            f"CAST(sig[{bidx * dd.ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(dd.ROWS_PER_BAND)
        )
        band_elems.append(DUCK_HASH60.format(x=f"({parts})"))
    return sig_elems, ", ".join(band_elems)


def _minhash_oracle() -> str:
    sig_elems, bands_list = _sig_band_elems()
    return f"""
        WITH {_duck_shingles_cte()},
        sig AS (
            SELECT doc_id, [{sig_elems}] AS sig FROM hs
        ),
        bands AS (
            SELECT doc_id, bi - 1 AS band_idx, bh[bi] AS band_hash
            FROM (SELECT doc_id, [{bands_list}] AS bh FROM sig),
                 generate_series(1, {dd.NUM_BANDS}) AS g(bi)
        ),
        bsz AS (
            SELECT band_idx, band_hash, count(*) AS c
            FROM bands GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
            JOIN bsz s
              ON s.band_idx = a.band_idx AND s.band_hash = a.band_hash
            WHERE s.c <= {dd.LSH_MAX_BUCKET}
        )
        SELECT doc_a, doc_b,
               floor(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                     / CAST(len(x.s) + len(y.s)
                            - len(list_intersect(x.s, y.s)) AS DOUBLE)
                     * 1000000) / 1000000.0 AS jaccard
        FROM cand
        JOIN sh x ON x.doc_id = doc_a
        JOIN sh y ON y.doc_id = doc_b
        WHERE floor(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                    / CAST(len(x.s) + len(y.s)
                           - len(list_intersect(x.s, y.s)) AS DOUBLE)
                    * 1000000) / 1000000.0 >= {JACCARD_THRESHOLD}
    """


def _incremental_oracle() -> str:
    """Two-sided replay of _minhash_oracle: new batch (doc_id % 10 = 0)
    banded against the corpus, corpus-side bucket cap, exact-Jaccard
    verify."""
    sig_elems, bands_list = _sig_band_elems()
    jac = (
        "floor(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)"
        " / CAST(len(x.s) + len(y.s)"
        " - len(list_intersect(x.s, y.s)) AS DOUBLE)"
        " * 1000000) / 1000000.0"
    )
    return f"""
        WITH {_duck_shingles_cte()},
        sig AS (
            SELECT doc_id, [{sig_elems}] AS sig FROM hs
        ),
        bands AS (
            SELECT doc_id, bi - 1 AS band_idx, bh[bi] AS band_hash
            FROM (SELECT doc_id, [{bands_list}] AS bh FROM sig),
                 generate_series(1, {dd.NUM_BANDS}) AS g(bi)
        ),
        nb AS (SELECT * FROM bands WHERE doc_id % 10 = 0),
        cb AS (SELECT * FROM bands WHERE doc_id % 10 != 0),
        bsz AS (
            SELECT band_idx, band_hash, count(*) AS c
            FROM cb GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS old_id
            FROM nb n JOIN cb c
              ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash
            JOIN bsz s
              ON s.band_idx = n.band_idx AND s.band_hash = n.band_hash
            WHERE s.c <= {dd.LSH_MAX_BUCKET}
        )
        SELECT new_id, old_id, {jac} AS jaccard
        FROM cand
        JOIN sh x ON x.doc_id = new_id
        JOIN sh y ON y.doc_id = old_id
        WHERE {jac} >= {JACCARD_THRESHOLD}
    """


def _simhash_expr_duck() -> str:
    h = DUCK_HASH60.format(x="x")
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, v -> ((v >> {i}) & 1) = 1)) "
        f"> len(th) THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(dd.SIMHASH_BITS)
    )
    return f"""
        toks AS (
            -- non-empty tokens, matching operators/dedup.py:tokenize
            -- (leading whitespace must not shift shingles/votes)
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS t
            FROM documents
        ),
        th_cte AS (
            SELECT doc_id,
                   list_transform(t, x -> {h}) AS th
            FROM toks WHERE len(t) >= 1
        ),
        fp AS (
            SELECT doc_id, {terms} AS simhash FROM th_cte
        )
    """


def _simhash_oracle() -> str:
    return f"WITH {_simhash_expr_duck()} SELECT doc_id, simhash FROM fp"


def hamming_sql(a: str, b: str, words) -> str:
    """DuckDB Hamming distance between the fingerprints whose integer
    ``words`` are read as ``{a}{w}`` and ``{b}{w}``: summed XOR
    popcounts, as BIGINT."""
    pop = " + ".join(f"bit_count(xor({a}{w}, {b}{w}))" for w in words)
    return f"CAST({pop} AS BIGINT)"


def banded_pairs_sql(
    fp: str,
    *,
    words,
    bands,
    max_hamming: int,
    max_bucket: int,
    oriented: bool = False,
) -> str:
    """DuckDB banded-pair replay over the CTE ``fp`` (doc_id, *words
    [, orient]): CTEs ending in ``pairs(id_a, id_b, hamming)``. Band j
    is the SQL expression ``bands[j]``; a (band_idx, band_val) bucket
    holding more than ``max_bucket`` rows pairs nothing, and a pair is
    kept at Hamming distance <= ``max_hamming``. Plain: each bucket
    pairs its docs once, id_a < id_b. Oriented: L = orientation-0 rows
    against R = all rows, the cap counted on R, min Hamming per
    unordered pair."""
    band_val = " ".join(f"WHEN {j} THEN {b}" for j, b in enumerate(bands))

    def side(name: str, where: str = "") -> str:
        return f"""{name} AS (
            SELECT doc_id, {", ".join(words)}, bi AS band_idx,
                   CASE bi {band_val} END AS band_val
            FROM {fp}, generate_series(0, {len(bands) - 1}) gs(bi) {where}
        )"""

    if oriented:
        sides = f"{side('l_bands', 'WHERE orient = 0')}, {side('r_bands')}"
        id_a = "least(l.doc_id, r.doc_id)"
        id_b = "greatest(l.doc_id, r.doc_id)"
        on = "l.doc_id <> r.doc_id"
        pairs = f"""SELECT id_a, id_b, min(hamming) AS hamming FROM cand
            GROUP BY id_a, id_b HAVING min(hamming) <= {max_hamming}"""
    else:
        sides = f"{side('l_bands')}, r_bands AS (SELECT * FROM l_bands)"
        id_a, id_b, on = "l.doc_id", "r.doc_id", "l.doc_id < r.doc_id"
        pairs = f"""SELECT DISTINCT id_a, id_b, hamming FROM cand
            WHERE hamming <= {max_hamming}"""
    return f"""
        {sides},
        bsz AS (
            SELECT band_idx, band_val, count(*) AS c
            FROM r_bands GROUP BY 1, 2
        ),
        cand AS (
            SELECT {id_a} AS id_a, {id_b} AS id_b,
                   {hamming_sql("l.", "r.", words)} AS hamming
            FROM l_bands l JOIN r_bands r
              ON l.band_idx = r.band_idx AND l.band_val = r.band_val
             AND {on}
            JOIN bsz s
              ON s.band_idx = l.band_idx AND s.band_val = l.band_val
            WHERE s.c <= {max_bucket}
        ),
        pairs AS ({pairs})
    """


def _simhash_pairs_oracle() -> str:
    # Mirrors simhash_pairs exactly: 15-bit bands over the 60-bit
    # fingerprint, and the same max_bucket cap on band buckets (buckets
    # larger than the cap contribute no candidate pairs on either engine).
    mask = (1 << dd.SIMHASH_BAND_BITS) - 1
    pairs = banded_pairs_sql(
        "fp",
        words=("simhash",),
        bands=[
            f"(simhash >> {dd.SIMHASH_BAND_BITS * j}) & {mask}"
            for j in range(dd.SIMHASH_BANDS)
        ],
        max_hamming=MAX_HAMMING,
        max_bucket=dd.SIMHASH_MAX_BUCKET,
    )
    return f"""
        WITH {_simhash_expr_duck()}, {pairs}
        SELECT id_a AS doc_a, id_b AS doc_b, hamming FROM pairs
    """


def _ngram_jaccard_oracle(threshold: float = NGRAM_THRESHOLD) -> str:
    return f"""
        WITH {_duck_shingles_cte()},
        inv AS (
            SELECT doc_id, len(s) AS set_size, unnest(s) AS shingle FROM sh
        ),
        shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.set_size AS size_a, b.set_size AS size_b,
                   count(*) AS inter
            FROM inv a JOIN inv b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               floor(CAST(inter AS DOUBLE)
                     / CAST(size_a + size_b - inter AS DOUBLE)
                     * 1000000) / 1000000.0 AS jaccard
        FROM shared
        WHERE floor(CAST(inter AS DOUBLE)
                    / CAST(size_a + size_b - inter AS DOUBLE)
                    * 1000000) / 1000000.0
              >= {threshold}
    """


def _embedding_oracle() -> str:
    dot = "list_inner_product({a}, {b})"  # = the sequential fold, bit-identical (see queries/similarity._DOT)
    return f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM v
        ),
        pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round({dot.format(a='a.vec', b='b.vec')}
                         / (a.norm * b.norm), 6) AS cos_sim
            FROM n a JOIN n b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE a.norm > 0 AND b.norm > 0
        )
        SELECT vec_a, vec_b, cos_sim FROM pairs
        WHERE cos_sim >= {COSINE_THRESHOLD}
    """


def _source_minhash_oracle() -> str:
    sig_elems = ", ".join(
        f"list_min(list_transform(h, v -> (v % {MERSENNE_P} * {a} + {b}) % {MERSENNE_P}))"
        for a, b in PERM_COEFFS[: dd.NUM_PERM]
    )
    mins = ", ".join(
        f"min(sig[{i + 1}]) AS m{i}" for i in range(dd.NUM_PERM)
    )
    agree = " + ".join(
        f"(CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END)"
        for i in range(dd.NUM_PERM)
    )
    return f"""
        WITH {_duck_shingles_cte()},
        ds AS (
            SELECT h.doc_id, d.source, [{sig_elems}] AS sig
            FROM hs h JOIN documents d ON d.doc_id = h.doc_id
        ),
        ps AS (
            SELECT source, {mins} FROM ds GROUP BY source
        ),
        est AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   CAST(({agree}) AS DOUBLE) / {float(dd.NUM_PERM)}
                       AS est_jaccard
            FROM ps a JOIN ps b ON a.source < b.source
        ),
        sh2 AS (
            SELECT DISTINCT d.source, unnest(h.h) AS hv
            FROM hs h JOIN documents d ON d.doc_id = h.doc_id
        ),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_common
            FROM sh2 a JOIN sh2 b
              ON a.hv = b.hv AND a.source < b.source
            GROUP BY a.source, b.source
        ),
        vocab AS (
            SELECT source, count(*) AS v FROM sh2 GROUP BY source
        )
        SELECT e.src_a, e.src_b, e.est_jaccard,
               COALESCE(floor(CAST(i.n_common AS DOUBLE)
                   / CAST(va.v + vb.v - i.n_common AS DOUBLE)
                   * 1000000) / 1000000.0, 0.0) AS exact_jaccard
        FROM est e
        LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
        LEFT JOIN vocab va ON va.source = e.src_a
        LEFT JOIN vocab vb ON vb.source = e.src_b
    """


def _pagerank_oracle() -> str:
    """Unrolled fixed-point PageRank over the embedding pair graph —
    identical integer arithmetic to operators/graph.py:pagerank, so the
    match is exact (no float tolerance anywhere)."""
    dot = "list_inner_product({a}, {b})"  # = the sequential fold, bit-identical (see queries/similarity._DOT)
    unit, dn, dd_ = 1_000_000_000_000, 85, 100
    base = f"(({unit} * {dd_ - dn}) // {dd_}) // n_nodes"
    rounds_sql = []
    for k in range(1, PR_ROUNDS + 1):
        rounds_sql.append(f"""
        s{k} AS (
            SELECT e.v AS node, sum(p.pr // p.deg) AS s
            FROM edges e JOIN p{k - 1} p ON e.u = p.node
            GROUP BY e.v
        ),
        p{k} AS (
            SELECT p.node, p.deg,
                   {base} + ({dn} * coalesce(s.s, 0) // {dd_}) AS pr
            FROM p{k - 1} p CROSS JOIN nn LEFT JOIN s{k} s
              ON s.node = p.node
        )""")
    return f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM v
        ),
        prp AS (
            SELECT a.vec_id AS u0, b.vec_id AS v0
            FROM n a JOIN n b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE a.norm > 0 AND b.norm > 0
              AND round({dot.format(a='a.vec', b='b.vec')}
                        / (a.norm * b.norm), 6) >= {COSINE_THRESHOLD}
        ),
        edges AS (
            SELECT u0 AS u, v0 AS v FROM prp
            UNION ALL
            SELECT v0 AS u, u0 AS v FROM prp
        ),
        deg AS (SELECT u, count(*) AS deg FROM edges GROUP BY u),
        nn AS (SELECT count(*) AS n_nodes FROM deg),
        p0 AS (
            SELECT u AS node, deg, {unit} // n_nodes AS pr
            FROM deg CROSS JOIN nn
        ),{",".join(rounds_sql)}
        SELECT node, CAST(pr AS BIGINT) AS pr_units,
               (pr // 1000) / 1000000000.0 AS pagerank
        FROM p{PR_ROUNDS}
    """


def _embedding_ivf_oracle() -> str:
    """Replay the Lloyd rounds (kmeans_oracle_ctes), then the in-cell
    pair generation with the same cosine fold as _embedding_oracle."""
    from kafka_streams_dexcom_spark.queries.similarity import (
        KMEANS_ITERS,
        kmeans_oracle_ctes,
    )

    dot = "list_inner_product({a}, {b})"  # = the sequential fold, bit-identical (see queries/similarity._DOT)
    ctes = kmeans_oracle_ctes()
    final = f"a{KMEANS_ITERS}"
    # MATERIALIZED: nn feeds BOTH join sides — plain-CTE inlining would
    # replay the whole Lloyd chain once per side (the er_customer_golden
    # lesson; bit at sf1, where the replay is minutes). The cosine fold
    # is computed ONCE in a subquery and filtered outside — the
    # SELECT+WHERE double fold was 2x the per-pair lambda cost at ~25M
    # in-cell pairs.
    ctes.append(f"""nn AS MATERIALIZED (
            SELECT vid, cid, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM {final}
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT a.vid AS vec_a, b.vid AS vec_b,
                   round({dot.format(a='a.vec', b='b.vec')}
                         / (a.norm * b.norm), 6) AS cos_sim
            FROM nn a JOIN nn b
              ON a.cid = b.cid AND a.vid < b.vid
            WHERE a.norm > 0 AND b.norm > 0
        ) WHERE cos_sim >= {COSINE_THRESHOLD}
    """
    )


def _triangle_oracle(max_degree: int | None = None) -> str:
    dot = "list_inner_product({a}, {b})"  # = the sequential fold, bit-identical (see queries/similarity._DOT)
    if max_degree is None:
        cap_ctes = "e AS (SELECT a, b FROM e0),"
    else:
        cap_ctes = f"""deg0 AS (
            SELECT node, count(*) AS d0 FROM (
                SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0
            ) GROUP BY node
        ),
        hot AS (SELECT node FROM deg0 WHERE d0 > {max_degree}),
        e AS (
            SELECT a, b FROM e0
            WHERE a NOT IN (SELECT node FROM hot)
              AND b NOT IN (SELECT node FROM hot)
        ),"""
    return f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, label, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM v
        ),
        e0 AS (
            SELECT a.vec_id AS a, b.vec_id AS b
            FROM n a JOIN n b
              ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE a.norm > 0 AND b.norm > 0
              AND round({dot.format(a='a.vec', b='b.vec')}
                        / (a.norm * b.norm), 6) >= {COSINE_THRESHOLD}
        ),
        {cap_ctes}
        tri AS (
            SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM e e1
            JOIN e e2 ON e1.b = e2.a
            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corner AS (
            SELECT node, count(*) AS triangles FROM (
                SELECT u AS node FROM tri
                UNION ALL SELECT v FROM tri
                UNION ALL SELECT w FROM tri
            ) GROUP BY node
        ),
        deg AS (
            SELECT node, count(*) AS degree FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e
            ) GROUP BY node
        )
        SELECT d.node, d.degree,
               CAST(coalesce(c.triangles, 0) AS BIGINT) AS triangles,
               CASE WHEN d.degree >= 2 THEN
                   floor(CAST(2 * coalesce(c.triangles, 0) AS DOUBLE)
                         / CAST(d.degree * (d.degree - 1) AS DOUBLE)
                         * 1000000) / 1000000.0
               ELSE 0.0 END AS clustering
        FROM deg d LEFT JOIN corner c ON c.node = d.node
    """


def cc_doubling_sql(edges: str = "edges", rounds: int = 64) -> str:
    """Exact connected components as a CTE chain for DEEP graphs:
    ``rounds`` unrolled layers of min-neighbor HOOKING + one
    pointer-doubling self-jump (label ← label-of-label against the same
    layer), the SQL twin of operators/graph.connected_components.

    Why not the recursive-CTE reachability oracle (_cc_oracle): plain
    ``WITH RECURSIVE`` reach accumulates Σ size² (node, label) rows over
    O(diameter) iterations — on the customer-name digit-edit chains
    (hundreds of hops deep) that is ~300s at sf0.1, 70x the engine
    query it checks. Doubling halves the remaining pointer depth each
    layer, so 20 layers cover any component whose min-label path is
    ≤ 2^20 hops at a few ms per layer.

    Each layer is ``AS MATERIALIZED``: DuckDB 1.0 INLINES plain CTEs,
    and layer i references layer i-1 twice — without materialization
    the expansion is 2^rounds scans ("too many open files", then heat
    death).

    Emits ``comp(node, component)`` plus ``cc_bad(n)``, the count of
    edges whose endpoints still disagree. The CONSUMER's final SELECT
    must append ``AND/WHERE (SELECT n FROM cc_bad) = 0`` — an
    unconverged run then returns ZERO rows (a loud rows_match failure)
    instead of silently returning partial labels. The guard cannot live
    on ``comp`` itself: downstream LEFT JOIN + coalesce(component, id)
    patterns would quietly turn an empty comp into all-singletons.

    Exactness when the guard passes: labels start as identity, only
    ever copy node ids, and are monotone non-increasing, so each
    component's minimum node keeps its own id; if every edge's
    endpoints agree, each component is uniformly labeled — necessarily
    with that minimum."""
    ctes = [
        f"l0 AS MATERIALIZED ("
        f"SELECT DISTINCT u AS node, u AS label FROM {edges})"
    ]
    prev = "l0"
    for i in range(1, rounds + 1):
        hook, cur = f"h{i}", f"l{i}"
        ctes.append(
            f"""{hook} AS MATERIALIZED (
            SELECT n.node, LEAST(n.label, COALESCE(mm.nl, n.label)) AS label
            FROM {prev} n LEFT JOIN (
                SELECT e.u AS hk_node, MIN(l.label) AS nl
                FROM {edges} e JOIN {prev} l ON e.v = l.node GROUP BY e.u
            ) mm ON n.node = mm.hk_node)"""
        )
        ctes.append(
            f"""{cur} AS MATERIALIZED (
            SELECT h.node, LEAST(h.label, COALESCE(l2.label, h.label)) AS label
            FROM {hook} h LEFT JOIN {hook} l2 ON h.label = l2.node)"""
        )
        prev = cur
    ctes.append(
        f"""cc_bad AS (
        SELECT COUNT(*) AS n FROM {edges} e
        JOIN {prev} a ON e.u = a.node JOIN {prev} b ON e.v = b.node
        WHERE a.label <> b.label)"""
    )
    ctes.append(
        f"comp AS (SELECT node, label AS component FROM {prev})"
    )
    return ",\n".join(ctes)


def _cc_chain() -> str:
    """The shared CC oracle CTE chain over the ngram near-dup graph:
    MATERIALIZED pairs → MATERIALIZED symmetric edges → the
    pointer-doubling layers (cc_doubling_sql) → ``comp(node,
    component)`` + the ``cc_bad`` convergence counter. Every consumer
    composes this FLAT (one WITH) and appends ``{_CC_GUARD}`` to its
    final SELECT.

    This replaced the recursive-CTE reachability form in round 12
    (verdict item 8): DuckDB re-derives a plain CTE referenced inside a
    recursive body PER ITERATION, so the inlined shingle self-join edge
    list was recomputed every reachability step — affordable standalone
    at sf1 but >78 GB of disk spill inside the crawl_manifest
    composition (r11), and fatal for the whole family at the sf10 gate
    this chain now passes."""
    return f"""p AS MATERIALIZED ({_ngram_jaccard_oracle()}),
        cc_edges AS MATERIALIZED (
            SELECT doc_a AS u, doc_b AS v FROM p
            UNION
            SELECT doc_b AS u, doc_a AS v FROM p
        ),
        {cc_doubling_sql("cc_edges")}"""


# convergence guard — consumers append to their FINAL select (0 rows on
# a non-converged doubling run = loud rows_match failure; see
# cc_doubling_sql docstring for why it can't live on comp itself)
_CC_GUARD = "(SELECT n FROM cc_bad) = 0"


def _cc_oracle() -> str:
    """Exact connected components over the ngram near-dup graph —
    standalone form of :func:`_cc_chain` with the guard folded into
    the final select."""
    return f"""
        WITH {_cc_chain()}
        SELECT node, component FROM comp WHERE {_CC_GUARD}
    """


def _best_survivors_oracle() -> str:
    """Doubling-chain exact CC (_cc_chain, flat — no nested
    re-derivation) + the shared quality-score fragment
    (queries/text.py:quality_score_sql), argmax per cluster via
    row_number — mirrors q_dedup_best_survivors."""
    from kafka_streams_dexcom_spark.queries.text import quality_score_sql

    return f"""
        WITH {_cc_chain()},
        q AS ({quality_score_sql()}),
        member AS (
            SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        ),
        scored AS (
            SELECT m.doc_id, m.cluster, q.quality_score
            FROM member m JOIN q ON m.doc_id = q.doc_id
        ),
        best AS (
            SELECT cluster, doc_id AS kept_doc FROM (
                SELECT cluster, doc_id,
                       row_number() OVER (
                           PARTITION BY cluster
                           ORDER BY quality_score DESC, doc_id ASC
                       ) AS rn
                FROM scored
            ) WHERE rn = 1
        )
        SELECT s.doc_id, s.cluster, b.kept_doc, s.quality_score,
               CAST(CASE WHEN s.doc_id = b.kept_doc THEN 1 ELSE 0 END
                    AS INTEGER) AS is_kept
        FROM scored s JOIN best b ON s.cluster = b.cluster
        WHERE {_CC_GUARD}
    """


def _survivors_oracle() -> str:
    return f"""
        WITH {_cc_chain()}
        SELECT d.doc_id,
               coalesce(c.component, d.doc_id) AS canonical_id,
               CAST(coalesce(c.component, d.doc_id) = d.doc_id AS INT)
                   AS is_survivor
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        WHERE {_CC_GUARD}
    """


def _contamination_oracle() -> str:
    cont = (
        "floor(CAST(inter AS DOUBLE) / CAST(esz AS DOUBLE) * 1000000)"
        " / 1000000.0"
    )
    return f"""
        WITH {_duck_shingles_cte()},
        einv AS (
            SELECT s.doc_id AS e_id, len(s.s) AS esz,
                   unnest(s.s) AS shingle
            FROM sh s JOIN documents d ON d.doc_id = s.doc_id
            WHERE d.source = '{EVAL_SOURCE}'
        ),
        tinv AS (
            SELECT s.doc_id AS t_id, unnest(s.s) AS shingle
            FROM sh s JOIN documents d ON d.doc_id = s.doc_id
            WHERE d.source <> '{EVAL_SOURCE}'
        ),
        shared AS (
            SELECT e_id, t_id, esz, count(*) AS inter
            FROM einv JOIN tinv USING (shingle)
            GROUP BY 1, 2, 3
        ),
        ranked AS (
            SELECT e_id, t_id, {cont} AS cont,
                   row_number() OVER (
                       PARTITION BY e_id
                       ORDER BY {cont} DESC, t_id ASC
                   ) AS rk
            FROM shared
        ),
        top AS (SELECT e_id, t_id, cont FROM ranked WHERE rk = 1)
        SELECT d.doc_id AS eval_doc, t.t_id AS train_doc,
               coalesce(t.cont, 0.0) AS containment
        FROM documents d
        LEFT JOIN top t ON t.e_id = d.doc_id
        WHERE d.source = '{EVAL_SOURCE}'
    """


def q_er_fuzzy_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution (operators/dedup.py:
    fuzzy_blocked_pairs): customer-name pairs within (nation, name
    length) blocks at Levenshtein distance <= 1 — the record-linkage
    primitive (same-entity candidates across dirty registries).
    Position-parity pigeonhole blocking (operators/dedup.py:
    fuzzy_pigeonhole_pairs) keeps candidates near-linear; the
    levenshtein verify runs JVM-side in codegen. Oracle is the
    exhaustive within-block self-join, proving the pigeonhole
    candidate generator lossless.

    The pair set is a session artifact shared with er_customer_golden
    (the MDM election downstream) — at 100 TB the linkage pair table is
    the published output of the matching stage that both the review
    queue and the golden-record build read, never recomputed per
    consumer."""
    import os

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    return session_artifact(
        spark,
        "er_fuzzy_pairs",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "customer.parquet")),
        ),
        lambda: er_fuzzy_pairs_pipeline(spark, sf_dir),
    )


def er_fuzzy_pairs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw linkage pair pipeline q_er_fuzzy_customers materializes
    (exposed separately so plan tests assert the GENERATION shape — the
    artifact wrapper's own plan is deliberately a flat parquet scan)."""
    c = load_table(spark, sf_dir, "customer")
    return dd.fuzzy_pigeonhole_pairs(
        c.select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.length("c_name").alias("name_len"),
        ),
        ["c_nationkey", "name_len"],
        id_col="c_custkey",
        text_col="c_name",
        max_bucket=None,
    )



QUERIES = {
    "dedup_url": q_dedup_url,
    "dedup_exact": q_dedup_exact,
    "dedup_survivors": q_dedup_survivors,
    "dedup_best_survivors": q_dedup_best_survivors,
    "contamination_check": q_contamination_check,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_embedding": q_dedup_embedding,
    "pagerank_centrality": q_pagerank_centrality,
    "dedup_incremental": q_dedup_incremental,
    "triangle_count": q_triangle_count,
    "triangle_count_capped": q_triangle_count_capped,
    "dedup_embedding_ivf": q_dedup_embedding_ivf,
    "source_minhash_jaccard": q_source_minhash_jaccard,
    "dedup_rate_by_source": q_dedup_rate_by_source,
    "er_fuzzy_customers": q_er_fuzzy_customers,
}

ORACLES = {
    "dedup_url": _dedup_url_oracle(),
    "er_fuzzy_customers": """
        SELECT c1.c_custkey AS c_custkey_a, c2.c_custkey AS c_custkey_b,
               CAST(levenshtein(c1.c_name, c2.c_name) AS INTEGER) AS dist
        FROM customer c1
        JOIN customer c2
          ON c1.c_nationkey = c2.c_nationkey
         AND length(c1.c_name) = length(c2.c_name)
         AND c1.c_custkey < c2.c_custkey
        WHERE levenshtein(c1.c_name, c2.c_name) <= 1
    """,
    "dedup_rate_by_source": f"""
        WITH h AS (
            SELECT doc_id, source,
                   {DUCK_HASH60.format(x='text')} AS hh
            FROM documents
        ),
        surv AS (SELECT hh, min(doc_id) AS min_id FROM h GROUP BY hh)
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id = min_id THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
               floor(CAST(count(*) - sum(CASE WHEN doc_id = min_id
                       THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) * 1000000) / 1000000.0
                   AS dup_rate
        FROM h JOIN surv USING (hh)
        GROUP BY source
    """,
    "dedup_exact": f"""
        SELECT {DUCK_HASH60.format(x='text')} AS text_hash,
               min(doc_id) AS doc_id, count(*) AS dup_count
        FROM documents
        GROUP BY 1
    """,
    "dedup_survivors": _survivors_oracle(),
    "dedup_best_survivors": _best_survivors_oracle(),
    "contamination_check": _contamination_oracle(),
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_simhash": _simhash_oracle(),
    "dedup_simhash_pairs": _simhash_pairs_oracle(),
    "dedup_ngram_jaccard": _ngram_jaccard_oracle(),
    "dedup_clusters": _cc_oracle(),
    "dedup_embedding": _embedding_oracle(),
    "pagerank_centrality": _pagerank_oracle(),
    "dedup_incremental": _incremental_oracle(),
    "triangle_count": _triangle_oracle(),
    "triangle_count_capped": _triangle_oracle(max_degree=TRI_DEGREE_CAP),
    "dedup_embedding_ivf": _embedding_ivf_oracle(),
    "source_minhash_jaccard": _source_minhash_oracle(),
}


TRAIN_PCT = 90


def split_cols() -> tuple:
    """(bucket, split) Column pair hashed from the ``cluster`` label —
    THE split policy, shared by leakage_safe_split and
    curation_manifest so the manifest can never disagree with the split
    query it composes. Oracle twin: _SPLIT_BUCKET / _SPLIT_CASE."""
    bucket = F.pmod(
        F.expr(dd.HASH60_TPL.format(x="CAST(cluster AS STRING)")),
        F.lit(100),
    ).cast("bigint")
    split = (
        F.when(bucket < TRAIN_PCT, F.lit("train"))
        .otherwise(F.lit("eval"))
    )
    return bucket, split


def keep_col():
    """The min-id survivor rule (cluster label == doc id), shared by
    dedup_survivors and curation_manifest."""
    return (F.col("cluster") == F.col("doc_id")).cast("int")


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval split: assign documents to train or eval
    by hashing their NEAR-DUP CLUSTER id, not their doc id — so a
    document and its near-duplicates always land on the same side and
    eval can never contain a near-copy of a training document (the
    standard contamination failure of naive per-doc splits). Composes
    the ngram near-dup graph → exact connected components → md5 bucket
    of the cluster label; singleton documents are their own cluster.

    Scale: the split adds one narrow projection to the dedup-cluster
    plan — the hash bucket is computed from the 8-byte cluster label,
    and the assignment is deterministic (md5), so re-runs and backfills
    place every document identically with no stored split table."""
    member = cluster_map(spark, sf_dir)
    bucket, split = split_cols()
    return member.select(
        "doc_id",
        "cluster",
        bucket.alias("bucket"),
        split.alias("split"),
    )


QUERIES["leakage_safe_split"] = q_leakage_safe_split


def q_cc_incremental_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replayed two-batch ingest for incremental clustering: documents
    with doc_id % 10 == 0 play the NEW daily batch (same split as
    dedup_incremental), the rest the existing corpus. Old labels come
    from CC over corpus-only near-dup edges; cc_incremental then folds
    the batch's edges (new–new and new–corpus) in by contracting old
    components to their labels and running CC over the batch-sized
    contracted graph only. The oracle is full CC over the WHOLE graph:
    the incremental path must be bit-indistinguishable from a global
    recompute."""
    from kafka_streams_dexcom_spark.operators.graph import (
        cc_incremental,
        connected_components,
    )

    # the shared artifact is parquet-backed, so both splits below plan
    # against a flat scan — no localCheckpoint needed
    pairs = ngram_pairs_map(spark, sf_dir, threshold=NGRAM_THRESHOLD).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    new_a = F.col("doc_a") % 10 == 0
    new_b = F.col("doc_b") % 10 == 0
    old_labels = connected_components(pairs.where(~new_a & ~new_b))
    return cc_incremental(pairs.where(new_a | new_b), old_labels)


QUERIES["cc_incremental_replay"] = q_cc_incremental_replay
ORACLES["cc_incremental_replay"] = _cc_oracle()

_SPLIT_BUCKET = (
    DUCK_HASH60.format(x="CAST(cluster AS VARCHAR)") + " % 100"
)
# the split policy's oracle twin (see split_cols) — ONE definition so
# leakage_safe_split and curation_manifest can never diverge
_SPLIT_CASE = (
    f"CASE WHEN {_SPLIT_BUCKET} < {TRAIN_PCT} THEN 'train' ELSE 'eval' END"
)

ORACLES["leakage_safe_split"] = f"""
    WITH {_cc_chain()},
    member AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    )
    SELECT doc_id, cluster,
           CAST({_SPLIT_BUCKET} AS BIGINT) AS bucket,
           {_SPLIT_CASE} AS split
    FROM member
    WHERE {_CC_GUARD}
"""


def q_dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance-aware near-dup audit: near-duplicate pairs whose two
    documents come from DIFFERENT sources, aggregated per source pair —
    the report that tells a corpus curator which crawls/snapshots are
    re-serving each other's content (high cross-source dup rate between
    two sources usually means one mirrors the other and can be dropped
    wholesale). Statistics are count/min/max — order-independent, so the
    result is exact on any partitioning (an avg of doubles would not
    be). Source pairs are UNORDERED: the pair list orients (a, b) by
    doc id, which says nothing about sources, so (source_a, source_b)
    is canonicalized lexicographically — one row per source pair, not
    two half-counts split by which side happened to hold the lower id.

    Scale: the bounded near-dup pair set joins doc→source twice on
    doc_id (hash joins against the corpus), then aggregates to at most
    |sources|² rows."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_pairs_map(spark, sf_dir, threshold=NGRAM_THRESHOLD)
    src = d.select("doc_id", "source")
    return (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("source_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("source_b"),
            ),
            "id_b",
        )
        .where(F.col("source_a") != F.col("source_b"))
        .groupBy(
            F.least("source_a", "source_b").alias("source_a"),
            F.greatest("source_a", "source_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


QUERIES["dedup_cross_source"] = q_dedup_cross_source
ORACLES["dedup_cross_source"] = f"""
    WITH p AS ({_ngram_jaccard_oracle()})
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_pairs,
           MIN(p.jaccard) AS min_jaccard,
           MAX(p.jaccard) AS max_jaccard
    FROM p
    JOIN documents da ON p.doc_a = da.doc_id
    JOIN documents db ON p.doc_b = db.doc_id
    WHERE da.source <> db.source
    GROUP BY source_a, source_b
"""


def q_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution — the dedup pipeline's health
    metric (a fat tail of giant clusters means boilerplate/templates are
    chaining unrelated docs together; all-singletons means the threshold
    is too strict). Reads the shared materialized cluster map; two tiny
    aggregations over (doc_id, cluster)."""
    m = cluster_map(spark, sf_dir)
    sizes = m.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


QUERIES["cluster_size_histogram"] = q_cluster_size_histogram
ORACLES["cluster_size_histogram"] = f"""
    WITH {_cc_chain()},
    member AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    sizes AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM member GROUP BY cluster
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
    HAVING {_CC_GUARD}
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quality audit — the precision check a curation run
    does BEFORE trusting the min-id survivor policy: cluster size, edge
    count, pairwise-similarity range, edge density, and whether the
    cluster is a complete clique. Transitivity is dedup's known failure
    mode (A~B and B~C chain A with C even when sim(A,C) is below
    threshold); low-density clusters are exactly the ones where the
    survivor policy silently drops non-duplicates, so this table is the
    review queue for threshold tuning.

    Reads BOTH shared artifacts (cluster map + pair set) — two hash
    aggregations and one join, nothing rescans the corpus."""
    member = cluster_map(spark, sf_dir)
    pairs = ngram_pairs_map(spark, sf_dir, threshold=NGRAM_THRESHOLD)
    sizes = (
        member.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    edges = (
        pairs.join(member, pairs.id_a == member.doc_id)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_edges"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    max_edges = F.col("n_docs") * (F.col("n_docs") - 1)
    return sizes.join(edges, "cluster").select(
        "cluster",
        "n_docs",
        "n_edges",
        "min_jaccard",
        "max_jaccard",
        (
            F.floor(
                F.lit(2_000_000.0) * F.col("n_edges") / max_edges
            )
            / F.lit(1_000_000.0)
        ).alias("density"),
        (F.lit(2) * F.col("n_edges") == max_edges).cast("int").alias(
            "is_complete"
        ),
    )


QUERIES["dedup_cluster_stats"] = q_dedup_cluster_stats
ORACLES["dedup_cluster_stats"] = f"""
    WITH {_cc_chain()},
    member AS (SELECT node AS doc_id, component AS cluster FROM comp),
    sizes AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM member GROUP BY cluster
    ),
    e AS (
        SELECT m.cluster,
               CAST(COUNT(*) AS BIGINT) AS n_edges,
               min(p.jaccard) AS min_jaccard,
               max(p.jaccard) AS max_jaccard
        FROM p JOIN member m ON p.doc_a = m.doc_id
        GROUP BY m.cluster
    )
    SELECT s.cluster, s.n_docs, e.n_edges, e.min_jaccard, e.max_jaccard,
           floor(2000000.0 * e.n_edges / (s.n_docs * (s.n_docs - 1)))
               / 1000000.0 AS density,
           CAST(2 * e.n_edges = s.n_docs * (s.n_docs - 1) AS INT)
               AS is_complete
    FROM sizes s JOIN e USING (cluster)
    WHERE {_CC_GUARD}
"""


def q_survivor_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI per source: whitespace-token volume before dedup, after
    keeping only cluster survivors (min-id policy), and the drop ratio —
    the number a 100 TB curation run reports to justify its compute
    bill. Token sums are exact bigints (order-independent); the single
    ratio division happens once per source row and is truncated to 6
    decimals, so the result is deterministic on any partitioning."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6
    from kafka_streams_dexcom_spark.operators.text import text_stats

    d = load_table(spark, sf_dir, "documents")
    m = cluster_map(spark, sf_dir)
    tok = text_stats(d).select("doc_id", "n_tokens")
    rows = (
        d.select("doc_id", "source")
        .join(m, "doc_id")
        .join(tok, "doc_id")
    )
    agg = rows.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.when(F.col("cluster") == F.col("doc_id"), F.col("n_tokens"))
            .otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )
    dropped = F.col("total_tokens") - F.col("kept_tokens")
    return agg.select(
        "source",
        "total_tokens",
        "kept_tokens",
        dropped.alias("dropped_tokens"),
        F.when(F.col("total_tokens") == 0, F.lit(0.0))
        .otherwise(
            trunc6(
                dropped.cast("double") / F.col("total_tokens").cast("double")
            )
        )
        .alias("drop_ratio"),
    )


QUERIES["survivor_token_savings"] = q_survivor_token_savings
_STS_DROP = (
    "CAST(total_tokens - kept_tokens AS DOUBLE)"
    " / CAST(total_tokens AS DOUBLE)"
)
ORACLES["survivor_token_savings"] = f"""
    WITH {_cc_chain()},
    member AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    ),
    tok AS (
        SELECT doc_id, source,
               CAST(len({DUCK_TOKENS.format(x='text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    agg AS (
        SELECT t.source,
               CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CASE WHEN m.cluster = t.doc_id
                             THEN t.n_tokens ELSE 0 END) AS BIGINT)
                   AS kept_tokens
        FROM tok t JOIN member m ON t.doc_id = m.doc_id
        GROUP BY t.source
    )
    SELECT source, total_tokens, kept_tokens,
           CAST(total_tokens - kept_tokens AS BIGINT) AS dropped_tokens,
           CASE WHEN total_tokens = 0 THEN 0.0
                ELSE floor(({_STS_DROP}) * 1000000) / 1000000.0
           END AS drop_ratio
    FROM agg
    WHERE {_CC_GUARD}
"""


def q_er_customer_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record election — the master-data-management step after
    record linkage: fuzzy same-entity pairs (er_fuzzy_customers) →
    exact connected components → every customer row mapped to its
    entity's canonical key (min custkey), with the entity size and the
    canonical flag. The row an MDM pipeline writes back as the
    crosswalk table.

    Scale: the pair graph is candidate-bounded (pigeonhole blocking);
    CC iterates over pairs only; the final membership join and size
    aggregation hash-partition on the customer key."""
    from kafka_streams_dexcom_spark.operators.graph import (
        connected_components,
    )

    c = load_table(spark, sf_dir, "customer")
    pairs = q_er_fuzzy_customers(spark, sf_dir).select(
        F.col("c_custkey_a").alias("doc_a"),
        F.col("c_custkey_b").alias("doc_b"),
    )
    comp = connected_components(pairs)
    member = (
        c.select("c_custkey")
        .join(comp, c.c_custkey == comp.node, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("component"), F.col("c_custkey")).alias(
                "entity_id"
            ),
        )
    )
    sizes = member.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_records")
    )
    return member.join(sizes, "entity_id").select(
        "c_custkey",
        "entity_id",
        "n_records",
        (F.col("c_custkey") == F.col("entity_id")).cast("int").alias(
            "is_canonical"
        ),
    )


QUERIES["er_customer_golden"] = q_er_customer_golden
ORACLES["er_customer_golden"] = f"""
    WITH p AS MATERIALIZED ({ORACLES["er_fuzzy_customers"]}),
    edges AS MATERIALIZED (
        SELECT c_custkey_a AS u, c_custkey_b AS v FROM p
        UNION
        SELECT c_custkey_b AS u, c_custkey_a AS v FROM p
    ),
    {cc_doubling_sql()},
    member AS (
        SELECT c.c_custkey,
               coalesce(comp.component, c.c_custkey) AS entity_id
        FROM customer c LEFT JOIN comp ON c.c_custkey = comp.node
    ),
    sizes AS (
        SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_records
        FROM member GROUP BY entity_id
    )
    SELECT m.c_custkey, m.entity_id, s.n_records,
           CAST(m.c_custkey = m.entity_id AS INT) AS is_canonical
    FROM member m JOIN sizes s USING (entity_id)
    WHERE (SELECT n FROM cc_bad) = 0
"""


SEMDEDUP_TAU = 0.35


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
    deduplication in embedding space: near-identical MEANING, not
    near-identical bytes, which catches paraphrases and re-encodings
    that every lexical dedup misses. Trained k-means cells (the IVF
    coarse quantizer, kmeans_cells) block the candidates — pairs are
    only scored within a cell, never all-pairs; within-cell pairs with
    cosine >= SEMDEDUP_TAU are semantic duplicates; connected
    components turn pairwise hits into semantic groups; each group
    keeps ONE representative — the member FARTHEST from its cell
    centroid (the paper's pick: the least cluster-typical member
    preserves the most diversity). Ties break on lowest vec_id; the
    election centroid is the per-dim mean (round 6) of the FINAL cell
    membership, deterministic on both engines.

    Scale: candidates are Sum(cell_size^2) under a learned partition
    (the dedup_embedding_ivf bound); CC iterates over the bounded pair
    graph; centroid stats are K x dim rows broadcast back. Zero-norm
    vectors are dropped upstream (with_embedding_norm), as everywhere
    in the embedding family."""
    md = _semdedup_frames(spark, sf_dir)
    return md.select(
        "vec_id",
        "cell",
        "sem_cluster",
        (F.col("vec_id") == F.col("keeper")).cast("int").alias("keep"),
    )


def _semdedup_frames(spark: SparkSession, sf_dir: str):
    """One (vec_id, cell, sem_cluster, d2, keeper) frame shared by
    q_semdedup and the D4 diversification stage on top of it.

    Round 13: the keeper election is a max_by WINDOW over sem_cluster
    instead of a separate groupBy + join back (the dominant_suppliers
    move, guide §2.4) — the membership table was previously built TWICE
    (once for the final output, once inside the keepers aggregate) and
    re-joined to its own aggregate through two SortMergeJoins; now one
    construction, one window. Identical election: same max_by key
    (d2, -vec_id) over the same (sem_cluster, vec_id, d2) rows."""
    from kafka_streams_dexcom_spark.operators.clustering import DIST2_TPL
    from kafka_streams_dexcom_spark.operators.graph import (
        connected_components,
    )
    from kafka_streams_dexcom_spark.queries.similarity import (
        kmeans_cells_map,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # the shared quantizer artifact is parquet-backed, so the FOUR
    # consumers below (pair blocking, membership, centroid stats,
    # distances) each plan against a flat scan — no localCheckpoint
    # needed, no per-query retraining. (Round-12 A/B: materializing a
    # shared (vec_id, vec, norm, cell) base via localCheckpoint was
    # TESTED and REVERTED — the checkpointed RDD has no size stats, so
    # every downstream join degraded from broadcast-capable parquet
    # joins to SortMergeJoin, measured 2.2 s -> 4.2 s at sf0.1. The
    # per-branch norm+join recompute is pipelined scan work and stays
    # cheaper than the statistics it would destroy.)
    cells = kmeans_cells_map(spark, sf_dir)
    v = dd.with_embedding_norm(e).select("vec_id", "vec")
    base = v.join(cells, "vec_id")
    pairs = dd.embedding_cosine_pairs(
        e.join(cells, "vec_id"), block_col="cell", threshold=SEMDEDUP_TAU
    )
    comp = connected_components(
        pairs, a_col="vec_id_a", b_col="vec_id_b"
    )
    member = (
        cells.join(comp, cells.vec_id == comp.node, "left")
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("component"), F.col("vec_id")).alias(
                "sem_cluster"
            ),
        )
    )
    per_dim = (
        base.select("cell", F.posexplode("vec").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
    )
    cvec = per_dim.groupBy("cell").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, cx))), "
            "s -> s.cx)"
        ).alias("cvec")
    )
    dist = (
        base.join(F.broadcast(cvec), "cell")
        .select(
            "vec_id",
            F.round(
                F.expr(DIST2_TPL.format(a="vec", b="cvec")), 6
            ).alias("d2"),
        )
    )
    keeper = F.max_by(
        F.col("vec_id"),
        F.struct(F.col("d2"), (-F.col("vec_id")).alias("nid")),
    ).over(Window.partitionBy("sem_cluster"))
    return member.join(dist, "vec_id").withColumn("keeper", keeper)


# D4 prototypes stage: keep this fraction of each cell's SemDeDup
# survivors, dropping the most cluster-prototypical first (exact
# integer cross-multiplication — no float keep-rate can flip a row)
D4_KEEP_NUM, D4_KEEP_DEN = 2, 3


def q_d4_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 (Tirumala et al. 2023, arXiv:2308.12284) — the published
    dedup-then-diversify pipeline: after (Min)dedup and SemDeDup, the
    SSL-prototypes stage prunes the most PROTOTYPICAL points (closest
    to their cluster centroid) from each cluster, keeping the diverse
    tail — duplicates removed by stage 2, dense redundant cores thinned
    by stage 3. Here stage 2 is the registry's semdedup (one survivor
    per semantic group, farthest-from-centroid election) and stage 3
    ranks each cell's survivors by centroid distance DESC (ties on
    lowest vec_id) and keeps rank·DEN <= n_cell·NUM — exactly the top
    2/3 most-diverse survivors per cell.

    Scale: everything rides the semdedup frames (shared quantizer
    artifact, capped within-cell pair graph, K·dim centroid broadcast);
    the added stage is one survivors-only window sort per cell —
    bounded partitions under the learned quantizer, never a global
    sort."""
    md = _semdedup_frames(spark, sf_dir)
    # d2 already rides the shared frame — the previous form re-joined
    # the distance table onto the survivors (round 13)
    surv = md.filter(F.col("vec_id") == F.col("keeper"))
    cell_win = Window.partitionBy("cell")
    rk = F.row_number().over(
        cell_win.orderBy(F.desc("d2"), F.asc("vec_id"))
    ).cast("long")
    out = surv.select(
        "vec_id",
        "cell",
        "sem_cluster",
        rk.alias("proto_rank"),
        F.count(F.lit(1)).over(cell_win).alias("n_cell"),
    )
    selected = (
        F.col("proto_rank") * F.lit(D4_KEEP_DEN)
        <= F.col("n_cell") * F.lit(D4_KEEP_NUM)
    ).cast("int")
    return out.select(
        "vec_id",
        "cell",
        "sem_cluster",
        "proto_rank",
        "n_cell",
        selected.alias("selected"),
    )


def _semdedup_ctes() -> list:
    """Shared oracle CTE chain for semdedup and d4_selection.

    Replay: Lloyd rounds (kmeans_oracle_ctes) -> in-cell cosine
    pairs (same fold as _embedding_ivf_oracle) -> hooking+doubling CC
    (cc_doubling_sql; the recursive-CTE reachability this replaced
    accumulates Σ size²·diameter rows — fatal at sf1, where semantic
    clusters run to thousands of members) -> per-dim centroid means
    (round 6) -> farthest-from-centroid election with the same
    (d2, lowest-id) ordering. nn/sp/se are MATERIALIZED: nn feeds both
    join sides and smember, se feeds every doubling layer. Guarantees
    smember, sdist, skeep, cc_bad."""
    from kafka_streams_dexcom_spark.queries.similarity import (
        KMEANS_ITERS,
        kmeans_oracle_ctes,
    )

    dot = "list_inner_product({a}, {b})"  # = the sequential fold, bit-identical (see queries/similarity._DOT)
    dist2 = (
        "list_reduce(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    ctes = kmeans_oracle_ctes()
    final = f"a{KMEANS_ITERS}"
    ctes.append(f"""nn AS MATERIALIZED (
            SELECT vid, cid, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM {final}
        )""")
    ctes.append(f"""sp AS MATERIALIZED (
            SELECT u, v FROM (
                SELECT a.vid AS u, b.vid AS v,
                       round({dot.format(a='a.vec', b='b.vec')}
                             / (a.norm * b.norm), 6) AS cs
                FROM nn a JOIN nn b
                  ON a.cid = b.cid AND a.vid < b.vid
                WHERE a.norm > 0 AND b.norm > 0
            ) WHERE cs >= {SEMDEDUP_TAU}
        )""")
    ctes.append("""se AS MATERIALIZED (
            SELECT u, v FROM sp UNION SELECT v, u FROM sp
        )""")
    ctes.append(cc_doubling_sql(edges="se"))
    ctes.append(f"""smember AS (
            SELECT nn.vid, nn.cid,
                   coalesce(comp.component, nn.vid) AS sem_cluster
            FROM nn LEFT JOIN comp ON nn.vid = comp.node
        )""")
    ctes.append(f"""scent AS (
            SELECT cid, pos, round(avg(x), 6) AS cx FROM (
                SELECT cid, unnest(vec) AS x,
                       unnest(range(1, len(vec) + 1)) AS pos
                FROM {final}
            ) GROUP BY cid, pos
        )""")
    ctes.append("""scvec AS (
            SELECT cid, list(cx ORDER BY pos) AS cvec
            FROM scent GROUP BY cid
        )""")
    ctes.append(f"""sdist AS (
            SELECT n.vid,
                   round({dist2.format(a='n.vec', b='c.cvec')}, 6) AS d2
            FROM {final} n JOIN scvec c ON n.cid = c.cid
        )""")
    ctes.append("""skeep AS (
            SELECT sem_cluster, vid AS keeper FROM (
                SELECT m.sem_cluster, m.vid,
                       row_number() OVER (
                           PARTITION BY m.sem_cluster
                           ORDER BY d.d2 DESC, m.vid ASC
                       ) AS rk
                FROM smember m JOIN sdist d ON m.vid = d.vid
            ) WHERE rk = 1
        )""")
    return ctes


def _semdedup_oracle() -> str:
    return (
        "WITH "
        + ",\n".join(_semdedup_ctes())
        + """
        SELECT m.vid AS vec_id, m.cid AS cell, m.sem_cluster,
               CAST(m.vid = k.keeper AS INT) AS keep
        FROM smember m JOIN skeep k USING (sem_cluster)
        WHERE (SELECT n FROM cc_bad) = 0
    """
    )


def _d4_oracle() -> str:
    """Mirrors q_d4_selection: the semdedup chain's survivors ranked
    per cell by centroid distance DESC (ties lowest vid), selected by
    the exact integer cross-multiplication keep rule."""
    ctes = _semdedup_ctes()
    ctes.append("""surv AS (
            SELECT m.vid, m.cid, m.sem_cluster, d.d2
            FROM smember m
            JOIN skeep k USING (sem_cluster)
            JOIN sdist d ON m.vid = d.vid
            WHERE m.vid = k.keeper
        )""")
    ctes.append("""ranked AS (
            SELECT vid, cid, sem_cluster,
                   CAST(row_number() OVER (
                       PARTITION BY cid ORDER BY d2 DESC, vid ASC
                   ) AS BIGINT) AS proto_rank,
                   CAST(count(*) OVER (PARTITION BY cid) AS BIGINT)
                       AS n_cell
            FROM surv
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT vid AS vec_id, cid AS cell, sem_cluster, proto_rank,
               n_cell,
               CAST(proto_rank * {D4_KEEP_DEN}
                    <= n_cell * {D4_KEEP_NUM} AS INT) AS selected
        FROM ranked
        WHERE (SELECT n FROM cc_bad) = 0
    """
    )


QUERIES["semdedup"] = q_semdedup
ORACLES["semdedup"] = _semdedup_oracle()
QUERIES["d4_selection"] = q_d4_selection
ORACLES["d4_selection"] = _d4_oracle()


# Semantic contamination: the eval side of the embedding corpus, the
# same 1/20 key split convention as dedup_incremental's batch split
# (documents' EVAL_SOURCE = src0 is likewise 1/20 of the corpus).
CONTAM_SEM_EVERY = 20
CONTAM_SEM_TAU = SEMDEDUP_TAU


def semantic_contamination(
    train: DataFrame,
    eval_: DataFrame,
    tau: float = CONTAM_SEM_TAU,
) -> DataFrame:
    """Embedding-level eval-leak screen: per TRAIN vector, its most
    similar eval vector among the candidates sharing its ``cell``
    (trained-quantizer blocking — semdedup's candidate bound), and the
    ``contaminated`` verdict (best cosine >= tau). A paraphrased eval
    item shares no n-grams with its leaked training copy —
    contamination_check's lexical containment scores it 0.0 — but
    lands next to it in embedding space; this is the screen that
    catches it (pinned in tests/test_contamination_semantic.py).

    Inputs are (id, vec, norm, cell) frames (with_embedding_norm +
    a quantizer assignment). Scale: candidates are Σ|cell_train|x
    |cell_eval| under the learned partition (dedup_embedding_ivf's
    bound, with the eval side 1/CONTAM_SEM_EVERY of the corpus); the
    argmax is a struct max (hash aggregate, no sort); ties break to
    the lowest eval id. Train vectors with no in-cell eval candidate
    keep cos 0.0 / NULL eval_vec — every train row is screened."""
    ev = eval_.select(
        F.col("cell"),
        F.col("vec_id").alias("e_id"),
        F.col("vec").alias("evec"),
        F.col("norm").alias("enorm"),
    )
    cand = train.join(ev, "cell").select(
        "vec_id",
        "e_id",
        F.round(
            F.expr(dd.DOT_EXPR_TPL.format(a="vec", b="evec"))
            / (F.col("norm") * F.col("enorm")),
            6,
        ).alias("cs"),
    )
    top = (
        cand.select(
            "vec_id",
            F.struct(
                F.col("cs").alias("c"), (-F.col("e_id")).alias("ne")
            ).alias("s"),
        )
        .groupBy("vec_id")
        .agg(F.max("s").alias("m"))
        .select(
            "vec_id",
            (-F.col("m.ne")).alias("eval_vec"),
            F.col("m.c").alias("best_cos"),
        )
    )
    return (
        train.select("vec_id")
        .join(top, "vec_id", "left")
        .select(
            "vec_id",
            "eval_vec",
            F.coalesce("best_cos", F.lit(0.0)).alias("cos_sim"),
            (F.coalesce("best_cos", F.lit(0.0)) >= F.lit(tau))
            .cast("int")
            .alias("contaminated"),
        )
    )


def q_contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark-contamination screen over the embedding
    corpus — the layer contamination_check (lexical n-gram
    containment) cannot provide: vec_id % 20 == 0 plays the frozen
    eval suite, the rest the training corpus; candidates block on the
    shared trained quantizer (kmeans_cells_map — the published
    artifact), and every train vector gets its best in-cell eval match
    + the >= tau verdict. Composes existing machinery: semdedup's cell
    blocking, dedup_embedding's exact cosine fold, contamination's
    argmax/anchor discipline."""
    from kafka_streams_dexcom_spark.queries.similarity import (
        kmeans_cells_map,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = (
        dd.with_embedding_norm(e)
        .select("vec_id", "vec", "norm")
        .join(kmeans_cells_map(spark, sf_dir), "vec_id")
    )
    return semantic_contamination(
        v.filter(F.col("vec_id") % CONTAM_SEM_EVERY != 0),
        v.filter(F.col("vec_id") % CONTAM_SEM_EVERY == 0),
    )


def _contamination_semantic_oracle() -> str:
    from kafka_streams_dexcom_spark.queries.similarity import (
        KMEANS_ITERS,
        kmeans_oracle_ctes,
    )

    dot = "list_inner_product({a}, {b})"
    ctes = kmeans_oracle_ctes()
    final = f"a{KMEANS_ITERS}"
    ctes.append(f"""nn AS MATERIALIZED (
            SELECT vid, cid, vec,
                   sqrt({dot.format(a='vec', b='vec')}) AS norm
            FROM {final}
        )""")
    ctes.append(f"""sc_cand AS (
            SELECT t.vid, e.vid AS e_id,
                   round({dot.format(a='t.vec', b='e.vec')}
                         / (t.norm * e.norm), 6) AS cs
            FROM nn t JOIN nn e
              ON t.cid = e.cid
             AND t.vid % {CONTAM_SEM_EVERY} != 0
             AND e.vid % {CONTAM_SEM_EVERY} = 0
            WHERE t.norm > 0 AND e.norm > 0
        )""")
    ctes.append("""sc_top AS (
            SELECT vid, e_id, cs FROM (
                SELECT vid, e_id, cs,
                       row_number() OVER (
                           PARTITION BY vid
                           ORDER BY cs DESC, e_id ASC
                       ) AS rk
                FROM sc_cand
            ) WHERE rk = 1
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT n.vid AS vec_id, t.e_id AS eval_vec,
               coalesce(t.cs, 0.0) AS cos_sim,
               CAST(coalesce(t.cs, 0.0) >= {CONTAM_SEM_TAU} AS INT)
                   AS contaminated
        FROM nn n LEFT JOIN sc_top t ON t.vid = n.vid
        WHERE n.vid % {CONTAM_SEM_EVERY} != 0
    """
    )


QUERIES["contamination_semantic"] = q_contamination_semantic
ORACLES["contamination_semantic"] = _contamination_semantic_oracle()


def q_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated-corpus manifest — the single table a training run
    consumes at the end of the pipeline: per document its near-dup
    cluster, the keep/drop decision (min-id survivor policy), the
    leakage-safe train/eval assignment (hashed from the CLUSTER label,
    so near-copies can never straddle the split), provenance columns,
    and the whitespace token count the batch packer budgets with. One
    row per document; keep=1 & split='train' rows are the training set.

    Scale: one hash join of the corpus against the shared materialized
    cluster map (both sides partitioned on doc_id), token counts
    scan-side, split/keep narrow projections — the manifest writer adds
    nothing beyond the dedup pipeline it composes."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "lang",
            F.expr(
                f"size({dd.TOKENS_TPL.format(x='text')})"
            ).cast("bigint").alias("n_tokens"),
        )
        # provenance: the CANONICAL address (functions/url.py — the
        # form dedup_url dedupes on and release manifests cite), from
        # the shared url_map artifact (addresses parsed once)
        .join(url_map(spark, sf_dir).select("doc_id", "url"), "doc_id")
    )
    member = cluster_map(spark, sf_dir)
    _, split = split_cols()
    return d.join(member, "doc_id").select(
        "doc_id",
        "source",
        "lang",
        "url",
        "n_tokens",
        "cluster",
        keep_col().alias("keep"),
        split.alias("split"),
    )


QUERIES["curation_manifest"] = q_curation_manifest
def _curation_manifest_oracle() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux

    canon = ux.canonical_url_sql(ux.messy_url_sql(duck=True), duck=True)
    return f"""
        WITH {_cc_chain()},
        member AS (
            SELECT d.doc_id, d.source, d.lang,
                   {canon} AS url,
                   CAST(len({DUCK_TOKENS.format(x='d.text')}) AS BIGINT)
                       AS n_tokens,
                   coalesce(c.component, d.doc_id) AS cluster
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
        )
        SELECT doc_id, source, lang, url, n_tokens, cluster,
               CAST(cluster = doc_id AS INT) AS keep,
               {_SPLIT_CASE} AS split
        FROM member
        WHERE {_CC_GUARD}
    """


ORACLES["curation_manifest"] = _curation_manifest_oracle()


CURVE_THRESHOLDS = (0.2, 0.3, 0.4, 0.5)


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity report — the table a curator reads before
    committing to a near-dup threshold: for each candidate Jaccard
    cutoff, how many pairs survive and how many documents are touched
    by at least one such pair. ONE pair computation at the loosest
    cutoff feeds every row (a pair at 0.4 is also a pair at 0.2), so
    sweeping the knob costs one extra tiny aggregate, not a pipeline
    re-run per threshold.

    Scale: the pair set is the prefix-filtered ngram join (candidate
    bounded); per-doc max-jaccard is a hash agg on doc id; the curve
    itself is |thresholds| rows."""
    base = min(CURVE_THRESHOLDS)
    # the shared parquet-backed artifact feeds the pair AND doc aggs
    pairs = ngram_pairs_map(spark, sf_dir, threshold=base).select(
        "id_a", "id_b", "jaccard"
    )
    doc_max = (
        pairs.select(F.col("id_a").alias("doc_id"), "jaccard")
        .union(pairs.select(F.col("id_b").alias("doc_id"), "jaccard"))
        .groupBy("doc_id")
        .agg(F.max("jaccard").alias("max_j"))
    )
    # one conditional-aggregate pass per side (not a job per threshold);
    # the collected rows are |thresholds|-bounded scalars
    prow = pairs.agg(
        *[
            F.count(F.when(F.col("jaccard") >= t, 1)).alias(f"c{i}")
            for i, t in enumerate(CURVE_THRESHOLDS)
        ]
    ).collect()[0]
    drow = doc_max.agg(
        *[
            F.count(F.when(F.col("max_j") >= t, 1)).alias(f"c{i}")
            for i, t in enumerate(CURVE_THRESHOLDS)
        ]
    ).collect()[0]
    rows = [
        (t, prow[f"c{i}"], drow[f"c{i}"])
        for i, t in enumerate(CURVE_THRESHOLDS)
    ]
    return spark.createDataFrame(
        rows, "threshold double, n_pairs long, n_docs long"
    )


QUERIES["dedup_threshold_curve"] = q_dedup_threshold_curve
ORACLES["dedup_threshold_curve"] = f"""
    WITH p AS ({_ngram_jaccard_oracle(min(CURVE_THRESHOLDS))}),
    dm AS (
        SELECT doc_id, max(jaccard) AS max_j FROM (
            SELECT doc_a AS doc_id, jaccard FROM p
            UNION ALL
            SELECT doc_b AS doc_id, jaccard FROM p
        ) GROUP BY doc_id
    ),
    t(threshold) AS (VALUES {", ".join(f"(CAST({t} AS DOUBLE))" for t in CURVE_THRESHOLDS)})
    SELECT t.threshold,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p
            WHERE p.jaccard >= t.threshold) AS n_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dm
            WHERE dm.max_j >= t.threshold) AS n_docs
    FROM t
"""


def q_bloom_dedup_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter exact-dedup screen (Bloom 1970; the Dolma pipeline's
    dedupe shape): docs with doc_id % 10 == 0 play the NEW ingest batch,
    the rest the already-ingested corpus whose Bloom filter (8 bits/key
    so the width scales with the corpus, 5 hashes) screens them — per
    new doc the filter verdict, the exact ground truth, and the
    false-positive flag that prices the geometry: ~2% FP at EVERY scale
    factor by construction (a fixed width would degenerate to 0 or 1 as
    sf grows). The dedup_incremental split convention."""
    d = load_table(spark, sf_dir, "documents")
    return dd.bloom_dedup_screen(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
    )


def _bloom_oracle() -> str:
    """Replay: same md5-derived 60-bit hash, same PERM_COEFFS universal
    hashes folded onto the filter width, set-bit relation as DISTINCT
    positions, all-k membership rule, exact-match audit leg."""
    from kafka_streams_dexcom_spark.functions.hashing import (
        MERSENNE_P,
        PERM_COEFFS,
    )
    from kafka_streams_dexcom_spark.operators.dedup import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
    )

    coef = ", ".join(
        f"({PERM_COEFFS[i][0]}, {PERM_COEFFS[i][1]})" for i in range(BLOOM_K)
    )
    h = DUCK_HASH60.format(x="text")
    return f"""
        WITH coef(a, b) AS (SELECT * FROM (VALUES {coef})),
        corpus AS (SELECT doc_id, text, {h} AS h FROM documents
                   WHERE doc_id % 10 != 0),
        newb AS (SELECT doc_id, text, {h} AS h FROM documents
                 WHERE doc_id % 10 = 0),
        geom AS (SELECT greatest(1, {BLOOM_BITS_PER_KEY} * count(*))
                     AS m FROM corpus),
        bits AS MATERIALIZED (
            SELECT DISTINCT (h % {MERSENNE_P} * a + b) % {MERSENNE_P}
                   % (SELECT m FROM geom) AS pos
            FROM corpus CROSS JOIN coef
        ),
        probe AS (
            SELECT doc_id, (h % {MERSENNE_P} * a + b) % {MERSENNE_P}
                   % (SELECT m FROM geom) AS pos
            FROM newb CROSS JOIN coef
        ),
        hits AS (
            SELECT doc_id, count(*) AS n_hit
            FROM probe JOIN bits USING (pos)
            GROUP BY doc_id
        ),
        exact AS (
            SELECT DISTINCT n.doc_id
            FROM newb n JOIN corpus c ON c.text = n.text
        )
        SELECT n.doc_id,
               CAST(coalesce(h.n_hit, 0) = {BLOOM_K} AS INT)
                   AS probably_seen,
               CAST(e.doc_id IS NOT NULL AS INT) AS actually_seen,
               CAST(coalesce(h.n_hit, 0) = {BLOOM_K}
                    AND e.doc_id IS NULL AS INT) AS false_positive
        FROM newb n
        LEFT JOIN hits h USING (doc_id)
        LEFT JOIN exact e USING (doc_id)
    """


QUERIES["bloom_dedup_screen"] = q_bloom_dedup_screen
ORACLES["bloom_dedup_screen"] = _bloom_oracle()


# ------------------------------------------------- per-domain crawl stages
# Stage 2 of the crawl-curation front door (stage 1 = dedup_url above):
# RefinedWeb's per-domain line-wise corrections and the per-domain
# blocklist/cap census. Host + page-chrome fixtures live in
# functions/url.py next to the messy-URL fixture they extend.

DOMAIN_DOC_CAP = 30


def q_host_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain line-wise dedup (RefinedWeb §3.3 "line-wise
    corrections"): lines recurring across >= HOST_LINE_MIN_DOCS distinct
    documents of the SAME host are site chrome and are removed from all
    of them. The planted page fixture (functions/url.py:page_text_sql)
    prepends each host's 8-token nav header, so every multi-doc host
    has guaranteed chrome to strip; exact-duplicate document bodies
    contribute organic repeated lines on top. See
    operators/text.py:host_line_dedup for the plan shape."""
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.text import host_line_dedup

    # hosts come from the shared url_map artifact (parsed once per
    # session — the regex pile was host_line_dedup's r11 ×1.61). No
    # materialize barrier here any more: host_line_dedup now exchanges
    # the CONSTRUCTED line rows once by host (round 12), so its input
    # is consumed exactly once and a barrier would only add an exchange
    # of the page text.
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            "text",
        )
        .join(url_map(spark, sf_dir).select("doc_id", "host"), "doc_id")
        .select(
            "doc_id",
            "host",
            F.expr(ux.page_text_sql()).alias("page"),
        )
    )
    return host_line_dedup(d, host_col="host", text_col="page")


def host_lines_sql(toks: str) -> str:
    """The (doc_id, host, ln, lh, line) rows of the (doc_id, host, tk)
    relation ``toks``: the oracle twin of operators/text.py:host_lines,
    shared by every host-line census oracle."""
    from kafka_streams_dexcom_spark.operators.text import LINE_WORDS

    line = (
        f"array_to_string(list_slice(tk, i * {LINE_WORDS} + 1, "
        f"i * {LINE_WORDS} + {LINE_WORDS}), ' ')"
    )
    return f"""
        SELECT doc_id, host, CAST(i AS BIGINT) AS ln,
               {DUCK_HASH60.format(x=line)} AS lh, {line} AS line
        FROM {toks}, UNNEST(range(0,
            CAST(ceil(len(tk) / {LINE_WORDS}.0) AS BIGINT))) r(i)
        WHERE len(tk) >= 1"""


def _host_line_dedup_oracle() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.text import HOST_LINE_MIN_DOCS

    host = ux.host_sql(
        ux.canonical_url_sql(ux.messy_url_sql(duck=True), duck=True),
        duck=True,
    )
    return f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id, {host} AS host,
                   {DUCK_TOKENS.format(x=ux.page_text_sql(duck=True))} AS tk
            FROM documents
        ),
        l AS MATERIALIZED ({host_lines_sql("d")}),
        b AS MATERIALIZED (
            SELECT host, lh FROM l
            GROUP BY host, lh
            HAVING count(DISTINCT doc_id) >= {HOST_LINE_MIN_DOCS}
        ),
        kept AS MATERIALIZED (
            SELECT l.doc_id, l.host, l.ln, l.line
            FROM l LEFT JOIN b
              ON l.host = b.host AND l.lh = b.lh
            WHERE b.lh IS NULL
        ),
        kc AS MATERIALIZED (
            SELECT doc_id, host, count(*) AS n_kept,
                   string_agg(line, ' ' ORDER BY ln) AS txt
            FROM kept GROUP BY doc_id, host
        ),
        tot AS MATERIALIZED (
            SELECT doc_id, host, count(*) AS n_lines
            FROM l GROUP BY doc_id, host
        )
        SELECT tot.doc_id, tot.host,
               CAST(tot.n_lines AS BIGINT) AS n_lines,
               CAST(tot.n_lines - coalesce(kc.n_kept, 0) AS BIGINT)
                   AS n_removed_lines,
               coalesce(kc.txt, '') AS clean_text
        FROM tot LEFT JOIN kc
          ON tot.doc_id = kc.doc_id AND tot.host = kc.host
    """


def _blocklist_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Write the UT1-style domain blocklist FILE (one host per line,
    CSV with header) the census broadcasts — the fixture GENERATOR
    applies the planted rule (host number % 7 == 3) so the oracle can
    replay the policy, but the query itself consumes only the file:
    swap in a fetched UT1 category list and nothing else changes.
    Driver-side DuckDB read, the _warc_fixture discipline."""
    import re

    import duckdb

    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_temp_dir,
        session_value,
    )

    fp = corpus_fingerprint(os.path.join(sf_dir, "documents.parquet"))

    def build() -> str:
        host = ux.host_sql(
            ux.canonical_url_sql(ux.messy_url_sql(duck=True), duck=True),
            duck=True,
        )
        pq = os.path.join(sf_dir, "documents.parquet")
        if os.path.isdir(pq):
            pq = os.path.join(pq, "*.parquet")
        hosts = duckdb.sql(
            f"SELECT DISTINCT {host} AS host "
            "FROM read_parquet($p) ORDER BY host",
            params={"p": pq},
        ).fetchall()

        def planted(h: str) -> bool:
            m = re.search(r"([0-9]+)", h)
            return m is not None and int(m.group(1)) % 7 == 3

        out = os.path.join(
            session_temp_dir("blocklist"), fp.replace(os.sep, "_") + ".csv"
        )
        with open(out, "w") as f:
            f.write("host\n")
            for (h,) in hosts:
                if planted(h):
                    f.write(h + "\n")
        return out

    return session_value(
        spark, "blocklist", (os.path.abspath(sf_dir), fp), build
    )


def domain_mix(d: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Census + policy over (host, n_toks) rows against a blocklist
    TABLE: one groupBy on the host key (map-side combined), a broadcast
    left join against the |blocklist|-bounded host list for the verdict,
    and a broadcast single-row total for the share — no window-over-all,
    no global sort. At 100 TB the blocklist is exactly this: a small
    published table broadcast to every executor."""
    per_host = d.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    total = per_host.agg(F.sum("n_docs").alias("total_docs"))
    joined = per_host.join(
        F.broadcast(
            blocklist.select("host").distinct()
            .withColumn("__bl", F.lit(True))
        ),
        "host",
        "left",
    )
    blocked = F.coalesce(F.col("__bl"), F.lit(False))
    return (
        joined.crossJoin(F.broadcast(total))
        .select(
            "host",
            "n_docs",
            "n_tokens",
            blocked.alias("blocked"),
            F.when(blocked, F.lit(0))
            .otherwise(F.least("n_docs", F.lit(DOMAIN_DOC_CAP)))
            .cast("bigint")
            .alias("kept_docs"),
            (
                F.floor(
                    F.col("n_docs") * F.lit(1_000_000.0)
                    / F.col("total_docs")
                )
                / F.lit(1_000_000.0)
            ).alias("doc_share"),
        )
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain census + policy: docs/token mass per host, the UT1-
    style blocklist verdict (a REAL broadcast table input — the fixture
    file at _blocklist_fixture, generated from the planted rule host
    number % 7 = 3 so the oracle replays the policy), and the
    per-domain contribution cap (kept_docs = least(n_docs, cap), 0 if
    blocked) that stops any single site from dominating the mix — C4
    drops blocklisted domains, RefinedWeb caps them. doc_share is each
    host's fraction of the corpus. Plan shape in :func:`domain_mix`."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(
                f"size({dd.TOKENS_TPL.format(x='text')})"
            ).alias("n_toks"),
        )
        .join(url_map(spark, sf_dir).select("doc_id", "host"), "doc_id")
    )
    bl = spark.read.csv(
        _blocklist_fixture(spark, sf_dir),
        header=True,
        schema="host string",
    )
    return domain_mix(d, bl)


def _domain_mix_oracle() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux

    host = ux.host_sql(
        ux.canonical_url_sql(ux.messy_url_sql(duck=True), duck=True),
        duck=True,
    )
    return f"""
        WITH d AS (
            SELECT {host} AS host,
                   len({DUCK_TOKENS.format(x='text')}) AS n_toks
            FROM documents
        ),
        per_host AS (
            SELECT host, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS n_tokens
            FROM d GROUP BY host
        ),
        tot AS (SELECT sum(n_docs) AS total_docs FROM per_host)
        SELECT host, n_docs, n_tokens,
               coalesce(CAST(nullif(regexp_extract(host, '([0-9]+)', 1),
                   '') AS INT) % 7 = 3, false) AS blocked,
               CAST(CASE WHEN coalesce(CAST(nullif(regexp_extract(host,
                       '([0-9]+)', 1), '') AS INT) % 7 = 3, false)
                    THEN 0 ELSE least(n_docs, {DOMAIN_DOC_CAP}) END
                   AS BIGINT) AS kept_docs,
               floor(n_docs * 1000000.0 / total_docs) / 1000000.0
                   AS doc_share
        FROM per_host, tot
    """


QUERIES["host_line_dedup"] = q_host_line_dedup
QUERIES["domain_mix"] = q_domain_mix
ORACLES["host_line_dedup"] = _host_line_dedup_oracle()
ORACLES["domain_mix"] = _domain_mix_oracle()


def _robots_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, host, path) — the doc side both REP queries share,
    served from the shared url_map artifact (addresses parsed once
    per session)."""
    return url_map(spark, sf_dir).select("doc_id", "host", "path")


def robots_rules_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SELECTED per-host rule table (host, rules array) as a
    published per-(session, corpus) artifact — the crawl epoch's frozen
    dimension (streaming/curation_pipeline.py already builds this table
    once per robots snapshot and applies it every epoch; this is the
    batch twin of that contract). Round 12 (guide §1.2/§2.4):
    robots_filter, compliance_report and crawl_manifest each re-planned
    the |hosts|-bounded dimension parse per invocation AND paid a
    count() action per query just to pick broadcast-vs-shuffle; the
    artifact parses once per (session, corpus) and the gate count is a
    cached session_value. Verdicts are identical — same rule rows,
    same fold — and every oracle still replays the parse from the
    bodies."""
    import os

    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.robots import (
        CRAWLER_AGENT,
        robots_rules_by_host,
    )
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    def build() -> DataFrame:
        hosts = _robots_docs(spark, sf_dir).select("host").distinct()
        robots = hosts.select(
            "host", F.expr(ux.robots_txt_sql("host")).alias("body")
        )
        return robots_rules_by_host(robots)

    return session_artifact(
        spark,
        "robots_rules",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
            CRAWLER_AGENT,
        ),
        build,
    )


def robots_verdicts_shared(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """REP verdicts for ``docs`` (doc_id, host, path) against the
    frozen per-corpus rule-table artifact: the broadcast-vs-shuffle
    gate count runs once per (session, corpus) instead of once per
    query invocation (operators/robots.py:robots_verdicts keeps the
    self-contained DataFrame-in/DataFrame-out form for tests and
    ad-hoc corpora)."""
    import os

    from kafka_streams_dexcom_spark.operators.robots import (
        ROBOTS_BROADCAST_MAX_HOSTS,
        apply_robots_verdicts,
    )
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_value,
    )

    by_host = robots_rules_map(spark, sf_dir)
    n_hosts = session_value(
        spark,
        "robots_n_hosts",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        ),
        lambda: by_host.count(),
    )
    return apply_robots_verdicts(
        docs, by_host, broadcast=n_hosts <= ROBOTS_BROADCAST_MAX_HOSTS
    )


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots Exclusion Protocol compliance — crawl stage 0, before
    dedup_url even runs: parse each host's robots.txt BODY (the planted
    fixture functions/url.py:robots_txt_sql serves a real THREE-group
    RFC 9309 corpus: a googlebot/bingbot multi-agent group, our
    crawler's own group with '*'-wildcard and '$'-anchored rules, the
    generic '*' group, plus Crawl-delay/blank lines the parser must
    skip) and give every document URL the spec's verdict for OUR agent.
    Full RFC 9309 semantics — group selection (specific beats '*',
    §2.2.1), wildcard/anchor matching (§2.2.3), most-octets rule
    priority with Allow winning ties (§2.2.2), empty rule values
    dropped — live in operators/robots.py, where the unit suite drives
    the same plan on synthetic bodies.

    Scale shape: the rule table is |hosts|-bounded, aggregated to one
    (host, rules array) row per host and BROADCAST, so the verdict is a
    scan-side fold over each URL's own host's rules — ZERO fact-side
    shuffles (the plan a crawler's in-process matcher has, expressed
    relationally). Nothing about the plan changes when the fixture is
    replaced by a fetched robots corpus keyed by host."""
    return robots_verdicts_shared(
        spark, sf_dir, _robots_docs(spark, sf_dir)
    )


def _robots_docs_duck() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux

    host = ux.host_sql("url", duck=True)
    path = ux.path_sql("url", duck=True)
    return f"""
        u AS (
            SELECT doc_id,
                   {ux.canonical_url_sql(
                       ux.messy_url_sql(duck=True), duck=True)} AS url
            FROM documents
        ),
        d AS (
            SELECT doc_id, {host} AS host,
                   coalesce({path}, '') AS path
            FROM u
        )
    """


def _robots_filter_oracle() -> str:
    from kafka_streams_dexcom_spark.functions import url as ux
    from kafka_streams_dexcom_spark.operators.robots import (
        robots_rules_duck_sql,
    )

    bodies = (
        "SELECT host, "
        f"{ux.robots_txt_sql('host', duck=True)} AS body "
        "FROM (SELECT DISTINCT host FROM d)"
    )
    return f"""
        WITH {_robots_docs_duck()},
        {robots_rules_duck_sql(bodies)},
        cand AS (
            SELECT d.doc_id, r.allow, r.pattern,
                   row_number() OVER (
                       PARTITION BY d.doc_id
                       ORDER BY r.prio DESC, r.allow DESC, r.pattern
                   ) AS rn
            FROM d JOIN rep_rules r
              ON d.host = r.host AND regexp_matches(d.path, r.rx)
        )
        SELECT d.doc_id, d.host, d.path,
               coalesce(c.allow, true) AS allowed,
               coalesce(c.pattern, '') AS matched_rule
        FROM d LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
          USING (doc_id)
    """


QUERIES["robots_filter"] = q_robots_filter
ORACLES["robots_filter"] = _robots_filter_oracle()


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup over the corpus — see
    operators/dedup.py:cdc_chunk_dedup (Rabin/FastCDC family:
    boundaries derive from content, so shifted-but-identical regions
    still dedupe; fixed blocks cannot)."""
    return dd.cdc_chunk_dedup(load_table(spark, sf_dir, "documents"))


def _cdc_chunk_dedup_oracle() -> str:
    from kafka_streams_dexcom_spark.operators.dedup import (
        CDC_DIVISOR,
        CDC_WINDOW,
    )

    win_hash = DUCK_HASH60.format(
        x=f"substring(text, i - {CDC_WINDOW - 1}, {CDC_WINDOW})"
    )
    return f"""
        WITH d AS MATERIALIZED (
            SELECT doc_id, text,
                   list_filter(range(1, greatest(length(text), 1)),
                       i -> i >= {CDC_WINDOW}
                            AND {win_hash} % {CDC_DIVISOR} = 0) AS bp
            FROM documents
            WHERE length(text) >= 1
        ),
        c AS MATERIALIZED (
            SELECT doc_id, j AS ci,
                   substring(text, s, e - s + 1) AS ctext
            FROM (
                SELECT doc_id, text, bp, j,
                       CASE WHEN j = 1 THEN 1 ELSE bp[j - 1] + 1 END AS s,
                       CASE WHEN j = len(bp) + 1 THEN length(text)
                            ELSE bp[j] END AS e
                FROM d, UNNEST(range(1, len(bp) + 2)) r(j)
            )
        ),
        f AS MATERIALIZED (
            SELECT doc_id, length(ctext) AS clen,
                   CASE WHEN row_number() OVER (
                       PARTITION BY {DUCK_HASH60.format(x='ctext')}
                       ORDER BY doc_id, ci) > 1 THEN 1 ELSE 0 END AS dup
            FROM c
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(sum(dup) AS BIGINT) AS n_dup_chunks,
               CAST(sum(clen) AS BIGINT) AS chars_total,
               CAST(sum(clen * dup) AS BIGINT) AS chars_dup
        FROM f GROUP BY doc_id
    """


QUERIES["cdc_chunk_dedup"] = q_cdc_chunk_dedup
ORACLES["cdc_chunk_dedup"] = _cdc_chunk_dedup_oracle()
