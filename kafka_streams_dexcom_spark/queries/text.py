"""Text-analysis queries over `documents` with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.hashing import hash60_sql
from kafka_streams_dexcom_spark.operators import text as tx
from kafka_streams_dexcom_spark.operators.dedup import HASH60_TPL, TOKENS_TPL
from kafka_streams_dexcom_spark.queries.duck import DUCK_HASH60, DUCK_TOKENS
from kafka_streams_dexcom_spark.sources.files import load_table


BM25_QUERY_TERMS = ("join", "hash", "vector")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-20 documents for the query bag
    'join hash vector' — the classic lexical-retrieval baseline a
    training-data pipeline uses for targeted corpus slicing (and the
    retrieval half of contamination checks). Round 13: served from the
    SAME published index artifacts the freetext family reads (postings
    + collection stats) — the query-term IN filter pushes into the
    postings parquet scan, so the corpus text is never touched; scores
    are bit-identical to the scan-side mode (see
    operators/text.py:bm25_search for the +0.0 argument)."""
    return tx.bm25_search(
        load_table(spark, sf_dir, "documents"),
        BM25_QUERY_TERMS,
        postings=bm25_postings_map(spark, sf_dir),
        stats=bm25_stats_map(spark, sf_dir),
    )


BM25_FREETEXT_QUERIES = (
    (0, ("hash", "join", "merge")),
    (1, ("window", "filter")),
    (2, ("vector", "scan", "data", "fast")),
)
BM25_FREETEXT_K = 20


def bm25_postings_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus inverted index (term, doc_id, tf, dl), MATERIALIZED
    ONCE per (Spark application, corpus) and shared by bm25_freetext
    and bm25_rerank — a search system's index IS its published
    artifact; rebuilding it per query batch was the one remaining
    unamortized stage-1 (the kmeans_cells_map discipline, applied to
    retrieval). Oracles are unchanged: they replay the index build
    from the data, and the parquet round-trip is bit-exact."""
    import os

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    return session_artifact(
        spark,
        "bm25_postings",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        ),
        lambda: tx.build_inverted_index(
            load_table(spark, sf_dir, "documents")
        ),
    )


def bm25_stats_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index's collection statistics — ONE row (n_docs, sum_dl) —
    materialized beside the postings artifact (round-12: a search index
    ships with its stats; recomputing them per query batch paid a
    doc-scale distinct over the postings plus a corpus row count on
    every bm25_freetext / bm25_rerank / hybrid_search_rrf invocation).
    Same values bm25_freetext derives itself when ``stats`` is None, so
    oracles are unchanged."""
    import os

    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    def _build() -> DataFrame:
        post = bm25_postings_map(spark, sf_dir)
        sum_dl = (
            post.select("doc_id", "dl")
            .distinct()
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
        )
        return (
            load_table(spark, sf_dir, "documents")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .crossJoin(F.broadcast(sum_dl))
        )

    return session_artifact(
        spark,
        "bm25_stats",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        ),
        _build,
    )


def q_bm25_freetext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text BM25 over a posting-list inverted index: a BATCH of
    ad-hoc queries arrives as (query_id, term) rows and is answered in
    one pass — the production retrieval shape (bm25_search handles only
    a fixed compile-time term bag). Index built once (one token
    shuffle), query side all-broadcast, per-query two-level top-k;
    fixed-point integer score units keep the sum partition-order
    independent so the oracle replays it exactly. See
    operators/text.py:bm25_freetext."""
    qrows = [
        (qid, t) for qid, terms in BM25_FREETEXT_QUERIES for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id long, term string")
    return tx.bm25_freetext(
        load_table(spark, sf_dir, "documents"),
        qdf,
        k=BM25_FREETEXT_K,
        postings=_query_term_postings(spark, sf_dir),
        stats=bm25_stats_map(spark, sf_dir),
    )


def _query_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The postings artifact pre-filtered to this batch's STATIC term
    bag (round 13): the batch is a compile-time constant here, so the
    IN filter pushes into the artifact's parquet scan (PushedFilters)
    instead of scanning the full index into the term join — at 100 TB
    with a term-bucketed index this is row-group pruning. Safe because
    the operator consumes ``postings`` only through the term join when
    ``stats`` is supplied (rows outside the term bag never matter), so
    scores are unchanged."""
    terms = sorted({t for _, ts in BM25_FREETEXT_QUERIES for t in ts})
    return bm25_postings_map(spark, sf_dir).filter(
        F.col("term").isin(terms)
    )



RERANK_TOPN = 10


def q_bm25_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval: BM25 candidates re-ranked by distinct-term
    proximity (operators/text.py:bm25_rerank_proximity). Stage 2 is
    candidate-bounded — the id set broadcasts into the corpus scan."""
    qrows = [
        (qid, t) for qid, terms in BM25_FREETEXT_QUERIES for t in terms
    ]
    qdf = spark.createDataFrame(qrows, "query_id long, term string")
    return tx.bm25_rerank_proximity(
        load_table(spark, sf_dir, "documents"),
        qdf,
        k=BM25_FREETEXT_K,
        topn=RERANK_TOPN,
        postings=_query_term_postings(spark, sf_dir),
        stats=bm25_stats_map(spark, sf_dir),
    )


def _bm25_rerank_oracle() -> str:
    """Replays bm25_rerank_proximity: the bm25_freetext oracle as the
    candidate subquery, 1-based positions (gaps are differences, so the
    base offset cancels against Spark's 0-based posexplode), integer
    bonus units."""
    values = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in BM25_FREETEXT_QUERIES
        for t in terms
    )
    return f"""
        WITH cand AS (SELECT * FROM ({_bm25_freetext_oracle()}) c),
        q2 AS (
            SELECT CAST(query_id AS BIGINT) AS query_id, term
            FROM (VALUES {values}) v(query_id, term)
        ),
        ctoks AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS tk
            FROM documents
            WHERE doc_id IN (SELECT doc_id FROM cand)
        ),
        posn AS (
            SELECT doc_id, i AS pos, tk[i] AS term
            FROM ctoks, UNNEST(range(1, len(tk) + 1)) r(i)
        ),
        qm AS (
            SELECT q2.query_id, p.doc_id, p.pos, p.term
            FROM posn p
            JOIN q2 ON p.term = q2.term
            JOIN (SELECT DISTINCT query_id, doc_id FROM cand) cd
              ON cd.query_id = q2.query_id AND cd.doc_id = p.doc_id
        ),
        g AS (
            SELECT query_id, doc_id,
                   pos - lag(pos) OVER w AS gap,
                   term, lag(term) OVER w AS pt
            FROM qm
            WINDOW w AS (PARTITION BY query_id, doc_id ORDER BY pos ASC)
        ),
        spans AS (
            SELECT query_id, doc_id, CAST(min(gap) AS BIGINT) AS min_span
            FROM g WHERE pt IS NOT NULL AND pt <> term
            GROUP BY query_id, doc_id
        ),
        ranked AS (
            SELECT c.query_id, c.doc_id, c.score, s.min_span,
                   CAST(round(c.score * 1000000.0) AS BIGINT)
                   + CASE WHEN s.min_span IS NOT NULL
                          THEN CAST(floor(1000000.0 / (1 + s.min_span))
                                    AS BIGINT)
                          ELSE 0 END AS total_units
            FROM cand c LEFT JOIN spans s
              ON s.query_id = c.query_id AND s.doc_id = c.doc_id
        )
        SELECT query_id, doc_id, bm25_score, min_span, rerank_score, rnk
        FROM (
            SELECT query_id, doc_id, score AS bm25_score, min_span,
                   CAST(total_units AS DOUBLE) / 1000000.0
                       AS rerank_score,
                   CAST(row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY total_units DESC, doc_id ASC
                   ) AS BIGINT) AS rnk
            FROM ranked
        ) WHERE rnk <= {RERANK_TOPN}
    """



def q_doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus bigram LM — the
    fluency/typicality filter signal (see
    operators/text.py:doc_cross_entropy for the fixed-point
    determinism discipline)."""
    return tx.doc_cross_entropy(load_table(spark, sf_dir, "documents"))


def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law corpus diagnostic: least-squares ln(freq)~ln(rank) fit
    over the top-1000 vocabulary terms (see operators/text.py:zipf_slope
    for the decimal-exact regression discipline)."""
    return tx.zipf_slope(load_table(spark, sf_dir, "documents"))


PACK_CONTEXT = 1024


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document a training
    bin of ~PACK_CONTEXT whitespace tokens per language — the step that
    turns a filtered corpus into fixed-length pretraining sequences.

    Greedy streaming packing in document order: a doc starts in the bin
    its running predecessor-token-count falls into (documents may span a
    bin boundary, concat-and-chunk style). One window exchange per
    language stratum (sort by doc_id); token counts are scan-side.
    Output includes the offset inside the bin so a downstream writer can
    split exactly."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = f"size({TOKENS_TPL.format(x='text')})"
    base = d.select(
        "doc_id", "lang", F.expr(toks).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias(
        "prev_tokens"
    )
    return base.select("doc_id", "lang", "n_tokens", prev).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor(F.col("prev_tokens") / PACK_CONTEXT)
        .cast("bigint")
        .alias("bin_idx"),
        (F.col("prev_tokens") % PACK_CONTEXT).cast("bigint").alias(
            "bin_offset"
        ),
    )


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: declared `lang` column vs the
    marker-based prediction, with per-cell counts — the
    classifier-quality view that decides whether the cheap n-gram
    heuristic is good enough before spending on a real model. One extra
    bounded aggregation (langs x predictions) over the lang_id pipeline.
    """
    d = load_table(spark, sf_dir, "documents")
    pred = tx.language_id(d, spark).select("doc_id", "pred_lang")
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary Jaccard overlap between every pair of sources — the
    corpus-diversity matrix (near-identical vocabularies flag mirrored
    or templated sources before dedup even runs).

    Shape: distinct (source, term) — one shuffle; per-term source lists
    feed the same within-bucket combination generator the LSH pipelines
    use (dedup.pairs_within_buckets: no self-join, the term table is
    computed once); intersection counts aggregate per source pair and
    join two broadcast vocab-size rows. Terms in k sources emit C(k,2)
    pairs — bounded by (#sources choose 2) per term, NOT by corpus
    size."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6
    from kafka_streams_dexcom_spark.operators.dedup import (
        pairs_within_buckets,
    )

    d = load_table(spark, sf_dir, "documents")
    st = (
        d.select(
            "source",
            F.explode(F.split(F.col("text"), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .distinct()
    )
    inter = (
        pairs_within_buckets(
            st, ["term"], F.struct(F.col("source").alias("id"))
        )
        .select(
            F.col("pair_a.id").alias("src_a"),
            F.col("pair_b.id").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    vocab = st.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    va = vocab.select(
        F.col("source").alias("src_a"), F.col("vocab").alias("vocab_a")
    )
    vb = vocab.select(
        F.col("source").alias("src_b"), F.col("vocab").alias("vocab_b")
    )
    union = F.col("vocab_a") + F.col("vocab_b") - F.col("n_common")
    return (
        inter.join(F.broadcast(va), "src_a")
        .join(F.broadcast(vb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            trunc6(
                F.col("n_common").cast("double") / union.cast("double")
            ).alias("vocab_jaccard"),
        )
    )


WS_K = 100


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (A-ES / exponential race):
    top-100 documents by the deterministic race key -ln(u)/w with weight
    w = n_chars and u an md5-derived uniform — longer documents are
    proportionally likelier, yet the draw is reproducible and exactly
    oracle-replayable (no RNG anywhere). The standard distributed
    weighted-reservoir trick: the race key is narrow per-row compute,
    selection is a two-level top-k, so sampling 100 of 100 billion rows
    never materializes more than partition-local heads.

    Keys are truncated to 6 decimals BEFORE ranking (libm ln may differ
    in the last ulp across engines), ties break on doc_id."""
    from pyspark.sql import Window
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    d = load_table(spark, sf_dir, "documents")
    h = F.expr(HASH60_TPL.format(x="concat('ws|', CAST(doc_id AS STRING))"))
    # (h+1)/2^60 in (0, 1]: never 0, so ln is finite
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    key = trunc6(-F.log(u) / F.col("n_chars").cast("double"))
    base = d.select("doc_id", "n_chars", key.alias("race_key"))
    # One rank window: compiles to TakeOrderedAndProject — per-partition
    # heads are pruned scan-side, zero exchanges (the handwritten
    # spark_partition_id() local pass paid one, round 13).
    global_w = Window.partitionBy().orderBy(
        F.col("race_key").asc(), F.col("doc_id").asc()
    )
    return (
        base.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= WS_K)
        .select(
            "doc_id",
            "n_chars",
            "race_key",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def q_source_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration (Lorenz curve) by source: sources ranked by
    token volume with their cumulative share — the balance diagnostic
    behind 'is 80% of the corpus coming from 3 sources'.

    One scan-side token count + one bounded source aggregation; the
    ranking window runs over #sources rows. Shares are exact integer
    token sums divided once as fixed-order doubles, truncated before
    output."""
    from pyspark.sql import Window
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    d = load_table(spark, sf_dir, "documents")
    toks = f"size({TOKENS_TPL.format(x='text')})"
    per_source = (
        d.select("source", F.expr(toks).cast("bigint").alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
    )
    w = Window.orderBy(F.col("n_tokens").asc(), F.col("source").asc())
    cum = F.sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum("n_tokens").over(
        Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return per_source.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "source",
        "n_tokens",
        trunc6(cum.cast("double") / total.cast("double")).alias(
            "cum_share"
        ),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.text_stats(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.language_id(load_table(spark, sf_dir, "documents"), spark)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(load_table(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_counts(load_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.doc_fingerprint(load_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bigram_lm(load_table(spark, sf_dir, "documents"))


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.doc_chunks(load_table(spark, sf_dir, "documents"))



def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDTF twin of doc_chunks (operators/text.py:doc_chunks_udtf) —
    same output, same oracle; exists to keep the full UDF surface
    exercised end-to-end."""
    return tx.doc_chunks_udtf(load_table(spark, sf_dir, "documents"), spark)


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.winnow_fingerprints(load_table(spark, sf_dir, "documents"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.stratified_sample(
        load_table(spark, sf_dir, "documents"), spark
    )


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.pmi_pairs(load_table(spark, sf_dir, "documents"))


def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality deciles (ntile) with per-bin stats — the
    corpus-curation view behind 'keep the top 30% of each language'.

    Scale note: ntile sorts within its partition, so the window is keyed
    by language (bounded strata). A GLOBAL decile over 100 TB would
    instead take approx_percentile cut points and bin scan-side — the
    partitionBy here is what keeps the sort distributed."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_score(d).select("doc_id", "quality_score")
    scored = d.select("doc_id", "lang").join(q, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").asc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
        )
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document
    (operators/text.py:char_entropy) — the compression-style junk
    screen, entirely scan-side."""
    return tx.char_entropy(load_table(spark, sf_dir, "documents"))


PPL_BUCKETS = ("head", "middle", "tail")


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): per language, rank documents by their LM
    cross-entropy and split into head/middle/tail thirds — the
    published curation scheme where 'head' is the cleanest slice and
    'tail' is usually dropped. Reuses doc_cross_entropy (the corpus's
    own bigram LM, 1e-9 fixed-point units) as the perplexity proxy;
    docs without a bigram (<2 tokens) carry no LM evidence and are
    excluded, exactly like doc_perplexity.

    Scale: doc_cross_entropy's passes + one broadcast-joined lang
    column + an ntile window per language stratum (bounded partitions,
    the quality_deciles discipline)."""
    d = load_table(spark, sf_dir, "documents")
    ce = tx.doc_cross_entropy(d)
    scored = d.select("doc_id", "lang").join(ce, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("cross_entropy").asc(), F.col("doc_id").asc()
    )
    bucket = F.element_at(
        F.array(*(F.lit(b) for b in PPL_BUCKETS)), F.col("t")
    )
    return (
        scored.withColumn("t", F.ntile(3).over(w))
        .groupBy("lang", "t")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("sum_bigrams"),
            F.min("cross_entropy").alias("min_ce"),
            F.max("cross_entropy").alias("max_ce"),
        )
        .select(
            "lang",
            bucket.alias("bucket"),
            "n_docs",
            "sum_bigrams",
            "min_ce",
            "max_ce",
        )
    )


def q_kneser_ney_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM over the corpus
    (operators/text.py:kneser_ney_lm) — every observed bigram with its
    count statistics and the smoothed p_kn."""
    return tx.kneser_ney_lm(load_table(spark, sf_dir, "documents"))


def q_kneser_ney_modified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modified Kneser-Ney (operators/text.py:kneser_ney_modified) —
    the Chen-Goodman data-estimated three-discount form, the default
    smoothing of every serious n-gram toolkit."""
    return tx.kneser_ney_modified(load_table(spark, sf_dir, "documents"))


def q_kneser_ney_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated trigram Kneser-Ney
    (operators/text.py:kneser_ney_trigram) — the two-level backoff: the
    trigram level interpolates into a bigram model built from
    CONTINUATION counts, the defining KN move at interior levels."""
    return tx.kneser_ney_trigram(load_table(spark, sf_dir, "documents"))


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (operators/text.py:gopher_rules) — the
    published rule-based curation pass, one exact-integer flag per rule.
    Complements quality_score (a ranking score) with hard gates."""
    return tx.gopher_rules(load_table(spark, sf_dir, "documents"))


# UniMax (Chung et al. 2023, arXiv:2304.09151): allocate a token budget
# across sources with a per-source epoch cap, waterfilling the surplus —
# the principled alternative to temperature sampling for multi-source
# corpora. Cap as a rational (11/10 = 1.1 epochs) keeps every step in
# exact BIGINT arithmetic.
UNIMAX_CAP_NUM = 11
UNIMAX_CAP_DEN = 10


def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation per source: cap_i = ⌊1.1·s_i⌋ tokens
    (s_i = source's BPE-ish token count), budget B = Σs_i (one nominal
    epoch of the whole corpus). The waterfill level θ solves
    Σ min(cap_i, θ) = B: sources whose cap sits under water are used to
    their cap (capped=1), the rest all get the same ⌊θ⌋ tokens — the
    closed form is a prefix-sum scan over caps sorted ascending, no
    iteration: source k is capped iff P_{k-1} + (n-k+1)·c_k ≤ B, then
    θ = (B − P_K)/(n − K).

    Exactness: everything through alloc_tokens is BIGINT (the epoch cap
    is the rational 11/10, θ is floored integer division); only the
    final epochs ratio is a trunc6 double.

    Scale: one token-counting scan + one |sources|-key agg; everything
    after is arithmetic on the tiny source dimension (a global-ordered
    window over |sources| rows — bounded by construction; a pipeline
    with millions of 'sources' would bucket them first)."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    d = load_table(spark, sf_dir, "documents")
    n_bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(tx.BPE_ISH_PATTERN), 0
        )
    ).cast("bigint")
    per = (
        d.select("source", n_bpe.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("src_tokens"),
        )
        .withColumn(
            "cap_tokens",
            F.expr(
                f"(src_tokens * {UNIMAX_CAP_NUM}) div {UNIMAX_CAP_DEN}"
            ),
        )
    )
    tot = per.agg(
        F.sum("src_tokens").alias("budget"),
        F.count(F.lit(1)).alias("n_src"),
    )
    w_prev = (
        Window.orderBy("cap_tokens", "source")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_rank = Window.orderBy("cap_tokens", "source")
    staged = (
        per.crossJoin(F.broadcast(tot))
        .withColumn(
            "p_prev", F.coalesce(F.sum("cap_tokens").over(w_prev), F.lit(0))
        )
        .withColumn("k", F.row_number().over(w_rank))
        .withColumn(
            "capped",
            (
                F.col("p_prev")
                + (F.col("n_src") - F.col("k") + 1) * F.col("cap_tokens")
                <= F.col("budget")
            ).cast("int"),
        )
    )
    fill = staged.agg(
        F.sum("capped").alias("n_capped"),
        F.coalesce(
            F.sum(F.when(F.col("capped") == 1, F.col("cap_tokens"))),
            F.lit(0),
        ).alias("capped_mass"),
    )
    return (
        staged.crossJoin(F.broadcast(fill))
        .withColumn(
            "alloc_tokens",
            F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(
                F.expr(
                    "(budget - capped_mass) div "
                    "greatest(n_src - n_capped, 1L)"
                )
            ),
        )
        .select(
            "source",
            "n_docs",
            "src_tokens",
            "cap_tokens",
            "capped",
            "alloc_tokens",
            trunc6(
                F.col("alloc_tokens").cast("double")
                / F.col("src_tokens").cast("double")
            ).alias("epochs"),
        )
    )


# Knuth multiplicative constant (⌊2^32/φ⌋, odd): the standard
# multiplicative-hash shard assignment; taking the HIGH 6 bits of the
# 32-bit product is what mixes a sequential id space (low bits of
# id*const are just id's low bits scaled).
SHARD_MULT = 2654435761
N_SHARDS = 64


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard balance audit — the partitioner check run BEFORE
    writing a corpus as N fixed shards: assign every doc to one of 64
    shards by a deterministic multiplicative hash of doc_id, then report
    per-shard doc count, char mass, and load ratio vs the ideal 1/64
    share. A hot shard here is a hot reducer/file at write time; the
    same audit at 100 TB decides between hash-sharding and
    range-sharding with explicit splits.

    Plan: one scan-side projection (the hash is integer arithmetic, no
    UDF) + one 64-key groupBy + a broadcast single-row total — the
    audit costs one pass regardless of corpus size. The hash is pure
    BIGINT math so the DuckDB oracle computes the identical assignment
    (no engine-hash dependence: Spark's hash() and DuckDB's hash()
    would never agree)."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    shard = F.shiftright(
        F.pmod(F.col("doc_id") * F.lit(SHARD_MULT), F.lit(2**32)), 26
    ).cast("int")
    per = (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )
    tot = d.agg(F.sum("n_chars").alias("total_chars"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "sum_chars",
        trunc6(
            F.col("sum_chars").cast("double")
            * N_SHARDS
            / F.col("total_chars").cast("double")
        ).alias("load_ratio"),
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.pii_scan(load_table(spark, sf_dir, "documents"))


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection — the composition the toolkit
    exists for: exact-dedup survivors ∩ quality gate ∩ token budget.

    Plan shape: three scan-side pipelines over one table joined on
    doc_id; dedup contributes one groupBy shuffle; the joins are
    broadcast-eligible at this dimensionality and AQE-planned at scale.
    """
    d = load_table(spark, sf_dir, "documents")

    survivors = (
        d.withColumn("text_hash", F.expr(HASH60_TPL.format(x="text")))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    quality = tx.quality_score(d).select("doc_id", "quality_score")
    tokens = tx.token_counts(d).select("doc_id", "n_bpe_tokens")
    return (
        d.select("doc_id", "lang", "source")
        .join(survivors, "doc_id")
        .join(quality, "doc_id")
        .join(tokens, "doc_id")
        .filter(
            (F.col("quality_score") >= 0.5)
            & F.col("n_bpe_tokens").between(20, 10_000)
        )
        .select("doc_id", "lang", "source", "quality_score", "n_bpe_tokens")
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text cleaning pass: lowercase, strip non-alphanumerics,
    collapse whitespace — the first narrow map of every corpus pipeline."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9\\s]", ""),
            "\\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


def _markers_values() -> str:
    rows = ", ".join(
        f"('{lang}', '{tok}')"
        for lang, toks in tx.LANG_MARKERS.items()
        for tok in toks
    )
    return f"markers(lang_code, marker) AS (VALUES {rows})"


_STOPS = ", ".join(f"'{t}'" for t in tx.LANG_MARKERS["en"])


def gopher_duck_sql(src: str = "documents") -> str:
    """Per-doc Gopher flag replay (doc_id, n_words, r_*, keep) over any
    relation ``src`` exposing (doc_id, text) — the gopher_rules oracle,
    parameterized so the HTML quality-gate oracle (queries/corpus.py)
    can run the SAME rules over SQL-rebuilt tag soup as well as clean
    text. ``src`` may be a table name or a parenthesized subquery."""
    return f"""
        WITH t AS (
            SELECT doc_id, text,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM {src}
        ),
        c AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(CASE WHEN len(toks) = 0 THEN 0 ELSE
                       list_reduce(list_transform(toks,
                           t -> CAST(length(t) AS BIGINT)),
                           (a, b) -> a + b)
                   END AS BIGINT) AS sum_wlen,
                   CAST(len(list_filter(toks,
                       x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                       AS n_alpha,
                   CAST(length(text) - length(replace(text, '#', ''))
                       AS BIGINT) AS n_hash,
                   CAST((length(text)
                         - length(replace(text, '...', ''))) // 3
                       AS BIGINT) AS n_ell,
                   CAST(len(list_filter([{_STOPS}],
                       s -> list_contains(toks, s))) AS BIGINT) AS n_stop
            FROM t
        )
        SELECT doc_id, n_words,
               CAST(n_words BETWEEN {tx.GOPHER_MIN_WORDS}
                    AND {tx.GOPHER_MAX_WORDS} AS INT) AS r_word_count,
               CAST({tx.GOPHER_MIN_MEAN_WLEN} * n_words <= sum_wlen
                    AND sum_wlen <= {tx.GOPHER_MAX_MEAN_WLEN} * n_words
                    AS INT) AS r_mean_word_len,
               CAST(10 * (n_hash + n_ell) <= n_words AS INT)
                   AS r_symbol_ratio,
               CAST(5 * n_alpha >= 4 * n_words AS INT) AS r_alpha_words,
               CAST(n_stop >= {tx.GOPHER_MIN_STOP_HITS} AS INT)
                   AS r_stopwords,
               CAST(n_words BETWEEN {tx.GOPHER_MIN_WORDS}
                        AND {tx.GOPHER_MAX_WORDS}
                    AND {tx.GOPHER_MIN_MEAN_WLEN} * n_words <= sum_wlen
                    AND sum_wlen <= {tx.GOPHER_MAX_MEAN_WLEN} * n_words
                    AND 10 * (n_hash + n_ell) <= n_words
                    AND 5 * n_alpha >= 4 * n_words
                    AND n_stop >= {tx.GOPHER_MIN_STOP_HITS} AS INT)
                   AS keep
        FROM c
    """


def quality_score_sql() -> str:
    """(doc_id, quality_score) oracle fragment mirroring
    operators/text.py:quality_score — shared by the quality_deciles,
    training_mix, and token_budget_pack oracles here and the dedup
    best-survivor oracle in queries/dedup.py, so every consumer replays
    the identical composite-score arithmetic. Tokens are the non-empty
    whitespace splits (matching the operator); a token-free document
    scores 0.0 instead of dividing by zero."""
    return f"""
        SELECT doc_id,
               CASE WHEN n = 0 THEN 0.0 ELSE
                   floor((0.3 * least(n / 100.0, 1.0)
                         + 0.3 * (nd / n)
                         + 0.2 * (ns / n)
                         + 0.2 * (na / n)) * 1000000) / 1000000.0
               END AS quality_score
        FROM (
            SELECT doc_id,
                   CAST(len(tk) AS DOUBLE) AS n,
                   CAST(len(list_distinct(tk)) AS DOUBLE) AS nd,
                   CAST(len(list_filter(tk, x -> x IN ({_STOPS})))
                       AS DOUBLE) AS ns,
                   CAST(len(list_filter(tk,
                       x -> regexp_full_match(x, '[A-Za-z]+')))
                       AS DOUBLE) AS na
            FROM (
                SELECT doc_id,
                       {DUCK_TOKENS.format(x='text')} AS tk
                FROM documents
            )
        )
    """

# evaluated once for the f-string oracles below
qsql = quality_score_sql()

DUP_SPAN_K = 8


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span exposure per document (operators/text.py:
    dup_span_fraction): fraction of each doc's token 8-grams occurring
    in >= 2 documents — the exact-substring dedup signal."""
    return tx.dup_span_fraction(
        load_table(spark, sf_dir, "documents"), k=DUP_SPAN_K
    )



BPE_TOP_K = 50


def q_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration (operators/text.py:bpe_pair_stats):
    top-50 word-frequency-weighted adjacent char pairs — the tokenizer-
    training per-round primitive."""
    return tx.bpe_pair_stats(
        load_table(spark, sf_dir, "documents"), top_k=BPE_TOP_K
    )



BPE_MERGES = 5


def _tokenizer_artifacts(
    spark: SparkSession, sf_dir: str, tags: tuple[str, ...], n: int, train
) -> tuple[DataFrame, ...]:
    """Publish a tokenizer's legs (``tags``) from ONE run of ``train``
    over the documents table (sources/files.session_artifacts), keyed
    by (corpus, its fingerprint, the round count ``n``)."""
    import os

    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifacts,
    )

    key = (
        os.path.abspath(sf_dir),
        corpus_fingerprint(os.path.join(sf_dir, "documents.parquet")),
        n,
    )
    return session_artifacts(
        spark,
        tags,
        key,
        lambda: train(load_table(spark, sf_dir, "documents")),
    )


def bpe_artifacts(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> tuple[DataFrame, DataFrame]:
    """The learned BPE tokenizer's (merge table, fully-merged
    vocabulary) pair, trained ONCE per (Spark application, corpus) and
    shared by every consumer — bpe_train, bpe_encode, bpe_fertility. A
    trained tokenizer is THE canonical published artifact of a training-
    data pipeline: at 100 TB nobody re-runs the merge loop per query;
    every downstream job reads the frozen merges/vocab tables (same
    publish-once contract as the coarse quantizer and PQ codebooks in
    queries/similarity.py). One ``operators/text.py:_merge_loop`` run
    feeds BOTH artifacts (``_tokenizer_artifacts``); oracles are
    unchanged — they replay training from the data, and the parquet
    round-trip is bit-exact."""
    return _tokenizer_artifacts(
        spark,
        sf_dir,
        ("bpe_merges", "bpe_vocab"),
        n_merges,
        lambda docs: tx._merge_loop(docs, "text", n_merges, tx.BPE),
    )


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated BPE training (operators/text.py:bpe_train): 5 merge
    rounds over the corpus vocabulary; returns the merge table — the
    tokenizer-trainer loop as a deterministic unrolled pipeline. Served
    from the shared trained-tokenizer artifact (``bpe_artifacts``)."""
    merges, _vocab = bpe_artifacts(spark, sf_dir)
    return merges


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned BPE vocabulary
    (operators/text.py:bpe_encode_counts): per-doc word/token/char
    counts after all 5 merges plus the chars-per-token compression —
    the apply side a pipeline runs on every document after training.
    The vocabulary comes from the shared trained-tokenizer artifact
    (``bpe_artifacts``), so this query is pure apply."""
    _merges, vocab = bpe_artifacts(spark, sf_dir)
    return tx.bpe_encode_counts(
        load_table(spark, sf_dir, "documents"),
        n_merges=BPE_MERGES,
        vocab=vocab,
    )


# DuckDB twins of operators/text.py's merge families, one row each with
# MergeFamily's three fields: (seed SQL giving the word w's symbols,
# scored, strip_cont)
_MERGE_FAMILIES_DUCK = {
    # one symbol per character
    "bpe": (
        "list_transform(range(1, length(w) + 1), i -> w[i:i])",
        False,
        False,
    ),
    # one per UTF-8 byte, as uppercase hex pairs (hex() casing agrees
    # across engines)
    "bytebpe": (
        "list_transform(range(1, octet_length(encode(w)) + 1), "
        "i -> hex(encode(w))[2*i - 1:2*i])",
        False,
        False,
    ),
    # first char bare, every continuation char '##'-prefixed
    "wordpiece": (
        "list_transform(range(1, length(w) + 1), "
        "i -> CASE WHEN i = 1 THEN w[i:i] ELSE '##' || w[i:i] END)",
        True,
        True,
    ),
}

# distinct-word counts (w, wc): the twin of operators/text.py:_word_counts
_WORDS_DUCK = f"""
                SELECT t AS w, count(*) AS wc
                FROM documents,
                     UNNEST({DUCK_TOKENS.format(x='text')}) AS u(t)
                GROUP BY t"""


def _merge_chain(n_merges: int, family: str) -> str:
    """The CTE chain replaying operators/text.py:_merge_loop for the
    ``family`` row of _MERGE_FAMILIES_DUCK: the seeded word table v0,
    then per round the pair counts p{r}, the argmax pair b{r} (bp1,
    bp2, n — by count, or for a scored family by the likelihood gain
    ``score``, the ONE double division, IEEE-exact in both engines)
    and the greedy left-to-right merge fold v{r} (w, wc, syms):
    list_reduce over singleton lists, the same fold shape as Spark's
    aggregate, with '##' stripped from the absorbed right symbol when
    ``strip_cont``. An exhausted round's empty b{r} joins as null and
    leaves every word as it is.

    Every v{r} is MATERIALIZED: a scored round references it THREE
    times (symbol counts, pair counts, next rewrite), so plain-CTE
    inlining re-evaluates the word table 3^rounds times — measured as a
    20 GB DuckDB spill and an out-of-disk abort at sf10 (the unigram
    DP's sf1 Lloyd-replay lesson, third occurrence)."""
    seed, scored, strip_cont = _MERGE_FAMILIES_DUCK[family]
    right = (
        "CASE WHEN bp2[1:2] = '##' THEN bp2[3:] ELSE bp2 END"
        if strip_cont
        else "bp2"
    )
    parts = [f"""
        v0 AS MATERIALIZED (
            SELECT w, wc, {seed} AS syms
            FROM ({_WORDS_DUCK}
            )
        )"""]
    for r in range(1, n_merges + 1):
        score, joins, rank = "", "", "p.n"
        if scored:
            parts.append(f"""
        s{r} AS MATERIALIZED (
            SELECT s, CAST(sum(wc) AS BIGINT) AS cnt
            FROM v{r - 1}, UNNEST(syms) AS u(s)
            GROUP BY s
        )""")
            score = """,
                   CAST(p.n AS DOUBLE)
                       / (CAST(c1.cnt AS DOUBLE) * CAST(c2.cnt AS DOUBLE))
                       AS score"""
            joins = f"""
            JOIN s{r} c1 ON c1.s = p.s1
            JOIN s{r} c2 ON c2.s = p.s2"""
            rank = "score"
        parts.append(f"""
        p{r} AS MATERIALIZED (
            SELECT syms[i] AS s1, syms[i + 1] AS s2,
                   CAST(sum(wc) AS BIGINT) AS n
            FROM v{r - 1}, UNNEST(range(1, len(syms))) AS rr(i)
            WHERE len(syms) >= 2
            GROUP BY 1, 2
        ),
        b{r} AS MATERIALIZED (
            SELECT p.s1 AS bp1, p.s2 AS bp2, p.n{score}
            FROM p{r} p{joins}
            ORDER BY {rank} DESC, p.s1 ASC, p.s2 ASC LIMIT 1
        ),
        v{r} AS MATERIALIZED (
            SELECT w, wc,
                   CASE WHEN len(syms) <= 1 THEN syms ELSE
                     list_reduce(list_transform(syms, x -> [x]),
                       (acc, el) ->
                         CASE WHEN acc[-1] = bp1 AND el[1] = bp2
                              THEN list_concat(acc[1:len(acc) - 1],
                                               [bp1 || {right}])
                              ELSE list_concat(acc, el) END)
                   END AS syms
            FROM v{r - 1} LEFT JOIN b{r} ON true
        )""")
    return ",".join(parts)


def _merge_train_oracle(n_merges: int, family: str) -> str:
    """Unrolled replay of a merge family's training (see _merge_chain):
    one merge-table row per round from b{r}, plus the trunc6 ``score``
    for a scored family."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6_sql

    scored = _MERGE_FAMILIES_DUCK[family][1]
    score = f", {trunc6_sql('score')} AS score" if scored else ""
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS round, bp1 || '+' || bp2 AS pair,"
        f" n AS n_occurrences{score} FROM b{r}"
        for r in range(1, n_merges + 1)
    ]
    return (
        "WITH " + _merge_chain(n_merges, family) + "\n"
        + "\nUNION ALL\n".join(selects)
    )


def _vocab_sums_duck(key: str, **sums: str) -> str:
    """The twin of operators/text.py:vocab_sums, appended to any head
    that ends at ``enc`` (w, wtok, ...): CTEs ``wcnt`` (word counts per
    ``key``) and ``per`` (exact BIGINT n_words, n_tokens and
    ``name = sum(n * col)`` for each keyword in ``sums``, per key)."""
    cols = "".join(
        f",\n                   CAST(sum(n * {col}) AS BIGINT) AS {name}"
        for name, col in sums.items()
    )
    return f""",
        wcnt AS (
            SELECT {key}, t AS w, count(*) AS n
            FROM documents,
                 UNNEST({DUCK_TOKENS.format(x='text')}) AS u(t)
            GROUP BY {key}, t
        ),
        per AS (
            SELECT {key},
                   CAST(sum(n) AS BIGINT) AS n_words,
                   CAST(sum(n * wtok) AS BIGINT) AS n_tokens{cols}
            FROM wcnt JOIN enc USING (w)
            GROUP BY {key}
        )"""


def _encode_tail(**sums: str) -> str:
    """Per-doc encode counts, the twin of operators/text.py:
    _encode_counts: _vocab_sums_duck per doc_id, left-joined back to
    every document so a doc with no words keeps zero counts, plus the
    floor-truncated compression — the FIRST of ``sums`` (the unit
    mass: chars or bytes) per token."""
    unit = next(iter(sums))
    cols = "".join(
        f"\n               coalesce(per.{c}, 0) AS {c},"
        for c in ("n_words", "n_tokens", *sums)
    )
    return _vocab_sums_duck("doc_id", **sums) + f"""
        SELECT d.doc_id,{cols}
               CASE WHEN coalesce(per.n_tokens, 0) > 0
                    THEN floor(per.{unit} * 1000000.0 / per.n_tokens)
                         / 1000000.0
               END AS compression
        FROM documents d LEFT JOIN per USING (doc_id)"""


def _fertility_tail(**sums: str) -> str:
    """Per-language fertility, the twin of operators/text.py:
    lang_fertility: _vocab_sums_duck per lang plus tokens per word,
    floor-truncated to 6 decimals."""
    cols = "".join(f" {c}," for c in sums)
    return _vocab_sums_duck("lang", **sums) + f"""
        SELECT lang, n_words, n_tokens,{cols}
               floor(n_tokens * 1000000.0 / n_words) / 1000000.0
                   AS fertility
        FROM per"""


def _bpe_enc_head(n_merges: int, family: str) -> str:
    """Oracle head for the BPE apply family (``family`` "bpe" or
    "bytebpe"): the merge chain, ending at ``enc`` (w, wtok, wlen) —
    the word → token-length map, with wlen the unit mass (UTF-8 bytes
    for the byte family, chars otherwise)."""
    wlen = "octet_length(encode(w))" if family == "bytebpe" else "length(w)"
    return "WITH " + _merge_chain(n_merges, family) + f""",
        enc AS (
            SELECT w, len(syms) AS wtok, {wlen} AS wlen
            FROM v{n_merges}
        )"""


def bytebpe_artifacts(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_MERGES
) -> tuple[DataFrame, DataFrame]:
    """The learned BYTE-level BPE tokenizer's (merge table, vocabulary)
    pair — the fourth tokenizer family (GPT-2 / Radford et al. 2019;
    the tiktoken production shape): the same merge loop as classic BPE
    over a 256-symbol UTF-8-byte base alphabet (two-char uppercase hex
    symbols — operators/text.py:BYTEBPE), so there is never an
    [UNK], never a word-length cap, and the tokenizer is total on any
    unicode input. Publish-once per (application, corpus), exactly
    bpe_artifacts' contract."""
    return _tokenizer_artifacts(
        spark,
        sf_dir,
        ("bytebpe_merges", "bytebpe_vocab"),
        n_merges,
        lambda docs: tx._merge_loop(docs, "text", n_merges, tx.BYTEBPE),
    )


def q_bytebpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE training: 5 merge rounds over the UTF-8-byte
    decomposition of the corpus vocabulary — the merge table with pairs
    as hex symbols (e.g. '61+74' merging bytes 'a','t'). Completes the
    tokenizer bake-off's fourth row: the family production LLM
    tokenizers actually ship (no escapes, no [UNK], 256-byte base)."""
    merges, _vocab = bytebpe_artifacts(spark, sf_dir)
    return merges


def q_bytebpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned byte-level vocabulary
    (operators/text.py:bytebpe_encode_counts): per-doc word / token /
    UTF-8-byte counts and bytes-per-token compression — the byte
    family's signature metric. Pure apply off the shared artifact."""
    _merges, vocab = bytebpe_artifacts(spark, sf_dir)
    return tx.bytebpe_encode_counts(
        load_table(spark, sf_dir, "documents"), vocab
    )


def q_bytebpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility under byte-level BPE — the fourth row of
    the bake-off's fertility table, plus bytes_per_token (the byte
    family reports compression against the raw byte stream, the unit
    sequence-length budgets are written in). bpe_fertility's shape
    (operators/text.py:lang_fertility) plus that one column; exact
    integer sums, floor-truncated divisions."""
    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = bytebpe_artifacts(spark, sf_dir)
    enc = vocab.select(
        "w",
        F.size("syms").alias("wtok"),
        F.expr("octet_length(w)").alias("wb"),
    )
    return tx.lang_fertility(docs, enc, n_bytes="wb").select(
        "*",
        (
            F.floor(
                F.col("n_bytes") * F.lit(1_000_000.0) / F.col("n_tokens")
            )
            / F.lit(1_000_000.0)
        ).alias("bytes_per_token"),
    )


# Unigram-LM (SentencePiece) tokenizer hyperparameters — fixed so the
# EM loop unrolls to a deterministic oracle, same discipline as
# BPE_MERGES. max-word-len 16 bounds BOTH the Spark DP fold and the
# oracle's unrolled relational DP (longer words fall back to chars —
# SentencePiece's own long-token escape hatch).
UNIGRAM_ROUNDS = 2
UNIGRAM_SEED_K = 80
UNIGRAM_MAX_PIECE = 4
UNIGRAM_MAX_WORD = 16


def unigram_artifacts(
    spark: SparkSession, sf_dir: str, n_rounds: int = UNIGRAM_ROUNDS
) -> DataFrame:
    """The trained unigram-LM piece table (pc, cnt, p), trained ONCE per
    (Spark application, corpus) and shared by unigram_train and
    unigram_encode — the second production tokenizer family's
    publish-once artifact, exactly bpe_artifacts' contract (a frozen
    tokenizer is read by every downstream job, never retrained per
    query)."""
    (vocab,) = _tokenizer_artifacts(
        spark,
        sf_dir,
        ("unigram_vocab",),
        n_rounds,
        lambda docs: (
            tx._unigram_em_loop(
                docs,
                "text",
                n_rounds,
                UNIGRAM_SEED_K,
                UNIGRAM_MAX_PIECE,
                UNIGRAM_MAX_WORD,
            ),
        ),
    )
    return vocab


def q_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/text.py:_unigram_em_loop
    — Kudo 2018's EM + prune, 2 unrolled rounds over the substring seed
    vocabulary): the final published piece table. Served from the shared
    trained artifact (``unigram_artifacts``)."""
    from pyspark.sql import functions as F

    vocab = unigram_artifacts(spark, sf_dir)
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    return vocab.select(
        F.col("pc").alias("piece"),
        F.length("pc").alias("piece_len"),
        "cnt",
        trunc6(F.col("p")).alias("prob"),
    )


def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned unigram-LM vocabulary
    (operators/text.py:unigram_encode_counts): per-doc word / token /
    char counts + compression — pure apply against the shared frozen
    artifact, the bpe_encode twin for the other tokenizer family."""
    vocab = unigram_artifacts(spark, sf_dir)
    return tx.unigram_encode_counts(
        load_table(spark, sf_dir, "documents"), vocab=vocab
    )


def _unigram_dp_pass(tag: str, vocab_cte: str) -> str:
    """One unrolled relational Viterbi pass for the unigram oracle:
    candidate substrings joined to the pass's piece table, then
    UNIGRAM_MAX_WORD DP position steps — each step keeps, per word, the
    argmax (score desc, piece-len desc) extension ending at that
    position. Every CTE is MATERIALIZED: dp steps are referenced twice
    (pass-through union + join), and plain-CTE inlining would blow up
    exponentially (the sf1 Lloyd-replay lesson). Scores are the same
    incremental double products as the Spark fold — bit-identical by
    IEEE, so both engines replay the same segmentation."""
    parts = [f"""
        cand{tag} AS MATERIALIZED (
            SELECT sw.w, sw.wc, u.c.st AS st, u.c.ln AS ln,
                   substring(sw.w, u.c.st, u.c.ln) AS pc, v.p
            FROM short_words sw,
                 UNNEST(flatten(list_transform(range(1, sw.L + 1), st ->
                   list_transform(range(1, least({UNIGRAM_MAX_PIECE},
                                                 sw.L - st + 1) + 1),
                                  ln -> {{'st': st, 'ln': ln}})))) AS u(c)
            JOIN {vocab_cte} v
              ON v.pc = substring(sw.w, u.c.st, u.c.ln)
        ),
        dp{tag}_0 AS MATERIALIZED (
            SELECT w, wc, 0 AS pos, CAST(1.0 AS DOUBLE) AS sc,
                   CAST([] AS VARCHAR[]) AS toks
            FROM short_words
        )"""]
    for j in range(1, UNIGRAM_MAX_WORD + 1):
        parts.append(f"""
        dp{tag}_{j} AS MATERIALIZED (
            SELECT w, wc, pos, sc, toks FROM dp{tag}_{j - 1}
            UNION ALL
            SELECT w, wc, pos, sc, toks FROM (
                SELECT c.w, d.wc, {j} AS pos, d.sc * c.p AS sc,
                       list_append(d.toks, c.pc) AS toks,
                       row_number() OVER (PARTITION BY c.w
                           ORDER BY d.sc * c.p DESC, c.ln DESC) AS rn
                FROM cand{tag} c
                JOIN dp{tag}_{j - 1} d ON d.w = c.w AND d.pos = c.st - 1
                WHERE c.st + c.ln - 1 = {j}
            ) WHERE rn = 1
        )""")
    parts.append(f"""
        seg{tag} AS MATERIALIZED (
            SELECT d.w, d.wc, d.toks
            FROM dp{tag}_{UNIGRAM_MAX_WORD} d
            JOIN short_words sw ON sw.w = d.w AND d.pos = sw.L
        )""")
    return ",".join(parts)


def _unigram_cte_chain(n_rounds: int = UNIGRAM_ROUNDS) -> str:
    """Shared CTE chain replaying _unigram_em_loop: word table, substring
    seed (top-K multi-char + all chars), then ``n_rounds`` unrolled
    (Viterbi pass, recount, add-one-smooth chars, prune, renormalize)
    rounds, ending at piece table v{n_rounds}."""
    seed_sel = f"""
            SELECT pc, cnt FROM seed_counts WHERE length(pc) = 1
            UNION ALL
            SELECT pc, cnt FROM (
                SELECT pc, cnt FROM seed_counts WHERE length(pc) >= 2
                ORDER BY cnt DESC, pc ASC LIMIT {UNIGRAM_SEED_K})"""
    ctes = [f"""
        words AS MATERIALIZED (
            SELECT w, wc, length(w) AS L FROM ({_WORDS_DUCK}
            )
        ),
        short_words AS MATERIALIZED (
            SELECT * FROM words WHERE L <= {UNIGRAM_MAX_WORD}
        ),
        long_words AS MATERIALIZED (
            SELECT * FROM words WHERE L > {UNIGRAM_MAX_WORD}
        ),
        seed_occ AS (
            SELECT substring(w, u.c.st, u.c.ln) AS pc, wc
            FROM short_words,
                 UNNEST(flatten(list_transform(range(1, L + 1), st ->
                   list_transform(range(1, least({UNIGRAM_MAX_PIECE},
                                                 L - st + 1) + 1),
                                  ln -> {{'st': st, 'ln': ln}})))) AS u(c)
            UNION ALL
            SELECT w[i:i] AS pc, wc
            FROM long_words, UNNEST(range(1, L + 1)) AS r(i)
        ),
        seed_counts AS MATERIALIZED (
            SELECT pc, CAST(sum(wc) AS BIGINT) AS cnt
            FROM seed_occ GROUP BY pc
        ),
        v0 AS MATERIALIZED (
            SELECT pc, cnt,
                   CAST(cnt AS DOUBLE) / CAST((SELECT sum(cnt) FROM ({seed_sel}
                   )) AS DOUBLE) AS p
            FROM ({seed_sel})
        )"""]
    for r in range(1, n_rounds + 1):
        ctes.append(_unigram_dp_pass(f"r{r}", f"v{r - 1}"))
        ctes.append(f"""
        rc{r} AS MATERIALIZED (
            SELECT pc, CAST(sum(wc) AS BIGINT) AS c FROM (
                SELECT u.pc AS pc, wc FROM segr{r}, UNNEST(toks) AS u(pc)
                UNION ALL
                SELECT w[i:i] AS pc, wc
                FROM long_words, UNNEST(range(1, L + 1)) AS r(i)
            ) GROUP BY pc
        ),
        cpr{r} AS MATERIALIZED (
            SELECT v.pc, coalesce(rc.c, 0) AS c,
                   coalesce(rc.c, 0)
                   + CASE WHEN length(v.pc) = 1 THEN 1 ELSE 0 END AS cnt
            FROM v{r - 1} v LEFT JOIN rc{r} rc ON rc.pc = v.pc
            WHERE length(v.pc) = 1 OR coalesce(rc.c, 0) > 0
        ),
        v{r} AS MATERIALIZED (
            SELECT pc, cnt,
                   CAST(cnt AS DOUBLE)
                   / CAST((SELECT sum(cnt) FROM cpr{r}) AS DOUBLE) AS p
            FROM cpr{r}
        )""")
    return ",".join(ctes)


def _unigram_train_oracle(n_rounds: int = UNIGRAM_ROUNDS) -> str:
    """Unrolled replay of _unigram_em_loop (see _unigram_cte_chain)."""
    return (
        "WITH " + _unigram_cte_chain(n_rounds) + f"""
        SELECT pc AS piece, CAST(length(pc) AS INTEGER) AS piece_len, cnt,
               floor(p * 1000000.0) / 1000000.0 AS prob
        FROM v{n_rounds}"""
    )


def _unigram_enc_head(n_rounds: int) -> str:
    """Shared oracle head for the unigram apply family: the unrolled EM
    chain, one more Viterbi pass under the FINAL piece table, long
    words one-token-per-char, ending at ``enc`` (w, wtok, wlen) for
    _encode_tail or _fertility_tail. The OOV fallback leg the Spark apply
    path carries has no oracle counterpart by construction: the oracle
    trains and applies on the same corpus, where single-char coverage
    makes the OOV set empty."""
    return (
        "WITH " + _unigram_cte_chain(n_rounds) + ","
        + _unigram_dp_pass("e", f"v{n_rounds}") + """,
        enc AS (
            SELECT w, len(toks) AS wtok, length(w) AS wlen FROM sege
            UNION ALL
            SELECT w, L AS wtok, L AS wlen FROM long_words
        )"""
    )


QUERIES = {
    "zipf_slope": q_zipf_slope,
    "sequence_packing": q_sequence_packing,
    "bm25_search": q_bm25_search,
    "bm25_freetext": q_bm25_freetext,
    "doc_perplexity": q_doc_perplexity,
    "tfidf_top_terms": q_tfidf_top_terms,
    "bigram_lm": q_bigram_lm,
    "doc_chunks": q_doc_chunks,
    "winnow_fingerprints": q_winnow_fingerprints,
    "stratified_sample": q_stratified_sample,
    "repetition_stats": q_repetition_stats,
    "gopher_rules": q_gopher_rules,
    "shard_balance": q_shard_balance,
    "unimax_mix": q_unimax_mix,
    "kneser_ney_lm": q_kneser_ney_lm,
    "kneser_ney_modified": q_kneser_ney_modified,
    "kneser_ney_trigram": q_kneser_ney_trigram,
    "perplexity_buckets": q_perplexity_buckets,
    "char_entropy": q_char_entropy,
    "pii_scan": q_pii_scan,
    "pmi_pairs": q_pmi_pairs,
    "quality_deciles": q_quality_deciles,
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "lang_confusion": q_lang_confusion,
    "source_overlap": q_source_overlap,
    "weighted_sample": q_weighted_sample,
    "source_lorenz": q_source_lorenz,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "doc_fingerprint": q_doc_fingerprint,
    "training_mix": q_training_mix,
    "text_normalize": q_text_normalize,
    "dup_span_fraction": q_dup_span_fraction,
    "bpe_pair_stats": q_bpe_pair_stats,
    "bpe_train": q_bpe_train,
    "bpe_encode": q_bpe_encode,
    "bytebpe_train": q_bytebpe_train,
    "bytebpe_encode": q_bytebpe_encode,
    "bytebpe_fertility": q_bytebpe_fertility,
    "unigram_train": q_unigram_train,
    "unigram_encode": q_unigram_encode,
    "doc_chunks_udtf": q_doc_chunks_udtf,
    "bm25_rerank": q_bm25_rerank,
}

# Shared CTE chain for the corpus bigram LM + per-doc 1e-9-unit
# cross-entropy (single definition so doc_perplexity and its CCNet
# bucketing consumer can never diverge). Ends at `g` =
# (doc_id, n_bigrams, units).
_DOC_PPL_CTES = f"""t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                       i -> struct_pack(w1 := toks[i],
                                        w2 := toks[i + 1]))) AS s
            FROM t WHERE len(toks) >= 2
        ),
        p AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2 FROM bg),
        c AS (
            SELECT w1, w2, count(*) AS n_bigram FROM p GROUP BY w1, w2
        ),
        lm AS (
            SELECT w1, w2, n_bigram,
                   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT)
                       AS n_w1
            FROM c
        ),
        u AS (
            SELECT p.doc_id,
                   CAST(floor(-ln(CAST(n_bigram AS DOUBLE)
                                  / CAST(n_w1 AS DOUBLE))
                              * 1000000000.0) AS BIGINT) AS unit
            FROM p JOIN lm ON p.w1 = lm.w1 AND p.w2 = lm.w2
        ),
        g AS (
            SELECT doc_id, count(*) AS n_bigrams,
                   CAST(sum(unit) AS BIGINT) AS units
            FROM u GROUP BY doc_id
        )"""


def _mkn_oracle() -> str:
    """Mirrors operators/text.py:kneser_ney_modified exactly: same
    count-of-count statistics, same greatest(·,1)-guarded estimator
    trees, same degenerate-counts fallback to the fixed 0.75 discount,
    same operation order in every double expression."""
    y = (
        "(CAST(g1 AS DOUBLE) / greatest(CAST(g1 AS DOUBLE)"
        " + 2.0 * CAST(g2 AS DOUBLE), 1.0))"
    )
    deg = "g1 = 0 OR g2 = 0 OR g3 = 0"
    ds = []
    for k, m, gn, gd in (
        ("1.0", "2.0", "g2", "g1"),
        ("2.0", "3.0", "g3", "g2"),
        ("3.0", "4.0", "g4", "g3"),
    ):
        ds.append(
            f"(CASE WHEN {deg} THEN 0.75 ELSE "
            f"CAST({k} AS DOUBLE) - {m} * {y} * CAST({gn} AS DOUBLE)"
            f" / greatest(CAST({gd} AS DOUBLE), 1.0) END)"
        )
    d1, d2, d3 = ds
    return f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                       i -> struct_pack(w1 := toks[i],
                                        w2 := toks[i + 1]))) AS b
            FROM t WHERE len(toks) >= 2
        ),
        c AS (
            SELECT b.w1 AS w1, b.w2 AS w2,
                   CAST(count(*) AS BIGINT) AS n_bigram
            FROM bg GROUP BY 1, 2
        ),
        g AS (
            SELECT CAST(count(*) AS BIGINT) AS n_tot,
                   CAST(sum(CASE WHEN n_bigram = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS g1,
                   CAST(sum(CASE WHEN n_bigram = 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS g2,
                   CAST(sum(CASE WHEN n_bigram = 3 THEN 1 ELSE 0 END)
                       AS BIGINT) AS g3,
                   CAST(sum(CASE WHEN n_bigram = 4 THEN 1 ELSE 0 END)
                       AS BIGINT) AS g4
            FROM c
        ),
        w AS (
            SELECT c.*, g.n_tot, g.g1, g.g2, g.g3, g.g4,
                   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT)
                       AS n_w1,
                   CAST(sum(CASE WHEN n_bigram = 1 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY w1) AS BIGINT) AS nc1_w1,
                   CAST(sum(CASE WHEN n_bigram = 2 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY w1) AS BIGINT) AS nc2_w1,
                   CAST(sum(CASE WHEN n_bigram >= 3 THEN 1 ELSE 0 END)
                       OVER (PARTITION BY w1) AS BIGINT) AS nc3p_w1,
                   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT)
                       AS n1_w2
            FROM c, g
        )
        SELECT w1, w2, n_bigram, n_w1, n1_w2, n_tot,
               floor(((CAST(n_bigram AS DOUBLE)
                       - CASE WHEN n_bigram = 1 THEN {d1}
                              WHEN n_bigram = 2 THEN {d2}
                              ELSE {d3} END)
                          / CAST(n_w1 AS DOUBLE)
                      + ({d1} * CAST(nc1_w1 AS DOUBLE)
                         + {d2} * CAST(nc2_w1 AS DOUBLE)
                         + {d3} * CAST(nc3p_w1 AS DOUBLE))
                          / CAST(n_w1 AS DOUBLE)
                          * (CAST(n1_w2 AS DOUBLE)
                             / CAST(n_tot AS DOUBLE))) * 1000000)
                   / 1000000.0 AS p_mkn
        FROM w
    """


def _bm25_freetext_oracle() -> str:
    """Mirrors operators/text.py:bm25_freetext exactly: same
    tokenization, same RSJ idf / k1 / b, the same fixed-point 1e-9-unit
    partial scores (so the per-(query,doc) sum is order-independent on
    both engines), same (units // 1000)/1e6 score view and doc_id
    tie-break. Query batch generated from BM25_FREETEXT_QUERIES."""
    values = ", ".join(
        f"({qid}, '{t}')"
        for qid, terms in BM25_FREETEXT_QUERIES
        for t in terms
    )
    return f"""
        WITH q AS (
            SELECT CAST(query_id AS BIGINT) AS query_id, term
            FROM (VALUES {values}) v(query_id, term)
        ),
        toks AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS tk
            FROM documents
        ),
        post AS (
            SELECT term, doc_id, dl, count(*) AS tf FROM (
                SELECT doc_id, len(tk) AS dl, unnest(tk) AS term
                FROM toks
            ) GROUP BY term, doc_id, dl
        ),
        stats AS (
            SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM toks
        ),
        dfreq AS (
            SELECT term, count(*) AS dfr FROM post
            WHERE term IN (SELECT term FROM q) GROUP BY term
        ),
        part AS (
            SELECT q.query_id, p.doc_id, p.dl,
                   CAST(floor(
                     ln(1.0 + (CAST(n_docs AS DOUBLE)
                               - CAST(dfr AS DOUBLE) + 0.5)
                          / (CAST(dfr AS DOUBLE) + 0.5))
                     * (CAST(p.tf AS DOUBLE) * 2.2)
                     / (CAST(p.tf AS DOUBLE) + 1.2 * (0.25
                        + 0.75 * CAST(p.dl AS DOUBLE)
                          / (CAST(sum_dl AS DOUBLE)
                             / CAST(n_docs AS DOUBLE))))
                     * 1000000000.0) AS BIGINT) AS pu
            FROM post p
            JOIN q ON p.term = q.term
            JOIN dfreq ON dfreq.term = p.term
            CROSS JOIN stats
        ),
        grouped AS (
            SELECT query_id, doc_id, max(dl) AS dl,
                   CAST(sum(pu) AS BIGINT) AS units
            FROM part GROUP BY query_id, doc_id
        )
        SELECT query_id, doc_id, dl, score, rank FROM (
            SELECT query_id, doc_id, dl,
                   (units // 1000) / 1000000.0 AS score,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY (units // 1000) / 1000000.0 DESC,
                                doc_id ASC
                   ) AS rank
            FROM grouped
        ) WHERE rank <= {BM25_FREETEXT_K}
    """


ORACLES = {
    "bpe_train": _merge_train_oracle(BPE_MERGES, "bpe"),
    "bpe_encode": _bpe_enc_head(BPE_MERGES, "bpe")
    + _encode_tail(n_chars="wlen"),
    "bytebpe_train": _merge_train_oracle(BPE_MERGES, "bytebpe"),
    "bytebpe_encode": _bpe_enc_head(BPE_MERGES, "bytebpe")
    + _encode_tail(n_bytes="wlen"),
    "bytebpe_fertility": f"""
        SELECT *,
               floor(n_bytes * 1000000.0 / n_tokens) / 1000000.0
                   AS bytes_per_token
        FROM ({_bpe_enc_head(BPE_MERGES, "bytebpe")}
        {_fertility_tail(n_bytes="wlen")})""",
    "unigram_train": _unigram_train_oracle(UNIGRAM_ROUNDS),
    "unigram_encode": _unigram_enc_head(UNIGRAM_ROUNDS)
    + _encode_tail(n_chars="wlen"),
    "bpe_pair_stats": f"""
        WITH words AS (
            SELECT t AS w, count(*) AS wc
            FROM documents,
                 UNNEST({DUCK_TOKENS.format(x='text')}) AS u(t)
            GROUP BY t
        ),
        prs AS (
            SELECT w[i:i+1] AS pair, wc
            FROM words, UNNEST(range(1, length(w))) AS r(i)
            WHERE length(w) >= 2
        )
        SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences
        FROM prs GROUP BY pair
        ORDER BY n_occurrences DESC, pair ASC
        LIMIT 50
    """,
    "dup_span_fraction": f"""
        WITH toks AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS ts
            FROM documents
        ),
        grams AS (
            SELECT doc_id, array_to_string(ts[i:i+7], ' ') AS gram
            FROM toks, UNNEST(range(1, len(ts) - 6)) AS u(i)
            WHERE len(ts) >= 8
        ),
        occ AS (
            SELECT doc_id, gram, count(*) AS cnt
            FROM grams GROUP BY 1, 2
        ),
        nd AS (
            SELECT gram, count(*) AS ndocs FROM occ GROUP BY 1
        )
        SELECT o.doc_id,
               CAST(sum(o.cnt) AS BIGINT) AS n_grams,
               CAST(coalesce(sum(o.cnt) FILTER (WHERE nd.ndocs >= 2), 0)
                   AS BIGINT) AS dup_grams,
               floor(CAST(coalesce(sum(o.cnt) FILTER (WHERE nd.ndocs >= 2),
                                   0) AS DOUBLE)
                     / CAST(sum(o.cnt) AS DOUBLE) * 1000000) / 1000000.0
                   AS dup_fraction
        FROM occ o JOIN nd USING (gram)
        GROUP BY o.doc_id
    """,
    "source_lorenz": f"""
        WITH ps AS (
            SELECT source,
                   sum(len({DUCK_TOKENS.format(x='text')})) AS n_tokens
            FROM documents GROUP BY source
        )
        SELECT CAST(row_number() OVER (
                   ORDER BY n_tokens ASC, source ASC) AS BIGINT) AS rank,
               source, CAST(n_tokens AS BIGINT) AS n_tokens,
               floor(CAST(sum(n_tokens) OVER (
                       ORDER BY n_tokens ASC, source ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS DOUBLE)
                   / CAST(sum(n_tokens) OVER () AS DOUBLE)
                   * 1000000) / 1000000.0 AS cum_share
        FROM ps
    """,
    "weighted_sample": """
        WITH b AS (
            SELECT doc_id, n_chars,
                   floor(-ln((CAST('0x' || substr(md5('ws|' ||
                       CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 1)
                       / 1152921504606846976.0)
                       / CAST(n_chars AS DOUBLE) * 1000000) / 1000000.0
                       AS race_key
            FROM documents
        )
        SELECT doc_id, n_chars, race_key, rank FROM (
            SELECT doc_id, n_chars, race_key,
                   row_number() OVER (
                       ORDER BY race_key ASC, doc_id ASC
                   ) AS rank
            FROM b
        ) WHERE rank <= 100
    """,
    "source_overlap": f"""
        WITH st AS (
            SELECT DISTINCT source,
                   unnest({DUCK_TOKENS.format(x='text')}) AS term
            FROM documents
        ),
        stf AS (SELECT source, term FROM st WHERE term != ''),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_common
            FROM stf a JOIN stf b
              ON a.term = b.term AND a.source < b.source
            GROUP BY a.source, b.source
        ),
        vocab AS (
            SELECT source, count(*) AS vocab FROM stf GROUP BY source
        )
        SELECT src_a, src_b, n_common,
               floor(CAST(n_common AS DOUBLE)
                     / CAST(va.vocab + vb.vocab - n_common AS DOUBLE)
                     * 1000000) / 1000000.0 AS vocab_jaccard
        FROM inter
        JOIN vocab va ON va.source = src_a
        JOIN vocab vb ON vb.source = src_b
    """,
    "sequence_packing": f"""
        WITH base AS (
            SELECT doc_id, lang,
                   len({DUCK_TOKENS.format(x='text')}) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens AS prev_tokens
            FROM base
        )
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(prev_tokens / 1024.0) AS BIGINT) AS bin_idx,
               CAST(prev_tokens % 1024 AS BIGINT) AS bin_offset
        FROM c
    """,
    # Mirrors operators/text.py:zipf_slope: trunc6'd ln terms summed as
    # DECIMAL (exact), one double division at the end.
    "zipf_slope": f"""
        WITH toks AS (
            SELECT term FROM (
                SELECT unnest({DUCK_TOKENS.format(x='text')}) AS term
                FROM documents
            ) WHERE term != ''
        ),
        counts AS (
            SELECT term, count(*) AS cnt
            FROM toks WHERE term != '' GROUP BY term
        ),
        ranked AS (
            SELECT cnt, row_number() OVER (
                ORDER BY cnt DESC, term ASC
            ) AS rank
            FROM counts
            QUALIFY rank <= 1000
        ),
        t AS (
            SELECT
              CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000) / 1000000.0
                   AS DECIMAL(28,6)) AS x,
              CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1000000) / 1000000.0
                   AS DECIMAL(28,6)) AS y,
              CAST(floor((floor(ln(CAST(rank AS DOUBLE)) * 1000000) / 1000000.0)
                   * (floor(ln(CAST(cnt AS DOUBLE)) * 1000000) / 1000000.0)
                   * 1000000) / 1000000.0 AS DECIMAL(28,6)) AS xy,
              CAST(floor((floor(ln(CAST(rank AS DOUBLE)) * 1000000) / 1000000.0)
                   * (floor(ln(CAST(rank AS DOUBLE)) * 1000000) / 1000000.0)
                   * 1000000) / 1000000.0 AS DECIMAL(28,6)) AS xx
            FROM ranked
        ),
        sums AS (
            SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                   sum(xy) AS sxy, sum(xx) AS sxx
            FROM t
        )
        SELECT CAST(n AS BIGINT) AS n_terms,
               floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                     * 1000000) / 1000000.0 AS zipf_slope,
               floor((CAST(sy AS DOUBLE)
                      - (floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * 1000000) / 1000000.0) * CAST(sx AS DOUBLE))
                     / CAST(n AS DOUBLE) * 1000000) / 1000000.0 AS intercept
        FROM sums
    """,
    "doc_perplexity": f"""
        WITH {_DOC_PPL_CTES}
        SELECT doc_id, n_bigrams,
               ((units // n_bigrams) // 1000) / 1000000.0
                   AS cross_entropy
        FROM g
    """,
    "perplexity_buckets": f"""
        WITH {_DOC_PPL_CTES},
        ce AS (
            SELECT doc_id, n_bigrams,
                   ((units // n_bigrams) // 1000) / 1000000.0
                       AS cross_entropy
            FROM g
        ),
        j AS (
            SELECT d.lang, ce.doc_id, ce.n_bigrams, ce.cross_entropy
            FROM documents d JOIN ce ON d.doc_id = ce.doc_id
        ),
        nb AS (
            SELECT *, ntile(3) OVER (
                PARTITION BY lang
                ORDER BY cross_entropy ASC, doc_id ASC
            ) AS t
            FROM j
        )
        SELECT lang, ['head', 'middle', 'tail'][t] AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_bigrams) AS BIGINT) AS sum_bigrams,
               min(cross_entropy) AS min_ce,
               max(cross_entropy) AS max_ce
        FROM nb GROUP BY lang, t
    """,
    "bm25_freetext": _bm25_freetext_oracle(),
    # Mirrors operators/text.py:bm25_search exactly: same tokenization,
    # same RSJ idf, same fixed term-order summation, same 6-decimal
    # truncation before ranking. k1=1.2, b=0.75.
    "bm25_search": f"""
        WITH base AS (
            SELECT doc_id,
                   len({DUCK_TOKENS.format(x='text')}) AS dl,
                   len(list_filter({DUCK_TOKENS.format(x='text')},
                       t -> t = 'join')) AS tf_0,
                   len(list_filter({DUCK_TOKENS.format(x='text')},
                       t -> t = 'hash')) AS tf_1,
                   len(list_filter({DUCK_TOKENS.format(x='text')},
                       t -> t = 'vector')) AS tf_2
            FROM documents
        ),
        stats AS (
            SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
                   sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                   sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                   sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
            FROM base
        ),
        scored AS (
            SELECT doc_id, dl,
                   floor((
                     ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_0 AS DOUBLE) + 0.5)
                         / (CAST(df_0 AS DOUBLE) + 0.5))
                       * (CAST(tf_0 AS DOUBLE) * 2.2)
                       / (CAST(tf_0 AS DOUBLE) + 1.2 * (0.25
                          + 0.75 * CAST(dl AS DOUBLE)
                            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
                   + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_1 AS DOUBLE) + 0.5)
                         / (CAST(df_1 AS DOUBLE) + 0.5))
                       * (CAST(tf_1 AS DOUBLE) * 2.2)
                       / (CAST(tf_1 AS DOUBLE) + 1.2 * (0.25
                          + 0.75 * CAST(dl AS DOUBLE)
                            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
                   + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_2 AS DOUBLE) + 0.5)
                         / (CAST(df_2 AS DOUBLE) + 0.5))
                       * (CAST(tf_2 AS DOUBLE) * 2.2)
                       / (CAST(tf_2 AS DOUBLE) + 1.2 * (0.25
                          + 0.75 * CAST(dl AS DOUBLE)
                            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
                   ) * 1000000) / 1000000.0 AS score
            FROM base CROSS JOIN stats
        )
        SELECT doc_id, dl, score, rank FROM (
            SELECT doc_id, dl, score,
                   row_number() OVER (
                       ORDER BY score DESC, doc_id ASC
                   ) AS rank
            FROM scored WHERE score > 0
        ) WHERE rank <= 20
    """,
    "tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, term FROM (
                SELECT doc_id,
                       unnest({DUCK_TOKENS.format(x='text')}) AS term
                FROM documents
            ) WHERE term != ''
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks WHERE term != ''
            GROUP BY doc_id, term
        ),
        dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dfr.df,
                   floor(tf.tf * ln(CAST(n_docs AS DOUBLE)
                       / CAST(df AS DOUBLE)) * 1000000) / 1000000.0
                       AS tfidf
            FROM tf JOIN dfr USING (term) CROSS JOIN nd
        )
        SELECT doc_id, term, tf, df, tfidf, rnk FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
            ) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
    "bigram_lm": f"""
        WITH t AS (
            SELECT {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))) AS s
            FROM t WHERE len(toks) >= 2
        ),
        c AS (
            SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS n_bigram
            FROM bg GROUP BY s.w1, s.w2
        ),
        p AS (
            SELECT w1, w2, n_bigram,
                   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT)
                       AS n_w1
            FROM c
        )
        SELECT w1, w2, n_bigram, n_w1,
               floor(CAST(n_bigram AS DOUBLE) / CAST(n_w1 AS DOUBLE)
                   * 1000000) / 1000000.0 AS cond_p
        FROM p
        ORDER BY n_bigram DESC, w1 ASC, w2 ASC
        LIMIT 20
    """,
    "winnow_fingerprints": f"""
        WITH h AS (
            SELECT doc_id,
                   list_transform(range(1, length(text) - 6),
                       i -> {DUCK_HASH60.format(x='substring(text, i, 8)')})
                       AS gh
            FROM documents WHERE length(text) >= 8
        )
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(1, len(gh) - 15) + 1),
                   j -> list_min(gh[j:j+15])))) AS fingerprint
        FROM h
    """,
    "stratified_sample": f"""
        WITH rates(lang, rate_bp) AS (VALUES {", ".join(
            f"('{lang}', {bp})"
            for lang, bp in tx.SAMPLING_RATES_BP.items()
        )})
        SELECT d.doc_id, d.lang, d.source,
               {DUCK_HASH60.format(x='CAST(doc_id AS VARCHAR)')} % 10000
                   AS sample_bucket
        FROM documents d LEFT JOIN rates r ON d.lang = r.lang
        WHERE {DUCK_HASH60.format(x='CAST(doc_id AS VARCHAR)')} % 10000
              < coalesce(r.rate_bp, 10000)
    """,
    "pmi_pairs": f"""
        WITH t AS (
            SELECT {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        pr AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(
                    a := least(toks[i], toks[i + 1]),
                    b := greatest(toks[i], toks[i + 1])))) AS p
            FROM t WHERE len(toks) >= 2
        ),
        pc AS (
            SELECT p.a AS w_a, p.b AS w_b, count(*) AS n_pair
            FROM pr GROUP BY p.a, p.b
        ),
        marg AS (
            SELECT w, CAST(sum(n) AS BIGINT) AS n_w FROM (
                SELECT w_a AS w, n_pair AS n FROM pc
                UNION ALL
                SELECT w_b AS w, n_pair AS n FROM pc
            ) GROUP BY w
        ),
        tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_total FROM pc)
        SELECT w_a, w_b, n_pair, ma.n_w AS n_a, mb.n_w AS n_b,
               floor(ln((CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE))
                     / (CAST(ma.n_w AS DOUBLE) * CAST(mb.n_w AS DOUBLE)))
                     * 1000000) / 1000000.0 AS pmi
        FROM pc
        JOIN marg ma ON pc.w_a = ma.w
        JOIN marg mb ON pc.w_b = mb.w
        CROSS JOIN tot
        WHERE n_pair >= 5
        ORDER BY pmi DESC, w_a ASC, w_b ASC
        LIMIT 30
    """,
    "quality_deciles": f"""
        WITH q AS ({qsql}),
        s AS (
            SELECT d.lang, q.doc_id, q.quality_score,
                   ntile(10) OVER (
                       PARTITION BY d.lang
                       ORDER BY q.quality_score ASC, q.doc_id ASC
                   ) AS decile
            FROM documents d JOIN q ON d.doc_id = q.doc_id
        )
        SELECT lang, CAST(decile AS INT) AS decile, count(*) AS n_docs,
               min(quality_score) AS min_score,
               max(quality_score) AS max_score
        FROM s GROUP BY lang, decile
    """,
    "repetition_stats": f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id, 2 AS n,
                   unnest(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])) AS gram
            FROM t WHERE len(toks) >= 3
            UNION ALL
            SELECT doc_id, 3 AS n,
                   unnest(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i + 1] || ' '
                            || toks[i + 2])) AS gram
            FROM t WHERE len(toks) >= 3
        ),
        c AS (
            SELECT doc_id, n, gram, count(*) AS c
            FROM g GROUP BY doc_id, n, gram
        ),
        s AS (
            SELECT doc_id, n, sum(c) AS total, max(c) AS top,
                   count(*) AS nd
            FROM c GROUP BY doc_id, n
        )
        SELECT doc_id,
               CAST(max(total) FILTER (WHERE n = 2) AS BIGINT) AS n_bigrams,
               floor(CAST(max(top) FILTER (WHERE n = 2) AS DOUBLE)
                     / CAST(max(total) FILTER (WHERE n = 2) AS DOUBLE)
                     * 1000000) / 1000000.0 AS top_bigram_frac,
               floor(CAST(max(total) FILTER (WHERE n = 2)
                          - max(nd) FILTER (WHERE n = 2) AS DOUBLE)
                     / CAST(max(total) FILTER (WHERE n = 2) AS DOUBLE)
                     * 1000000) / 1000000.0 AS dup_bigram_frac,
               floor(CAST(max(total) FILTER (WHERE n = 3)
                          - max(nd) FILTER (WHERE n = 3) AS DOUBLE)
                     / CAST(max(total) FILTER (WHERE n = 3) AS DOUBLE)
                     * 1000000) / 1000000.0 AS dup_trigram_frac
        FROM s GROUP BY doc_id
    """,
    "gopher_rules": gopher_duck_sql(),
    "char_entropy": """
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(text, ''), c -> c != '')
                       AS ch
            FROM documents
        ),
        u AS (
            SELECT doc_id,
                   CAST(len(ch) AS BIGINT) AS n_chars_calc,
                   CAST(len(list_distinct(ch)) AS BIGINT)
                       AS n_distinct_chars,
                   CAST(CASE WHEN len(ch) = 0 THEN 0 ELSE
                       list_reduce(list_transform(
                           list_transform(list_distinct(ch),
                               c -> len(list_filter(ch, x -> x = c))),
                           k -> CAST(floor(CAST(k AS DOUBLE)
                                    / CAST(len(ch) AS DOUBLE)
                                    * ln(CAST(len(ch) AS DOUBLE)
                                         / CAST(k AS DOUBLE))
                                    * 1000000000.0) AS BIGINT)),
                           (a, v) -> a + v)
                   END AS BIGINT) AS units
            FROM t
        )
        SELECT doc_id, n_chars_calc, n_distinct_chars,
               (units // 1000) / 1000000.0 AS char_entropy
        FROM u
    """,
    "kneser_ney_modified": _mkn_oracle(),
    "kneser_ney_lm": f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        bg AS (
            SELECT unnest(list_transform(range(1, len(toks)),
                       i -> struct_pack(w1 := toks[i],
                                        w2 := toks[i + 1]))) AS b
            FROM t WHERE len(toks) >= 2
        ),
        c AS (
            SELECT b.w1 AS w1, b.w2 AS w2,
                   CAST(count(*) AS BIGINT) AS n_bigram
            FROM bg GROUP BY 1, 2
        ),
        w AS (
            SELECT *,
                   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT)
                       AS n_w1,
                   CAST(count(*) OVER (PARTITION BY w1) AS BIGINT)
                       AS n1_w1,
                   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT)
                       AS n1_w2,
                   CAST(count(*) OVER () AS BIGINT) AS n_tot
            FROM c
        )
        SELECT w1, w2, n_bigram, n_w1, n1_w1, n1_w2, n_tot,
               floor(((CAST(n_bigram AS DOUBLE) - {tx.KN_DISCOUNT})
                          / CAST(n_w1 AS DOUBLE)
                      + {tx.KN_DISCOUNT} * CAST(n1_w1 AS DOUBLE)
                          / CAST(n_w1 AS DOUBLE)
                          * (CAST(n1_w2 AS DOUBLE)
                             / CAST(n_tot AS DOUBLE))) * 1000000)
                   / 1000000.0 AS p_kn
        FROM w
    """,
    "kneser_ney_trigram": f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        tg AS (
            SELECT unnest(list_transform(range(1, len(toks) - 1),
                       i -> struct_pack(w1 := toks[i],
                                        w2 := toks[i + 1],
                                        w3 := toks[i + 2]))) AS g
            FROM t WHERE len(toks) >= 3
        ),
        c AS (
            SELECT g.w1 AS w1, g.w2 AS w2, g.w3 AS w3,
                   CAST(count(*) AS BIGINT) AS n_tri
            FROM tg GROUP BY 1, 2, 3
        ),
        m AS (
            SELECT *,
                   CAST(count(*) OVER (PARTITION BY w2, w3) AS BIGINT)
                       AS cc_bg,
                   CASE WHEN row_number() OVER (
                       PARTITION BY w2, w3 ORDER BY w1) = 1
                        THEN 1 ELSE 0 END AS is_first
            FROM c
        ),
        tot AS (
            SELECT CAST(sum(is_first) AS BIGINT) AS n_tot_bg FROM m
        ),
        w AS (
            SELECT m.*, tot.n_tot_bg,
                   CAST(sum(n_tri) OVER (PARTITION BY w1, w2) AS BIGINT)
                       AS n_ctx,
                   CAST(count(*) OVER (PARTITION BY w1, w2) AS BIGINT)
                       AS n1p_ctx,
                   CAST(count(*) OVER (PARTITION BY w2) AS BIGINT)
                       AS cc_mid,
                   CAST(sum(is_first) OVER (PARTITION BY w2) AS BIGINT)
                       AS n1p_w2,
                   CAST(sum(is_first) OVER (PARTITION BY w3) AS BIGINT)
                       AS n1_w3
            FROM m, tot
        )
        SELECT w1, w2, w3, n_tri, n_ctx, n1p_ctx, cc_bg, cc_mid,
               n1p_w2, n1_w3, n_tot_bg,
               floor(((CAST(n_tri AS DOUBLE) - {tx.KN_DISCOUNT})
                          / CAST(n_ctx AS DOUBLE)
                      + {tx.KN_DISCOUNT} * CAST(n1p_ctx AS DOUBLE)
                          / CAST(n_ctx AS DOUBLE)
                          * ((CAST(cc_bg AS DOUBLE) - {tx.KN_DISCOUNT})
                                 / CAST(cc_mid AS DOUBLE)
                             + {tx.KN_DISCOUNT}
                                 * CAST(n1p_w2 AS DOUBLE)
                                 / CAST(cc_mid AS DOUBLE)
                                 * (CAST(n1_w3 AS DOUBLE)
                                    / CAST(n_tot_bg AS DOUBLE))))
                     * 1000000) / 1000000.0 AS p_kn3
        FROM w
    """,
    "unimax_mix": f"""
        WITH per AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len(regexp_extract_all(text,
                       '{tx.BPE_ISH_PATTERN}'))) AS BIGINT) AS src_tokens
            FROM documents GROUP BY source
        ),
        capd AS (
            SELECT *, (src_tokens * {UNIMAX_CAP_NUM}) // {UNIMAX_CAP_DEN}
                       AS cap_tokens
            FROM per
        ),
        tot AS (
            SELECT CAST(sum(src_tokens) AS BIGINT) AS budget,
                   count(*) AS n_src
            FROM capd
        ),
        staged AS (
            SELECT c.*, t.budget, t.n_src,
                   CAST(coalesce(sum(cap_tokens) OVER (
                       ORDER BY cap_tokens, source
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS p_prev,
                   row_number() OVER (ORDER BY cap_tokens, source) AS k
            FROM capd c, tot t
        ),
        flagged AS (
            SELECT *,
                   CAST(p_prev + (n_src - k + 1) * cap_tokens <= budget
                       AS INT) AS capped
            FROM staged
        ),
        fill AS (
            SELECT CAST(sum(capped) AS BIGINT) AS n_capped,
                   CAST(coalesce(sum(CASE WHEN capped = 1
                       THEN cap_tokens END), 0) AS BIGINT) AS capped_mass
            FROM flagged
        )
        SELECT source, n_docs, src_tokens, cap_tokens, capped,
               CAST(CASE WHEN capped = 1 THEN cap_tokens ELSE
                   (budget - capped_mass)
                       // greatest(n_src - n_capped, 1)
               END AS BIGINT) AS alloc_tokens,
               floor(CAST(CASE WHEN capped = 1 THEN cap_tokens ELSE
                       (budget - capped_mass)
                           // greatest(n_src - n_capped, 1)
                   END AS DOUBLE)
                   / CAST(src_tokens AS DOUBLE) * 1000000) / 1000000.0
                   AS epochs
        FROM flagged, fill
    """,
    "shard_balance": f"""
        WITH s AS (
            SELECT CAST(((doc_id * {SHARD_MULT}) % 4294967296) >> 26
                       AS INT) AS shard,
                   n_chars
            FROM documents
        ),
        a AS (
            SELECT shard, count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars
            FROM s GROUP BY shard
        ),
        tot AS (
            SELECT CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM documents
        )
        SELECT shard, n_docs, sum_chars,
               floor(CAST(sum_chars AS DOUBLE) * {N_SHARDS}
                     / CAST(total_chars AS DOUBLE) * 1000000) / 1000000.0
                   AS load_ratio
        FROM a, tot
    """,
    "pii_scan": f"""
        WITH s0 AS (SELECT doc_id, text AS t0 FROM documents),
        s1 AS (
            SELECT doc_id, t0,
                   regexp_replace(t0, '{tx.PII_PATTERNS["email"][0]}',
                       '<EMAIL>', 'g') AS t1
            FROM s0
        ),
        s2 AS (
            SELECT doc_id, t0, t1,
                   regexp_replace(t1, '{tx.PII_PATTERNS["phone"][0]}',
                       '<PHONE>', 'g') AS t2
            FROM s1
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t0,
                   '{tx.PII_PATTERNS["email"][0]}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(t1,
                   '{tx.PII_PATTERNS["phone"][0]}')) AS BIGINT) AS n_phone,
               CAST(len(regexp_extract_all(t2,
                   '{tx.PII_PATTERNS["ipv4"][0]}')) AS BIGINT) AS n_ipv4,
               regexp_replace(t2, '{tx.PII_PATTERNS["ipv4"][0]}',
                   '<IP>', 'g') AS redacted
        FROM s2
    """,
    "doc_chunks": f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        ch AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks) + 1, 48),
                       s -> struct_pack(start_tok := s,
                           ctoks := list_slice(toks, s, s + 63)))) AS c
            FROM t WHERE len(toks) >= 1
        )
        SELECT doc_id,
               CAST((c.start_tok - 1) // 48 AS BIGINT) AS chunk_idx,
               CAST(c.start_tok AS BIGINT) AS start_tok,
               CAST(len(c.ctoks) AS BIGINT) AS n_chunk_tokens,
               array_to_string(c.ctoks, ' ') AS chunk_text
        FROM ch
    """,
    "text_stats": f"""
        WITH t AS (
            SELECT doc_id, length(text) AS n_chars_calc,
                   {DUCK_TOKENS.format(x='text')} AS tk
            FROM documents
        )
        SELECT doc_id, n_chars_calc,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(tk)) AS BIGINT)
                   AS n_distinct_tokens,
               CASE WHEN len(tk) = 0 THEN 0.0 ELSE
                   floor(CAST(list_reduce(list_transform(tk,
                             t -> CAST(length(t) AS BIGINT)),
                             (a, b) -> a + b) AS DOUBLE)
                         / CAST(len(tk) AS DOUBLE)
                         * 1000000) / 1000000.0
               END AS avg_token_len
        FROM t
    """,
    "lang_confusion": f"""
        WITH {_markers_values()},
        toks AS (
            SELECT doc_id, unnest({DUCK_TOKENS.format(x='text')}) AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id, lang_code, count(*) AS n_hits
            FROM toks JOIN markers ON tok = marker
            GROUP BY doc_id, lang_code
        ),
        best AS (
            SELECT doc_id, lang_code, n_hits FROM hits
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY n_hits DESC, lang_code ASC
            ) = 1
        )
        SELECT d.lang, COALESCE(b.lang_code, 'unknown') AS pred_lang,
               count(*) AS n_docs
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        GROUP BY d.lang, COALESCE(b.lang_code, 'unknown')
    """,
    "lang_id": f"""
        WITH {_markers_values()},
        toks AS (
            SELECT doc_id, unnest({DUCK_TOKENS.format(x='text')}) AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id, lang_code, count(*) AS n_hits
            FROM toks JOIN markers ON tok = marker
            GROUP BY doc_id, lang_code
        ),
        best AS (
            SELECT doc_id, lang_code, n_hits FROM hits
            QUALIFY row_number() OVER (
                PARTITION BY doc_id ORDER BY n_hits DESC, lang_code ASC
            ) = 1
        )
        SELECT d.doc_id,
               COALESCE(b.lang_code, 'unknown') AS pred_lang,
               CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS marker_hits
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    """,
    "quality_score": f"""
        WITH t AS (
            SELECT doc_id,
                   {DUCK_TOKENS.format(x='text')} AS toks
            FROM documents
        ),
        c AS (
            SELECT doc_id,
                   CAST(len(toks) AS DOUBLE) AS n_tokens,
                   CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
                   CAST(len(list_filter(toks, x -> x IN ({_STOPS})))
                       AS DOUBLE) AS n_stop,
                   CAST(len(list_filter(toks,
                       x -> regexp_full_match(x, '[A-Za-z]+'))) AS DOUBLE)
                       AS n_alpha
            FROM t
        )
        SELECT doc_id,
               floor(least(n_tokens / 100.0, 1.0) * 1000000) / 1000000.0
                   AS len_score,
               CASE WHEN n_tokens = 0 THEN 0.0 ELSE floor(n_distinct / n_tokens * 1000000) / 1000000.0 END
                   AS diversity,
               CASE WHEN n_tokens = 0 THEN 0.0 ELSE floor(n_stop / n_tokens * 1000000) / 1000000.0 END
                   AS stopword_ratio,
               CASE WHEN n_tokens = 0 THEN 0.0 ELSE floor(n_alpha / n_tokens * 1000000) / 1000000.0 END
                   AS alpha_ratio,
               CASE WHEN n_tokens = 0 THEN 0.0 ELSE
                   floor((0.3 * least(n_tokens / 100.0, 1.0)
                         + 0.3 * (n_distinct / n_tokens)
                         + 0.2 * (n_stop / n_tokens)
                         + 0.2 * (n_alpha / n_tokens)) * 1000000)
                   / 1000000.0
               END AS quality_score
        FROM c
    """,
    "token_count": f"""
        SELECT doc_id,
               CAST(len({DUCK_TOKENS.format(x='text')}) AS BIGINT)
                   AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))
                   AS BIGINT) AS n_bpe_tokens,
               CASE WHEN len(regexp_extract_all(text,
                         '{tx.BPE_ISH_PATTERN}')) = 0 THEN 0.0 ELSE
                   floor(CAST(length(text) AS DOUBLE)
                         / CAST(len(regexp_extract_all(text,
                               '{tx.BPE_ISH_PATTERN}')) AS DOUBLE)
                         * 1000000) / 1000000.0
               END AS chars_per_token
        FROM documents
    """,
    "doc_fingerprint": f"""
        SELECT doc_id,
               list_min(list_transform(range(1, length(text) - 6),
                   i -> {DUCK_HASH60.format(x='substring(text, i, 8)')}))
                   AS fingerprint,
               CAST(length(text) - 7 AS BIGINT) AS n_grams
        FROM documents
        WHERE length(text) >= 8
    """,
    "text_normalize": r"""
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
                   AS norm_text,
               length(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')))
                   AS norm_len
        FROM documents
    """,
    "training_mix": f"""
        WITH survivors AS (
            SELECT min(doc_id) AS doc_id
            FROM documents
            GROUP BY {DUCK_HASH60.format(x='text')}
        ),
        q AS ({qsql}),
        t AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_PATTERN}'))
                       AS BIGINT) AS n_bpe_tokens
            FROM documents
        )
        SELECT d.doc_id, d.lang, d.source, q.quality_score, t.n_bpe_tokens
        FROM documents d
        JOIN survivors s ON d.doc_id = s.doc_id
        JOIN q ON d.doc_id = q.doc_id
        JOIN t ON d.doc_id = t.doc_id
        WHERE q.quality_score >= 0.5
          AND t.n_bpe_tokens BETWEEN 20 AND 10000
    """,
}

ORACLES["doc_chunks_udtf"] = ORACLES["doc_chunks"]

ORACLES["bm25_rerank"] = _bm25_rerank_oracle()


SPAN_K = 8


def q_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span REMOVAL (the rewrite counterpart of
    dup_span_fraction): token 8-grams occurring in >1 document are cut
    from every document except the smallest-doc_id canonical copy; the
    cleaned text preserves token order. The exact-substring-dedup
    rewrite step of a training-corpus pipeline. See
    operators/text.py:span_dedup_rewrite for the plan shape."""
    return tx.span_dedup_rewrite(
        load_table(spark, sf_dir, "documents"), k=SPAN_K
    )


def q_span_dedup_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL duplicated spans, seed-and-extend (ExactSubstr, Lee et
    al. 2022, arXiv:2107.06499): every maximal pairwise shared token
    span of >= 8 tokens — seeds on hashed 8-grams, extends along each
    (doc_a, doc_b, diagonal) alignment by merging runs of consecutive
    seeds. The span-level generalization of span_dedup_rewrite's fixed
    8-gram coverage. See operators/text.py:maximal_dup_spans for the
    plan shape and the hot-gram cap."""
    return tx.maximal_dup_spans(
        load_table(spark, sf_dir, "documents"), k=SPAN_K
    )


HH_M = 1024


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters (terms with count > N/m) with EXACT counts
    via bounded-candidate two-pass: per-partition top-m candidates
    (pigeonhole superset guarantee) + exact recount of candidates only —
    the term tail never reaches a shuffle. Output is exact and
    partitioning-independent; the oracle is the plain exhaustive SQL.
    See operators/text.py:heavy_hitters."""
    return tx.heavy_hitters(
        load_table(spark, sf_dir, "documents"), m=HH_M
    )


def q_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution KL divergence from the corpus
    distribution — the drift statistic for corpus mixing QA. Fixed-point
    nano-unit contributions make the per-source sum order-independent.
    See operators/text.py:source_divergence."""
    return tx.source_divergence(load_table(spark, sf_dir, "documents"))


MIX_ALPHA_BUDGET = 100_000


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (alpha = 0.5): sampling weight
    w_s = sqrt(n_s) / sum_t sqrt(n_t), the standard up-weighting of
    small sources when composing a training mix, plus the integer doc
    allocation at a fixed budget. All-integer after the sqrt: weights
    are milli-unit sqrt values ratioed in 1e9 fixed point with integer
    division, so both engines agree bit-for-bit (sqrt is IEEE
    correctly-rounded; every subsequent op is integer)."""
    docs = load_table(spark, sf_dir, "documents")
    ns = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    u = ns.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000)
        .cast("bigint")
        .alias("su"),
    )
    denom = u.agg(F.sum("su").alias("denom"))
    wu = "((su * 1000000000L) div denom)"
    return u.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        F.expr(wu).alias("weight_units"),
        (F.expr(wu).cast("double") / F.lit(1e9)).alias("weight"),
        F.expr(
            f"{wu} * {MIX_ALPHA_BUDGET}L div 1000000000L"
        ).alias("alloc_docs"),
    )


QUERIES.update(
    {
        "span_dedup_rewrite": q_span_dedup_rewrite,
        "span_dedup_maximal": q_span_dedup_maximal,
        "heavy_hitters": q_heavy_hitters,
        "source_divergence": q_source_divergence,
        "mix_temperature": q_mix_temperature,
    }
)

_SPAN_GK = DUCK_HASH60.format(
    x=f"array_to_string(tk[i:i+{SPAN_K - 1}], ' ')"
)


def _span_toks(where: str = "") -> str:
    """(doc_id, tk) rows: the tokens of every document ``where`` keeps."""
    return f"""
        SELECT doc_id, {DUCK_TOKENS.format(x='text')} AS tk
        FROM documents {where}"""


def _span_grams(toks: str) -> str:
    """(doc_id, i, gk) rows: every SPAN_K-gram start i of the token
    relation ``toks``, gk the gram's 60-bit hash."""
    return f"""
        SELECT doc_id, i, {_SPAN_GK} AS gk
        FROM {toks}, UNNEST(range(1, len(tk) - {SPAN_K - 2})) r(i)
        WHERE len(tk) >= {SPAN_K}"""


def _span_excise(starts: str) -> str:
    """The shared tail of the span-REMOVAL oracles, after a ``toks``
    CTE and a CTE ``starts`` of covered (doc_id, i) gram starts: cut
    every token a covered gram spans, rebuild each document from its
    kept tokens in order, and report (doc_id, n_tokens, n_removed,
    clean_text) for every document of ``toks``."""
    return f"""
    cov AS MATERIALIZED (
        SELECT DISTINCT doc_id, i + d AS p
        FROM {starts}, UNNEST(range(0, {SPAN_K})) r(d)
    ),
    pos AS MATERIALIZED (
        SELECT t.doc_id, CAST(j AS BIGINT) AS p, tk[j] AS tok
        FROM toks t, UNNEST(range(1, len(tk) + 1)) r(j)
    ),
    kept AS MATERIALIZED (
        SELECT pos.doc_id, pos.p, pos.tok
        FROM pos LEFT JOIN cov
          ON pos.doc_id = cov.doc_id AND pos.p = cov.p
        WHERE cov.p IS NULL
    ),
    kc AS MATERIALIZED (
        SELECT doc_id, count(*) AS cnt,
               string_agg(tok, ' ' ORDER BY p) AS txt
        FROM kept GROUP BY doc_id
    )
    SELECT toks.doc_id,
           CAST(len(toks.tk) AS BIGINT) AS n_tokens,
           CAST(len(toks.tk) - coalesce(kc.cnt, 0) AS BIGINT)
               AS n_removed,
           coalesce(kc.txt, '') AS clean_text
    FROM toks LEFT JOIN kc USING (doc_id)
"""


def _span_doc_freq(policy: str) -> str:
    """The twin of operators/text.py:_gram_doc_positions, after the
    ``g`` gram CTE: ``st`` holds each gram's document count nd and its
    smallest document mind, and ``dst`` the (doc_id, i) starts of the
    grams a span rewrite's cover ``policy`` (a WHERE over g and st)
    cuts."""
    return f"""
    st AS MATERIALIZED (
        SELECT gk, min(doc_id) AS mind, count(DISTINCT doc_id) AS nd
        FROM g GROUP BY gk
    ),
    dst AS MATERIALIZED (
        SELECT g.doc_id, g.i FROM g JOIN st USING (gk)
        WHERE {policy}
    ),"""


ORACLES["span_dedup_rewrite"] = (
    f"""
    WITH toks AS MATERIALIZED ({_span_toks()}),
    g AS MATERIALIZED ({_span_grams("toks")}),"""
    + _span_doc_freq("st.nd >= 2 AND g.doc_id <> st.mind")
    + _span_excise("dst")
)

ORACLES["span_dedup_maximal"] = f"""
    WITH toks AS MATERIALIZED ({_span_toks()}),
    g AS MATERIALIZED ({_span_grams("toks")}),
    cnt AS MATERIALIZED (SELECT gk, count(*) AS m FROM g GROUP BY gk),
    seeds AS MATERIALIZED (
        SELECT g.doc_id, g.i, g.gk FROM g JOIN cnt USING (gk)
        WHERE cnt.m BETWEEN 2 AND {tx.SPAN_MAX_OCC}
    ),
    p AS MATERIALIZED (
        SELECT a.doc_id AS doc_a, a.i AS ia,
               b.doc_id AS doc_b, b.i AS ib
        FROM seeds a JOIN seeds b USING (gk)
        WHERE a.doc_id < b.doc_id
           OR (a.doc_id = b.doc_id AND a.i < b.i)
    ),
    runs AS MATERIALIZED (
        SELECT doc_a, doc_b, ib - ia AS diag, ia,
               ia - row_number() OVER (
                   PARTITION BY doc_a, doc_b, ib - ia ORDER BY ia
               ) AS grp
        FROM p
    )
    SELECT doc_a,
           CAST(min(ia) AS BIGINT) AS a_start,
           doc_b,
           CAST(min(ia) + diag AS BIGINT) AS b_start,
           CAST(max(ia) - min(ia) + {SPAN_K} AS BIGINT) AS len_tokens
    FROM runs GROUP BY doc_a, doc_b, diag, grp
"""

ORACLES["heavy_hitters"] = f"""
    WITH tok AS (
        SELECT t AS term FROM documents,
             UNNEST({DUCK_TOKENS.format(x='text')}) u(t)
    ),
    tot AS (SELECT count(*) AS n_total FROM tok),
    c AS (SELECT term, count(*) AS n_occurrences FROM tok GROUP BY term)
    SELECT term,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           floor(CAST(n_occurrences AS DOUBLE)
                 / CAST(n_total AS DOUBLE) * 1000000) / 1000000.0
               AS share
    FROM c CROSS JOIN tot
    WHERE n_occurrences * {HH_M} > n_total
"""

ORACLES["source_divergence"] = f"""
    WITH tok AS (
        SELECT source, t AS term FROM documents,
             UNNEST({DUCK_TOKENS.format(x='text')}) u(t)
    ),
    cst AS (
        SELECT source, term, count(*) AS cst FROM tok
        GROUP BY source, term
    ),
    ct AS (
        SELECT term, CAST(sum(cst) AS BIGINT) AS ct FROM cst
        GROUP BY term
    ),
    ns AS (SELECT source, count(*) AS ns FROM tok GROUP BY source),
    tot AS (SELECT count(*) AS n_total FROM tok),
    u AS (
        SELECT cst.source, ns.ns,
               CAST(floor(
                   (CAST(cst AS DOUBLE) / CAST(ns AS DOUBLE))
                   * ln((CAST(cst AS DOUBLE) * CAST(n_total AS DOUBLE))
                        / (CAST(ns AS DOUBLE) * CAST(ct AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS u
        FROM cst JOIN ct USING (term) JOIN ns USING (source)
        CROSS JOIN tot
    )
    SELECT source,
           CAST(ns AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(u) AS BIGINT) AS kl_units,
           CAST(sum(u) AS BIGINT) / 1000000000.0 AS kl_divergence
    FROM u GROUP BY source, ns
"""

ORACLES["mix_temperature"] = f"""
    WITH ns AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    u AS (
        SELECT source, n_docs,
               CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000)
                   AS BIGINT) AS su
        FROM ns
    ),
    d AS (SELECT CAST(sum(su) AS BIGINT) AS denom FROM u)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((su * 1000000000) // denom AS BIGINT) AS weight_units,
           ((su * 1000000000) // denom) / 1000000000.0 AS weight,
           CAST((su * 1000000000) // denom * {MIX_ALPHA_BUDGET}
                // 1000000000 AS BIGINT) AS alloc_docs
    FROM u CROSS JOIN d
"""


PACK_BUDGET = 1_500


def q_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection: walk the corpus in
    (quality desc, doc_id) order and keep documents while the running
    token total stays within the budget — "train on the best N tokens",
    the final cut a curation pipeline makes after scoring.

    Scale shape: NO global sort. Quality is bucketed into ≤1001 integer
    bins; a bin-level token histogram (tiny, single-partition window)
    yields each bin's tokens-before-it offset, broadcast back; the
    per-document running total is then offset + an intra-bin cumsum
    (window partitioned BY BIN — parallel across bins, local sort
    within). The oracle replays the naive single-window global cumsum,
    proving the two-level decomposition exact. Quality units are
    integers (round of the 6-decimal score), so ordering and sums are
    engine-portable."""
    d = load_table(spark, sf_dir, "documents")
    toks_expr = f"size({TOKENS_TPL.format(x='text')})"
    ntok = F.expr(toks_expr).cast("bigint").alias("n_tokens")
    base = (
        tx.quality_score(d, extra_cols=(ntok,))
        .select(
            "doc_id",
            F.round(F.col("quality_score") * 1000000)
            .cast("bigint")
            .alias("quality_units"),
            "n_tokens",
        )
        .withColumn("bin", F.expr("quality_units div 1000"))
    )
    wb = (
        Window.orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bins = (
        base.groupBy("bin")
        .agg(F.sum("n_tokens").alias("btok"))
        .select(
            "bin",
            F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("higher"),
        )
    )
    wd = (
        Window.partitionBy("bin")
        .orderBy(F.col("quality_units").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.join(F.broadcast(bins), "bin")
        .withColumn(
            "cum_tokens", F.col("higher") + F.sum("n_tokens").over(wd)
        )
        .select(
            "doc_id",
            "quality_units",
            "n_tokens",
            "cum_tokens",
            F.when(F.col("cum_tokens") <= PACK_BUDGET, 1)
            .otherwise(0)
            .cast("int")
            .alias("is_kept"),
        )
    )


QUERIES["token_budget_pack"] = q_token_budget_pack

ORACLES["token_budget_pack"] = f"""
    WITH q AS ({{qsql}}),
    toks AS (
        SELECT doc_id,
               CAST(len({DUCK_TOKENS.format(x='text')}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    base AS (
        SELECT q.doc_id,
               CAST(round(q.quality_score * 1000000) AS BIGINT)
                   AS quality_units,
               toks.n_tokens
        FROM q JOIN toks ON q.doc_id = toks.doc_id
    )
    SELECT doc_id, quality_units, n_tokens,
           CAST(sum(n_tokens) OVER (
               ORDER BY quality_units DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_tokens,
           CAST(CASE WHEN sum(n_tokens) OVER (
               ORDER BY quality_units DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) <= {PACK_BUDGET} THEN 1 ELSE 0 END AS INTEGER) AS is_kept
    FROM base
""".format(qsql=quality_score_sql())


DSIR_BUCKETS = 4096
DSIR_TARGET_LANG = "en"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169) — data selection by
    importance resampling: score every document by how much more likely
    its hashed-unigram features are under the TARGET distribution (here
    the `lang = 'en'` slice, standing in for the high-quality reference
    corpus) than under the raw corpus. ``dsir_weight`` is the per-token
    average log-likelihood ratio; positive = target-like, and
    resampling/top-k on it tilts a raw crawl toward the target domain
    without training a classifier.

    Features are md5-hashed tokens folded into DSIR_BUCKETS buckets
    (the paper's hashed n-gram trick — LM size is bucket-bounded, not
    vocab-bounded); both feature LMs use add-one smoothing over the
    bucket space, so the ratio is defined even where the target slice
    has no mass. Docs with zero tokens carry no features and drop out.

    Shape: ONE token-scale shuffle (map-side combined per-(doc,feat)
    counts), repartition by feat so both LM counts are window passes
    over the same partitioning, totals via a broadcast 1-row scan-side
    aggregate — never a vocabulary join. Determinism: each log is a
    ratio of exact integers fixed-pointed to 1e-9 BEFORE the subtract
    (doc_cross_entropy discipline); the final weight is a double ratio
    of exact bigints."""
    from kafka_streams_dexcom_spark.sources.files import fan_out_small

    d = load_table(spark, sf_dir, "documents")
    toks = TOKENS_TPL.format(x="text")
    feats = (
        f"transform({toks}, t -> "
        f"{HASH60_TPL.format(x='t')} % {DSIR_BUCKETS})"
    )
    b = F.lit(DSIR_BUCKETS)
    totals = d.select(
        F.expr(f"size({toks})").cast("bigint").alias("n"),
        (F.col("lang") == DSIR_TARGET_LANG).cast("bigint").alias("is_t"),
    ).agg(
        F.sum("n").alias("n_raw"),
        F.sum(F.col("n") * F.col("is_t")).alias("n_t"),
    )
    doc_feat = (
        fan_out_small(d)
        .select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG)
            .cast("bigint")
            .alias("is_t"),
            F.explode(F.expr(feats)).alias("feat"),
        )
        .groupBy("doc_id", "feat")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("is_t").alias("is_t"))
        .repartition("feat")
    )
    w_f = Window.partitionBy("feat")
    scored = doc_feat.select(
        "doc_id",
        "cnt",
        F.sum("cnt").over(w_f).alias("cr"),
        F.sum(F.col("cnt") * F.col("is_t")).over(w_f).alias("ct"),
    ).crossJoin(F.broadcast(totals))
    u_t = F.floor(
        F.log(
            (F.col("ct") + 1).cast("double")
            / (F.col("n_t") + b).cast("double")
        )
        * F.lit(1.0e9)
    )
    u_r = F.floor(
        F.log(
            (F.col("cr") + 1).cast("double")
            / (F.col("n_raw") + b).cast("double")
        )
        * F.lit(1.0e9)
    )
    per = scored.select(
        "doc_id", "cnt", ((u_t - u_r) * F.col("cnt")).alias("units")
    )
    return (
        per.groupBy("doc_id")
        .agg(F.sum("cnt").alias("n_feats"), F.sum("units").alias("units"))
        .select(
            "doc_id",
            "n_feats",
            "units",
            (
                F.col("units").cast("double")
                / F.col("n_feats").cast("double")
                / F.lit(1.0e9)
            ).alias("dsir_weight"),
        )
    )


QUERIES["dsir_weights"] = q_dsir_weights
ORACLES["dsir_weights"] = f"""
    WITH t AS (
        SELECT doc_id, (lang = '{DSIR_TARGET_LANG}') AS is_t,
               {DUCK_TOKENS.format(x='text')} AS toks
        FROM documents
    ),
    tot AS (
        SELECT SUM(len(toks)) AS n_raw,
               SUM(CASE WHEN is_t THEN len(toks) ELSE 0 END) AS n_t
        FROM t
    ),
    f AS (
        SELECT doc_id, is_t,
               UNNEST(list_transform(toks,
                   tk -> {hash60_sql("tk")} % {DSIR_BUCKETS})) AS feat
        FROM t
    ),
    df AS (
        SELECT doc_id, feat, CAST(COUNT(*) AS BIGINT) AS cnt,
               MAX(CAST(is_t AS BIGINT)) AS is_t
        FROM f GROUP BY doc_id, feat
    ),
    wf AS (
        SELECT doc_id, cnt,
               SUM(cnt) OVER (PARTITION BY feat) AS cr,
               SUM(cnt * is_t) OVER (PARTITION BY feat) AS ct
        FROM df
    ),
    per AS (
        SELECT doc_id, cnt,
               (floor(ln(CAST(ct + 1 AS DOUBLE)
                         / CAST(tot.n_t + {DSIR_BUCKETS} AS DOUBLE))
                      * 1000000000)
                - floor(ln(CAST(cr + 1 AS DOUBLE)
                           / CAST(tot.n_raw + {DSIR_BUCKETS} AS DOUBLE))
                        * 1000000000)) * cnt AS units
        FROM wf CROSS JOIN tot
    )
    SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
           CAST(SUM(units) AS BIGINT) AS units,
           CAST(SUM(units) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
               / 1000000000.0 AS dsir_weight
    FROM per GROUP BY doc_id
"""


LR_ITERS = 3


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style quality-filter training, in-engine: a tiny
    logistic regression over cheap scan-side text features (bias,
    length, punctuation ratio, stopword ratio), trained by LR_ITERS
    full-batch gradient steps against the target-slice label
    (`lang = DSIR_TARGET_LANG`), then applied to score every document —
    the standard "train a cheap classifier on a trusted slice, filter
    the crawl with it" pipeline step (GPT-3/CCNet-style quality
    filtering), expressed as the same iterative-DataFrame template as
    kmeans_assign.

    Each step is ONE map-side-combinable 1-row aggregate over the
    feature frame (gradient components fixed-pointed per row to 1e-9
    units, so the sums are exact integers and partition order cannot
    leak into the weights); the 4 learned weights — a bounded O(1)
    collect, similarity.py:392 discipline — feed the next step as
    literals. Scoring is a scan-side expression; nothing about the
    corpus is ever shuffled.

    Determinism: weight updates are derived from exact integer sums via
    a fixed double expression tree replayed operation-for-operation in
    the oracle's unrolled CTEs; the final sigmoid is rounded to 6
    decimals on both engines. Degenerate inputs stay in-distribution:
    the length feature is log-scaled (a 100k-char doc moves a gradient
    step by ~1, not ~100 — full-batch GD at unit rate stays in the
    sigmoid's linear region), ratio features on empty/whitespace-only
    docs are CASE-guarded to 0 (ANSI mode makes a bare /0 an ERROR, and
    those are exactly the docs a quality filter must score), and an
    empty corpus returns an empty frame instead of dividing by zero."""
    from kafka_streams_dexcom_spark.sources.files import fan_out_small

    d = load_table(spark, sf_dir, "documents")
    toks = TOKENS_TPL.format(x="text")
    feats = (
        fan_out_small(d)
        .select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG)
            .cast("double")
            .alias("y"),
            F.lit(1.0).alias("x0"),
            (
                F.log((F.col("n_chars") + 1).cast("double"))
                / F.lit(10.0)
            ).alias("x1"),
            F.when(
                F.col("n_chars") > 0,
                F.length(
                    F.regexp_replace("text", "[^.,;:!?]", "")
                ).cast("double")
                / F.col("n_chars").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("x2"),
            F.when(
                F.expr(f"size({toks})") > 0,
                F.expr(
                    f"size(filter({toks}, t -> t IN ('a', 'the')))"
                ).cast("double")
                / F.expr(f"size({toks})").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("x3"),
        )
        .localCheckpoint()  # every gradient step below scans feats
    )
    xs = ["x0", "x1", "x2", "x3"]

    def margin(w: list[float]):
        # left-associated w·x — the association is parity-critical
        # (the oracle replays the identical tree)
        return sum(
            (F.lit(wj) * F.col(xj) for wj, xj in zip(w[1:], xs[1:])),
            F.lit(w[0]) * F.col("x0"),
        )

    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(LR_ITERS):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin(w)))
        row = feats.agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(
                    F.floor((p - F.col("y")) * F.col(xj) * F.lit(1.0e9))
                ).alias(f"s{j}")
                for j, xj in enumerate(xs)
            ],
        ).collect()[0]
        n = row["n"]
        if n == 0:
            break
        w = [
            w[j] - (row[f"s{j}"] / n) / 1.0e9
            for j in range(len(xs))
        ]
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-margin(w))), 6
    )
    return feats.select(
        "doc_id",
        score.alias("lr_score"),
        (score >= 0.5).cast("int").alias("pred_target"),
    )


def _quality_classifier_oracle() -> str:
    """Unrolled-GD replay: same features, same per-row 1e-9 fixed-point
    gradient units, same left-associated weight/margin expression
    trees, LR_ITERS CTE rounds."""
    feat = f"""f AS (
        SELECT doc_id,
               CAST(lang = '{DSIR_TARGET_LANG}' AS INT)
                   + CAST(0 AS DOUBLE) AS y,
               1.0 AS x0,
               ln(CAST(n_chars + 1 AS DOUBLE)) / 10.0 AS x1,
               CASE WHEN n_chars > 0 THEN
                   CAST(length(regexp_replace(text, '[^.,;:!?]', '',
                        'g')) AS DOUBLE) / CAST(n_chars AS DOUBLE)
               ELSE 0.0 END AS x2,
               CASE WHEN len({DUCK_TOKENS.format(x='text')}) > 0 THEN
                   CAST(len(list_filter({DUCK_TOKENS.format(x='text')},
                        t -> t IN ('a', 'the'))) AS DOUBLE)
                   / CAST(len({DUCK_TOKENS.format(x='text')}) AS DOUBLE)
               ELSE 0.0 END AS x3
        FROM documents
    )"""
    ctes = [feat, "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"]
    # ONE margin string reused by every round and the final scoring —
    # the left association is parity-critical with the Spark margin()
    m = "(w.w0 * x0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)"
    for it in range(1, LR_ITERS + 1):
        prev = f"w{it - 1}"
        sums = ",\n".join(
            f"SUM(CAST(floor((1.0 / (1.0 + exp(-{m})) - y) * x{j} "
            f"* 1000000000) AS BIGINT)) AS s{j}"
            for j in range(4)
        )
        ctes.append(
            f"""g{it} AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}
            FROM f CROSS JOIN {prev} w
        )"""
        )
        ups = ", ".join(
            f"w.w{j} - (CAST(g.s{j} AS DOUBLE) / g.n) / 1000000000.0"
            f" AS w{j}"
            for j in range(4)
        )
        ctes.append(
            f"w{it} AS (SELECT {ups} FROM {prev} w CROSS JOIN g{it} g)"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-{m})), 6) AS lr_score,
               CAST(round(1.0 / (1.0 + exp(-{m})), 6) >= 0.5 AS INT)
                   AS pred_target
        FROM f CROSS JOIN w{LR_ITERS} w
    """
    )


QUERIES["quality_classifier"] = q_quality_classifier
ORACLES["quality_classifier"] = _quality_classifier_oracle()


RRF_K = 60
# the dense tower retrieves deeper than the lexical top-20: rank fusion
# only has something to fuse where the candidate sets overlap, and a
# shallow dense list over synthetic embeddings would intersect the
# lexical list almost never
HYBRID_DENSE_K = 50


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack et al.
    2009): the lexical ranking (bm25_freetext, posting-list inverted
    index) and the dense ranking (sim_search_bruteforce over the query
    embeddings sharing the same query ids) fuse by
    sum(1 / (RRF_K + rank)) — the standard two-tower retrieval merge a
    training-data pipeline uses to slice a corpus by topic when neither
    tower alone recalls everything. Rank-based fusion needs no score
    calibration between towers, which is exactly why RRF is the default.

    Shape: both towers are already candidate-bounded top-k queries
    (index + broadcast query batch / broadcast query vectors +
    two-level top-k); fusion is a full-outer join on the k-bounded
    result sets — corpus-scale data never reaches this query. The
    score is a fixed-order sum of two exact IEEE divisions, so the
    oracle matches bit-for-bit."""
    from pyspark.sql import Window

    from kafka_streams_dexcom_spark.operators import similarity as sim

    qids = [qid for qid, _ in BM25_FREETEXT_QUERIES]
    lex = q_bm25_freetext(spark, sf_dir).select(
        "query_id", "doc_id", F.col("rank").alias("lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings")
    dense = sim.brute_force_topk(
        e, tuple(qids), HYBRID_DENSE_K
    ).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("vec_rank"),
    )
    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("lex_rank")),
        F.lit(0.0),
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("vec_rank")),
        F.lit(0.0),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc()
    )
    return (
        fused.select("query_id", "doc_id", score.alias("rrf_score"))
        .withColumn(
            "fused_rank", F.row_number().over(w).cast("bigint")
        )
    )


def _hybrid_rrf_oracle() -> str:
    from kafka_streams_dexcom_spark.queries.similarity import (
        QUERY_IDS,
        _brute_oracle,
    )

    # the dense oracle inherits _BASE_CTES, whose query CTE is the
    # similarity module's QUERY_IDS — a freetext qid outside that set
    # would retrieve on the Spark side but be absent from the oracle,
    # failing the gate far from the edit site. Fail HERE instead.
    missing = {qid for qid, _ in BM25_FREETEXT_QUERIES} - set(QUERY_IDS)
    assert not missing, (
        f"BM25_FREETEXT_QUERIES ids {sorted(missing)} have no query "
        "embedding in similarity.QUERY_IDS — extend QUERY_IDS (and "
        "_BASE_CTES) before fusing them"
    )
    qids = ", ".join(str(qid) for qid, _ in BM25_FREETEXT_QUERIES)
    return f"""
    WITH b AS ({ORACLES["bm25_freetext"]}),
    v AS ({_brute_oracle(HYBRID_DENSE_K)}),
    l AS (SELECT query_id, doc_id, rank AS lex_rank FROM b),
    dn AS (
        SELECT query_id, vec_id AS doc_id, rnk AS vec_rank
        FROM v WHERE query_id IN ({qids})
    ),
    f AS (
        SELECT coalesce(l.query_id, dn.query_id) AS query_id,
               coalesce(l.doc_id, dn.doc_id) AS doc_id,
               l.lex_rank, dn.vec_rank
        FROM l FULL OUTER JOIN dn
          ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id
    ),
    s AS (
        SELECT query_id, doc_id,
               coalesce(1.0 / ({RRF_K}.0 + lex_rank), 0.0)
                   + coalesce(1.0 / ({RRF_K}.0 + vec_rank), 0.0)
                   AS rrf_score
        FROM f
    )
    SELECT query_id, doc_id, rrf_score,
           CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id ASC
           ) AS BIGINT) AS fused_rank
    FROM s
"""


QUERIES["hybrid_search_rrf"] = q_hybrid_search_rrf
ORACLES["hybrid_search_rrf"] = _hybrid_rrf_oracle()


def q_quality_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the composite quality score
    — the calibration step BEFORE a global quality threshold: raw
    scores are not comparable across heterogeneous sources (a 0.6 from
    a clean encyclopedic source and a 0.6 from a forum crawl mean
    different things), so curation pipelines threshold on the
    WITHIN-SOURCE percentile instead. percent_rank is (rank-1)/(n-1) on
    exact integers with ties sharing a rank, so the output is
    deterministic on any partitioning and replays exactly in SQL.

    Scale: the score is computed scan-side in the same single pass that
    carries the source column (quality_score's extra_cols — no second
    scan, no doc_id re-join); the window sorts once within each source
    partition."""
    from kafka_streams_dexcom_spark.functions.rounding import trunc6

    q = tx.quality_score(
        load_table(spark, sf_dir, "documents"),
        extra_cols=(F.col("source"),),
    ).select("doc_id", "source", "quality_score")
    w = Window.partitionBy("source").orderBy("quality_score")
    return q.select(
        "doc_id",
        "source",
        "quality_score",
        trunc6(F.percent_rank().over(w)).alias("src_pct"),
    )


QUERIES["quality_quantile_norm"] = q_quality_quantile_norm
ORACLES["quality_quantile_norm"] = f"""
    WITH q AS ({quality_score_sql()}),
    s AS (
        SELECT d.doc_id, d.source, q.quality_score
        FROM documents d JOIN q USING (doc_id)
    )
    SELECT doc_id, source, quality_score,
           floor(percent_rank() OVER (
               PARTITION BY source ORDER BY quality_score
           ) * 1000000) / 1000000.0 AS src_pct
    FROM s
"""


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — tokens-per-word under the
    learned BPE merges, THE standard tokenizer-quality metric (a
    language with fertility 2.3 pays 2.3x the sequence length, compute,
    and effective-context cost of a fertility-1.0 language; tokenizer
    evals report exactly this table). Composes the bpe_encode pieces:
    the merged vocabulary maps word → token length, documents contribute
    word counts per language, one join + one bounded aggregate.

    Determinism: sums are exact integers; the single fertility division
    per language row is floor-truncated to 6 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    _merges, vocab = bpe_artifacts(spark, sf_dir, n_merges=5)
    enc = vocab.select("w", F.size("syms").alias("wtok"))
    return tx.lang_fertility(docs, enc)


QUERIES["bpe_fertility"] = q_bpe_fertility
ORACLES["bpe_fertility"] = _bpe_enc_head(5, "bpe") + _fertility_tail()


def q_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language under the learned UNIGRAM-LM
    vocabulary — bpe_fertility's twin for the other tokenizer family,
    and the table a tokenizer bake-off actually compares (same corpus,
    same languages, two vocabularies). Word → token length comes from
    the frozen ``unigram_artifacts`` Viterbi apply (long and
    out-of-vocabulary words → chars, the shared total-apply fallback);
    documents contribute per-language word counts; one join + one
    |langs|-bounded aggregate."""
    from kafka_streams_dexcom_spark.operators.text import (
        _unigram_word_tokens,
        _word_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = unigram_artifacts(spark, sf_dir)
    words = _word_table(docs, "text")
    enc = _unigram_word_tokens(
        words, vocab, UNIGRAM_MAX_PIECE, UNIGRAM_MAX_WORD
    ).select("w", "wtok")
    return tx.lang_fertility(docs, enc)


QUERIES["unigram_fertility"] = q_unigram_fertility
ORACLES["unigram_fertility"] = (
    _unigram_enc_head(UNIGRAM_ROUNDS) + _fertility_tail()
)


# WordPiece (BERT) tokenizer family — the third production tokenizer.
# Same fixed-hyperparameter discipline as BPE_MERGES/UNIGRAM_*: the
# merge count is pinned so the oracle unrolls to a deterministic replay.
WORDPIECE_MERGES = 5


def wordpiece_artifacts(
    spark: SparkSession, sf_dir: str, n_merges: int = WORDPIECE_MERGES
) -> tuple[DataFrame, DataFrame]:
    """The learned WordPiece tokenizer's (merge table, piece set),
    trained ONCE per (Spark application, corpus) and shared by
    wordpiece_train / wordpiece_encode / wordpiece_fertility — the
    bpe_artifacts publish-once contract for the third family. The piece
    set is the distinct symbols of the fully-merged vocabulary
    (word-initial bare, continuations '##'-prefixed)."""

    def train(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
        merges, vocab = tx._merge_loop(docs, "text", n_merges, tx.WORDPIECE)
        return merges, vocab.select(F.explode("syms").alias("s")).distinct()

    return _tokenizer_artifacts(
        spark,
        sf_dir,
        ("wordpiece_merges", "wordpiece_pieces"),
        n_merges,
        train,
    )


def q_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training (operators/text.py:_merge_loop —
    Schuster & Nakajima 2012 / BERT): 5 merge rounds picked by the
    likelihood gain count(ab)/(count(a)·count(b)) instead of BPE's raw
    pair frequency; returns the scored merge table. Served from the
    shared trained artifact (``wordpiece_artifacts``)."""
    merges, _pieces = wordpiece_artifacts(spark, sf_dir)
    return merges


def q_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the learned WordPiece vocabulary
    (operators/text.py:wordpiece_encode_counts): greedy
    longest-match-first with '##' continuation pieces and whole-word
    [UNK] on match failure — per-doc word / token / char / [UNK]
    counts + compression, pure apply against the frozen piece set."""
    _merges, pieces = wordpiece_artifacts(spark, sf_dir)
    return tx.wordpiece_encode_counts(
        load_table(spark, sf_dir, "documents"), pieces=pieces
    )


def _wordpiece_enc_head(n_merges: int = WORDPIECE_MERGES) -> str:
    """Shared oracle head for the WordPiece apply family: the unrolled
    merge chain, the distinct piece set, the per-(word, start) LONGEST
    vocabulary match, then WORDPIECE_MAX_WORD unrolled greedy steps —
    each advances the cursor by the longest piece at its position or
    dead-ends the word. Ends at ``enc`` (w, wtok, wlen, is_unk): the
    total word → token-length map with every [UNK] leg (long word, OOV
    char, dead-ended walk) folded in — exactly the Spark apply's
    _wordpiece_word_tokens routing."""
    from kafka_streams_dexcom_spark.operators.text import (
        WORDPIECE_MAX_WORD,
    )

    mw = WORDPIECE_MAX_WORD
    parts = [
        _merge_chain(n_merges, "wordpiece"),
        f"""
        wpv AS MATERIALIZED (
            SELECT DISTINCT s FROM v{n_merges}, UNNEST(syms) AS u(s)
        ),
        words AS MATERIALIZED (
            SELECT w, length(w) AS L FROM ({_WORDS_DUCK}
            )
        ),
        wp_short AS (SELECT w, L FROM words WHERE L <= {mw}),
        wp_cand AS MATERIALIZED (
            SELECT sw.w, u.c.st AS st, max(u.c.ln) AS ml
            FROM wp_short sw,
                 UNNEST(flatten(list_transform(range(1, sw.L + 1), st ->
                   list_transform(range(1, sw.L - st + 2),
                                  ln -> {{'st': st, 'ln': ln}})))) AS u(c)
            JOIN wpv v
              ON v.s = CASE WHEN u.c.st = 1
                            THEN substring(sw.w, u.c.st, u.c.ln)
                            ELSE '##' || substring(sw.w, u.c.st, u.c.ln)
                       END
            GROUP BY sw.w, u.c.st
        ),
        wp_g0 AS (
            SELECT w, L, 1 AS cur, 0 AS n, true AS ok FROM wp_short
        )""",
    ]
    for k in range(1, mw + 1):
        parts.append(f"""
        wp_g{k} AS MATERIALIZED (
            SELECT g.w, g.L,
                   CASE WHEN NOT g.ok OR g.cur > g.L THEN g.cur
                        ELSE g.cur + coalesce(c.ml, 0) END AS cur,
                   CASE WHEN NOT g.ok OR g.cur > g.L OR c.ml IS NULL
                        THEN g.n ELSE g.n + 1 END AS n,
                   CASE WHEN NOT g.ok THEN false
                        WHEN g.cur > g.L THEN g.ok
                        ELSE c.ml IS NOT NULL END AS ok
            FROM wp_g{k - 1} g
            LEFT JOIN wp_cand c ON c.w = g.w AND c.st = g.cur
        )""")
    parts.append(f"""
        enc AS MATERIALIZED (
            SELECT w,
                   CASE WHEN ok AND cur = L + 1 THEN n ELSE 1 END AS wtok,
                   L AS wlen,
                   CASE WHEN ok AND cur = L + 1 THEN 0 ELSE 1 END AS is_unk
            FROM wp_g{mw}
            UNION ALL
            SELECT w, 1 AS wtok, L AS wlen, 1 AS is_unk
            FROM words WHERE L > {mw}
        )""")
    return "WITH " + ",".join(parts)


QUERIES["wordpiece_train"] = q_wordpiece_train
ORACLES["wordpiece_train"] = _merge_train_oracle(
    WORDPIECE_MERGES, "wordpiece"
)
QUERIES["wordpiece_encode"] = q_wordpiece_encode
ORACLES["wordpiece_encode"] = (
    _wordpiece_enc_head(WORDPIECE_MERGES)
    + _encode_tail(n_chars="wlen", n_unk_words="is_unk")
)


def q_wordpiece_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language under the learned WORDPIECE
    vocabulary — the third row of the tokenizer bake-off (same corpus,
    same languages, three vocabularies), plus the per-language
    [UNK]-word rate that BPE/unigram (which never emit UNK) don't have:
    a language whose words keep dead-ending the greedy walk needs a
    bigger vocab or better coverage, and fertility alone won't show it
    (an [UNK] word counts ONE token — cheap-looking, information-
    destroying)."""
    from kafka_streams_dexcom_spark.operators.text import (
        WORDPIECE_MAX_WORD,
        _word_table,
        _wordpiece_word_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    _merges, pieces = wordpiece_artifacts(spark, sf_dir)
    words = _word_table(docs, "text")
    enc = _wordpiece_word_tokens(words, pieces, WORDPIECE_MAX_WORD).select(
        "w", "wtok", "is_unk"
    )
    return tx.lang_fertility(docs, enc, n_unk_words="is_unk")


QUERIES["wordpiece_fertility"] = q_wordpiece_fertility
ORACLES["wordpiece_fertility"] = (
    _wordpiece_enc_head(WORDPIECE_MERGES)
    + _fertility_tail(n_unk_words="is_unk")
)


def q_boilerplate_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-n-gram boilerplate removal (the Dolma / RefinedWeb
    frequent-paragraph rule at 8-gram granularity): token 8-grams
    present in >= BOILERPLATE_MIN_DOCS distinct documents are cut from
    EVERY document — no canonical copy, the policy difference from
    span_dedup_rewrite's pairwise keep-one. See
    operators/text.py:boilerplate_ngram_rewrite for the plan shape."""
    from kafka_streams_dexcom_spark.operators.text import (
        boilerplate_ngram_rewrite,
    )

    return boilerplate_ngram_rewrite(
        load_table(spark, sf_dir, "documents"), k=SPAN_K
    )


QUERIES["boilerplate_rewrite"] = q_boilerplate_rewrite
ORACLES["boilerplate_rewrite"] = (
    f"""
    WITH toks AS MATERIALIZED ({_span_toks()}),
    g AS MATERIALIZED ({_span_grams("toks")}),"""
    + _span_doc_freq(f"st.nd >= {tx.BOILERPLATE_MIN_DOCS}")
    + _span_excise("dst")
)


# ------------------------------------------------ training-order shuffle
N_EPOCHS = 3
SHUFFLE_SHARDS = 8


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training-data order WITHOUT a global
    sort: each (doc, epoch) pair gets a 60-bit order key from the
    shared portable hash, the key's low bits pick one of
    SHUFFLE_SHARDS shards, and position is a row_number local to
    (epoch, shard). A data loader replays any epoch of any shard
    independently — the order is a pure function of (corpus, epoch),
    so a crashed training run resumes mid-epoch bit-identically, and
    re-shuffling for epoch e+1 costs one hash re-key, no state.

    Scale shape: the only ordering work is a sort WITHIN each
    (epoch, shard) partition, embarrassingly parallel across shards,
    versus the single global sort a naive ORDER BY random() plan
    would shuffle everything through. SHUFFLE_SHARDS=8 is the oracle
    demo constant — in production the shard count is the data-loader
    fan-out knob (thousands at 100 TB, sized so one shard's 8-byte
    keys sort in one executor); the plan is invariant in it, and the
    key derivation makes any shard count reproducible. Matches how
    real loaders (tf.data / torchdata shard-shuffle) consume corpora:
    shard-parallel, seed-deterministic."""

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    key = HASH60_TPL.format(
        x="concat(CAST(doc_id AS STRING), ':', CAST(epoch AS STRING))"
    )
    keyed = (
        d.select(
            "doc_id",
            F.explode(F.expr(f"sequence(0, {N_EPOCHS - 1})")).alias(
                "epoch"
            ),
        )
        .select(
            F.col("epoch").cast("bigint").alias("epoch"),
            "doc_id",
            F.expr(key).alias("okey"),
        )
        .select(
            "epoch",
            "doc_id",
            "okey",
            (F.col("okey") % SHUFFLE_SHARDS).cast("bigint").alias("shard"),
        )
    )
    w = Window.partitionBy("epoch", "shard").orderBy("okey", "doc_id")
    return keyed.select(
        "epoch",
        "shard",
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def _epoch_shuffle_oracle() -> str:
    key = DUCK_HASH60.format(
        x="concat(CAST(doc_id AS STRING), ':', CAST(epoch AS STRING))"
    )
    return f"""
        WITH keyed AS (
            SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
                   {key} AS okey
            FROM documents,
                 UNNEST(range(0, {N_EPOCHS})) r(epoch)
        )
        SELECT epoch, CAST(okey % {SHUFFLE_SHARDS} AS BIGINT) AS shard,
               doc_id,
               CAST(row_number() OVER (
                   PARTITION BY epoch, okey % {SHUFFLE_SHARDS}
                   ORDER BY okey, doc_id) AS BIGINT) AS pos
        FROM keyed
    """


QUERIES["epoch_shuffle"] = q_epoch_shuffle
ORACLES["epoch_shuffle"] = _epoch_shuffle_oracle()


# the frozen eval suite BOTH decontamination stages screen against —
# one constant (queries/dedup.py:EVAL_SOURCE), imported rather than
# redeclared so the two stages can never silently screen different
# suites. Late module-level import: queries.dedup re-enters this module
# while building its own oracles, and everything it needs
# (gopher_duck_sql, quality_score_sql) is defined above this line.
from kafka_streams_dexcom_spark.queries.dedup import (  # noqa: E402
    EVAL_SOURCE as SCRUB_EVAL_SOURCE,
)


def q_eval_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by span removal: src0 plays the frozen eval
    suite (same casting as contamination_check); its token 8-grams are
    excised from every training document. See
    operators/text.py:eval_span_scrub for the plan — broadcast eval
    gram set, no train-side gram shuffle."""
    from kafka_streams_dexcom_spark.operators.text import eval_span_scrub

    d = load_table(spark, sf_dir, "documents")
    return eval_span_scrub(
        d.filter(F.col("source") != SCRUB_EVAL_SOURCE),
        d.filter(F.col("source") == SCRUB_EVAL_SOURCE),
        k=SPAN_K,
    )


ORACLES["eval_span_scrub"] = f"""
    WITH toks AS MATERIALIZED (
        {_span_toks(f"WHERE source != '{SCRUB_EVAL_SOURCE}'")}),
    etoks AS MATERIALIZED (
        {_span_toks(f"WHERE source = '{SCRUB_EVAL_SOURCE}'")}),
    eg AS MATERIALIZED (SELECT DISTINCT gk FROM ({_span_grams("etoks")})),
    g AS MATERIALIZED ({_span_grams("toks")}),
    dst AS MATERIALIZED (
        SELECT g.doc_id, g.i FROM g JOIN eg USING (gk)
    ),{_span_excise("dst")}"""
QUERIES["eval_span_scrub"] = q_eval_span_scrub
