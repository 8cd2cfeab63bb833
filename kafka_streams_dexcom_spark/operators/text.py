"""Text-analysis operators for training-data pipelines: statistics,
language ID, quality scoring, tokenizer-ish counting, fingerprinting.

All scan-side Catalyst expressions (length/split/regexp/array ops inside
whole-stage codegen); the only shuffle anywhere is the language-ID
marker-dictionary aggregation, and the dictionary itself is broadcast.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import HASH60_TPL, TOKENS_TPL
from kafka_streams_dexcom_spark.functions.rounding import trunc6
from kafka_streams_dexcom_spark.sources.files import fan_out_small

# Marker tokens per language for the n-gram/stopword heuristic. Tiny on
# purpose — a broadcast dimension, exactly like the reference's ranges
# KTable (CategorizeWithKTableLookup.java:60-62) but keyed by token.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "de", "y", "es"),
    "fr": ("le", "la", "de", "et", "est"),
}

# GPT-2-flavored pre-tokenizer approximation: letter runs, digit runs,
# or single non-alphanumeric glyphs.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


# --- the token-window core: one tokenizer frame, one k-gram start
# explode, one span-excise rebuild, shared by every n-gram operator ---


def _tokens(df: DataFrame, text_col: str, *keep) -> DataFrame:
    """``(*keep, tk)`` over ``fan_out_small(df)``: tk is each row's
    TOKENS_TPL token array, bound once so every later per-token
    expression indexes a column instead of re-splitting the text."""
    return fan_out_small(df).select(
        *keep, F.expr(TOKENS_TPL.format(x=text_col)).alias("tk")
    )


def gram_starts(toks: DataFrame, k: int, *keep: str) -> DataFrame:
    """``(*keep, tk, i)``: one row per token k-gram of ``toks``' token
    array ``tk``, i its 1-based start, over the rows with at least k
    tokens. Each caller projects its own gram from tk and i:
    ``element_at(tk, i + j)`` words, the ``slice(tk, i, k)`` string, or
    that string's HASH60_TPL hash.

    The positions are exploded first and the gram is built in
    whole-stage codegen. A ``transform(sequence(...), i -> gram)``
    lambda evaluates its body interpreted (HigherOrderFunction bodies
    are CodegenFallback), once per gram; the bare position sequence
    keeps tk streaming in the generate loop, and the same element_at /
    slice / md5 expression compiles (round 13; the round-12
    simhash/minhash explode-then-codegen lesson, guide §4.1)."""
    return toks.filter(F.size("tk") >= k).select(
        *keep,
        "tk",
        F.explode(F.expr(f"sequence(1, size(tk) - {k - 1})")).alias("i"),
    )


def excise_spans(toks: DataFrame, starts: DataFrame, k: int) -> DataFrame:
    """Cut every token a covered k-gram spans and rebuild the text.
    ``toks`` is (doc_id, tk) and ``starts`` the (doc_id, i) starts of
    the covered grams; the result is (doc_id, n_tokens, n_removed,
    clean_text) for every row of ``toks``, kept tokens in their order.

    Coverage and the rebuild are ROW-based: each start expands to its k
    (doc, position) rows, a LEFT ANTI join removes them from the
    position-exploded token stream, and the survivors re-assemble per
    doc — worst-case linear in tokens even for a fully covered
    100k-token document (a scan-side ``exists`` over the per-doc start
    list would be O(tokens × starts) per row exactly on the
    heavy-duplication inputs the span rewrites exist for). Rows with no
    covered gram pass through the final left join untouched."""
    cov = starts.select(
        "doc_id",
        F.explode(F.expr(f"sequence(i, i + {k - 1})")).alias("p"),
    ).distinct()
    pos = toks.select(
        "doc_id", F.posexplode("tk").alias("j", "tok")
    ).select("doc_id", (F.col("j") + 1).alias("p"), "tok")
    rebuilt = (
        pos.join(cov, ["doc_id", "p"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(p, tok))), s -> s.tok), ' ')"
            ).alias("txt"),
        )
    )
    return (
        toks.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.size("tk").cast("bigint").alias("n_tokens"),
            (F.size("tk") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("txt", F.lit("")).alias("clean_text"),
        )
    )


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document surface statistics. Tokens are the NON-EMPTY
    whitespace splits (a trailing newline must not add a phantom ''
    token to the counts); a token-free document gets avg_token_len 0.0
    instead of a 0/0 NaN."""
    df = fan_out_small(df)
    toks_sql = TOKENS_TPL.format(x=text_col)
    toks = F.expr(toks_sql)
    n_tokens = F.size(toks)
    tok_len_sum = F.expr(
        f"aggregate(transform({toks_sql}, t -> length(t)), "
        "0L, (acc, v) -> acc + v)"
    )
    return df.select(
        "doc_id",
        F.length(text_col).cast("bigint").alias("n_chars_calc"),
        n_tokens.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_distinct_tokens"),
        F.when(n_tokens == 0, F.lit(0.0))
        .otherwise(
            trunc6(tok_len_sum.cast("double") / n_tokens.cast("double"))
        )
        .alias("avg_token_len"),
    )


def lang_markers_df(spark: SparkSession) -> DataFrame:
    rows = [(lang, tok) for lang, toks in LANG_MARKERS.items() for tok in toks]
    return spark.createDataFrame(rows, "lang_code string, marker string")


def language_id(df: DataFrame, spark: SparkSession, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: explode tokens, equi-join the broadcast
    marker dictionary, argmax matches per doc (count desc, lang asc for
    determinism); docs with no marker hit → 'unknown'.

    Scale: tokens shuffle once for the per-(doc, lang) count; the marker
    join is broadcast so the explode output never shuffles twice."""
    toks = fan_out_small(df).select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    )
    hits = (
        toks.join(F.broadcast(lang_markers_df(spark)), toks.tok == F.col("marker"))
        .groupBy("doc_id", "lang_code")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_hits").desc(), F.col("lang_code").asc()
    )
    best = (
        hits.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang_code", "n_hits")
    )
    return (
        df.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lang_code", F.lit("unknown")).alias("pred_lang"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("marker_hits"),
        )
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    extra_cols: tuple[Column, ...] = (),
) -> DataFrame:
    """Deterministic composite quality score in [0,1]:
    0.3·len_score + 0.3·lexical_diversity + 0.2·stopword_ratio +
    0.2·alpha_ratio — the standard cheap pre-filter shape for LLM
    training corpora (length, diversity, naturalness, cleanliness).
    ``extra_cols`` are appended to the output projection so callers can
    carry sibling scan-side expressions (e.g. a token count) through
    the SAME pass instead of re-scanning and re-joining on doc_id."""
    df = fan_out_small(df)
    toks_sql = TOKENS_TPL.format(x=text_col)
    toks = F.expr(toks_sql)
    n_tokens = F.size(toks).cast("double")
    stop_list = ", ".join(f"'{t}'" for t in LANG_MARKERS["en"])
    n_stop = F.expr(
        f"size(filter({toks_sql}, t -> t IN ({stop_list})))"
    ).cast("double")
    n_alpha = F.expr(
        f"size(filter({toks_sql}, t -> t RLIKE '^[A-Za-z]+$'))"
    ).cast("double")
    diversity = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    score = (
        0.3 * len_score
        + 0.3 * diversity
        + 0.2 * (n_stop / n_tokens)
        + 0.2 * (n_alpha / n_tokens)
    )
    # token-free doc (empty/whitespace-only text): every ratio is 0/0 —
    # score 0.0 by definition, not NaN
    zero = n_tokens == 0
    return df.select(
        "doc_id",
        trunc6(len_score).alias("len_score"),
        F.when(zero, 0.0).otherwise(trunc6(diversity)).alias("diversity"),
        F.when(zero, 0.0)
        .otherwise(trunc6(n_stop / n_tokens))
        .alias("stopword_ratio"),
        F.when(zero, 0.0)
        .otherwise(trunc6(n_alpha / n_tokens))
        .alias("alpha_ratio"),
        F.when(zero, 0.0).otherwise(trunc6(score)).alias("quality_score"),
        *extra_cols,
    )


# Gopher rule thresholds (Rae et al. 2021, arXiv:2112.11446, Table A1).
# The line-structure rules (bullet/ellipsis line fractions) need documents
# with lines, which this corpus lacks — the character-level symbol-ratio
# rule covers that family here. Stopword set = LANG_MARKERS['en'] (the
# repo's one English stop list; Gopher's is 8 words of the same kind).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WLEN = 3
GOPHER_MAX_MEAN_WLEN = 10
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style rule-based quality filter: one INT flag per rule plus
    the conjunction (`keep`), per document.

    Every rule decides on EXACT integer arithmetic — ratio thresholds
    become cross-multiplications (mean word length in [3,10] ⇔
    3·n ≤ Σlen ≤ 10·n; ≥80% alpha words ⇔ 5·n_alpha ≥ 4·n; symbol ratio
    ≤ 0.1 ⇔ 10·n_sym ≤ n), so no engine-side float rounding can ever
    flip a flag. A word-free document passes the degenerate 0≤0 ratio
    rules but fails the word-count rule, so keep=0.

    Scale: pure scan-side projection — higher-order functions on the
    split array inside whole-stage codegen, zero shuffles, zero joins;
    the filter runs at read bandwidth on any corpus size."""
    toks_sql = TOKENS_TPL.format(x=text_col)
    # bind the token array once: the stopword lambda below iterates the
    # stop set, and array_contains over an UNBOUND filter(split(...))
    # would re-tokenize per stop word (see kneser_ney_lm)
    df = fan_out_small(df).select(
        "doc_id",
        F.col(text_col),
        F.expr(toks_sql).alias("__tk"),
        *(F.col(c) for c in carry_cols if c != text_col),
    )
    n_words = F.size("__tk").cast("bigint")
    sum_wlen = F.expr(
        "aggregate(transform(__tk, t -> length(t)), "
        "0L, (acc, v) -> acc + v)"
    )
    n_alpha = F.expr(
        "size(filter(__tk, t -> t RLIKE '[A-Za-z]'))"
    ).cast("bigint")
    n_hash = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), "#", "")
    )
    # non-overlapping '...' occurrences; the length delta is always a
    # multiple of 3, so integer div is exact
    n_ell = F.expr(
        f"(length({text_col}) - length(replace({text_col}, '...', ''))) div 3"
    )
    stop_arr = ", ".join(f"'{t}'" for t in LANG_MARKERS["en"])
    n_stop = F.expr(
        f"size(filter(array({stop_arr}), s -> array_contains(__tk, s)))"
    ).cast("bigint")
    r_words = n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    r_mean = (F.lit(GOPHER_MIN_MEAN_WLEN) * n_words <= sum_wlen) & (
        sum_wlen <= F.lit(GOPHER_MAX_MEAN_WLEN) * n_words
    )
    r_sym = F.lit(10) * (n_hash.cast("bigint") + n_ell) <= n_words
    r_alpha = F.lit(5) * n_alpha >= F.lit(4) * n_words
    r_stop = n_stop >= GOPHER_MIN_STOP_HITS
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        r_words.cast("int").alias("r_word_count"),
        r_mean.cast("int").alias("r_mean_word_len"),
        r_sym.cast("int").alias("r_symbol_ratio"),
        r_alpha.cast("int").alias("r_alpha_words"),
        r_stop.cast("int").alias("r_stopwords"),
        (r_words & r_mean & r_sym & r_alpha & r_stop)
        .cast("int")
        .alias("keep"),
        # passthrough columns ride the SAME scan (quality_score's
        # extra_cols discipline) so gating a stream never needs a join
        *(F.col(c) for c in carry_cols),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace and BPE-ish token counts + chars/token — the unit
    economics column set for token-budget planning."""
    df = fan_out_small(df)
    n_ws = F.expr(
        f"size({TOKENS_TPL.format(x=text_col)})"
    ).cast("bigint")
    n_bpe = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    ).cast("bigint")
    return df.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        # BPE-token-free doc: 0.0, not an ANSI divide-by-zero error
        F.when(n_bpe == 0, F.lit(0.0))
        .otherwise(
            trunc6(F.length(text_col).cast("double") / n_bpe.cast("double"))
        )
        .alias("chars_per_token"),
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", k: int = 3
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    Scale shape: explode → (doc, term) count is the only wide shuffle
    over token volume; document frequency is a count window over the
    already-aggregated tf table keyed by term (one row per (doc, term)),
    NOT a second aggregation of the token stream — a groupBy-then-join
    formulation plans as two full explode+shuffle subtrees because
    Catalyst prunes the unused tf count from the df branch and exchange
    reuse no longer matches. The corpus size N joins in as a broadcast
    single-row aggregate, never a driver-side collect. idf = ln(N/df) is
    truncated to 6 decimals before ranking so the ordering is replayable
    cross-engine."""
    toks = fan_out_small(df).select(
        "doc_id", F.explode(F.split(F.col(text_col), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n_docs = df.select(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            trunc6(
                F.col("tf").cast("double")
                * F.log(
                    F.col("n_docs").cast("double")
                    / F.col("df").cast("double")
                )
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            "tfidf",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def bigram_lm(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """Corpus bigram language-model counts: top-N bigrams with their
    conditional probability p(w2 | w1) = c(w1,w2) / c(w1,·).

    Bigrams are built scan-side from exploded start positions
    (gram_starts — a narrow map, no join between adjacent tokens);
    counting is one shuffle (_bigram_type_counts, shared with the KN
    models); c(w1,·) is a window sum over the already-aggregated bigram
    table (vocabulary-sized, not token-sized); top-N is a TakeOrdered
    with a total order so the cut is deterministic."""
    counts = _bigram_type_counts(df, text_col)
    w1_tot = Window.partitionBy("w1")
    return (
        counts.withColumn("n_w1", F.sum("n_bigram").over(w1_tot))
        .withColumn(
            "cond_p",
            trunc6(
                F.col("n_bigram").cast("double")
                / F.col("n_w1").cast("double")
            ),
        )
        .orderBy(
            F.col("n_bigram").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(top_n)
    )


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon character entropy — the compression-style
    quality screen (the cheap stand-in for a gzip-ratio filter): text
    dominated by few symbols (padding, ASCII art, repeated separators)
    scores near 0; natural prose sits in a narrow band; random/binary
    junk scores near log2-of-alphabet. Entropy in nats over the char
    distribution, each term floored to 1e-9-unit integers BEFORE the
    per-doc sum so the result is exactly order-independent (integer
    addition commutes; the doc_cross_entropy discipline).

    Entirely scan-side: char counts come from nested array lambdas over
    the bound char array — no explode, no shuffle; cost per row is
    O(distinct_chars · len), bounded by the alphabet."""
    df = fan_out_small(df)
    # per-char work must index BOUND columns (ch, then the counts array
    # k) — the kneser_ney_lm lambda-rebinding lesson
    units = F.expr(
        "aggregate(transform(transform(array_distinct(ch), "
        "c -> size(filter(ch, x -> x = c))), "
        "k -> floor(CAST(k AS DOUBLE) / CAST(size(ch) AS DOUBLE) "
        "* ln(CAST(size(ch) AS DOUBLE) / CAST(k AS DOUBLE)) "
        "* 1000000000.0)), 0L, (a, v) -> a + v)"
    )
    return (
        df.select(
            "doc_id",
            F.expr(
                f"filter(split({text_col}, ''), c -> c != '')"
            ).alias("ch"),
        )
        .select(
            "doc_id",
            F.size("ch").cast("bigint").alias("n_chars_calc"),
            F.size(F.array_distinct("ch"))
            .cast("bigint")
            .alias("n_distinct_chars"),
            units.alias("__units"),
        )
        .select(
            "doc_id",
            "n_chars_calc",
            "n_distinct_chars",
            (F.expr("__units div 1000") / F.lit(1.0e6)).alias(
                "char_entropy"
            ),
        )
    )


KN_DISCOUNT = 0.75


def _bigram_type_counts(df: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, n_bigram) over the corpus — the one token-scale shuffle
    bigram_lm and both KN variants share. Both words index the bound
    token array (gram_starts) rather than re-running split+filter per
    element (a 2.67x -> ~1x x10-probe difference at bigram volume)."""
    return (
        gram_starts(_tokens(df, text_col), 2)
        .select(
            F.expr("element_at(tk, i)").alias("w1"),
            F.expr("element_at(tk, i + 1)").alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_bigram"))
    )


def kneser_ney_modified(df: DataFrame, text_col: str = "text") -> DataFrame:
    """MODIFIED Kneser-Ney (Chen & Goodman 1999, the form every serious
    n-gram toolkit ships as its default): instead of one fixed
    discount, three discounts D1/D2/D3+ ESTIMATED FROM THE DATA via the
    count-of-counts statistics n1..n4 (# bigram types occurring exactly
    1..4 times):

        Y  = n1 / (n1 + 2·n2)
        D1 = 1 − 2·Y·n2/n1    D2 = 2 − 3·Y·n3/n2    D3 = 3 − 4·Y·n4/n3

        p(w2|w1) = (c − D(c))/c(w1)
                 + (D1·N1(w1) + D2·N2(w1) + D3·N3+(w1))/c(w1) · P_cont(w2)

    where N_k(w1) counts w1's continuations at count level k — the
    interpolation weight gives back exactly the mass the discounts
    removed, so each context's distribution still sums to 1 over the
    full vocabulary.

    Degenerate counts-of-counts: the estimator needs n1, n2, n3 > 0
    (any natural corpus has singletons; the sf0.1 synthetic word-soup
    does NOT — every bigram occurs ≥3 times). When any of them is 0
    all three discounts FALL BACK to the fixed 0.75 (the toolkit
    convention when Good-Turing statistics are unusable), under which
    the formula collapses exactly to kneser_ney_lm's fixed-discount
    form. The estimator's denominators are greatest(·, 1)-guarded so
    the unused branch can never raise under ANSI mode even when
    subexpression elimination hoists it out of the CASE.

    Scale: identical plan shape to kneser_ney_lm — the count-of-count
    statistics ride the SAME two vocab-scale exchanges (three more
    conditional window sums on the already-partitioned table) and the
    global n1..n4 is one broadcast 1-row aggregate."""
    counts = _bigram_type_counts(df, text_col)
    w1_win = Window.partitionBy("w1")
    w2_win = Window.partitionBy("w2")
    c = F.col("n_bigram")
    glob = counts.agg(
        F.count(F.lit(1)).alias("n_tot"),
        F.sum((c == 1).cast("long")).alias("g1"),
        F.sum((c == 2).cast("long")).alias("g2"),
        F.sum((c == 3).cast("long")).alias("g3"),
        F.sum((c == 4).cast("long")).alias("g4"),
    )
    stats = (
        counts.repartition("w1")
        .withColumn("n_w1", F.sum("n_bigram").over(w1_win))
        .withColumn(
            "nc1_w1", F.sum((c == 1).cast("long")).over(w1_win)
        )
        .withColumn(
            "nc2_w1", F.sum((c == 2).cast("long")).over(w1_win)
        )
        .withColumn(
            "nc3p_w1", F.sum((c >= 3).cast("long")).over(w1_win)
        )
        .withColumn("n1_w2", F.count(F.lit(1)).over(w2_win))
        .crossJoin(F.broadcast(glob))
    )

    def dbl(name: str):
        return F.col(name).cast("double")

    deg = (
        (F.col("g1") == 0) | (F.col("g2") == 0) | (F.col("g3") == 0)
    )
    fb = F.lit(KN_DISCOUNT)
    y = dbl("g1") / F.greatest(
        dbl("g1") + F.lit(2.0) * dbl("g2"), F.lit(1.0)
    )
    d1 = F.when(deg, fb).otherwise(
        F.lit(1.0)
        - F.lit(2.0) * y * dbl("g2") / F.greatest(dbl("g1"), F.lit(1.0))
    )
    d2 = F.when(deg, fb).otherwise(
        F.lit(2.0)
        - F.lit(3.0) * y * dbl("g3") / F.greatest(dbl("g2"), F.lit(1.0))
    )
    d3 = F.when(deg, fb).otherwise(
        F.lit(3.0)
        - F.lit(4.0) * y * dbl("g4") / F.greatest(dbl("g3"), F.lit(1.0))
    )
    d_of_c = (
        F.when(c == 1, d1).when(c == 2, d2).otherwise(d3)
    )
    gamma = (
        d1 * dbl("nc1_w1") + d2 * dbl("nc2_w1") + d3 * dbl("nc3p_w1")
    ) / dbl("n_w1")
    p_mkn = (dbl("n_bigram") - d_of_c) / dbl("n_w1") + gamma * (
        dbl("n1_w2") / dbl("n_tot")
    )
    return stats.select(
        "w1",
        "w2",
        "n_bigram",
        "n_w1",
        "n1_w2",
        "n_tot",
        trunc6(p_mkn).alias("p_mkn"),
    )


def kneser_ney_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    Goodman 1998's fixed-discount form, d = 0.75) — the smoothing that
    made n-gram LMs competitive, and the standard upgrade over raw
    conditional counts (bigram_lm): the continuation probability
    P_cont(w2) = N1+(·,w2)/N1+(··) ranks a word by how many CONTEXTS it
    follows, not how often it occurs, which is what stops 'Francisco'
    (frequent, one context) from outscoring 'about'.

        p_kn(w2|w1) = (c(w1,w2) − d)/c(w1) + d·N1+(w1,·)/c(w1) · P_cont(w2)

    Emitted for every OBSERVED bigram with all count inputs, so the
    oracle checks the integer statistics and the smoothed value.

    Scale: the token-scale shuffle is the ONE (w1,w2) count; both
    w1-windows (c(w1), N1+(w1,·)) share a single hash partitioning of
    the vocabulary-sized count table; the w2 window is the second
    vocab-scale exchange; N1+(··) joins as a broadcast 1-row aggregate
    (doc_cross_entropy's subset-rule discipline)."""
    counts = _bigram_type_counts(df, text_col)
    w1_win = Window.partitionBy("w1")
    w2_win = Window.partitionBy("w2")
    tot = counts.agg(F.count(F.lit(1)).alias("n_tot"))
    stats = (
        counts.repartition("w1")
        .withColumn("n_w1", F.sum("n_bigram").over(w1_win))
        .withColumn("n1_w1", F.count(F.lit(1)).over(w1_win))
        .withColumn("n1_w2", F.count(F.lit(1)).over(w2_win))
        .crossJoin(F.broadcast(tot))
    )
    d = F.lit(KN_DISCOUNT)
    p_kn = (F.col("n_bigram").cast("double") - d) / F.col("n_w1").cast(
        "double"
    ) + d * F.col("n1_w1").cast("double") / F.col("n_w1").cast("double") * (
        F.col("n1_w2").cast("double") / F.col("n_tot").cast("double")
    )
    return stats.select(
        "w1",
        "w2",
        "n_bigram",
        "n_w1",
        "n1_w1",
        "n1_w2",
        "n_tot",
        trunc6(p_kn).alias("p_kn"),
    )


def kneser_ney_trigram(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Interpolated TRIGRAM Kneser-Ney (Chen & Goodman 1998, fixed
    discount d = 0.75 at both levels) — the standard rung above the
    bigram models: the trigram level backs off into a bigram model
    built from CONTINUATION counts, not raw counts (the defining KN
    move at interior levels):

        p(w3|w1,w2) = (c(w1w2w3) − d)/c(w1w2·)
                      + d·N1+(w1w2·)/c(w1w2·) · p_cont(w3|w2)

        p_cont(w3|w2) = (N1+(·w2w3) − d)/N1+(·w2·)
                        + d·N1+(w2·)/N1+(·w2·) · N1+(·w3)/N1+(··)

    where N1+(·w2w3) counts distinct w1 preceding the bigram (w2,w3) —
    on the trigram TYPE table that is simply the row count per (w2,w3),
    and the distinct-(w2,w3) statistics (N1+(w2·), N1+(·w3), N1+(··))
    fall out of a first-w1 row-number marker summed over the w2 / w3 /
    global windows. Emitted for every OBSERVED trigram, so c − d > 0
    and the max(·,0) clamp is vacuous.

    Scale: the token-scale shuffle is the ONE (w1,w2,w3) type count;
    everything else is window sums over the vocab-scale type table —
    the (w2,w3) partitioning serves both the row-number marker and the
    continuation count, then one exchange each for the (w1,w2), (w2)
    and (w3) windows; the global type total joins as a broadcast 1-row
    aggregate (never a single-partition global window)."""
    counts = (
        gram_starts(_tokens(df, text_col), 3)
        .select(
            F.expr("element_at(tk, i)").alias("w1"),
            F.expr("element_at(tk, i + 1)").alias("w2"),
            F.expr("element_at(tk, i + 2)").alias("w3"),
        )
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    bg_win = Window.partitionBy("w2", "w3")
    ctx_win = Window.partitionBy("w1", "w2")
    w2_win = Window.partitionBy("w2")
    w3_win = Window.partitionBy("w3")
    first_w1 = (
        F.row_number().over(bg_win.orderBy("w1")) == 1
    ).cast("long")
    # repartition by w2 ALONE: HashPartitioning(w2) satisfies the
    # clustered distribution of BOTH the (w2, w3) windows and the (w2)
    # windows (subset rule, guide §2.4) — one exchange fewer than the
    # (w2, w3) repartition this replaced (the w2-only windows then
    # needed their own re-shuffle of the full type table). Skew bound:
    # rows here are trigram TYPES, so a hot w2 holds at most
    # |vocab following w2|² rows, not token mass. The w2-keyed window
    # columns run FIRST, while the partitioning still matches.
    marked = (
        counts.repartition("w2")
        .withColumn("cc_bg", F.count(F.lit(1)).over(bg_win))
        .withColumn("is_first", first_w1)
    )
    tot = marked.agg(
        F.sum("is_first").alias("n_tot_bg")
    )
    stats = (
        marked.withColumn("cc_mid", F.count(F.lit(1)).over(w2_win))
        .withColumn("n1p_w2", F.sum("is_first").over(w2_win))
        .withColumn("n_ctx", F.sum("n_tri").over(ctx_win))
        .withColumn("n1p_ctx", F.count(F.lit(1)).over(ctx_win))
        .withColumn("n1_w3", F.sum("is_first").over(w3_win))
        .crossJoin(F.broadcast(tot))
    )

    def dbl(name: str):
        return F.col(name).cast("double")

    d = F.lit(KN_DISCOUNT)
    p_bg = (dbl("cc_bg") - d) / dbl("cc_mid") + d * dbl("n1p_w2") / dbl(
        "cc_mid"
    ) * (dbl("n1_w3") / dbl("n_tot_bg"))
    p_tri = (dbl("n_tri") - d) / dbl("n_ctx") + d * dbl("n1p_ctx") / dbl(
        "n_ctx"
    ) * p_bg
    return stats.select(
        "w1",
        "w2",
        "w3",
        "n_tri",
        "n_ctx",
        "n1p_ctx",
        "cc_bg",
        "cc_mid",
        "n1p_w2",
        "n1_w3",
        "n_tot_bg",
        trunc6(p_tri).alias("p_kn3"),
    )


def doc_cross_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document cross-entropy under the corpus's OWN bigram LM —
    the KenLM-style fluency signal LLM pipelines use to filter
    boilerplate and noise (a doc whose bigrams are corpus-typical
    scores low; templated or garbled text scores high).

    Shape (round-3 rework): the exploded bigram stream is reduced ONCE
    to per-(doc, bigram) occurrence counts (map-side combine on the only
    token-scale shuffle), then hash-repartitioned by w1 — a partitioning
    that satisfies BOTH the (w1, w2) and the (w1) window distributions
    (subset rule), so the global bigram count and the w1 continuation
    total are sort-only window passes with NO further exchange, no
    vocabulary join, and no materialized token-scale intermediate. The
    earlier checkpoint+join shape paid a token-scale write plus a
    token-scale join shuffle for the same numbers. Every doc bigram
    exists in the LM by construction (same corpus), so no smoothing term
    is needed.

    Determinism: per-bigram -ln p(w2|w1) is fixed-pointed to 1e-9 units
    (p is a ratio of exact integers, so the double and its log are
    bit-identical cross-engine); the per-doc sum weights each distinct
    bigram's unit by its integer occurrence count — partition-order
    independent and exactly replayable in SQL."""
    doc_counts = (
        gram_starts(_tokens(df, text_col, "doc_id"), 2, "doc_id")
        .select(
            "doc_id",
            F.expr("element_at(tk, i)").alias("w1"),
            F.expr("element_at(tk, i + 1)").alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition("w1")
    )
    n_bigram = F.sum("cnt").over(Window.partitionBy("w1", "w2"))
    n_w1 = F.sum("cnt").over(Window.partitionBy("w1"))
    p = n_bigram.cast("double") / n_w1.cast("double")
    unit = F.floor((-F.log(p)) * F.lit(1.0e9))
    scored = doc_counts.select(
        "doc_id", "cnt", (unit * F.col("cnt")).alias("units")
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum("units").alias("units"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (
                F.expr("units div n_bigrams div 1000") / F.lit(1.0e6)
            ).alias("cross_entropy"),
        )
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, window: int = 16
) -> DataFrame:
    """Full winnowing (MOSS-style): hash every character k-gram, then
    keep the minimum of each sliding window of ``window`` gram hashes —
    the distinct minima are the document's fingerprint set. Guarantees a
    shared fingerprint for any match of length >= k + window - 1, unlike
    the single-MinHash `doc_fingerprint`. Documents shorter than
    k + window - 1 (but >= k) emit the min of their single partial
    window, so short near-identical docs remain detectable.

    Round 13: gram hashes are exploded to rows (md5 in whole-stage
    codegen, not an interpreted transform() lambda) and the sliding
    minimum is a ROWS-frame window over the per-doc position order —
    the `materialize` barrier the array form needed (one round-robin
    exchange carrying the full gram-hash arrays) becomes the window's
    hash(doc_id) exchange carrying the same bytes as (doc_id, i, h)
    rows, and the O(n·w) per-window array_min(slice(...)) lambdas run
    as the native frame aggregate. The trailing distinct reuses the
    window's partitioning (subset rule) — no extra exchange."""
    # any doc with at least ONE k-gram fingerprints: a doc shorter
    # than k + window - 1 chars emits the min of its single partial
    # window instead of silently vanishing from dup detection
    gram_hash = HASH60_TPL.format(x=f"substring({text_col}, i, {k})")
    d = (
        fan_out_small(df)
        .filter(F.length(text_col) >= k)
        .select(
            "doc_id",
            (F.length(text_col) - (k - 1)).alias("n"),
            F.explode(
                F.expr(f"sequence(1, length({text_col}) - {k - 1})")
            ).alias("i"),
            F.col(text_col),
        )
        .select("doc_id", "n", "i", F.expr(gram_hash).alias("h"))
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        d.withColumn("m", F.min("h").over(w))
        .filter(
            F.col("i")
            <= F.greatest(F.lit(1), F.col("n") - F.lit(window - 1))
        )
        .select("doc_id", F.col("m").alias("fingerprint"))
        .distinct()
    )


SAMPLING_RATES_BP: dict[str, int] = {
    # basis points of each language kept: downsample the high-resource
    # majority, keep the tail whole — the standard corpus-balancing move
    "en": 2500,
    "de": 5000,
    "es": 7500,
    "fr": 10000,
    "zh": 10000,
}


def stratified_sample(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Per-stratum deterministic sampling: md5-bucket each doc into
    10,000 bins and keep it iff its bin < the stratum's rate. Hash-based
    (not rand()) so the sample is reproducible run-to-run, engine-to-
    engine, and stable under repartitioning; the rates table broadcasts.
    """
    rates = spark.createDataFrame(
        list(SAMPLING_RATES_BP.items()), "lang string, rate_bp int"
    )
    bucket = F.expr(
        f"pmod({HASH60_TPL.format(x='CAST(doc_id AS STRING)')}, 10000)"
    )
    # LEFT join + keep-all default: a language with no configured rate
    # is exactly the unconfigured tail the policy says to keep whole —
    # an inner join would silently DROP the lowest-resource strata
    return (
        fan_out_small(df)
        .withColumn("sample_bucket", bucket)
        .join(F.broadcast(rates), "lang", "left")
        .filter(
            F.col("sample_bucket")
            < F.coalesce(F.col("rate_bp"), F.lit(10000))
        )
        .select("doc_id", "lang", "source", "sample_bucket")
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition filters: per-document duplicate-n-gram
    fractions and the most-frequent-bigram share — the standard screens
    for degenerate/boilerplate text in a training corpus (Rae et al.,
    "Scaling Language Models" App. A: docs dominated by repeated n-grams
    are low-value and skew loss).

    Scale shape: one explode carrying BOTH gram orders (each token row is
    tagged with its n, so bigrams and trigrams share a single shuffle
    instead of two explode+agg subtrees), a (doc, n, gram) count, then a
    doc-level conditional aggregation — token-volume data crosses the
    wire exactly once."""
    # explode (position, gram order) pairs and build the gram string in
    # codegen (gram_starts' reasoning; it serves one gram order, this
    # explode carries two). Same single shuffle for both orders.
    g = (
        _tokens(df, text_col, "doc_id")
        # need at least one trigram so every output column is non-null
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            "tk",
            F.explode(F.expr("sequence(1, size(tk) - 1)")).alias("i"),
        )
        .select(
            "doc_id",
            "tk",
            "i",
            F.explode(F.array(F.lit(2), F.lit(3))).alias("n"),
        )
        .filter(F.expr("i <= size(tk) - n + 1"))
        .select(
            "doc_id",
            "n",
            F.expr("concat_ws(' ', slice(tk, i, n))").alias("gram"),
        )
    )
    counts = g.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top"),
        F.count(F.lit(1)).alias("nd"),
    )

    def pick(n: int, col: str):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    dup = lambda n: trunc6(  # noqa: E731 — (total - distinct) / total
        (pick(n, "total") - pick(n, "nd")).cast("double")
        / pick(n, "total").cast("double")
    )
    return stats.groupBy("doc_id").agg(
        pick(2, "total").cast("bigint").alias("n_bigrams"),
        trunc6(
            pick(2, "top").cast("double") / pick(2, "total").cast("double")
        ).alias("top_bigram_frac"),
        dup(2).alias("dup_bigram_frac"),
        dup(3).alias("dup_trigram_frac"),
    )


# PII patterns restricted to syntax with identical semantics in Java
# regex (Spark) and RE2 (DuckDB): character classes, bounded repetition,
# \b word boundaries — no lookaround, no backreferences.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "phone": (r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
    "ipv4": (
        r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
        "<IP>",
    ),
}


def pii_scan(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII screen: match counts per category plus the
    redacted text (each match replaced by its category token) — the
    compliance pass every training corpus runs before release.

    Entirely scan-side regexp expressions (codegen, no shuffle at any
    scale). Redaction order is fixed (email → phone → ipv4), and each
    category is COUNTED on the text as redacted by the previous
    categories — so n_* always reconciles with the redaction tokens in
    the output (a phone number inside an email address is redacted as
    part of the <EMAIL> token, and is not double-counted as a phone)."""
    df = fan_out_small(df)
    out_cols = [F.col("doc_id")]
    cur = F.col(text_col)
    for name, (pat, token) in PII_PATTERNS.items():
        out_cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0))
            .cast("bigint")
            .alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    out_cols.append(cur.alias("redacted"))
    return df.select(*out_cols)


def pmi_pairs(
    df: DataFrame, text_col: str = "text", min_pair: int = 5, top_n: int = 30
) -> DataFrame:
    """Top co-occurring word pairs by pointwise mutual information:
    PMI(a,b) = ln( p(a,b) / (p(a)·p(b)) ) over adjacent-token pairs —
    the classic collocation/phrase-mining signal (and the building block
    for phrase-aware tokenization of a training corpus).

    Scale shape: ONE explode of adjacent pairs (order-normalized
    scan-side so (a,b) and (b,a) merge without a second pass), one
    count shuffle; unigram counts ride the SAME exploded stream via two
    window sums over the aggregated pair table (vocabulary-sized), not a
    second token-volume shuffle. Corpus total joins in as a broadcast
    single-row aggregate."""
    pairs = gram_starts(_tokens(df, text_col), 2).select(
        F.expr("least(element_at(tk, i), element_at(tk, i + 1))").alias("w_a"),
        F.expr("greatest(element_at(tk, i), element_at(tk, i + 1))").alias(
            "w_b"
        ),
    )
    # the pair-count table feeds FOUR plan branches (both marginal sides,
    # the corpus total, and the scored join); the total goes through a
    # BroadcastExchange, which exchange reuse does not cross — checkpoint
    # once (vocabulary-sized) instead of recomputing the explode+count
    # per branch (same reasoning as dedup.hashed_shingle_corpus)
    pc = (
        pairs.groupBy("w_a", "w_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .localCheckpoint()
    )
    # marginal counts: every occurrence of a token in the pair stream is
    # counted once per side it appears on — computed from the aggregated
    # pair table (vocabulary-sized), so the token-volume rows shuffle
    # exactly once (in pc)
    side_a = pc.select(
        F.col("w_a").alias("w"), F.col("n_pair").alias("n")
    )
    side_b = pc.select(
        F.col("w_b").alias("w"), F.col("n_pair").alias("n")
    )
    marg = (
        side_a.unionAll(side_b)
        .groupBy("w")
        .agg(F.sum("n").alias("n_w"))
    )
    total = pc.agg(F.sum("n_pair").alias("n_total"))
    scored = (
        pc.join(marg.withColumnRenamed("w", "w_a"), "w_a")
        .withColumnRenamed("n_w", "n_a")
        .join(marg.withColumnRenamed("w", "w_b"), "w_b")
        .withColumnRenamed("n_w", "n_b")
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_pair") >= min_pair)
        .withColumn(
            "pmi",
            trunc6(
                F.log(
                    (
                        F.col("n_pair").cast("double")
                        * F.col("n_total").cast("double")
                    )
                    / (
                        F.col("n_a").cast("double")
                        * F.col("n_b").cast("double")
                    )
                )
            ),
        )
    )
    return (
        scored.select("w_a", "w_b", "n_pair", "n_a", "n_b", "pmi")
        .orderBy(F.col("pmi").desc(), F.col("w_a").asc(), F.col("w_b").asc())
        .limit(top_n)
    )


def doc_chunks(
    df: DataFrame,
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Context-window chunking: split each document into ``window``-token
    chunks every ``stride`` tokens (overlap = window - stride) — the
    standard prep step for fixed-context training/embedding.

    Entirely scan-side: chunk starts come from sequence(1, n, stride)
    and each chunk is a slice of the token array, so the op is a narrow
    map + explode with no shuffle at any scale; chunk_idx derives from
    the start offset, not an order-dependent counter."""
    toks = TOKENS_TPL.format(x=text_col)
    # slice a bound column — per-chunk re-tokenization inside the
    # lambda is quadratic in tokens (see kneser_ney_lm)
    chunks = F.expr(
        f"transform(sequence(1, size(tk), {stride}), "
        f"s -> struct(s AS start_tok, slice(tk, s, {window}) AS ctoks))"
    )
    return (
        fan_out_small(df)
        .select("doc_id", F.expr(toks).alias("tk"))
        .filter(F.size("tk") >= 1)
        .select("doc_id", F.explode(chunks).alias("ch"))
        .select(
            "doc_id",
            ((F.col("ch.start_tok") - 1) / stride)
            .cast("bigint")
            .alias("chunk_idx"),
            F.col("ch.start_tok").cast("bigint").alias("start_tok"),
            F.size("ch.ctoks").cast("bigint").alias("n_chunk_tokens"),
            F.array_join("ch.ctoks", " ").alias("chunk_text"),
        )
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Rolling character k-gram fingerprint: hash every k-gram window
    (the full winnowing candidate set), keep the minimum — a MinHash-1
    content fingerprint robust to word reordering at the edges. All
    scan-side; at 100 TB this is a narrow map over the corpus."""
    df = fan_out_small(df)
    # Round-13 NEGATIVE result, kept as the array form: exploding char
    # positions + codegen md5 + map-side MIN aggregate measured x0.53
    # (0.35 -> 0.66 s solo A/B) — the per-ROW generate/agg machinery on
    # a char-scale stream costs more than the interpreted lambda saves
    # on this zero-shuffle single-scan query. The explode-then-codegen
    # lesson pays only when a shuffle/aggregate already exists
    # downstream (span family) — not worth introducing one.
    grams = (
        f"transform(sequence(1, length({text_col}) - {k - 1}), "
        f"i -> substring({text_col}, i, {k}))"
    )
    min_hash = F.expr(
        f"array_min(transform({grams}, g -> {HASH60_TPL.format(x='g')}))"
    )
    return df.filter(F.length(text_col) >= k).select(
        "doc_id",
        min_hash.alias("fingerprint"),
        (F.length(text_col) - (k - 1)).cast("bigint").alias("n_grams"),
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_search(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    k: int = 20,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """BM25 keyword retrieval for a fixed query-term bag.

    Scale shape: with a published index (``postings`` + ``stats``, round
    13) the corpus is never scanned at all — candidate term frequencies
    come from the postings rows of the query terms (an IN filter PUSHED
    into the artifact's parquet scan), document frequencies are one
    tiny aggregate over the same rows, collection stats ship with the
    index. Without the artifacts (self-contained mode) per-doc term
    frequencies are computed SCAN-SIDE (size(filter(tokens, t = term))
    per term) — the token stream is never exploded or shuffled. Either
    way the only wide operations are a single-row stats broadcast and
    the rank-window top-k.

    Score equivalence of the two modes is exact, not approximate: a doc
    absent from a term's postings has tf = 0, whose BM25 part is exactly
    0.0, and adding IEEE +0.0 terms in the same fixed term order leaves
    the double sum bit-identical; docs matching NO query term score 0
    and are dropped by the same score > 0 filter that drops them in the
    scan-side mode.

    Determinism: idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the
    Robertson-Sparck-Jones form, non-negative by construction); the
    per-term score sum is written in fixed term order and truncated to 6
    decimals before ranking so ordering replays identically in the DuckDB
    oracle; ties break on doc_id.
    """
    if not query_terms:  # degenerate query: empty result, not a crash
        return df.sparkSession.createDataFrame(
            [], "doc_id long, dl bigint, score double, rank long"
        )
    if postings is not None:
        tp = postings.filter(F.col("term").isin(list(query_terms)))
        base = tp.groupBy("doc_id", "dl").agg(
            *[
                F.sum(
                    F.when(F.col("term") == t, F.col("tf")).otherwise(
                        F.lit(0)
                    )
                )
                .cast("bigint")
                .alias(f"tf_{i}")
                for i, t in enumerate(query_terms)
            ]
        )
        dfreqs = tp.agg(
            *[
                F.sum((F.col("term") == t).cast("bigint")).alias(
                    f"df_{i}"
                )
                for i, t in enumerate(query_terms)
            ]
        )
        if stats is None:
            # same derivation bm25_freetext uses: dl is denormalized in
            # the postings; empty docs contribute dl=0 to the sum anyway
            sum_dl = (
                postings.select("doc_id", "dl")
                .distinct()
                .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
            )
            stats = (
                df.agg(F.count(F.lit(1)).alias("n_docs"))
                .crossJoin(F.broadcast(sum_dl))
            )
        stats = stats.crossJoin(F.broadcast(dfreqs))
        scored = base.join(F.broadcast(stats), how="cross")
    else:
        toks = TOKENS_TPL.format(x=text_col)
        safe = [t.replace("'", "''") for t in query_terms]
        base = fan_out_small(df).select(
            "doc_id",
            F.expr(f"size({toks})").cast("bigint").alias("dl"),
            *[
                F.expr(f"size(filter({toks}, t -> t = '{t}'))")
                .cast("bigint")
                .alias(f"tf_{i}")
                for i, t in enumerate(safe)
            ],
        )
        stats = base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
            *[
                F.sum((F.col(f"tf_{i}") > 0).cast("bigint")).alias(
                    f"df_{i}"
                )
                for i in range(len(safe))
            ],
        )
        scored = base.join(F.broadcast(stats), how="cross")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    parts = []
    for i in range(len(query_terms)):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs").cast("double") - dfreq + F.lit(0.5))
            / (dfreq + F.lit(0.5))
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
        )
        parts.append(idf * (tf * F.lit(BM25_K1 + 1.0)) / denom)
    total = parts[0]
    for p in parts[1:]:
        total = total + p
    scored = scored.select(
        "doc_id", "dl", trunc6(total).alias("score")
    ).filter(F.col("score") > 0)
    # One rank window: the empty-partition row_number + filter <= k
    # compiles to TakeOrderedAndProject (zero exchanges) — the
    # handwritten spark_partition_id() local prune paid a hash exchange
    # + two sorts for the same bound (round 13).
    global_w = Window.partitionBy().orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "dl", "score", F.col("rank").cast("bigint").alias("rank"))
    )


def build_inverted_index(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Posting-list inverted index: (term, doc_id, tf, dl) — ONE token
    explode + groupBy shuffle over the corpus. At 100 TB this is the
    build-once artifact a retrieval stack materializes to parquet
    (bucketed by term) and reuses for every query batch; the document
    length is denormalized into the postings (the classic stored-norm
    trick) so query-time scoring never joins back to the corpus."""
    toks = TOKENS_TPL.format(x=text_col)
    base = (
        fan_out_small(df)
        .select("doc_id", F.expr(toks).alias("__toks"))
        .select(
            "doc_id",
            F.size("__toks").cast("bigint").alias("dl"),
            F.explode("__toks").alias("term"),
        )
    )
    return base.groupBy("term", "doc_id", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def bm25_freetext(
    df: DataFrame,
    query_df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Free-text BM25 over the inverted index: query terms arrive as
    DATA — a small (query_id, term) table — not compile-time constants,
    so this serves arbitrary ad-hoc queries (the gap bm25_search's fixed
    term bag leaves open).

    Scale shape: the only corpus-wide work is the index build (one token
    shuffle, amortized across every query in the batch and, in
    production, across batches via a materialized index). Everything
    query-side is broadcast: the term table, the per-term document
    frequencies (|query vocabulary| rows), and the single-row corpus
    stats. Candidate rows = postings of query terms only; per-query
    top-k uses the two-level prune so no reducer sees a full candidate
    list.

    Determinism: per-(query,doc) scores are summed as fixed-point BIGINT
    units (floor(part * 1e9)) — integer sums are partition-order
    independent, so the result is bit-identical on any partitioning and
    exactly replayable by the DuckDB oracle. Same RSJ idf / k1 / b as
    bm25_search; ties break on doc_id.

    ``postings``: a pre-built inverted index (term, doc_id, tf, dl) —
    the published search-index artifact a production deployment reads;
    None rebuilds it from the corpus (self-contained mode).

    ``stats``: a pre-computed 1-row (n_docs, sum_dl) corpus-stats table
    (a search index ships with its collection statistics); None derives
    it per call — a doc-scale distinct over the postings plus a corpus
    row count, paid by EVERY query batch against the same corpus."""
    post = (
        postings
        if postings is not None
        else build_inverted_index(df, text_col)
    )
    if stats is None:
        # Corpus stats WITHOUT a second tokenization scan: per-doc
        # lengths are already denormalized into the postings (doc-scale
        # distinct), empty docs contribute dl=0 to the sum anyway, and
        # n_docs is a column-free row count of the documents table.
        sum_dl = (
            post.select("doc_id", "dl")
            .distinct()
            .agg(F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"))
        )
        stats = (
            df.agg(F.count(F.lit(1)).alias("n_docs"))
            .crossJoin(F.broadcast(sum_dl))
        )
    qt = query_df.select("query_id", "term")
    terms = qt.select("term").distinct()
    # cut: dfreq's broadcast and the scored join both read tpost
    # (bm25_freetext measured 1.10-1.14x slower at sf0.1 without it)
    tpost = post.join(F.broadcast(terms), "term").localCheckpoint()
    dfreq = tpost.groupBy("term").agg(F.count(F.lit(1)).alias("dfr"))
    scored = (
        tpost.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats), how="cross")
    )
    n = F.col("n_docs").cast("double")
    dfr = F.col("dfr").cast("double")
    tf = F.col("tf").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n
    idf = F.log(F.lit(1.0) + (n - dfr + F.lit(0.5)) / (dfr + F.lit(0.5)))
    denom = tf + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B)
        + F.lit(BM25_B) * F.col("dl").cast("double") / avgdl
    )
    part_units = F.floor(
        idf * (tf * F.lit(BM25_K1 + 1.0)) / denom * F.lit(1.0e9)
    )
    grouped = (
        scored.select(
            "query_id", "doc_id", "dl", part_units.alias("pu")
        )
        .groupBy("query_id", "doc_id")
        .agg(F.max("dl").alias("dl"), F.sum("pu").alias("units"))
        .select(
            "query_id",
            "doc_id",
            "dl",
            (F.expr("units div 1000") / F.lit(1.0e6)).alias("score"),
        )
    )
    # One rank window per query: WindowGroupLimit prunes partial heads
    # below the exchange — the spark_partition_id() local pass paid an
    # extra exchange + sorts for the same bound (round 13).
    global_w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        grouped.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "dl",
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


ZIPF_TOP_K = 1000


def zipf_slope(
    df: DataFrame, text_col: str = "text", k: int = ZIPF_TOP_K
) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ln(frequency) against ln(rank) for the top-k terms (a healthy natural
    corpus slopes ≈ -1; synthetic/templated corpora flatten — a standard
    corpus-quality diagnostic).

    Scale shape: one token-count shuffle (the same single wide op as
    tfidf), then ranking and regression run on the vocabulary-sized count
    table. Top-k uses the two-level pattern (per-partition heads, then
    global) so no reducer sorts the full vocabulary.

    Float determinism: every regression term is truncated to 6 decimals
    and summed as DECIMAL — integer-exact, partition-order independent —
    then a single double division at the end, replayed identically by the
    oracle."""
    toks = fan_out_small(df).select(
        F.explode(F.split(F.col(text_col), r"\s+")).alias("term")
    ).filter(F.col("term") != "")
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # One rank window: compiles to TakeOrderedAndProject (k = 1000 is
    # exactly WindowGroupLimit's default threshold — still eligible,
    # probed on Spark 4.1.2); the spark_partition_id() local prune paid
    # an extra exchange + sorts (round 13).
    global_w = Window.partitionBy().orderBy(
        F.col("cnt").desc(), F.col("term").asc()
    )
    ranked = (
        counts.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
    )
    x = trunc6(F.log(F.col("rank").cast("double")))
    y = trunc6(F.log(F.col("cnt").cast("double")))
    terms = ranked.select(
        x.cast("decimal(28,6)").alias("x"),
        y.cast("decimal(28,6)").alias("y"),
        trunc6(x * y).cast("decimal(28,6)").alias("xy"),
        trunc6(x * x).cast("decimal(28,6)").alias("xx"),
    )
    sums = terms.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum("xy").alias("sxy"),
        F.sum("xx").alias("sxx"),
    )
    # sums are DECIMAL (exact, order-independent); convert each to double
    # once, then fixed-order double arithmetic — identical IEEE results in
    # both engines without tripping engine-specific decimal-width rules.
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    num = n_d * F.col("sxy").cast("double") - sx_d * sy_d
    den = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    slope = trunc6(num / den)
    return sums.select(
        F.col("n").cast("bigint").alias("n_terms"),
        slope.alias("zipf_slope"),
        trunc6((sy_d - slope * sx_d) / n_d).alias("intercept"),
    )


def dup_span_fraction(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Exact duplicated-span exposure (the deduplicate-training-data
    signal): per document, the fraction of its token k-grams that occur
    in at least one OTHER document — the exact-substring counterpart of
    the probabilistic winnowing fingerprints (any shared span of >= k
    tokens contributes; a doc with a high fraction is mostly boilerplate
    that exact-substring dedup would cut).

    Shape mirrors doc_cross_entropy: one token-scale shuffle reduces the
    exploded k-gram stream to per-(doc, gram) occurrence counts
    (map-side combine), then a repartition on the gram key makes the
    document-frequency computation a sort-only window pass — no
    vocabulary join, no materialized token-scale intermediate. The
    doc-frequency of a gram is the window COUNT of per-doc rows.

    Determinism: counts are exact integers; the fraction is truncated to
    6 decimals on both engines."""
    # gram identity is the STRING (the oracle groups on it)
    occ = (
        gram_starts(_tokens(df, text_col, "doc_id"), k, "doc_id")
        .select(
            "doc_id",
            F.expr(f"array_join(slice(tk, i, {k}), ' ')").alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartition("gram")
    )
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    scored = occ.select(
        "doc_id",
        "cnt",
        F.when(ndocs >= 2, F.col("cnt")).otherwise(F.lit(0)).alias("dup"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum("dup").alias("dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "dup_grams",
            trunc6(
                F.col("dup_grams").cast("double")
                / F.col("n_grams").cast("double")
            ).alias("dup_fraction"),
        )
    )


def bpe_pair_stats(
    df: DataFrame, text_col: str = "text", top_k: int = 50
) -> DataFrame:
    """First BPE merge iteration over the corpus: the ``top_k`` most
    frequent ADJACENT character pairs, weighted by word frequency — the
    statistic a byte-pair-encoding tokenizer trainer computes to pick
    each merge (run iteratively with the merged symbol re-injected; one
    iteration is the per-round primitive and exercises the full shape).

    Scale: the token explode reduces to the distinct-word vocabulary
    with map-side combine (the ONLY token-scale shuffle); char pairs
    are generated scan-side over the vocabulary (corpus-independent
    size), and the weighted pair aggregate is alphabet²-bounded.
    Ranking is (count desc, pair asc) — a total order, so top-k is
    deterministic and compiles to TakeOrderedAndProject."""
    words = _word_counts(df, text_col).filter(F.length("w") >= 2)
    pair_expr = F.expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"
    )
    return (
        words.select(F.explode(pair_expr).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 5
) -> DataFrame:
    """Iterated BPE tokenizer training: run ``n_merges`` merge rounds —
    each round counts word-frequency-weighted adjacent symbol pairs,
    picks the argmax pair (count desc, symbols asc — a total order),
    and rewrites the vocabulary with the merged symbol (greedy
    left-to-right, the standard BPE merge semantics) — and return the
    merge table (round, pair, weighted count): the actual artifact a
    tokenizer trainer produces. See :func:`_merge_loop` for scale.

    Determinism: counts are exact integers; (n desc, s1 asc, s2 asc)
    totally orders candidate pairs, so every round's merge is exactly
    replayable — the oracle unrolls the same rounds in SQL."""
    merges, _vocab = _merge_loop(df, text_col, n_merges, BPE)
    return merges


# Byte-level base alphabet (GPT-2 / Radford et al. 2019; tiktoken's
# cl100k family): every word decomposes into its UTF-8 BYTES, written
# as two-char uppercase hex symbols so the merge loop — which operates
# on strings — needs no byte-array machinery and both engines render
# identical symbols (Spark hex() and DuckDB hex() agree on uppercase).
# The 256-symbol base alphabet means NO escape hatch is ever needed:
# no [UNK], no word-length cap, total on any unicode input — the
# property that made byte-level the production choice.
BYTEBPE_SYMS_TPL = (
    "transform(sequence(1, octet_length({w})), "
    "i -> substring(hex(encode({w}, 'utf-8')), 2*i - 1, 2))"
)


# The greedy left-to-right merge of one pair ({s1}, {s2}) over the
# symbol array {syms}: a left fold that glues s onto the last
# accumulated symbol when the two form the pair, writing the merged
# symbol as concat({s1}, {right}). Used by _merge_loop's rounds and by
# bytebpe_apply_merges' replay of a frozen merge table.
MERGE_FOLD_TPL = (
    "CASE WHEN size({syms}) <= 1 THEN {syms} ELSE "
    "aggregate({syms}, CAST(array() AS array<string>), (acc, s) -> "
    "IF(size(acc) > 0 AND element_at(acc, -1) = {s1} AND s = {s2}, "
    "concat(slice(acc, 1, size(acc) - 1), "
    "array(concat({s1}, {right}))), "
    "concat(acc, array(s)))) END"
)


class MergeFamily(NamedTuple):
    """What a merge-trained tokenizer family varies in :func:`_merge_loop`.

    ``seed``: SQL over the word ``w`` giving its initial symbol array.
    ``scored``: rank pairs by WordPiece's likelihood gain
    n_ab / (n_a * n_b) (and report it as ``score``) instead of the raw
    word-weighted pair count. ``strip_cont``: the merged symbol drops
    the '##' continuation mark of the absorbed right symbol."""

    seed: str
    scored: bool
    strip_cont: bool


# classic BPE: one symbol per character
BPE = MergeFamily("split(w, '')", scored=False, strip_cont=False)
# byte-level BPE: one two-char hex symbol per UTF-8 byte
BYTEBPE = MergeFamily(
    BYTEBPE_SYMS_TPL.format(w="w"), scored=False, strip_cont=False
)
# WordPiece: first char bare, every continuation char '##'-prefixed —
# the convention that lets one vocabulary tell word-initial from
# word-internal pieces
WORDPIECE = MergeFamily(
    "transform(sequence(1, length(w)), i -> IF(i = 1, substring(w, i, 1), "
    "'##' || substring(w, i, 1)))",
    scored=True,
    strip_cont=True,
)


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct-word counts (w, wc) — the single token-scale shuffle
    every tokenizer trainer and apply map amortizes."""
    toks_expr = TOKENS_TPL.format(x=text_col)
    return (
        fan_out_small(df)
        .select(F.explode(F.expr(toks_expr)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _merge_loop(
    df: DataFrame, text_col: str, n_merges: int, family: MergeFamily
) -> tuple[DataFrame, DataFrame]:
    """The one merge-training driver for the BPE, byte-level BPE and
    WordPiece families: returns (merge table, fully-merged vocabulary
    (w, wc, syms)). Per round it counts word-frequency-weighted
    adjacent symbol pairs, picks the argmax pair — by count, or by
    ``family.scored``'s likelihood gain — with ties broken (s1 asc,
    s2 asc), a total order, appends the merge row, then rewrites every
    word with the greedy left-to-right fold. The merge table is
    (round, pair, n_occurrences), plus the trunc6 ``score`` for scored
    families. A round with no pair left (every word is one symbol)
    adds no merge row and leaves the vocabulary unchanged.

    Scale: ONE token-scale shuffle total (the initial word count);
    every round then operates on the DISTINCT-WORD vocabulary —
    corpus-size-independent. The per-round argmax is a 1-row broadcast
    joined into a scan-side fold (``aggregate``) that rewrites symbol
    arrays in codegen; localCheckpoint per round is the same
    iterative-lineage hygiene as kmeans/pagerank. Driver never sees
    data — the loop is a fixed unroll, not convergence-dependent."""
    # cut: round 1's pair count and its fold both read the seed, and
    # the word count under it is the one token-scale shuffle
    vocab = (
        _word_counts(df, text_col)
        .select("w", "wc", F.expr(family.seed).alias("syms"))
        .localCheckpoint()
    )
    pair_expr = F.expr(
        "transform(sequence(1, size(syms) - 1), "
        "i -> struct(element_at(syms, i) AS s1, "
        "element_at(syms, i + 1) AS s2))"
    )
    right = (
        "IF(substring(bp2, 1, 2) = '##', substring(bp2, 3), bp2)"
        if family.strip_cont
        else "bp2"
    )
    merge_fold = F.expr(
        MERGE_FOLD_TPL.format(syms="syms", s1="bp1", s2="bp2", right=right)
    )
    merges = None
    for rnd in range(1, n_merges + 1):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select("wc", F.explode(pair_expr).alias("p"))
            .groupBy(F.col("p.s1").alias("bp1"), F.col("p.s2").alias("bp2"))
            .agg(F.sum("wc").alias("n_occurrences"))
        )
        rank = "n_occurrences"
        if family.scored:
            sym_counts = (
                vocab.select("wc", F.explode("syms").alias("s"))
                .groupBy("s")
                .agg(F.sum("wc").alias("cnt"))
            )
            def counts(i: int) -> DataFrame:
                return F.broadcast(
                    sym_counts.select(
                        F.col("s").alias(f"bp{i}"), F.col("cnt").alias(f"c{i}")
                    )
                )

            pairs = (
                pairs.join(counts(1), "bp1")
                .join(counts(2), "bp2")
                .select(
                    "bp1",
                    "bp2",
                    "n_occurrences",
                    (
                        F.col("n_occurrences").cast("double")
                        / (
                            F.col("c1").cast("double")
                            * F.col("c2").cast("double")
                        )
                    ).alias("score"),
                )
            )
            rank = "score"
        best = (
            pairs.orderBy(
                F.col(rank).desc(), F.col("bp1").asc(), F.col("bp2").asc()
            )
            .limit(1)
            .localCheckpoint()
        )
        row = best.select(
            F.lit(rnd).alias("round"),
            F.concat(F.col("bp1"), F.lit("+"), F.col("bp2")).alias("pair"),
            "n_occurrences",
            *(
                [trunc6(F.col("score")).alias("score")]
                if family.scored
                else []
            ),
        )
        merges = row if merges is None else merges.union(row)
        # left join: an exhausted round's empty ``best`` gives null
        # bp1/bp2, which the fold never matches — syms stay as they are
        vocab = (
            vocab.join(F.broadcast(best.select("bp1", "bp2")), how="left")
            .select("w", "wc", merge_fold.alias("syms"))
            .localCheckpoint()
        )
    return merges, vocab


def bpe_encode_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 5,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Tokenize the corpus under the LEARNED BPE vocabulary — the apply
    side that completes the tokenizer story (bpe_pair_stats is one
    training round, bpe_train is the merge table, this is what a data
    pipeline actually runs on every document): per doc, the word count,
    the token count after all ``n_merges`` merges, the character
    count, and the chars-per-token compression ratio the merges bought.

    Scale: the expensive part — training AND the merge folds — runs on
    the DISTINCT-WORD vocabulary (corpus-size-independent, same
    argument as bpe_train); documents then join word → token-length
    through one (doc, word)-keyed aggregation, the tf-idf shuffle
    shape. Documents with no words survive the left join with zero
    counts (the phantom-empty-token discipline).

    Determinism: token counts are exact integers; the ratio is
    floor-truncated to 6 decimals so both engines compare equal.

    Pass a pre-trained ``vocab`` (w, wc, syms — e.g. the shared
    ``bpe_artifacts`` table) to skip the in-query training loop; the
    production shape, where the tokenizer is a frozen published
    artifact and this function is pure apply."""
    if vocab is None:
        _merges, vocab = _merge_loop(df, text_col, n_merges, BPE)
    enc = vocab.select(
        "w",
        F.size("syms").alias("wtok"),
        F.length("w").alias("wlen"),
    )
    return _encode_counts(df, enc, id_col, text_col, n_chars="wlen")


def bytebpe_encode_counts(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize under a learned BYTE-level BPE vocabulary (GPT-2 /
    Radford et al. 2019; trained via _merge_loop with BYTEBPE):
    per doc the word count, token count, UTF-8 BYTE count, and
    bytes-per-token compression — the byte-level family's signature
    metric (its merges buy compression against the raw byte stream, the
    quantity sequence-length budgets are actually written in). Same
    distinct-word-vocabulary apply shape as bpe_encode_counts; total on
    ANY input by construction (256-symbol base alphabet, no [UNK], no
    word-length cap — the reason production tokenizers are byte-level)."""
    enc = vocab.select(
        "w",
        F.size("syms").alias("wtok"),
        F.expr("octet_length(w)").alias("wlen"),
    )
    return _encode_counts(df, enc, id_col, text_col, n_bytes="wlen")


def bytebpe_apply_merges(
    df: DataFrame,
    merges: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a FROZEN byte-level merge table to ANY text — including
    corpora with words never seen at training time: each word
    decomposes into its UTF-8-byte hex symbols (always known — the
    256-symbol base alphabet) and the merges replay in round order as
    a scan-side fold. This is the piece-level apply that makes the
    byte family total — bpe/bytebpe_encode_counts' word→length join is
    a memoization valid only on the training corpus, and an unseen
    word would silently drop out of it.

    Returns (id, n_words, n_tokens). The merge table is a BOUNDED
    artifact (n_merges rows) — collecting it into an expression
    literal is O(n_merges) driver work, the same bounded-scalar
    discipline as the threshold-curve queries; the apply itself is
    zero-shuffle whole-stage codegen."""
    rows = sorted(
        ((r["round"], *r["pair"].split("+")) for r in merges.collect())
    )
    seed = BYTEBPE_SYMS_TPL.format(w="wd")  # wd: the outer lambda's word
    if rows:
        lits = ", ".join(
            f"named_struct('s1', '{s1}', 's2', '{s2}')"
            for _rnd, s1, s2 in rows
        )
        fold = MERGE_FOLD_TPL.format(
            syms="sy", s1="m.s1", s2="m.s2", right="m.s2"
        )
        per_word = f"aggregate(array({lits}), {seed}, (sy, m) -> {fold})"
    else:
        per_word = seed
    toks = TOKENS_TPL.format(x=text_col)
    return df.select(
        F.col(id_col),
        F.expr(f"size({toks})").cast("bigint").alias("n_words"),
        F.expr(
            f"aggregate(transform({toks}, wd -> size({per_word})), "
            "0L, (a, v) -> a + v)"
        ).alias("n_tokens"),
    )


def vocab_sums(
    df: DataFrame,
    enc: DataFrame,
    key: str,
    text_col: str = "text",
    **sums: str,
) -> DataFrame:
    """The shared apply aggregation of every tokenizer family: count
    words per ``key`` (a doc id, a language), join them through the
    word map ``enc`` (w → wtok and per-word columns), and sum exact
    integers per key — n_words, n_tokens, and ``name = sum(n * col)``
    for each keyword in ``sums`` (e.g. ``n_chars="wlen"``). Words
    missing from ``enc`` drop out of the inner join; keys with no
    words produce no row."""
    toks_expr = TOKENS_TPL.format(x=text_col)
    wc = (
        df.select(F.col(key), F.explode(F.expr(toks_expr)).alias("w"))
        .groupBy(key, "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        wc.join(enc, "w")
        .groupBy(key)
        .agg(
            F.sum("n").alias("n_words"),
            F.sum(F.col("n") * F.col("wtok")).alias("n_tokens"),
            *(
                F.sum(F.col("n") * F.col(col)).alias(name)
                for name, col in sums.items()
            ),
        )
    )


def lang_fertility(df: DataFrame, enc: DataFrame, **sums: str) -> DataFrame:
    """Per-language tokenizer fertility: :func:`vocab_sums` keyed by
    ``lang`` (lang, n_words, n_tokens, then one column per keyword in
    ``sums``) plus tokens per word, floor-truncated to 6 decimals."""
    return vocab_sums(df, enc, "lang", **sums).select(
        "lang",
        "n_words",
        "n_tokens",
        *sums,
        (
            F.floor(
                F.col("n_tokens") * F.lit(1_000_000.0) / F.col("n_words")
            )
            / F.lit(1_000_000.0)
        ).alias("fertility"),
    )


def _encode_counts(
    df: DataFrame, enc: DataFrame, id_col: str, text_col: str, **sums: str
) -> DataFrame:
    """Per-doc encode counts: :func:`vocab_sums` keyed by ``id_col``,
    left-joined back to every document so docs with no words keep zero
    counts (the phantom-empty-token discipline), plus the
    floor-truncated compression — the FIRST of ``sums`` (the unit
    mass: chars or bytes) per token."""
    per_doc = vocab_sums(df, enc, id_col, text_col, **sums)
    unit = next(iter(sums))
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            *(
                F.coalesce(c, F.lit(0)).alias(c)
                for c in ("n_words", "n_tokens", *sums)
            ),
            F.when(
                F.coalesce("n_tokens", F.lit(0)) > 0,
                F.floor(
                    F.col(unit)
                    * F.lit(1_000_000).cast("double")
                    / F.col("n_tokens")
                )
                / F.lit(1_000_000.0),
            ).alias("compression"),
        )
    )


def doc_chunks_udtf(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Python UDTF twin of :func:`doc_chunks` — completes the UDF
    surface matrix (SURVEY.md §2.7: pandas_udf / applyInPandas /
    applyInPandasWithState / transformWithState / UDTF). Identical
    output and oracle as the scan-side doc_chunks; a lateral join over
    a table-function that yields one row per 64-token window at stride
    48.

    This is the SLOW path by design (row-at-a-time Python generator) —
    the point is the API surface and the exact-equivalence test against
    the codegen pipeline, not throughput. Use doc_chunks in production;
    reach for a UDTF only when per-row fan-out logic genuinely cannot
    be expressed as Catalyst array expressions."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(
        returnType=(
            "doc_id bigint, chunk_idx bigint, start_tok bigint, "
            "n_chunk_tokens bigint, chunk_text string"
        )
    )
    class _ChunkDocs:
        def eval(self, doc_id, text):  # noqa: ANN001
            toks = [t for t in _re.split(r"\s+", text or "") if t]
            if not toks:
                return
            window, stride = 64, 48
            idx = 0
            for start in range(0, len(toks), stride):
                chunk = toks[start : start + window]
                yield (
                    doc_id,
                    idx,
                    start + 1,
                    len(chunk),
                    " ".join(chunk),
                )
                idx += 1

    spark.udtf.register("__chunk_docs_udtf", _ChunkDocs)
    df.select("doc_id", "text").createOrReplaceTempView(
        "__doc_chunks_udtf_in"
    )
    return spark.sql(
        "SELECT c.* FROM __doc_chunks_udtf_in, "
        "LATERAL __chunk_docs_udtf(doc_id, text) c"
    )


def bm25_rerank_proximity(
    df: DataFrame,
    query_df: DataFrame,
    text_col: str = "text",
    k: int = 20,
    topn: int = 10,
    postings: DataFrame | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Two-stage retrieval: BM25 candidate generation (bm25_freetext)
    then a term-PROXIMITY re-rank — the classic cheap second-stage
    signal (documents where two DIFFERENT query terms appear close
    together beat bag-of-words ties). rerank_score = bm25 + 1/(1+minspan)
    where minspan is the minimal token distance between adjacent
    occurrences of two distinct query terms; docs matching <2 distinct
    terms keep their BM25 score.

    Scale: stage 2 touches ONLY candidate documents — the candidate id
    set (≤ k·|queries| rows) broadcasts into a semi join against the
    corpus scan, so position extraction is candidate-bounded, never
    corpus-bounded. All arithmetic is exact integers (BM25 6-decimal
    units recovered exactly + an integer bonus), so the re-ranking is
    deterministic and the oracle replays it."""
    # cut: the candidates feed two broadcast id sets and the re-rank
    # join; without it stage 1 runs once per consumer
    cand = bm25_freetext(
        df, query_df, text_col, k=k, postings=postings, stats=stats
    ).localCheckpoint()
    # (query_id, doc_id) is UNIQUE in cand by construction (row_number
    # rank per query), so no distinct pass (and its exchange) is needed
    # to use it as a join key set (round 13).
    cdocs = cand.select("query_id", "doc_id")
    toks_expr = TOKENS_TPL.format(x=text_col)
    # No fan_out_small here: the broadcast semi join keeps <= k·|queries|
    # docs, so repartitioning the FULL corpus (a round-robin exchange of
    # every text payload) to parallelize 60 rows of tokenize work was
    # backwards — the scan side of a broadcast join is not shuffled at
    # all (round 13; guide §3.1).
    docs = df.join(
        F.broadcast(cand.select("doc_id").distinct()), "doc_id"
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(F.expr(toks_expr)).alias("pos", "term"),
    )
    qmatch = pos.join(
        F.broadcast(query_df.select("query_id", "term")), "term"
    ).join(F.broadcast(cdocs), ["query_id", "doc_id"])
    w = Window.partitionBy("query_id", "doc_id").orderBy(F.col("pos").asc())
    gaps = (
        qmatch.withColumn("prev_term", F.lag("term").over(w))
        .withColumn("prev_pos", F.lag("pos").over(w))
        .filter(
            F.col("prev_term").isNotNull()
            & (F.col("prev_term") != F.col("term"))
        )
        .select(
            "query_id",
            "doc_id",
            (F.col("pos") - F.col("prev_pos")).alias("gap"),
        )
    )
    spans = gaps.groupBy("query_id", "doc_id").agg(
        F.min("gap").cast("bigint").alias("min_span")
    )
    bm25_units = F.round(F.col("score") * 1e6).cast("bigint")
    bonus = F.when(
        F.col("min_span").isNotNull(),
        F.floor(F.lit(1000000) / (F.lit(1) + F.col("min_span"))),
    ).otherwise(F.lit(0)).cast("bigint")
    total = (bm25_units + bonus).alias("total_units")
    # spans is k-bounded (<= k·|queries| rows) but sits behind a window
    # + aggregate, and cand is a checkpointed RDD with no size stats —
    # without the hint the planner sort-merge-joined two <= 60-row
    # tables through a full exchange + 3 sorts (round 13; guide §3.1).
    ranked = (
        cand.join(F.broadcast(spans), ["query_id", "doc_id"], "left")
        .select("query_id", "doc_id", "score", "min_span", total)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("total_units").desc(), F.col("doc_id").asc()
    )
    return (
        ranked.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= topn)
        .select(
            "query_id",
            "doc_id",
            F.col("score").alias("bm25_score"),
            "min_span",
            (F.col("total_units").cast("double") / 1e6).alias(
                "rerank_score"
            ),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def span_dedup_rewrite(
    df: DataFrame, text_col: str = "text", k: int = 8
) -> DataFrame:
    """Exact duplicated-span REMOVAL — the rewrite counterpart of
    :func:`dup_span_fraction`. Every token k-gram that occurs in more
    than one document is cut from every document EXCEPT the one with the
    smallest doc_id (the canonical copy keeps its text, so no content is
    lost from the corpus — the exact-substring-dedup policy for training
    corpora, where repeated boilerplate spans cause memorization). A
    token survives iff no duplicated k-gram of its own document covers
    its position; the cleaned text preserves original token order.

    Scale shape: grams are 60-bit hashes (never shuffled as strings);
    one token-scale shuffle reduces occurrences to per-(doc, gram)
    position lists, then a repartition on the gram key makes
    doc-frequency + canonical-owner a sort-only window pass — the
    dup_span_fraction plan. The cut and the rebuild are
    :func:`excise_spans`; this operator only picks the covered starts.
    """
    toks = _tokens(df, text_col, "doc_id")
    # cover every duplicated gram except in its min-doc_id owner
    starts = (
        _gram_doc_positions(toks, k)
        .filter((F.col("nd") >= 2) & (F.col("doc_id") != F.col("mind")))
        .select("doc_id", F.explode("pos").alias("i"))
    )
    return excise_spans(toks, starts, k)


def _gram_doc_positions(toks: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, nd, mind), one row per (document, k-gram) of the
    (doc_id, tk) frame ``toks``: pos lists the gram's starts in the
    document, nd counts the documents holding the gram and mind is the
    smallest of them. Grams travel as 60-bit hashes; one token-scale
    shuffle reduces occurrences to the position lists, then a
    repartition on the gram key makes nd and mind a sort-only window
    pass. The span rewrites filter this frame by their cover policy."""
    gram_hash = HASH60_TPL.format(x=f"array_join(slice(tk, i, {k}), ' ')")
    w = Window.partitionBy("gk")
    return (
        gram_starts(toks, k, "doc_id")
        .select("doc_id", "i", F.expr(gram_hash).alias("gk"))
        .groupBy("doc_id", "gk")
        .agg(F.collect_list("i").alias("pos"))
        .repartition("gk")
        .select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(w).alias("nd"),
            F.min("doc_id").over(w).alias("mind"),
        )
    )


# Hot-gram cap for maximal_dup_spans' seed pairing: a k-gram occurring
# m times seeds m(m-1)/2 occurrence pairs, so ubiquitous boilerplate
# grams are dropped before pairing (no near-dup signal, the
# LSH_MAX_BUCKET trade — operators/dedup.py:55). Far above any bench
# SF's gram frequency, so results there are exact.
SPAN_MAX_OCC = 1_000


def maximal_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    max_occ: int | None = SPAN_MAX_OCC,
) -> DataFrame:
    """MAXIMAL duplicated token spans — the seed-and-extend
    ExactSubstr method (Lee et al. 2022, arXiv:2107.06499) that
    generalizes :func:`span_dedup_rewrite`'s fixed k-gram coverage:
    instead of reporting k-token windows, each pair of matching k-gram
    occurrences extends token-by-token for as long as the two documents
    keep agreeing, yielding the maximal shared span (their suffix-array
    construction finds the same spans; the relational equivalent seeds
    on hashed k-grams and merges runs).

    Relational seed-and-extend: two occurrences of the same k-gram at
    (doc_a, i_a) and (doc_b, i_b) belong to the same pairwise alignment
    DIAGONAL (doc_a, doc_b, i_b - i_a); along a diagonal, consecutive
    seed positions i_a, i_a+1, ... witness that the aligned tokens keep
    matching, so a maximal RUN of consecutive seeds [s, e] is exactly a
    maximal shared span of e - s + k tokens (gaps-and-islands grouping:
    i_a - row_number() is constant within a run). Same-document repeats
    (doc_a = doc_b, i_a < i_b) are kept — ExactSubstr dedups
    within-document repetition too; a periodic string's self-overlap
    sits on one diagonal and merges into one maximal run.

    Output: one row per maximal pairwise match — (doc_a, a_start,
    doc_b, b_start, len_tokens), 1-based token positions, canonical
    order (doc_a, a_start) < (doc_b, b_start). Deterministic: the match
    set is fully determined by the corpus (min/max aggregates per
    diagonal run; no tie-breaks), so the DuckDB oracle replays it
    exactly. Gram identity is the 60-bit portable hash — a collision
    could fuse a spurious seed, the same accepted trade (and the same
    hash) as span_dedup_rewrite.

    Scale: one token-scale shuffle to (doc, position, gram-hash) rows;
    gram frequency rides a sort-only window on the gram key
    (dup_span_fraction's repartition idiom) and drops singleton grams
    (no pair) and hot grams above ``max_occ`` (the cap that bounds the
    worst boilerplate gram to cap² pairs); the self-join pairs
    occurrences on the SAME gram partitioning; the islands pass is one
    pair-scale shuffle on (doc_a, doc_b, diagonal). Nothing is ever
    all-pairs across documents."""
    gram_hash = HASH60_TPL.format(x=f"array_join(slice(tk, i, {k}), ' ')")
    occ = (
        gram_starts(_tokens(df, text_col, "doc_id"), k, "doc_id")
        .select("doc_id", "i", F.expr(gram_hash).alias("gk"))
        .repartition("gk")
    )
    nocc = F.count(F.lit(1)).over(Window.partitionBy("gk"))
    cond = F.col("m") >= 2  # singleton grams seed no pair
    if max_occ is not None:
        cond = cond & (F.col("m") <= max_occ)
    seeds = occ.select("doc_id", "i", "gk", nocc.alias("m")).filter(cond)
    a = seeds.select(
        F.col("doc_id").alias("doc_a"), F.col("i").alias("ia"), "gk"
    )
    b = seeds.select(
        F.col("doc_id").alias("doc_b"), F.col("i").alias("ib"), "gk"
    )
    pairs = a.join(b, "gk").filter(
        (F.col("doc_a") < F.col("doc_b"))
        | ((F.col("doc_a") == F.col("doc_b")) & (F.col("ia") < F.col("ib")))
    )
    diag = (F.col("ib") - F.col("ia")).alias("diag")
    run_win = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    runs = pairs.select("doc_a", "doc_b", diag, "ia").withColumn(
        "grp", F.col("ia") - F.row_number().over(run_win)
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.min("ia").alias("s"), F.max("ia").alias("e"))
        .select(
            "doc_a",
            F.col("s").cast("bigint").alias("a_start"),
            "doc_b",
            (F.col("s") + F.col("diag")).cast("bigint").alias("b_start"),
            (F.col("e") - F.col("s") + k).cast("bigint").alias(
                "len_tokens"
            ),
        )
    )


def heavy_hitters(
    df: DataFrame, text_col: str = "text", m: int = 1024
) -> DataFrame:
    """Corpus heavy hitters with EXACT counts at bounded shuffle cost:
    every term whose global occurrence count strictly exceeds N/m
    (N = total tokens), found without shuffling the full term stream's
    tail. Two passes over the corpus: (1) candidate generation — each
    partition keeps a Misra-Gries summary of capacity 2m (per Arrow
    batch: add the batch's exact counts; on overflow subtract the
    (2m+1)-th largest count from every entry and drop the non-positive
    ones — total underestimation ≤ n_p/(2m+1)) and emits its ≤2m
    (term, residual) rows plus one sentinel row carrying the partition's
    exact token count. The per-partition summaries are then MERGED the
    mergeable-summaries way (Agarwal et al.): sum residuals per term
    (a tiny shuffle of ≤2m rows per partition, never the corpus) and
    keep the global top-2m by (residual desc, term) — a term with true
    count > N/m retains merged residual > N/(2m+1) after the additive
    per-partition error, and at most 2m terms can tie-or-beat that, so
    the top-2m is a guaranteed superset under ANY partitioning and
    batch order, and the broadcast side is ≤2m terms — GLOBALLY bounded,
    not per-partition. (2) an exact recount of candidates only
    (broadcast semi join prunes the token stream before the count
    shuffle). The output is therefore exact and deterministic even
    though pass 1 is partition-dependent.

    At 100 TB the term tail (trillions of singleton-ish terms) never
    reaches a shuffle and never accumulates anywhere: pass-1 state is
    ≤ 2m counters per partition (a plain Counter over the partition
    would hold every distinct term — the actual OOM risk at corpus
    scale), the merge moves ≤ 2m rows per partition, the candidate
    broadcast is ≤ 2m terms total, and pass 2 shuffles only candidate
    occurrences. N comes from the pass-1 sentinel rows, so the corpus
    is tokenized exactly twice (candidates + recount). The classic
    alternative — full groupBy then HAVING — shuffles the entire
    vocabulary.
    """
    toks_expr = TOKENS_TPL.format(x=text_col)
    toks = fan_out_small(df).select(
        F.explode(F.expr(toks_expr)).alias("term")
    )
    cap = 2 * m

    def _part_top(batches):  # one call per partition (Arrow batches)
        import pandas as pd  # noqa: PLC0415

        summary: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for t, c in pdf["term"].value_counts().items():
                summary[t] = summary.get(t, 0) + int(c)
            if len(summary) > cap:
                kth = sorted(summary.values(), reverse=True)[cap]
                summary = {
                    t: c - kth for t, c in summary.items() if c > kth
                }
        # sentinel: "" is never a token (empty strings are filtered out
        # upstream); carries this partition's exact token count so N
        # needs no third corpus pass
        summary[""] = n_part
        yield pd.DataFrame(
            {"term": sorted(summary), "cnt": [summary[t] for t in sorted(summary)]}
        )

    merged = (
        toks.mapInPandas(_part_top, "term string, cnt long")
        .groupBy("term")
        .agg(F.sum("cnt").alias("c"))
    )
    totals = (
        merged.filter(F.col("term") == "")
        .select(F.col("c").alias("n_total"))
    )
    cand = (
        merged.filter(F.col("term") != "")
        .orderBy(F.col("c").desc(), F.col("term").asc())
        .limit(cap)
        .select("term")
    )
    return (
        toks.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(totals))
        .filter(F.col("n_occurrences") * m > F.col("n_total"))
        .select(
            "term",
            "n_occurrences",
            trunc6(
                F.col("n_occurrences").cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
        )
    )


def source_divergence(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source KL divergence of the source's unigram distribution
    from the whole-corpus distribution — the drift statistic a corpus
    curation pipeline watches when mixing crawl snapshots (a source
    whose token distribution diverges hard from the corpus is either a
    different register or junk). KL(p_s || p) = Σ_t p_s(t)·ln(p_s(t)/p(t));
    every term of a source has corpus support, so the sum is finite.

    Determinism: each term's contribution is floored to integer
    nano-units before the per-source sum, so the aggregate is
    partition-order independent and the oracle replays it exactly.
    Scale: ONE token-scale shuffle (groupBy source+term with map-side
    combine); corpus term totals come from a window over the term key
    (sort-only after a repartition), per-source totals and the corpus
    grand total are tiny broadcast aggregates.
    """
    toks_expr = TOKENS_TPL.format(x=text_col)
    toks = fan_out_small(df).select(
        "source", F.explode(F.expr(toks_expr)).alias("term")
    )
    cst = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("cst")
    )
    wt = Window.partitionBy("term")
    with_ct = cst.repartition("term").withColumn(
        "ct", F.sum("cst").over(wt)
    )
    # ns and the grand total derive from the already-aggregated cst
    # table (vocabulary-scale input) — the token stream is scanned and
    # exploded exactly ONCE; re-aggregating toks here would pay two more
    # full corpus tokenization passes for identical numbers
    ns = cst.groupBy("source").agg(F.sum("cst").alias("ns"))
    n_total = cst.agg(F.sum("cst").alias("n_total"))
    units = F.floor(
        (F.col("cst").cast("double") / F.col("ns").cast("double"))
        * F.log(
            (F.col("cst").cast("double") * F.col("n_total").cast("double"))
            / (F.col("ns").cast("double") * F.col("ct").cast("double"))
        )
        * F.lit(1e9)
    ).cast("bigint")
    return (
        with_ct.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n_total))
        .select("source", "ns", units.alias("u"))
        .groupBy("source")
        .agg(
            F.first("ns").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("u").alias("kl_units"),
        )
        .select(
            "source",
            "n_tokens",
            "n_terms",
            "kl_units",
            (F.col("kl_units").cast("double") / F.lit(1e9)).alias(
                "kl_divergence"
            ),
        )
    )


def _word_table(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct-word table (w, wc, L) for the unigram-LM family and the
    apply maps — :func:`_word_counts` (the prefix _merge_loop shares)
    plus the word length. Callers derive their own short/long split
    from L."""
    # cut: the short and long splits (and the apply maps' word join)
    # each read the token-scale word count under it
    return (
        _word_counts(df, text_col)
        .withColumn("L", F.length("w"))
        .localCheckpoint()
    )


def _unigram_pieces_expr(max_piece_len: int) -> Column:
    """All (start, length, substring) candidate pieces of a word — a
    scan-side array expression over the distinct-word vocabulary."""
    return F.expr(
        f"flatten(transform(sequence(1, L), st -> "
        f"transform(sequence(1, least({max_piece_len}, L - st + 1)), "
        f"ln -> struct(st AS st, ln AS ln, substring(w, st, ln) AS pc))))"
    )


# Viterbi over one word: left fold across character positions; acc[j+1]
# holds the best (probability product, chosen pieces) ending at position
# j. Pure +,*,/ IEEE doubles in a FIXED evaluation order, so Spark and
# the DuckDB oracle produce bit-identical scores and therefore identical
# argmax decisions — the reason the DP maximizes the raw probability
# PRODUCT instead of a log-space sum (ln is not exactly specified by
# IEEE 754 and could flip a tie across engines). Ties break to the
# longer final piece; (score, piece length) totally orders candidates at
# a position, so the segmentation is exactly replayable.
_UNIGRAM_DP = """
element_at(aggregate(
  sequence(1, length(w)),
  array(struct(CAST(1.0 AS DOUBLE) AS sc, CAST(array() AS array<string>) AS toks)),
  (acc, j) -> concat(acc, array(
    aggregate(
      filter(pcs, c -> c.st + c.ln - 1 = j),
      CAST(NULL AS struct<sc:double, toks:array<string>>),
      (b, c) -> CASE WHEN b IS NULL
                      OR element_at(acc, c.st).sc * c.p > b.sc
                      OR (element_at(acc, c.st).sc * c.p = b.sc
                          AND c.ln > length(element_at(b.toks, -1)))
                 THEN struct(element_at(acc, c.st).sc * c.p AS sc,
                             concat(element_at(acc, c.st).toks, array(c.pc)) AS toks)
                 ELSE b END)))), -1).toks
"""


def _viterbi_segment(
    short_words: DataFrame, vocab: DataFrame, max_piece_len: int
) -> DataFrame:
    """Viterbi-segment each distinct word under the current piece
    probabilities: candidate substrings join the (broadcast,
    vocab-scale) piece table, collect per word, then the scan-side DP
    fold picks the max-probability segmentation. collect_list order is
    nondeterministic but irrelevant — the DP argmax is a total order
    over (score, piece length), so any candidate order folds to the
    same answer."""
    cands = (
        short_words.select(
            "w", "wc", F.explode(_unigram_pieces_expr(max_piece_len)).alias("c")
        )
        .select("w", "wc", "c.st", "c.ln", "c.pc")
        .join(F.broadcast(vocab.select("pc", "p")), "pc")
        .groupBy("w", "wc")
        .agg(F.collect_list(F.struct("st", "ln", "pc", "p")).alias("pcs"))
    )
    return cands.select("w", "wc", F.expr(_UNIGRAM_DP).alias("toks"))


def _unigram_word_tokens(
    words: DataFrame, vocab: DataFrame, max_piece_len: int, max_word_len: int
) -> DataFrame:
    """Word → (token count, char count) under a unigram-LM piece table:
    the TOTAL apply map (w, wtok, wlen) shared by encode and fertility.

    Routing: long words (> ``max_word_len``) AND words containing any
    character absent from the vocabulary's single-char pieces take the
    one-token-per-char fallback; everything else Viterbi-segments under
    the broadcast piece table. The out-of-vocabulary leg is what makes
    the frozen-artifact apply path (production: tokenizer trained once,
    applied to NEW corpora) total and deterministic — an uncovered
    character makes the DP infeasible (NULL-score structs whose fold
    outcome depends on collect_list order) and previously dropped the
    word from the candidate join entirely, silently undercounting
    n_words / n_tokens. On the training corpus the single-char coverage
    guarantee makes the OOV set empty, so training-side semantics are
    unchanged.

    Scale: coverage is ONE distinct-word-scale aggregation over exploded
    chars against the broadcast single-char piece set; the Viterbi apply
    stays on the covered distinct words. A residual NULL-toks guard
    coalesces to per-char as belt-and-braces."""
    chars = (
        vocab.filter(F.length("pc") == 1)
        .select(F.col("pc").alias("ch"), F.lit(1).alias("in_vocab"))
    )
    short = words.filter(F.col("L") <= max_word_len)
    cov = (
        short.select(
            "w", "wc", "L", F.explode(F.expr("split(w, '')")).alias("ch")
        )
        .join(F.broadcast(chars), "ch", "left")
        .groupBy("w", "wc", "L")
        .agg(F.min(F.coalesce("in_vocab", F.lit(0))).alias("cov"))
    )
    covered = cov.filter(F.col("cov") == 1).select("w", "wc", "L")
    fallback = (
        words.filter(F.col("L") > max_word_len)
        .select("w", "L")
        .unionByName(cov.filter(F.col("cov") == 0).select("w", "L"))
    )
    seg = _viterbi_segment(covered, vocab, max_piece_len)
    return seg.select(
        "w",
        F.coalesce(F.size("toks"), F.length("w")).alias("wtok"),
        F.length("w").alias("wlen"),
    ).unionByName(
        fallback.select(
            "w", F.col("L").alias("wtok"), F.col("L").alias("wlen")
        )
    )


def _unigram_em_loop(
    df: DataFrame,
    text_col: str,
    n_rounds: int,
    seed_k: int,
    max_piece_len: int,
    max_word_len: int,
) -> DataFrame:
    """Unigram-LM tokenizer training (Kudo 2018, SentencePiece's unigram
    model) as a fixed-round unrolled EM over the distinct-word
    vocabulary. Returns the final piece table (pc, cnt, p).

    Seed: every substring up to ``max_piece_len`` chars, counted with
    word frequency; the vocabulary keeps ALL single characters (coverage
    guarantee — the DP is always feasible) plus the top ``seed_k``
    multi-char pieces by (count desc, piece asc). Each EM round
    Viterbi-segments every distinct word under the current
    probabilities (E), recounts pieces from the chosen segmentations
    with add-one smoothing on single chars (M), and prunes multi-char
    pieces that won no occurrences — Kudo's EM + prune loop with the
    prune schedule fixed so the oracle can replay it.

    Words longer than ``max_word_len`` fall back to single-character
    segmentation (SentencePiece's own long-token escape hatch); this
    bounds the DP fold and the oracle's unrolled relational DP alike.

    Scale: ONE token-scale shuffle (the word count); seeding, every EM
    round, and the DP itself run on the DISTINCT-WORD vocabulary —
    corpus-size-independent, the _merge_loop argument. The piece table is
    broadcast (|chars| + seed_k rows); totals are broadcast 1-row
    aggregates; localCheckpoint per round is the iterative-lineage
    hygiene shared with kmeans/pagerank/bpe. Probability-space products
    stay normal down to ~1e-308 — fine for any real corpus's ≤16-char
    words (min piece prob 1e-12 → ≥ 1e-192); a log-space variant would
    trade that bound for cross-engine replayability, the wrong trade
    here."""
    words = _word_table(df, text_col)
    short = words.filter(F.col("L") <= max_word_len)
    long_ = words.filter(F.col("L") > max_word_len)
    sub_expr = F.expr(
        f"flatten(transform(sequence(1, L), st -> "
        f"transform(sequence(1, least({max_piece_len}, L - st + 1)), "
        f"ln -> substring(w, st, ln))))"
    )
    long_chars = long_.select(
        "wc", F.explode(F.expr("split(w, '')")).alias("pc")
    )
    seed_counts = (
        short.select("wc", F.explode(sub_expr).alias("pc"))
        .unionByName(long_chars)
        .groupBy("pc")
        .agg(F.sum("wc").alias("cnt"))
    )
    chars = seed_counts.filter(F.length("pc") == 1)
    multis = (
        seed_counts.filter(F.length("pc") >= 2)
        .orderBy(F.col("cnt").desc(), F.col("pc").asc())
        .limit(seed_k)
    )
    vocab = chars.unionByName(multis)
    tot = vocab.agg(F.sum("cnt").alias("tot"))
    # cut: round 1's segmentation and its piece join both read the
    # seed vocabulary
    vocab = (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "pc",
            "cnt",
            (
                F.col("cnt").cast("double") / F.col("tot").cast("double")
            ).alias("p"),
        )
        .localCheckpoint()
    )
    for _rnd in range(1, n_rounds + 1):
        seg = _viterbi_segment(short, vocab, max_piece_len)
        counts = (
            seg.select("wc", F.explode("toks").alias("pc"))
            .unionByName(long_chars)
            .groupBy("pc")
            .agg(F.sum("wc").alias("c"))
        )
        c2 = (
            vocab.select("pc")
            .join(counts, "pc", "left")
            .select("pc", F.coalesce("c", F.lit(0)).alias("c"))
            .select(
                "pc",
                (
                    F.col("c")
                    + F.when(F.length("pc") == 1, 1).otherwise(0)
                ).alias("cnt"),
                "c",
            )
            .filter((F.length("pc") == 1) | (F.col("c") > 0))
        )
        tot = c2.agg(F.sum("cnt").alias("tot"))
        vocab = (
            c2.crossJoin(F.broadcast(tot))
            .select(
                "pc",
                "cnt",
                (
                    F.col("cnt").cast("double") / F.col("tot").cast("double")
                ).alias("p"),
            )
            .localCheckpoint()
        )
    return vocab


def unigram_train(
    df: DataFrame,
    text_col: str = "text",
    n_rounds: int = 2,
    seed_k: int = 80,
    max_piece_len: int = 4,
    max_word_len: int = 16,
) -> DataFrame:
    """Train the unigram-LM tokenizer and return the published vocab
    artifact: (piece, piece_len, cnt, prob) — counts exact integers,
    prob floor-truncated to 6 decimals so both engines compare equal.
    See :func:`_unigram_em_loop` for semantics and scale."""
    vocab = _unigram_em_loop(
        df, text_col, n_rounds, seed_k, max_piece_len, max_word_len
    )
    return vocab.select(
        F.col("pc").alias("piece"),
        F.length("pc").alias("piece_len"),
        "cnt",
        trunc6(F.col("p")).alias("prob"),
    )


def unigram_encode_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
    n_rounds: int = 2,
    seed_k: int = 80,
    max_piece_len: int = 4,
    max_word_len: int = 16,
) -> DataFrame:
    """Tokenize the corpus under the LEARNED unigram-LM vocabulary — the
    apply side (the bpe_encode_counts twin for the other production
    tokenizer family): per doc, word / unigram-token / char counts and
    the chars-per-token compression. Long words (> ``max_word_len``)
    AND words with characters outside the vocabulary count one token
    per char (see :func:`_unigram_word_tokens` — the OOV leg keeps the
    frozen-artifact apply path total on corpora the tokenizer was not
    trained on). Pass a pre-trained ``vocab`` (pc, cnt, p — the shared
    ``unigram_artifacts`` table) to skip in-query training; the
    production shape, where the tokenizer is a frozen published
    artifact and encoding is pure apply.

    Scale: the Viterbi apply runs on the DISTINCT-WORD vocabulary
    against the broadcast piece table; documents then join word →
    token-length through one (doc, word)-keyed aggregation — exactly
    bpe_encode_counts' shuffle shape. Docs with no words survive the
    left join with zero counts."""
    if vocab is None:
        vocab = _unigram_em_loop(
            df, text_col, n_rounds, seed_k, max_piece_len, max_word_len
        )
    words = _word_table(df, text_col)
    enc = _unigram_word_tokens(words, vocab, max_piece_len, max_word_len)
    return _encode_counts(df, enc, id_col, text_col, n_chars="wlen")


# WordPiece (Schuster & Nakajima 2012; the BERT tokenizer). Training is
# BPE-shaped but the merge objective is the LIKELIHOOD gain
# score(a, b) = count(ab) / (count(a) * count(b)) instead of raw pair
# frequency; encoding is greedy longest-match-first with '##'
# continuation pieces and a whole-word [UNK] on any match failure —
# both exactly the published algorithm (HuggingFace's WordPiece
# training/encoding description follows the same two rules).
# Determinism: counts are exact integers; the score is ONE double
# division of two exact products (< 2^53), and IEEE 754 specifies
# *,/ exactly, so Spark and DuckDB rank candidate merges identically;
# ties break (s1 asc, s2 asc) — a total order, replayable.
WORDPIECE_MAX_WORD = 16  # longer words -> [UNK], BERT's
# max_input_chars_per_word escape hatch (100 in BERT; 16 here so the
# oracle's unrolled greedy walk stays bounded, same discipline as
# UNIGRAM_MAX_WORD)


def wordpiece_train(
    df: DataFrame, text_col: str = "text", n_merges: int = 5
) -> DataFrame:
    """Train the WordPiece tokenizer: the merge table
    (round, pair, n_occurrences, score) — the likelihood-scored merge
    sequence the trainer publishes. See :func:`_merge_loop`."""
    merges, _vocab = _merge_loop(df, text_col, n_merges, WORDPIECE)
    return merges


# Greedy longest-match-first over one word: fold across character
# positions; acc tracks (next unconsumed position, tokens so far, still
# feasible). At the position the cursor sits on, consume THE longest
# vocabulary piece starting there (pure integer max — no float state);
# no match → the whole word is [UNK]. Positions the cursor has jumped
# over pass through untouched, so the fold is exactly BERT's
# while-loop walk.
_WORDPIECE_GREEDY = """
aggregate(
  sequence(1, length(w)),
  struct(CAST(1 AS INT) AS cur, CAST(0 AS INT) AS n, true AS ok),
  (acc, j) -> CASE WHEN NOT acc.ok OR acc.cur != j THEN acc ELSE
    CASE WHEN aggregate(filter(pcs, c -> c.st = j), 0,
                        (m, c) -> IF(c.ln > m, c.ln, m)) = 0
         THEN struct(acc.cur AS cur, acc.n AS n, false AS ok)
         ELSE struct(
           acc.cur + aggregate(filter(pcs, c -> c.st = j), 0,
                               (m, c) -> IF(c.ln > m, c.ln, m)) AS cur,
           acc.n + 1 AS n, true AS ok) END END)
"""


def _wordpiece_word_tokens(
    words: DataFrame, pieces: DataFrame, max_word_len: int
) -> DataFrame:
    """Word → (token count, char count, is_unk) under a frozen WordPiece
    vocabulary — the TOTAL apply map shared by encode and fertility.

    Candidate substrings of each short word join the broadcast piece
    set on the position-aware key (bare at start, '##'-prefixed
    inside); the greedy fold walks the word. [UNK] legs: words longer
    than ``max_word_len``, words with no candidate match at all (OOV
    characters never reach the fold — the anti-joined remainder), and
    words whose greedy walk dead-ends. All three count ONE token — the
    published semantics, and what keeps the frozen-artifact apply path
    total on unseen corpora."""
    short = words.filter(F.col("L") <= max_word_len)
    cand_expr = F.expr(
        f"flatten(transform(sequence(1, L), st -> "
        f"transform(sequence(1, L - st + 1), "
        f"ln -> struct(st AS st, ln AS ln, "
        f"IF(st = 1, substring(w, st, ln), "
        f"'##' || substring(w, st, ln)) AS key))))"
    )
    cands = (
        short.select("w", "L", F.explode(cand_expr).alias("c"))
        .select("w", "L", "c.st", "c.ln", "c.key")
        .join(F.broadcast(pieces.select(F.col("s").alias("key"))), "key")
        .groupBy("w", "L")
        .agg(F.collect_list(F.struct("st", "ln")).alias("pcs"))
    )
    walked = cands.select(
        "w",
        "L",
        F.expr(_WORDPIECE_GREEDY).alias("g"),
    ).select(
        "w",
        F.when(F.col("g.ok"), F.col("g.n")).otherwise(F.lit(1)).alias(
            "wtok"
        ),
        F.col("L").alias("wlen"),
        (~F.col("g.ok")).cast("int").alias("is_unk"),
    )
    unked = (
        words.join(cands.select("w"), "w", "left_anti")
        .select(
            "w",
            F.lit(1).alias("wtok"),
            F.col("L").alias("wlen"),
            F.lit(1).alias("is_unk"),
        )
    )
    return walked.unionByName(unked)


def wordpiece_encode_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pieces: DataFrame | None = None,
    n_merges: int = 5,
    max_word_len: int = WORDPIECE_MAX_WORD,
) -> DataFrame:
    """Tokenize the corpus under a learned WordPiece vocabulary: per
    doc, word / token / char counts, the [UNK]-word count, and the
    chars-per-token compression — the apply side for the THIRD
    production tokenizer family (bpe_encode_counts / 
    unigram_encode_counts twins). ``pieces`` is the frozen piece set
    (column ``s``); omitted, the in-query trainer runs first.

    Scale: greedy matching runs on the DISTINCT-WORD vocabulary against
    the broadcast piece set; documents join word → token-length through
    one (doc, word)-keyed aggregation — the family's single shuffle
    shape. [UNK] chars count toward n_chars (the word was read) but the
    token count is 1 — the real sequence-length cost of an [UNK]."""
    if pieces is None:
        _m, vocab = _merge_loop(df, text_col, n_merges, WORDPIECE)
        pieces = (
            vocab.select(F.explode("syms").alias("s")).distinct()
        )
    words = _word_table(df, text_col)
    enc = _wordpiece_word_tokens(words, pieces, max_word_len)
    return _encode_counts(
        df, enc, id_col, text_col, n_chars="wlen", n_unk_words="is_unk"
    )


# Corpus-level boilerplate threshold: a k-gram present in at least this
# many DISTINCT documents is boilerplate (headers, footers, license
# stubs, navigation chrome), not shared content between one pair of
# near-dups. Absolute, like Dolma's frequent-paragraph rule: the
# document frequency of a genuine template grows with the corpus while
# a near-dup group's stays at the group size, so a small fixed floor
# separates them at every scale.
BOILERPLATE_MIN_DOCS = 3


def boilerplate_ngram_rewrite(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """Frequent-n-gram boilerplate REMOVAL (the Dolma / RefinedWeb
    frequent-paragraph rule at k-gram granularity): every token k-gram
    present in ≥ ``min_docs`` distinct documents is cut from EVERY
    document — including the first (boilerplate has no canonical owner
    worth keeping, unlike :func:`span_dedup_rewrite`'s pairwise-dedup
    keep-one policy; that single policy difference is why these are two
    operators). A token survives iff no boilerplate k-gram of its own
    document covers its position; cleaned text preserves token order.

    Scale shape: identical to span_dedup_rewrite — 60-bit gram hashes,
    one token-scale shuffle to per-(doc, gram) position lists, a
    sort-only window pass on the gram key for document frequency, then
    the row-based :func:`excise_spans` rebuild (worst-case linear in
    tokens even for an all-boilerplate document)."""
    toks = _tokens(df, text_col, "doc_id")
    # cover every gram present in >= min_docs documents, in all of them
    starts = (
        _gram_doc_positions(toks, k)
        .filter(F.col("nd") >= min_docs)
        .select("doc_id", F.explode("pos").alias("i"))
    )
    return excise_spans(toks, starts, k)


LINE_WORDS = 8
HOST_LINE_MIN_DOCS = 2


def host_lines(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    line_words: int = LINE_WORDS,
) -> DataFrame:
    """Deterministic line rows (doc_id, host, ln, lh, line) for the
    per-domain line pass — one definition shared by the batch operator
    (:func:`host_line_dedup`) and the streaming census maintainer
    (streaming/line_census.py), so batch and stream count identical
    lines by construction. Entirely scan-side: tokenization, an
    explode of the line indexes, then the ``line_words``-token line and
    its hash built in codegen (gram_starts' reasoning, with windows
    aligned at ``line_words`` boundaries instead of every start)."""
    return (
        _tokens(df, text_col, "doc_id", F.col(host_col).alias("host"))
        .filter(F.size("tk") >= 1)
        .select(
            "doc_id",
            "host",
            "tk",
            F.explode(
                F.expr(
                    f"sequence(0, CAST(ceil(size(tk) / "
                    f"{line_words}.0) AS INT) - 1)"
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            "host",
            F.col("i").cast("bigint").alias("ln"),
            F.expr(
                f"array_join(slice(tk, i * {line_words} + 1, "
                f"{line_words}), ' ')"
            ).alias("line"),
        )
        .select(
            "doc_id",
            "host",
            "ln",
            F.expr(HASH60_TPL.format(x="line")).alias("lh"),
            "line",
        )
    )


def host_line_dedup(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    line_words: int = LINE_WORDS,
    min_docs: int = HOST_LINE_MIN_DOCS,
) -> DataFrame:
    """Per-domain line-wise dedup — RefinedWeb's "line-wise corrections"
    (Penedo et al. 2023 §3.3): a line that recurs across ≥ ``min_docs``
    DISTINCT documents of the SAME host is navigation/boilerplate
    (headers, cookie banners, footers) and is removed from every
    document of that host. The host scoping is the whole point — a
    sentence shared across unrelated sites is content; the same
    sentence on 40 pages of one site is chrome. Corpus-wide frequency
    rules (:func:`boilerplate_ngram_rewrite`) cannot see the
    difference.

    Lines are deterministic ``line_words``-token windows aligned at
    ``line_words`` boundaries (the corpus carries no newlines — see
    gen_testdata), so both engines re-derive identical line boundaries
    from the text alone.

    Scale shape: line construction is scan-side (:func:`host_lines`:
    an explode of the line indexes over the token array); the
    repeated-line census groups 8-byte 60-bit
    line hashes KEYED BY HOST — at 100 TB that shuffle carries
    (host, hash) pairs, never line text, and the per-host key prefix
    keeps each domain's census co-located so no single reducer sees
    more than one domain's tail. The rebuild is the standard LEFT ANTI
    + ordered reassembly, linear in lines.

    Reference anchor: the reference dedupes by record key only
    (StreamsFilterEgvs.java); crawl corpora need the per-site line
    pass before any content-level dedup spends budget on chrome.
    """
    # Round-12 join-free single-plan formulation (guide §2.4). The r11
    # shape had THREE consumers of the line rows (census groupBy,
    # anti-join rebuild, totals groupBy) + two joins; DataFrame fan-out
    # duplicates the subtree per consumer, so the plan ran the document
    # scan and the tokenize+md5 line construction three times with ~6
    # exchanges. Here the census is computed as windows over ONE
    # (host, lh) exchange — the exact distinct-doc count per line is
    # max(dense_rank(doc_id)) over the (host, lh) partition — and the
    # rebuild/totals/report collapse into ONE (doc_id, host)
    # aggregation over the flagged rows (collect_list skips the NULLs
    # the CASE leaves on boilerplate lines). One construction, two
    # keyed exchanges, zero joins; the shuffles still carry
    # (host, 8-byte hash, line) rows, never page text.
    lines = host_lines(df, host_col, text_col, line_words)
    w_set = Window.partitionBy("host", "lh").orderBy("doc_id")
    w_full = Window.partitionBy("host", "lh")
    flagged = (
        lines.withColumn("dr", F.dense_rank().over(w_set))
        .withColumn("kept", F.max("dr").over(w_full) < F.lit(min_docs))
    )
    out = flagged.groupBy("doc_id", "host").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN kept THEN struct(ln, line) END)), "
            "s -> s.line), ' ')"
        ).alias("txt"),
    )
    return out.select(
        "doc_id",
        "host",
        "n_lines",
        (F.col("n_lines") - F.col("n_kept"))
        .cast("bigint")
        .alias("n_removed_lines"),
        F.col("txt").alias("clean_text"),
    )


def eval_span_scrub(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Decontamination by span REMOVAL: every token ``k``-gram of the
    frozen eval suite is cut from every TRAINING document (a token
    survives iff no eval gram covers its position; order preserved).
    The policy the eval-decontamination pipelines actually want when a
    long document merely QUOTES a benchmark item: contamination_flags
    (operators/dedup.py) drops or routes whole documents by containment
    — this keeps the document and excises the quoted spans, the
    PaLM/GPT-3-appendix style of leakage control.

    Plan family: :func:`boilerplate_ngram_rewrite` with the matched-
    gram source swapped — there, corpus document frequency decides
    (one token-scale shuffle + window); here the eval gram set is
    BUILT ONCE from the tiny frozen suite and broadcast, so the train
    side pays one broadcast hash join and the row-based coverage +
    LEFT ANTI rebuild, no train-side gram shuffle at all. At 100 TB
    that difference is the whole point: eval suites are thousands of
    documents, ingest is unbounded."""
    gram_hash = HASH60_TPL.format(x=f"array_join(slice(tk, i, {k}), ' ')")
    eval_grams = (
        gram_starts(_tokens(eval_docs, text_col), k)
        .select(F.expr(gram_hash).alias("gk"))
        .distinct()
    )
    toks = _tokens(train, text_col, "doc_id")
    # cover every train gram the broadcast eval gram set holds
    starts = (
        gram_starts(toks, k, "doc_id")
        .select("doc_id", "i", F.expr(gram_hash).alias("gk"))
        .join(F.broadcast(eval_grams), "gk")
        .select("doc_id", "i")
    )
    return excise_spans(toks, starts, k)
