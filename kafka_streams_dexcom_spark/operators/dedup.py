"""Deduplication operators for large-scale training-data pipelines.

Five families (exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding
cosine), all expressed as Catalyst expressions over array columns — no
Python UDFs in any hot path, so every stage stays inside whole-stage
codegen and the only shuffles are the ones the algorithms require:

- exact:        1 shuffle (groupBy text hash).
- minhash+LSH:  signatures are map-side-combined MIN aggregates over the
                exploded shingle-hash stream (codegen, one narrow
                (id, num_perm longs) shuffle), then the band-bucket
                join, whose fan-in is bounded by the band width. This is
                the 100 TB path: candidate generation touches each doc
                O(bands) times instead of O(n²).
- simhash:      per-bit vote counts as codegen SUM aggregates over the
                exploded token-hash stream (one narrow shuffle);
                near-dup candidates via 15-bit band buckets + exact
                popcount verify (hamming_band_pairs, the banded-Hamming
                core every 64-bit perceptual fingerprint shares).
- ngram-jaccard: prefix-filtered set-similarity join (PPJoin-style):
                shingles ordered by global document frequency, only each
                doc's first |s|-ceil(t*|s|)+1 indexed — lossless for
                J >= t — then exact-Jaccard verification of candidates.
- embedding:    blocked pairwise cosine with sequential-fold dot products
                (deterministic, oracle-reproducible).

Hashing is the portable md5-based :mod:`..functions.hashing` so the DuckDB
oracle replays the exact same arithmetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.hashing import (
    HASH60_TPL,
    MERSENNE_P,
    PERM_COEFFS,
)
from kafka_streams_dexcom_spark.functions.rounding import trunc6
from kafka_streams_dexcom_spark.sources.files import fan_out_small

NUM_PERM = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_PERM // NUM_BANDS
# Full width of the portable md5 hash (15 hex chars = 60 bits). 4 bands
# of 15 bits give 32768 buckets per band — at 1B docs that's ~30k docs
# per bucket *if uniform*, vs the 8-bit-band scheme's 256 buckets (~4M
# docs each, ~10^13 candidate pairs). Banding width is the primary
# simhash scale knob; the max_bucket cap below handles the skewed rest.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15 → 32768 buckets

# Hot-bucket caps for candidate-pair generation (see pairs_within_buckets:
# a bucket of m items emits m(m-1)/2 pairs; dropping degenerate buckets is
# the standard trade — ubiquitous features carry no near-dup signal).
# Values are far above anything the bench SFs produce (so results there
# are exact) while bounding the worst bucket to ~10^5..10^6 pairs at 100 TB.
LSH_MAX_BUCKET = 1_000
SIMHASH_MAX_BUCKET = 2_000
NGRAM_MAX_BUCKET = 1_000

# --- shared expression builders (Spark SQL fragments) ---------------------

# The one whitespace tokenizer: the NON-EMPTY splits of {x}, so leading
# or trailing whitespace adds no phantom '' token. Its DuckDB twin is
# queries/duck.py:DUCK_TOKENS.
TOKENS_TPL = "filter(split({x}, '\\\\s+'), t -> t != '')"


def _shingle_expr(tok_col: str, n: int = 3) -> str:
    idx = ", ' ', ".join(f"{tok_col}[i + {j}]" for j in range(n))
    return (
        f"array_distinct(transform(sequence(0, size({tok_col}) - {n}), "
        f"i -> concat({idx})))"
    )


def tokenize(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokenization as an array column (narrow, codegen).
    Empty tokens are filtered: a LEADING whitespace otherwise yields a
    phantom '' first token that shifts every shingle and simhash vote
    (' a b c' vs 'a b c' would miss as near-dups) — and every DuckDB
    oracle already tokenizes with the same non-empty filter."""
    return df.withColumn("tokens", F.expr(TOKENS_TPL.format(x=text_col)))


def minhash_signature(df: DataFrame, num_perm: int = NUM_PERM) -> DataFrame:
    """MinHash signature as an array column, keyed by every non-
    ``sh_hashes`` column of ``df`` (callers pass (id, sh_hashes)).

    Shape (round-12 rework, the simhash lesson): per-permutation minima
    are codegen'd MIN aggregates over the exploded hash stream — one
    map-side-combined shuffle of (keys, num_perm longs). The previous
    form ran num_perm interpreted array_min(transform(...)) folds per
    document plus a materialize exchange that shuffled the full
    shingle-hash ARRAYS alongside the signature (guide §2.3: shuffle
    fewer bytes; Spark evaluates HOF lambdas interpreted, so cost ∝
    expression-node count). min is associative, so the aggregate minima
    equal the per-document fold bit-for-bit. Empty shingle sets cannot
    reach here (hashed_shingle_corpus guarantees >= 1 shingle), so the
    explode drops no documents."""
    keys = [c for c in df.columns if c != "sh_hashes"]
    # (v % P) first: sh_hashes are 60-bit, and v*a would overflow
    # int64; the reduced value equals the old [0, P) hash, so
    # signatures are unchanged. The reduction is aliased ONCE below the
    # aggregate (cheap enough that inlining it per permutation would
    # also be fine, but one attribute read is cheaper still).
    vp = df.select(
        *keys,
        F.explode("sh_hashes").alias("__v"),
    ).select(*keys, F.expr(f"__v % {MERSENNE_P}").alias("__vp"))
    agg = vp.groupBy(*keys).agg(
        *[
            F.min(
                F.expr(
                    f"(__vp * {PERM_COEFFS[i][0]}L "
                    f"+ {PERM_COEFFS[i][1]}L) % {MERSENNE_P}"
                )
            ).alias(f"__m{i}")
            for i in range(num_perm)
        ]
    )
    return agg.select(
        *keys,
        F.array(*[F.col(f"__m{i}") for i in range(num_perm)]).alias("sig"),
    )


def lsh_band_hashes(
    df: DataFrame,
    num_bands: int = NUM_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """One row per (doc, band): band hash of the signature slice."""
    band_exprs = []
    for b in range(num_bands):
        parts = ", ".join(
            f"CAST(sig[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)
        )
        band_exprs.append(
            F.expr(HASH60_TPL.format(x=f"concat_ws(',', {parts})"))
        )
    return df.select(
        "*", F.posexplode(F.array(*band_exprs)).alias("band_idx", "band_hash")
    )


def pairs_within_buckets(
    df: DataFrame,
    bucket_cols: Sequence[str],
    item_expr: Column,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generate unordered within-bucket pairs WITHOUT a self-join.

    groupBy bucket → collect_list(items) → combinations via nested
    transform/slice → explode. One shuffle, and the upstream pipeline that
    produced ``df`` runs ONCE (a self-join would compute it twice — plan
    exchange-reuse does not apply across a BroadcastExchange).

    Pairs are id-order-normalized (pair_a.id < pair_b.id) so downstream
    grouping is stable regardless of collect_list order.

    Scale guard: ``max_bucket`` drops degenerate hot buckets (a bucket of
    m docs emits m(m-1)/2 pairs — a stop-shingle hitting 1M docs would
    emit 5·10^11 pairs). Dropping them is the standard trade: ubiquitous
    features carry no near-dup signal. None = keep everything (exact).
    """
    # sort once per bucket at aggregation time (struct order starts at id)
    # so every emitted pair is already id-ascending — no per-pair swap
    grouped = df.groupBy(*bucket_cols).agg(
        F.sort_array(F.collect_list(item_expr)).alias("items")
    )
    grouped = grouped.filter(F.size("items") >= 2)
    if max_bucket is not None:
        grouped = grouped.filter(F.size("items") <= max_bucket)
    combos = F.expr(
        "flatten(transform(items, (a, i) -> "
        "transform(slice(items, i + 2, size(items) - i - 1), "
        "b -> struct(a, b))))"
    )
    return grouped.select(F.explode(combos).alias("p")).select(
        F.col("p.a").alias("pair_a"), F.col("p.b").alias("pair_b")
    )


def dropped_buckets(
    df: DataFrame, bucket_cols: Sequence[str], max_bucket: int
) -> DataFrame:
    """Diagnostic twin of pairs_within_buckets' ``max_bucket`` guard: the
    buckets that the cap WOULD drop, with their sizes. Run it (cheap — one
    partial-aggregated groupBy over the same input) alongside any capped
    pair generation to report how much signal the cap discarded, instead
    of truncating silently."""
    return (
        df.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket)
    )


def hamming(a: str, b: str, words: Sequence[str]) -> Column:
    """Exact Hamming distance between two fingerprints held as integer
    ``words``, read as ``{a}{w}`` and ``{b}{w}`` (a column prefix or a
    struct path): the sum of the words' XOR popcounts, as BIGINT."""
    pop = " + ".join(f"bit_count({a}{w} ^ {b}{w})" for w in words)
    return F.expr(f"CAST({pop} AS BIGINT)")


def band_rows(
    fp: DataFrame, words: Sequence[str], bands: Sequence[str], prefix: str = ""
) -> DataFrame:
    """One row per (fingerprint, band) of a (doc_id, *words) frame:
    the columns renamed ``{prefix}{c}``, and (band_idx, band_val) with
    band j the SQL expression ``bands[j]`` over the words. The prefix
    keeps the two sides of a band join apart."""
    return fp.select(
        *[F.col(c).alias(f"{prefix}{c}") for c in ("doc_id", *words)],
        F.posexplode(F.array(*[F.expr(b) for b in bands])).alias(
            "band_idx", "band_val"
        ),
    )


def hamming_band_pairs(
    fp: DataFrame,
    *,
    words: Sequence[str],
    bands: Sequence[str],
    max_hamming: int,
    max_bucket: int | None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) of a (doc_id, *words)
    fingerprint frame: hash-bucket on the bands, verify exactly. Docs
    sharing any (band_idx, band_val) bucket become candidates through
    pairs_within_buckets (one shuffle, no self-join; buckets over
    ``max_bucket`` dropped), and a candidate is kept when its exact
    Hamming distance is at most ``max_hamming``. The one band-and-verify
    plan of SimHash and every 64-bit perceptual fingerprint."""
    pairs = pairs_within_buckets(
        band_rows(fp, words, bands),
        ["band_idx", "band_val"],
        F.struct(F.col("doc_id").alias("id"), *words),
        max_bucket=max_bucket,
    )
    return (
        pairs.select(
            F.col("pair_a.id").alias("id_a"),
            F.col("pair_b.id").alias("id_b"),
            hamming("pair_a.", "pair_b.", words).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, max_bucket: int | None = LSH_MAX_BUCKET
) -> DataFrame:
    """Distinct candidate pairs sharing any band bucket (no self-join —
    see pairs_within_buckets). Buckets larger than ``max_bucket`` are
    dropped — a degenerate band value (e.g. the signature of the empty
    shingle set) would otherwise emit O(m²) pairs."""
    pairs = pairs_within_buckets(
        bands,
        ["band_idx", "band_hash"],
        F.struct(F.col(id_col).alias("id")),
        max_bucket=max_bucket,
    )
    return (
        pairs.select(
            F.col("pair_a.id").alias("id_a"), F.col("pair_b.id").alias("id_b")
        )
        .distinct()
    )


def exact_jaccard(
    pairs: DataFrame, sets: DataFrame, id_col: str, set_col: str = "shingles"
) -> DataFrame:
    """Verify candidates with exact Jaccard over the shingle sets —
    computed only for candidates, so the heavy O(n²) work never happens."""
    sa = sets.select(
        F.col(id_col).alias("id_a"), F.col(set_col).alias("set_a")
    )
    sb = sets.select(
        F.col(id_col).alias("id_b"), F.col(set_col).alias("set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            trunc6(inter.cast("double") / union.cast("double")),
        )
        .select("id_a", "id_b", "jaccard")
    )


def hashed_shingle_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sh_hashes) corpus, eagerly materialized once.

    Fuses tokenize → shingle → hash into one narrow stage (each
    intermediate expression has exactly one consumer, so CollapseProject
    inlining computes it once per row — the fan-out recompute trap only
    bites when multiple consumers inline the same expensive expression),
    then cuts lineage with an eager localCheckpoint because every caller
    (prefix index, signature chain, verify sides) consumes it from
    multiple plan branches that BroadcastExchange would otherwise force
    to recompute: one exchange + one store pass."""
    t = tokenize(fan_out_small(docs.select(id_col, text_col)), text_col)
    t = t.filter(F.size("tokens") >= n)  # == "has at least one shingle"
    hashed = t.select(
        id_col,
        # full 60-bit fingerprints: reducing to 31 bits put ~1,700 real
        # collisions in the sf10 corpus's 2.7M shingles (76 flipped
        # contamination_check rows); minhash reduces to [0, P) inside
        # the permutation
        F.expr(
            f"transform({_shingle_expr('tokens', n)}, "
            f"x -> {HASH60_TPL.format(x='x')})"
        ).alias("sh_hashes"),
    )
    return hashed.localCheckpoint()


def minhash_lsh_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
) -> DataFrame:
    """Full MinHash→LSH→verify pipeline: near-duplicate pairs with their
    exact Jaccard similarity (>= threshold)."""
    # single-pass hashed corpus, consumed by the signature chain AND both
    # verify sides (see hashed_shingle_corpus); verification runs over the
    # hash sets — identical counts, far cheaper arrays to intersect.
    hashed = hashed_shingle_corpus(docs, id_col, text_col)
    sig = minhash_signature(hashed)
    bands = lsh_band_hashes(sig.select(id_col, "sig"))
    cand = lsh_candidate_pairs(bands, id_col)
    verified = exact_jaccard(cand, hashed, id_col, set_col="sh_hashes")
    return verified.filter(F.col("jaccard") >= threshold)


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.2,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Asymmetric near-dup screen: each NEW document against the EXISTING
    corpus — the shape a daily-ingest dedup job actually runs at 100 TB
    (the symmetric all-pairs job runs once; every day after that is this).

    The corpus side's band table is the big one; in production it is
    precomputed and bucketed by (band_idx, band_hash)
    (sources/bucketing.py pattern) so the candidate join shuffles only
    the new batch. Hot corpus buckets are capped exactly like
    pairs_within_buckets' guard — a degenerate band value joined against
    a large batch is the same m x n blowup.

    Verification is exact Jaccard over the hashed shingle sets, computed
    only for candidates."""
    hn = hashed_shingle_corpus(new_docs, id_col, text_col)
    hc = hashed_shingle_corpus(corpus_docs, id_col, text_col)
    bn = lsh_band_hashes(minhash_signature(hn).select(id_col, "sig")).select(
        F.col(id_col).alias("new_id"), "band_idx", "band_hash"
    )
    bc = lsh_band_hashes(minhash_signature(hc).select(id_col, "sig")).select(
        F.col(id_col).alias("old_id"), "band_idx", "band_hash"
    )
    if max_bucket is not None:
        ok = (
            bc.groupBy("band_idx", "band_hash")
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") <= max_bucket)
            .drop("__c")
        )
        bc = bc.join(ok, ["band_idx", "band_hash"], "left_semi")
    cand = (
        bn.join(bc, ["band_idx", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )
    sa = hn.select(
        F.col(id_col).alias("new_id"), F.col("sh_hashes").alias("set_a")
    )
    sb = hc.select(
        F.col(id_col).alias("old_id"), F.col("sh_hashes").alias("set_b")
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .withColumn(
            "jaccard", trunc6(inter.cast("double") / union.cast("double"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


# --- SimHash ---------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    id_col: str = "doc_id",
) -> DataFrame:
    """Frequency-weighted SimHash fingerprint → (id_col, simhash).

    Each token votes +1/-1 per bit of its 60-bit md5 hash (the portable
    hash's full width); bit i of the fingerprint is set when the vote is
    positive (strictly more set than unset — deterministic tie-break
    to 0). 60 bits (vs a 32-bit fingerprint) is what makes the banded
    candidate join survive scale: band selectivity grows with band width,
    and hamming distance over a wider fingerprint separates near-dups
    from random collisions far more sharply.

    Shape (round-12 rework): per-bit vote counts are codegen'd integer
    SUM aggregates over the exploded token-hash stream — one map-side-
    combined shuffle of (id, 61 longs). The previous form folded the
    hash array through an interpreted aggregate/zip_with that built two
    ``bits``-element arrays PER TOKEN (plus two materialize exchanges
    carrying token-scale arrays); Spark evaluates higher-order lambdas
    interpreted, so cost ∝ expression-node count (the CDC gear-hash
    lesson, operators/dedup.py:CDC_WINDOW). Measured 1.72 → 0.91 s for
    the fingerprint stage at sf0.1. Docs with zero tokens vanish at the
    explode, exactly as the former size>=1 filter dropped them."""
    t = tokenize(fan_out_small(df), text_col)
    h = t.select(
        id_col, F.explode("tokens").alias("tok")
    ).select(id_col, F.expr(HASH60_TPL.format(x="tok")).alias("h"))
    # h is md5-derived (not cheap), so CollapseProject leaves the
    # projection below the aggregate and the 60 sums read the computed
    # attribute — the hash runs once per token, not once per bit
    agg = h.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.expr(f"shiftright(h, {i}) & 1")).alias(f"__c{i}")
            for i in range(bits)
        ],
    )
    fingerprint = " + ".join(
        f"(CASE WHEN 2 * __c{i} > __n "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits)
    )
    return agg.withColumn("simhash", F.expr(fingerprint)).select(
        id_col, "simhash"
    )


def simhash_pairs(
    fp: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_bucket: int | None = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-dup candidates: docs agreeing on any of the 4 15-bit bands of
    the 60-bit fingerprint, then exact popcount filter. RECALL CONTRACT:
    band-blocking is only guaranteed complete for hamming <= 3
    (pigeonhole over 4 bands: <=3 differing bits leave some band
    identical); pairs with hamming 4..max_hamming are found exactly when
    they happen to share a band (near-dup bit flips cluster, so most
    do) — the standard LSH recall/cost trade, NOT an exhaustive
    <=max_hamming pair set. Join key is (band_idx, band_val) — 32768
    buckets per band, and ``max_bucket`` drops the degenerate hot
    buckets (e.g. the all-zero band of trivially-short docs) that would
    otherwise emit O(m²) pairs at 100 TB. One word, four 15-bit bands
    through hamming_band_pairs."""
    band_mask = (1 << SIMHASH_BAND_BITS) - 1
    return hamming_band_pairs(
        fp.select(F.col(id_col).alias("doc_id"), "simhash"),
        words=("simhash",),
        bands=[
            f"(shiftright(simhash, {SIMHASH_BAND_BITS * j}) & {band_mask})"
            for j in range(SIMHASH_BANDS)
        ],
        max_hamming=max_hamming,
        max_bucket=max_bucket,
    )


# --- n-gram Jaccard set-similarity join -----------------------------------


def prefix_index(
    hashed: DataFrame,
    id_col: str,
    threshold: float,
    set_col: str = "sh_hashes",
) -> DataFrame:
    """Prefix-filtered inverted index for a Jaccard set-similarity join.

    Prefix-filtering principle (Bayardo et al. "Scaling Up All Pairs",
    PPJoin): order every set by a single global order — here ascending
    global document frequency, rarest first, ties broken by the element
    value — and keep only each set's first |s| - ceil(t*|s|) + 1
    elements. Any pair with J >= t shares >= ceil(t*|s|) elements, so its
    *minimum* common element lands inside BOTH prefixes (it is preceded
    only by non-common elements, of which each side has <= |s| - ceil(t*|s|)).
    Candidate generation on prefixes is therefore lossless, while the
    stop-shingle buckets that blow up a raw inverted index shrink to
    near-nothing: a ubiquitous shingle sorts LAST and falls outside
    almost every prefix. This is the scale fix for the m²-pairs failure
    mode; the residual skew is handled by max_bucket at the pair stage.

    Operates on the 60-bit shingle *hashes* (``sh_hashes``), not the
    strings: every shuffle/join/compare in the index is then over fixed
    8-byte bigints (measured several-fold cheaper than the string-keyed
    version), and the hash universe is the same one the verify stage
    intersects, so the pipeline is self-consistent. A hash collision can
    only *add* a candidate (removed by verification), never lose one.

    Output: one row per (doc, prefix element hash ``sh``), with set_size
    retained. Cost: two shuffles (df count, per-doc regroup) before the
    bucket stage — linear in corpus size, vs quadratic blowup without it.
    """
    inv = hashed.select(
        id_col,
        F.size(set_col).alias("set_size"),
        F.explode(set_col).alias("sh"),
    )
    dfc = inv.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # rare-first per-doc ordering, then slice the prefix. collect per doc
    # and sort the (small) array instead of a row_number window: a hash
    # aggregate beats a partition sort, and shingle sets are bounded by
    # document length.
    plen = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size")).cast("int")
        + F.lit(1)
    )
    per_doc = (
        inv.join(dfc, "sh")
        .groupBy(id_col, "set_size")
        .agg(
            F.sort_array(F.collect_list(F.struct("df", "sh"))).alias(
                "ordered"
            )
        )
        .select(
            id_col,
            "set_size",
            F.explode(F.slice("ordered", F.lit(1), plen)).alias("pref"),
        )
        .select(id_col, "set_size", F.col("pref.sh").alias("sh"))
    )
    return per_doc


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.3,
    max_bucket: int | None = NGRAM_MAX_BUCKET,
) -> DataFrame:
    """Exact set-similarity join, prefix-filtered: index only each doc's
    rare-first shingle prefix (lossless for J >= threshold — see
    prefix_index), generate candidates within prefix buckets, then verify
    with exact Jaccard over the full shingle sets. Equality with the
    exhaustive inverted-index join is oracle-checked (the DuckDB oracle
    stays exhaustive on purpose: a lost pair would hash-mismatch)."""
    # The hashed corpus is consumed by FOUR plan branches (df count,
    # prefix index, and both sides of the verify join). Exchange reuse
    # does not cross BroadcastExchange, so without a lineage cut the md5
    # shingle pipeline would be recomputed once per branch (measured 4x);
    # hashed_shingle_corpus materializes it once.
    hashed = hashed_shingle_corpus(docs, id_col, text_col, n)
    pref = prefix_index(hashed, id_col, threshold)
    cand = (
        pairs_within_buckets(
            pref,
            ["sh"],
            F.struct(F.col(id_col).alias("id"), F.col("set_size").alias("sz")),
            max_bucket=max_bucket,
        )
        .select(
            F.col("pair_a.id").alias("id_a"),
            F.col("pair_b.id").alias("id_b"),
            F.col("pair_a.sz").alias("sz_a"),
            F.col("pair_b.sz").alias("sz_b"),
        )
        # PPJoin length filter: J >= t implies min|s| >= ceil(t * max|s|)
        # (inter <= min, union >= max) — prunes before the verify join.
        .filter(
            F.least("sz_a", "sz_b")
            >= F.ceil(F.lit(threshold) * F.greatest("sz_a", "sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # verify on the 60-bit shingle hashes, not the strings: bigint
    # array_intersect is several-fold cheaper to shuffle and probe, and
    # the counts are identical (md5-collision probability ~|s|^2/2^61 —
    # and the exhaustive string-based oracle would expose any collision).
    verified = exact_jaccard(cand, hashed, id_col, set_col="sh_hashes")
    return verified.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "jaccard"
    )


# --- train/eval contamination (asymmetric n-gram containment) -------------


def contamination_report(
    eval_docs: DataFrame,
    train_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per eval document: the train document with the highest n-gram
    containment C(e,t) = |shingles(e) ∩ shingles(t)| / |shingles(e)| —
    the standard benchmark-contamination screen for a training corpus
    (containment, not Jaccard: a small eval doc fully inside a big train
    doc must score 1.0).

    Shape: two hashed shingle corpora (each one narrow pass + checkpoint),
    inverted-index equi-join on the shingle hash (a genuine two-relation
    join — skew on hot shingles is AQE's skew-join case), co-occurrence
    count per (eval, train) pair, then an argmax per eval doc via a
    struct max (hash aggregate, no sort). Eval docs sharing nothing with
    the train side are kept with containment 0.0 / NULL train doc.
    Deterministic: containment ties break to the lowest train doc id.
    """
    ec = hashed_shingle_corpus(eval_docs, id_col, text_col, n)
    tc = hashed_shingle_corpus(train_docs, id_col, text_col, n)
    einv = ec.select(
        F.col(id_col).alias("e_id"),
        F.size("sh_hashes").alias("esz"),
        F.explode("sh_hashes").alias("sh"),
    )
    tinv = tc.select(
        F.col(id_col).alias("t_id"), F.explode("sh_hashes").alias("sh")
    )
    shared = (
        einv.join(tinv, "sh")
        .groupBy("e_id", "t_id", "esz")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cont = trunc6(F.col("inter").cast("double") / F.col("esz").cast("double"))
    # lexicographic struct max = (max containment, then max(-t_id) = min t_id)
    top = (
        shared.select(
            "e_id",
            F.struct(
                cont.alias("c"), (-F.col("t_id")).alias("nt")
            ).alias("s"),
        )
        .groupBy("e_id")
        .agg(F.max("s").alias("m"))
        .select(
            "e_id",
            (-F.col("m.nt")).alias("train_doc"),
            F.col("m.c").alias("containment"),
        )
    )
    # anchor on eval_docs, NOT the shingle corpus: an eval doc with
    # fewer than n tokens has no shingles (hashed_shingle_corpus drops
    # it) but must still appear with containment 0.0 — the function's
    # contract; silently omitting it breaks "every eval doc screened"
    # downstream gates
    return (
        eval_docs.select(F.col(id_col).alias("e_id"))
        .join(top, "e_id", "left")
        .select(
            F.col("e_id").alias("eval_doc"),
            "train_doc",
            F.coalesce("containment", F.lit(0.0)).alias("containment"),
        )
    )


def eval_fingerprints(
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The broadcastable screen-side artifact of the ingest-time
    contamination gate: every eval document exploded to (e_id, esz, sh)
    shingle-hash rows. Built ONCE per eval suite (eval sets are small
    and static — thousands of documents, not the corpus), then
    broadcast against every ingest batch by contamination_flags."""
    ec = hashed_shingle_corpus(eval_docs, id_col, text_col, n)
    return ec.select(
        F.col(id_col).alias("e_id"),
        F.size("sh_hashes").alias("esz"),
        F.explode("sh_hashes").alias("sh"),
    )


def contamination_flags(
    docs: DataFrame,
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> DataFrame:
    """Ingest-side benchmark-contamination screen: per incoming doc,
    the eval documents it CONTAINS — containment C(e,d) =
    |shingles(e) ∩ shingles(d)| / |shingles(e)| ≥ num/den, compared by
    integer cross-multiplication (gopher_rules discipline: no float
    boundary rows). The transpose of contamination_report: there the
    corpus screens a fixed eval set offline; here a broadcast eval
    fingerprint set screens every INGEST batch before it reaches the
    training indexes — the production direction (eval sets are tiny
    and frozen, ingest is unbounded).

    Returns (id_col, eval_doc, inter, esz) — one row per contaminated
    (doc, eval) pair; dedup to ids for routing, keep pairs for the
    incident ledger. Shape: one O(batch) shingle pass, a broadcast
    hash join on the shingle hash, one partial-aggregated count —
    nothing corpus- or eval-suite-shuffled."""
    dc = hashed_shingle_corpus(docs, id_col, text_col, n)
    dinv = dc.select(
        F.col(id_col), F.explode("sh_hashes").alias("sh")
    )
    hits = (
        dinv.join(F.broadcast(fingerprints), "sh")
        .groupBy(id_col, "e_id", "esz")
        .agg(F.count(F.lit(1)).alias("inter"))
        .filter(
            F.col("inter") * threshold_den >= F.col("esz") * threshold_num
        )
    )
    return hits.select(
        id_col,
        F.col("e_id").alias("eval_doc"),
        "inter",
        "esz",
    )


# --- embedding cosine near-dup --------------------------------------------

DOT_EXPR_TPL = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
)


def with_embedding_norm(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Cast float vector to double (exact) and attach its L2 norm.

    The dot product is a *sequential left fold* so the floating-point
    result is bit-identical to the oracle's list_reduce fold.

    ALL-ZERO vectors are dropped (norm > 0): cosine is undefined for
    them, and every consumer — cosine pairs, IVF/PQ training and
    search — inherits this filter, so a zero vector (padding row,
    failed encoder output) never appears in results. Deliberate:
    surface such rows with a dq_report rule, don't rank them."""
    d = fan_out_small(df).withColumn(
        "vec", F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    )
    return d.withColumn(
        "norm", F.sqrt(F.expr(DOT_EXPR_TPL.format(a="vec", b="vec")))
    ).filter(F.col("norm") > 0)


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """Blocked pairwise cosine similarity (near-dup detection).

    Blocking (here: a label/cluster column; at scale: coarse LSH or IVF
    cell assignment) bounds the pair count; within a block the cross
    product is evaluated in codegen. Output is pairs >= threshold."""
    return cosine_pairs_from_normed(
        with_embedding_norm(emb, vec_col), id_col, block_col, threshold
    )


def cosine_pairs_from_normed(
    base: DataFrame,
    id_col: str = "vec_id",
    block_col: str | None = "label",
    threshold: float = 0.3,
) -> DataFrame:
    """Pair-join half of :func:`embedding_cosine_pairs` — identical
    arithmetic (sequential-fold dot, round 6, >= threshold). ``base``
    must carry (id_col, vec, norm[, block_col]) as produced by
    with_embedding_norm. Callers whose pipeline consumes the same
    normed base from several plan branches (e.g. semdedup: pair sides,
    centroid stats, distances) checkpoint it ONCE and feed it here,
    instead of re-running the norm cast + assignment join per branch."""
    cols = [id_col, "vec", "norm"] + ([block_col] if block_col else [])
    base = base.select(*cols)
    a = base.select(
        *[F.col(c).alias(f"{c}_a") for c in (id_col, "vec", "norm")],
        *( [F.col(block_col).alias("block")] if block_col else [] ),
    )
    b = base.select(
        *[F.col(c).alias(f"{c}_b") for c in (id_col, "vec", "norm")],
        *( [F.col(block_col).alias("block")] if block_col else [] ),
    )
    joined = (
        a.join(b, "block") if block_col else a.crossJoin(b)
    ).filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    dot = F.expr(DOT_EXPR_TPL.format(a="vec_a", b="vec_b"))
    cos = dot / (F.col("norm_a") * F.col("norm_b"))
    return (
        joined.withColumn("cos_sim", F.round(cos, 6))
        .filter(F.col("cos_sim") >= threshold)
        .select(f"{id_col}_a", f"{id_col}_b", "cos_sim")
    )


def fuzzy_blocked_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Blocked edit-distance record linkage (entity resolution): pairs
    of records in the same block whose ``text_col`` values are within
    ``max_dist`` Levenshtein edits.

    The classic ER decomposition: a cheap blocking key (here caller-
    chosen, e.g. region + name length; at 100 TB a phonetic key or
    q-gram LSH) bounds the candidate set, then the O(len²) edit-distance
    verify runs only within blocks — never all-pairs. Reuses
    pairs_within_buckets, so candidate generation is one shuffle with
    the same ``max_bucket`` hot-block guard as the LSH pipelines
    (audit skipped blocks with dropped_buckets).

    Levenshtein is evaluated JVM-side (codegen, no UDF); emitting the
    distance lets downstream cluster/merge steps weight edges."""
    pairs = pairs_within_buckets(
        df,
        block_cols,
        F.struct(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
        max_bucket=max_bucket,
    )
    dist = F.levenshtein(F.col("pair_a.t"), F.col("pair_b.t"))
    return (
        pairs.withColumn("dist", dist)
        .filter(F.col("dist") <= max_dist)
        .select(
            F.col("pair_a.id").alias(f"{id_col}_a"),
            F.col("pair_b.id").alias(f"{id_col}_b"),
            F.col("dist").cast("int").alias("dist"),
        )
    )


def fuzzy_pigeonhole_pairs(
    df: DataFrame,
    block_cols: Sequence[str],
    id_col: str,
    text_col: str,
    max_bucket: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Pigeonhole-blocked edit-distance linkage for distance <= 1 at
    equal length (the caller's ``block_cols`` must include a length
    key, which reduces levenshtein<=1 to <=1 substitution): two
    equal-length strings differing in at most one position agree on ALL
    even positions or ALL odd positions, so blocking on the two
    position-parity masks is LOSSLESS — and mask values are near-unique,
    so candidate pairs collapse from O(block²) to near-linear. This is
    the standard q-sample/pigeonhole trade the naive (block-only)
    fuzzy_blocked_pairs cannot make: on 15k templated names it cuts
    4.5M candidate pairs to a few thousand.

    Shape: explode 2 mask rows per record (scan-side char transforms in
    codegen), within-bucket pair generation (one shuffle, hot-bucket
    capped), distinct on the id pair (a pair agreeing on both masks
    appears twice), then the levenshtein verify."""
    masks = []
    for parity in (0, 1):
        masks.append(
            F.expr(
                f"array_join(filter(transform(split({text_col}, ''), "
                f"(c, i) -> IF(i % 2 = {parity}, c, NULL)), "
                "c -> c IS NOT NULL), '')"
            ).alias(f"m{parity}")
        )
    seg = df.select(
        F.col(id_col), F.col(text_col), *[F.col(c) for c in block_cols], *masks
    ).select(
        id_col,
        text_col,
        *block_cols,
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("seg"), F.col("m0").alias("mask")),
                F.struct(F.lit(1).alias("seg"), F.col("m1").alias("mask")),
            )
        ).alias("s"),
    )
    pairs = pairs_within_buckets(
        seg.select(
            id_col,
            text_col,
            *block_cols,
            F.col("s.seg").alias("seg"),
            F.col("s.mask").alias("mask"),
        ),
        [*block_cols, "seg", "mask"],
        F.struct(F.col(id_col).alias("id"), F.col(text_col).alias("t")),
        max_bucket=max_bucket,
    ).select(
        F.col("pair_a.id").alias(f"{id_col}_a"),
        F.col("pair_b.id").alias(f"{id_col}_b"),
        F.col("pair_a.t").alias("t_a"),
        F.col("pair_b.t").alias("t_b"),
    ).distinct()
    dist = F.levenshtein(F.col("t_a"), F.col("t_b"))
    return (
        pairs.withColumn("dist", dist)
        .filter(F.col("dist") <= 1)
        .select(f"{id_col}_a", f"{id_col}_b", F.col("dist").cast("int").alias("dist"))
    )


# Bloom-filter exact-dedup screen (the Dolma pipeline's dedupe shape:
# a Bloom filter over document hashes screens incoming text against an
# already-ingested corpus without storing the corpus). Geometry: the
# filter width scales with the corpus (m = BITS_PER_KEY · n), so the
# fill ratio — and with it the false-positive rate the audit leg
# measures — is the SAME at every scale factor instead of degenerating
# to 0 (oversized) or 1 (saturated) as the corpus grows. 8 bits/key ·
# k=5 is the classic tight budget: ~2% FP, cheap enough that the audit
# leg has real positives to show at test scale. Both constants are
# pinned so the oracle replays bit-for-bit; it derives the same m from
# its own corpus count.
BLOOM_BITS_PER_KEY = 8
BLOOM_K = 5  # hash functions per key


def _bloom_positions_expr(hash_col: str, k: int, m_bits: int) -> F.Column:
    """The k filter bit positions of an already-hash60'd key: the same
    universal-hash permutation family MinHash uses (h_i(x) = (a_i·x +
    b_i) mod p, constants shared with the oracle via PERM_COEFFS), each
    folded onto the filter width. Scan-side array expression — no
    shuffle, no Python."""
    if m_bits > MERSENNE_P:
        # The permuted values live in [0, 2^31-2] (the fold is mod the
        # 31-bit Mersenne prime so h*a never overflows BIGINT in either
        # engine), so bits above MERSENNE_P would be unreachable and the
        # filter would silently saturate at an effective width of 2^31-1.
        # 2^31-1 bits = 256 MiB ≈ 268M keys at 8 bits/key; beyond that a
        # production deployment shards the filter by key prefix (one
        # maintainer per shard — Dolma's own layout), which this ceiling
        # makes an explicit decision instead of a silent FP-rate drift.
        raise ValueError(
            f"m_bits={m_bits} exceeds the 2^31-1 position ceiling of the "
            "31-bit universal-hash fold; shard the filter by key prefix "
            "(one filter per shard) for corpora beyond ~268M keys"
        )
    parts = ", ".join(
        f"({hash_col} % {MERSENNE_P} * {PERM_COEFFS[i][0]}"
        f" + {PERM_COEFFS[i][1]}) % {MERSENNE_P} % {m_bits}"
        for i in range(k)
    )
    return F.expr(f"array({parts})")


def bloom_dedup_screen(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_key: int = BLOOM_BITS_PER_KEY,
    k: int = BLOOM_K,
    m_bits: int | None = None,
) -> DataFrame:
    """Screen a NEW batch against a Bloom filter built over the corpus
    (Soldaini et al. 2024's Dolma dedupe shape; Bloom 1970): per new
    doc, ``probably_seen`` = every one of its k filter positions was
    set by some corpus doc, ``actually_seen`` = exact text match in
    the corpus (the audit leg), ``false_positive`` = the filter said
    seen but the text is genuinely new — the measurable cost of the
    m/k geometry on this corpus.

    Relational form: the filter is the DISTINCT set-bit relation
    (position bigint) instead of a dense bitmap — membership semantics
    and false-positive behavior are IDENTICAL (same positions, same
    all-k rule); at production scale the same positions aggregate into
    an O(m/8)-byte broadcast bitmap (Spark's own
    DataFrame.stat.bloomFilter shape) while THIS form keeps every leg
    an oracle-checkable join. Costs: one distinct over k·|corpus|
    positions (map-side combined), one broadcast of the ≤m-row bit
    set, one scan-side probe — the new batch never joins the corpus
    row-for-row except in the exact-audit anti-join leg. The corpus
    count that sizes the filter is the one driver-side scalar (the
    same bounded-scalar discipline as the threshold-curve queries).
    An explicit ``m_bits`` overrides the corpus-count sizing — the
    streaming maintainer's fixed-capacity geometry, so the batch twin
    can replay a stream's filter exactly (tests/test_bloom_stream.py).
    """
    if m_bits is None:
        m_bits = max(1, bits_per_key * corpus.count())
    h = HASH60_TPL.format(x=text_col)
    bits = (
        corpus.select(
            F.explode(
                _bloom_positions_expr(h, k, m_bits)
            ).alias("pos")
        )
        .distinct()
    )
    probe = new.select(
        id_col,
        text_col,
        F.explode(_bloom_positions_expr(h, k, m_bits)).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits), "pos")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    exact = (
        new.join(
            corpus.select(F.col(text_col).alias("t")).distinct(),
            new[text_col] == F.col("t"),
            "left_semi",
        )
        .select(id_col, F.lit(1).alias("actually_seen"))
    )
    return (
        new.select(id_col)
        .join(hits, id_col, "left")
        .join(exact, id_col, "left")
        .select(
            id_col,
            (F.coalesce("n_hit", F.lit(0)) == k).cast("int").alias(
                "probably_seen"
            ),
            F.coalesce("actually_seen", F.lit(0)).alias("actually_seen"),
            (
                (F.coalesce("n_hit", F.lit(0)) == k)
                & (F.coalesce("actually_seen", F.lit(0)) == 0)
            ).cast("int").alias("false_positive"),
        )
    )


# ------------------------------------------------ content-defined chunking
CDC_WINDOW = 8    # rolling-window chars hashed at each position
CDC_DIVISOR = 64  # boundary when hash % divisor == 0 -> ~64-char chunks

# Boundary-rule engineering note (round 11, measured): a gear/rolling
# hash (FastCDC, Xia et al. FAST'16) was implemented two ways — a
# 256-entry frozen table via substr+conv per window byte, and a pure
# shift-xor-multiply avalanche per char with the 8 weighted terms
# unrolled over a per-row gear-value array — expecting to beat the
# md5-per-position rule's "digest per char". Interleaved A/B at sf0.1
# (6 reps): md5 median 0.57 s, arithmetic gear 0.82 s, table gear
# 2.8 s. Spark evaluates higher-order-function lambdas INTERPRETED
# (never whole-stage codegen), so per-position cost is dominated by
# expression-NODE count, not by hashing work: the md5 rule is ~4 nodes
# (substring→md5→conv→mod, with md5 one fast JVM intrinsic), the gear
# forms 25+. The md5 rule stays — it is the faster plan in this
# engine, and the oracle twin replays it exactly.


def cdc_chunk_dedup(
    df: DataFrame,
    text_col: str = "text",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking dedup (the Rabin/FastCDC family every
    storage dedup system and LLM-era blob store uses): cut each
    document where the hash of the trailing ``window``-char substring
    is 0 mod ``divisor`` (mean chunk ~``divisor`` chars), hash each
    chunk, and count chunks already seen earlier in (doc_id, chunk_idx)
    order. The point vs fixed-size blocks: boundaries derive from
    CONTENT, so inserting a prefix shifts every fixed block but leaves
    almost every CDC chunk hash intact (pinned by the shift-invariance
    pytest) — the property that makes near-identical crawls dedupe at
    the storage layer even when byte offsets moved.

    Per doc: chunk count, duplicated-chunk count, total chars, and
    duplicated chars (the storage the corpus would NOT pay again).

    Scale shape: chunking is one scan-side array expression (no
    explode until chunks exist); boundary detection is one md5+conv
    per position — measured FASTER than a gear rolling hash here, see
    the engineering note above CDC_WINDOW; the census is one shuffle
    of (60-bit chunk hash) keys with a sort-only row_number inside
    each hash group (group size = copies of that chunk, bounded by the
    dup rate, not the corpus); the rebuild aggregates back on doc_id.
    No pair joins anywhere."""
    win_hash = HASH60_TPL.format(
        x=f"substring({text_col}, i - {window - 1}, {window})"
    )
    bpos = (
        f"filter(sequence(1, greatest(length({text_col}) - 1, 1)), "
        f"i -> i >= {window} AND {win_hash} % {divisor} = 0)"
    )
    starts = "concat(array(1), transform(bp, b -> b + 1))"
    # built against the post-alias name "text", not text_col
    chunk = (
        f"transform(sequence(1, size(bp) + 1), "
        f"j -> substring(text, element_at({starts}, j), "
        f"coalesce(try_element_at(bp, j), length(text)) "
        f"- element_at({starts}, j) + 1))"
    )
    chunks = (
        fan_out_small(df)
        .filter(F.length(text_col) >= 1)
        .select("doc_id", F.col(text_col).alias("text"), F.expr(bpos).alias("bp"))
        .select("doc_id", F.posexplode(F.expr(chunk)).alias("ci", "ctext"))
        .select(
            "doc_id",
            "ci",
            F.length("ctext").alias("clen"),
            F.expr(HASH60_TPL.format(x="ctext")).alias("ch"),
        )
    )
    w = Window.partitionBy("ch").orderBy("doc_id", "ci")
    flagged = chunks.select(
        "doc_id",
        "clen",
        (F.row_number().over(w) > 1).cast("int").alias("dup"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("dup").cast("bigint").alias("n_dup_chunks"),
        F.sum("clen").cast("bigint").alias("chars_total"),
        F.sum(F.col("clen") * F.col("dup")).cast("bigint").alias(
            "chars_dup"
        ),
    )
