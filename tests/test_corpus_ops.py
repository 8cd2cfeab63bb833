"""Unit tests for the round-3 corpus-curation additions: exact
duplicated-span removal, bounded-candidate heavy hitters, source
distribution divergence, and temperature-scaled mixing.

The driver's documents table exercises these through the oracles;
fixtures here pin the *semantics* on adversarial inputs (canonical-copy
retention, candidate-superset invariance under repartitioning, zero
divergence for identical distributions, weight arithmetic).
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

import kafka_streams_dexcom_spark
from kafka_streams_dexcom_spark.operators.graph import CC_SINGLE_TASK_EDGES
from kafka_streams_dexcom_spark.operators.text import (
    heavy_hitters,
    source_divergence,
    span_dedup_rewrite,
)
from tests.conftest import oracle_reach

PKG_ROOT = pathlib.Path(kafka_streams_dexcom_spark.__file__).parent


def _holders(files, needles, same_line):
    """'path::definition' of each top-level statement in ``files``
    whose source holds every needle (on one line, if ``same_line``). A
    statement's source is the slice of its file's lines from its first
    line to its last, taken from one split of the file."""
    out = set()
    for f in files:
        src = f.read_text()
        lines = src.splitlines()
        for node in ast.parse(src).body:
            seg = lines[node.lineno - 1 : node.end_lineno]
            chunks = seg if same_line else ["\n".join(seg)]
            if not any(all(n in c for n in needles) for c in chunks):
                continue
            if isinstance(node, ast.Assign):
                name = ast.unparse(node.targets[0])
            else:
                name = getattr(node, "name", f"<line {node.lineno}>")
            out.add(f"{f.relative_to(PKG_ROOT).as_posix()}::{name}")
    return out


def _rows(df):
    return {r["doc_id"]: r.asDict() for r in df.collect()}


SPAN = "s1 s2 s3 s4 s5 s6 s7 s8"


def test_span_dedup_canonical_keeps_text(spark):
    df = spark.createDataFrame(
        [
            (1, f"alpha {SPAN} beta"),          # canonical (min doc_id)
            (2, f"gamma {SPAN} delta"),         # duplicate copy -> cut
            (3, "all distinct tokens here ok"),  # untouched
        ],
        "doc_id long, text string",
    )
    out = _rows(span_dedup_rewrite(df, k=8))
    assert out[1]["n_removed"] == 0
    assert out[1]["clean_text"] == f"alpha {SPAN} beta"
    assert out[2]["n_removed"] == 8
    assert out[2]["clean_text"] == "gamma delta"
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"] == "all distinct tokens here ok"


def test_span_dedup_overlapping_spans_union_coverage(spark):
    # doc 2 shares a 9-token run with doc 1: two overlapping duplicated
    # 8-grams whose coverage union is all 9 tokens.
    run = "r1 r2 r3 r4 r5 r6 r7 r8 r9"
    df = spark.createDataFrame(
        [(1, f"x {run}"), (2, f"{run} y")],
        "doc_id long, text string",
    )
    out = _rows(span_dedup_rewrite(df, k=8))
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "y"
    assert out[2]["n_removed"] == 9


def test_heavy_hitters_exact_and_partition_independent(spark):
    # 40 'hot' + 12 'warm' + singles; N = 57. m=4 -> threshold N/4 =
    # 14.25: only 'hot' qualifies even though 'warm' enters candidates.
    text = " ".join(["hot"] * 40 + ["warm"] * 12 + ["u1", "u2", "u3", "u4", "u5"])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    for parts in (1, 7):
        out = {
            r["term"]: r.asDict()
            for r in heavy_hitters(df.repartition(parts), m=4).collect()
        }
        assert set(out) == {"hot"}
        assert out["hot"]["n_occurrences"] == 40
        assert abs(out["hot"]["share"] - 40 / 57) < 1e-6


def test_heavy_hitters_matches_exhaustive_groupby(spark):
    df = spark.createDataFrame(
        [(i, f"t{i % 7} t{i % 3} filler{i}") for i in range(60)],
        "doc_id long, text string",
    ).repartition(5)
    got = {
        (r["term"], r["n_occurrences"])
        for r in heavy_hitters(df, m=16).collect()
    }
    toks = df.select(
        F.explode(F.split("text", r"\s+")).alias("term")
    )
    n = toks.count()
    want = {
        (r["term"], r["cnt"])
        for r in toks.groupBy("term").agg(F.count("*").alias("cnt")).collect()
        if r["cnt"] * 16 > n
    }
    assert got == want


def test_source_divergence_zero_for_identical_distributions(spark):
    # Both sources have the same unigram distribution -> per-source
    # distribution equals the corpus distribution -> KL = 0 exactly
    # (ln(1) = 0 before the floor).
    df = spark.createDataFrame(
        [
            (1, "a a b", "s1"),
            (2, "a a b", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in source_divergence(df).collect()}
    assert out["s1"]["kl_units"] == 0
    assert out["s2"]["kl_units"] == 0
    assert out["s1"]["n_tokens"] == 3 and out["s1"]["n_terms"] == 2


def test_source_divergence_skewed_source_positive(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a", "skew"),
            (2, "a b c d", "flat"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r.asDict() for r in source_divergence(df).collect()}
    # skew: p(a|skew)=1, p(a)=5/8 -> KL = ln(8/5) > 0
    assert out["skew"]["kl_divergence"] > 0.4
    # floor can push tiny contributions to -1 nano-units, never below
    assert out["flat"]["kl_units"] >= -4


def test_mix_temperature_weights(spark):
    """Exercise the actual query end-to-end on driver testdata and
    check its arithmetic against an independent Python replay."""
    import math

    import duckdb

    from kafka_streams_dexcom_spark.queries.text import (
        MIX_ALPHA_BUDGET,
        q_mix_temperature,
    )

    sf = "/root/testdata/sf0.001"
    out = {
        r["source"]: r.asDict()
        for r in q_mix_temperature(spark, sf).collect()
    }
    ns = dict(
        duckdb.sql(
            f"SELECT source, count(*) FROM '{sf}/documents.parquet' "
            "GROUP BY source"
        ).fetchall()
    )
    su = {s: math.floor(math.sqrt(n) * 1000) for s, n in ns.items()}
    denom = sum(su.values())
    assert set(out) == set(ns)
    for s, n in ns.items():
        wu = su[s] * 10**9 // denom
        assert out[s]["n_docs"] == n
        assert out[s]["weight_units"] == wu
        assert out[s]["alloc_docs"] == wu * MIX_ALPHA_BUDGET // 10**9
    total = sum(r["weight_units"] for r in out.values())
    assert 10**9 - len(ns) < total <= 10**9


def test_leakage_safe_split_pairs_never_straddle(spark):
    """The property the split exists for: near-dup pairs always land on
    the same side, and buckets are the md5 of the cluster label."""
    from kafka_streams_dexcom_spark.operators import dedup as dd
    from kafka_streams_dexcom_spark.queries.dedup import (
        NGRAM_THRESHOLD,
        q_leakage_safe_split,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    sf = "/root/testdata/sf0.001"
    out = q_leakage_safe_split(spark, sf)
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    pairs = dd.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), threshold=NGRAM_THRESHOLD
    ).collect()
    assert pairs, "fixture should contain near-dup pairs"
    for r in pairs:
        assert split_of[r["id_a"]] == split_of[r["id_b"]]
    frac_train = sum(1 for s in split_of.values() if s == "train") / len(
        split_of
    )
    assert 0.7 < frac_train < 1.0


def test_heavy_hitters_mg_overflow_path_stays_exact(spark):
    """Force the Misra-Gries decrement path (distinct terms >> capacity
    2m in every partition): the summary stays bounded, yet the true
    heavy hitter still survives and the recount returns its exact
    count."""
    rows = [
        (i, " ".join([f"u{i}_{j}" for j in range(20)] + ["hh"] * 5))
        for i in range(500)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).repartition(4)
    out = {
        r["term"]: r["n_occurrences"]
        for r in heavy_hitters(df, m=8).collect()
    }
    # N = 500*25 = 12500; threshold N/8 = 1562.5; only 'hh' (2500)
    assert out == {"hh": 2500}


def test_gap_fill_forward_carries_and_staleness(spark):
    from kafka_streams_dexcom_spark.operators.temporal import gap_fill

    ev = spark.createDataFrame(
        [
            (1, "2024-01-15 00:30:00", 10.0),
            (1, "2024-01-15 02:15:00", 20.0),
            (2, "2024-01-15 03:00:00", 7.0),  # exactly on a slot
        ],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    slots = spark.sql(
        "SELECT explode(sequence(timestamp'2024-01-15 00:00:00', "
        "timestamp'2024-01-15 04:00:00', interval 1 hour)) AS slot_ts"
    ).crossJoin(
        spark.createDataFrame([(1,), (2,)], "user_id long")
    )
    out = {
        (r["user_id"], str(r["slot_ts"])): r.asDict()
        for r in gap_fill(ev, slots).collect()
    }
    assert out[(1, "2024-01-15 00:00:00")]["value"] is None
    assert out[(1, "2024-01-15 01:00:00")]["value"] == 10.0
    assert out[(1, "2024-01-15 01:00:00")]["staleness_min"] == 30
    assert out[(1, "2024-01-15 03:00:00")]["value"] == 20.0
    assert out[(1, "2024-01-15 03:00:00")]["staleness_min"] == 45
    # an event exactly on the slot timestamp is included (<= semantics)
    assert out[(2, "2024-01-15 03:00:00")]["value"] == 7.0
    assert out[(2, "2024-01-15 03:00:00")]["staleness_min"] == 0
    assert out[(2, "2024-01-15 02:00:00")]["value"] is None


def test_gap_fill_linear_interpolation_math(spark):
    from kafka_streams_dexcom_spark.operators.temporal import (
        gap_fill_linear,
    )

    ev = spark.createDataFrame(
        [
            (1, "2024-01-15 00:30:00", 10.0),
            (1, "2024-01-15 02:15:00", 20.0),
            (2, "2024-01-15 03:00:00", 7.0),
        ],
        "user_id long, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    slots = spark.sql(
        "SELECT explode(sequence(timestamp'2024-01-15 00:00:00', "
        "timestamp'2024-01-15 04:00:00', interval 1 hour)) AS slot_ts"
    ).crossJoin(spark.createDataFrame([(1,), (2,)], "user_id long"))
    out = {
        (r["user_id"], str(r["slot_ts"])): r.asDict()
        for r in gap_fill_linear(ev, slots).collect()
    }
    # before the first event: backward fill
    assert out[(1, "2024-01-15 00:00:00")]["fill_mode"] == "bfill"
    assert out[(1, "2024-01-15 00:00:00")]["value"] == 10.0
    # between events: 10 + 10 * (30/105), truncated to 6 decimals
    r = out[(1, "2024-01-15 01:00:00")]
    assert r["fill_mode"] == "interp"
    assert abs(r["value"] - (10 + 10 * 30 / 105)) < 2e-6
    # after the last event: forward fill
    assert out[(1, "2024-01-15 04:00:00")]["fill_mode"] == "ffill"
    assert out[(1, "2024-01-15 04:00:00")]["value"] == 20.0
    # event exactly on the slot, with a neighbor on each side: exact
    assert out[(2, "2024-01-15 03:00:00")]["fill_mode"] in (
        "exact",
        "ffill",  # no later event for user 2 -> pv-only branch
    )
    assert out[(2, "2024-01-15 03:00:00")]["value"] == 7.0


def test_token_budget_pack_matches_global_cumsum(spark):
    """The two-level (bin offset + intra-bin window) running total must
    equal the naive single-window global cumsum it decomposes."""
    from pyspark.sql import Window as W

    from kafka_streams_dexcom_spark.queries.text import (
        q_token_budget_pack,
    )

    out = q_token_budget_pack(spark, "/root/testdata/sf0.001")
    wg = W.orderBy(
        F.col("quality_units").desc(), F.col("doc_id").asc()
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    check = out.withColumn("naive", F.sum("n_tokens").over(wg)).filter(
        F.col("naive") != F.col("cum_tokens")
    )
    assert check.count() == 0
    kept = out.filter("is_kept = 1")
    assert 0 < kept.count() < out.count()
    assert kept.agg(F.max("cum_tokens")).first()[0] <= 1500


def test_tokenize_ignores_leading_whitespace(spark):
    """' a b c' and 'a b c' must produce identical shingle sets — a
    phantom empty first token would shift every shingle and miss the
    near-dup (and diverge from the oracles' non-empty tokenization)."""
    from kafka_streams_dexcom_spark.operators.dedup import (
        hashed_shingle_corpus,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "  a b c d")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: set(r["sh_hashes"])
        for r in hashed_shingle_corpus(df).collect()
    }
    assert len(out[1]) == 2  # the shingles "a b c" and "b c d"
    assert out[1] == out[2]


def test_dq_rule_names_with_special_characters(spark):
    from pyspark.sql import functions as F2

    from kafka_streams_dexcom_spark.operators.dq import rowlocal_violations

    df = spark.createDataFrame([(1, 5.0), (2, -1.0)], "id long, v double")
    out = {
        r["rule"]: r["violations"]
        for r in rowlocal_violations(
            df,
            {
                "v > 0": F2.col("v") <= 0,
                "shipper's id set": F2.col("id").isNull(),
            },
        ).collect()
    }
    assert out == {"v > 0": 1, "shipper's id set": 0}
    from kafka_streams_dexcom_spark.operators.dq import rowlocal_violations as rv
    assert rv(df, {}).count() == 0


@pytest.mark.parametrize(
    "single_task_edges", [CC_SINGLE_TASK_EDGES, None], ids=["task", "loop"]
)
def test_graph_ops_normalize_duplicate_and_reversed_edges(
    spark, single_task_edges
):
    """Duplicate rows and reversed orientations of the same pair must
    not inflate degrees, ranks, or triangle counts — the operators
    document an undirected simple graph. PageRank's one-task kernel and
    its round loop (``single_task_edges=None``) agree to the unit."""
    from kafka_streams_dexcom_spark.operators.graph import (
        pagerank,
        triangle_counts,
    )

    clean = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "doc_a long, doc_b long"
    )
    dirty = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 2), (1, 3), (3, 3)],
        "doc_a long, doc_b long",
    )
    t_clean = sorted(
        (r["node"], r["triangles"], r["degree"]) for r in triangle_counts(clean).collect()
    )
    t_dirty = sorted(
        (r["node"], r["triangles"], r["degree"]) for r in triangle_counts(dirty).collect()
    )
    assert t_clean == t_dirty
    def ranks(pairs, edges):
        return sorted(
            (r["node"], r["pr_units"])
            for r in pagerank(pairs, single_task_edges=edges).collect()
        )

    other = None if single_task_edges else CC_SINGLE_TASK_EDGES
    pr_clean = ranks(clean, single_task_edges)
    assert pr_clean == ranks(dirty, single_task_edges)
    assert pr_clean == ranks(dirty, other)


def test_contamination_keeps_sub_n_token_eval_docs(spark):
    from kafka_streams_dexcom_spark.operators.dedup import (
        contamination_report,
    )

    ev = spark.createDataFrame(
        [(1, "tiny doc"), (2, "shared shingle text here okay")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [(100, "shared shingle text here definitely")],
        "doc_id long, text string",
    )
    out = {r["eval_doc"]: r.asDict() for r in contamination_report(ev, tr).collect()}
    # the 2-token doc has no 3-gram shingles but MUST still be reported
    assert set(out) == {1, 2}
    assert out[1]["containment"] == 0.0 and out[1]["train_doc"] is None
    assert out[2]["containment"] > 0.0 and out[2]["train_doc"] == 100


def test_kmeans_init_handles_offset_ids(spark):
    """Centroid init must be the k lowest ids, not filter(id < k) —
    offset id spaces otherwise silently yield zero centroids and empty
    results."""
    from kafka_streams_dexcom_spark.operators.clustering import (
        kmeans_assign,
    )

    rows = [
        (1000 + i, [float(i % 4) + 1.0, float((i * 7) % 5)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(df, k=4, iterations=2)
    assert out.count() == 40
    assert out.select("cell").distinct().count() >= 2


def test_text_metrics_ignore_phantom_empty_tokens(spark):
    """Whitespace padding must not add a '' token to any count, and a
    token-free document scores 0.0 instead of NaN."""
    from kafka_streams_dexcom_spark.operators.text import (
        quality_score,
        text_stats,
        token_counts,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat "), (2, "the cat sat"), (3, "   "), (4, "")],
        "doc_id long, text string",
    )
    ts = _rows(text_stats(df))
    assert ts[1]["n_tokens"] == ts[2]["n_tokens"] == 3
    assert ts[1]["avg_token_len"] == ts[2]["avg_token_len"]
    assert ts[3]["n_tokens"] == 0 and ts[3]["avg_token_len"] == 0.0
    qs = _rows(quality_score(df))
    assert qs[1]["alpha_ratio"] == 1.0
    assert qs[1]["quality_score"] == qs[2]["quality_score"]
    assert qs[3]["quality_score"] == 0.0 and qs[4]["quality_score"] == 0.0
    tc = _rows(token_counts(df))
    assert tc[1]["n_ws_tokens"] == 3 and tc[3]["n_ws_tokens"] == 0


def test_pii_counts_reconcile_with_redaction(spark):
    """A phone number embedded in an email local part is redacted as
    part of <EMAIL> — it must not also be counted as a phone."""
    from kafka_streams_dexcom_spark.operators.text import pii_scan

    df = spark.createDataFrame(
        [(1, "contact 555-123-4567@corp.com now"),
         (2, "call 555-123-4567 or 10.0.0.1")],
        "doc_id long, text string",
    )
    out = _rows(pii_scan(df))
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 0
    assert "<EMAIL>" in out[1]["redacted"]
    assert "<PHONE>" not in out[1]["redacted"]
    assert out[2]["n_phone"] == 1 and out[2]["n_ipv4"] == 1
    assert "<PHONE>" in out[2]["redacted"] and "<IP>" in out[2]["redacted"]


def test_winnow_fingerprints_short_docs_not_invisible(spark):
    from kafka_streams_dexcom_spark.operators.text import (
        winnow_fingerprints,
    )

    # 20 chars < k+window-1 = 23: one partial window, identical docs
    # share the fingerprint
    df = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrst"), (2, "abcdefghijklmnopqrst")],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: r["fingerprint"]
        for r in winnow_fingerprints(df).collect()
    }
    assert set(fps) == {1, 2} and fps[1] == fps[2]


def test_stratified_sample_keeps_unconfigured_language(spark):
    from kafka_streams_dexcom_spark.operators.text import stratified_sample

    df = spark.createDataFrame(
        [(i, "t", "ja", "s") for i in range(50)],
        "doc_id long, text string, lang string, source string",
    )
    # 'ja' has no configured rate: keep-all, not silently dropped
    assert stratified_sample(df, spark).count() == 50


def test_cdc_null_op_is_not_a_tombstone(spark):
    from kafka_streams_dexcom_spark.operators.temporal import cdc_apply

    log = spark.createDataFrame(
        [(1, 1, "upsert"), (1, 2, None), (2, 1, "delete")],
        "k long, seq long, op string",
    )
    out = cdc_apply(
        log, ["k"], F.col("seq"), F.col("op") == "delete"
    )
    keys = {r["k"] for r in out.collect()}
    assert keys == {1}  # null-op key survives; deleted key gone


def test_bm25_empty_query_terms(spark):
    from kafka_streams_dexcom_spark.operators.text import bm25_search

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert bm25_search(df, ()).count() == 0


def test_multimodal_oracle_byte_exact_on_non_ascii(spark, tmp_path):
    """The decode/meta oracles must operate on BYTES, not characters:
    a multi-byte first char ('Ä' = 0xC3 0x84) gives first byte 195 and
    a header covering 4 bytes, where char-based ascii()/substring()
    would yield 196 and >4 bytes."""
    import duckdb

    from kafka_streams_dexcom_spark.queries.multimodal import (
        ORACLES,
        q_multimodal_decode,
        q_multimodal_meta,
    )
    from tests.compare import compare

    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(1, "Ärzte über alles", "de", "src0", 16),
         (2, "plain ascii text", "en", "src1", 16)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{p}/*.parquet')")
    sf_dir = str(tmp_path)  # queries load {sf_dir}/documents.parquet
    r1 = compare(q_multimodal_meta(spark, sf_dir), con, ORACLES["multimodal_meta"])
    assert r1["values_match"], r1
    r2 = compare(q_multimodal_decode(spark, sf_dir), con, ORACLES["multimodal_decode"])
    assert r2["values_match"], r2


def test_semdedup_one_keeper_per_cluster(spark):
    """semdedup invariants on real testdata: clusters partition the
    (non-zero-norm) vector set, exactly one keeper per semantic
    cluster, and the keeper is the member farthest from its cell
    centroid (max d2, lowest-id tie-break) — the SemDeDup election."""
    from kafka_streams_dexcom_spark.queries.dedup import q_semdedup

    out = q_semdedup(spark, "/root/testdata/sf0.001").collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r.sem_cluster, []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(out)
    for cl, members in by_cluster.items():
        assert sum(m.keep for m in members) == 1, f"cluster {cl}"
        # cluster label is the min member id (CC min-label convention)
        assert cl == min(m.vec_id for m in members)
    # at least one multi-member semantic group at this tau, else the
    # query under test degenerates to identity
    assert any(len(v) > 1 for v in by_cluster.values())


def test_dsir_weights_tilt_toward_target(spark):
    """DSIR sanity on real testdata: target-language docs score a
    strictly higher mean weight than the rest (that is the entire point
    of the importance ratio), and per-doc n_feats equals the doc's
    whitespace token count."""
    from kafka_streams_dexcom_spark.queries.text import (
        DSIR_TARGET_LANG,
        q_dsir_weights,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    sf = "/root/testdata/sf0.001"
    out = q_dsir_weights(spark, sf)
    d = load_table(spark, sf, "documents").select(
        "doc_id",
        "lang",
        F.expr(
            "size(filter(split(text, '\\\\s+'), t -> t != ''))"
        ).cast("bigint").alias("n_toks"),
    )
    rows = out.join(d, "doc_id").collect()
    assert all(r.n_feats == r.n_toks for r in rows)
    tgt = [r.dsir_weight for r in rows if r.lang == DSIR_TARGET_LANG]
    rest = [r.dsir_weight for r in rows if r.lang != DSIR_TARGET_LANG]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)


def test_quality_classifier_learns_nonzero_model(spark):
    """The LR training loop must actually move the weights: scores are
    proper probabilities, not all identical (an all-zero weight vector
    would give a constant 0.5), and the hard prediction is exactly the
    0.5 threshold on the rounded score."""
    from kafka_streams_dexcom_spark.queries.text import (
        q_quality_classifier,
    )

    rows = q_quality_classifier(spark, "/root/testdata/sf0.001").collect()
    scores = {r.lr_score for r in rows}
    assert len(scores) > 1
    assert all(0.0 < r.lr_score < 1.0 for r in rows)
    assert all(r.pred_target == int(r.lr_score >= 0.5) for r in rows)


def test_quality_classifier_degenerate_docs(spark, tmp_path):
    """Empty/whitespace-only docs must still get a real score (ratio
    features coalesce to 0, never NULL), and a 100k-char doc must not
    blow up the gradient (log-scaled length feature): every score stays
    a proper probability."""
    from kafka_streams_dexcom_spark.queries.text import (
        q_quality_classifier,
    )

    rows = [
        (0, "", "en", "src0"),
        (1, "   ", "de", "src0"),
        (2, "the a " + "word " * 20000, "en", "src1"),
        (3, "plain short text.", "fr", "src1"),
    ]
    df = spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = q_quality_classifier(spark, str(tmp_path)).collect()
    assert len(out) == 4
    assert all(r.lr_score is not None for r in out)
    assert all(0.0 < r.lr_score < 1.0 for r in out)


def test_scd2_intervals_tile_per_user(spark):
    """SCD2 invariants: per user, intervals are disjoint and contiguous
    (each valid_to equals the next valid_from), exactly one open
    interval per user, and consecutive intervals always change state
    (runs are maximal)."""
    from kafka_streams_dexcom_spark.queries.temporal import (
        q_scd2_user_state,
    )

    rows = q_scd2_user_state(spark, "/root/testdata/sf0.001").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from_us)
        assert sum(r.is_current for r in ivs) == 1
        assert ivs[-1].valid_to_us is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to_us == b.valid_from_us, user
            assert a.event_type != b.event_type, user


def test_event_transitions_rows_normalize(spark):
    """Transition probabilities must sum to 1 within each from_type."""
    from kafka_streams_dexcom_spark.queries.temporal import (
        q_event_transitions,
    )

    rows = q_event_transitions(spark, "/root/testdata/sf0.001").collect()
    sums = {}
    for r in rows:
        assert r.p > 0
        sums[r.from_type] = sums.get(r.from_type, 0.0) + r.p
    assert sums and all(abs(s - 1.0) < 1e-9 for s in sums.values())


def test_hybrid_rrf_fuses_both_towers(spark):
    """RRF invariants: fused ranks are a contiguous 1..n per query;
    every score is positive and <= 2/(K+1); and the fusion is
    non-degenerate — at least one (query, doc) is scored by BOTH towers
    (score strictly above the single-tower maximum of 1/(K+1))."""
    from kafka_streams_dexcom_spark.queries.text import (
        RRF_K,
        q_hybrid_search_rrf,
    )

    # sf0.01, not this file's usual sf0.001: tower overlap is a
    # birthday-style event (lex top-20 ∩ dense top-50 over N docs) and
    # the 500-doc corpus is the smallest where the non-degeneracy
    # assertion holds on this fixed data
    rows = q_hybrid_search_rrf(spark, "/root/testdata/sf0.01").collect()
    single_max = 1.0 / (RRF_K + 1)
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert 0 < r.rrf_score <= 2 * single_max
    for q, rs in by_q.items():
        assert sorted(r.fused_rank for r in rs) == list(
            range(1, len(rs) + 1)
        )
    assert any(r.rrf_score > single_max for r in rows), (
        "no document was found by both towers — fusion is degenerate"
    )


def test_bpe_encode_counts_hand_case(spark):
    """One merge on a 2-doc corpus, counts verifiable by hand: words
    'aa'x2 / 'ab'x1 make (a,a) the argmax pair, so 'aa' encodes to 1
    token and 'ab' stays 2; an empty doc keeps zero counts and a NULL
    compression (guarded division)."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.operators.text import bpe_encode_counts

    df = spark.createDataFrame(
        [(1, "aa aa"), (2, "ab"), (3, "   ")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.n_chars, r.compression)
        for r in bpe_encode_counts(df, n_merges=1).collect()
    }
    assert got[1] == (2, 2, 4, 2.0)
    assert got[2] == (1, 2, 2, 1.0)
    assert got[3] == (0, 0, 0, None)


def test_bpe_encode_matches_train_merge_table(spark):
    """The encode path folds the SAME merges bpe_train reports — the
    shared loop cannot diverge between the two query surfaces."""
    from kafka_streams_dexcom_spark.operators.text import (
        BPE,
        _merge_loop,
        bpe_train,
    )

    df = spark.createDataFrame(
        [(1, "foo foofoo bar barbar foo"), (2, "bar foo barbar")],
        "doc_id long, text string",
    )
    want = {
        (r["round"], r["pair"]) for r in bpe_train(df, n_merges=3).collect()
    }
    merges, _ = _merge_loop(df, "text", 3, BPE)
    got = {(r["round"], r["pair"]) for r in merges.collect()}
    assert got == want and len(got) == 3


def test_time_in_range_duration_crediting(spark):
    """Hand-derived TIR: each reading is credited time-to-next capped
    at 600s; the final reading gets the cap; the reference's INCLUSIVE
    75..180 band decides the category; pct is exact integer
    milli-percent of the user's credited total."""
    from kafka_streams_dexcom_spark.queries.temporal import (
        TIR_CAP_US,
        q_time_in_range,
    )
    import kafka_streams_dexcom_spark.queries.temporal as qt
    from unittest import mock

    us = 1_000_000
    rows = [
        # user 1: 300s low, 300s in-range (boundary 75 is IN), then a
        # 2-hour dropout gap (capped at 600s), final reading capped
        (1, 0 * us, 10, 74.99),
        (1, 300 * us, 11, 75.0),
        (1, 600 * us, 12, 180.0),   # in-range upper boundary inclusive
        (1, 7800 * us, 13, 180.01),  # after dropout; final -> cap
    ]
    df = spark.createDataFrame(
        [(u, t, e, v) for u, t, e, v in rows],
        "user_id long, ts_us long, event_id long, value double",
    )
    from pyspark.sql import functions as F

    events = df.select(
        "user_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "event_id",
        "value",
    )
    with mock.patch.object(
        qt, "load_table", lambda _s, _d, _t: events
    ):
        out = {
            (r.user_id, r.category): r
            for r in q_time_in_range(spark, "unused").collect()
        }
    low = out[(1, "low")]
    inr = out[(1, "in_range")]
    high = out[(1, "high")]
    assert (low.n_readings, low.dur_us) == (1, 300 * us)
    # 75.0 at t=300 credited 300s; 180.0 at t=600 credited the CAP
    # (the 7200s dropout is capped)
    assert (inr.n_readings, inr.dur_us) == (2, 300 * us + TIR_CAP_US)
    assert (high.n_readings, high.dur_us) == (1, TIR_CAP_US)
    tot = low.dur_us + inr.dur_us + high.dur_us
    assert low.pct_milli == low.dur_us * 100000 // tot
    assert sum(r.pct_milli for r in out.values()) <= 100000


def test_unigram_encode_hand_case(spark):
    """Unigram-LM apply on a hand-checkable corpus: 'xyz' (the dominant
    word) trains to a single piece, so it encodes 1 token; a 17-char
    word takes the long-word char fallback; an empty doc keeps zero
    counts and a NULL compression."""
    from kafka_streams_dexcom_spark.operators.text import (
        unigram_encode_counts,
    )

    df = spark.createDataFrame(
        [(1, "xyz xyz"), (2, "q"), (3, "   "), (4, "a" * 17)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.n_chars, r.compression)
        for r in unigram_encode_counts(df).collect()
    }
    assert got[1] == (2, 2, 6, 3.0)
    assert got[2] == (1, 1, 1, 1.0)
    assert got[3] == (0, 0, 0, None)
    assert got[4] == (1, 17, 17, 1.0)


def test_unigram_encode_oov_fallback(spark):
    """The frozen-artifact apply path is TOTAL on corpora the tokenizer
    was never trained on (ADVICE r8): words containing characters
    outside the vocabulary take the one-token-per-char fallback instead
    of corrupting counts through an infeasible DP (NULL toks → NULL
    n_tokens) or dropping out of the candidate join (undercounted
    n_words). Covered words still Viterbi-segment normally."""
    from kafka_streams_dexcom_spark.operators.text import (
        unigram_encode_counts,
        unigram_train,
    )

    train = spark.createDataFrame(
        [(1, "xyz xyz ab ab")], "doc_id long, text string"
    )
    vocab = (
        unigram_train(train)
        .select(
            F.col("piece").alias("pc"),
            "cnt",
            F.col("prob").alias("p"),
        )
    )
    # apply corpus: 'ab' covered (segments under the vocab), 'aQb' has
    # the OOV char Q mid-word, 'QQ' is fully OOV (zero candidate
    # matches — the old dropout case)
    apply_df = spark.createDataFrame(
        [(10, "ab aQb QQ"), (11, "xyz")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_words, r.n_tokens, r.n_chars)
        for r in unigram_encode_counts(apply_df, vocab=vocab).collect()
    }
    # every whitespace word is counted: 3 words, none dropped, no NULLs
    # 'ab' -> 1 token (trained piece), 'aQb' -> 3 (per-char fallback),
    # 'QQ' -> 2 (per-char fallback)
    assert got[10] == (3, 1 + 3 + 2, 2 + 3 + 2)
    assert got[11] == (1, 1, 3)


def test_unigram_encode_pretrained_matches_inquery(spark):
    """On the training corpus (full coverage) the frozen-artifact apply
    path and the in-query-training path are exactly equal — the OOV
    routing is a no-op when the coverage guarantee holds. The vocab is
    the raw EM output (full-precision p), exactly what the shared
    unigram_artifacts table stores."""
    from kafka_streams_dexcom_spark.operators.text import (
        _unigram_em_loop,
        unigram_encode_counts,
    )

    df = spark.createDataFrame(
        [(1, "xyz xyz"), (2, "q"), (3, "   "), (4, "a" * 17)],
        "doc_id long, text string",
    )
    vocab = _unigram_em_loop(df, "text", 2, 80, 4, 16)
    a = sorted(
        unigram_encode_counts(df).collect(), key=lambda r: r.doc_id
    )
    b = sorted(
        unigram_encode_counts(df, vocab=vocab).collect(),
        key=lambda r: r.doc_id,
    )
    assert a == b


def test_unigram_train_prunes_and_keeps_chars(spark):
    """EM pruning drops multi-char pieces that win no Viterbi
    occurrences (xy/yz lose to the whole-word piece xyz) while every
    single character survives with the add-one floor — the coverage
    guarantee that keeps the DP feasible on any future word."""
    from kafka_streams_dexcom_spark.operators.text import unigram_train

    df = spark.createDataFrame(
        [(1, "xyz xyz"), (2, "q"), (3, "   "), (4, "a" * 17)],
        "doc_id long, text string",
    )
    pieces = {r.piece: r for r in unigram_train(df).collect()}
    assert "xyz" in pieces and pieces["xyz"].cnt == 2
    assert "xy" not in pieces and "yz" not in pieces
    assert {"x", "y", "z", "q", "a"} <= set(pieces)
    assert all(r.cnt >= 1 for r in pieces.values())
    assert abs(sum(r.prob for r in pieces.values()) - 1.0) < 1e-4


def test_wordpiece_train_likelihood_objective(spark):
    """WordPiece picks the LIKELIHOOD-gain argmax, not the raw pair
    count: on the low/lower/lowest/slow corpus the most frequent pair
    is l+##o (8 word-weighted occurrences) but rarer symbols give
    ##s+##t the better count/(c1*c2) score — and the merged symbol
    keeps exactly one '##' (continuation side stripped)."""
    from kafka_streams_dexcom_spark.operators.text import (
        WORDPIECE,
        _merge_loop,
    )

    df = spark.createDataFrame(
        [(1, "low lower lowest low low slow"), (2, "low slow slowest")],
        "doc_id bigint, text string",
    )
    merges, vocab = _merge_loop(df, "text", 4, WORDPIECE)
    rows = {r["round"]: r for r in merges.collect()}
    assert rows[1]["pair"] == "##s+##t"  # 2/(3*3) beats l+##o's 8/(8*8)
    assert rows[4]["pair"] == "s+##l"
    syms = {r["w"]: r["syms"] for r in vocab.collect()}
    assert syms["slow"] == ["sl", "##o", "##w"]  # s+##l -> sl (## stripped)
    assert syms["slowest"] == ["sl", "##o", "##w", "##est"]


def test_wordpiece_encode_greedy_and_unk_legs(spark):
    """Greedy longest-match-first under a frozen piece set, with all
    three [UNK] legs: dead-ended walk (in-vocab prefix then no match),
    fully OOV characters (no candidates at all), and over-long words —
    each counts ONE token, chars still counted."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.operators.text import (
        WORDPIECE,
        _merge_loop,
        wordpiece_encode_counts,
    )

    train = spark.createDataFrame(
        [(1, "low lower lowest low low slow"), (2, "low slow slowest")],
        "doc_id bigint, text string",
    )
    _m, vocab = _merge_loop(train, "text", 4, WORDPIECE)
    pieces = vocab.select(F.explode("syms").alias("s")).distinct()
    apply_df = spark.createDataFrame(
        [(9, "low lowx zz " + "a" * 20), (10, "")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r
        for r in wordpiece_encode_counts(apply_df, pieces=pieces).collect()
    }
    # low=3 toks; lowx dead-ends -> 1; zz OOV -> 1; a*20 too long -> 1
    assert (
        got[9]["n_words"],
        got[9]["n_tokens"],
        got[9]["n_chars"],
        got[9]["n_unk_words"],
    ) == (4, 6, 29, 3)
    assert (got[10]["n_tokens"], got[10]["n_unk_words"]) == (0, 0)
    assert got[10]["compression"] is None


@pytest.mark.parametrize("family", ["bpe", "bytebpe", "wordpiece"])
def test_exhausted_merge_round_keeps_vocabulary(spark, family):
    """Once every word is a single symbol there is no pair left to
    merge: later rounds add no merge row and leave the vocabulary as it
    is — in the Spark driver AND in the DuckDB replay. (An empty argmax
    cross-joined into the vocabulary used to wipe it, so encode counted
    nothing and WordPiece called every word [UNK].)"""
    import duckdb

    from kafka_streams_dexcom_spark.operators import text as tx
    from kafka_streams_dexcom_spark.queries import text as qt

    rows = [(1, "ab ab"), (2, "ab")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    fam = {"bpe": tx.BPE, "bytebpe": tx.BYTEBPE, "wordpiece": tx.WORDPIECE}
    merges, vocab = tx._merge_loop(df, "text", 3, fam[family])
    assert merges.count() == 1
    # 'a', 'b' are the UTF-8 bytes 0x61, 0x62 in the byte family
    merged = "6162" if family == "bytebpe" else "ab"
    assert {r["w"]: r["syms"] for r in vocab.collect()} == {"ab": [merged]}
    if family == "bpe":
        enc = tx.bpe_encode_counts(df, n_merges=3)
        oracle = qt._bpe_enc_head(3, "bpe") + qt._encode_tail(n_chars="wlen")
        cols = ["n_words", "n_tokens", "n_chars", "compression"]
        want = {1: (2, 2, 4, 2.0), 2: (1, 1, 2, 2.0)}
    elif family == "bytebpe":
        enc = tx.bytebpe_encode_counts(df, vocab)
        oracle = qt._bpe_enc_head(3, "bytebpe") + qt._encode_tail(
            n_bytes="wlen"
        )
        cols = ["n_words", "n_tokens", "n_bytes", "compression"]
        want = {1: (2, 2, 4, 2.0), 2: (1, 1, 2, 2.0)}
    else:
        enc = tx.wordpiece_encode_counts(df, n_merges=3)
        oracle = qt._wordpiece_enc_head(3) + qt._encode_tail(
            n_chars="wlen", n_unk_words="is_unk"
        )
        cols = ["n_words", "n_tokens", "n_chars", "n_unk_words", "compression"]
        want = {1: (2, 2, 4, 0, 2.0), 2: (1, 1, 2, 0, 2.0)}
    got = {r["doc_id"]: tuple(r[c] for c in cols) for r in enc.collect()}
    assert got == want
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") AS t(doc_id, text)"
    )
    dk = con.execute(oracle).fetchdf().set_index("doc_id")
    assert {
        i: tuple(dk.loc[i, c].item() for c in cols) for i in dk.index
    } == want


def test_wordpiece_encode_longest_match_first(spark):
    """The greedy walk takes the LONGEST piece at each position — a
    word covered by both short and long pieces tokenizes to the long
    ones (BERT's rule), not a left-to-right shortest path."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.operators.text import (
        wordpiece_encode_counts,
    )

    pieces = spark.createDataFrame(
        [("a",), ("ab",), ("abc",), ("##b",), ("##c",), ("##d",)],
        "s string",
    )
    df = spark.createDataFrame(
        [(1, "abcd"), (2, "abc"), (3, "ab")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["n_tokens"]
        for r in wordpiece_encode_counts(df, pieces=pieces).collect()
    }
    # abcd -> [abc, ##d] (2), NOT [a,##b,##c,##d]; abc -> [abc]; ab -> [ab]
    assert got == {1: 2, 2: 1, 3: 1}


def test_bloom_dedup_screen_catches_replayed_docs(spark):
    """A Bloom screen over the corpus must flag every re-delivered
    (exact-text) doc as probably_seen with actually_seen = 1 and never
    count it a false positive; a genuinely new doc with no hash
    coincidence passes clean. Bloom's no-false-negatives guarantee is
    structural (all k corpus positions are in the set), this pins the
    relational plumbing to it."""
    from kafka_streams_dexcom_spark.operators.dedup import (
        bloom_dedup_screen,
    )

    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} body") for i in range(1, 201)],
        "doc_id bigint, text string",
    )
    new = spark.createDataFrame(
        [
            (1001, "corpus document number 7 body"),  # exact replay
            (1002, "corpus document number 150 body"),  # exact replay
            (1003, "a genuinely unseen document"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (
            r["probably_seen"], r["actually_seen"], r["false_positive"]
        )
        for r in bloom_dedup_screen(new, corpus).collect()
    }
    assert got[1001] == (1, 1, 0)
    assert got[1002] == (1, 1, 0)
    # 1003: never actually seen; the filter MAY false-positive, but
    # then the audit flags it — the two columns can't disagree silently
    ps, seen, fp = got[1003]
    assert seen == 0 and fp == ps


def test_boilerplate_rewrite_vs_pairwise_policy(spark):
    """A template 8-gram in >= 3 docs is cut from EVERY doc (no
    canonical copy); a span shared by only 2 docs is boilerplate in
    neither — the policy line between boilerplate_ngram_rewrite and
    span_dedup_rewrite (which would keep one copy and cut the other)."""
    from kafka_streams_dexcom_spark.operators.text import (
        boilerplate_ngram_rewrite,
    )

    tpl = "this site uses cookies accept to continue reading"  # 8 words
    pair = "shared passage between exactly two documents only here"  # 8
    rows = [
        (1, f"alpha beta {tpl} gamma"),
        (2, f"{tpl} delta epsilon"),
        (3, f"zeta {tpl}"),
        (4, f"unique text {pair}"),
        (5, f"other words {pair}"),
        (6, "wholly original document body nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: r
        for r in boilerplate_ngram_rewrite(df, k=8, min_docs=3).collect()
    }
    # the 8-word template is exactly one 8-gram; all 8 tokens covered
    assert got[1]["clean_text"] == "alpha beta gamma"
    assert got[2]["clean_text"] == "delta epsilon"
    assert got[3]["clean_text"] == "zeta"
    assert got[1]["n_removed"] == 8
    # two-doc shared span survives in BOTH (df = 2 < min_docs)
    assert got[4]["n_removed"] == 0 and pair in got[4]["clean_text"]
    assert got[5]["n_removed"] == 0
    assert got[6]["n_removed"] == 0


def test_one_token_core_per_engine():
    """The text n-gram family has one token-window core per engine. The
    whitespace tokenizer is written once per engine
    (operators/dedup.TOKENS_TPL, queries/duck.DUCK_TOKENS), the k-gram
    start explode once on the Spark side (operators/text.gram_starts;
    repetition_stats' two-order explode is its own). The span
    rewrites' LEFT ANTI over a posexplode rebuild is written once on the
    Spark side (operators/text.excise_spans) and their ``LEFT JOIN cov``
    once on the DuckDB side (queries/text._span_excise). And no oracle
    reaches a Spark-side token builder: an oracle that shares the
    engine's code cannot catch the engine's bug."""
    package = sorted(PKG_ROOT.rglob("*.py"))
    queries = sorted((PKG_ROOT / "queries").glob("*.py"))
    assert _holders(package, ["split(", r"'\\\\s+'"], True) == {
        "operators/dedup.py::TOKENS_TPL"
    }
    assert _holders(queries, ["string_split_regex("], True) == {
        "queries/duck.py::DUCK_TOKENS"
    }
    assert _holders(package, ["sequence(1, size(tk) - {"], True) == {
        "operators/text.py::gram_starts"
    }
    assert _holders(package, ['"left_anti"', "posexplode("], False) == {
        "operators/text.py::excise_spans"
    }
    assert _holders(queries, ["LEFT JOIN cov"], True) == {
        "queries/text.py::_span_excise"
    }

    seen, offenders = oracle_reach({
        "TOKENS_TPL", "tokenize", "_tokens", "gram_starts", "excise_spans",
        "host_lines",
    })
    assert {"DUCK_TOKENS", "_span_grams", "_span_excise"} <= seen
    assert "host_lines_sql" in seen
    assert offenders == []


def test_one_merge_chain_per_engine():
    """The merge-trained tokenizer families (BPE, byte-level BPE,
    WordPiece) run on one merge chain per engine, and all four
    tokenizer families on one apply tail per engine. The greedy merge
    fold is written once on each side (queries/text._merge_chain,
    operators/text.MERGE_FOLD_TPL), the per-doc encode tail once
    (queries/text._encode_tail, operators/text._encode_counts) and the
    per-language fertility once (queries/text._fertility_tail,
    operators/text.lang_fertility). And no oracle reaches a Spark
    tokenizer builder."""
    package = sorted(PKG_ROOT.rglob("*.py"))
    queries = sorted((PKG_ROOT / "queries").glob("*.py"))

    assert _holders(queries, ["list_reduce(list_transform(syms"], True) == {
        "queries/text.py::_merge_chain"
    }
    assert _holders(
        package, ["CAST(array() AS array<string>), (acc, s) ->"], True
    ) == {"operators/text.py::MERGE_FOLD_TPL"}
    assert _holders(queries, ["AS compression"], True) == {
        "queries/text.py::_encode_tail"
    }
    assert _holders(package, ['alias("compression")'], True) == {
        "operators/text.py::_encode_counts"
    }
    assert _holders(queries, ["AS fertility"], True) == {
        "queries/text.py::_fertility_tail"
    }
    assert _holders(package, ['alias("fertility")'], True) == {
        "operators/text.py::lang_fertility"
    }

    seen, offenders = oracle_reach({
        "_merge_loop", "MergeFamily", "BPE", "BYTEBPE", "WORDPIECE",
        "BYTEBPE_SYMS_TPL", "MERGE_FOLD_TPL", "vocab_sums", "_encode_counts",
        "lang_fertility",
    })
    assert {
        "_merge_chain", "_MERGE_FAMILIES_DUCK", "_WORDS_DUCK",
        "_vocab_sums_duck", "_encode_tail", "_fertility_tail",
    } <= seen
    assert offenders == []
