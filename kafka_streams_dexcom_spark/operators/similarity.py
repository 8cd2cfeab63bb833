"""Approximate-nearest-neighbor similarity search over embedding columns.

Three strategies, cheapest-to-run first at small scale, rightmost at 100 TB:

- brute-force: broadcast the query set, cross-join, cosine per pair,
  two-level top-k (local per-partition top-k, then global) so no single
  reducer ever sees more than num_partitions · k candidate rows per query.
- sign-LSH: 4 random-hyperplane sign bits → 16 buckets; only same-bucket
  candidates are scored. Hyperplanes are inline literal constants shared
  with the oracle. At scale: more tables + multi-probe, constants
  broadcast instead of inlined.
- IVF: coarse quantizer from a cluster column (here the embedding table's
  label; in production, k-means centroids) — centroids computed as
  elementwise means, each query probes its nearest centroid's cell only.

Dot products are sequential left folds (aggregate over zip_with) so
results are bit-identical to the DuckDB oracle's list_reduce fold — which
makes ranking deterministic without rounding tricks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    DOT_EXPR_TPL,
    with_embedding_norm,
)

LSH_BITS = 4
MP_TABLES = 3
MP_BITS = 6
# Probe radius 2 (home bucket + all 1-bit and 2-bit flips = 22 probes per
# table): measured recall@10 on the sf0.01 sweep 0.96 vs 0.46 at radius 1,
# at indistinguishable wall-clock — probes are broadcast rows, so widening
# the probe set costs almost nothing next to adding tables (memory) or
# rehashing the corpus. See BASELINE.md ANN recall matrix.
MP_RADIUS = 2
from kafka_streams_dexcom_spark.functions.hashing import (  # noqa: E402
    _LCG_A,
    _LCG_C,
    _LCG_M,
)


def lsh_planes(bits: int = LSH_BITS, dim: int = 64, seed: int = 7):
    """Deterministic pseudo-random hyperplanes with components in
    [-1, 1] at 3-decimal resolution — inlined as literals in both the
    Spark expression and the oracle SQL so both engines use the exact
    same planes."""
    state = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (_LCG_A * state + _LCG_C) % _LCG_M
            row.append((state % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def _topk(
    scored: DataFrame, part_cols: list[str], order, k: int
) -> DataFrame:
    """Top-k per key as ONE rank window: Spark 3.5+'s WindowGroupLimit
    rule inserts a per-map-partition partial limit BELOW the exchange
    (and compiles the empty-partition case to TakeOrderedAndProject), so
    no reducer materializes the full candidate list. The handwritten
    spark_partition_id() local-prune pass this replaces (round 13) paid
    an extra hash exchange + two sorts per top-k for the same pruning;
    the sim_search_* rows of PLAN_SHAPES.json pin the WindowGroupLimit
    node each top-k plans (checked by tests/test_plans.py). Requires
    k <= spark.sql.optimizer.windowGroupLimitThreshold (default 1000;
    every caller's k is <= 1000)."""
    global_w = Window.partitionBy(*part_cols).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
    )


def scored_pairs(queries: DataFrame, candidates: DataFrame, on=None) -> DataFrame:
    """Join queries to candidates (cross when ``on`` is None) and score
    with exact cosine. Queries are broadcast — the candidate side never
    shuffles."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
        *([F.col(c) for c in (on or [])]),
    )
    c = candidates.select(
        "vec_id",
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
        *([F.col(c_) for c_ in (on or [])]),
    )
    joined = (
        c.join(F.broadcast(q), on) if on else c.crossJoin(F.broadcast(q))
    ).filter(F.col("vec_id") != F.col("query_id"))
    dot = F.expr(DOT_EXPR_TPL.format(a="qvec", b="cvec"))
    return joined.withColumn(
        "cos_sim_raw", dot / (F.col("qnorm") * F.col("cnorm"))
    )


def brute_force_topk(
    emb: DataFrame, query_ids, k: int = 10
) -> DataFrame:
    """Baseline exact top-k cosine search for a set of query vectors."""
    base = with_embedding_norm(emb)
    queries = base.filter(F.col("vec_id").isin(list(query_ids)))
    scored = scored_pairs(queries, base)
    out = _topk(
        scored,
        ["query_id"],
        [F.col("cos_sim_raw").desc(), F.col("vec_id").asc()],
        k,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim_raw", 6).alias("cos_sim"),
        "rank",
    )


def bucket_expr(vec_col: str, planes) -> str:
    """Spark SQL expression for the sign-LSH bucket id of a vector."""
    terms = []
    for j, plane in enumerate(planes):
        lit = "array(" + ", ".join(f"{x}D" for x in plane) + ")"
        dot = DOT_EXPR_TPL.format(a=vec_col, b=lit)
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


def lsh_topk(emb: DataFrame, query_ids, k: int = 10) -> DataFrame:
    """ANN: score only candidates in the query's sign-LSH bucket."""
    planes = lsh_planes()
    base = with_embedding_norm(emb).withColumn(
        "bucket", F.expr(bucket_expr("vec", planes))
    )
    queries = base.filter(F.col("vec_id").isin(list(query_ids)))
    scored = scored_pairs(queries, base, on=["bucket"])
    out = _topk(
        scored,
        ["query_id"],
        [F.col("cos_sim_raw").desc(), F.col("vec_id").asc()],
        k,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim_raw", 6).alias("cos_sim"),
        "rank",
    )


def table_planes(
    tables: int = MP_TABLES, bits: int = MP_BITS, dim: int = 64
):
    """One independent hyperplane set per hash table (distinct seeds)."""
    return [lsh_planes(bits, dim, seed=11 + 13 * t) for t in range(tables)]


def probe_flips(bits: int, radius: int) -> list[int]:
    """XOR masks for every bucket within Hamming distance ``radius`` of
    the home bucket (mask 0): sum of C(bits, r) masks for r = 0..radius
    — the knob that trades probe count for recall without adding tables
    (memory). Generic in the radius (no silent cap): radius=1 gives
    bits+1 probes, radius=2 adds the C(bits,2) two-bit flips, etc."""
    from itertools import combinations  # noqa: PLC0415

    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    flips = []
    for r in range(min(radius, bits) + 1):
        for idxs in combinations(range(bits), r):
            mask = 0
            for j in idxs:
                mask |= 1 << j
            flips.append(mask)
    return flips


def multiprobe_lsh_topk(
    emb: DataFrame,
    query_ids,
    k: int = 10,
    tables: int = MP_TABLES,
    bits: int = MP_BITS,
    radius: int = MP_RADIUS,
) -> DataFrame:
    """Multi-table, multi-probe sign-LSH ANN — the scale configuration of
    ``lsh_topk`` (which is the single-table teaching baseline).

    - L independent tables: a true neighbor is missed only if it hashes
      away from the query in EVERY table (miss rate ε^L, not ε).
    - Multi-probe: each query also probes every bucket within Hamming
      distance ``radius`` of its own (radius 2 -> 1 + bits + C(bits,2)
      probes per table), recovering neighbors that flipped low-margin
      sign bits — the standard way to hold recall while keeping tables
      (memory) low; probe rows are broadcast, so the radius is nearly
      free compared to adding tables.

    Scale shape: candidates are exploded to one row per (vector, table)
    — linear in L, no pairwise blowup; the probe set (|Q|·L·Σ C(bits,r)
    rows, r ≤ radius — 22/table at bits=6, radius=2)
    is broadcast, so the candidate side never shuffles for the
    join; the dedup groupBy shuffles only matched candidates. Bucket
    signatures are computed once per vector in a projection BELOW the
    generator, so the 18 fold dot-products are not re-evaluated per
    generated row."""
    planes = table_planes(tables, bits)
    base = with_embedding_norm(emb)
    for t in range(tables):
        base = base.withColumn(
            f"__b{t}", F.expr(bucket_expr("vec", planes[t]))
        )
    cand_structs = ", ".join(
        f"struct({t} AS tbl, __b{t} AS bucket)" for t in range(tables)
    )
    cands = base.select(
        "vec_id",
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
        F.explode(F.expr(f"array({cand_structs})")).alias("tb"),
    ).select(
        "vec_id", "cvec", "cnorm",
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )
    flips = probe_flips(bits, radius)
    probe_structs = ", ".join(
        f"struct({t} AS tbl, (__b{t} ^ {f}) AS bucket)"
        for t in range(tables)
        for f in flips
    )
    probes = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
        F.explode(F.expr(f"array({probe_structs})")).alias("tb"),
    ).select(
        "query_id", "qvec", "qnorm",
        F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
    )
    dot = F.expr(DOT_EXPR_TPL.format(a="qvec", b="cvec"))
    scored = (
        cands.join(F.broadcast(probes), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim_raw", dot / (F.col("qnorm") * F.col("cnorm")))
        # a candidate can match in several tables/probes — keep one row
        # (the score is identical on every match, max() just dedups)
        .groupBy("query_id", "vec_id")
        .agg(F.max("cos_sim_raw").alias("cos_sim_raw"))
    )
    out = _topk(
        scored,
        ["query_id"],
        [F.col("cos_sim_raw").desc(), F.col("vec_id").asc()],
        k,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim_raw", 6).alias("cos_sim"),
        "rank",
    )


def ivf_centroids(base: DataFrame, cell_col: str = "label") -> DataFrame:
    """Elementwise-mean centroid per cell. Components are rounded to 6
    decimals to absorb summation-order jitter across engines/partitions
    (the coarse quantizer only needs approximate centroids anyway)."""
    dim = F.posexplode(F.col("vec")).alias("pos", "x")
    per_dim = (
        base.select(cell_col, dim)
        .groupBy(cell_col, "pos")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
    )
    return per_dim.groupBy(cell_col).agg(
        F.expr("transform(array_sort(collect_list(struct(pos, cx))), s -> s.cx)")
        .alias("centroid")
    )


def ivf_topk(
    emb: DataFrame,
    query_ids,
    k: int = 10,
    cell_col: str = "label",
    nprobe: int = 1,
) -> DataFrame:
    """IVF search: assign each query to its ``nprobe`` nearest centroids
    (dot-product ranking over ~#cells rows — broadcast; NOTE this is the
    cosine-family probe and assumes roughly equi-norm centroids — the
    L2-ranked sibling ivfpq_topk probes by min L2 for exactly this
    reason), then brute-force
    only within the probed cells. Cells partition the corpus, so a
    candidate is scored at most once per query even with nprobe > 1;
    scanned fraction grows linearly with nprobe while recall climbs
    toward exact."""
    base = with_embedding_norm(emb)
    cents = ivf_centroids(base, cell_col)
    queries = base.filter(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    qc = queries.crossJoin(F.broadcast(cents)).withColumn(
        "cdot", F.expr(DOT_EXPR_TPL.format(a="qvec", b="centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cdot").desc(), F.col(cell_col).asc()
    )
    probe = (
        qc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "qvec", "qnorm", F.col(cell_col).alias("cell"))
    )
    cands = base.select(
        "vec_id",
        F.col("vec").alias("cvec"),
        F.col("norm").alias("cnorm"),
        F.col(cell_col).alias("cell"),
    )
    scored = cands.join(F.broadcast(probe), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = scored.withColumn(
        "cos_sim_raw",
        F.expr(DOT_EXPR_TPL.format(a="qvec", b="cvec"))
        / (F.col("qnorm") * F.col("cnorm")),
    )
    out = _topk(
        scored,
        ["query_id"],
        [F.col("cos_sim_raw").desc(), F.col("vec_id").asc()],
        k,
    )
    return out.select(
        "query_id",
        "vec_id",
        F.round("cos_sim_raw", 6).alias("cos_sim"),
        "rank",
    )


FP_SCALE = 1 << 20  # fixed-point unit: floor(x * 2^20)


def matmul_topk(emb: DataFrame, query_ids, k: int = 10) -> DataFrame:
    """Arrow-batched matrix-multiply brute force — the SCALE.md knob for
    "more queries → matrix-multiply via Pandas UDF batches": instead of
    one Catalyst fold per (query, candidate) pair, each Arrow batch of
    candidates is scored against ALL queries with a single int64 GEMM.

    Exactness discipline: embeddings are fixed-pointed to 2^20 units
    (floor of the double value — bit-identical on both engines), so the
    dot products are EXACT int64 arithmetic (64 dims × 2^21 × 2^21 <
    2^48 — no overflow, no float summation order), and the cosine is a
    fixed-order double expression over exact integers. Rankings are
    therefore deterministic and the DuckDB oracle replays them exactly —
    the usual objection to numpy-side scoring (pairwise float sums) is
    engineered away.

    The query matrix is a bounded driver-side constant (|query_ids| × 64
    int64s — same footprint class as the inlined LSH hyperplanes), NOT a
    corpus collect; candidates stream through mapInPandas and only
    per-batch top-k rows (k per query per batch) leave Python."""
    iv_expr = (
        "transform(embedding, "
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0D) AS BIGINT))"
    )
    nsq_expr = "aggregate(transform(ivec, x -> x * x), 0L, (a, b) -> a + b)"
    from kafka_streams_dexcom_spark.sources.files import fan_out_small

    # fan out a small single-partition input like every sibling (via
    # with_embedding_norm elsewhere): the Arrow GEMM stage is CPU-bound
    # and would otherwise run serially on one core
    base = (
        fan_out_small(emb).select("vec_id", F.expr(iv_expr).alias("ivec"))
        .withColumn("nsq", F.expr(nsq_expr))
        .filter(F.col("nsq") > 0)
    )
    qrows = (
        base.filter(F.col("vec_id").isin(list(query_ids)))
        .select("vec_id", "ivec")
        .collect()
    )
    q_ids = [int(r["vec_id"]) for r in qrows]
    q_mat = [list(r["ivec"]) for r in qrows]
    if not q_mat:
        # no resolvable queries (empty id list / all zero-norm): an
        # empty result, matching brute_force_topk — not an executor
        # crash on a 1-D numpy array inside the GEMM
        schema = "query_id long, vec_id long, cos_sim double, rank long"
        return emb.sparkSession.createDataFrame([], schema)

    def score(batches):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat, dtype=np.int64)
        qid = np.asarray(q_ids, dtype=np.int64)
        qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.asarray(list(pdf["ivec"]), dtype=np.int64)
            cid = pdf["vec_id"].to_numpy(dtype=np.int64)
            dots = C @ Q.T  # exact int64 GEMM
            cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            cos = dots.astype(np.float64) / (cn[:, None] * qn[None, :])
            out_q, out_c, out_s = [], [], []
            for j in range(len(qid)):
                mask = cid != qid[j]
                cand_ids, cand_cos = cid[mask], cos[mask, j]
                # per-batch top-k with the GLOBAL tie-break (cos desc,
                # vec_id asc) so the batch head provably contains the
                # global head
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.extend([qid[j]] * len(order))
                out_c.extend(cand_ids[order])
                out_s.extend(cand_cos[order])
            yield pd.DataFrame(
                {"query_id": out_q, "vec_id": out_c, "cos": out_s}
            )

    scored = base.mapInPandas(
        score, schema="query_id long, vec_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            (F.floor(F.col("cos") * 1e6) / 1e6).alias("cos_sim"),
            "rank",
        )
    )
