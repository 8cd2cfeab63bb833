"""Similarity-search queries over `embeddings`, with DuckDB oracles that
replay the identical sequential-fold arithmetic (see operators.similarity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import similarity as sim
from kafka_streams_dexcom_spark.sources.files import load_table

QUERY_IDS = (0, 1, 2, 3, 4)
TOP_K = 10

# Native list_inner_product IS the sequential index-order fold the
# Spark side computes (verified bit-identical to the explicit
# list_reduce fold over 700k random float32->double 64-dim pairs, zero
# mismatches) — and ~7x faster interpreted, which is what makes the
# sf10 LSH oracles re-runnable in minutes instead of ~45 each (r8
# verdict #4). The distance folds (a[i]-b[i])^2 keep the explicit
# list_reduce: no native twin computes them in the same op order.
_DOT = "list_inner_product({a}, {b})"

_BASE_CTES = f"""
    v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings
    ),
    n AS (
        SELECT * FROM (
            SELECT vec_id, label, vec,
                   sqrt({_DOT.format(a='vec', b='vec')}) AS norm
            FROM v
        ) WHERE norm > 0
    ),
    q AS (
        SELECT vec_id AS query_id, label AS qlabel, vec AS qvec,
               norm AS qnorm
        FROM n WHERE vec_id IN {QUERY_IDS}
    )
"""


def q_sim_search_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.brute_force_topk(e, QUERY_IDS, TOP_K)
    return out.withColumn("rnk", out["rank"].cast("bigint")).drop("rank")



def q_sim_search_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched int64-GEMM brute force (operators/similarity.py:
    matmul_topk) — exact fixed-point scoring, so the exhaustive oracle
    replays the ranking bit-for-bit."""
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.matmul_topk(e, QUERY_IDS, TOP_K)
    return out.withColumn("rnk", out["rank"].cast("bigint")).drop("rank")


def q_sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.lsh_topk(e, QUERY_IDS, TOP_K)
    return out.withColumn("rnk", out["rank"].cast("bigint")).drop("rank")


def q_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.ivf_topk(e, QUERY_IDS, TOP_K)
    return out.withColumn("rnk", out["rank"].cast("bigint")).drop("rank")


def q_sim_search_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = sim.multiprobe_lsh_topk(e, QUERY_IDS, TOP_K)
    return out.withColumn("rnk", out["rank"].cast("bigint")).drop("rank")


def _brute_oracle(k: int = TOP_K) -> str:
    return f"""
        WITH {_BASE_CTES},
        scored AS (
            SELECT q.query_id, n.vec_id,
                   {_DOT.format(a='q.qvec', b='n.vec')} / (q.qnorm * n.norm)
                       AS cs
            FROM q JOIN n ON n.vec_id != q.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cs DESC, vec_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rnk
        FROM ranked WHERE rnk <= {k}
    """


def _lsh_oracle() -> str:
    planes = sim.lsh_planes()
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in plane) + "]"
        dot = _DOT.format(a="vec", b=lit)
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
        WITH {_BASE_CTES},
        nb AS (SELECT *, {bucket} AS bucket FROM n),
        qb AS (SELECT nb.vec_id AS query_id, vec AS qvec, norm AS qnorm,
                      bucket
               FROM nb WHERE vec_id IN {QUERY_IDS}),
        scored AS (
            SELECT qb.query_id, nb.vec_id,
                   {_DOT.format(a='qb.qvec', b='nb.vec')}
                       / (qb.qnorm * nb.norm) AS cs
            FROM qb JOIN nb USING (bucket)
            WHERE nb.vec_id != qb.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cs DESC, vec_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rnk
        FROM ranked WHERE rnk <= {TOP_K}
    """


def _multiprobe_oracle(
    tables: int = sim.MP_TABLES,
    bits: int = sim.MP_BITS,
    radius: int = sim.MP_RADIUS,
) -> str:
    """DuckDB replay of multiprobe_lsh_topk: same inline plane literals,
    tables via unnest cross join, Hamming<=radius probes via the same
    probe_flips mask list (flip 0 = the home bucket), max() to dedup
    multi-table matches."""
    planes_by_table = sim.table_planes(tables, bits)
    bucket_cols = []
    for t, planes in enumerate(planes_by_table):
        terms = []
        for j, plane in enumerate(planes):
            lit = "[" + ", ".join(str(x) for x in plane) + "]"
            dot = _DOT.format(a="vec", b=lit)
            terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << j} ELSE 0 END)")
        bucket_cols.append("(" + " + ".join(terms) + f") AS b{t}")
    case_tbl = (
        "CASE t.tbl "
        + " ".join(f"WHEN {t} THEN b{t}" for t in range(tables))
        + " END"
    )
    tbls = "[" + ", ".join(str(t) for t in range(tables)) + "]"
    flips = (
        "["
        + ", ".join(str(f) for f in sim.probe_flips(bits, radius))
        + "]"
    )
    return f"""
        WITH {_BASE_CTES},
        nb AS (SELECT *, {", ".join(bucket_cols)} FROM n),
        cand AS (
            SELECT vec_id, vec, norm, t.tbl, {case_tbl} AS bucket
            FROM nb CROSS JOIN (SELECT unnest({tbls}) AS tbl) t
        ),
        probes AS (
            SELECT nb.vec_id AS query_id, vec AS qvec, norm AS qnorm,
                   t.tbl, xor({case_tbl}, f.flip) AS bucket
            FROM nb
                 CROSS JOIN (SELECT unnest({tbls}) AS tbl) t
                 CROSS JOIN (SELECT unnest({flips}) AS flip) f
            WHERE nb.vec_id IN {QUERY_IDS}
        ),
        matched AS (
            SELECT p.query_id, c.vec_id,
                   max({_DOT.format(a='p.qvec', b='c.vec')}
                       / (p.qnorm * c.norm)) AS cs
            FROM probes p JOIN cand c USING (tbl, bucket)
            WHERE c.vec_id != p.query_id
            GROUP BY p.query_id, c.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cs DESC, vec_id ASC
                   ) AS rnk
            FROM matched
        )
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rnk
        FROM ranked WHERE rnk <= {TOP_K}
    """


def _ivf_oracle(nprobe: int = 1) -> str:
    return f"""
        WITH {_BASE_CTES},
        cent AS (
            SELECT label, list(cx ORDER BY pos) AS centroid
            FROM (
                SELECT label, pos, round(avg(x), 6) AS cx
                FROM (
                    SELECT label, unnest(vec) AS x,
                           generate_subscripts(vec, 1) AS pos
                    FROM n
                )
                GROUP BY label, pos
            )
            GROUP BY label
        ),
        probe AS (
            SELECT query_id, qvec, qnorm, label AS cell FROM (
                SELECT q.query_id, q.qvec, q.qnorm, c.label,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_DOT.format(a='q.qvec', b='c.centroid')}
                               DESC, c.label ASC
                       ) AS rn
                FROM q CROSS JOIN cent c
            ) WHERE rn <= {nprobe}
        ),
        scored AS (
            SELECT p.query_id, n.vec_id,
                   {_DOT.format(a='p.qvec', b='n.vec')} / (p.qnorm * n.norm)
                       AS cs
            FROM probe p JOIN n ON n.label = p.cell
            WHERE n.vec_id != p.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cs,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cs DESC, vec_id ASC
                   ) AS rnk
            FROM scored
        )
        SELECT query_id, vec_id, round(cs, 6) AS cos_sim, rnk
        FROM ranked WHERE rnk <= {TOP_K}
    """


def q_sim_search_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@10 of the LSH index against the
    brute-force ground truth, per query — the metric that decides the
    bits/tables/probes configuration at scale."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    brute = sim.brute_force_topk(e, QUERY_IDS, TOP_K).select(
        "query_id", "vec_id"
    )
    lsh = sim.lsh_topk(e, QUERY_IDS, TOP_K).select(
        "query_id", F.col("vec_id").alias("lsh_vec_id")
    )
    hits = brute.join(
        lsh,
        (brute.query_id == lsh.query_id)
        & (brute.vec_id == lsh.lsh_vec_id),
        "left",
    ).groupBy(brute.query_id.alias("query_id")).agg(
        (F.count("lsh_vec_id") / F.lit(float(TOP_K))).alias("recall_at_10")
    )
    return hits


def _recall_oracle() -> str:
    return f"""
        WITH brute AS ({_brute_oracle()}),
        lsh AS ({_lsh_oracle()})
        SELECT b.query_id,
               count(l.vec_id) / {TOP_K}.0 AS recall_at_10
        FROM brute b LEFT JOIN lsh l
          ON b.query_id = l.query_id AND b.vec_id = l.vec_id
        GROUP BY b.query_id
    """


def q_ann_recall_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-tuning deliverable: recall@10 of every ANN configuration
    against brute-force ground truth, one row per method — single-table
    LSH vs multi-table/multi-probe LSH vs IVF at nprobe 1 and 2. At
    scale this is the query you run on a sample to pick the
    tables/bits/nprobe operating point before indexing the full corpus."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    brute = sim.brute_force_topk(e, QUERY_IDS, TOP_K).select(
        "query_id", "vec_id"
    )
    methods = {
        "lsh": sim.lsh_topk(e, QUERY_IDS, TOP_K),
        "multiprobe": sim.multiprobe_lsh_topk(e, QUERY_IDS, TOP_K),
        "ivf1": sim.ivf_topk(e, QUERY_IDS, TOP_K, nprobe=1),
        "ivf2": sim.ivf_topk(e, QUERY_IDS, TOP_K, nprobe=2),
    }
    ann = None
    for m, df in methods.items():
        part = df.select(
            F.lit(m).alias("method"),
            "query_id",
            F.col("vec_id").alias("ann_vec_id"),
        )
        ann = part if ann is None else ann.unionByName(part)
    names = spark.createDataFrame(
        [(m,) for m in methods], "method string"
    )
    gt = brute.crossJoin(F.broadcast(names))
    denom = float(len(QUERY_IDS) * TOP_K)
    return (
        gt.join(
            ann,
            (gt.method == ann.method)
            & (gt.query_id == ann.query_id)
            & (gt.vec_id == ann.ann_vec_id),
            "left",
        )
        .groupBy(gt.method.alias("method"))
        .agg((F.count("ann_vec_id") / F.lit(denom)).alias("recall_at_10"))
    )


def _recall_matrix_oracle() -> str:
    denom = float(len(QUERY_IDS) * TOP_K)
    return f"""
        WITH brute AS ({_brute_oracle()}),
        lsh AS ({_lsh_oracle()}),
        mp AS ({_multiprobe_oracle()}),
        ivf1 AS ({_ivf_oracle(nprobe=1)}),
        ivf2 AS ({_ivf_oracle(nprobe=2)}),
        ann AS (
            SELECT 'lsh' AS method, query_id, vec_id FROM lsh
            UNION ALL SELECT 'multiprobe', query_id, vec_id FROM mp
            UNION ALL SELECT 'ivf1', query_id, vec_id FROM ivf1
            UNION ALL SELECT 'ivf2', query_id, vec_id FROM ivf2
        ),
        gt AS (
            SELECT m.method, b.query_id, b.vec_id
            FROM brute b CROSS JOIN (
                SELECT unnest(['lsh', 'multiprobe', 'ivf1', 'ivf2'])
                    AS method
            ) m
        )
        SELECT gt.method, count(a.vec_id) / {denom} AS recall_at_10
        FROM gt LEFT JOIN ann a
          ON a.method = gt.method AND a.query_id = gt.query_id
         AND a.vec_id = gt.vec_id
        GROUP BY gt.method
    """


KMEANS_K = 8  # nlist floor — and the exact k at driver scales (<= sf0.1)
KMEANS_ITERS = 3
# Production IVF sizes nlist WITH the corpus (FAISS guidance:
# ~sqrt(N)..N/256 cells; a fixed nlist makes within-cell candidate
# volume quadratic in N — exactly the r11 sf10 exclusion class for the
# trained-quantizer family). Cells hold ~KMEANS_CELL_TARGET vectors at
# any scale; the cap bounds the centroid broadcast + the oracle's
# unrolled Lloyd replay.
KMEANS_CELL_TARGET = 500
KMEANS_K_CAP = 1024


def kmeans_k_for(n: int) -> int:
    """nlist for an ``n``-vector corpus (n = vectors surviving the
    zero-norm drop, the same population the Lloyd rounds see)."""
    return max(KMEANS_K, min(KMEANS_K_CAP, n // KMEANS_CELL_TARGET))


def kmeans_cells_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse quantizer's (vec_id, cell) assignment,
    MATERIALIZED ONCE per (Spark application, corpus) and shared by
    every consumer — kmeans_cells, dedup_embedding_ivf, semdedup. At
    100 TB a trained quantizer is a published artifact every embedding
    job reads, never a per-query subquery retraining the same Lloyd
    pipeline (three independent trainings before this). Oracles are
    unchanged: they replay training from the data, and the parquet
    round-trip is bit-exact, so parity is unaffected."""
    import os

    from kafka_streams_dexcom_spark.operators.clustering import kmeans_assign
    from kafka_streams_dexcom_spark.operators.dedup import (
        with_embedding_norm,
    )
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifact,
    )

    def _build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        # nlist scales with the corpus (kmeans_k_for); the count is
        # one narrow scan, paid once per (session, corpus) inside the
        # artifact build — production trains the quantizer offline
        # with exactly this sizing step
        n = with_embedding_norm(emb).count()
        return kmeans_assign(emb, k=kmeans_k_for(n), iterations=KMEANS_ITERS)

    return session_artifact(
        spark,
        "kmeans_cells",
        (
            os.path.abspath(sf_dir),
            corpus_fingerprint(os.path.join(sf_dir, "embeddings.parquet")),
            "dynamic-nlist",
            KMEANS_ITERS,
        ),
        _build,
    )


def pq_artifacts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The trained PQ (codebooks, codes) pair, materialized once per
    (Spark application, corpus) — the encode side of a PQ index is a
    published artifact exactly like the coarse quantizer above; before
    this, sim_search_pq and sim_search_ivfpq each re-ran the identical
    codebook training + corpus encode."""
    import os

    from kafka_streams_dexcom_spark.operators.quantize import pq_train_encode
    from kafka_streams_dexcom_spark.sources.files import (
        corpus_fingerprint,
        session_artifacts,
    )

    key = (
        os.path.abspath(sf_dir),
        corpus_fingerprint(os.path.join(sf_dir, "embeddings.parquet")),
    )
    return session_artifacts(
        spark,
        ("pq_cents", "pq_codes"),
        key,
        lambda: pq_train_encode(load_table(spark, sf_dir, "embeddings")),
    )


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 3 Lloyd rounds of k-means over
    the embeddings, with nlist sized from the corpus (kmeans_k_for —
    floor 8, one cell per ~500 vectors, cap 1024; a FIXED nlist makes
    within-cell candidate volume quadratic in N, the r11 sf10
    exclusion class). The determinism discipline (fixed init,
    lowest-cid tie-breaks, round(avg, 6) centroid components,
    sequential-fold distances) exists precisely so the iterations can be
    replayed exactly in SQL — see _kmeans_oracle's unrolled rounds.
    Served from the shared kmeans_cells_map artifact."""
    return kmeans_cells_map(spark, sf_dir)


def kmeans_oracle_ctes(
    k: int | None = None, iterations: int = KMEANS_ITERS
) -> list[str]:
    """DuckDB replay of kmeans_assign: the Lloyd rounds unrolled as CTEs.

    Distances are the same sequential left fold as the Spark side
    (bit-identical doubles — see DOT/DIST parity rules), argmin ties
    break on lowest cid, and centroid components are round(avg(x), 6) on
    both engines, so assignments agree exactly. With ``k=None`` (the
    registered queries' form) the init LIMIT replays kmeans_k_for as a
    scalar subquery over the same zero-norm-filtered population, so the
    oracle sizes nlist exactly as the engine does at ANY sf."""
    dist2 = (
        "list_reduce(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    norm2 = (
        "list_reduce(list_transform(range(1, len(vec) + 1), "
        "i -> vec[i] * vec[i]), (x, y) -> x + y)"
    )

    def assign_cte(label: str, cents: str) -> str:
        # arg_min over the streamed cross join, NOT a row_number
        # window: the window form materializes |n|·k rows WITH both
        # 64-dim vectors (~80 GB at sf10's 200k x 400) before sorting;
        # the aggregate streams narrow (vid, cid, d2) rows into 200k
        # groups. Same argmin semantics: the [d2, cid] key is unique
        # (cids distinct), so ties on d2 still break to lowest cid.
        d2 = dist2.format(a="n2.vec", b="c.cvec")
        return f"""
        {label} AS (
            SELECT n.vid, n.vec, am.cid
            FROM n JOIN (
                SELECT n2.vid,
                       min(struct_pack(d := {d2}, c := c.cid)).c AS cid
                FROM n n2 CROSS JOIN {cents} c
                GROUP BY n2.vid
            ) am USING (vid)
        )"""

    ctes = [
        f"""v AS (
            SELECT vec_id AS vid,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        )""",
        f"""n AS (
            SELECT vid, vec FROM v WHERE sqrt({norm2}) > 0
        )""",
        # init = the k LOWEST surviving ids, mirroring the operator's
        # orderBy+limit (filter vid<k breaks on non-dense id spaces)
        f"""c0 AS (
            SELECT vid AS cid, vec AS cvec FROM n
            ORDER BY vid LIMIT {_k_limit(k)}
        )""",
        assign_cte("a1", "c0"),
    ]
    for it in range(1, iterations):
        ctes.append(
            f"""u{it} AS (
            SELECT cid, pos, round(avg(x), 6) AS cx FROM (
                SELECT cid, unnest(vec) AS x,
                       unnest(range(1, len(vec) + 1)) AS pos
                FROM a{it}
            ) GROUP BY cid, pos
        )"""
        )
        ctes.append(
            f"""c{it} AS (
            SELECT cid, list(cx ORDER BY pos) AS cvec
            FROM u{it} GROUP BY cid
        )"""
        )
        ctes.append(assign_cte(f"a{it + 1}", f"c{it}"))
    return ctes


def _k_limit(k: int | None) -> str:
    """The c0 LIMIT: a literal when the caller pins k (tests), else the
    kmeans_k_for sizing rule as a scalar subquery over ``n``."""
    if k is not None:
        return str(k)
    return (
        f"(SELECT greatest({KMEANS_K}, least({KMEANS_K_CAP}, "
        f"count(*) // {KMEANS_CELL_TARGET})) FROM n)"
    )


def _kmeans_oracle(
    k: int | None = None, iterations: int = KMEANS_ITERS
) -> str:
    """DuckDB replay of kmeans_assign (see kmeans_oracle_ctes)."""
    ctes = kmeans_oracle_ctes(k, iterations)
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT vid AS vec_id, cid AS cell FROM a{iterations}"
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-range scalar quantization of the embedding corpus with
    per-vector reconstruction MSE (operators/quantize.py)."""
    from kafka_streams_dexcom_spark.operators.quantize import (
        quantize_embeddings,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(e)


def _quantize_oracle() -> str:
    """DuckDB replay of quantize_embeddings: per-dim min/max via unnest
    with subscripts, quantize/dequantize with identical double
    arithmetic, sequential-fold MSE. DuckDB subscripts are 1-based where
    Spark's transform index is 0-based — both sides stay internally
    consistent, so dimension k maps to the same stat either way."""
    return """
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        d AS (
            SELECT unnest(vec) AS x,
                   unnest(range(1, len(vec) + 1)) AS dim
            FROM v
        ),
        s AS (
            SELECT dim, min(x) AS mn, max(x) AS mx FROM d GROUP BY dim
        ),
        arrs AS (
            SELECT list(mn ORDER BY dim) AS mn, list(mx ORDER BY dim) AS mx
            FROM s
        ),
        q AS (
            SELECT vec_id, vec, arrs.mn AS mn, arrs.mx AS mx,
                   list_transform(range(1, len(vec) + 1),
                       i -> CASE WHEN arrs.mx[i] = arrs.mn[i] THEN 0
                            ELSE CAST(floor((vec[i] - arrs.mn[i])
                                / (arrs.mx[i] - arrs.mn[i]) * 255.0)
                                AS INT) END) AS qc
            FROM v CROSS JOIN arrs
        )
        SELECT vec_id,
               array_to_string(qc, ',') AS q_codes,
               floor(list_reduce(list_transform(range(1, len(vec) + 1),
                         i -> CASE WHEN mx[i] = mn[i] THEN 0.0
                              ELSE pow(vec[i] - (mn[i]
                                  + CAST(qc[i] AS DOUBLE)
                                  * (mx[i] - mn[i]) / 255.0), 2.0) END),
                         (a, b) -> a + b)
                     / CAST(len(vec) AS DOUBLE) * 1000000) / 1000000.0
                   AS mse
        FROM q
    """


def q_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (operators/quantize.py): rank by
    summed distance-table lookups over the shared trained codebooks +
    corpus codes (pq_artifacts — trained once per session/corpus)."""
    from kafka_streams_dexcom_spark.operators.quantize import pq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return pq_topk(e, QUERY_IDS, TOP_K, trained=pq_artifacts(spark, sf_dir))


def _pq_ctes(
    m: int = 4,
    ksub: int = 16,
    iterations: int = 2,
    dim: int = 64,
    with_label: bool = False,
) -> tuple[list, str, str]:
    """Shared CTE list for the PQ oracles: subspace slicing, the
    unrolled Lloyd rounds (same discipline as _kmeans_oracle, with the
    subspace id `s` as an extra grouping column instead of per-subspace
    unrolling), and the micro-unit ADC table. Returns (ctes,
    final_codebook_cte, final_codes_cte)."""
    dsub = dim // m
    dist2 = (
        "list_reduce(list_transform(range(1, len({a}) + 1), "
        "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
    )
    norm2 = (
        "list_reduce(list_transform(range(1, len(vec) + 1), "
        "i -> vec[i] * vec[i]), (x, y) -> x + y)"
    )

    def assign_cte(label: str, cents: str) -> str:
        d2 = dist2.format(a="sv.sv", b="c.cvec")
        return f"""
        {label} AS (
            SELECT vid, s, sv, cid FROM (
                SELECT sv.vid, sv.s, sv.sv, c.cid,
                       row_number() OVER (
                           PARTITION BY sv.vid, sv.s
                           ORDER BY {d2} ASC, c.cid ASC
                       ) AS rk
                FROM sv JOIN {cents} c ON sv.s = c.s
            ) WHERE rk = 1
        )"""

    label_col = ", label" if with_label else ""
    ctes = [
        f"""v AS (
            SELECT vec_id AS vid{label_col},
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        )""",
        f"""n AS (
            SELECT vid{label_col}, vec FROM v WHERE sqrt({norm2}) > 0
        )""",
        f"""sv AS (
            SELECT vid, subs.s AS s,
                   list_slice(vec, subs.s * {dsub} + 1,
                       subs.s * {dsub} + {dsub}) AS sv
            FROM n CROSS JOIN (
                SELECT unnest(range(0, {m})) AS s
            ) subs
        )""",
        # init = the ksub LOWEST ids per subspace, mirroring the
        # operator's per-subspace window top-ksub
        f"""c0 AS (
            SELECT s, cid, cvec FROM (
                SELECT s, vid AS cid, sv AS cvec,
                       row_number() OVER (
                           PARTITION BY s ORDER BY vid ASC
                       ) AS rn
                FROM sv
            ) WHERE rn <= {ksub}
        )""",
        assign_cte("a1", "c0"),
    ]
    for it in range(1, iterations):
        ctes.append(
            f"""u{it} AS (
            SELECT s, cid, pos, round(avg(x), 6) AS cx FROM (
                SELECT s, cid, unnest(sv) AS x,
                       unnest(range(1, len(sv) + 1)) AS pos
                FROM a{it}
            ) GROUP BY s, cid, pos
        )"""
        )
        ctes.append(
            f"""c{it} AS (
            SELECT s, cid, list(cx ORDER BY pos) AS cvec
            FROM u{it} GROUP BY s, cid
        )"""
        )
        ctes.append(assign_cte(f"a{it + 1}", f"c{it}"))
    final_c = f"c{iterations - 1}"
    final_a = f"a{iterations}"
    d2q = dist2.format(a="q.sv", b="c.cvec")
    ctes.append(
        f"""dtab AS (
            SELECT q.vid AS query_id, c.s, c.cid,
                   CAST(floor({d2q} * 1000000) AS BIGINT) AS d2u
            FROM sv q JOIN {final_c} c ON q.s = c.s
            WHERE q.vid IN {QUERY_IDS}
        )"""
    )
    return ctes, final_c, final_a


_ADC_RANKED_SELECT = f"""
        SELECT query_id, vid AS vec_id,
               CAST(adist_u AS DOUBLE) / 1000000.0 AS adist,
               rnk
        FROM (
            SELECT query_id, vid, adist_u,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY adist_u ASC, vid ASC
                   ) AS rnk
            FROM scored
        ) WHERE rnk <= {TOP_K}
"""


def _pq_oracle(
    m: int = 4, ksub: int = 16, iterations: int = 2, dim: int = 64
) -> str:
    """DuckDB replay of pq_topk: the shared PQ CTEs plus an exact-bigint
    distance sum and the ranked select."""
    ctes, _final_c, final_a = _pq_ctes(m, ksub, iterations, dim)
    ctes.append(
        f"""scored AS (
            SELECT d.query_id, a.vid, sum(d.d2u) AS adist_u
            FROM {final_a} a
            JOIN dtab d ON a.s = d.s AND a.cid = d.cid
            WHERE a.vid != d.query_id
            GROUP BY d.query_id, a.vid
        )"""
    )
    return "WITH " + ",\n".join(ctes) + _ADC_RANKED_SELECT


def q_sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell pruning composed with PQ ADC ranking — the billion-scale
    ANN configuration (operators/quantize.ivfpq_topk). Codebooks/codes
    come from the shared pq_artifacts session artifact."""
    from kafka_streams_dexcom_spark.operators.quantize import ivfpq_topk

    e = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        e, QUERY_IDS, TOP_K, trained=pq_artifacts(spark, sf_dir)
    )


def _ivfpq_oracle(
    m: int = 4,
    ksub: int = 16,
    iterations: int = 2,
    dim: int = 64,
    nprobe: int = 1,
) -> str:
    """Composes the PQ replay with the IVF centroid/probe replay: the
    candidate set is restricted to the query's probed cell(s) before the
    ADC sum — exactly ivfpq_topk's plan."""
    ctes, _final_c, final_a = _pq_ctes(m, ksub, iterations, dim, with_label=True)
    ctes.append(
        """cent AS (
            SELECT label, list(cx ORDER BY pos) AS centroid
            FROM (
                SELECT label, pos, round(avg(x), 6) AS cx
                FROM (
                    SELECT label, unnest(vec) AS x,
                           generate_subscripts(vec, 1) AS pos
                    FROM n
                )
                GROUP BY label, pos
            )
            GROUP BY label
        )"""
    )
    # min-L2 probe, mirroring the operator (same metric as the ADC rank)
    qd2 = (
        "list_reduce(list_transform(range(1, len(q.vec) + 1), "
        "i -> (q.vec[i] - c.centroid[i]) * (q.vec[i] - c.centroid[i])), "
        "(x, y) -> x + y)"
    )
    ctes.append(
        f"""probe AS (
            SELECT query_id, cell FROM (
                SELECT q.vid AS query_id, c.label AS cell,
                       row_number() OVER (
                           PARTITION BY q.vid
                           ORDER BY {qd2} ASC, c.label ASC
                       ) AS rn
                FROM n q CROSS JOIN cent c
                WHERE q.vid IN {QUERY_IDS}
            ) WHERE rn <= {nprobe}
        )"""
    )
    ctes.append(
        f"""scored AS (
            SELECT d.query_id, a.vid, sum(d.d2u) AS adist_u
            FROM {final_a} a
            JOIN n nv ON a.vid = nv.vid
            JOIN probe p ON nv.label = p.cell
            JOIN dtab d ON a.s = d.s AND a.cid = d.cid
                       AND d.query_id = p.query_id
            WHERE a.vid != d.query_id
            GROUP BY d.query_id, a.vid
        )"""
    )
    return "WITH " + ",\n".join(ctes) + _ADC_RANKED_SELECT


MATRYOSHKA_DIMS = (64, 32, 16, 8)


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation evaluation: recall@10 of brute-force search
    over the FIRST d dimensions of each embedding, per truncation width,
    against full-width ground truth — the measurement that decides how
    hard MRL-style embeddings can be truncated (for cheaper ANN and
    shorter PQ codes) before retrieval quality collapses. The 64-dim row
    is the sanity anchor (recall 1.0 by construction).

    Scale: ONE corpus scan and ONE broadcast pair join score every
    width (round-12 rework; previously one full brute-force pass — scan
    + broadcast join + two-level top-k — per width plus one for the
    ground truth, 5 passes total). A truncated dot is a PREFIX of the
    full fold, so per-width cosines come from slices of the one decoded
    vector: identical doubles (same sequential fold over the same
    operands), identical top-k sets, same recall rows. The truth leg is
    exactly the dim-64 ann leg, so it reads the checkpointed top-k
    table instead of re-running a sixth pass. Per-width zero-norm
    filtering (with_embedding_norm drops norm == 0 per truncation) is
    preserved by the per-leg ok flag."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.operators.dedup import DOT_EXPR_TPL
    from kafka_streams_dexcom_spark.sources.files import fan_out_small

    e = load_table(spark, sf_dir, "embeddings")
    v = fan_out_small(e).withColumn(
        "vec", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    )

    def norm_d(d: int):
        sl = f"slice(vec, 1, {d})"
        return F.sqrt(F.expr(DOT_EXPR_TPL.format(a=sl, b=sl)))

    base = v.select(
        "vec_id",
        "vec",
        *[norm_d(d).alias(f"n{d}") for d in MATRYOSHKA_DIMS],
    )
    q = base.filter(F.col("vec_id").isin(list(QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        *[F.col(f"n{d}").alias(f"qn{d}") for d in MATRYOSHKA_DIMS],
    )
    pairs = base.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    legs = []
    for d in MATRYOSHKA_DIMS:
        dot = F.expr(
            DOT_EXPR_TPL.format(
                a=f"slice(qvec, 1, {d})", b=f"slice(vec, 1, {d})"
            )
        )
        legs.append(
            F.struct(
                F.lit(d).cast("int").alias("dim"),
                (dot / (F.col(f"qn{d}") * F.col(f"n{d}"))).alias("cos"),
                (
                    (F.col(f"qn{d}") > 0) & (F.col(f"n{d}") > 0)
                ).alias("ok"),
            )
        )
    scored = (
        pairs.select(
            "query_id", "vec_id", F.explode(F.array(*legs)).alias("leg")
        )
        .filter(F.col("leg.ok"))
        .select(
            F.col("leg.dim").alias("dim"),
            "query_id",
            "vec_id",
            F.col("leg.cos").alias("cos"),
        )
    )
    ann = (
        sim._topk(
            scored,
            ["dim", "query_id"],
            [F.col("cos").desc(), F.col("vec_id").asc()],
            TOP_K,
        )
        .select("dim", "query_id", F.col("vec_id").alias("m_vec_id"))
        # |dims| x |queries| x k rows; the truth leg below reads it as a
        # second consumer, which would otherwise re-run the whole pair
        # pipeline for the join's other side
        .localCheckpoint()
    )
    truth = ann.filter(F.col("dim") == 64).select(
        "query_id", F.col("m_vec_id").alias("vec_id")
    )
    dims = spark.createDataFrame(
        [(d,) for d in MATRYOSHKA_DIMS], "dim int"
    )
    gt = truth.crossJoin(F.broadcast(dims))
    denom = float(len(QUERY_IDS) * TOP_K)
    return (
        gt.join(
            ann,
            (gt.dim == ann.dim)
            & (gt.query_id == ann.query_id)
            & (gt.vec_id == ann.m_vec_id),
            "left",
        )
        .groupBy(gt.dim.alias("dim"))
        .agg((F.count("m_vec_id") / F.lit(denom)).alias("recall_at_10"))
    )


def _brute_trunc_cte(dim: int, prefix: str) -> str:
    """Brute-force top-k CTE chain over embeddings truncated to the
    first ``dim`` components — same fold/norm discipline as _BASE_CTES,
    namespaced by ``prefix`` so several widths coexist in one query."""
    return f"""
        {prefix}v AS (
            SELECT vec_id,
                   list_transform(embedding[1:{dim}],
                       x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        {prefix}n AS (
            SELECT * FROM (
                SELECT vec_id, vec,
                       sqrt({_DOT.format(a='vec', b='vec')}) AS norm
                FROM {prefix}v
            ) WHERE norm > 0
        ),
        {prefix}q AS (
            SELECT vec_id AS query_id, vec AS qvec, norm AS qnorm
            FROM {prefix}n WHERE vec_id IN {QUERY_IDS}
        ),
        {prefix}r AS (
            SELECT query_id, vec_id FROM (
                SELECT q.query_id, n.vec_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_DOT.format(a='q.qvec', b='n.vec')}
                                    / (q.qnorm * n.norm) DESC,
                                    n.vec_id ASC
                       ) AS rnk
                FROM {prefix}q q JOIN {prefix}n n
                  ON n.vec_id != q.query_id
            ) WHERE rnk <= {TOP_K}
        )"""


def _matryoshka_oracle() -> str:
    denom = float(len(QUERY_IDS) * TOP_K)
    ctes = ",".join(
        _brute_trunc_cte(d, f"d{d}_") for d in MATRYOSHKA_DIMS
    )
    union = " UNION ALL ".join(
        f"SELECT CAST({d} AS INTEGER) AS dim, query_id, vec_id"
        f" FROM d{d}_r"
        for d in MATRYOSHKA_DIMS
    )
    dims_list = "[" + ", ".join(str(d) for d in MATRYOSHKA_DIMS) + "]"
    return f"""
        WITH {ctes},
        ann AS ({union}),
        gt AS (
            SELECT CAST(m.dim AS INTEGER) AS dim, b.query_id, b.vec_id
            FROM d64_r b CROSS JOIN (
                SELECT unnest({dims_list}) AS dim
            ) m
        )
        SELECT gt.dim, count(a.vec_id) / {denom} AS recall_at_10
        FROM gt LEFT JOIN ann a
          ON gt.dim = a.dim AND gt.query_id = a.query_id
             AND gt.vec_id = a.vec_id
        GROUP BY gt.dim
    """


EMBED_OUTLIER_K = 5


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-batch quality audit: the K vectors FARTHEST from their
    label's centroid, per label — the standard encoder-regression /
    mislabeled-input surfacing pass a pipeline runs on every new
    embedding batch (an encoder that silently degrades shows up as a
    fresh crop of far-from-centroid vectors). Same centroid arithmetic
    as semdedup's election (per-dim mean rounded to 6 decimals; d2
    rounded to 6 before ranking, vec_id tie-break) so the ordering is
    replayable cross-engine.

    Scale: one posexplode shuffle keyed (label, pos) for the centroids
    — |labels|·dim rows out — then the centroid table broadcasts back
    onto a scan of the vectors; the top-k window sorts within label
    partitions only. Zero-norm vectors are dropped upstream
    (with_embedding_norm), as everywhere in the embedding family."""
    from kafka_streams_dexcom_spark.operators.clustering import DIST2_TPL
    from kafka_streams_dexcom_spark.operators.dedup import (
        with_embedding_norm,
    )

    e = load_table(spark, sf_dir, "embeddings")
    v = with_embedding_norm(e).select("vec_id", "label", "vec")
    per_dim = (
        v.select("label", F.posexplode("vec").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("cx"))
    )
    cvec = per_dim.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, cx))), "
            "s -> s.cx)"
        ).alias("cvec")
    )
    dist = v.join(F.broadcast(cvec), "label").select(
        "vec_id",
        "label",
        F.round(F.expr(DIST2_TPL.format(a="vec", b="cvec")), 6).alias(
            "d2"
        ),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("d2").desc(), F.col("vec_id").asc()
    )
    return (
        dist.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= EMBED_OUTLIER_K)
        .select(
            "label",
            F.col("rnk").cast("bigint").alias("rnk"),
            "vec_id",
            "d2",
        )
    )


QUERIES = {
    "sim_search_matmul": q_sim_search_matmul,
    "embedding_quantize": q_embedding_quantize,
    "sim_search_pq": q_sim_search_pq,
    "sim_search_ivfpq": q_sim_search_ivfpq,
    "kmeans_cells": q_kmeans_cells,
    "sim_search_bruteforce": q_sim_search_bruteforce,
    "sim_search_lsh": q_sim_search_lsh,
    "sim_search_multiprobe": q_sim_search_multiprobe,
    "sim_search_ivf": q_sim_search_ivf,
    "sim_search_recall": q_sim_search_recall,
    "ann_recall_matrix": q_ann_recall_matrix,
    "matryoshka_recall": q_matryoshka_recall,
    "embedding_outliers": q_embedding_outliers,
}

_DIST2 = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (x, y) -> x + y)"
)

ORACLES = {
    "embedding_outliers": f"""
        WITH {_BASE_CTES},
        cent AS (
            SELECT label, pos, round(avg(x), 6) AS cx FROM (
                SELECT label, unnest(vec) AS x,
                       unnest(range(1, len(vec) + 1)) AS pos
                FROM n
            ) GROUP BY label, pos
        ),
        cv AS (
            SELECT label, list(cx ORDER BY pos) AS cvec
            FROM cent GROUP BY label
        ),
        d AS (
            SELECT n.vec_id, n.label,
                   round({_DIST2.format(a='n.vec', b='c.cvec')}, 6) AS d2
            FROM n JOIN cv c ON n.label = c.label
        )
        SELECT label, CAST(rnk AS BIGINT) AS rnk, vec_id, d2 FROM (
            SELECT *, row_number() OVER (
                PARTITION BY label ORDER BY d2 DESC, vec_id ASC
            ) AS rnk FROM d
        ) WHERE rnk <= {EMBED_OUTLIER_K}
    """,
    "sim_search_matmul": f"""
        WITH iv AS (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0)
                                 AS BIGINT)) AS ivec
            FROM embeddings
        ),
        n AS (
            SELECT vec_id, ivec,
                   list_reduce(list_transform(ivec, x -> x * x),
                               (a, b) -> a + b) AS nsq
            FROM iv
        ),
        nn AS (
            SELECT vec_id, ivec,
                   sqrt(CAST(nsq AS DOUBLE)) AS nrm
            FROM n WHERE nsq > 0
        ),
        q AS (SELECT * FROM nn WHERE vec_id IN {QUERY_IDS}),
        s AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   CAST(list_reduce(
                       list_transform(range(1, len(q.ivec) + 1),
                                      i -> q.ivec[i] * c.ivec[i]),
                       (a, b) -> a + b) AS DOUBLE)
                   / (q.nrm * c.nrm) AS cos
            FROM q JOIN nn c ON c.vec_id <> q.vec_id
        )
        SELECT query_id, vec_id,
               floor(cos * 1000000) / 1000000.0 AS cos_sim,
               CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cos DESC, vec_id ASC) AS BIGINT) AS rnk
        FROM s
        QUALIFY rnk <= {TOP_K}
    """,
    "embedding_quantize": _quantize_oracle(),
    "sim_search_pq": _pq_oracle(),
    "sim_search_ivfpq": _ivfpq_oracle(),
    "kmeans_cells": _kmeans_oracle(),
    "sim_search_bruteforce": _brute_oracle(),
    "sim_search_lsh": _lsh_oracle(),
    "sim_search_multiprobe": _multiprobe_oracle(),
    "sim_search_ivf": _ivf_oracle(),
    "sim_search_recall": _recall_oracle(),
    "ann_recall_matrix": _recall_matrix_oracle(),
    "matryoshka_recall": _matryoshka_oracle(),
}
