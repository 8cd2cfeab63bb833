"""Unit tests for the iterative operators: k-means assignment and
connected-components cluster representatives."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.clustering import kmeans_assign
from kafka_streams_dexcom_spark.operators.graph import (
    CC_SINGLE_TASK_EDGES,
    cluster_representatives,
    connected_components,
)


def test_kmeans_deterministic_and_total(spark, sf_dir):
    from kafka_streams_dexcom_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a1 = {r.vec_id: r.cell for r in kmeans_assign(e, 4, 2).collect()}
    a2 = {r.vec_id: r.cell for r in kmeans_assign(e, 4, 2).collect()}
    assert a1 == a2  # deterministic across runs
    assert len(a1) == e.count()  # every vector assigned
    assert set(a1.values()) <= {0, 1, 2, 3}


def test_kmeans_separates_obvious_clusters(spark):
    # two tight blobs around +1 and -1: k=2 must split them exactly
    rows = [(i, [1.0 + 0.01 * i] * 4) for i in range(2)] + [
        (i, [-1.0 - 0.01 * i] * 4) for i in range(2, 6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cell for r in kmeans_assign(df, 2, 3).collect()}
    assert got[0] == got[1]
    assert got[2] == got[3] == got[4] == got[5]
    assert got[0] != got[2]


def test_connected_components_exact_on_known_graph(spark):
    # components: {1,2,3} (chain), {10,11}, singleton edges only appear
    # via pairs so isolated nodes are out of scope by construction
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    reps = {
        r.component: (r.representative, r.cluster_size)
        for r in cluster_representatives(
            connected_components(pairs)
        ).collect()
    }
    assert reps == {1: (1, 3), 10: (10, 2)}


def _pr_units(pairs, **kw) -> dict:
    from kafka_streams_dexcom_spark.operators.graph import pagerank

    return {r.node: r.pr_units for r in pagerank(pairs, **kw).collect()}


# the default dispatches these small graphs to the one-task kernel;
# None forces the distributed round loop
PR_PATHS = pytest.mark.parametrize(
    "single_task_edges", [CC_SINGLE_TASK_EDGES, None], ids=["task", "loop"]
)


@PR_PATHS
def test_pagerank_known_graph(spark, single_task_edges):
    """Path graph 1-2-3: the middle node must outrank the ends, total
    mass stays ~1, and the result is bit-identical across runs
    (fixed-point arithmetic) and across the two physical paths."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    r1 = _pr_units(pairs, rounds=3, single_task_edges=single_task_edges)
    r2 = _pr_units(pairs, rounds=3, single_task_edges=single_task_edges)
    assert r1 == r2  # deterministic to the unit
    other = None if single_task_edges else CC_SINGLE_TASK_EDGES
    assert r1 == _pr_units(pairs, rounds=3, single_task_edges=other)
    assert r1[2] > r1[1] and r1[2] > r1[3]
    assert r1[1] == r1[3]  # symmetry of the path ends
    # mass conservation up to integer-floor leakage (3 rounds x 3 nodes)
    assert abs(sum(r1.values()) - 1_000_000_000_000) < 100


def test_triangle_counts_known_graph(spark):
    """K3 plus a pendant edge: triangle corners count 1, pendant counts
    0; clustering = 1.0 inside the triangle (deg-2 corners)."""
    from kafka_streams_dexcom_spark.operators.graph import triangle_counts

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "doc_a long, doc_b long"
    )
    got = {r.node: r for r in triangle_counts(pairs).collect()}
    assert got[1].triangles == got[2].triangles == got[3].triangles == 1
    assert got[4].triangles == 0
    assert got[1].clustering == 1.0 and got[2].clustering == 1.0
    assert got[3].degree == 3  # in triangle + pendant
    # deg 3, 1 triangle -> 2*1/(3*2) = 0.333333 (floor-truncated)
    assert got[3].clustering == 0.333333
    assert got[4].clustering == 0.0


def test_incremental_dedup_matches_symmetric_subset(spark, sf_dir):
    """Every (new, old) pair the incremental screen finds must also be
    found by the symmetric all-pairs job on the same corpus — and vice
    versa for pairs that straddle the batch split."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_lsh_dedup,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    d = load_table(spark, sf_dir, "documents")
    inc = incremental_minhash_dedup(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
        threshold=0.2,
    )
    inc_pairs = {
        (min(r.new_id, r.old_id), max(r.new_id, r.old_id), r.jaccard)
        for r in inc.collect()
    }
    sym = minhash_lsh_dedup(d, threshold=0.2)
    straddling = {
        (r.id_a, r.id_b, r.jaccard)
        for r in sym.collect()
        if (r.id_a % 10 == 0) != (r.id_b % 10 == 0)
    }
    assert inc_pairs == straddling


def test_connected_components_deep_chain_converges(spark):
    """Diameter-8 chain 0-1-...-8: a fixed 5-round propagation labels the
    far end wrong; the fixpoint loop must give every node component 0.
    (This is the exact failure mode the convergence guard exists for.)"""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    cc = {r.node: r.component for r in connected_components(pairs).collect()}
    assert cc == {i: 0 for i in range(9)}


def test_connected_components_round_cap_raises(spark):
    """Hitting max_rounds without converging must RAISE — a silent cap
    would return wrong labels. One round of hook+jump can't finish a
    diameter-8 chain."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        # force the iterative path — the guard under test lives there
        # (a graph this small would otherwise take the single-task
        # union-find dispatch, which has no rounds to cap)
        connected_components(pairs, max_rounds=1, single_task_edges=None)


def test_connected_components_long_chain_log_rounds(spark):
    """Pointer jumping: a 200-node path (diameter 199) must converge
    well inside the default 50-round cap — pure min-propagation would
    need 199 rounds. 12 rounds is a generous O(log n) budget."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a long, doc_b long"
    )
    cc = {
        r.node: r.component
        for r in connected_components(pairs, max_rounds=12).collect()
    }
    assert cc == {i: 0 for i in range(200)}


@PR_PATHS
def test_pagerank_early_exit_identity(spark, single_task_edges):
    """Early exit is a pure optimization: a graph that stabilizes fast
    must produce bit-identical ranks whether rounds=3 or rounds=10
    (after stabilization every round is a no-op), on either path."""
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    r3 = _pr_units(pairs, rounds=3, single_task_edges=single_task_edges)
    r10 = _pr_units(pairs, rounds=10, single_task_edges=single_task_edges)
    assert r3 == r10
    other = None if single_task_edges else CC_SINGLE_TASK_EDGES
    assert r10 == _pr_units(pairs, rounds=10, single_task_edges=other)


def _both_paths(pairs, **kw):
    """``pagerank`` on the one-task path and on the round loop."""
    from kafka_streams_dexcom_spark.operators.graph import pagerank

    return (
        pagerank(pairs, single_task_edges=CC_SINGLE_TASK_EDGES, **kw),
        pagerank(pairs, single_task_edges=None, **kw),
    )


@pytest.mark.parametrize("rows", [[], [(4, 4)]], ids=["no_pair", "self_pair"])
def test_pagerank_paths_agree_on_empty_graph(spark, rows):
    """No pair, or only self-pairs, is an empty graph: both paths return
    0 rows with the same schema."""
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    task, loop = _both_paths(pairs)
    assert task.schema == loop.schema
    assert task.count() == loop.count() == 0


def test_pagerank_paths_agree_on_two_components(spark):
    """A triangle with a pendant beside a 4-star, ranked over 8 rounds:
    bit-equal per node on both paths, hubs above their leaves."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)]
        + [(10, 10 + k) for k in range(1, 5)],
        "doc_a long, doc_b long",
    )
    task, loop = _both_paths(pairs, rounds=8)
    t = {r.node: r.pr_units for r in task.collect()}
    assert t == {r.node: r.pr_units for r in loop.collect()}
    assert set(t) == {1, 2, 3, 4, 10, 11, 12, 13, 14}
    assert t[3] > t[1] == t[2] > t[4]
    assert t[10] > t[11] == t[12] == t[13] == t[14]


def test_pagerank_paths_agree_on_query_graph(spark, sf_dir):
    """pagerank_centrality's own pair graph: bit-equal ranks and the
    same float view on both paths."""
    from kafka_streams_dexcom_spark.operators.dedup import (
        embedding_cosine_pairs,
    )
    from kafka_streams_dexcom_spark.queries.dedup import (
        COSINE_THRESHOLD,
        PR_ROUNDS,
    )
    from kafka_streams_dexcom_spark.sources.files import load_table

    pairs = embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=COSINE_THRESHOLD
    )
    task, loop = _both_paths(
        pairs, a_col="vec_id_a", b_col="vec_id_b", rounds=PR_ROUNDS
    )
    assert task.schema == loop.schema
    t = sorted(map(tuple, task.collect()))
    assert t == sorted(map(tuple, loop.collect())) and len(t) > 10


def test_triangle_counts_degree_cap_excludes_celebrity(spark):
    """Star of degree 40 fused with a K3: uncapped sees the celebrity;
    capped (max_degree=5) must drop the hub and every edge touching it,
    count EXACTLY on the remaining subgraph, and never enumerate the
    hub's quadratic wedge set."""
    from kafka_streams_dexcom_spark.operators.graph import triangle_counts

    star = [(100, i) for i in range(40)]  # hub 100, degree 40
    k3 = [(1, 2), (2, 3), (1, 3)]
    pairs = spark.createDataFrame(
        star + k3, "doc_a long, doc_b long"
    )
    capped = {
        r.node: r for r in triangle_counts(pairs, max_degree=5).collect()
    }
    assert 100 not in capped  # celebrity removed
    # star leaves (degree 1 after hub removal) vanish from the edge list
    # entirely except 1,2,3 which keep their K3 edges
    assert set(capped) == {1, 2, 3}
    for n in (1, 2, 3):
        assert capped[n].triangles == 1
        assert capped[n].degree == 2
        assert capped[n].clustering == 1.0
    # uncapped still sees everything
    uncapped = {r.node: r for r in triangle_counts(pairs).collect()}
    assert uncapped[100].degree == 40


def test_value_histogram_degenerate_extent(spark, tmp_path):
    """Constant value column: mn == mx makes the bin width 0; the guard
    must put every row in bin 0 instead of NaN-flooring."""
    import duckdb

    from kafka_streams_dexcom_spark.queries.relational import (
        q_value_histogram,
    )
    from kafka_streams_dexcom_spark.queries import all_oracles

    src = spark.read.parquet(str(SF_EVENTS := "/root/testdata/sf0.001/events.parquet"))
    const = src.limit(7).withColumn("value", F.lit(42.0))
    const.write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = q_value_histogram(spark, str(tmp_path)).collect()
    assert len(got) == 1
    assert got[0].bin == 0 and got[0].bin_lo == 42.0 and got[0].n == 7
    # oracle agrees on the degenerate case
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    o = con.execute(all_oracles()["value_histogram"]).fetchall()
    assert [(r[0], r[1], r[2]) for r in o] == [(0, 42.0, 7)]


def test_cc_incremental_matches_full_recompute(spark):
    """Two-batch replay: CC(old edges) + cc_incremental(new edges) must be
    bit-identical to CC(all edges) — including batches that MERGE two old
    components through a new node, extend one, and form brand-new
    clusters, across several random graphs."""
    import random

    from kafka_streams_dexcom_spark.operators.graph import (
        cc_incremental,
        connected_components,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 60
        new_nodes = set(range(n - 15, n))  # last 15 ids are the batch
        edges = set()
        while len(edges) < 80:
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        old = [e for e in edges if e[0] not in new_nodes and e[1] not in new_nodes]
        new = [e for e in edges if e[0] in new_nodes or e[1] in new_nodes]
        to_df = lambda es: spark.createDataFrame(es, "doc_a long, doc_b long")
        full = {
            (r.node, r.component)
            for r in connected_components(to_df(sorted(edges))).collect()
        }
        old_labels = connected_components(to_df(sorted(old)))
        inc = {
            (r.node, r.component)
            for r in cc_incremental(to_df(sorted(new)), old_labels).collect()
        }
        assert inc == full, f"seed={seed}"


def test_cc_incremental_merges_two_old_components(spark):
    """The hard case spelled out: clusters {1,2} and {5,6} exist; a new
    node 100 bridges them. Every member of both must relabel to 1."""
    from kafka_streams_dexcom_spark.operators.graph import (
        cc_incremental,
        connected_components,
    )

    old_labels = connected_components(
        spark.createDataFrame(
            [(1, 2), (5, 6), (8, 9)], "doc_a long, doc_b long"
        )
    )
    out = {
        (r.node, r.component)
        for r in cc_incremental(
            spark.createDataFrame(
                [(100, 2), (100, 5), (200, 201)], "doc_a long, doc_b long"
            ),
            old_labels,
        ).collect()
    }
    assert out == {
        (1, 1), (2, 1), (5, 1), (6, 1), (100, 1),
        (8, 8), (9, 8),           # untouched component keeps its label
        (200, 200), (201, 200),   # brand-new cluster
    }


def test_cc_deep_graph_with_hard_cuts(spark, monkeypatch):
    """A 600-node path (75+ pointer-jump rounds' worth of diameter if
    hook-only) must converge exactly, crossing several hard-cut
    boundaries; labels all collapse to 0, and of the cuts' directories
    only the last one survives the call."""
    import os

    from kafka_streams_dexcom_spark.operators import graph
    from kafka_streams_dexcom_spark.sources.files import session_temp_dir

    monkeypatch.setattr(graph, "HARD_CUT_EVERY", 4)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(599)], "doc_a long, doc_b long"
    )
    root = session_temp_dir("iter_cut")
    before = set(os.listdir(root))
    # force the iterative path (599 edges otherwise run as one task)
    out = graph.connected_components(edges, single_task_edges=None)
    rows = out.collect()
    assert len(rows) == 600
    assert {r.component for r in rows} == {0}
    assert len(set(os.listdir(root)) - before) == 1


def test_cc_hard_cut_uses_checkpoint_dir_when_set(
    spark, tmp_path, monkeypatch
):
    """With a checkpoint dir configured (the cluster path), the hard cut
    must go through df.checkpoint — files appear under the dir and the
    result is still exact."""
    from kafka_streams_dexcom_spark.operators import graph

    monkeypatch.setattr(graph, "HARD_CUT_EVERY", 2)
    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(99)], "doc_a long, doc_b long"
        )
        # force the iterative path: the hard cut under test only
        # exists there (a 99-edge graph takes the single-task dispatch)
        out = graph.connected_components(edges, single_task_edges=None)
        assert {r.component for r in out.collect()} == {0}
        import glob

        assert glob.glob(f"{ckpt}/**/rdd-*", recursive=True), (
            "no reliable-checkpoint files written"
        )
    finally:
        sc._jsc.sc().setCheckpointDir(None)  # noqa: SLF001


def test_cc_hard_cut_disable_and_reclamation(spark, monkeypatch):
    """Superseded cut directories are deleted as the loop advances:
    exactly one on-disk label copy per invocation survives the call."""
    import os

    from kafka_streams_dexcom_spark.operators import graph
    from kafka_streams_dexcom_spark.sources.files import session_temp_dir

    monkeypatch.setattr(graph, "HARD_CUT_EVERY", 2)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(149)], "doc_a long, doc_b long"
    )
    root = session_temp_dir("iter_cut")
    before = set(os.listdir(root))
    # force the iterative path (149 edges otherwise run as one task)
    out = graph.connected_components(edges, single_task_edges=None)
    assert {r.component for r in out.collect()} == {0}
    new_dirs = set(os.listdir(root)) - before
    assert len(new_dirs) == 1, f"superseded cuts not reclaimed: {new_dirs}"


def test_cc_single_task_matches_iterative(spark):
    """The runtime-stats dispatch must be invisible: the one-task
    union-find path and the distributed iterative path produce
    IDENTICAL (node, component) labelings — min id per component is
    canonical for both. Random graph with chains, stars, and
    singleton-free isolates."""
    import random

    from kafka_streams_dexcom_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(42)
    edges = [(i, i + 1) for i in range(0, 40, 1)]  # one long chain
    edges += [(100, 100 + k) for k in range(1, 9)]  # a star
    edges += [
        (rng.randrange(200, 260), rng.randrange(200, 260))
        for _ in range(60)
    ]  # random clumps incl. self-ish pairs
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    fast = {
        (r.node, r.component)
        for r in connected_components(df).collect()
    }
    slow = {
        (r.node, r.component)
        for r in connected_components(
            df, single_task_edges=None
        ).collect()
    }
    assert fast == slow and len(fast) > 50
