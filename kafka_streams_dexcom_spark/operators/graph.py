"""Connected components over near-duplicate pair graphs — the step that
turns pairwise similarity into dedup decisions (keep one representative
per cluster).

Algorithm: iterative min-id label propagation. Each node starts with its
own id as label; each round every node adopts the minimum label in its
neighborhood; converges in O(diameter) rounds. The loop runs to an
explicit fixpoint — it stops the first round no label changes — so the
result is exact CC for any diameter up to ``max_rounds`` (a safety cap,
not a tuning knob). The changed-count check is one cheap scan of the
round's already-materialized localCheckpoint, negligible next to the
round's two shuffles even at cluster scale.

Each round is one join + one groupBy — two shuffles on node id, both
AQE-managed. No driver-side iteration state beyond the loop counter.

The same module ranks pair graphs (fixed-point PageRank) and counts
their triangles. Connected components and PageRank share one
runtime-stats dispatch: a graph of at most ``CC_SINGLE_TASK_EDGES``
mirrored edges runs as ONE executor task (repartition(1) + mapInPandas
over int64 numpy arrays, both kernels loading edges through
``_edge_arrays``) instead of the distributed round loop, whose every
round is an eager Spark job. Either path gives bit-equal output.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.rounding import trunc6


def _hard_cut(df: DataFrame, rnd: int) -> tuple[DataFrame, str | None]:
    """Full re-materialization of an iteration frame — the reset that
    keeps deep iterative loops at flat per-round cost (see
    connected_components docstring for the measured degradation).
    Returns ``(materialized_frame, disk_path_or_None)``; the caller owns
    deleting a path once a LATER cut supersedes it (every intermediate
    localCheckpoint is eager, so after cut N's write finishes nothing
    can recompute through cut N-1's files).

    Three paths, in order: a reliable ``df.checkpoint`` when the session
    has a checkpoint dir (the cluster configuration — note Spark only
    deletes those files itself under
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``); a
    parquet round-trip through a per-process temp root in LOCAL mode
    (driver and executors share a filesystem); and on a cluster with NO
    checkpoint dir, a plain eager ``localCheckpoint`` — slower past ~16
    rounds but correct, where the driver-local parquet path would
    silently drop every partition written on other nodes."""
    import os
    import uuid

    spark = df.sparkSession
    try:
        # classic-session probe: raises under Spark Connect, where the
        # driver-side SparkContext (and py4j) are unreachable — fall back
        # to the plain localCheckpoint Connect 4.x supports rather than
        # failing every deep graph that reaches the first cut
        sc = spark.sparkContext
        checkpoint_dir_set = sc._jsc.sc().getCheckpointDir().isDefined()  # noqa: SLF001
        master = sc.master
    except Exception:
        return df.localCheckpoint(), None
    if checkpoint_dir_set:
        return df.checkpoint(eager=True), None
    if not master.startswith("local"):
        return df.localCheckpoint(), None
    from kafka_streams_dexcom_spark.sources.files import session_temp_dir

    root = session_temp_dir("iter_cut")
    path = os.path.join(root, f"r{rnd}_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path), path


# Below this edge count the pair graph runs as ONE task on one executor
# instead of a distributed round loop: union-find for
# connected_components (instead of the O(log d) hook+jump loop), the
# fixed-point rounds on numpy arrays for pagerank. The output is
# bit-identical (min-id per component is canonical for any algorithm;
# PageRank's integer arithmetic is the same on both paths); only the
# physical strategy changes — the same runtime-stats dispatch AQE
# applies to joins. 2M edges ≈ 32 MB of int64 pairs: trivial for one
# task, while the iterative loop would pay seconds of per-round
# scheduling for a graph this small (measured: semdedup's 1.2k-edge
# graph cost 11.4s in rounds, <1s as one task; pagerank_centrality at
# sf0.01, 182 nodes, warm on 4 vCPUs: 2.5s as 6 eager jobs, 1.2s as 2).
CC_SINGLE_TASK_EDGES = 2_000_000

# Every HARD_CUT_EVERY rounds the iterative loop's label table is fully
# re-materialized by _hard_cut instead of chained onto the previous
# round's localCheckpoint (see connected_components for the measured
# per-round degradation this resets).
HARD_CUT_EVERY = 8


def _edge_arrays(batches):
    """The edge-array prologue both single-task graph kernels share:
    ``(ids, ui, vi)`` from the pandas batches of a ``(u, v)`` edge
    frame, where ``ids`` is the sorted distinct node ids and ``ui``/``vi``
    are each edge's endpoints as indices into ``ids``. ``None`` when the
    task received no batch (an empty edge frame)."""
    import numpy as np

    us, vs = [], []
    for pdf in batches:
        us.append(pdf["u"].to_numpy())
        vs.append(pdf["v"].to_numpy())
    if not us:
        return None
    u = np.concatenate(us)
    v = np.concatenate(vs)
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    return ids, inv[: len(u)], inv[len(u) :]


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Exact CC of a small edge set as one executor task: repartition(1)
    + mapInPandas union-find (path halving), then min original id per
    root as the component label. Data never touches the driver; the
    task is executor-side like any other."""
    node_t = edges.schema["u"].dataType.simpleString()

    def run(batches):
        import numpy as np
        import pandas as pd

        loaded = _edge_arrays(batches)
        if loaded is None:
            yield pd.DataFrame({"node": [], "component": []})
            return
        ids, ui, vi = loaded
        parent = np.arange(len(ids))

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in zip(ui, vi):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by smaller ORIGINAL id keeps roots canonical
                if ids[ra] < ids[rb]:
                    parent[rb] = ra
                else:
                    parent[ra] = rb
        roots = np.array([find(i) for i in range(len(ids))])
        yield pd.DataFrame({"node": ids, "component": ids[roots]})

    return edges.repartition(1).mapInPandas(
        run, schema=f"node {node_t}, component {node_t}"
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 50,
    single_task_edges: int | None = CC_SINGLE_TASK_EDGES,
) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; exact
    connected components. Each round combines min-neighbor HOOKING with
    POINTER JUMPING (label ← label-of-label), so label distance to the
    component minimum roughly halves per round — convergence in
    O(log diameter) rounds instead of O(diameter), the difference
    between 6 rounds and 10⁶ on a pathological chain at corpus scale.
    Runs until a round changes nothing; raises if ``max_rounds`` is hit
    without converging (a silent cap would return wrong labels).

    Every ``HARD_CUT_EVERY`` rounds the label table is FULLY
    re-materialized (reliable checkpoint when the session has a
    checkpoint dir, else a parquet round-trip through a process-local
    temp dir in local mode). Superseded cut files are deleted as the loop
    advances, so at most one on-disk label copy is live per invocation.
    Measured on Spark 4.1 local mode: per-round cost with
    chained localCheckpoints is flat for ~16 rounds and then grows
    ~2.5× PER ROUND (a 25-round run goes from 0.4s rounds to 100s+
    rounds — the customer-name ER graph, whose digit-edit chains are
    hundreds of hops deep, ran >400s without this and 17s with it).
    The hard cut resets whatever the chained local checkpoints
    accumulate; on a cluster, set sparkContext.setCheckpointDir so the
    cut goes through the distributed checkpoint path."""
    # cut the pair pipeline ONCE before mirroring (the union's two
    # branches would otherwise re-execute candidate generation twice
    # during the persist materialization below)
    p0 = pairs.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).localCheckpoint()
    # runtime-stats physical dispatch (the AQE discipline): a small
    # graph runs as one union-find task — identical output, none of the
    # per-round scheduling cost. Dispatch on the RAW pair count (one
    # job over the just-materialized checkpoint): union-find is
    # insensitive to duplicate AND unmirrored edges, so the small path
    # skips the mirror+distinct shuffle and the persist entirely
    # (round-12: that shuffle cost ~1 s per CC invocation at bench
    # scale for graphs of a few thousand edges). 2·|pairs| bounds the
    # mirrored-distinct count the threshold was calibrated against.
    if single_task_edges and 2 * p0.count() <= single_task_edges:
        # cut: callers join the labels back from several branches, and
        # each would otherwise rerun the one-task union-find
        return _cc_single_task(p0).localCheckpoint()
    edges = p0.union(
        p0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct()
    # iterative algorithm hygiene: without this, round k's plan re-derives
    # the whole upstream pairs pipeline k times (measured 23s -> 4s at
    # sf0.01). Persist the loop-invariant edge list (materialized by the
    # count below, exactly as before the dispatch moved to p0); cut the
    # label lineage every round with an eager localCheckpoint.
    edges = edges.persist()
    edges.count()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_cut_path: str | None = None
    for rnd in range(max_rounds):
        # qualified aliases: labels derives from edges, so every round is
        # a self-join by lineage — name-qualify to keep Catalyst unambiguous
        neighbor_min = (
            edges.alias("e")
            .join(labels.alias("lx"), F.col("e.v") == F.col("lx.node"))
            .groupBy(F.col("e.u").alias("nm_node"))
            .agg(F.min(F.col("lx.label")).alias("nbr_label"))
        )
        hooked = (
            labels.alias("l")
            .join(
                neighbor_min.alias("nm"),
                F.col("l.node") == F.col("nm.nm_node"),
                "left",
            )
            .select(
                F.col("l.node").alias("node"),
                F.col("l.label").alias("prev_label"),
                F.least(
                    F.col("l.label"),
                    F.coalesce(F.col("nm.nbr_label"), F.col("l.label")),
                ).alias("label"),
            )
        )
        # pointer jump: label ← label(label), applied TWICE per round.
        # Every label value IS a node id (labels start as identity and
        # only copy node ids), so the lookup always hits; labels are
        # monotone non-increasing, so each jump only tightens — the
        # invariants that make the result exact are jump-count-
        # independent. Both jumps read the SAME previous-round label
        # table, so they add one shuffle join each but NO extra
        # materialization (the degradation driver is materialization-
        # chain length, not join count — ROUND4_NOTES.md). One stale
        # jump compresses reach by ~φ per round (the jump table lags
        # the hook by a round); two compress by ~2× — measured on the
        # hundreds-deep customer-name edit-chain graph
        # (er_customer_golden, sf0.1): 24 rounds → 13, 26s → 15s.
        # ADAPTIVE: the first two rounds are hook-only — shallow
        # near-dup forests (diameter ≤ 2, the common case) converge
        # before ever paying the extra joins; deep graphs start
        # compressing their chains from round 3.
        if rnd < 2:
            updated = hooked
        else:
            updated = hooked
            for j in range(2):
                updated = (
                    updated.alias("h")
                    .join(
                        labels.select(
                            F.col("node").alias(f"j{j}_node"),
                            F.col("label").alias(f"j{j}_label"),
                        ),
                        F.col("h.label") == F.col(f"j{j}_node"),
                        "left",
                    )
                    .select(
                        F.col("h.node").alias("node"),
                        F.col("h.prev_label").alias("prev_label"),
                        F.least(
                            F.col("h.label"),
                            F.coalesce(
                                F.col(f"j{j}_label"), F.col("h.label")
                            ),
                        ).alias("label"),
                    )
                )
        if (rnd + 1) % HARD_CUT_EVERY == 0:
            updated, cut_path = _hard_cut(updated, rnd)
            if prev_cut_path is not None:
                shutil.rmtree(prev_cut_path, ignore_errors=True)
            if cut_path is not None:
                prev_cut_path = cut_path
        else:
            updated = updated.localCheckpoint()
        labels = updated.select("node", "label")
        # fixpoint test on the materialized checkpoint: once a round
        # changes nothing, every further round is an identical no-op
        if (
            updated.where(F.col("label") != F.col("prev_label"))
            .limit(1)
            .count()
            == 0
        ):
            edges.unpersist()
            return labels.select("node", F.col("label").alias("component"))
    edges.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_rounds} rounds"
    )


def _contract_batch(
    new_edges: DataFrame, old_labels: DataFrame, a_col: str, b_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The batch-bounded core of incremental CC: ``(lab, remap,
    new_nodes)``, where ``lab`` is the (node, component) label table,
    ``remap`` maps each old component id the batch merges into a lower
    label (node = old id, component = new label), and ``new_nodes`` is
    the (node, component) labeling of nodes absent from ``old_labels``.

    Why it's exact: an existing component can be CONTRACTED to its label
    (the min id of its members, by construction of min-label CC). New
    edges are the only way components merge, so mapping each edge
    endpoint to its old component label (or itself for a new node) and
    running CC on that contracted graph yields, per contracted node, the
    min id over every member of every merged component — exactly the
    label full CC would assign. Old components untouched by any new edge
    keep their labels verbatim."""
    e = new_edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    lab = old_labels.select("node", "component")
    # contract endpoints: corpus node → its old component label;
    # new node → itself
    mapped = (
        e.join(
            lab.select(
                F.col("node").alias("u"), F.col("component").alias("cu")
            ),
            "u",
            "left",
        )
        .join(
            lab.select(
                F.col("node").alias("v"), F.col("component").alias("cv")
            ),
            "v",
            "left",
        )
        .localCheckpoint()  # two corpus joins run once, not per CC round
    )
    contracted = mapped.select(
        F.coalesce(F.col("cu"), F.col("u")).alias("doc_a"),
        F.coalesce(F.col("cv"), F.col("v")).alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))
    # the old component ids touched by this batch — batch-bounded, so
    # the new-node test below never joins against the corpus label table
    involved_old = (
        mapped.select(F.col("cu").alias("node"))
        .union(mapped.select(F.col("cv").alias("node")))
        .where(F.col("node").isNotNull())
        .distinct()
    )
    merged = connected_components(contracted)  # batch-sized graph
    # relabel map entries that actually change a label: old component
    # ids mapped to a DIFFERENT (strictly lower — min-label CC) label
    remap = merged.join(
        F.broadcast(involved_old), "node", "left_semi"
    ).filter(F.col("node") != F.col("component"))
    # new nodes (absent from old_labels): their contracted id is their
    # own node id. A contracted id is an old-component label iff it came
    # from a cu/cv hit, so the batch-bounded involved_old set separates
    # them — no corpus-sized anti-join. (New doc ids can't collide with
    # old labels: labels are old node ids and doc ids are unique.)
    new_nodes = merged.join(
        F.broadcast(involved_old), "node", "left_anti"
    ).select("node", "component")
    return lab, remap, new_nodes


def _relabel(lab: DataFrame, remap: DataFrame, how: str) -> DataFrame:
    """``lab``'s rows with their component moved through ``remap``: ONE
    broadcast hash join over the label table (the relabel map is
    batch-bounded), never a corpus shuffle. ``how="inner"`` keeps only
    the moved rows, ``"left"`` every row."""
    return lab.join(
        F.broadcast(
            remap.select(
                F.col("node").alias("component"),
                F.col("component").alias("new_component"),
            )
        ),
        "component",
        how,
    ).select(
        "node",
        F.coalesce(F.col("new_component"), F.col("component")).alias(
            "component"
        ),
    )


def cc_incremental(
    new_edges: DataFrame,
    old_labels: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Incremental connected components for the daily-ingest path: given
    the EXISTING corpus labeling ``old_labels`` (node, component — the
    published cluster_map artifact) and ``new_edges`` (every near-dup
    pair that touches the new batch: new–new and new–corpus), return the
    exact labeling of the union graph — WITHOUT re-running CC over the
    corpus. It is ``old_labels`` overlaid with
    :func:`cc_incremental_delta`'s rows.

    Cost ∝ batch, not corpus: the contracted CC runs over ≤ |new_edges|
    edges; the only corpus-scale operation is ONE scan of the label
    table joined (broadcast — the delta is batch-bounded) against the
    relabel map. No corpus text is re-shingled, no corpus edges are
    revisited."""
    lab, remap, new_nodes = _contract_batch(
        new_edges, old_labels, a_col, b_col
    )
    return _relabel(lab, remap, "left").unionByName(new_nodes)


def cc_incremental_delta(
    new_edges: DataFrame,
    old_labels: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """The CHANGELOG form of cc_incremental: only the label rows the
    batch creates or changes — new nodes, plus old nodes whose
    component merged into a lower label. ``old_labels`` overlaid with
    these rows (latest wins per node) equals cc_incremental's full
    output exactly, which is what lets the streaming cluster-map
    maintainer publish labels as an APPEND-ONLY changelog through the
    file-granular commit log instead of rewriting the O(corpus) label
    table per batch (Delta's change-data-feed shape; the compacted
    read is one latest-per-node window — the KTable semantics of
    operators/core.latest_per_key).

    Cost ∝ batch on the WRITE side: the relabel map is batch-bounded
    (components only merge through new edges), so changed-old rows are
    one broadcast SEMI-style join over the label scan that emits only
    affected members; nothing corpus-sized is shuffled or written."""
    lab, remap, new_nodes = _contract_batch(
        new_edges, old_labels, a_col, b_col
    )
    return _relabel(lab, remap, "inner").unionByName(new_nodes)


def cluster_representatives(components: DataFrame) -> DataFrame:
    """One surviving representative per cluster (the min id — consistent
    with the exact-dedup keep-min policy) plus the cluster size."""
    return components.groupBy("component").agg(
        F.min("node").alias("representative"),
        F.count(F.lit(1)).alias("cluster_size"),
    )


PR_UNIT = 1_000_000_000_000  # fixed-point scale: 1.0 == 10^12 units
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping d = 0.85 as a ratio


def _pr_single_task(p0: DataFrame, rounds: int) -> DataFrame:
    """(node, pr) of a small normalized pair set as one executor task:
    repartition(1) + mapInPandas running the distributed loop's
    fixed-point rounds on int64 numpy arrays. Every quantity is the
    loop's integer (pr div deg contributions, their sum per target, the
    damped floor update), so the ranks are bit-equal to the loop's;
    ``np.add.at`` sums integers, never floats."""
    node_t = p0.schema["u"].dataType.simpleString()

    def run(batches):
        import numpy as np
        import pandas as pd

        loaded = _edge_arrays(batches)
        if loaded is None:
            yield pd.DataFrame({"node": [], "pr": []})
            return
        ids, ui, vi = loaded
        n = len(ids)
        src = np.concatenate([ui, vi])
        dst = np.concatenate([vi, ui])
        deg = np.bincount(src, minlength=n)
        base = (PR_UNIT * (PR_DAMP_DEN - PR_DAMP_NUM) // PR_DAMP_DEN) // n
        pr = np.full(n, PR_UNIT // n, dtype=np.int64)
        for _ in range(rounds):
            s = np.zeros(n, dtype=np.int64)
            np.add.at(s, dst, (pr // deg)[src])
            nxt = base + PR_DAMP_NUM * s // PR_DAMP_DEN
            if np.array_equal(nxt, pr):
                break
            pr = nxt
        yield pd.DataFrame({"node": ids, "pr": pr})

    return p0.repartition(1).mapInPandas(
        run, schema=f"node {node_t}, pr bigint"
    )


def _pr_loop(p0: DataFrame, rounds: int) -> DataFrame:
    """(node, deg, n_nodes, pr) of the normalized pair set ``p0`` by the
    distributed round loop: two shuffles per round on node id, edges
    persisted, every round cut with an eager localCheckpoint and
    followed by an early-exit count."""
    edges = p0.union(
        p0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    edges = edges.persist()
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n_nodes = deg.select(F.count(F.lit(1)).alias("n_nodes"))
    base = F.expr(
        f"(({PR_UNIT} * {PR_DAMP_DEN - PR_DAMP_NUM}) div {PR_DAMP_DEN})"
        " div n_nodes"
    )
    pr = deg.join(F.broadcast(n_nodes), how="cross").select(
        F.col("u").alias("node"),
        "deg",
        "n_nodes",
        F.expr(f"{PR_UNIT} div n_nodes").alias("pr"),
    )
    for rnd in range(rounds):
        contrib = pr.select(
            F.col("node").alias("src"), F.expr("pr div deg").alias("c")
        )
        incoming = (
            edges.alias("e")
            .join(contrib.alias("c"), F.col("e.u") == F.col("c.src"))
            .groupBy(F.col("e.v").alias("in_node"))
            .agg(F.sum("c").alias("s"))
        )
        updated = (
            pr.alias("p")
            .join(
                incoming.alias("i"),
                F.col("p.node") == F.col("i.in_node"),
                "left",
            )
            .select(
                F.col("p.node").alias("node"),
                F.col("p.deg").alias("deg"),
                F.col("p.n_nodes").alias("n_nodes"),
                F.col("p.pr").alias("prev_pr"),
                (
                    base
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(i.s, 0L))"
                        f" div {PR_DAMP_DEN}"
                    )
                ).alias("pr"),
            )
            .localCheckpoint()
        )
        pr = updated.select("node", "deg", "n_nodes", "pr")
        # fixed-point ranks are integers: exact equality is meaningful.
        # If a round changed nothing, every later round is a no-op —
        # stop early (the check scans the materialized checkpoint only;
        # skipped on the final round where the loop ends regardless).
        if rnd < rounds - 1 and (
            updated.where(F.col("pr") != F.col("prev_pr"))
            .limit(1)
            .count()
            == 0
        ):
            break
    edges.unpersist()
    return pr


def pagerank(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    rounds: int = 3,
    single_task_edges: int | None = CC_SINGLE_TASK_EDGES,
) -> DataFrame:
    """PageRank over an undirected pair graph, in fixed-point integers.

    Distributed float determinism is the real problem with iterative
    rank algorithms: a double sum's value depends on partition reduce
    order, so two runs (or two engines) drift. Here every quantity is a
    BIGINT number of 10^-12 units and every division is integer floor
    division — sums of integers are order-independent, so the result is
    bit-identical on any partitioning and exactly replayable by the SQL
    oracle's unrolled rounds.

    Per round: contribution = pr div degree per node, summed per target
    node, then the damped update ``base + 85*s div 100``. The round
    stops early once a round changes nothing. Undirected near-dup graphs
    have no dangling nodes (every node has degree >= 1), so no
    dangling-mass redistribution term is needed.

    Two physical strategies, chosen by the same runtime-stats dispatch
    as connected_components: a graph of at most ``single_task_edges``
    mirrored edges runs as ONE executor task (repartition(1) + an int64
    numpy kernel, :func:`_pr_single_task`); a larger one, or any graph
    with ``single_task_edges=None``, runs the distributed loop
    (:func:`_pr_loop`: one join + one groupBy per round, edges
    persisted, every round cut with an eager localCheckpoint plus an
    early-exit count). Both compute the same integers, so the ranks are
    bit-equal; the small path only skips the loop's per-round jobs.
    """
    # cut the pair pipeline ONCE: the dispatch count and the chosen path
    # both read it, and the loop's mirror union references it from two
    # branches, which would execute candidate generation twice.
    # Normalize + distinct first: the documented semantics are an
    # undirected SIMPLE graph — duplicate or reversed input pairs must
    # not inflate degrees or double-count contributions.
    p0 = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    # 2·|p0| is the mirrored edge count, the quantity the CC threshold
    # was calibrated against
    if single_task_edges and 2 * p0.count() <= single_task_edges:
        pr = _pr_single_task(p0, rounds)
    else:
        pr = _pr_loop(p0, rounds)
    # float view truncated to 9 decimals via integer div — never round a
    # computed double (engines disagree on ties; see BASELINE.md notes)
    return pr.select(
        "node",
        F.col("pr").alias("pr_units"),
        (F.expr("pr div 1000") / F.lit(1.0e9)).alias("pagerank"),
    )


def triangle_counts(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_degree: int | None = None,
) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected pair graph — the density diagnostic for near-dup blobs
    (a clique-like component is one duplicated source; a chain of
    borderline matches is transitive-closure noise).

    Standard ordered-edge enumeration: every triangle u<v<w is found
    exactly once by joining ascending edges (u,v)+(v,w) and closing with
    (u,w). Two equi-joins on node id over the (small) edge list — never
    on the corpus — then one explode+groupBy to attribute the triangle
    to its three corners. Degrees come from the same edge list; nodes in
    no triangle keep count 0 via the left join.

    The edge list is consumed from FOUR plan branches (both path sides,
    the closing join, degrees), so the upstream pair pipeline is
    materialized once with an eager localCheckpoint — without it the
    whole candidate-generation pipeline re-executes per branch (same
    hygiene as connected_components/hashed_shingle_corpus).

    ``max_degree``: skew guard for the quadratic step. The path join
    emits deg(v)^2 wedges per pivot node, so one celebrity node of
    degree d contributes d^2 rows — at corpus scale that single key is
    the job. With a cap, nodes of degree > max_degree (a tiny set of
    heavy hitters — broadcast anti-join, no shuffle) are removed before
    enumeration, and the result is EXACT triangle counting on the capped
    subgraph: per-pivot wedge count is bounded by max_degree^2. The
    standard corpus diagnostic (near-dup blob density) loses nothing —
    a celebrity node's neighborhood is better inspected directly than
    triangle-counted."""
    # normalize to ordered distinct edges: the enumeration assumes a<b
    # and no duplicates — both orientations of the same pair (or dup
    # candidate rows) would count each triangle up to 6x and double
    # every degree
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    if max_degree is not None:
        deg0 = (
            e.select(F.col("a").alias("node"))
            .union(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d0"))
        )
        hot = deg0.where(F.col("d0") > max_degree).select("node")
        e = (
            e.join(
                F.broadcast(hot.select(F.col("node").alias("a"))),
                "a",
                "left_anti",
            )
            .join(
                F.broadcast(hot.select(F.col("node").alias("b"))),
                "b",
                "left_anti",
            )
            .select("a", "b")
            .localCheckpoint()  # the four branches read the capped list
        )
    paths = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("u"),
            F.col("e1.b").alias("v"),
            F.col("e2.b").alias("w"),
        )
    )
    tri = paths.join(
        e.alias("e3"),
        (F.col("u") == F.col("e3.a")) & (F.col("w") == F.col("e3.b")),
    ).select("u", "v", "w")
    corner = tri.select(
        F.explode(F.array("u", "v", "w")).alias("node")
    ).groupBy("node").agg(F.count(F.lit(1)).alias("triangles"))
    deg = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    wedges = F.col("degree") * (F.col("degree") - 1)
    return (
        deg.join(corner, "node", "left")
        .na.fill(0, ["triangles"])
        .select(
            "node",
            "degree",
            F.col("triangles").cast("bigint").alias("triangles"),
            F.when(F.col("degree") >= 2,
                   trunc6(
                       (F.lit(2) * F.col("triangles")).cast("double")
                       / wedges.cast("double")
                   ))
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
