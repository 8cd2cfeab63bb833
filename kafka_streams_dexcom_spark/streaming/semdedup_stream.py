"""Streaming SemDeDup — incremental maintenance of the SEMANTIC
cluster state (SemDeDup, Abbas et al. 2023, arXiv:2303.09540; stage 2
of D4, Tirumala et al. 2023, arXiv:2308.12284) for a stream of new
embeddings, published through the append-granular commit log.

The batch stack (queries/dedup.q_semdedup) blocks candidate pairs by
trained k-means cell, scores within-cell cosine, and runs CC to form
semantic groups. At 100 TB embeddings arrive continuously; recomputing
the within-cell pair graph over the corpus per batch is the quadratic
non-starter. This maintainer is the incremental contract:

1. assign batch vectors to the FROZEN quantizer (bit-equal to the
   one-shot assignment — ann_ingest's invariant);
2. candidate pairs = batch×batch plus batch×STORED within the same
   cell only — the corpus pair graph is never revisited (a cross-batch
   semantic pair (a earlier, b later) is found when b's batch probes
   the stored members of its cell);
3. score candidates with the exact embedding_cosine_pairs arithmetic
   (sequential-fold dot, round-6 cosine) at SEMDEDUP_TAU;
4. fold verified edges into the stored labeling with
   cc_incremental_delta — only created/changed label rows are written
   (the changelog shape of cluster_map_stream);
5. commit_append publishes the batch's member vectors and label delta
   in ONE manifest: O(batch) data motion per commit, per-writer replay
   watermarks, exactly-one-winner races — the per-batch protocol of
   streaming/commitlog.BatchMaintainer.

Equivalence (pinned by tests/test_semdedup_stream.py): after streaming
a corpus in any number of micro-batches, ``membership()`` equals the
one-shot cells→pairs→CC membership EXACTLY, and ``semdedup_view()``
equals the one-shot SemDeDup keep/drop election — keeper = the member
FARTHEST from its cell centroid (per-dim round-6 mean of final
membership, ties to lowest vec_id), the paper's diversity-preserving
pick. The election is a READ-TIME view over the maintained state (the
centroid mean depends on final membership, so it is a reporting
computation, not per-batch state — same reasoning as cell_counts on
the IVF index).

Scale: within-cell candidate generation inherits the learned-partition
Σcell² bound of dedup_embedding_ivf, with the batch on the build side;
stored vectors are read per batch but only JOINED on the batch's cells
(cell-partitioned storage prunes the rest at the scan). A HOT cell (a
stale quantizer packing too much of the corpus into one cell) would
still grow the per-batch fold without bound, so the stored-side probe
is capped at ``max_cell_probe`` members per cell — the lowest-vec_id
members act as stable cell representatives (deterministic: vec_ids are
stable, so the probe set does not depend on arrival order). When the
cap binds, an edge to a non-representative stored member can be missed
(bounded-cost/degraded-recall, the LSH_MAX_BUCKET trade in
operators/dedup.py:55 — and CC transitivity still routes most matches
through a representative); when it does not bind — the default is far
above any bench SF's cell size — the fold is exact and batch≡stream
equality holds (pinned by test). State grows with the corpus — this
maintainer is the corpus index builder, like the cluster-map
maintainer, not a bounded-state operator.

Reference anchor: the composition generalizes the ES sink's
append-with-stable-ids contract (ElasticSearchConsumer.java:42-55) to
a maintained semantic-duplicate view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.clustering import (
    DIST2_TPL,
    assign_to_centroids,
)
from kafka_streams_dexcom_spark.operators.dedup import (
    DOT_EXPR_TPL,
    with_embedding_norm,
)
from kafka_streams_dexcom_spark.streaming.cluster_map_stream import (
    LabelChangelogMaintainer,
)

_VEC_SCHEMA = "vec_id long, cell int, vec array<double>, norm double"

# Per-cell stored-side probe cap: a batch vector is compared against at
# most this many stored members of its cell (the lowest-vec_id
# representatives). Far above any bench SF's cell size — results there
# are exact — while bounding the worst hot cell's per-batch fold to
# |batch|·cap pairs at 100 TB (LSH_MAX_BUCKET's discipline).
SEM_MAX_CELL_PROBE = 100_000


class SemClusterMaintainer(LabelChangelogMaintainer):
    """foreachBatch sink maintaining (member vectors, semantic cluster
    labels) for a stream of new embeddings against a frozen quantizer.
    See module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: DataFrame,
        lineage_id: str | None = None,
        tau: float = 0.7,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        writer_id: str | None = None,
        max_cell_probe: int | None = SEM_MAX_CELL_PROBE,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id)
        self.centroids = centroids.select(
            F.col("cid").cast("int").alias("cid"), "cvec"
        ).localCheckpoint()
        self.tau = tau
        self.id_col = id_col
        self.vec_col = vec_col
        self.max_cell_probe = max_cell_probe

    # -- stored artifacts ------------------------------------------------
    def vectors(self, version: int | None = None) -> DataFrame:
        return self._read(_VEC_SCHEMA, version, "vectors")

    def membership(self, version: int | None = None) -> DataFrame:
        """(vec_id, cell, sem_cluster) — every stored vector with its
        semantic cluster; singletons label themselves (the coalesce of
        q_semdedup's member frame)."""
        v = self.table.latest_version() if version is None else version
        lab = self.labels(v)
        return (
            self.vectors(v)
            .join(lab, F.col(self.id_col) == F.col("node"), "left")
            .select(
                self.id_col,
                "cell",
                F.coalesce("component", F.col(self.id_col)).alias(
                    "sem_cluster"
                ),
            )
        )

    def _election_frames(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(member, dist, keepers) over the maintained state — the
        exact arithmetic of queries/dedup._semdedup_frames: per-cell
        round-6 mean centroid of FINAL membership, farthest-from-
        centroid keeper, ties to lowest vec_id."""
        idc = self.id_col
        base = self.vectors()
        member = self.membership()
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
        dist = base.join(F.broadcast(cvec), "cell").select(
            idc,
            F.round(
                F.expr(DIST2_TPL.format(a="vec", b="cvec")), 6
            ).alias("d2"),
        )
        keepers = (
            member.join(dist, idc)
            .groupBy("sem_cluster")
            .agg(
                F.max_by(
                    F.col(idc),
                    F.struct(F.col("d2"), (-F.col(idc)).alias("nid")),
                ).alias("keeper")
            )
        )
        return member, dist, keepers

    def semdedup_view(self) -> DataFrame:
        """The SemDeDup keep/drop election over the maintained state:
        (vec_id, cell, sem_cluster, keep) — identical arithmetic to
        q_semdedup (queries/dedup._semdedup_frames), asserted bit-equal
        by test."""
        idc = self.id_col
        member, _dist, keepers = self._election_frames()
        return member.join(keepers, "sem_cluster").select(
            idc,
            "cell",
            "sem_cluster",
            (F.col(idc) == F.col("keeper")).cast("int").alias("keep"),
        )

    def d4_view(self, keep_num: int = 2, keep_den: int = 3) -> DataFrame:
        """D4's SSL-prototypes stage over the maintained state: rank
        each cell's SemDeDup survivors by centroid distance DESC (ties
        lowest vec_id) and keep rank·den <= n_cell·num — identical
        arithmetic to q_d4_selection, so the streamed corpus yields the
        same training-set selection as the one-shot batch pipeline."""
        from pyspark.sql import Window

        idc = self.id_col
        member, dist, keepers = self._election_frames()
        surv = (
            member.join(keepers, "sem_cluster")
            .filter(F.col(idc) == F.col("keeper"))
            .join(dist, idc)
        )
        cell_win = Window.partitionBy("cell")
        rk = F.row_number().over(
            cell_win.orderBy(F.desc("d2"), F.asc(idc))
        ).cast("long")
        out = surv.select(
            idc,
            "cell",
            "sem_cluster",
            rk.alias("proto_rank"),
            F.count(F.lit(1)).over(cell_win).alias("n_cell"),
        )
        selected = (
            F.col("proto_rank") * F.lit(keep_den)
            <= F.col("n_cell") * F.lit(keep_num)
        ).cast("int")
        return out.select(
            idc,
            "cell",
            "sem_cluster",
            "proto_rank",
            "n_cell",
            selected.alias("selected"),
        )

    def _compacted(self, base: int) -> dict:
        return {
            "labels": self._label_snapshot(base),
            "vectors": self.vectors(base),
        }

    # -- the fold --------------------------------------------------------
    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        """The frozen-quantizer assignment + norms — depends only on the
        batch, materialized once and reused by every rebase."""
        idc = self.id_col
        base_vecs = with_embedding_norm(
            batch_df.select(idc, self.vec_col), self.vec_col
        ).select(F.col(idc).alias("vid"), "vec", "norm")
        return (
            assign_to_centroids(
                base_vecs.select("vid", "vec"), self.centroids
            )
            .join(base_vecs.select("vid", "norm"), "vid")
            .select(
                F.col("vid").alias(idc),
                F.col("cid").cast("int").alias("cell"),
                "vec",
                "norm",
            )
            .localCheckpoint()
        )

    def _pairs(self, a: DataFrame, b: DataFrame, ordered: bool) -> DataFrame:
        """Within-cell cosine pairs between ``a`` and ``b`` at tau —
        the exact embedding_cosine_pairs arithmetic (sequential-fold
        dot, round-6 cosine). ``ordered`` applies the id_a < id_b
        dedup for the symmetric (batch×batch) case."""
        idc = self.id_col
        aa = a.select(
            F.col(idc).alias("id_a"),
            F.col("vec").alias("vec_a"),
            F.col("norm").alias("norm_a"),
            "cell",
        )
        bb = b.select(
            F.col(idc).alias("id_b"),
            F.col("vec").alias("vec_b"),
            F.col("norm").alias("norm_b"),
            "cell",
        )
        joined = aa.join(bb, "cell")
        if ordered:
            joined = joined.filter(F.col("id_a") < F.col("id_b"))
        dot = F.expr(DOT_EXPR_TPL.format(a="vec_a", b="vec_b"))
        cos = F.round(dot / (F.col("norm_a") * F.col("norm_b")), 6)
        return (
            joined.withColumn("cos_sim", cos)
            .filter(F.col("cos_sim") >= self.tau)
            .select("id_a", "id_b")
        )

    def _stage(self, bn: DataFrame, base: int) -> tuple:
        stored = self.vectors(base)
        if self.max_cell_probe is not None:
            # hot-cell bound: probe only the cap-many lowest-vec_id
            # stored members per cell (stable representatives — see
            # module docstring). row_number rides the same cell key the
            # candidate join shuffles on; linear, no extra pass over
            # the index beyond the per-batch read it already pays.
            rep_win = Window.partitionBy("cell").orderBy(
                F.col(self.id_col).asc()
            )
            stored = (
                stored.withColumn("_rep", F.row_number().over(rep_win))
                .filter(F.col("_rep") <= self.max_cell_probe)
                .drop("_rep")
            )
        edges = self._pairs(bn, stored, ordered=False).union(
            self._pairs(bn, bn, ordered=True)
        ).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        return {
            "labels": self._label_delta(edges, base),
            "vectors": bn,
        }, {}
