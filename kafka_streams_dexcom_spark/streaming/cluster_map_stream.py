"""Streaming maintenance of the near-dup cluster map — the daily-ingest
path (operators/graph.py:cc_incremental) as a LIVE Structured Streaming
topology instead of a replayed batch query.

Each micro-batch of new documents:

1. builds the batch's OWN minhash artifacts (hashed shingle sets + LSH
   band table) — cost ∝ batch, computed ONCE per batch outside the
   commit-retry loop (they depend only on the batch, never on the base
   version a rebase moves);
2. generates candidates as batch×batch (within the micro-batch) plus
   batch×corpus against the STORED band index — the corpus is never
   re-shingled (the incremental_minhash_dedup contract, here actually
   incremental because the corpus artifacts persist between batches);
3. verifies candidates with exact Jaccard over the hashed shingle sets;
4. folds the verified edges into the stored labeling with
   cc_incremental_delta (contracted CC over the batch-sized graph, one
   broadcast relabel join — never CC over the corpus), emitting ONLY
   the created/changed label rows;
5. publishes the increment through the APPEND-GRANULAR commit log
   (streaming/commitlog.VersionedTable.commit_append): the batch's
   band rows and shingle sets are appended by file reference, and the
   label delta lands as a CHANGELOG row-set (node, component, seq) —
   the stored labels are read back as latest-per-node (the KTable
   compaction semantics of operators/core.latest_per_key, Delta's
   change-data-feed shape). Per-batch commit cost is O(batch); the
   old whole-view rewrite grew with the INDEX. All three legs land in
   ONE commit, so labels can never disagree with their band index, and
   put-if-absent manifest creation gives exactly-one-winner semantics
   when several maintainers race the same view.

Every COMPACT_EVERY commits the maintainer folds the changelog into a
resolved snapshot and the appended band/set increments into single
files (one replace-legs commit carrying the meta forward) — the
scheduled-maintenance job of a real table format (Delta OPTIMIZE),
bounding read amplification without ever blocking the write path.

The per-batch protocol is streaming/commitlog.BatchMaintainer:
exactly-once effect over at-least-once foreachBatch (the manifest meta
records the per-WRITER applied batch_id map + lineage and a replayed
batch is a no-op — the replay and lineage guards of commitlog.py,
including the loud failure when a NEW query lineage points at an
EXISTING view), and the serializable rebase for concurrent writers:
each batch folds against the version it read (base); a losing commit
raises CommitConflict and the FOLD reruns against the winner's output
(the label delta is base-dependent) while the batch minhash artifacts
are reused as-is. tests/test_cluster_map_stream pins a two-maintainer
race ending bit-equal to the sequential fold.

Equivalence contract (pinned by tests/test_cluster_map_stream.py): with
the bucket cap disabled, the final labels after streaming the corpus in
any number of micro-batches are IDENTICAL to one-shot
minhash_lsh_dedup + connected_components over the whole corpus — LSH
banding is deterministic, a cross-batch pair (a earlier, b later) is
found when b's batch probes the corpus index, and cc_incremental is
exact by the contraction argument; overlaying the label changelog
latest-wins reproduces cc_incremental's full output by construction.

At 100 TB: the stored band index is the big artifact; bucket it by
(band_idx, band_hash) (sources/bucketing.py) so the candidate join
shuffles only the batch side. The commit protocol is already the
table-format shape (put-if-absent manifests over immutable file lists),
so swapping the local VersionedTable for Delta/Iceberg is a call-site
change. State grows with the corpus — this maintainer IS the corpus
index builder, not a bounded-state operator.

Reference anchor: generalizes the ES sink's effectively-once publish
contract (ElasticSearchConsumer.java:45-55) from per-document ids to
whole-artifact versions, and its append-with-stable-ids shape
(ElasticSearchConsumer.java:42-55) from documents to commit files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    exact_jaccard,
    hashed_shingle_corpus,
    lsh_band_hashes,
    minhash_signature,
)
from kafka_streams_dexcom_spark.operators.graph import cc_incremental_delta
from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

_LABEL_SCHEMA = "node long, component long, seq long"


class LabelChangelogMaintainer(BatchMaintainer):
    """A maintainer whose ``labels`` leg is a CC label CHANGELOG
    (node, component, seq): each commit appends only the created or
    changed rows, stamped with the target version, and readers resolve
    latest-per-node. The label delta depends on the base labeling, so
    a lost race re-folds against the winner (``REBASE``); compaction
    folds the log into its resolved snapshot. Shared by the cluster
    map, the phash index and SemDeDup."""

    REBASE = True
    AUTO_COMPACT = True

    def _label_log(self, version: int) -> DataFrame:
        return self._read(_LABEL_SCHEMA, version, "labels")

    def labels(self, version: int | None = None) -> DataFrame:
        """The resolved labeling at ``version``: latest-per-node over
        the label changelog (one shuffle on node — the compacted
        KTable read; compaction keeps the log short)."""
        v = self.table.latest_version() if version is None else version
        return (
            self._label_log(v)
            .groupBy("node")
            .agg(F.max_by("component", "seq").alias("component"))
        )

    def _label_delta(self, edges: DataFrame, base: int) -> DataFrame:
        """Fold verified (doc_a, doc_b) edges into the base labeling:
        only created/changed rows, stamped base+1 (the latest-wins
        sequence)."""
        return cc_incremental_delta(edges, self.labels(base)).select(
            "node", "component", F.lit(base + 1).cast("long").alias("seq")
        )

    def _label_snapshot(self, base: int) -> DataFrame:
        return self.labels(base).withColumn(
            "seq", F.lit(base).cast("long")
        )


class ClusterMapMaintainer(LabelChangelogMaintainer):
    """foreachBatch sink maintaining (labels, band index, shingle sets)
    for a stream of new documents. See module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lineage_id: str | None = None,
        threshold: float = 0.2,
        max_bucket: int | None = None,
        id_col: str = "doc_id",
        text_col: str = "text",
        writer_id: str | None = None,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id)
        self.threshold = threshold
        self.max_bucket = max_bucket
        self.id_col = id_col
        self.text_col = text_col

    # -- stored artifacts ------------------------------------------------
    def _bands(self, version: int) -> DataFrame:
        return self._read(
            f"{self.id_col} long, band_idx int, band_hash long",
            version,
            "bands",
        )

    def _sets(self, version: int) -> DataFrame:
        return self._read(
            f"{self.id_col} long, sh_hashes array<long>", version, "sets"
        )

    def _compacted(self, base: int) -> dict:
        return {
            "labels": self._label_snapshot(base),
            "bands": self._bands(base),
            "sets": self._sets(base),
        }

    # -- the fold --------------------------------------------------------
    def _prepare(self, batch_df: DataFrame) -> tuple:
        """The batch's minhash artifacts (cost ∝ batch) — they depend
        only on the batch, so a commit-race rebase reuses them instead
        of re-shingling. Shingle ONCE (the function is eagerly
        materialized), derive sets and bands from it; bands feed two
        joins so they get their own cut."""
        idc = self.id_col
        hfull = hashed_shingle_corpus(
            batch_df.select(idc, self.text_col), idc, self.text_col
        )
        hn = hfull.select(idc, "sh_hashes")
        bn = (
            lsh_band_hashes(minhash_signature(hfull).select(idc, "sig"))
            .select(idc, "band_idx", "band_hash")
            .localCheckpoint()
        )
        return hn, bn

    def _stage(self, art: tuple, base: int) -> tuple:
        """Fold one micro-batch's prebuilt minhash artifacts against
        version ``base``: the three legs' increments."""
        hn, bn = art
        idc = self.id_col
        bc = self._bands(base)
        bn_probe, bc_probe = bn, bc
        if self.max_bucket is not None:
            # cap on COMBINED (corpus ∪ batch) bucket occupancy — the
            # one-shot pipeline caps the full-corpus bucket, so capping
            # only the stored side would still let a degenerate bucket
            # inside one batch emit its m²/2 within-batch pairs
            ok = (
                bc.union(bn)
                .groupBy("band_idx", "band_hash")
                .agg(F.count(F.lit(1)).alias("__c"))
                .filter(F.col("__c") <= self.max_bucket)
                .drop("__c")
            )
            bn_probe = bn.join(ok, ["band_idx", "band_hash"], "left_semi")
            bc_probe = bc.join(ok, ["band_idx", "band_hash"], "left_semi")
        a_side = bn_probe.select(
            F.col(idc).alias("id_a"), "band_idx", "band_hash"
        )
        new_old = a_side.join(
            bc_probe.select(
                F.col(idc).alias("id_b"), "band_idx", "band_hash"
            ),
            ["band_idx", "band_hash"],
        ).select("id_a", "id_b")
        new_new = (
            a_side.join(
                bn_probe.select(
                    F.col(idc).alias("id_b"), "band_idx", "band_hash"
                ),
                ["band_idx", "band_hash"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = new_old.union(new_new).distinct()
        all_sets = self._sets(base).union(hn)
        edges = (
            exact_jaccard(cand, all_sets, idc, set_col="sh_hashes")
            .filter(F.col("jaccard") >= self.threshold)
            .select(
                F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
            )
        )
        # the label CHANGELOG increment plus the batch's band rows and
        # shingle sets: all three legs move in one atomic manifest, so
        # labels can never disagree with their band index
        return {
            "labels": self._label_delta(edges, base),
            "bands": bn,
            "sets": hn,
        }, {}
