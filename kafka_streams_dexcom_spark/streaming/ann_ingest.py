"""Streaming ANN index ingest — the IVF postings maintainer for a
stream of new embeddings, published through the optimistic commit log.

The similarity-search stack (operators/similarity.py, quantize.py)
trains a coarse quantizer once and searches cell postings; at 100 TB
embeddings arrive CONTINUOUSLY (every new document gets embedded), and
the index-side work is exactly one operation: assign each new vector to
its nearest FROZEN centroid and append to that cell's posting list —
never retrain the quantizer per batch (retraining shifts cell
boundaries and would silently invalidate every previously stored code;
re-clustering is an offline rebuild that publishes a NEW index).

Each micro-batch:
1. assigns batch vectors to the frozen centroid set (one broadcast
   cross join + min_by argmin — operators/clustering.assign_to_centroids,
   the identical expression Lloyd training uses per round, so streamed
   assignments are bit-equal to a one-shot assignment by construction
   AND by test);
2. stages the batch's (vec_id, cell) postings as parquet ONCE — the
   assignment depends only on the frozen quantizer, so commit-race
   rebases never recompute or rewrite it;
3. publishes through streaming/commitlog.VersionedTable.commit_append —
   the APPEND-GRANULAR commit: the manifest links the staged increment
   onto the base version's file list, so per-batch commit cost is
   O(batch) while the index grows without bound (the reference's ES
   sink appends batches with stable ids and never rewrites the index —
   ElasticSearchConsumer.java:42-55 — this is that contract on the
   lake side). Concurrent maintainers get exactly-one-winner
   semantics, readers time-travel to any committed index version, and
   the replay guard rides in the commit manifest's meta (per-writer
   applied map + lineage) so index content and watermark can never
   disagree.

The per-batch protocol — lineage and replay guards, the commit-retry
loop, timings, compaction every COMPACT_EVERY versions and vacuum — is
streaming/commitlog.BatchMaintainer; this module is only the fold.
Compaction folds the accumulated increment files back into one replace
commit — the maintenance job a real table format schedules separately
(Delta OPTIMIZE / Iceberg rewrite_data_files); until it runs, vacuum
correctly collects nothing because every old file is still part of the
live table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.clustering import (
    assign_to_centroids,
)
from kafka_streams_dexcom_spark.operators.dedup import with_embedding_norm
from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

_POSTINGS_SCHEMA = "vec_id long, cell int"


class IvfPostingsMaintainer(BatchMaintainer):
    """foreachBatch sink maintaining the (vec_id, cell) IVF postings
    table for a stream of new embeddings against a frozen quantizer.

    ``centroids``: the trained (cid, cvec) frame — tiny, broadcast per
    batch. ``lineage_id`` binds the index to one streaming query's
    batch-id sequence (a NEW query pointed at an EXISTING index would
    replay batch ids from 0 and silently skip every early batch)."""

    # the assignment depends only on the FROZEN quantizer, never on the
    # stored postings: staged once, a rebase re-links the same files
    AUTO_COMPACT = True

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: DataFrame,
        lineage_id: str | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        writer_id: str | None = None,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id)
        self.centroids = centroids.select(
            F.col("cid").cast("int").alias("cid"), "cvec"
        ).localCheckpoint()
        self.id_col = id_col
        self.vec_col = vec_col

    # -- read side -----------------------------------------------------
    def postings(self, version: int | None = None) -> DataFrame:
        return self._read(_POSTINGS_SCHEMA, version)

    def cell_counts(self) -> DataFrame:
        return self.postings().groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    # -- the fold --------------------------------------------------------
    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        base = with_embedding_norm(
            batch_df.select(self.id_col, self.vec_col), self.vec_col
        ).select(F.col(self.id_col).alias("vid"), "vec")
        return assign_to_centroids(base, self.centroids).select(
            F.col("vid").alias("vec_id"),
            F.col("cid").cast("int").alias("cell"),
        ).localCheckpoint()

    def _stage(self, assigned: DataFrame, base: int) -> tuple:
        return assigned, {}

    def _compacted(self, base: int) -> DataFrame:
        return self.postings(base)
