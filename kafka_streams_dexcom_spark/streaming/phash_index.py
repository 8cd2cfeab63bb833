"""Streaming perceptual-dup index — incremental maintenance of the
64-bit banded fingerprint index (image dHash / audio energy contour /
video brightness contour, operators/multimodal.py) for a stream of
newly crawled media, published through the append-granular commit log.

The batch stack (queries/multimodal.q_phash_survivors) blocks
candidate pairs on 4x16-bit Hamming bands, verifies with exact XOR
popcounts, and runs CC to elect per-cluster canonicals. At 100 TB
media arrives continuously; re-pairing the corpus per batch is the
quadratic non-starter. This maintainer is the incremental contract —
the SemClusterMaintainer shape on the Hamming geometry:

1. the batch arrives as FINGERPRINTS (doc_id, b0..b3) — the Arrow
   decode pass runs upstream in the stream transformation, so one
   maintainer serves every 64-bit perceptual family;
2. candidate pairs = batch x batch plus batch x STORED sharing any
   (band_idx, band_val) bucket — the corpus pair graph is never
   revisited (a cross-batch near-dup (a earlier, b later) is found
   when b's batch probes the stored members of its bucket);
3. verify at ``max_hamming`` with the batch queries' own core
   (operators/dedup.py): batch x batch is hamming_band_pairs, the
   probe of the stored side joins the same band_rows and filters on
   the same hamming expression;
4. fold verified edges into the stored labeling with
   cc_incremental_delta — only created/changed label rows are written
   (the changelog shape of cluster_map_stream);
5. commit_append publishes the batch's fingerprints and label delta in
   ONE manifest: O(batch) data motion per commit, per-writer replay
   watermarks, exactly-one-winner races — the per-batch protocol of
   streaming/commitlog.BatchMaintainer.

Equivalence (pinned by tests/test_phash_index.py): after streaming a
corpus in any number of micro-batches, ``survivors_view()`` equals the
one-shot pairs->CC->min-id election EXACTLY — provided no band bucket
exceeds the caps. When a bucket IS degenerate (a flat-color frame
fingerprint shared by millions of images), batch mode drops the whole
bucket (pairs_within_buckets' max_bucket) while this maintainer probes
only the ``max_bucket_probe`` lowest-doc_id stored representatives —
bounded cost, degraded recall, and CC transitivity still routes most
matches through a representative (the SEM_MAX_CELL_PROBE trade in
semdedup_stream.py). State grows with the corpus — this maintainer is
the corpus index builder, like the cluster-map maintainer, not a
bounded-state operator.

Reference anchor: generalizes the ES sink's append-with-stable-ids
contract (ElasticSearchConsumer.java:42-55) to a maintained
perceptual-duplicate view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    SIMHASH_MAX_BUCKET,
    band_rows,
    hamming,
    hamming_band_pairs,
)
from kafka_streams_dexcom_spark.operators.multimodal import PHASH_WORDS
from kafka_streams_dexcom_spark.streaming.cluster_map_stream import (
    LabelChangelogMaintainer,
)

_FP_SCHEMA = (
    "doc_id long, b0 long, b1 long, b2 long, b3 long"
)


class PhashIndexMaintainer(LabelChangelogMaintainer):
    """foreachBatch sink maintaining (fingerprints, near-dup cluster
    labels) for a stream of 64-bit banded perceptual fingerprints.
    See module docstring."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        lineage_id: str | None = None,
        max_hamming: int = 4,
        writer_id: str | None = None,
        max_bucket_probe: int | None = SIMHASH_MAX_BUCKET,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id)
        self.max_hamming = max_hamming
        self.max_bucket_probe = max_bucket_probe

    # -- stored artifacts ------------------------------------------------
    def fingerprints(self, version: int | None = None) -> DataFrame:
        return self._read(_FP_SCHEMA, version, "fingerprints")

    def survivors_view(self, version: int | None = None) -> DataFrame:
        """(doc_id, canonical_id, is_survivor) over the maintained
        state — identical arithmetic to one q_phash_survivors modality
        leg (min-id canonical per near-dup component, self for
        singletons), asserted bit-equal by test."""
        v = self.table.latest_version() if version is None else version
        lab = self.labels(v)
        return (
            self.fingerprints(v)
            .select("doc_id")
            .join(lab, F.col("doc_id") == F.col("node"), "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias(
                    "canonical_id"
                ),
            )
            .select(
                "doc_id",
                "canonical_id",
                (F.col("doc_id") == F.col("canonical_id")).alias(
                    "is_survivor"
                ),
            )
        )

    def _compacted(self, base: int) -> dict:
        return {
            "labels": self._label_snapshot(base),
            "fingerprints": self.fingerprints(base),
        }

    # -- the fold --------------------------------------------------------
    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        # the batch artifact depends only on the batch: materialized
        # once, reused by every rebase
        return batch_df.select("doc_id", *PHASH_WORDS).localCheckpoint()

    def _stage(self, bn: DataFrame, base: int) -> tuple:
        words = PHASH_WORDS
        stored = band_rows(self.fingerprints(base), words, words, "b_")
        if self.max_bucket_probe is not None:
            # hot-bucket bound: probe only the cap-many lowest-doc_id
            # stored members per (band_idx, band_val) — stable
            # representatives regardless of arrival order (see module
            # docstring). row_number rides the same key the probe join
            # shuffles on.
            rep_win = Window.partitionBy("band_idx", "band_val").orderBy(
                F.col("b_doc_id").asc()
            )
            stored = (
                stored.withColumn("_rep", F.row_number().over(rep_win))
                .filter(F.col("_rep") <= self.max_bucket_probe)
                .drop("_rep")
            )
        cross = (
            band_rows(bn, words, words, "a_")
            .join(stored, ["band_idx", "band_val"])
            .filter(F.col("a_doc_id") != F.col("b_doc_id"))
            .filter(hamming("a_", "b_", words) <= self.max_hamming)
            .select(
                F.col("a_doc_id").alias("id_a"), F.col("b_doc_id").alias("id_b")
            )
            .distinct()
        )
        within = hamming_band_pairs(
            bn,
            words=words,
            bands=words,
            max_hamming=self.max_hamming,
            max_bucket=self.max_bucket_probe,
        ).select("id_a", "id_b")
        edges = cross.union(within).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        return {
            "labels": self._label_delta(edges, base),
            "fingerprints": bn,
        }, {}
