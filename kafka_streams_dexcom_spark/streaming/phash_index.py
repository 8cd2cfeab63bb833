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
3. verify with the exact popcount arithmetic of _banded_pairs at
   ``max_hamming``;
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
    pairs_within_buckets,
)
from kafka_streams_dexcom_spark.streaming.cluster_map_stream import (
    LabelChangelogMaintainer,
)

_FP_SCHEMA = (
    "doc_id long, b0 long, b1 long, b2 long, b3 long"
)

_HAM_TPL = (
    "CAST(bit_count({a}0 ^ {b}0) + bit_count({a}1 ^ {b}1)"
    " + bit_count({a}2 ^ {b}2) + bit_count({a}3 ^ {b}3) AS BIGINT)"
)


def _bands(fp: DataFrame, prefix: str) -> DataFrame:
    """(doc_id, b0..b3) -> one row per (band_idx, band_val), fingerprint
    columns renamed to <prefix>0..3 so the two sides of the probe join
    stay unambiguous."""
    return fp.select(
        F.col("doc_id"),
        F.col("b0").alias(f"{prefix}0"),
        F.col("b1").alias(f"{prefix}1"),
        F.col("b2").alias(f"{prefix}2"),
        F.col("b3").alias(f"{prefix}3"),
        F.posexplode(
            F.array(F.col("b0"), F.col("b1"), F.col("b2"), F.col("b3"))
        ).alias("band_idx", "band_val"),
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
        return batch_df.select(
            "doc_id", "b0", "b1", "b2", "b3"
        ).localCheckpoint()

    def _stage(self, bn: DataFrame, base: int) -> tuple:
        batch_bands = _bands(bn, "ba_b")
        stored_bands = _bands(self.fingerprints(base), "bb_b")
        if self.max_bucket_probe is not None:
            # hot-bucket bound: probe only the cap-many lowest-doc_id
            # stored members per (band_idx, band_val) — stable
            # representatives regardless of arrival order (see module
            # docstring). row_number rides the same key the probe join
            # shuffles on.
            rep_win = Window.partitionBy("band_idx", "band_val").orderBy(
                F.col("doc_id").asc()
            )
            stored_bands = (
                stored_bands.withColumn(
                    "_rep", F.row_number().over(rep_win)
                )
                .filter(F.col("_rep") <= self.max_bucket_probe)
                .drop("_rep")
            )
        ham_cross = F.expr(_HAM_TPL.format(a="ba_b", b="bb_b"))
        cross = (
            batch_bands.select(
                F.col("doc_id").alias("id_a"),
                "ba_b0", "ba_b1", "ba_b2", "ba_b3",
                "band_idx", "band_val",
            )
            .join(
                stored_bands.select(
                    F.col("doc_id").alias("id_b"),
                    "bb_b0", "bb_b1", "bb_b2", "bb_b3",
                    "band_idx", "band_val",
                ),
                ["band_idx", "band_val"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .withColumn("hamming", ham_cross)
            .filter(F.col("hamming") <= self.max_hamming)
            .select("id_a", "id_b")
            .distinct()
        )
        within_pairs = pairs_within_buckets(
            _bands(bn, "b"),
            ["band_idx", "band_val"],
            F.struct(
                F.col("doc_id").alias("id"), "b0", "b1", "b2", "b3"
            ),
            max_bucket=self.max_bucket_probe,
        )
        ham_within = F.expr(
            "CAST(bit_count(pair_a.b0 ^ pair_b.b0)"
            " + bit_count(pair_a.b1 ^ pair_b.b1)"
            " + bit_count(pair_a.b2 ^ pair_b.b2)"
            " + bit_count(pair_a.b3 ^ pair_b.b3) AS BIGINT)"
        )
        within = (
            within_pairs.withColumn("hamming", ham_within)
            .filter(F.col("hamming") <= self.max_hamming)
            .select(
                F.col("pair_a.id").alias("id_a"),
                F.col("pair_b.id").alias("id_b"),
            )
            .distinct()
        )
        edges = cross.union(within).select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        )
        return {
            "labels": self._label_delta(edges, base),
            "fingerprints": bn,
        }, {}
