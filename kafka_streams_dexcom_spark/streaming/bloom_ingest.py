"""Streaming Bloom-filter dedup maintainer — the stream twin of
operators/dedup.py:bloom_dedup_screen, published through the optimistic
commit log (the batch/stream-dual discipline every stateful operator
here keeps: ann_ingest, cluster_map_stream, semdedup_stream). The
per-batch protocol — guards, verdict re-emission, commit-retry loop,
timings, vacuum — is streaming/commitlog.BatchMaintainer.

The Dolma pipeline's dedupe runs exactly this shape: documents arrive
continuously, each batch is screened against the filter built from
everything ingested BEFORE it, and the batch's own bits are folded in
afterwards. Two properties make a Bloom filter the uniquely
streaming-friendly dedup state:

1. **The state is WIDTH-bounded, not corpus-bounded.** The set-bit
   relation never exceeds ``m_bits`` rows no matter how many documents
   stream through — it is broadcastable forever, while an exact seen-set
   grows with the corpus. The price is the documented ~(fill)^k false-
   positive rate, measured per batch via the audit the batch twin
   carries.
2. **Appends are idempotent and commutative.** A bit set twice is the
   same bit: replay re-sets the same positions (the replay guard still
   skips the bit commit, and RE-EMITS the screen verdicts against the
   recorded pre-batch filter version so delivery is at-least-once),
   and concurrent writers' filters union to exactly the filter a
   serial run would build.

Geometry is FIXED at construction (``m_bits``): positions are already
folded by m when staged, so the width can never change mid-stream —
the production Bloom contract (size for expected capacity upfront;
``fill_ratio()`` says when a rebuild at larger m is due). This is the
one honest difference from the batch twin's corpus-count-derived width,
and the equality test pins both to the same m via its override.

Per micro-batch:
1. probe the batch's k positions per key against the STORED bits
   (broadcast — width-bounded) → (id, probably_seen) handed to the
   ``screened`` callback; no false negatives by construction, within-
   batch duplicates are the batch dedup operator's job (the batch is
   screened against PRIOR state only, Dolma's sequential semantics);
2. stage the batch's DISTINCT new positions as parquet ONCE;
3. commit_append — O(batch) manifest link while the filter grows to
   its width; duplicate bit rows across increments are allowed (set
   semantics make them harmless) and ``compact()`` folds them away.

Reference anchor: the reference's ES sink dedups by stable doc id on an
ever-growing index (ElasticSearchConsumer.java:42-55); this is that
contract with O(1)-bounded state instead of an O(corpus) index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import (
    BLOOM_K,
    HASH60_TPL,
    _bloom_positions_expr,
)
from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

_BITS_SCHEMA = "pos bigint"


class BloomFilterMaintainer(BatchMaintainer):
    """foreachBatch sink maintaining a fixed-width Bloom filter over a
    document stream and screening each batch against it.

    ``screened(df, batch_id)`` receives (id_col, probably_seen int)
    for every batch row BEFORE the batch's bits commit. ``lineage_id``
    binds the filter to one streaming query's batch-id sequence (the
    commitlog.BatchMaintainer lineage guard)."""

    # positions depend only on the batch and the fixed geometry, never
    # on stored state: staged once, a rebase re-links the same files
    SCREENS = True
    # the batch's genuinely-new bits, summed onto the base's running
    # count: the O(1) fill_bits a monitor alarms on without a scan
    COUNTERS = ("fill_bits",)

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        m_bits: int,
        k: int = BLOOM_K,
        id_col: str = "doc_id",
        text_col: str = "text",
        screened=None,
        lineage_id: str | None = None,
        writer_id: str | None = None,
    ) -> None:
        if m_bits < 1:
            raise ValueError("m_bits must be positive")
        from kafka_streams_dexcom_spark.functions.hashing import MERSENNE_P

        if m_bits > MERSENNE_P:
            # fail at construction, not on the first micro-batch — the
            # 31-bit universal-hash fold cannot reach bits above 2^31-1
            # (see operators/dedup.py:_bloom_positions_expr); beyond
            # ~268M keys shard the filter (one maintainer per shard)
            raise ValueError(
                f"m_bits={m_bits} exceeds the 2^31-1 position ceiling; "
                "shard the filter by key prefix beyond ~268M keys"
            )
        super().__init__(spark, path, lineage_id, writer_id, screened)
        self.m_bits = m_bits
        self.k = k
        self.id_col = id_col
        self.text_col = text_col

    # -- read side -----------------------------------------------------
    def bits(self, version: int | None = None) -> DataFrame:
        """The set-bit relation (pos) at ``version`` (latest default).
        May carry duplicate rows across increments — consumers use set
        semantics (semi joins / distinct), and compact() dedups."""
        return self._read(_BITS_SCHEMA, version)

    def fill_ratio(self) -> float:
        """Fraction of the m positions set — the rebuild-due signal
        (FP rate ≈ fill^k). One bounded aggregate over the bit set."""
        n = self.bits().select("pos").distinct().count()
        return n / self.m_bits

    def fill_ratio_meta(self, version: int | None = None) -> float:
        """fill_ratio read from the running ``fill_bits`` counter the
        sink publishes to the commit-log meta each batch — O(1), no
        scan of the bit set. Exact for the single-writer streaming
        contract (one query per lineage); under concurrent writers it
        is an UPPER bound (each writer counts its new bits against its
        own staging base, so bits two writers race to set count twice)
        — the conservative direction for a rebuild-due alarm."""
        v = self.table.latest_version() if version is None else version
        return self._meta(v).get("fill_bits", 0) / self.m_bits

    def rebuild_due(self, threshold: float = 0.5) -> bool:
        """True when the metadata fill ratio crosses ``threshold`` —
        the monitor-side alarm (FP rate ≈ fill^k: 0.5 fill at k=5 is
        ~3% FP; beyond that re-ingest into a wider filter). Reads only
        the latest manifest — no Spark job."""
        return self.fill_ratio_meta() >= threshold

    # -- the fold --------------------------------------------------------
    def _keys(self, batch_df: DataFrame) -> DataFrame:
        h = HASH60_TPL.format(x=self.text_col)
        return batch_df.select(
            self.id_col,
            F.explode(
                _bloom_positions_expr(h, self.k, self.m_bits)
            ).alias("pos"),
        )

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return self._keys(batch_df).localCheckpoint()

    def _screen(self, batch_df: DataFrame, pos: DataFrame,
                version: int) -> DataFrame:
        """(id, probably_seen) for the batch against the bit set at
        ``version`` (-1 = empty filter). Read-only — safe to re-run on
        replay against the recorded pre-batch version."""
        hits = (
            pos.join(
                F.broadcast(self.bits(version).select("pos").distinct()),
                "pos",
            )
            .groupBy(self.id_col)
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        return (
            batch_df.select(self.id_col)
            .join(hits, self.id_col, "left")
            .select(
                self.id_col,
                (F.coalesce("n_hit", F.lit(0)) == self.k)
                .cast("int")
                .alias("probably_seen"),
            )
        )

    def _stage(self, pos: DataFrame, base: int) -> tuple:
        new_bits = pos.select("pos").distinct()
        n_new = new_bits.join(
            F.broadcast(self.bits(base).select("pos").distinct()),
            "pos",
            "left_anti",
        ).count()
        return new_bits, {
            "fill_bits": n_new, "m_bits": self.m_bits, "k": self.k,
        }

    def _compacted(self, base: int) -> DataFrame:
        return self.bits(base).distinct()

    def _timing(self, version: int) -> dict:
        return {"fill_ratio": round(self.fill_ratio_meta(version), 4)}
