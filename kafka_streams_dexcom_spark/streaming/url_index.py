"""Streaming canonical-URL first-seen index — crawl stage 1 as a
maintained view, published through the optimistic commit log (the
batch/stream-dual discipline of bloom_ingest / line_census).

The batch twin is dedup_url (min-doc_id survivor per canonical
address). An arriving-shard crawl cannot wait for the corpus to close,
so the streamed contract is FIRST-SEEN: the first epoch that presents
a canonical URL registers its holder (min doc_id within that epoch),
and every later presentation of the same address is a duplicate. When
shards arrive in doc_id order — the replay-stable layout the epoch
pytest feeds — first-seen IS min-id, and the final index row-equals
the batch dedup_url survivor table (pinned in
tests/test_curation_pipeline.py).

State is EXACT: one (url_hash, doc_id) row per distinct canonical
address, keyed by the shared 60-bit fingerprint (the shingle-hash
discipline — collision expectation ~n^2/2^61). URL membership is
idempotent set-state, so replays and concurrent writers converge: an
epoch's append only ever adds addresses no prior version held, and a
replayed epoch re-emits its screen verdicts against the recorded
pre-batch version without touching state (the bloom_ingest screen_base
contract). At crawl scale the exact index is |distinct URLs|-bounded —
the two-tier answer is the same as the line census's: front it with
the width-bounded BloomFilterMaintainer and let only probable-hits
probe this table.

Per micro-batch:
1. canonicalize scan-side (the caller passes rows already carrying
   ``url``; the hash is computed here) and elect the in-batch holder
   (min doc_id per address);
2. screen: (doc_id, url_dup int, dup_kind) — ``prior`` when the
   address is in the stored index, ``batch`` when a smaller doc_id in
   THIS batch holds it; handed to ``screened`` before the commit;
3. append the genuinely-new (url_hash, doc_id) rows; O(batch) commit
   with the per-writer applied watermark. The new rows are subtracted
   from the base, so a lost race re-stages them against the winner's
   version (racing epochs that share an address converge to one
   holder).

The per-batch protocol — guards, verdict re-emission, commit-retry
loop, timings, vacuum — is streaming/commitlog.BatchMaintainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.dedup import HASH60_TPL
from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

_IDX_SCHEMA = "url_hash bigint, doc_id bigint"


class UrlFirstSeenMaintainer(BatchMaintainer):
    """foreachBatch sink maintaining the canonical-URL first-seen
    index and screening each batch against it.

    ``screened(df, batch_id)`` receives (doc_id, url_dup int,
    dup_kind string) for every batch row BEFORE the batch's new
    addresses commit; ``url_col`` names the already-canonical URL
    column on the batch frame."""

    REBASE = True
    SCREENS = True

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        url_col: str = "url",
        screened=None,
        lineage_id: str | None = None,
        writer_id: str | None = None,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id, screened)
        self.id_col = id_col
        self.url_col = url_col

    # -- read side -----------------------------------------------------
    def index(self, version: int | None = None) -> DataFrame:
        """The (url_hash, doc_id) first-seen relation at ``version``
        (latest default). Appends are disjoint on url_hash by
        construction, so the relation is a function."""
        return self._read(_IDX_SCHEMA, version)

    # -- the fold --------------------------------------------------------
    def _keys(self, batch_df: DataFrame) -> DataFrame:
        h = HASH60_TPL.format(x=self.url_col)
        return batch_df.select(
            F.col(self.id_col), F.expr(h).alias("url_hash")
        )

    def _prepare(self, batch_df: DataFrame) -> DataFrame:
        return self._keys(batch_df).localCheckpoint()

    def _screen(
        self, batch_df: DataFrame, hashed: DataFrame, version: int
    ) -> DataFrame:
        stored = self.index(version).select(
            "url_hash", F.lit(1).alias("__prior")
        )
        holder = F.min(self.id_col).over(
            Window.partitionBy("url_hash")
        )
        return (
            hashed.join(F.broadcast(stored), "url_hash", "left")
            .select(
                self.id_col,
                "url_hash",
                F.col("__prior").isNotNull().alias("seen_prior"),
                (F.col(self.id_col) > holder).alias("dup_in_batch"),
            )
            .select(
                self.id_col,
                (F.col("seen_prior") | F.col("dup_in_batch"))
                .cast("int")
                .alias("url_dup"),
                F.when(F.col("seen_prior"), F.lit("prior"))
                .when(F.col("dup_in_batch"), F.lit("batch"))
                .otherwise(F.lit("")).alias("dup_kind"),
            )
        )

    def _stage(self, hashed: DataFrame, base: int) -> tuple:
        # the batch's first-seen holders, minus addresses the base holds
        new_rows = (
            hashed.groupBy("url_hash")
            .agg(F.min(self.id_col).alias(self.id_col))
            .join(
                F.broadcast(self.index(base).select("url_hash")),
                "url_hash",
                "left_anti",
            )
            .select("url_hash", F.col(self.id_col).alias("doc_id"))
        )
        return new_rows, {}

    def _compacted(self, base: int) -> DataFrame:
        return self.index(base)
