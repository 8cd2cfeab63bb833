"""Streaming per-domain line census — the stream twin of
operators/text.py:host_line_dedup, published through the optimistic
commit log (the batch/stream-dual discipline of ann_ingest,
cluster_map_stream, semdedup_stream, bloom_ingest).

A crawl never stops, but the chrome census host_line_dedup needs — how
many DISTINCT documents of each host contain each line — is an
incrementally-maintainable sum: documents enter the corpus exactly once
(the ingest contract every maintainer here shares), so each batch's
per-(host, line) distinct-doc counts simply ADD to the stored counts.
No corpus rescan, ever. Chrome detection is then one aggregate over the
census: lines whose summed count reaches HOST_LINE_MIN_DOCS.

Two properties worth naming:

1. **Chrome is MONOTONE.** Counts only grow, so a line that crossed the
   threshold stays chrome forever — a removal verdict never reverts,
   only new removals appear. Per-batch provisional verdicts (the
   ``screened`` callback, scored against the PRE-batch census) are
   therefore sound under-approximations of the converged verdict.
2. **State is line-bounded, not corpus-bounded.** Rows are
   (host, 60-bit hash, count) — ~20 bytes per distinct line per host.
   Real at 100 TB, that tail is dominated by nd=1 singletons; the
   production composition is two-tier: put a BloomFilterMaintainer in
   front keyed on (host, line) so only lines *probably seen before*
   enter the exact census — the singleton tail then stays in the
   bounded filter and the exact state holds only candidate chrome.
   The composition is wired and MEASURED in
   tests/test_two_tier_census.py: exact-tier state under half the
   distinct-line count, zero missed chrome (structural — any line's
   second occurrence is flagged by the filter, and within-batch
   repeats feed the census directly because the Bloom screen is
   prior-state only), FP-promoted extras bounded by fill^k.

The per-batch protocol — guards, verdict re-emission (newest batch
only; an older replay raises), commit-retry loop, timings, vacuum — is
streaming/commitlog.BatchMaintainer. Counts are NOT idempotent, so its
replay guard is correctness-critical here, unlike the Bloom twin's.

Equality contract (pinned in tests/test_line_census_stream.py): after
streaming any partition of the corpus through in any batch order,
``rewrite(all_docs)`` against the converged census equals the batch
operator's output on the same corpus, bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators.text import (
    HOST_LINE_MIN_DOCS,
    LINE_WORDS,
    host_lines,
)
from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

_CENSUS_SCHEMA = "host string, lh bigint, nd bigint"


class HostLineCensusMaintainer(BatchMaintainer):
    """foreachBatch sink maintaining the per-(host, line) distinct-doc
    census and flagging chrome lines incrementally.

    ``screened(df, batch_id)`` receives (doc_id, n_chrome_lines) for
    every batch row scored against the census BEFORE this batch —
    provisional in the documented monotone sense. ``lineage_id`` binds
    the census to one streaming query's batch-id sequence."""

    # a batch's counts depend only on the batch: staged once, a rebase
    # re-links the same files
    SCREENS = True

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        host_col: str = "host",
        text_col: str = "text",
        line_words: int = LINE_WORDS,
        min_docs: int = HOST_LINE_MIN_DOCS,
        screened=None,
        lineage_id: str | None = None,
        writer_id: str | None = None,
    ) -> None:
        super().__init__(spark, path, lineage_id, writer_id, screened)
        self.host_col = host_col
        self.text_col = text_col
        self.line_words = line_words
        self.min_docs = min_docs

    # -- read side -----------------------------------------------------
    def census(self, version: int | None = None) -> DataFrame:
        """(host, lh, nd) increments at ``version`` (latest default);
        the effective count is sum(nd) per (host, lh) — consumers
        aggregate, compact() folds."""
        return self._read(_CENSUS_SCHEMA, version)

    def chrome(self, version: int | None = None) -> DataFrame:
        """(host, lh) of every line at/over the distinct-doc threshold."""
        return (
            self.census(version)
            .groupBy("host", "lh")
            .agg(F.sum("nd").alias("nd"))
            .filter(F.col("nd") >= self.min_docs)
            .select("host", "lh")
        )

    def rewrite(self, df: DataFrame) -> DataFrame:
        """Apply the converged census to ``df`` with the batch
        operator's exact output contract (doc_id, host, n_lines,
        n_removed_lines, clean_text) — LEFT ANTI against chrome +
        ordered reassembly, one shared line definition."""
        lines = host_lines(
            df, self.host_col, self.text_col, self.line_words
        )
        kept = lines.join(self.chrome(), ["host", "lh"], "left_anti")
        rebuilt = kept.groupBy("doc_id", "host").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(ln, line))), s -> s.line), ' ')"
            ).alias("txt"),
        )
        totals = lines.groupBy("doc_id", "host").agg(
            F.count(F.lit(1)).alias("n_lines")
        )
        return totals.join(rebuilt, ["doc_id", "host"], "left").select(
            "doc_id",
            "host",
            F.col("n_lines").cast("bigint").alias("n_lines"),
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed_lines"),
            F.coalesce("txt", F.lit("")).alias("clean_text"),
        )

    # -- the fold ------------------------------------------------------
    def _batch_counts(self, batch_df: DataFrame) -> DataFrame:
        """Per-(host, lh) DISTINCT-doc contribution of one batch —
        distinct within the batch (a line twice in one doc counts that
        doc once); across batches the once-per-doc ingest contract
        keeps the running sum equal to the global distinct count."""
        return (
            host_lines(
                batch_df, self.host_col, self.text_col, self.line_words
            )
            .select("host", "lh", "doc_id")
            .distinct()
            .groupBy("host", "lh")
            .agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
        )

    def _screen(
        self, batch_df: DataFrame, keys: DataFrame, version: int
    ) -> DataFrame:
        """(doc_id, n_chrome_lines) for the batch against the census at
        ``version`` (-1 = empty). Read-only; replay-safe."""
        lines = host_lines(
            batch_df, self.host_col, self.text_col, self.line_words
        )
        hits = (
            lines.join(self.chrome(version), ["host", "lh"])
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        return (
            batch_df.select("doc_id")
            .join(hits, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_hit", F.lit(0))
                .cast("bigint")
                .alias("n_chrome_lines"),
            )
        )

    def _stage(self, batch_df: DataFrame, base: int) -> tuple:
        return self._batch_counts(batch_df), {}

    def _compacted(self, base: int) -> DataFrame:
        """Increments folded into one summed frame."""
        return (
            self.census(base)
            .groupBy("host", "lh")
            .agg(F.sum("nd").cast("bigint").alias("nd"))
        )
