"""Incremental materialized aggregate — a streaming-maintained
(key → n_events, sum_value) view published through the commit log.

This is the KTable-with-aggregation shape the reference's stack offers
via Kafka Streams state stores, as a foreachBatch fold: each
micro-batch appends its partial aggregate (key, n_events, exact decimal
sum) as one increment, and ``read()`` folds the increments. No base
read and no rewrite per batch; ``compact()`` (every COMPACT_EVERY
versions) replaces the increments with that same fold.

Only *algebraic* aggregates fold this way (count, sum, min, max —
anything where combine(partial_a, partial_b) exists). avg is carried as
(sum, count). The sum stays DECIMAL until ``read()`` casts it once, so
the view equals a full recompute exactly — adding per-batch doubles
would not (0.1 + 0.2).

Publish, lineage guard, per-writer replay watermark, retry, vacuum and
``timings`` are streaming/commitlog.BatchMaintainer's; a partial
depends only on its batch, so a lost commit race re-links the staged
increment. Counts are NOT idempotent, so the replay guard is
correctness-critical here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.streaming.commitlog import BatchMaintainer

# one stored type for increments and compacted folds alike, so a
# parquet scan across both never sees two decimal precisions
_SUM_TYPE = "decimal(38,2)"


class IncrementalCounts(BatchMaintainer):
    """Maintains (key → n_events, sum_value) across micro-batches,
    idempotently under micro-batch replay.

    ``lineage_id`` binds the view to ONE streaming-query lineage (pass
    the checkpoint location, or the query id): a new query whose batch
    ids restart at 0 fails loudly instead of being skipped by the
    replay guard. If omitted, the directory-is-bound-to-one-lineage
    contract is the caller's responsibility (legacy mode; see
    ``adopt_legacy``)."""

    AUTO_COMPACT = True

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_col: str,
        lineage_id: str | None = None,
    ) -> None:
        super().__init__(spark, path, lineage_id)
        self.key_col = key_col

    def _fold(self, version: int | None = None) -> DataFrame:
        """The increments at ``version`` (latest default) summed per
        key. A fresh view has no stored key type, so its empty frame
        defaults the key to string."""
        return (
            self._read(
                f"{self.key_col} string, n_events bigint, "
                f"sum_value {_SUM_TYPE}",
                version,
            )
            .groupBy(self.key_col)
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").cast(_SUM_TYPE).alias("sum_value"),
            )
        )

    def read(self) -> DataFrame:
        """The view: key, n_events bigint, sum_value double — ALWAYS a
        DataFrame, empty on a fresh view."""
        return self._fold().withColumn(
            "sum_value", F.col("sum_value").cast("double")
        )

    def _stage(self, batch_df: DataFrame, base: int) -> tuple:
        return (
            batch_df.groupBy(self.key_col).agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast(_SUM_TYPE)
                .alias("sum_value"),
            ),
            {},
        )

    def _compacted(self, base: int) -> DataFrame:
        return self._fold(base)
