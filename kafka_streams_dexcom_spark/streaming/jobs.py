"""The reference's streaming topologies (P3/P4/P5) as Structured
Streaming jobs. Each topology core is a plain ``DataFrame -> DataFrame``
function from operators.core, so the exact code that passed the batch
oracle runs under micro-batches — batch/stream equivalence is tested in
tests/test_streaming.py with the harness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.timeofday import (
    time_of_day_from_iso_string,
)
from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.schemas import RANGE_SCHEMA


def filter_high_topology(stream: DataFrame) -> DataFrame:
    """P3 (StreamsFilterEgvs.java:27-32): raw JSON values, keep
    value >= 200 (missing → 0), pass through unchanged."""
    return ops.filter_at_least_json(stream, "value", "$.value", 200)


def categorize_simple_branches() -> (
    dict[str, Callable[[DataFrame], DataFrame]]
):
    """P4 (CategorizeWithSimpleRule.java:58-69): one source, two outputs —
    the extracted int stream (`integer-values` topic) and the categorized
    stream (`are-values-in-range` topic)."""

    def integer_values(df: DataFrame) -> DataFrame:
        return df.select(
            "key", F.get_json_object("value", "$.value").cast("int").alias("value")
        )

    def in_range(df: DataFrame) -> DataFrame:
        return ops.categorize_simple(integer_values(df), "value").select(
            "key", "in_range"
        )

    return {"integer-values": integer_values, "are-values-in-range": in_range}


def ktable_lookup_topology(
    ranges_loader: Callable[[], DataFrame],
) -> Callable[[DataFrame, int], DataFrame]:
    """P5 (CategorizeWithKTableLookup.java:47-79): per micro-batch,
    collect the ranges dimension into Python (latest-per-key = the
    KTable's current state) and categorize every record against that
    snapshot with :func:`ops.interval_lookup_categorize_scan` — a narrow
    projection, no join, no shuffle. The collect-per-batch is the Spark
    analog of the reference reading whatever state the store holds when
    each record arrives (EgvTransformer.java:51) — a snapshot per batch,
    documented in SURVEY.md §7 hard-parts #3.

    Collecting a LocalRelation loader (``queries.core.ranges_df``) runs
    no Spark job; a file- or Kafka-backed snapshot costs one small job
    per batch. A dimension too large to collect belongs in
    ``streaming.dim_state`` or ``ops.interval_join_bucketized``."""

    def run_batch(batch_df: DataFrame, batch_id: int) -> DataFrame:
        rows = ranges_loader().select(*RANGE_SCHEMA.fieldNames()).collect()
        return ops.interval_lookup_categorize_scan(
            batch_df,
            rows,
            time_of_day_from_iso_string("systemTime"),
            "value",
        )

    return run_batch
