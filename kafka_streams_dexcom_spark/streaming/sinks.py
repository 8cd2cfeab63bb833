"""Sinks: Kafka topic writer, multi-sink fan-out, idempotent
(exactly-once-effect) sinks, and the Elasticsearch bulk pattern.

The reference achieves effectively-once delivery by pairing at-least-once
processing with deterministic document ids (ES doc id =
topic_partition_offset, ElasticSearchConsumer.java:45) and manual offset
commits after a successful bulk (ElasticSearchConsumer.java:55). Spark's
equivalents here:

- checkpointing replaces the manual offset commit (a failed batch replays),
- deterministic ids, and each micro-batch overwriting its own
  ``__batch_id=N`` directory, make the replay idempotent.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from kafka_streams_dexcom_spark.sources.kafka import REFERENCE_PRODUCER_OPTIONS


def kafka_writer(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    checkpoint: str,
    key_col: str = "key",
) -> DataStreamWriter:
    """Stream writer to a Kafka topic with the reference's producer tuning
    (idempotence, acks=all, snappy, linger 20ms, 32KB batches —
    ProducerDexcom.java:66-89). Value is the JSON of all non-key columns."""
    payload = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(
            F.struct(*[c for c in df.columns if c != key_col])
        ).alias("value"),
    )
    w = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    for k, v in REFERENCE_PRODUCER_OPTIONS.items():
        w = w.option(k, v)
    return w


def fan_out(
    source: DataFrame,
    branches: dict[str, Callable[[DataFrame], DataFrame]],
    writers: dict[str, Callable[[DataFrame, int], None]],
    checkpoint: str,
):
    """P4's multi-sink topology (CategorizeWithSimpleRule.java:62-69: one
    stream DAG feeding two topics) as a single-pass foreachBatch: the
    micro-batch is persisted once, every branch transform+writer runs
    against it, so the source is scanned once per batch regardless of
    branch count."""
    if set(branches) != set(writers):
        raise ValueError(
            "fan_out branches/writers key mismatch: "
            f"branches={sorted(branches)} writers={sorted(writers)} — "
            "a missing writer would otherwise KeyError mid-batch AFTER "
            "earlier branches' side effects ran (and the replayed batch "
            "would duplicate them)"
        )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for name, transform in branches.items():
                writers[name](transform(batch_df), batch_id)
        finally:
            batch_df.unpersist()

    return (
        source.writeStream.foreachBatch(handle)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )


def batch_dir(path: str, batch_id: int) -> str:
    """The directory micro-batch ``batch_id`` owns under a sink's
    ``path``: a hive-style ``__batch_id=N`` partition, so
    ``spark.read.parquet(path)`` discovers ``__batch_id`` as an int
    column and DuckDB reads ``path/*/*.parquet`` with
    ``hive_partitioning``. A plain overwrite of this one directory
    deletes and rewrites the batch's own output and nothing else."""
    return f"{path}/__batch_id={batch_id}"


class IdempotentParquetSink:
    """Exactly-once-effect file sink: each micro-batch overwrites its own
    ``__batch_id=N`` directory, so a replayed batch *replaces* its
    previous (possibly partial) output instead of appending duplicates.
    This is the reference's deterministic-id idempotency (§2.6 #7)
    transplanted to files.

    A crash before job commit leaves at most ``__batch_id=N/_temporary/``,
    which both readers skip, or some of the batch's part files; the
    replay deletes either before it writes. An empty micro-batch lands
    one schema-only part file (0 rows) in its directory, where a dynamic
    partition overwrite would land nothing: ``path`` stays readable and
    its counts are unchanged."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            batch_dir(self.path, batch_id)
        )


def with_stable_id(
    df: DataFrame,
    topic_col: str = "topic",
    partition_col: str = "partition",
    offset_col: str = "offset",
) -> DataFrame:
    """Deterministic record id `topic_partition_offset` — byte-for-byte the
    reference's ES document id recipe (ElasticSearchConsumer.java:45)."""
    return df.withColumn(
        "doc_id",
        F.concat_ws(
            "_", F.col(topic_col), F.col(partition_col), F.col(offset_col)
        ),
    )


def es_bulk_lines(
    df: DataFrame, index: str = "dexcom", doc_type: str = "egv"
) -> DataFrame:
    """Render a batch as Elasticsearch bulk-API NDJSON (action line +
    document line per record), with the deterministic `doc_id` as `_id` —
    the exact payload shape the reference builds record-by-record
    (ElasticSearchConsumer.java:42-53), produced columnar here.

    A real cluster sink would POST these per partition (foreachPartition)
    or use the elasticsearch-spark connector with `es.mapping.id=doc_id`;
    both are gated on an es client being available."""
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"),
                F.lit(doc_type).alias("_type"),
                F.col("doc_id").alias("_id"),
            ).alias("index")
        )
    )
    # the reference indexes only the record VALUE (ElasticSearchConsumer
    # .java:42-53); Kafka transport columns exist solely to derive the
    # doc id and must not leak into the indexed document
    transport = {"doc_id", "topic", "partition", "offset", "kafka_ts"}
    doc = F.to_json(
        F.struct(*[c for c in df.columns if c not in transport])
    )
    return df.select(
        F.concat_ws("\n", action, doc).alias("bulk_lines")
    )


class EsBulkFileSink:
    """Offline ES sink: writes bulk NDJSON per batch, idempotent the same
    way as ``IdempotentParquetSink`` (each batch overwrites its own
    ``__batch_id=N`` directory, and an empty batch lands one empty file
    there). Swap the write for an HTTP POST per partition when an
    Elasticsearch endpoint exists."""

    def __init__(self, path: str, batch_size: int = 100) -> None:
        # batch_size mirrors max.poll.records=100
        # (ElasticSearchConsumer.java:104) — kept for bulk sizing parity.
        self.path = path
        self.batch_size = batch_size

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        lines = es_bulk_lines(with_stable_id(batch_df))
        (
            lines.write.mode("overwrite")
            # one bulk request per output file: cap records per file at
            # batch_size so each file is a valid <=batch_size-record
            # bulk POST (the reference's max.poll.records pacing)
            .option("maxRecordsPerFile", self.batch_size)
            .text(batch_dir(self.path, batch_id))
        )
