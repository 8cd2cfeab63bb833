"""Streaming curation gate: quality-filtered corpus ingestion.

Composes the two tested halves — the PERMISSIVE corrupt-record split
(sources/corpus.py, the bronze-landing contract) and the Gopher rule
filter (operators/text.py:gopher_rules, pure scan-side integer
arithmetic) — into one micro-batch topology with a THREE-way routing:

    corrupt line  -> quarantine sink   (parse failure: data incident)
    valid, keep=0 -> rejected sink     (parsed fine, fails curation)
    valid, keep=1 -> accepted sink     (training-corpus candidate)

The distinction between quarantine and rejected is load-bearing for a
pipeline team: quarantine spikes mean an upstream FORMAT break (fix the
producer), rejection spikes mean a content-quality shift (fix the
crawl/source mix). Folding them together hides which system is broken.

Epoch shape: the micro-batch is persisted ONCE (the landing); the rule
flags ride the same scan as the payload columns via gopher_rules'
carry_cols, so the gate adds zero joins and zero extra source parses.
All three writers receive (DataFrame, batch_id) and must be idempotent
on batch_id — the foreachBatch at-least-once contract documented in
streaming/commitlog.py.

Reference anchor: this is the streaming form of the reference's
filter-then-route topology (StreamsFilterEgvs.java:27-38 filters a
stream into a sink by a value rule; the quarantine leg is the
schema-on-read discipline its JSON parsing lacked).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_dexcom_spark.operators.text import gopher_rules
from kafka_streams_dexcom_spark.sources.corpus import (
    CORRUPT_COL,
    split_quarantine,
)


def curation_gate_writer(
    accept_write,
    reject_write,
    quarantine_write,
    corrupt_col: str = CORRUPT_COL,
):
    """foreachBatch function for the three-way curation gate.

    Writers are called in a fixed order (accept, reject, quarantine)
    with the epoch's batch_id; each receives rows in the SOURCE schema
    (rule flags are evaluated, used for routing, then dropped)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            valid, quarantine = split_quarantine(
                batch_df, corrupt_col, materialize=False
            )
            carry = tuple(c for c in valid.columns if c != "doc_id")
            flagged = gopher_rules(valid, carry_cols=carry).persist()
            try:
                out_cols = ["doc_id", *carry]
                accept_write(
                    flagged.filter("keep = 1").select(out_cols), batch_id
                )
                reject_write(
                    flagged.filter("keep = 0").select(out_cols), batch_id
                )
            finally:
                flagged.unpersist()
            quarantine_write(quarantine, batch_id)
        finally:
            batch_df.unpersist()

    return apply
