"""P5 with a TRUE stateful dimension: the ranges KTable maintained from
a changelog stream inside engine state, not reloaded per micro-batch.

The per-batch-snapshot variant (jobs.ktable_lookup_topology) models
the dimension as an external snapshot, collected into Python each
batch and inlined into a narrow projection. This module is the other
half of the reference's design (CategorizeWithKTableLookup.java:60-62):
the ranges topic IS a changelog, the operator consumes it as a second
stream, and each event reads whatever the store holds when its batch
runs (EgvTransformer.java:51's current-state reads, at micro-batch
granularity).

Shape — the GlobalKTable analog, scale-honest:
- The two streams are tagged and unioned into one keyed stream.
- Events hash-partition into ``n_buckets`` groups (parallelism knob).
- Changelog records REPLICATE to every bucket (dimension updates are
  tiny and rare by contract; a dimension too big to replicate per task
  belongs in the bucketized equi-join, not a per-task store — same rule
  the reference applies to GlobalKTable vs KTable).
- Each bucket's state is the full latest-per-key ranges map, maintained
  by applyInPandasWithState in the engine state store: checkpointed,
  restart-restored, RocksDB-capable via
  spark.sql.streaming.stateStore.providerClass — the analog of the
  reference's Materialized store + changelog restore.

Ordering semantics (documented, deterministic): within a micro-batch,
changelog updates apply BEFORE events (a batch-granularity snapshot —
the micro-batch analog of SURVEY §3/E3 snapshot semantics); updates and
events each apply in ``seq`` order. A null ``range_json`` is a KTable
tombstone and deletes the range.

Lookup semantics match operators.core.interval_join exactly: inclusive
"HH:mm:ss" bounds, first match = lowest range_id, no match → null
enrichment (in_range null, §2.6 #4).
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RANGES_STATE_SCHEMA = "ranges_json string"

TAGGED_FIELDS = (
    "bucket",
    "kind",
    "seq",
    "key",
    "system_time",
    "value",
    "range_id",
    "range_json",
)

LOOKUP_OUT_SCHEMA = (
    "key string, system_time string, value int, range_id int, "
    "lower_bound int, upper_bound int, in_range string"
)


def range_json(start: str, end: str, lower: int, upper: int) -> str:
    """Changelog value payload for one range row."""
    return json.dumps(
        {
            "start_time": start,
            "end_time": end,
            "lower_bound": lower,
            "upper_bound": upper,
        }
    )


def tag_range_updates(updates: DataFrame, n_buckets: int) -> DataFrame:
    """Changelog stream (seq long, range_id int, range_json string|null
    for tombstones) → tagged rows replicated to every bucket."""
    return updates.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1))).alias("bucket"),
        F.lit("dim").alias("kind"),
        F.col("seq").cast("long").alias("seq"),
        F.lit(None).cast("string").alias("key"),
        F.lit(None).cast("string").alias("system_time"),
        F.lit(None).cast("int").alias("value"),
        F.col("range_id").cast("int").alias("range_id"),
        "range_json",
    )


def tag_egvs(egvs: DataFrame, n_buckets: int) -> DataFrame:
    """Event stream (seq long, key string, system_time string, value int)
    → tagged rows, hash-partitioned by key (deterministic content hash —
    safe as a shuffle key, see functions/skew.py rationale)."""
    return egvs.select(
        F.pmod(F.xxhash64("key"), F.lit(n_buckets)).cast("int").alias("bucket"),
        F.lit("egv").alias("kind"),
        F.col("seq").cast("long").alias("seq"),
        "key",
        "system_time",
        F.col("value").cast("int").alias("value"),
        F.lit(None).cast("int").alias("range_id"),
        F.lit(None).cast("string").alias("range_json"),
    )


def _lookup(
    ranges: dict[str, dict], system_time: str, value: int
) -> tuple[int | None, int | None, int | None, str | None]:
    """First-match interval lookup, replaying interval_join's semantics:
    'HH:mm:ss' tail of the ISO string (EgvTransformer.java:41), inclusive
    string-compare bounds, lowest range_id wins, no match → nulls."""
    tod = system_time.split("T")[1]
    best_id = None
    best = None
    for rid_s, r in ranges.items():
        rid = int(rid_s)
        if r["start_time"] <= tod <= r["end_time"] and (
            best_id is None or rid < best_id
        ):
            best_id, best = rid, r
    if best_id is None:
        return None, None, None, None
    lo, hi = best["lower_bound"], best["upper_bound"]
    # matched range + null value → "false", replaying in_range_or_null
    # exactly: its when() condition is null, so the otherwise-branch
    # fires — only an UNMATCHED row yields a null in_range
    in_range = "true" if (value is not None and lo <= value <= hi) else "false"
    return best_id, lo, hi, in_range


def ktable_lookup_stateful(tagged: DataFrame) -> DataFrame:
    """The stateful lookup over the tagged union stream: per bucket,
    maintain the ranges map in engine state and enrich each event from
    the CURRENT store contents."""

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        ranges: dict[str, dict] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        dims: list[tuple[int, int, str | None]] = []
        events: list[tuple[int, str, str, int | None]] = []
        for pdf in pdfs:
            for row in pdf.itertuples(index=False):
                if row.kind == "dim":
                    dims.append((int(row.seq), int(row.range_id), row.range_json))
                else:
                    events.append(
                        (
                            int(row.seq),
                            row.key,
                            row.system_time,
                            None if pd.isna(row.value) else int(row.value),
                        )
                    )
        # batch-granularity snapshot: this batch's changelog applies
        # first, in seq order; tombstone (null payload) deletes
        for _, rid, payload in sorted(dims, key=lambda d: d[0]):
            if payload is None or (
                not isinstance(payload, str) and pd.isna(payload)
            ):
                ranges.pop(str(rid), None)
            else:
                ranges[str(rid)] = json.loads(payload)
        out = []
        for _, k, st, v in sorted(events, key=lambda e: e[0]):
            rid, lo, hi, in_range = _lookup(ranges, st, v)
            out.append((k, st, v, rid, lo, hi, in_range))
        state.update((json.dumps(ranges),))
        yield pd.DataFrame(
            out,
            columns=[
                "key",
                "system_time",
                "value",
                "range_id",
                "lower_bound",
                "upper_bound",
                "in_range",
            ],
        )

    return tagged.groupBy("bucket").applyInPandasWithState(
        fn,
        LOOKUP_OUT_SCHEMA,
        RANGES_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def replay_reference(
    rows: list[tuple],
) -> list[tuple]:
    """Driver-side reference: replay tagged rows in pure seq order
    (kind, seq, key, system_time, value, range_id, range_json) and
    produce the same output tuples — the oracle for the equivalence
    test when every batch's changelog records precede its events in seq
    order (then batch-snapshot semantics coincide with pure replay)."""
    ranges: dict[str, dict] = {}
    out = []
    for row in sorted(rows, key=lambda r: r[1]):
        kind, seq, key, st, v, rid, payload = row
        if kind == "dim":
            if payload is None:
                ranges.pop(str(rid), None)
            else:
                ranges[str(rid)] = json.loads(payload)
        else:
            m_rid, lo, hi, in_range = _lookup(ranges, st, v)
            out.append((key, st, v, m_rid, lo, hi, in_range))
    return out
