"""Custom stateful streaming operator — the Spark-native answer to the
reference's ValueTransformer extension point (EgvTransformer.java:20-90:
user code with init/state-access/transform/close).

Spark shape: `applyInPandasWithState` — per-key state managed by the
engine's state store (RocksDB-capable via
spark.sql.streaming.stateStore.providerClass), user logic as an
Arrow-batched pandas function. State survives across micro-batches and
restarts (checkpointed), which is the property the reference gets from
its RocksDB store + changelog restore.

Example operator: debounced high-glucose alerting — emit an alert when
value >= threshold, but at most one alert per `debounce_s` per user.
Sequential per-key logic with carried state: exactly what the DSL can't
express and the ValueTransformer exists for.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ALERT_SCHEMA = "user_id bigint, ts_us bigint, value double"
STATE_SCHEMA = "last_alert_us bigint"


def debounced_alerts(
    events: DataFrame,
    threshold: float = 200.0,
    debounce_s: int = 600,
    state_ttl_s: int | None = None,
) -> DataFrame:
    """Streaming: at most one alert per user per debounce window.

    Input columns: user_id (bigint), ts_us (bigint), value (double).
    The per-user `last_alert_us` lives in the engine state store and is
    restored on recovery — the analog of the reference's
    Materialized.as("rangesStore") + changelog restore.

    ``state_ttl_s``: expire a user's idle state after this much
    processing time (expired ≡ last=None, which re-allows an alert —
    the decision the debounce rule itself would make that long after
    the last alert, so any TTL ≥ debounce_s is semantics-preserving).
    A long-running production stream should SET this (≈2× the debounce
    window): without it the store grows one entry per user EVER seen.
    None (default) keeps NoTimeout — finite replays (availableNow
    backfills, tests) don't hold the query open waiting for
    processing-time timeouts to fire.
    """
    debounce_us = debounce_s * 1_000_000
    # below-threshold rows never change state nor emit — filter them
    # before the stateful shuffle (50x less state traffic at ~2% rate)
    events = events.filter(events.value >= threshold)

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state_ttl_s is not None and state.hasTimedOut:
            state.remove()
            yield pd.DataFrame([], columns=["user_id", "ts_us", "value"])
            return
        last = state.get[0] if state.exists else None
        out: list[tuple[int, int, float]] = []
        for pdf in pdfs:
            for ts_us, value in (
                pdf[["ts_us", "value"]]
                .sort_values("ts_us")
                .itertuples(index=False)
            ):
                if value >= threshold and (
                    last is None or ts_us - last >= debounce_us
                ):
                    out.append((key[0], int(ts_us), float(value)))
                    last = int(ts_us)
        state.update((last,))
        if state_ttl_s is not None:
            state.setTimeoutDuration(state_ttl_s * 1000)
        yield pd.DataFrame(out, columns=["user_id", "ts_us", "value"])

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        ALERT_SCHEMA,
        STATE_SCHEMA,
        "append",
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_s is not None
        else GroupStateTimeout.NoTimeout,
    )


def debounced_alerts_batch_reference(
    rows: list[tuple[int, int, float]],
    threshold: float = 200.0,
    debounce_s: int = 600,
) -> list[tuple[int, int, float]]:
    """Driver-side reference implementation for testing: same semantics,
    plain Python over the full (sorted) history."""
    debounce_us = debounce_s * 1_000_000
    last: dict[int, int] = {}
    out = []
    for user_id, ts_us, value in sorted(rows, key=lambda r: (r[0], r[1])):
        lu = last.get(user_id)
        if value >= threshold and (lu is None or ts_us - lu >= debounce_us):
            out.append((user_id, ts_us, value))
            last[user_id] = ts_us
    return out

