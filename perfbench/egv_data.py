"""Seeded EGV (estimated glucose value) records in the reference's wire
shape: Kafka key = device id, value = the Egv JSON document.

The same seed always renders the same records. A small, fixed share of
records exercises the topologies' edge paths:

- ``value`` missing, JSON ``null``, or the whole document truncated
  (the P3 "missing counts as 0" path; P4/P5 see a null value);
- ``systemTime`` with an impossible time of day (no P5 range matches,
  so ``in_range`` is null);
- ``systemTime`` moved hours back (out-of-order event times).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEVICES = 100_000
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00
SCHEMA = pa.schema([("key", pa.string()), ("value", pa.string()), ("created_ms", pa.int64())])

MISSING_VALUE = 0.010
NULL_VALUE = 0.005
TRUNCATED = 0.005
BAD_TIME = 0.010
OUT_OF_ORDER = 0.020


def render(seed: int, n: int, t0_s: int = EPOCH_S, span_s: int = 30 * 86400) -> tuple[list[str], list[str]]:
    """``n`` records whose event times advance across ``span_s`` seconds
    from ``t0_s`` (all times of day occur). Returns (keys, values)."""
    rng = np.random.default_rng(seed)
    dev = rng.integers(0, DEVICES, n)
    # lognormal around 140 mg/dL: ~15% at or above 200, most in 75..180
    val = np.clip(np.rint(np.exp(rng.normal(np.log(140.0), 0.35, n))), 40, 400).astype(int)
    t = t0_s + (np.arange(n) * (span_s / max(n, 1))).astype(np.int64)
    late = rng.random(n) < OUT_OF_ORDER
    t[late] -= rng.integers(600, 6 * 3600, int(late.sum()))
    trend = rng.normal(0.0, 1.0, n).round(1)
    kind = rng.random(n)
    bad_time = rng.random(n) < BAD_TIME
    stamps = np.array(t, dtype="datetime64[s]").astype(str)
    keys = [f"dev{d:06d}" for d in dev]
    values = []
    for i in range(n):
        st = stamps[i]
        if bad_time[i]:
            st = st[:11] + "25:61:00"
        k = kind[i]
        if k < MISSING_VALUE:
            doc = f'{{"systemTime":"{st}","displayTime":"{st}","trend":"flat","trendRate":{trend[i]}}}'
        elif k < MISSING_VALUE + NULL_VALUE:
            doc = f'{{"systemTime":"{st}","displayTime":"{st}","value":null,"trend":"flat","trendRate":{trend[i]}}}'
        else:
            v = val[i]
            doc = (
                f'{{"systemTime":"{st}","displayTime":"{st}","value":{v},"realtimeValue":{v},'
                f'"smoothedValue":null,"status":null,"trend":"flat","trendRate":{trend[i]}}}'
            )
            if k < MISSING_VALUE + NULL_VALUE + TRUNCATED:
                doc = doc[: len(doc) // 2]
        values.append(doc)
    return keys, values


def table(keys: list[str], values: list[str], created_ms: int) -> pa.Table:
    return pa.table(
        {"key": keys, "value": values, "created_ms": pa.array([created_ms] * len(keys), pa.int64())},
        schema=SCHEMA,
    )


def created_ms(due_ms: int, tick_ms: int, n: int) -> np.ndarray:
    """Creation times of ``n`` records that a producer flushing every
    ``tick_ms`` writes at ``due_ms``: evenly over the tick before."""
    return due_ms - tick_ms + (np.arange(n, dtype=np.int64) + 1) * tick_ms // max(n, 1)


def stamped(table_: pa.Table, due_ms: int, tick_ms: int) -> pa.Table:
    """``table_`` with each record's ``created_ms`` set as flushed at ``due_ms``."""
    return table_.set_column(2, "created_ms", pa.array(created_ms(due_ms, tick_ms, table_.num_rows)))


def land(table_: pa.Table, directory: str, name: str) -> str:
    """Write ``table_`` under a hidden temp name, then rename it into
    place, so a file source never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table_, tmp)
    os.rename(tmp, final)
    return final


def land_backlog(seed: int, directory: str, files: int, rows: int) -> int:
    """A pre-landed history: ``files`` consecutive time-range fetches of
    ``rows`` records each. Returns the record count."""
    os.makedirs(directory, exist_ok=True)
    keys, values = render(seed, files * rows)
    for f in range(files):
        sl = slice(f * rows, (f + 1) * rows)
        land(table(keys[sl], values[sl], 0), directory, f"fetch-{f:05d}")
    return files * rows
