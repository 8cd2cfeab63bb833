"""Property-based tests (hypothesis): operator invariants that golden
fixtures can't cover — run against randomized inputs with a Python
reference implementation as the oracle."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.schemas import RANGE_SCHEMA

import pyspark.sql.functions as F

_SETTINGS = dict(
    max_examples=8,  # each example spins Spark jobs — keep the set tight
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

tod_strategy = st.tuples(
    st.integers(0, 23), st.integers(0, 59), st.integers(0, 59)
).map(lambda t: f"{t[0]:02d}:{t[1]:02d}:{t[2]:02d}")


def _ref_lookup(tod: str, ranges):
    """Python reference of the interval lookup: lowest range_id whose
    [start, end] contains tod (inclusive)."""
    for rid, st_, et, lo, hi in sorted(ranges):
        if st_ <= tod <= et:
            return rid, lo, hi
    return None, None, None


# 1-6 ranges: unique range_ids in drawn (unsorted) order, overlaps allowed.
ranges_strategy = st.lists(
    st.integers(0, 50), min_size=1, max_size=6, unique=True
).flatmap(
    lambda ids: st.tuples(
        *[
            st.tuples(
                st.just(rid),
                st.lists(tod_strategy, min_size=2, max_size=2).map(sorted),
                st.lists(st.integers(0, 400), min_size=2, max_size=2).map(sorted),
            ).map(lambda t: (t[0], t[1][0], t[1][1], t[2][0], t[2][1]))
            for rid in ids
        ]
    ).map(list)
)


@given(
    rows=st.lists(
        st.tuples(tod_strategy, st.integers(0, 400)), min_size=1, max_size=12
    ),
    ranges=ranges_strategy,
)
@settings(**_SETTINGS)
def test_interval_lookup_matches_reference(spark, rows, ranges):
    df = spark.createDataFrame(
        [(f"e{i}", tod, v) for i, (tod, v) in enumerate(rows)],
        "pk string, tod string, value int",
    )
    # scan-side variant
    got_scan = {
        r.pk: (r.range_id, r.in_range)
        for r in ops.interval_lookup_categorize_scan(
            df, ranges, F.col("tod"), "value"
        ).collect()
    }
    # join variant (the reference path) must agree with the scan variant
    # AND the Python reference
    got_join = {
        r.pk: (r.range_id, r.in_range)
        for r in ops.interval_join_categorize(
            df.withColumn("__event_pk", F.col("pk")),
            spark.createDataFrame(ranges, RANGE_SCHEMA),
            F.col("tod"),
            "value",
        ).collect()
    }
    for i, (tod, v) in enumerate(rows):
        rid, lo, hi = _ref_lookup(tod, ranges)
        want = (
            (rid, "true" if lo <= v <= hi else "false")
            if rid is not None
            else (None, None)
        )
        assert got_scan[f"e{i}"] == want, (tod, v)
        assert got_join[f"e{i}"] == want, (tod, v)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_latest_per_key_matches_reference(spark, rows):
    df = spark.createDataFrame(
        [(k, off, i) for i, (k, off) in enumerate(rows)],
        "key int, payload long, offset long",
    )
    got = {
        r.key: r.offset
        for r in ops.latest_per_key(df, ["key"], "offset").collect()
    }
    want: dict[int, int] = {}
    for i, (k, _off) in enumerate(rows):
        if k not in want or i > want[k]:
            want[k] = i
    assert got == want
