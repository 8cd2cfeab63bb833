"""Golden-output tests transplanted from the reference's test corpus
(SURVEY.md §5, FIXTURES.md): same inputs, same expected outputs, run
through the injectable DataFrame transforms instead of TopologyTestDriver."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.queries.core import ranges_df
from kafka_streams_dexcom_spark.functions.timeofday import (
    time_of_day_from_iso_string,
)
from kafka_streams_dexcom_spark.schemas import RANGE_SCHEMA
from kafka_streams_dexcom_spark.streaming import jobs


def test_categorize_simple_golden(spark):
    # CategorizeWithSimpleRuleTest.java:48-80 — values 65/100/265 under key
    # "robert" → "false"/"true"/"false" (75..180 inclusive).
    df = spark.createDataFrame(
        [("robert", 65), ("robert", 100), ("robert", 265)], "key string, value int"
    )
    out = ops.categorize_simple(df, "value").orderBy("value").collect()
    assert [r.in_range for r in out] == ["false", "true", "false"]
    assert all(r.key == "robert" for r in out)  # key preserved (§2.6 #9)


def test_categorize_bounds_inclusive(spark):
    df = spark.createDataFrame([(75,), (180,), (74,), (181,)], "value int")
    got = {
        r.value: r.in_range
        for r in ops.categorize_simple(df, "value").collect()
    }
    assert got == {75: "true", 180: "true", 74: "false", 181: "false"}


def _egvs(spark, rows):
    return spark.createDataFrame(rows, "key string, systemTime string, value int")


def _ranges(spark, rows):
    return spark.createDataFrame(rows, RANGE_SCHEMA)


def _join_path(egvs, ranges):
    return ops.interval_join_categorize(
        egvs.withColumn("__event_pk", F.monotonically_increasing_id()),
        ranges,
        time_of_day_from_iso_string("systemTime"),
        "value",
    )


def _p5_path(egvs, ranges):
    return jobs.ktable_lookup_topology(lambda: ranges)(egvs, 0)


# Every interval-lookup edge case runs through the join-based reference
# and the P5 topology (collected snapshot + scan-side CASE kernel).
lookup_paths = pytest.mark.parametrize(
    "lookup",
    [_join_path, _p5_path],
    ids=["interval_join_categorize", "ktable_lookup_topology"],
)


@lookup_paths
def test_ktable_lookup_golden(spark, lookup):
    # CategorizeWithKTableLookupTest.java:76-111 — 75@02:00 → "false",
    # 100@12:00 → "true", 265@19:00 → "false".
    egvs = _egvs(
        spark,
        [
            ("robert", "2020-11-02T02:00:00", 75),
            ("robert", "2020-11-02T12:00:00", 100),
            ("robert", "2020-11-02T19:00:00", 265),
        ],
    )
    out = lookup(egvs, ranges_df(spark)).collect()
    got = {r.value: r.in_range for r in out}
    assert got == {75: "false", 100: "true", 265: "false"}
    # range resolution: 02:00 → sleeping range 1, 12:00/19:00 → active 2
    rid = {r.value: r.range_id for r in out}
    assert rid == {75: 1, 100: 2, 265: 2}


@lookup_paths
def test_interval_join_no_match_gives_nulls(spark, lookup):
    # SURVEY.md §2.6 #4: unmatched → null enrichment (left-join policy).
    egvs = _egvs(spark, [("k", "2020-11-02T10:00:00", 100)])
    narrow = ranges_df(spark).filter(F.col("range_id") == 1)  # 00:00-05:59 only
    out = lookup(egvs, narrow).collect()
    assert len(out) == 1
    assert out[0].range_id is None and out[0].in_range is None


@lookup_paths
def test_interval_join_first_match_tiebreak(spark, lookup):
    # SURVEY.md §2.6 #6: overlapping ranges → lowest range_id wins.
    overlapping = _ranges(
        spark,
        [
            (2, "00:00:00", "23:59:59", 0, 50),
            (1, "00:00:00", "23:59:59", 60, 300),
        ],
    )
    egvs = _egvs(spark, [("k", "2020-11-02T10:00:00", 100)])
    out = lookup(egvs, overlapping).collect()
    assert len(out) == 1
    assert out[0].range_id == 1 and out[0].in_range == "true"


@lookup_paths
def test_interval_lookup_empty_dimension(spark, lookup):
    egvs = _egvs(
        spark,
        [("k", "2020-11-02T02:00:00", 75), ("k", "2020-11-02T12:00:00", 100)],
    )
    out = lookup(egvs, _ranges(spark, [])).collect()
    assert len(out) == 2
    for r in out:
        assert (r.range_id, r.start_time, r.end_time) == (None, None, None)
        assert (r.lower_bound, r.upper_bound, r.in_range) == (None, None, None)


@lookup_paths
def test_interval_lookup_null_bounds(spark, lookup):
    ranges = _ranges(
        spark,
        [
            (0, None, "23:59:59", 0, 500),  # null start: matches nothing
            (1, "00:00:00", "11:59:59", None, 150),
            (2, "12:00:00", "23:59:59", 70, None),
        ],
    )
    egvs = _egvs(
        spark,
        [("k", "2020-11-02T10:00:00", 100), ("k", "2020-11-02T13:00:00", 100)],
    )
    got = {
        r.systemTime[11:]: (r.range_id, r.lower_bound, r.upper_bound, r.in_range)
        for r in lookup(egvs, ranges).collect()
    }
    assert got == {
        # null lower bound → null in_range, as for no match (§2.6 #4)
        "10:00:00": (1, None, 150, None),
        # null upper bound → the inclusive test is never true: "false"
        "13:00:00": (2, 70, None, "false"),
    }


def test_filter_missing_json_field_is_zero(spark):
    # StreamsFilterEgvs.java:49-51: missing `value` → 0 → dropped by >= 200.
    df = spark.createDataFrame(
        [
            ('{"value": 250}',),
            ('{"value": 100}',),
            ('{"other": 1}',),
            ("not json",),
        ],
        "value_json string",
    )
    out = ops.filter_at_least_json(df, "value_json", "$.value", 200).collect()
    assert len(out) == 1


def test_latest_per_key_upsert(spark):
    # FIXTURES.md F2 upsert case: re-piped range_id=2 → only latest survives.
    df = spark.createDataFrame(
        [(2, 70, 180, 0), (2, 75, 175, 1), (1, 80, 150, 0)],
        "range_id int, lower int, upper int, offset long",
    )
    out = ops.latest_per_key(df, ["range_id"], "offset")
    got = {r.range_id: (r.lower, r.upper) for r in out.collect()}
    assert got == {2: (75, 175), 1: (80, 150)}


def test_dedup_first_per_id(spark):
    # ElasticSearchConsumer.java:45 semantics: duplicate deliveries of the
    # same (topic, partition, offset) collapse to one row.
    df = spark.createDataFrame(
        [("t", 0, 1, "a", 10), ("t", 0, 1, "a", 11), ("t", 0, 2, "b", 12)],
        "topic string, partition int, offset long, payload string, seq long",
    )
    out = ops.dedup_first_per_id(df, ["topic", "partition", "offset"], "seq")
    assert out.count() == 2
    kept = {r.offset: r.seq for r in out.collect()}
    assert kept == {1: 10, 2: 12}


def test_envelope_explode_roundtrip(spark):
    from kafka_streams_dexcom_spark.sources.rest import envelope_to_df

    payload = {
        "unit": "mg/dL",
        "rateUnit": "mg/dL/min",
        "egvs": [
            {"systemTime": "2020-11-02T02:00:00", "value": 75, "trend": "flat"},
            {"systemTime": "2020-11-02T02:05:00", "value": 80, "trend": "up"},
        ],
    }
    out = envelope_to_df(spark, [payload])
    rows = out.orderBy("systemTime").collect()
    assert len(rows) == 2
    assert rows[0].unit == "mg/dL" and rows[0].value == 75
    assert rows[1].trend == "up"
