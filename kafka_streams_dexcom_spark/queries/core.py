"""Core parity queries (SURVEY.md §2) over the driver testdata.

`events` stands in for the EGV stream (FIXTURES.md mapping): user_id→key,
ts→systemTime, value→glucose value, props→raw JSON (schema-on-read path).
The 3-row golden ranges dimension (FIXTURES.md F2) is declared inline in
both the Spark query and the DuckDB oracle.

All computed columns are aliased identically in Spark and SQL; ints are
cast to BIGINT on both sides so schema comparison is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.json import json_int
from kafka_streams_dexcom_spark.functions.timeofday import time_of_day
from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.schemas import GOLDEN_RANGES, RANGE_SCHEMA
from kafka_streams_dexcom_spark.sources.files import load_table

# Threshold notes: the reference filters glucose >= 200
# (StreamsFilterEgvs.java:30); events.value spans 0..490 so the same
# constant stays meaningful. The JSON path uses props.k (0..99) with
# threshold 50.
FILTER_THRESHOLD = 200
JSON_THRESHOLD = 50

RANGES_SQL_CTE = (
    "ranges(range_id, start_time, end_time, lower_bound, upper_bound) AS "
    "(VALUES (1, '00:00:00', '05:59:59', 80, 150), "
    "(2, '06:00:00', '21:59:59', 70, 180), "
    "(3, '22:00:00', '23:59:59', 80, 150))"
)


def ranges_df(spark: SparkSession) -> DataFrame:
    """The golden ranges as a LocalRelation with exactly RANGE_SCHEMA.

    ``spark.createDataFrame`` over Python rows plans a scan of a
    pickled-row RDD, so every collect or broadcast of it runs a Spark
    job; an inline VALUES table makes every column NOT NULL. The JVM's
    ``createDataFrame(List<Row>, StructType)`` builds a LocalRelation
    with the declared schema, which Spark collects without running a
    job (P5 collects its ranges snapshot every micro-batch)."""
    sc = spark.sparkContext
    jvm = sc._jvm
    rows = jvm.java.util.ArrayList()
    for r in GOLDEN_RANGES:
        fields = sc._gateway.new_array(jvm.java.lang.Object, len(r))
        for i, v in enumerate(r):
            fields[i] = v
        rows.add(jvm.org.apache.spark.sql.RowFactory.create(fields))
    jschema = spark._jsparkSession.parseDataType(RANGE_SCHEMA.json())
    return DataFrame(spark._jsparkSession.createDataFrame(rows, jschema), spark)


# --- queries ---------------------------------------------------------------


def q_filter_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming filter semantics (P3): keep value >= 200, inclusive."""
    e = load_table(spark, sf_dir, "events")
    return ops.filter_at_least(e, "value", FILTER_THRESHOLD).select(
        "event_id", "user_id", "event_type", "value"
    )


def q_filter_high_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 schema-on-read path: raw JSON value, missing field → 0
    (StreamsFilterEgvs.java:43-52)."""
    e = load_table(spark, sf_dir, "events")
    return ops.filter_at_least_json(e, "props", "$.k", JSON_THRESHOLD).select(
        "event_id", json_int("props", "$.k").alias("k_value")
    )


def q_project_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 mapValues projection: key preserved, measure extracted
    (CategorizeWithSimpleRule.java:62-63)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(F.col("user_id").alias("key"), "event_id", "value")


def q_categorize_simple(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 constant-rule CASE: 75 <= x <= 180 → string 'true'/'false'."""
    e = load_table(spark, sf_dir, "events")
    return ops.categorize_simple(e, "value").select(
        "event_id", "value", "in_range"
    )


def q_interval_join_categorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (P5): time-of-day interval lookup against the ranges
    dimension + per-row-bounds categorize. The 3-row dimension is inlined
    scan-side (interval_lookup_categorize_scan) — zero shuffle, zero join;
    the fact side streams through a narrow projection at any scale. The
    join-based variant (ops.interval_join_categorize, BroadcastNLJ) covers
    dimensions too large to inline and is plan-audited in tests."""
    e = load_table(spark, sf_dir, "events")
    out = ops.interval_lookup_categorize_scan(
        e, GOLDEN_RANGES, time_of_day(F.col("ts")), "value"
    )
    return out.select(
        "event_id",
        "value",
        time_of_day(F.col("ts")).alias("tod"),
        F.col("range_id").cast("bigint").alias("range_id"),
        F.col("lower_bound").cast("bigint").alias("lower_bound"),
        F.col("upper_bound").cast("bigint").alias("upper_bound"),
        "in_range",
    )



def q_interval_join_bucketized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path variant of the flagship: the interval lookup as a
    bucketized EQUI-join (ops.interval_join_bucketized) — the plan shape
    for a ranges dimension too large to inline or broadcast. Identical
    semantics and oracle as interval_join_categorize; the plan audit
    asserts no BroadcastNestedLoopJoin survives."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "__event_pk", F.col("event_id")
    )
    joined = ops.interval_join_bucketized(
        e, ranges_df(spark), time_of_day(F.col("ts")), bucket_seconds=900
    )
    out = joined.withColumn(
        "in_range",
        ops.in_range_or_null(
            F.col("value"), F.col("lower_bound"), F.col("upper_bound")
        ),
    )
    return out.select(
        "event_id",
        "value",
        time_of_day(F.col("ts")).alias("tod"),
        F.col("range_id").cast("bigint").alias("range_id"),
        F.col("lower_bound").cast("bigint").alias("lower_bound"),
        F.col("upper_bound").cast("bigint").alias("upper_bound"),
        "in_range",
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KTable upsert view: latest event per user (SURVEY.md §2.1 table
    source). One shuffle on the key; ties broken by event_id desc."""
    e = load_table(spark, sf_dir, "events")
    latest = ops.latest_per_key(
        e.withColumn("__ord", F.struct(F.col("ts"), F.col("event_id"))),
        ["user_id"],
        "__ord",
    )
    return latest.select(
        F.col("user_id").alias("key"),
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )


def q_dedup_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent-sink dedup (P6): stable doc id collapses re-deliveries,
    keep first per id (ElasticSearchConsumer.java:45). The synthetic id
    pairs up adjacent events so duplicates actually exist in testdata."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "pair_id", F.floor(F.col("event_id") / 2).cast("bigint")
    )
    return ops.dedup_first_per_id(e, ["pair_id"], "event_id").select(
        "pair_id", "event_id", "user_id", "value"
    )


def q_envelope_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REST envelope flatten (P1): array-of-struct → rows. The envelope is
    built per user then exploded back — round-trips the nested shape."""
    e = load_table(spark, sf_dir, "events")
    env = e.groupBy("user_id").agg(
        F.collect_list(F.struct("event_id", "value")).alias("egvs")
    )
    return ops.envelope_explode(env, "egvs").select(
        "user_id", "event_id", "value"
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read field access (get_json_object path)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("event_id", json_int("props", "$.k").alias("k_value"))


QUERIES = {
    "filter_high": q_filter_high,
    "filter_high_json": q_filter_high_json,
    "project_extract": q_project_extract,
    "categorize_simple": q_categorize_simple,
    "interval_join_categorize": q_interval_join_categorize,
    "interval_join_bucketized": q_interval_join_bucketized,
    "latest_per_key": q_latest_per_key,
    "dedup_by_id": q_dedup_by_id,
    "envelope_explode": q_envelope_explode,
    "json_extract": q_json_extract,
}

ORACLES = {
    "filter_high": f"""
        SELECT event_id, user_id, event_type, value
        FROM events WHERE value >= {FILTER_THRESHOLD}
    """,
    "filter_high_json": f"""
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        FROM events
        WHERE COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT), 0)
              >= {JSON_THRESHOLD}
    """,
    "project_extract": """
        SELECT user_id AS key, event_id, value FROM events
    """,
    "categorize_simple": """
        SELECT event_id, value,
               CASE WHEN value BETWEEN 75 AND 180 THEN 'true' ELSE 'false' END
                   AS in_range
        FROM events
    """,
    "interval_join_categorize": f"""
        WITH {RANGES_SQL_CTE}
        SELECT event_id, value, tod,
               CAST(range_id AS BIGINT) AS range_id,
               CAST(lower_bound AS BIGINT) AS lower_bound,
               CAST(upper_bound AS BIGINT) AS upper_bound,
               CASE WHEN lower_bound IS NULL THEN NULL
                    WHEN value >= lower_bound AND value <= upper_bound
                        THEN 'true'
                    ELSE 'false' END AS in_range
        FROM (
            SELECT e.event_id, e.value, strftime(e.ts, '%H:%M:%S') AS tod,
                   r.range_id, r.lower_bound, r.upper_bound
            FROM events e
            LEFT JOIN ranges r
              ON strftime(e.ts, '%H:%M:%S') >= r.start_time
             AND strftime(e.ts, '%H:%M:%S') <= r.end_time
            QUALIFY row_number() OVER (
                PARTITION BY e.event_id ORDER BY r.range_id ASC NULLS LAST
            ) = 1
        )
    """,
    "latest_per_key": """
        SELECT user_id AS key, event_id, epoch_us(ts) AS ts_us, value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) = 1
    """,
    "dedup_by_id": """
        SELECT CAST(event_id // 2 AS BIGINT) AS pair_id,
               event_id, user_id, value
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY event_id // 2 ORDER BY event_id ASC
        ) = 1
    """,
    "envelope_explode": """
        SELECT user_id, event_id, value FROM events
    """,
    "json_extract": """
        SELECT event_id,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
        FROM events
    """,
}

ORACLES["interval_join_bucketized"] = ORACLES["interval_join_categorize"]
