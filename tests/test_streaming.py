"""Batch/stream equivalence + sink semantics tests (SURVEY.md §7 Phase 3).

The reference's test strategy — fixed inputs through the real topology,
exact expected outputs — applied to the streaming path: the same transform
functions that pass the batch oracle must produce identical results under
micro-batched execution, and replayed batches must not duplicate output.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from kafka_streams_dexcom_spark.operators import core as ops
from kafka_streams_dexcom_spark.queries.core import ranges_df
from kafka_streams_dexcom_spark.streaming import jobs
from kafka_streams_dexcom_spark.streaming.harness import (
    assert_batch_stream_equivalent,
    run_stream,
    run_stream_foreach_batch,
)
from kafka_streams_dexcom_spark.streaming.sinks import (
    EsBulkFileSink,
    IdempotentParquetSink,
    batch_dir,
    es_bulk_lines,
    fan_out,
    with_stable_id,
)


def _egv_json_stream_df(spark):
    rows = [
        ("robert", '{"value": 65}'),
        ("robert", '{"value": 100}'),
        ("robert", '{"value": 265}'),
        ("robert", '{"value": 250}'),
        ("robert", '{"other": 1}'),  # missing value → 0 → dropped by filter
        ("robert", "not json"),
    ]
    return spark.createDataFrame(rows, "key string, value string")


def test_filter_topology_batch_stream_equivalent(spark):
    assert_batch_stream_equivalent(
        spark, _egv_json_stream_df(spark), jobs.filter_high_topology
    )


def test_categorize_topology_batch_stream_equivalent(spark):
    branches = jobs.categorize_simple_branches()
    assert_batch_stream_equivalent(
        spark, _egv_json_stream_df(spark), branches["are-values-in-range"]
    )


def test_interval_join_batch_stream_equivalent(spark):
    egvs = spark.createDataFrame(
        [
            ("robert", "2020-11-02T02:00:00", 75),
            ("robert", "2020-11-02T12:00:00", 100),
            ("robert", "2020-11-02T19:00:00", 265),
        ],
        "key string, systemTime string, value int",
    )
    run_batch = jobs.ktable_lookup_topology(lambda: ranges_df(spark))
    batch_rows = run_batch(egvs, 0).collect()
    stream_rows = run_stream_foreach_batch(spark, egvs, run_batch)
    key = lambda r: tuple(str(v) for v in r)  # noqa: E731
    assert sorted(batch_rows, key=key) == sorted(stream_rows, key=key)


def test_ktable_lookup_builds_without_spark_jobs(spark):
    """P5 collects its ranges snapshot every batch; a LocalRelation
    loader makes that (and the whole per-batch build) job-free."""
    from kafka_streams_dexcom_spark.schemas import GOLDEN_RANGES, RANGE_SCHEMA

    assert ranges_df(spark).schema == RANGE_SCHEMA
    egvs = spark.createDataFrame(
        [("robert", "2020-11-02T02:00:00", 75)],
        "key string, systemTime string, value int",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_started(build, group):
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    p5 = jobs.ktable_lookup_topology(lambda: ranges_df(spark))
    assert jobs_started(lambda: p5(egvs, 0), "p5-build") == []
    # control: the tracker does see a Python-rows dimension's collect
    rdd_ranges = lambda: spark.createDataFrame(GOLDEN_RANGES, RANGE_SCHEMA)  # noqa: E731
    rdd_p5 = jobs.ktable_lookup_topology(rdd_ranges)
    assert jobs_started(lambda: rdd_p5(egvs, 0), "p5-build-rdd") != []


def test_fan_out_single_pass_two_sinks(spark):
    """P4: one source batch feeds both output 'topics'."""
    outs: dict[str, list] = {"integer-values": [], "are-values-in-range": []}
    branches = jobs.categorize_simple_branches()
    writers = {
        name: (lambda n: lambda df, bid: outs[n].extend(df.collect()))(name)
        for name in branches
    }
    with tempfile.TemporaryDirectory() as d:
        src = _egv_json_stream_df(spark)
        src.coalesce(1).write.mode("append").parquet(f"{d}/in")
        stream = (
            spark.readStream.schema(src.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/in")
        )
        q = (
            fan_out(stream, branches, writers, f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert len(outs["integer-values"]) == 6
    assert len(outs["are-values-in-range"]) == 6
    in_range = [r.in_range for r in outs["are-values-in-range"]]
    assert in_range.count("true") == 1  # only value=100 is in 75..180


def test_idempotent_sink_replay_no_duplicates(spark):
    with tempfile.TemporaryDirectory() as d:
        sink = IdempotentParquetSink(f"{d}/out")
        batch = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        )
        sink(batch, 7)
        sink(batch, 7)  # replay of the same epoch (failure recovery)
        got = spark.read.parquet(f"{d}/out")
        assert got.count() == 2  # not 4: replay overwrote its partition
        sink(batch, 8)  # a new epoch appends
        assert spark.read.parquet(f"{d}/out").count() == 4


def test_stable_id_matches_reference_recipe(spark):
    # ElasticSearchConsumer.java:45: id = topic + "_" + partition + "_" + offset
    df = spark.createDataFrame(
        [("egvs", 3, 42, "x")], "topic string, partition int, offset long, v string"
    )
    assert with_stable_id(df).collect()[0].doc_id == "egvs_3_42"


def test_es_bulk_file_sink_writes_bulk_ndjson(spark):
    with tempfile.TemporaryDirectory() as d:
        sink = EsBulkFileSink(f"{d}/bulk")
        batch = spark.createDataFrame(
            [("egvs", 0, 1, 250), ("egvs", 0, 2, 100)],
            "topic string, partition int, offset long, value int",
        )
        sink(batch, 0)
        lines = []
        for f in glob.glob(f"{d}/bulk/**/*.txt", recursive=True):
            with open(f) as fh:
                lines.extend(l for l in fh.read().splitlines() if l)
        assert len(lines) == 4  # 2 records × (action + doc)
        assert any('"_id": "egvs_0_1"' in l or '"_id":"egvs_0_1"' in l for l in lines)


def test_es_bulk_file_sink_replay_no_duplicates(spark):
    with tempfile.TemporaryDirectory() as d:
        sink = EsBulkFileSink(f"{d}/bulk")
        batch = spark.createDataFrame(
            [("egvs", 0, 1, 250), ("egvs", 0, 2, 100)],
            "topic string, partition int, offset long, value int",
        )
        sink(batch, 7)
        sink(batch, 7)  # replay of the same epoch (failure recovery)
        got = spark.read.text(f"{d}/bulk")
        assert got.count() == 4  # 2 records × (action + doc), not 8
        sink(batch, 8)  # a new epoch appends
        got = spark.read.text(f"{d}/bulk")
        assert got.groupBy("__batch_id").count().orderBy("__batch_id").collect() == [
            (7, 4),
            (8, 4),
        ]


def _egv_batch(spark, lo: int, n: int):
    """``n`` rows over two partitions, so the write lands two part files."""
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, lo + n)], "id long, v string"
    ).repartition(2)


def _batch_counts(spark, path: str) -> tuple[dict, dict]:
    """Rows per ``__batch_id`` as Spark and as DuckDB's hive glob (the
    reader ``perfbench``'s egv check uses) see ``path``."""
    by_spark = {
        r["__batch_id"]: r["count"]
        for r in spark.read.parquet(path).groupBy("__batch_id").count().collect()
    }
    by_duck = dict(
        duckdb.sql(
            f"SELECT __batch_id, count(*) FROM read_parquet('{path}/*/*.parquet', "
            "hive_partitioning = true) GROUP BY ALL"
        ).fetchall()
    )
    return by_spark, by_duck


def _plant_task_committed(batch, stage: str, dst: str) -> None:
    """What a crash between task commit and job commit leaves: the
    batch's part files under ``_temporary/0/task_*`` (the file output
    committer's task-commit layout) and nothing in the batch directory."""
    batch.write.parquet(stage)
    shutil.rmtree(dst)
    for i, f in enumerate(sorted(glob.glob(f"{stage}/part-*.parquet"))):
        task = f"{dst}/_temporary/0/task_202601010000_0000_m_{i:06d}"
        os.makedirs(task)
        shutil.copy(f, task)


def _plant_partial(batch, stage: str, dst: str) -> None:
    """What a crash midway through job commit leaves: the batch
    directory holds only some of its part files."""
    parts = sorted(glob.glob(f"{dst}/part-*.parquet"))
    assert len(parts) == 2
    os.remove(parts[1])


@pytest.mark.parametrize(
    "plant, temporary_only",
    [(_plant_task_committed, True), (_plant_partial, False)],
    ids=["task_committed", "partial_parts"],
)
def test_idempotent_sink_replay_after_crash_counts_batch_once(
    spark, plant, temporary_only
):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/out"
        sink = IdempotentParquetSink(path)
        sink(_egv_batch(spark, 0, 6), 7)
        batch = _egv_batch(spark, 100, 10)
        sink(batch, 8)
        plant(batch, f"{d}/stage", batch_dir(path, 8))
        by_spark, by_duck = _batch_counts(spark, path)
        assert by_spark[7] == by_duck[7] == 6
        if temporary_only:
            # both readers skip _temporary: nothing of batch 8 is counted
            assert 8 not in by_spark and 8 not in by_duck
        else:
            assert 0 < by_spark[8] == by_duck[8] < 10
        sink(batch, 8)  # the replay after recovery
        assert _batch_counts(spark, path) == ({7: 6, 8: 10}, {7: 6, 8: 10})
        assert not glob.glob(f"{batch_dir(path, 8)}/_temporary")
        got = spark.read.parquet(path).where("__batch_id = 8")
        assert sorted(got.select("id").collect()) == [(i,) for i in range(100, 110)]


def _dynamic_overwrite_parquet(df, path: str, batch_id: int) -> None:
    """The layout reference: the per-batch-partition dynamic overwrite
    the sinks used before they wrote straight into ``__batch_id=N``."""
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def _dynamic_overwrite_es(df, path: str, batch_id: int) -> None:
    (
        es_bulk_lines(with_stable_id(df))
        .withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .option("maxRecordsPerFile", 100)
        .text(path)
    )


@pytest.mark.parametrize(
    "make_sink, reference, read",
    [
        (IdempotentParquetSink, _dynamic_overwrite_parquet, "parquet"),
        (EsBulkFileSink, _dynamic_overwrite_es, "text"),
    ],
    ids=["parquet", "es_bulk"],
)
def test_sink_layout_matches_dynamic_overwrite(spark, make_sink, reference, read):
    batches = {
        7: spark.createDataFrame(
            [("egvs", 0, i, 60 + i) for i in range(5)],
            "topic string, partition int, offset long, value int",
        ),
        8: spark.createDataFrame(
            [("egvs", 1, i, 200 + i) for i in range(3)],
            "topic string, partition int, offset long, value int",
        ),
    }
    with tempfile.TemporaryDirectory() as d:
        sink = make_sink(f"{d}/new")
        for bid in (7, 8, 7):  # batch 7 replayed after batch 8
            reference(batches[bid], f"{d}/old", bid)
            sink(batches[bid], bid)
        old = getattr(spark.read, read)(f"{d}/old")
        new = getattr(spark.read, read)(f"{d}/new")
        assert new.schema == old.schema
        assert new.schema.fields[-1].name == "__batch_id"
        assert new.schema.fields[-1].dataType == IntegerType()
        rows = new.collect()
        assert sorted(rows) == sorted(old.collect())
        assert len(set(rows)) == len(rows)  # the replay of 7 added nothing


@pytest.mark.parametrize(
    "make_sink, read",
    [(IdempotentParquetSink, "parquet"), (EsBulkFileSink, "text")],
    ids=["parquet", "es_bulk"],
)
def test_sink_empty_batch_keeps_path_readable(spark, make_sink, read):
    schema = "topic string, partition int, offset long, value int"
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/out"
        sink = make_sink(path)
        sink(spark.createDataFrame([("egvs", 0, 1, 250)], schema), 7)
        before = getattr(spark.read, read)(path).collect()
        sink(spark.createDataFrame([], schema), 8)
        # a static write of an empty frame lands one 0-row file
        assert glob.glob(f"{batch_dir(path, 8)}/part-*")
        after = getattr(spark.read, read)(path).collect()
        assert sorted(after) == sorted(before)
        assert {r["__batch_id"] for r in after} == {7}
        if read == "parquet":
            assert _batch_counts(spark, path) == ({7: 1}, {7: 1})


def test_observe_metrics_per_batch(spark):
    """One-pass pipeline monitoring via Dataset.observe: per-micro-batch
    aggregates (row count, out-of-range count) surface in the query
    progress WITHOUT a second pass or a separate metrics job — the
    streaming ops dashboard feed (the reference logs every record
    instead; observe is the scale-safe equivalent)."""
    import tempfile

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, float(i * 10)) for i in range(20)],
            "id long, value double",
        ).write.mode("overwrite").parquet(f"{d}/in")
        s = spark.readStream.schema("id long, value double").parquet(
            f"{d}/in"
        )
        obs = s.observe(
            "egv_metrics",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("value") >= 100).cast("long")).alias("n_high"),
        )
        q = (
            obs.writeStream.format("noop")
            .option("checkpointLocation", f"{d}/ck")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        metrics = [
            p["observedMetrics"]["egv_metrics"]
            for p in q.recentProgress
            if "egv_metrics" in (p.get("observedMetrics") or {})
        ]
    assert sum(m["n_rows"] for m in metrics) == 20
    assert sum(m["n_high"] for m in metrics) == 10


def test_fan_out_rejects_mismatched_writer_keys(spark):
    import pytest

    from kafka_streams_dexcom_spark.streaming.sinks import fan_out

    with pytest.raises(ValueError, match="key mismatch"):
        fan_out(
            None,
            {"hot": lambda d: d, "cold": lambda d: d},
            {"hot": lambda d, b: None},
            "/tmp/unused_ckpt",
        )


def test_es_bulk_document_excludes_kafka_transport_columns(spark):
    import json

    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.streaming.sinks import (
        es_bulk_lines,
        with_stable_id,
    )

    df = spark.createDataFrame(
        [("k1", '{"value": 212}', "egvs", 0, 42, "2024-01-01 00:00:00")],
        "key string, value string, topic string, partition int, "
        "offset long, kafka_ts string",
    ).withColumn("kafka_ts", F.col("kafka_ts").cast("timestamp"))
    lines = es_bulk_lines(with_stable_id(df)).collect()[0]["bulk_lines"]
    action, doc = lines.split("\n")
    assert json.loads(action)["index"]["_id"] == "egvs_0_42"
    body = json.loads(doc)
    # the reference indexes only the record value (+ key); transport
    # coordinates must not leak into the document
    assert set(body) <= {"key", "value"}
    assert body["value"] == '{"value": 212}'
