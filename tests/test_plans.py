"""Physical-plan audits: assert the scale-critical optimizations actually
fire (pushdown, pruning, broadcast, map-side partial aggregation). These
are the properties that make the engine viable at 100 TB; a silent
regression here wouldn't change results, only the cluster bill.

Node counts (exchanges, joins by strategy, aggregates, windows, top-k
nodes, generators, Python stages) of every registered query are pinned
once, in PLAN_SHAPES.json, by ``test_plan_shape``; regenerate it with
``python plan_shapes.py`` and review the diff. The named shape tests
below state, as bounds on the same census, the invariants a regenerated
golden file must never lose (no join, broadcast only, one tokenizing
pass, ...). The other tests here check what a node count cannot see:
pushed filters, pruned read schemas, join types, column names, and plans
of DataFrames that are not registered queries."""

from __future__ import annotations

import json

import pytest

from kafka_streams_dexcom_spark.plans import (
    explain_str,
    plan_has,
    plan_shape,
    scan_read_schema,
)
from kafka_streams_dexcom_spark.queries import all_queries
from kafka_streams_dexcom_spark.queries.core import (
    q_filter_high,
    q_project_extract,
)
from kafka_streams_dexcom_spark.queries.relational import q_pricing_summary
from plan_shapes import GOLDEN

with open(GOLDEN) as f:
    SHAPES = json.load(f)


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_plan_shape(query_shape, name):
    """Every registered query, built at sf0.001, plans exactly the
    golden shape. The shape is that of the returned DataFrame only: the
    jobs that ran while the query was built (eager lineage cuts,
    artifact builds) are not in it, and ``test_plan_lint`` checks their
    plans (and that none plans a CartesianProduct, whatever the golden
    file says)."""
    assert query_shape(name) == SHAPES.get(name)


def test_plan_shapes_cover_the_registry():
    assert set(SHAPES) == set(all_queries())


_JOINS = (
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


def _joins(shape: dict[str, int]) -> int:
    return sum(shape[j] for j in _JOINS)


def test_flagship_interval_lookup_is_shuffle_free(query_shape):
    # scan-side inlined dimension: no join, no exchange anywhere
    shape = query_shape("interval_join_categorize")
    assert _joins(shape) == 0 and shape["Exchange"] == 0, shape


def test_top_customers_broadcasts_dimension(query_shape):
    shape = query_shape("top_customers")
    assert shape["BroadcastHashJoin"] >= 1, shape
    # top-k compiles to TakeOrdered, not a global Sort + Limit
    assert shape["TakeOrderedAndProject"] >= 1, shape


def test_tfidf_tokenizes_once(query_shape):
    # df-via-window formulation: ONE explode of the token stream. A
    # groupBy-then-join df would plan two Generate subtrees (Catalyst
    # prunes the unused tf count, defeating exchange reuse) — the whole
    # token volume shuffled twice at 100 TB.
    shape = query_shape("tfidf_top_terms")
    assert shape["Generate"] == 1, shape


def test_bigram_lm_takeordered_single_generate(query_shape):
    shape = query_shape("bigram_lm")
    assert shape["Generate"] == 1, shape
    assert shape["TakeOrderedAndProject"] >= 1, shape


def test_doc_chunks_shuffle_free(query_shape):
    # narrow map + explode only; the single Exchange allowed is the
    # fan_out_small small-input repartition (a no-op at real scale)
    shape = query_shape("doc_chunks")
    assert _joins(shape) == 0, shape
    assert shape["Exchange"] <= 1, shape


def test_multiprobe_candidates_never_shuffle_for_join(query_shape):
    # probe set must broadcast; a shuffle join here would move the whole
    # exploded candidate table at 100 TB
    shape = query_shape("sim_search_multiprobe")
    assert shape["BroadcastHashJoin"] >= 1, shape
    assert shape["SortMergeJoin"] == 0, shape


def test_bm25_freetext_query_side_is_broadcast(query_shape):
    """The index scan is the only wide work: every query-side join
    (terms, query table, dfreq, stats) must broadcast — a SortMergeJoin
    on the postings would shuffle the corpus-scale index per query
    batch. No cartesian product anywhere."""
    shape = query_shape("bm25_freetext")
    assert shape["CartesianProduct"] == 0, shape
    assert shape["SortMergeJoin"] == 0, shape
    assert shape["ShuffledHashJoin"] == 0, shape


def test_doc_perplexity_has_no_join(query_shape):
    """Round-3 rework contract: the bigram LM attaches via windows over
    a single w1 repartition — any join means the token-scale vocabulary
    join crept back in."""
    shape = query_shape("doc_perplexity")
    assert _joins(shape) == 0, shape
    assert shape["Window"] >= 1, shape
    # at most 4 exchanges: fan-out, (doc,bigram) agg, w1 repartition,
    # final doc agg; anything more is a regression
    assert shape["Exchange"] <= 4, shape


def test_dup_span_fraction_has_no_join(query_shape):
    shape = query_shape("dup_span_fraction")
    assert _joins(shape) == 0, shape
    assert shape["Exchange"] <= 4, shape


def test_customer_order_distribution_single_probe_exchange(query_shape):
    """Q13 shape: the left join and the per-customer groupBy share the
    custkey partitioning — counting exchanges guards the reuse."""
    # exchanges: probe-side hash (or a broadcast at tiny SF) + custkey
    # agg + final distribution agg; more means the shared partitioning
    # between the join and the groupBy broke
    shape = query_shape("customer_order_distribution")
    assert shape["Exchange"] <= 4, shape


def test_interval_join_bucketized_is_equi_join(query_shape):
    """The scale-path variant must plan as a hash equi-join on the
    bucket key — a BroadcastNestedLoopJoin means the bucketization
    failed and every probe scans the whole dimension again."""
    shape = query_shape("interval_join_bucketized")
    assert shape["BroadcastNestedLoopJoin"] == 0, shape
    assert shape["CartesianProduct"] == 0, shape
    assert shape["BroadcastHashJoin"] + shape["SortMergeJoin"] >= 1, shape


def test_embedding_outliers_broadcasts_centroids(query_shape):
    """Centroid table (|labels| rows) broadcasts back onto the vector
    scan; the ranking window partitions by label — never a global sort."""
    shape = query_shape("embedding_outliers")
    assert shape["BroadcastHashJoin"] >= 1, shape
    assert shape["SortMergeJoin"] == 0, shape
    assert shape["CartesianProduct"] == 0, shape


def test_audio_video_pipelines_are_shuffle_free(query_shape):
    """Synthesize + decode are two chained Arrow stages over the same
    scan — zero shuffles end to end (the fan_out_small repartition of
    the small test input is the only allowed Exchange)."""
    for name in ("audio_wav_stats", "video_avi_frames"):
        shape = query_shape(name)
        assert shape["python"] >= 2, (name, shape)
        assert _joins(shape) == 0, (name, shape)
        assert shape["Exchange"] <= 1, (name, shape)


def test_metrics_unpivot_aggregates_before_melt(query_shape):
    """Round-12 rework: the per-metric profile is 16 independent column
    aggregates computed in ONE keyless pass over the wide fact; the
    melt (Generate) runs over the single profiled row. The old form
    Expanded every fact row x4 BEFORE the partial aggregation — if an
    Expand reappears below the aggregate, the multiplier is back."""
    shape = query_shape("metrics_unpivot")
    assert shape["Expand"] == 0, shape
    assert shape["Generate"] >= 1, shape  # the 1-row melt
    # map-side combine still fires: partial + final HashAggregate
    assert shape["HashAggregate"] >= 2, shape


def test_topk_rank_windows_prune_below_the_window(query_shape):
    """Spark 4 prunes both top-k rank windows before they sort every
    row, and the two take different nodes. sim_search_lsh's per-query
    window (k <= spark.sql.optimizer.windowGroupLimitThreshold) carries
    WindowGroupLimit. zipf_slope's unpartitioned k = 1000 window, exactly
    at that threshold, becomes a TakeOrderedAndProject and no
    WindowGroupLimit. Lowering the threshold below either k removes the
    pruning node."""
    lsh = query_shape("sim_search_lsh")
    assert lsh["WindowGroupLimit"] >= 1, lsh
    zipf = query_shape("zipf_slope")
    assert zipf["TakeOrderedAndProject"] >= 1, zipf
    assert zipf["WindowGroupLimit"] == 0, zipf


def test_fingerprint_family_plan_shapes(query_shape):
    """The image, audio and video perceptual-hash queries run one
    banded-Hamming core over one media-family table, so each stage
    plans the same shape in every family: a family that drifts from
    the others (its own exchange, join or Python stage) has forked the
    core. The exact counts are golden, in PLAN_SHAPES.json."""
    for suffix in ("", "_dedup"):
        shapes = {
            name: query_shape(name)
            for name in (
                f"multimodal_phash{suffix}",
                f"audio_phash{suffix}",
                f"video_phash{suffix}",
            )
        }
        assert len({tuple(s.items()) for s in shapes.values()}) == 1, shapes
    for name in ("multimodal_phash", "audio_phash", "video_phash"):
        # synth + decode: two Python stages, no join, no aggregate
        shape = query_shape(name)
        assert shape["python"] == 2 and _joins(shape) == 0, (name, shape)


def test_pagerank_centrality_runs_as_one_task(query_census):
    """The query's pair graph is far below the single-task threshold, so
    PageRank runs as one Python task in the returned plan. Building it
    runs only the pair cut and the dispatch count: no per-round
    checkpoint and no early-exit count, each a Spark job of its own."""
    shape, construction_plans = query_census("pagerank_centrality")
    assert len(construction_plans) <= 2, len(construction_plans)
    assert shape["python"] == 1, shape


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    df = q_filter_high(spark, sf_dir)
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(value,200.0)" in plan, plan


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = q_project_extract(spark, sf_dir)
    read = scan_read_schema(df)
    # events has 6 columns; the projection needs only these 3
    assert set(read) == {"user_id", "event_id", "value"}, read


def test_interval_join_variant_is_broadcast_nlj(spark, sf_dir):
    # the join-based variant (for non-inlinable dimensions) must broadcast
    # the dimension, never shuffle the fact side into a SortMergeJoin
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.functions.timeofday import time_of_day
    from kafka_streams_dexcom_spark.operators.core import (
        interval_join_categorize,
    )
    from kafka_streams_dexcom_spark.queries.core import ranges_df
    from kafka_streams_dexcom_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "events").withColumn(
        "__event_pk", F.col("event_id")
    )
    df = interval_join_categorize(
        e, ranges_df(spark), time_of_day(F.col("ts")), "value"
    )
    plan = explain_str(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_ktable_lookup_topology_is_one_narrow_projection(spark):
    # P5 per batch: no join, no shuffle, no window, and no per-row
    # higher-order function — the snapshot is inlined as a CASE kernel.
    from pyspark.sql import types as T

    from kafka_streams_dexcom_spark.queries.core import ranges_df
    from kafka_streams_dexcom_spark.streaming import jobs

    batch = spark.createDataFrame(
        [("robert", "2020-11-02T02:00:00", 75)],
        "key string, systemTime string, value int",
    )
    out = jobs.ktable_lookup_topology(lambda: ranges_df(spark))(batch, 0)
    plan = explain_str(out)
    for node in ("Exchange", "Join", "Window", "sort_array", "filter(", "lambda"):
        assert node not in plan, (node, plan)
    assert out.schema == T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("systemTime", T.StringType()),
            T.StructField("value", T.IntegerType()),
            T.StructField("range_id", T.IntegerType()),
            T.StructField("start_time", T.StringType()),
            T.StructField("end_time", T.StringType()),
            T.StructField("lower_bound", T.IntegerType()),
            T.StructField("upper_bound", T.IntegerType()),
            T.StructField("in_range", T.StringType()),
        ]
    )


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    df = q_pricing_summary(spark, sf_dir)
    plan = explain_str(df)
    # (the map-side combine, partial + final HashAggregate, is a golden
    # count) shipdate filter pushed down to the scan
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_whole_stage_codegen_on_scan_queries(spark, sf_dir):
    df = q_filter_high(spark, sf_dir)
    # formatted mode tags whole-stage-codegen stages with "[codegen id : N]"
    assert plan_has(df, "codegen id"), explain_str(df)


def test_anti_semi_joins_broadcast(spark, sf_dir):
    from kafka_streams_dexcom_spark.queries.relational import (
        q_idle_customers,
        q_return_suppliers,
    )

    # join types and pruning here; that both broadcast (no
    # SortMergeJoin) is a golden count
    anti = explain_str(q_idle_customers(spark, sf_dir))
    assert "LeftAnti" in anti, anti
    semi = explain_str(q_return_suppliers(spark, sf_dir))
    assert "LeftSemi" in semi, semi
    # the semi probe reads only the join key + pushed filter column
    assert "l_returnflag" in semi and "PushedFilters" in semi, semi


def test_salted_agg_is_two_phase(spark, sf_dir):
    """Phase 1 groups on (key, salt), phase 2 on key — the hot key's
    rows spread over n_salts reducers, so the salt column must be in
    the plan (the two aggregation levels are golden HashAggregate
    counts)."""
    from kafka_streams_dexcom_spark.queries.relational import (
        q_salted_user_stats,
    )

    plan = explain_str(q_salted_user_stats(spark, sf_dir))
    assert "__salt" in plan, plan


def test_late_order_priorities_semi_join_prunes_probe(spark, sf_dir):
    """The EXISTS probe must read only the two lineitem columns it
    needs (orderkey + shipdate) — the 100 TB scan contract."""
    from kafka_streams_dexcom_spark.queries.relational import (
        q_late_order_priorities,
    )

    plan = explain_str(q_late_order_priorities(spark, sf_dir))
    assert "LeftSemi" in plan, plan
    assert "l_orderkey" in plan and "l_shipdate" in plan
    # none of the wide lineitem money columns should be scanned
    assert "l_extendedprice" not in plan, plan


def test_nation_trade_flows_single_fact_shuffle(spark, sf_dir):
    """Q7: the dimension filters reach the scans (which joins broadcast
    is a golden count)."""
    from kafka_streams_dexcom_spark.queries.joinshapes import (
        q_nation_trade_flows,
    )

    plan = explain_str(q_nation_trade_flows(spark, sf_dir))
    assert "PushedFilters" in plan, plan


def test_supplier_part_counts_anti_broadcast(spark, sf_dir):
    """Q16: the at-risk exclusion is an anti join (its broadcast and the
    map-side partial aggregate of the (part,supp) distinct are golden
    counts)."""
    from kafka_streams_dexcom_spark.queries.joinshapes import (
        q_supplier_part_counts,
    )

    plan = explain_str(q_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_er_fuzzy_customers_no_self_join(spark, sf_dir):
    """Pair generation is the within-bucket combination explode — a
    SortMergeJoin/CartesianProduct would mean an all-pairs self-join."""
    from kafka_streams_dexcom_spark.queries.dedup import (
        er_fuzzy_pairs_pipeline,
    )

    # the registered query returns the session ARTIFACT (a flat parquet
    # scan by design); the generation-shape assertions target the
    # builder pipeline it materializes
    plan = explain_str(er_fuzzy_pairs_pipeline(spark, sf_dir))
    assert "Join" not in plan, plan
    assert "levenshtein" in plan, plan


def test_scan_read_schema_handles_parametric_types(spark, tmp_path):
    """decimal(12,2) carries a comma inside parens; the field split must
    track paren depth or it emits a bogus '2)' column (r3 ADVICE item)."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "dec")
    spark.range(10).select(
        F.col("id"),
        (F.col("id") * 1.5).cast("decimal(12,2)").alias("amount"),
        F.array(F.lit(1.0), F.lit(2.0)).cast("array<float>").alias("vec"),
        F.lit("x").alias("tag"),
    ).write.parquet(path)
    df = spark.read.parquet(path).select("amount", "vec", "tag")
    assert set(scan_read_schema(df)) == {"amount", "vec", "tag"}


def test_value_drift_psi_scan_pruned_and_no_cartesian(spark, sf_dir):
    """PSI reads only (ts, value) from the 6-column events table (its
    CartesianProduct count is checked with every query's, in
    ``test_plan_lint``)."""
    from kafka_streams_dexcom_spark.queries.temporal import (
        q_value_drift_psi,
    )

    read = scan_read_schema(q_value_drift_psi(spark, sf_dir))
    assert set(read) <= {"ts", "value"}, read


def test_dedup_cluster_stats_reads_artifacts_not_corpus(spark, sf_dir):
    """The audit query must plan against the two materialized artifacts
    (flat parquet scans), never re-shingle documents: no 'documents'
    relation and no md5/shingle expressions in its plan."""
    from kafka_streams_dexcom_spark.queries.dedup import (
        q_dedup_cluster_stats,
    )

    plan = explain_str(q_dedup_cluster_stats(spark, sf_dir))
    assert "documents.parquet" not in plan, plan


def test_gopher_rules_is_pure_scan(spark, sf_dir):
    """The rule filter stays a scan-side projection over the two columns
    it reads (no join and no aggregation exchange: golden counts)."""
    from kafka_streams_dexcom_spark.queries.text import q_gopher_rules

    assert scan_read_schema(q_gopher_rules(spark, sf_dir)) == [
        "doc_id",
        "text",
    ]


def test_shard_balance_broadcasts_total(spark, sf_dir):
    """64-key agg + broadcast single-row total (golden counts) over a
    2-column pruned scan."""
    from kafka_streams_dexcom_spark.queries.text import q_shard_balance

    read = scan_read_schema(q_shard_balance(spark, sf_dir))
    assert set(read) == {"doc_id", "n_chars"}, read


def test_corpus_readers_have_no_shuffle_before_python(spark, sf_dir):
    """The WARC/WebDataset/audio/video readers must feed payload bytes
    straight from the file scan into the Arrow stage — an Exchange
    before the Python node would shuffle payload bytes across the
    cluster for no reason."""
    from kafka_streams_dexcom_spark.queries.corpus import (
        _warc_fixture,
        _wds_fixture,
    )
    from kafka_streams_dexcom_spark.sources import corpus as cs
    import os

    warc = cs.read_warc(
        spark, os.path.join(_warc_fixture(spark, sf_dir), "*.warc.gz")
    )
    wds = cs.read_webdataset(
        spark, os.path.join(_wds_fixture(spark, sf_dir), "*.tar")
    )
    for df in (warc, wds):
        plan = explain_str(df)
        assert "Exchange" not in plan, plan
        assert "MapInPandas" in plan, plan


def test_metrics_unpivot_null_semantics(spark):
    """Round-13 (ADVICE): the keyless-profile rewrite's per-metric n is
    the plain row count, which equals the grouped original ONLY because
    DataFrame.unpivot retains null values (SQL UNPIVOT would drop
    them). The lineitem metric columns are never null, so the full
    parity runs exercise this implicitly — pin it explicitly over a
    null-bearing frame so an engine/API change can't silently diverge:
    n counts null rows, min/max/sum skip them (the UNION-ALL oracle
    semantics)."""
    from pyspark.sql import functions as F

    wide = spark.createDataFrame(
        [(1.0, None), (2.0, 5.0), (None, None)],
        "a double, b double",
    ).select(
        F.col("a").cast("decimal(15,2)").alias("a"),
        F.col("b").cast("decimal(15,2)").alias("b"),
    )
    # reference: the grouped unpivot form the rewrite replaced
    ref = {
        r["metric"]: r
        for r in (
            wide.unpivot([], ["a", "b"], "metric", "val")
            .groupBy("metric")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("val").cast("double").alias("min_val"),
                F.max("val").cast("double").alias("max_val"),
                F.sum("val").cast("double").alias("sum_val"),
            )
            .collect()
        )
    }
    # the rewrite's shape: one keyless pass, melt the single row
    prof = wide.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg(F.col(c)).alias(f"{tag}_{c}")
            for c in ("a", "b")
            for tag, agg in (("min", F.min), ("max", F.max), ("sum", F.sum))
        ],
    )
    new = {
        r["metric"]: r
        for r in prof.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("metric"),
                            F.col("n").alias("n"),
                            F.col(f"min_{c}").cast("double").alias("min_val"),
                            F.col(f"max_{c}").cast("double").alias("max_val"),
                            F.col(f"sum_{c}").cast("double").alias("sum_val"),
                        )
                        for c in ("a", "b")
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("n") > 0)
        .collect()
    }
    assert set(ref) == set(new) == {"a", "b"}
    for m in ref:
        # n counts the null rows too (3 for both metrics); min/max/sum
        # skip nulls (b: min=max=sum=5.0)
        assert ref[m]["n"] == new[m]["n"] == 3, (m, ref[m], new[m])
        for f in ("min_val", "max_val", "sum_val"):
            assert ref[m][f] == new[m][f], (m, f, ref[m], new[m])


def test_sales_rollup_expands_base_not_fact(spark, sf_dir):
    """Round-12 rework: rollup over the tiny (returnflag, linestatus)
    base — the Expand must sit ABOVE the base aggregation, not directly
    on the fact scan (where it tripled every lineitem row)."""
    from kafka_streams_dexcom_spark.queries.relational import (
        q_sales_rollup,
    )

    plan = explain_str(q_sales_rollup(spark, sf_dir))
    # Round-13 hardening (ADVICE): anchor on the numbered detail
    # blocks only — counting the tree-header spelling ("Expand (") vs
    # the detail spelling (") Expand") relied on 'formatted'-layout
    # quirks that an explain-format or AQE change would break
    # confusingly. One Expand detail block must exist, and its Input
    # must be the BASE aggregate's __n/__s outputs — never the raw
    # fact columns (the r12 rework's whole point).
    import re

    blocks = re.findall(
        r"\(\d+\) Expand\b[^(]*Input \[\d+\]: \[([^]]*)\]", plan
    )
    assert len(blocks) == 1, plan
    assert "__n" in blocks[0] and "__s" in blocks[0], plan
    assert "l_extendedprice" not in blocks[0], plan


def test_phash_index_stage_plan_shape(spark, tmp_path):
    """One PhashIndexMaintainer fold over planted fingerprints (batch 1
    probing the stored batch 0): the candidate + verify plan that feeds
    the label delta keeps its shape."""
    from pyspark.sql import functions as F

    from kafka_streams_dexcom_spark.streaming.phash_index import (
        PhashIndexMaintainer,
    )

    rows = [
        (3 * g + v, g, g + 7, g + 11, (g + 13) ^ (v == 2))
        for g in range(6)
        for v in range(3)
    ]
    fp = spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    m = PhashIndexMaintainer(spark, str(tmp_path / "idx"), lineage_id="q1")
    m(fp.filter(F.col("doc_id") % 2 == 0), 0)
    edges = []
    m._label_delta = lambda e, base: edges.append(e) or e
    m._stage(
        m._prepare(fp.filter(F.col("doc_id") % 2 == 1)),
        m.table.latest_version(),
    )
    shape = plan_shape(edges[0])
    assert {node: n for node, n in shape.items() if n} == {
        "Exchange": 4,
        "BroadcastHashJoin": 1,
        "Generate": 4,
        "HashAggregate": 4,
        "Window": 1,
    }
