"""Relational/aggregation queries over the TPC-H-ish tables.

These go beyond the reference's operator set (it has no aggregations,
SURVEY.md §2.5) and serve as the bench headliners: they exercise the
shuffle/broadcast/AQE machinery the 100 TB design depends on.

Float discipline for oracle parity: money sums go through DECIMAL(18,2|4)
per-row casts so the sum is exact (associative) in both engines, then back
to DOUBLE; averages of doubles are rounded to 6 decimals. This removes
summation-order nondeterminism between Spark and DuckDB (and between Spark
partitions run-to-run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_streams_dexcom_spark.functions.rounding import trunc6
from kafka_streams_dexcom_spark.sources.files import load_table

SHIPDATE_CUTOFF = "1998-09-02"


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with 8 aggregates.

    Scale: partial aggregation map-side (6 groups) means the shuffle moves
    ~6 rows per task regardless of input size — this is the canonical
    'aggregation is free, scan is the cost' query. Filter pushes to parquet.
    """
    l = load_table(spark, sf_dir, "lineitem")
    # decimal-first arithmetic: inputs have ≤2 decimal digits, so casting
    # them (not the computed doubles) to DECIMAL is exact, and the products/
    # sums are then exact in both engines — no rounding-mode divergence.
    # NOTE: joinshapes._rev_dec / REV_DEC_SQL is the canonical shared
    # form of this expression — use it for NEW queries; the inline
    # copies below predate it and are frozen with their oracles (their
    # intermediate decimal precisions differ slightly, all value-exact).
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc_price = ep * (F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)"))
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + F.col("l_tax").cast("decimal(3,2)"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit(SHIPDATE_CUTOFF).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            trunc6(F.avg("l_quantity")).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-10.

    Scale: customer is the small side → explicit broadcast avoids
    shuffling orders; top-k via orderBy+limit compiles to TakeOrdered
    (per-partition heaps + driver merge), never a global sort.
    Determinism: ranked by exact integer order count, custkey tiebreak;
    revenue is decimal-exact before the final double cast.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"),
                2,
            ).alias("revenue"),
        )
        .orderBy(F.col("n_orders").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of the streaming windowed
    agg): events per hour per type. The hour bucket is emitted as epoch
    microseconds so the oracle comparison is integer-exact."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts"))).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_value"),
        )
    )


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct cardinality per event_type (oracle-checked) — the
    truth the sketch below approximates."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregations for 100 TB interactive profiling:
    approx_count_distinct (HyperLogLog++) and percentile_approx
    (Greenwald-Khanna summaries). Raw sketch values are
    implementation-defined, so they can't be hash-compared across
    engines — but their ERROR BOUNDS are contractual. The query emits
    the exact distinct count (which the oracle recomputes independently)
    plus within-bounds flags: HLL within 3×rsd of exact, and each approx
    percentile inside a generous exact-percentile bracket. The flags are
    deterministic (HLL register merge is order-independent; GK results
    vary only within the rank-error bound, far inside the bracket), so
    the oracle asserts them as literal 1s — a documented bound check
    with a full hash match instead of the old rows-only row."""
    e = load_table(spark, sf_dir, "events")
    # Exact distinct count in its OWN aggregation (round 12, guide
    # §2.3): mixing countDistinct with buffer-heavy aggregates makes
    # Spark's distinct rewrite key the FIRST aggregation stage by
    # (event_type, user_id) — an HLL sketch, two percentile_approx GK
    # summaries and the exact-percentile buffer built and merged PER
    # USER (~40k sketch buffers at sf0.1; read the r12 before-plan).
    # Split out, the sketches aggregate classically per
    # (partition × event_type) — a few hundred buffers — and the
    # |event_types|-row exact count broadcast-joins back. Output
    # columns and values are unchanged.
    dist = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.percentile_approx("value", 0.5, 10_000).alias("ap50"),
        F.percentile_approx("value", 0.99, 10_000).alias("ap99"),
        # ONE exact-percentile aggregate for all three ranks: each
        # percentile() call buffers and sorts the group's values
        # independently, so the array form is ~3x cheaper (measured)
        F.expr("percentile(value, array(0.45D, 0.55D, 0.97D))").alias("px"),
        F.max("value").alias("vmax"),
    ).join(F.broadcast(dist), "event_type")
    agg = agg.select(
        "*",
        F.col("px").getItem(0).alias("p45"),
        F.col("px").getItem(1).alias("p55"),
        F.col("px").getItem(2).alias("p97"),
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("au") - F.col("n_users_exact"))
            <= F.lit(0.06) * F.col("n_users_exact")
        ).cast("int").alias("hll_ok"),
        (
            (F.col("ap50") >= F.col("p45")) & (F.col("ap50") <= F.col("p55"))
        ).cast("int").alias("p50_ok"),
        (
            (F.col("ap99") >= F.col("p97")) & (F.col("ap99") <= F.col("vmax"))
        ).cast("int").alias("p99_ok"),
    )


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window frame: 4-event moving sum/avg of value per user.
    Float discipline: the frame sum runs on DECIMAL (exact regardless of
    the engine's frame-evaluation strategy — DuckDB uses segment trees,
    Spark a running frame), divided as double and truncated."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, 0)
    )
    mov_sum = F.sum(F.col("value").cast("decimal(18,2)")).over(w)
    mov_cnt = F.count(F.lit(1)).over(w)
    return e.select(
        "event_id",
        "user_id",
        F.round(mov_sum.cast("double"), 2).alias("mov_sum"),
        trunc6(mov_sum.cast("double") / mov_cnt.cast("double")).alias(
            "mov_avg"
        ),
    )


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotal hierarchy over lineitem (returnflag → linestatus →
    grand total).

    Shape (round-12): aggregate to the (returnflag, linestatus) base
    FIRST, then rollup the tiny base table. A direct fact-side rollup
    Expands every input row ×3 before the partial aggregation (guide
    §2.3 "aggregate before you shuffle" — here, before you Expand);
    sums/counts re-aggregate exactly (DECIMAL sums of sums), so the
    subtotal rows are bit-identical."""
    l = load_table(spark, sf_dir, "lineitem")
    base = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("__s"),
    )
    return (
        base.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("__n").alias("n_items"),
            F.round(F.sum("__s").cast("double"), 2).alias("sum_price"),
        )
    )


HIST_BINS = 20


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values: global extent from a
    single-row broadcast aggregate, then a purely narrow binning pass —
    the two-pass profile-the-column primitive every 100 TB EDA session
    starts with (one scan for extent, one for counts; no sort, no
    per-bin shuffle beyond the bounded bin-count aggregate).

    Bin arithmetic is fixed-order double math on both engines; the max
    value clamps into the last bin. Degenerate extent (mn == mx, e.g. a
    constant column or a single row) is guarded to bin 0 on both sides —
    unguarded it divides by a zero width, where Spark and DuckDB
    NaN/Inf floor semantics can silently diverge."""
    e = load_table(spark, sf_dir, "events").select("value")
    ext = e.agg(
        F.min("value").alias("mn"), F.max("value").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(HIST_BINS))
    binned = (
        e.join(F.broadcast(ext), how="cross")
        .select(
            F.when(F.col("mx") == F.col("mn"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor((F.col("value") - F.col("mn")) / width),
                    F.lit(HIST_BINS - 1),
                )
            )
            .cast("bigint").alias("bin"),
            "mn",
            "mx",
        )
    )
    return (
        binned.groupBy("bin", "mn", "mx")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            trunc6(
                F.col("mn")
                + F.col("bin").cast("double")
                * ((F.col("mx") - F.col("mn")) / F.lit(float(HIST_BINS)))
            ).alias("bin_lo"),
            "n",
        )
    )


def q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS over the documents table: per (lang, source), per
    lang, per source, and the grand total in ONE pass (a single Expand +
    aggregate — four separate groupBys would scan the corpus four
    times). The curation dashboard query behind 'how much of each
    language does each source contribute'."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupingSets(
            [["lang", "source"], ["lang"], ["source"], []],
            "lang",
            "source",
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_numeric_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    columns — the single-pass profiling primitive (feature redundancy /
    sanity screen) done with exact arithmetic.

    ONE aggregation computes every moment (n, Σx, Σx², Σxy for all 6
    pairs) with DECIMAL sums of the ≤2-decimal inputs — exact and
    partition-order independent; correlations come out of the single
    moment row in fixed-order double math and unpivot to (col_a, col_b,
    corr) rows. One scan, one 1-row shuffle, at any data size."""
    l = load_table(spark, sf_dir, "lineitem")
    cols = list(CORR_COLS)
    dec = {c: F.col(c).cast("decimal(18,2)") for c in cols}
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec[c]).alias(f"s_{c}"))
        aggs.append(
            F.sum((dec[c] * dec[c]).cast("decimal(38,4)")).alias(f"ss_{c}")
        )
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum((dec[a] * dec[b]).cast("decimal(38,4)")).alias(
                f"sp_{a}_{b}"
            )
        )
    m = l.agg(*aggs)
    n = F.col("n").cast("double")

    def corr(a: str, b: str):
        sa = F.col(f"s_{a}").cast("double")
        sb = F.col(f"s_{b}").cast("double")
        num = n * F.col(f"sp_{a}_{b}").cast("double") - sa * sb
        da = n * F.col(f"ss_{a}").cast("double") - sa * sa
        db = n * F.col(f"ss_{b}").cast("double") - sb * sb
        return trunc6(num / F.sqrt(da * db))

    stack_args = ", ".join(
        f"'{a}', '{b}', corr_{a}_{b}" for a, b in pairs
    )
    row = m.select(
        *[corr(a, b).alias(f"corr_{a}_{b}") for a, b in pairs]
    )
    return row.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_a, col_b, corr)"
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct set algebra: users who purchased AND clicked but never
    errored (INTERSECT + EXCEPT)."""
    e = load_table(spark, sf_dir, "events")
    buyers = e.filter(F.col("event_type") == "purchase").select("user_id")
    clickers = e.filter(F.col("event_type") == "click").select("user_id")
    error_users = e.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(clickers).subtract(error_users)


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (customer ⋈ orders ⋈ lineitem) +
    aggregate + deterministic top-10 by exact decimal revenue.

    Scale: lineitem (the 100 TB side) joins last and never re-shuffles —
    customer filters broadcast into orders, the surviving orders
    broadcast into the lineitem scan when small enough, else AQE picks
    the shuffle join and skew-splits."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    revenue_exact = F.sum(ep * disc)
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue_exact, 2).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            # o_orderdate reads as TIMESTAMP_NTZ; session TZ is UTC so the
            # cast to TIMESTAMP is value-identity
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias(
                "o_orderdate_us"
            ),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join network (region → nation →
    customer/supplier → orders → lineitem) with the local-supplier
    constraint, aggregated per nation. The dimension chain broadcasts;
    only orders⋈lineitem can shuffle."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast("decimal(3,2)")
    return (
        r.filter(F.col("r_name") == "ASIA")
        .join(n, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(c, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(ep * disc), 2).cast("double").alias("revenue"))
    )


IDLE_SINCE = "1997-01-01"


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: lapsed customers — no order since IDLE_SINCE —
    per nation.

    Scale: the date filter pushes to the orders scan before the anti
    join, which shuffles on custkey (or broadcasts the distinct custkey
    set when it fits); the nation dimension broadcasts. The anti side
    only needs o_custkey + o_orderdate — column pruning keeps the probe
    narrow."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit(IDLE_SINCE).cast("timestamp_ntz")
    )
    return (
        c.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_idle_customers"),
            F.min("c_custkey").alias("first_idle_custkey"),
        )
    )


def q_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join: suppliers with at least one returned lineitem
    (l_returnflag = 'R'), counted per nation. The semi probe needs only
    l_suppkey + the pushed returnflag filter — at 100 TB the scan reads
    two columns and short-circuits on first match per key."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    returned = l.filter(F.col("l_returnflag") == "R")
    return (
        s.join(
            returned, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group join (TPC-H Q2 shape, via lineitem since the
    testdata has no partsupp): for each part, the supplier with the
    lowest observed unit price.

    Scale: min over a (price, suppkey) struct is a HASH aggregate with
    map-side partial combine — never a window sort over the 100 TB fact
    table; the tie-break is explicit in the struct field order. Both
    dimension joins broadcast."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    best = (
        l.select(
            "l_partkey",
            "l_suppkey",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit"),
        )
        .groupBy("l_partkey")
        .agg(
            F.min(
                F.struct(
                    F.col("unit").alias("u"),
                    F.col("l_suppkey").alias("sk"),
                )
            ).alias("b")
        )
    )
    return (
        best.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("b.sk") == F.col("s_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            F.col("s_name").alias("cheapest_supplier"),
            trunc6(F.col("b.u")).alias("unit_price"),
        )
    )


PROMO_MONTH = ("1997-06-01", "1997-07-01")

# Q19-shape disjunctive branches: (brand, max_size, qty_lo, qty_hi)
SPECIAL_BRANCHES = (
    ("Brand#12", 5, 1, 11),
    ("Brand#23", 10, 10, 20),
    ("Brand#3", 15, 20, 30),
)


def q_special_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    fact and dimension columns (brand x size x quantity branches).

    Scale: the disjunction's common hull is pushed to each side
    explicitly — lineitem scans only quantity ∈ [1,30] (reaches the
    parquet scan as a PushedFilter) and the part dimension pre-filters
    to the branch brands/sizes before broadcasting, so the join input is
    a sliver of both tables; the exact branch predicate then evaluates
    post-join in codegen. This mirrors what Catalyst's
    constraint-propagation cannot always derive from a raw OR — hull
    extraction is the standard hand-optimization for Q19 at scale."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    qty_lo = min(b[2] for b in SPECIAL_BRANCHES)
    qty_hi = max(b[3] for b in SPECIAL_BRANCHES)
    size_hi = max(b[1] for b in SPECIAL_BRANCHES)
    brands = [b[0] for b in SPECIAL_BRANCHES]
    lf = l.filter(F.col("l_quantity").between(qty_lo, qty_hi)).select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    pf = p.filter(
        F.col("p_brand").isin(brands)
        & F.col("p_size").between(1, size_hi)
    ).select("p_partkey", "p_brand", "p_size")
    branch = None
    for b, sz, lo, hi in SPECIAL_BRANCHES:
        c = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(1, sz)
            & F.col("l_quantity").between(lo, hi)
        )
        branch = c if branch is None else (branch | c)
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast(
        "decimal(3,2)"
    )
    return (
        lf.join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            F.round(F.sum(ep * disc), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type share of one month's revenue —
    broadcast dimension join + conditional aggregation into one row.

    Scale: the shipdate range predicate pushes to the lineitem scan
    (reads one month of a 100 TB table), part broadcasts, and the
    conditional sum folds map-side — the shuffle carries two decimal
    partials per task. Ratio arithmetic: exact decimal sums, divide as
    double, truncate."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ep = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.lit(1).cast("decimal(3,2)") - F.col("l_discount").cast(
        "decimal(3,2)"
    )
    rev = ep * disc
    lo, hi = PROMO_MONTH
    month = l.filter(
        (F.col("l_shipdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("l_shipdate") < F.lit(hi).cast("timestamp"))
    )
    zero_dec = F.lit(0).cast("decimal(38,4)")
    promo_dec = F.coalesce(
        F.sum(F.when(F.col("p_type") == "PROMO", rev)), zero_dec
    )
    total_dec = F.sum(rev)
    return (
        month.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            # round the DECIMAL, then cast: double-side rounding diverges
            # between engines on exact half-cent ties
            F.round(promo_dec, 2).cast("double").alias("promo_rev"),
            F.round(total_dec, 2).cast("double").alias("total_rev"),
            trunc6(
                F.lit(100.0)
                * promo_dec.cast("double")
                / total_dec.cast("double")
            ).alias("promo_pct"),
        )
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (correlated scalar subquery, decorrelated): yearly
    revenue from orders whose quantity is below 20% of that part's
    average — per brand.

    Scale: the correlated `avg(l_quantity) per part` becomes a groupBy
    on l_partkey re-joined to the fact rows; both the aggregate and the
    probe hash-partition on l_partkey, so AQE plans one exchange per
    side and the brand dimension broadcasts. The threshold is computed
    as double from an exact decimal sum, so the < comparison is
    bit-identical cross-engine."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    avg_q = (
        l.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty")
        )
        .withColumnRenamed("l_partkey", "t_partkey")
    )
    return (
        l.join(avg_q, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.lit(7.0),
                2,
            ).alias("avg_yearly"),
        )
    )


LATE_DAYS = 365
LATE_YEAR_START, LATE_YEAR_END = "1997-01-01", "1998-01-01"


def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (correlated EXISTS): orders placed in 1997 with at
    least one lineitem shipped more than LATE_DAYS after the order date,
    counted per order priority.

    Scale: the EXISTS decorrelates to a LEFT SEMI join on l_orderkey
    with the date comparison as a residual predicate — the probe side
    reads two lineitem columns, the date filter pushes into the orders
    scan, and the semi join short-circuits per key. No aggregation on
    the fact side at all."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    in_year = o.filter(
        (F.col("o_orderdate")
         >= F.lit(LATE_YEAR_START).cast("timestamp_ntz"))
        & (F.col("o_orderdate")
           < F.lit(LATE_YEAR_END).cast("timestamp_ntz"))
    )
    return (
        in_year.join(
            l,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXISTS + NOT EXISTS on the same fact): for
    finished orders, count per nation the late lineitems whose supplier
    was the ONLY late supplier on a multi-supplier order — the
    who-is-actually-holding-up-fulfilment query, and the hardest TPC-H
    join topology (semi and anti probes against two aliases of the same
    100 TB fact).

    Scale: the derived (orderkey, suppkey, late) projection is consumed
    from THREE plan branches (base + both probes), so it is materialized
    once with localCheckpoint — without the cut, Catalyst re-derives the
    lineitem->orders join per branch (verified in the physical plan; the
    same multi-branch hygiene as the graph operators). The projection is
    3 narrow columns, a tiny fraction of the fact table. Probes then
    join co-partitioned on l_orderkey; supplier/nation dims broadcast."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    fin = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    lo = (
        l.join(fin, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate")
                + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
            ).alias("late"),
        )
        # eager=False: the cut materializes on first ACTION, so plan
        # construction (plan_shapes.py, the plan-shape test, bench
        # build) stays free
        .localCheckpoint(eager=False)
    )
    base = lo.filter(F.col("late")).select("l_orderkey", "l_suppkey")
    others = lo.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    late_others = lo.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3_orderkey"),
        F.col("l_suppkey").alias("o3_suppkey"),
    )
    waiting = (
        base.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            late_others,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(
            F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


VALUE_SHARE_MULT = 1.5  # parts above 1.5x the mean part revenue


def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (HAVING against a global scalar subquery): parts
    whose revenue exceeds VALUE_SHARE_MULT times the mean part revenue
    (mean-relative, so the predicate is scale-invariant — a fixed share
    threshold empties out as the part count grows).

    Scale: the scalar total is a second aggregation over the same
    partial-combined per-part aggregate (never a second fact scan),
    broadcast as one row; the HAVING filter is then a narrow map over
    the per-part rows. Revenue sums are exact DECIMAL so the threshold
    comparison is bit-identical cross-engine; the double division
    happens only at the comparison/projection edge."""
    l = load_table(spark, sf_dir, "lineitem")
    rev = F.sum(
        (
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (
                F.lit(1).cast("decimal(3,2)")
                - F.col("l_discount").cast("decimal(3,2)")
            )
        ).cast("decimal(38,4)")
    )
    per_part = l.groupBy("l_partkey").agg(rev.alias("part_rev"))
    total = per_part.agg(
        F.sum("part_rev").cast("decimal(38,4)").alias("total_rev"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        per_part.join(F.broadcast(total), how="cross")
        .filter(
            F.col("part_rev").cast("double")
            > F.col("total_rev").cast("double")
            / F.col("n_parts").cast("double")
            * F.lit(VALUE_SHARE_MULT)
        )
        .select(
            "l_partkey",
            # round the DECIMAL, then cast: a double-side round diverges
            # between engines on exact half-cent ties (hit at sf0.1)
            F.round(F.col("part_rev"), 2).cast("double").alias("revenue"),
            trunc6(
                F.col("part_rev").cast("double")
                / F.col("total_rev").cast("double")
            ).alias("rev_share"),
        )
    )


BIG_ORDER_QTY = 300


def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (aggregate-then-join-back): orders whose total
    quantity exceeds BIG_ORDER_QTY, with customer and order detail.

    Scale: the HAVING aggregate runs first with map-side partial
    combine, shrinking the 100 TB fact to the handful of qualifying
    orderkeys; the joins back to orders and customer then probe with
    that small set (AQE converts them to broadcasts at runtime). Never
    join first and aggregate later."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    qty = (
        l.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias(
                "sum_qty"
            )
        )
        .filter(F.col("sum_qty") > BIG_ORDER_QTY)
    )
    return (
        qty.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "o_orderkey",
            "c_name",
            "o_orderdate",
            F.round(F.col("o_totalprice"), 2).alias("total_price"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
    )


DORMANT_SINCE = "1999-01-01"


def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (scalar-subquery threshold + anti join):
    customers with above-average positive balance and NO order since
    DORMANT_SINCE — the lapsed-high-value segment, rolled up per market
    segment.

    Scale: the average is computed from an exact DECIMAL sum (a double
    avg would be partition-order dependent and could flip boundary
    rows), broadcast as one row; the anti probe reads two orders
    columns with the date filter pushed into the scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_pos = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    recent = o.filter(
        F.col("o_orderdate") >= F.lit(DORMANT_SINCE).cast("timestamp_ntz")
    )
    return (
        c.join(F.broadcast(avg_pos), how="cross")
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_bal"),
        )
    )



def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint report over lineitem (operators/dq.py):
    row-local rules in one aggregate pass (null / range / set
    membership), unique-key via one distinct aggregate, referential
    integrity via a LEFT ANTI join against orders — the deequ-style
    publish gate, as a bounded (rule, violations) table."""
    from kafka_streams_dexcom_spark.operators import dq

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rowlocal = dq.rowlocal_violations(
        l,
        {
            "quantity_not_null": F.col("l_quantity").isNull(),
            "quantity_positive": F.col("l_quantity") <= 0,
            "discount_in_0_1": (F.col("l_discount") < 0)
            | (F.col("l_discount") > 1),
            "returnflag_in_set": ~F.col("l_returnflag").isin(
                "A", "N", "R"
            ),
            "ship_after_1990": F.col("l_shipdate")
            < F.lit("1990-01-01").cast("timestamp_ntz"),
        },
    )
    unique = dq.duplicate_key_violations(
        l, ["l_orderkey", "l_linenumber"], "orderkey_linenumber_unique"
    )
    ref = dq.orphan_violations(
        l, "l_orderkey", o, "o_orderkey", "orderkey_in_orders"
    )
    return rowlocal.unionByName(unique).unionByName(ref)


def q_salted_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation (functions/skew.py:salted_agg):
    per-user event count + exact value sum, with the hot key spread over
    16 salt reducers in phase 1 and a 16-row-per-key phase 2 — the
    explicit fix for skewed aggregations AQE can't split. The oracle is
    the PLAIN one-phase SQL: passing proves the salted decomposition is
    semantics-preserving (count/sum are algebraic; the DECIMAL sum keeps
    the two-phase reassociation exact)."""
    from kafka_streams_dexcom_spark.functions.skew import salted_agg

    e = load_table(spark, sf_dir, "events")
    out = salted_agg(
        e.select("user_id", "value"),
        ["user_id"],
        {
            "n_events": (F.count(F.lit(1)), F.sum("n_events")),
            "sum_dec": (
                F.sum(F.col("value").cast("decimal(18,2)")),
                F.sum("sum_dec"),
            ),
        },
        n_salts=16,
    )
    return out.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round(F.col("sum_dec").cast("double"), 2).alias("sum_value"),
    )


QUERIES = {
    "promo_revenue": q_promo_revenue,
    "special_revenue": q_special_revenue,
    "value_histogram": q_value_histogram,
    "corpus_rollup": q_corpus_rollup,
    "numeric_corr": q_numeric_corr,
    "small_quantity_revenue": q_small_quantity_revenue,
    "cheapest_supplier": q_cheapest_supplier,
    "idle_customers": q_idle_customers,
    "return_suppliers": q_return_suppliers,
    "shipping_priority": q_shipping_priority,
    "regional_revenue": q_regional_revenue,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "events_hourly": q_events_hourly,
    "distinct_users": q_distinct_users,
    "approx_sketches": q_approx_sketches,
    "moving_avg": q_moving_avg,
    "sales_rollup": q_sales_rollup,
    "set_ops": q_set_ops,
    "late_order_priorities": q_late_order_priorities,
    "sole_late_suppliers": q_sole_late_suppliers,
    "part_value_share": q_part_value_share,
    "big_orders": q_big_orders,
    "dormant_rich_customers": q_dormant_rich_customers,
    "salted_user_stats": q_salted_user_stats,
    "dq_report": q_dq_report,
}

ORACLES = {
    "dq_report": """
        SELECT 'quantity_not_null' AS rule,
               CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT)
                   AS violations FROM lineitem
        UNION ALL
        SELECT 'quantity_positive',
               CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'discount_in_0_1',
               CAST(count(*) FILTER (WHERE l_discount < 0
                                        OR l_discount > 1) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'returnflag_in_set',
               CAST(count(*) FILTER (
                   WHERE l_returnflag NOT IN ('A', 'N', 'R')) AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'ship_after_1990',
               CAST(count(*) FILTER (
                   WHERE l_shipdate < TIMESTAMP '1990-01-01') AS BIGINT)
        FROM lineitem
        UNION ALL
        SELECT 'orderkey_linenumber_unique',
               CAST(COALESCE(sum(n - 1) FILTER (WHERE n > 1), 0)
                   AS BIGINT)
        FROM (SELECT count(*) AS n FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'orderkey_in_orders',
               CAST(count(*) AS BIGINT)
        FROM lineitem l WHERE NOT EXISTS
            (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    """,
    "numeric_corr": """
        WITH m AS (
            SELECT count(*) AS n, sum(CAST(l_quantity AS DECIMAL(18,2))) AS s_l_quantity, sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_l_quantity, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s_l_extendedprice, sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_l_extendedprice, sum(CAST(l_discount AS DECIMAL(18,2))) AS s_l_discount, sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_l_discount, sum(CAST(l_tax AS DECIMAL(18,2))) AS s_l_tax, sum(CAST(CAST(l_tax AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS ss_l_tax, sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_quantity_l_extendedprice, sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_quantity_l_discount, sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_quantity_l_tax, sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_extendedprice_l_discount, sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_extendedprice_l_tax, sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_tax AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sp_l_discount_l_tax
            FROM lineitem
        )
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_quantity_l_extendedprice AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
        UNION ALL
        SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_quantity_l_discount AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
        UNION ALL
        SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_quantity_l_tax AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_quantity AS DOUBLE) - CAST(s_l_quantity AS DOUBLE) * CAST(s_l_quantity AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
        UNION ALL
        SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_extendedprice_l_discount AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
        UNION ALL
        SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_extendedprice_l_tax AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_extendedprice AS DOUBLE) - CAST(s_l_extendedprice AS DOUBLE) * CAST(s_l_extendedprice AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
        UNION ALL
        SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, floor((CAST(n AS DOUBLE) * CAST(sp_l_discount_l_tax AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_tax AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) * CAST(ss_l_discount AS DOUBLE) - CAST(s_l_discount AS DOUBLE) * CAST(s_l_discount AS DOUBLE)) * (CAST(n AS DOUBLE) * CAST(ss_l_tax AS DOUBLE) - CAST(s_l_tax AS DOUBLE) * CAST(s_l_tax AS DOUBLE))) * 1000000) / 1000000.0 AS corr FROM m
    """,
    "value_histogram": """
        WITH ext AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
        b AS (
            SELECT CAST(CASE WHEN mx = mn THEN 0
                        ELSE least(floor((value - mn) / ((mx - mn) / 20.0)),
                                   19) END AS BIGINT) AS bin, mn, mx
            FROM events CROSS JOIN ext
        )
        SELECT bin,
               floor((mn + CAST(bin AS DOUBLE) * ((mx - mn) / 20.0))
                     * 1000000) / 1000000.0 AS bin_lo,
               count(*) AS n
        FROM b GROUP BY bin, mn, mx
    """,
    "corpus_rollup": """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents
        GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
    "special_revenue": """
        SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))),
                   2) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "promo_revenue": f"""
        WITH m AS (
            SELECT CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2))
                      - CAST(l_discount AS DECIMAL(3,2))) AS rev,
                   p.p_type AS p_type
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE l.l_shipdate >= TIMESTAMP '{PROMO_MONTH[0]}'
              AND l.l_shipdate <  TIMESTAMP '{PROMO_MONTH[1]}'
        )
        SELECT CAST(round(COALESCE(sum(rev) FILTER (WHERE p_type = 'PROMO'),
                   CAST(0 AS DECIMAL(38,4))), 2) AS DOUBLE) AS promo_rev,
               CAST(round(sum(rev), 2) AS DOUBLE) AS total_rev,
               floor(100.0 * COALESCE(CAST(sum(rev)
                         FILTER (WHERE p_type = 'PROMO') AS DOUBLE), 0.0)
                     / CAST(sum(rev) AS DOUBLE) * 1000000) / 1000000.0
                   AS promo_pct
        FROM m
    """,
    "small_quantity_revenue": """
        WITH t AS (
            SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT p.p_brand AS p_brand,
               count(*) AS n_small,
               round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE) / 7.0, 2) AS avg_yearly
        FROM lineitem l
        JOIN t ON l.l_partkey = t.l_partkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity < 0.2 * t.avg_qty
        GROUP BY p.p_brand
    """,
    "cheapest_supplier": """
        WITH u AS (
            SELECT l_partkey, l_suppkey,
                   l_extendedprice / l_quantity AS unit
            FROM lineitem
        ),
        m AS (
            -- row_number argmin, NOT min(struct_pack(...)): DuckDB's
            -- struct-min aggregate degrades pathologically past ~100k
            -- groups (sf1 gate finding: minutes-vs-subsecond on 200k
            -- parts), and a struct-field join key falls off the hash
            -- join. Lexicographic (unit, sk) order is exactly Spark's
            -- min(struct(u, sk)).
            SELECT l_partkey, unit, l_suppkey
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY l_partkey ORDER BY unit, l_suppkey
                ) AS rn
                FROM u
            ) WHERE rn = 1
        )
        SELECT p.p_partkey, p.p_name,
               s.s_name AS cheapest_supplier,
               floor(m.unit * 1000000) / 1000000.0 AS unit_price
        FROM m
        JOIN part p ON m.l_partkey = p.p_partkey
        JOIN supplier s ON m.l_suppkey = s.s_suppkey
    """,
    "idle_customers": """
        SELECT n_name,
               count(*) AS n_idle_customers,
               min(c_custkey) AS first_idle_custkey
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
        )
        GROUP BY n_name
    """,
    "return_suppliers": """
        SELECT n_name, count(*) AS n_suppliers
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
        )
        GROUP BY n_name
    """,
    "shipping_priority": """
        SELECT o_orderkey,
               epoch_us(o_orderdate) AS o_orderdate_us,
               o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2))
                      - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE)
                   AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "regional_revenue": """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2))
                      - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE)
                   AS revenue
        FROM region
        JOIN nation ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
                     AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_qty,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_base_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))),
                   2) AS DOUBLE) AS sum_disc_price,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                   * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                   * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))),
                   2) AS DOUBLE) AS sum_charge,
               floor(avg(l_quantity) * 1000000) / 1000000.0 AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '{SHIPDATE_CUTOFF} 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_customers": """
        SELECT c_custkey, c_name, count(*) AS n_orders,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY n_orders DESC, c_custkey ASC
        LIMIT 10
    """,
    "events_hourly": """
        SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
               count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "distinct_users": """
        SELECT event_type, count(DISTINCT user_id) AS n_users
        FROM events
        GROUP BY event_type
    """,
    # sketch values are engine-specific; the contract being checked is
    # (a) the exact distinct count, recomputed here independently, and
    # (b) the Spark-side within-error-bound flags, which are
    # deterministically 1 when the sketches honor their documented bounds
    "approx_sketches": """
        SELECT event_type,
               count(DISTINCT user_id) AS n_users_exact,
               CAST(1 AS INTEGER) AS hll_ok,
               CAST(1 AS INTEGER) AS p50_ok,
               CAST(1 AS INTEGER) AS p99_ok
        FROM events
        GROUP BY event_type
    """,
    "moving_avg": """
        SELECT event_id, user_id,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                   AS DOUBLE), 2) AS mov_sum,
               floor(CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w
                   AS DOUBLE)
                   / CAST(count(*) OVER w AS DOUBLE) * 1000000)
                   / 1000000.0 AS mov_avg
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
        )
    """,
    "sales_rollup": """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items,
               round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                   AS DOUBLE), 2) AS sum_price
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "set_ops": """
        SELECT user_id FROM events WHERE event_type = 'purchase'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'click'
        EXCEPT
        SELECT user_id FROM events WHERE event_type = 'error'
    """,
    "late_order_priorities": f"""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '{LATE_YEAR_START}'
          AND o.o_orderdate < TIMESTAMP '{LATE_YEAR_END}'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate
                    + INTERVAL {LATE_DAYS} DAY
          )
        GROUP BY o_orderpriority
    """,
    "sole_late_suppliers": f"""
        WITH lo AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate
                       + INTERVAL {LATE_DAYS} DAY AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'
        ),
        waiting AS (
            SELECT b.l_orderkey, b.l_suppkey
            FROM lo b
            WHERE b.late
              AND EXISTS (
                  SELECT 1 FROM lo o2
                  WHERE o2.l_orderkey = b.l_orderkey
                    AND o2.l_suppkey != b.l_suppkey
              )
              AND NOT EXISTS (
                  SELECT 1 FROM lo o3
                  WHERE o3.l_orderkey = b.l_orderkey
                    AND o3.l_suppkey != b.l_suppkey
                    AND o3.late
              )
        )
        SELECT n_name, count(*) AS numwait
        FROM waiting
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "part_value_share": f"""
        WITH per_part AS (
            SELECT l_partkey,
                   sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                       * (CAST(1 AS DECIMAL(3,2))
                          - CAST(l_discount AS DECIMAL(3,2)))
                       AS DECIMAL(38,4))) AS part_rev
            FROM lineitem GROUP BY l_partkey
        ),
        total AS (
            SELECT CAST(sum(part_rev) AS DECIMAL(38,4)) AS total_rev,
                   count(*) AS n_parts
            FROM per_part
        )
        SELECT l_partkey,
               CAST(round(part_rev, 2) AS DOUBLE) AS revenue,
               floor(CAST(part_rev AS DOUBLE) / CAST(total_rev AS DOUBLE)
                     * 1000000) / 1000000.0 AS rev_share
        FROM per_part CROSS JOIN total
        WHERE CAST(part_rev AS DOUBLE)
              > CAST(total_rev AS DOUBLE) / CAST(n_parts AS DOUBLE)
                * {VALUE_SHARE_MULT}
    """,
    "big_orders": f"""
        WITH qty AS (
            SELECT l_orderkey,
                   sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {BIG_ORDER_QTY}
        )
        SELECT o_orderkey, c_name, o_orderdate,
               round(o_totalprice, 2) AS total_price,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM qty
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "dormant_rich_customers": f"""
        WITH avg_pos AS (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_mktsegment,
               count(*) AS n_customers,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                     AS DOUBLE), 2) AS total_bal
        FROM customer CROSS JOIN avg_pos
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= TIMESTAMP '{DORMANT_SINCE}'
          )
        GROUP BY c_mktsegment
    """,
    # plain one-phase SQL: equality proves the salted two-phase
    # decomposition in the Spark query is semantics-preserving
    "salted_user_stats": """
        SELECT user_id, count(*) AS n_events,
               round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
                     2) AS sum_value
        FROM events
        GROUP BY user_id
    """,
}


UNPIVOT_METRICS = (
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
)


def q_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt + per-metric profile: the four lineitem measure
    columns unpivoted into (metric, val) rows, then count/min/max/sum
    per metric — the one-pass column-profiling shape (the inverse of
    event_type_pivot, completing the pivot/unpivot API pair).

    Scale (round-12 rework, the sales_rollup lesson applied to the
    melt): Expanding the fact ×4 *before* the aggregation made every
    lineitem row cross the Expand and the partial aggregation as four
    rows (guide §2.3 "aggregate before you shuffle" — Expand IS the
    multiplier). The per-metric profile is really 16 independent
    column aggregates, so ONE keyless pass over the wide fact computes
    them map-side (a single 16-buffer row per partition, one 1-row
    shuffle) and the melt runs over the single profiled row — the
    Expand now multiplies 1 row, not the fact. Per-metric n is the
    plain row count (unpivot emits a row per metric per input row,
    null or not), and min/max/sum are per-column — identical rows.
    Determinism: values are ≤2-decimal inputs cast to DECIMAL *before*
    any arithmetic, so sums are exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.select(
        *[
            F.col(c).cast("decimal(15,2)").alias(c)
            for c in UNPIVOT_METRICS
        ]
    )
    prof = wide.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg(F.col(c)).alias(f"{tag}_{c}")
            for c in UNPIVOT_METRICS
            for tag, agg in (
                ("min", F.min),
                ("max", F.max),
                ("sum", F.sum),
            )
        ],
    )
    return prof.select(
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
                    for c in UNPIVOT_METRICS
                ]
            )
        ).alias("r")
    ).select("r.*").filter(
        # a keyless agg emits one row even over an EMPTY fact, where
        # the grouped original emits none — n>0 restores that exactly
        # (free on any non-empty input)
        F.col("n") > 0
    )


QUERIES["metrics_unpivot"] = q_metrics_unpivot

ORACLES["metrics_unpivot"] = """
    WITH base AS (
        SELECT CAST(l_quantity AS DECIMAL(15,2)) AS q,
               CAST(l_extendedprice AS DECIMAL(15,2)) AS ep,
               CAST(l_discount AS DECIMAL(15,2)) AS d,
               CAST(l_tax AS DECIMAL(15,2)) AS t
        FROM lineitem
    ),
    long AS (
                  SELECT 'l_quantity' AS metric, q AS val FROM base
        UNION ALL SELECT 'l_extendedprice', ep FROM base
        UNION ALL SELECT 'l_discount', d FROM base
        UNION ALL SELECT 'l_tax', t FROM base
    )
    SELECT metric,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(val) AS DOUBLE) AS min_val,
           CAST(max(val) AS DOUBLE) AS max_val,
           CAST(sum(val) AS DOUBLE) AS sum_val
    FROM long GROUP BY metric
"""
