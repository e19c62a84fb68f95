"""Relational-core catalog queries (SURVEY.md §2 C-proj/filter/join/agg/
window/sort/set + B4/B10 patterns).

Every query is declarative DataFrame API — Catalyst gets pushdown,
pruning, join selection; explicit ``broadcast()`` pins the dim-join
strategy the way a 100 TB plan needs it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .plans.strategies import gated_broadcast
from .functions.money import sum_cents_exact, to_cents
from .operators.relational import anti_join, broadcast_dim_join
from .operators.topk import top_k
from .sources.readers import local_frame
from .sources.testdata import load_table as _t


def _revenue_dec():
    """l_extendedprice * (1 - l_discount) in exact DECIMAL.

    Money math in decimal keeps aggregate results independent of
    partitioning/summation order — a double sum differs in final ulps
    between runs and engines, which breaks value-hash reproducibility.
    """
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    return price * (F.lit(1).cast("decimal(12,2)") - disc)


# DuckDB-side twin of _revenue_dec()
_REV_SQL = "CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))"


def _revenue_units():
    """l_extendedprice * (1 - l_discount) in exact integer 1e-4-dollar
    units (cents x percent) — same value as :func:`_revenue_dec` but on
    the codegen long fast path (see functions/money.py). Per-row product
    <= ~1.1e9; an int64 sum is safe per order / per partition, so
    corpus-scale totals must merge through DECIMAL (sum_cents_exact or
    an explicit decimal cast at the reduced grain)."""
    return to_cents("l_extendedprice") * (100 - to_cents("l_discount"))


# --------------------------------------------------------------------------
# Aggregation core
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)             AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
                                                                       AS sum_base_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000
                                                                       AS sum_disc_price,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))
                    * (100 + CAST(FLOOR(l_tax*100 + 0.5) AS BIGINT))) AS DOUBLE) / 1000000
                                                                       AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)  AS avg_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*)
                                                                       AS avg_price,
           CAST(SUM(CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 / COUNT(*)
                                                                       AS avg_disc,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → 8-agg hash aggregate → sort.

    Money aggregates run as exact integer cents on the codegen long
    fast path (see functions/money.py — sum(DECIMAL(12,2)) promotes
    past 18 digits into per-row BigDecimal, measured ~1.7x slower for
    the whole query), merged per-partition in DECIMAL(38,0) so the
    global total cannot overflow at 100 TB. Partial aggregation is
    map-side (6 group keys x partition id), so the shuffle moves ~6
    rows per input partition regardless of input size. Results are
    bit-identical to the DECIMAL form: integer arithmetic is exact and
    summation-order-free on both engines.
    """
    l = _t(spark, sf_dir, "lineitem")
    cents = to_cents("l_extendedprice")
    disc_bp = to_cents("l_discount")
    tax_bp = to_cents("l_tax")
    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    return sum_cents_exact(
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        ["l_returnflag", "l_linestatus"],
        int_sums={
            "sq": F.sum(F.col("l_quantity").cast("bigint")),
            "sbp": F.sum(cents),
            "sdp": F.sum(cents * (100 - disc_bp)),
            "sc": F.sum(cents * (100 - disc_bp) * (100 + tax_bp)),
            "sd": F.sum(disc_bp),
            "n": F.count(F.lit(1)),
        },
        final_exprs={
            "sum_qty": dbl("sq"),
            "sum_base_price": dbl("sbp") / 100,
            "sum_disc_price": dbl("sdp") / 10000,
            "sum_charge": dbl("sc") / 1000000,
            "avg_qty": dbl("sq") / dbl("n"),
            "avg_price": dbl("sbp") / 100 / dbl("n"),
            "avg_disc": dbl("sd") / 100 / dbl("n"),
            "count_order": F.col("n").cast("bigint"),
        },
        order_by=["l_returnflag", "l_linestatus"],
    )


@query(
    "q5_revenue_by_nation",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
           COUNT(DISTINCT o.o_orderkey) AS n_orders
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    ORDER BY revenue DESC, nation
    """,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: 5-table star join → revenue by nation (TPC-H Q5 shape).

    Shuffle analysis at 100 TB: lineitem is pre-aggregated to one row
    per order BEFORE any join — the shuffle on l_orderkey does partial
    map-side combine, the join input shrinks ~4x, and COUNT(DISTINCT
    o_orderkey) degenerates to a plain COUNT(*) (each order is one row),
    deleting the distinct's extra shuffle stage entirely. The remaining
    orders⋈customer join moves the already-reduced side; nation/region
    are broadcast, so the big side never reshuffles for them. Measured
    1.42s -> 1.16s at sf0.1. Mirrors the reference's code→name dim joins
    (I94_SAS_Labels_Descriptions.SAS:9-1036) at TPC-H shape.

    Round-11 width law (verdict task 1): both fact exchanges carry the
    footer-derived width (~4M rows/reducer, sources/pqmeta.py). The
    pre-agg runs SINGLE-STAGE on the widthed lineitem exchange — map-
    side combine is traded for a per-task hash state bounded by
    ~distinct-orders/width, because the unbounded final-agg hash (all
    orders over 32 session partitions) is exactly the q9 2048×
    UNABLE_TO_ACQUIRE_MEMORY class, while the raw-row exchange volume
    is bounded by width on every octave. Orders' hash build is bounded
    the same way.
    """
    from .sources.pqmeta import fact_width

    width = fact_width(spark, sf_dir, "lineitem")
    l = _t(spark, sf_dir, "lineitem").repartition(width, "l_orderkey")
    o = _t(spark, sf_dir, "orders").repartition(width, "o_orderkey")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    per_order = l.groupBy("l_orderkey").agg(F.sum(_revenue_units()).alias("__order_units"))
    # SHUFFLE_HASH on the orders side: both inputs are one-row-per-order
    # (orderkey unique — no skew possible), so the hash build is bounded
    # by partition sizing and the hint deletes BOTH sort passes a
    # sort-merge join would pay. Measured 7.97 s -> 5.88 s at 64× sf0.1.
    joined = (
        per_order.join(o.hint("SHUFFLE_HASH"), per_order.l_orderkey == o.o_orderkey)
        .join(gated_broadcast(sf_dir, c, "customer", key="c_custkey"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        # per-order units are int64 (bounded by order size); the corpus-
        # scale merge goes through DECIMAL(38,0) — overflow-free, and the
        # input here is already one row per order, so the slow decimal
        # path touches ~|orders| rows, not |lineitem|
        .agg(
            (F.sum(F.col("__order_units").cast("decimal(38,0)")).cast("double") / 10000).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), "nation")
    )


@query(
    "q3_top_orders",
    oracle="""
    SELECT o.o_orderkey,
           CAST(SUM(CAST(FLOOR(l_extendedprice*100 + 0.5) AS BIGINT)
                    * (100 - CAST(FLOOR(l_discount*100 + 0.5) AS BIGINT))) AS DOUBLE) / 10000 AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filter a dim, join fact, aggregate, global top-k.

    Carries the canonical Q3 selectivity predicates — ``o_orderdate <
    cutoff`` and ``l_shipdate > cutoff`` ("orders placed before, not yet
    shipped by, the date") — with the cutoff at this corpus's midpoint
    (synthetic dates span 1995-2001, so 1998-06-01 keeps ~52% of orders
    and ~50% of lineitems, the canonical shape's selectivity). Both
    predicates push down to the parquet scans, so the fact-fact shuffle
    carries roughly a quarter of the unfiltered rows.

    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject — only k
    rows per partition cross to the driver, never the full sort.
    """
    cutoff = F.lit("1998-06-01").cast("timestamp")
    # Round-11: the pinned width is FOOTER-SCALED (~4M rows/reducer),
    # not the fixed defaultParallelism it shipped with — a fixed width
    # is the 100 TB ceiling class the audit now flags (verdict task 1);
    # at small SF the law floors at the same parallelism, so the plan
    # (and the 128× race above) is unchanged there.
    from .sources.pqmeta import fact_width

    par = fact_width(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    # customer⋈orders broadcasts (filtered dim); the surviving orders
    # (~1/10 after segment × date filters) then SHUFFLE_HASH against
    # lineitem: the build side is the provably smaller filtered one and
    # orderkey is unique → no skew, so the hint deletes the sort of the
    # probe side. Measured 4.64 s -> 3.67 s at 64× sf0.1.
    #
    # The explicit by-key repartitions pin the exchange width: with
    # ENSURE_REQUIREMENTS exchanges AQE's byte-target coalesce shrinks
    # the join+agg stage below the core count (the groups-large trap,
    # SCALE.md §17, 4th instance — a JOIN this time). Measured at 128×:
    # 2.56 s -> 1.82 s, rows identical; raced against 5 alternatives
    # (runtime bloom semi-join 3.77 s, per-order pre-agg 4.63 s,
    # broadcast semi-reduce 4.99 s, pre-join units projection 3.25 s —
    # the join is selective, so computing revenue on the ~10× smaller
    # joined output beats narrowing the exchange — and unhinted AQE
    # 3.06 s).
    fo = c.join(o, c.c_custkey == o.o_custkey).repartition(par, "o_orderkey")
    lr = l.repartition(par, "l_orderkey")
    agg = (
        fo.hint("SHUFFLE_HASH")
        .join(lr, lr.l_orderkey == fo.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # per-order int64 units cannot overflow (bounded by order size);
        # one double division at the boundary
        .agg((F.sum(_revenue_units()).cast("double") / 10000).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )
    return top_k(agg, [F.col("revenue").desc(), F.col("o_orderkey")], 10)


@query(
    "agg_distinct_by_priority",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*)                  AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           ROUND(STDDEV_SAMP(o_totalprice), 2) AS sd_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def agg_distinct_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate + min/max/stddev in one grouped pass.

    Spark plans count(distinct) as a two-stage expand+agg — still fully
    parallel, no driver collect.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        )
        .orderBy("o_orderpriority")
    )


@query("agg_approx_distinct", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++) + approx percentiles — the sketches
    you reach for at 100 TB where exact distinct would shuffle every key.
    No oracle: sketch results are algorithm-specific (rows-only check);
    accuracy is asserted against exact counts in tests/test_relational.py.
    """
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.percentile_approx("l_extendedprice", [0.5, 0.95], 10000).alias("_pcts"),
        )
        # scalar columns at the boundary: the correctness harness sorts
        # every output column, and array cells are unhashable there
        .select(
            "l_returnflag",
            "approx_parts",
            F.element_at("_pcts", 1).alias("price_p50"),
            F.element_at("_pcts", 2).alias("price_p95"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_exact_percentiles",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           quantile_cont(l_quantity, 0.25) AS qty_p25,
           median(l_quantity) AS qty_med,
           quantile_cont(l_quantity, 0.75) AS qty_p75,
           quantile_cont(l_quantity, 0.9) AS qty_p90,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def agg_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped percentiles (linear interpolation, percentile_cont
    semantics) — the precise cousin of the approx sketch above. Exact
    percentile sorts within each group; safe when group counts are
    bounded, whereas the sketch is the 100 TB default. l_quantity holds
    integer values, so interpolated quartiles are exact binary fractions
    and both engines agree bit-for-bit.
    """
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.percentile("l_quantity", 0.25).alias("qty_p25"),
            F.median("l_quantity").alias("qty_med"),
            F.percentile("l_quantity", 0.75).alias("qty_p75"),
            F.percentile("l_quantity", 0.9).alias("qty_p90"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "rollup_returnflag_status",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
           SUM(l_quantity) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def rollup_returnflag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals with grouping_id to disambiguate NULLs."""
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum("l_quantity").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty", "n")
        .orderBy(F.col("gid"), F.col("l_returnflag").asc_nulls_first(), F.col("l_linestatus").asc_nulls_first())
    )


@query(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping sets — TWO-PHASE partial-cube form.

    A naive ``o.cube(a, b)`` Expands every fact row 4× (one copy per
    grouping set) before the hash aggregate — at 256× replica scale
    that's 384M extra rows through the exchange for a 35-row answer,
    and the entry sat at 15.8× vs the baseline (round-8 verdict,
    What's-wrong #1). The cube is distributive over partial sums, so
    phase 1 aggregates the fact to the (status, priority) grain —
    partial count + exact decimal sum, map-side combinable, ONE narrow
    exchange, no Expand — and phase 2 cubes the ~15-row aggregate,
    where the 4× Expand costs nothing. grouping_id/NULL-marker
    semantics are unchanged because the phase-1 grain IS the cube's
    finest cell; the oracle keeps the literal GROUP BY CUBE over base
    rows, so parity proves the equivalence every round.

    Phase 1 also runs on the q1/q14 integer-cents device (int64 partials
    at the (status, priority, partition) grain, DECIMAL merge, one
    double conversion at the boundary) instead of a decimal sum on the
    scan path. Races of record (BASELINE.md round 9, v6 replica, results
    bit-identical): old Expand form 1.152 s at 64× / 3.563 s at 256×;
    two-phase decimal 0.776 / 1.274 s; two-phase cents 0.781 s at 256×
    (4.6× total, ratio 15.8× → 3.41× vs the 0.229 s DuckDB oracle —
    the residual is the q1-class scan constant over 38.4M rows).
    """
    o = _t(spark, sf_dir, "orders")
    partial = o.groupBy(
        "o_orderstatus", "o_orderpriority", F.spark_partition_id().alias("__pid")
    ).agg(
        F.count(F.lit(1)).alias("n_p"),
        F.sum(to_cents("o_totalprice")).alias("cents_p"),
    )
    merged = partial.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.sum("n_p").alias("n_g"),
        F.sum(F.col("cents_p").cast("decimal(38,0)")).alias("cents_g"),
    )
    return (
        merged.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.sum("n_g").alias("n"),
            # exact-decimal rescale THEN one double cast (cast-then-divide
            # would double-round past 2^53 cents — round-9 review finding)
            (F.sum("cents_g") * F.lit("0.01").cast("decimal(2,2)"))
            .cast("double")
            .alias("total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
        .orderBy(F.col("gid"), F.col("o_orderstatus").asc_nulls_first(), F.col("o_orderpriority").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# Filters / projection
# --------------------------------------------------------------------------

@query(
    "filter_predicates_part",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_size, p_retailprice AS price,
           p_retailprice * 0.9 AS discounted
    FROM part
    WHERE p_size IN (5, 10, 15, 20)
      AND p_type LIKE '%A%'
      AND p_retailprice BETWEEN 910 AND 980
      AND p_brand IS NOT NULL
    ORDER BY p_partkey
    """,
)
def filter_predicates_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate family: IN / LIKE / BETWEEN / null test / boolean AND —
    all pushed into the parquet scan (PushedFilters in .explain)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(
            F.col("p_size").isin(5, 10, 15, 20)
            & F.col("p_type").like("%A%")
            & F.col("p_retailprice").between(910, 980)
            & F.col("p_brand").isNotNull()
        )
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_size",
            F.col("p_retailprice").alias("price"),
            (F.col("p_retailprice") * 0.9).alias("discounted"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


# --------------------------------------------------------------------------
# Windows
# --------------------------------------------------------------------------

@query(
    "window_rank_customers",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal AS acctbal,
             CAST(ROW_NUMBER() OVER w AS INT) AS rn,
             CAST(RANK() OVER w       AS INT) AS rnk,
             CAST(DENSE_RANK() OVER w AS INT) AS drnk,
             CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS INT) AS quartile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 5
    ORDER BY c_mktsegment, rn
    """,
)
def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window family: row_number / rank / dense_rank / ntile,
    top-5 per segment. One shuffle on the partition key only."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    ranked = (
        c.select("c_mktsegment", "c_custkey", F.col("c_acctbal").alias("acctbal"), "c_acctbal")
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .withColumn("rnk", F.rank().over(w).cast("int"))
        .withColumn("drnk", F.dense_rank().over(w).cast("int"))
        .withColumn("quartile", F.ntile(4).over(w).cast("int"))
    )
    return (
        ranked.filter(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "acctbal", "rn", "rnk", "drnk", "quartile")
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "window_running_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER cum AS DOUBLE) AS running_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER mov AS DOUBLE)
             / COUNT(*) OVER mov                                             AS moving_avg3,
           LAG(o_totalprice)  OVER ord AS prev_price,
           LEAD(o_totalprice) OVER ord AS next_price,
           FIRST_VALUE(o_totalprice) OVER cum AS first_price
    FROM orders
    WINDOW ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_running_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window family: running sum, moving average (rows frame),
    lag/lead/first_value per customer order history.

    Round-11 width law: the window exchange on o_custkey carries every
    order — footer-scaled width bounds each task's sort (the
    window_ratio class; repartition on the partition key satisfies the
    window's distribution, so no second exchange)."""
    from .sources.pqmeta import fact_width

    o = _t(spark, sf_dir, "orders").repartition(
        fact_width(spark, sf_dir, "orders"), "o_custkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, 0)
    mov = w.rowsBetween(-2, 0)
    price_dec = F.col("o_totalprice").cast("decimal(12,2)")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.sum(price_dec).over(cum).cast("double").alias("running_total"),
            (F.sum(price_dec).over(mov).cast("double") / F.count(F.lit(1)).over(mov)).alias("moving_avg3"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
            F.first("o_totalprice").over(cum).alias("first_price"),
        )
    )


@query(
    "window_running_skew_safe",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                  OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)                                        AS running_total,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT)                                        AS running_n
    FROM orders
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_running_skew_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running total via the distributed prefix-sum device
    (operators/prefix.py:keyed_running_sum) — the SKEW-SAFE twin of
    window_running_orders's cumulative columns.

    The plain form sorts each customer's whole history in one task; a
    hot key (celebrity user, template spam, null bucket — SCALE.md §27
    measures the shape) turns that task into the job's critical
    path, and salting can't rescue an order-dependent window. Here the
    hot key fans out over order-aligned date chunks: the per-key window
    runs over AT MOST ~44 chunk-total rows per key regardless of key
    heat, and the intra-chunk windows partition by (key, chunk). Same
    output bit-exact — the oracle is the PLAIN window SQL.

    100 TB: every stage's per-task work is bounded by chunk span or
    footer width, none by key frequency. (reference scope: capstone
    extension surface, BASELINE.json:6; SURVEY.md §2 C-window.)
    """
    from .operators.prefix import keyed_running_sum
    from .sources.pqmeta import fact_width

    o = _t(spark, sf_dir, "orders")
    # ~60-day chunks over the 1992–1998 order range → ~44 chunks
    chunk = F.floor(F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) / 60)
    out = keyed_running_sum(
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(12,2)").alias("__price"),
        ),
        key_cols=["o_custkey"],
        order_cols=["o_orderdate", "o_orderkey"],
        value_col="__price",
        chunk_expr=chunk,
        out_col="__run",
        n_col="__n",
        num_partitions=fact_width(spark, sf_dir, "orders"),
    )
    return out.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.col("__run").cast("double").alias("running_total"),
        F.col("__n").cast("bigint").alias("running_n"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


# --------------------------------------------------------------------------
# Set operations / semi / anti / outer joins
# --------------------------------------------------------------------------

@query(
    "set_ops_nations",
    oracle="""
    SELECT nationkey, 'both' AS op FROM
      (SELECT c_nationkey AS nationkey FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'customer_only' AS op FROM
      (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    ORDER BY op, nationkey
    """,
)
def set_ops_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over distinct key sets."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    both = c.intersect(s).withColumn("op", F.lit("both"))
    cust_only = c.subtract(s).withColumn("op", F.lit("customer_only"))
    return both.unionByName(cust_only).orderBy("op", "nationkey")


@query(
    "anti_semi_customers",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_without_orders,
           CAST(SUM(CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c.c_custkey = o.o_custkey
    GROUP BY n.n_name
    ORDER BY nation
    """,
)
def anti_semi_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join: customers with vs without orders, per nation.

    Built from actual left_semi / left_anti joins (EXISTS / NOT EXISTS
    physical forms — the probe side streams, no row duplication).

    Round-9 plan fix (256× sweep: 7.3 s / 55× — the orders fact was
    scanned AND key-shuffled twice, once per join): existence tests
    only see the distinct key set, so the orders side collapses to
    ``select(o_custkey).distinct()`` FIRST — the map-side partial
    distinct reduces 38.4M rows to ≤|customers| per partition, the
    exchange carries only the distinct keys, and the dim-sized result
    joins into BOTH the semi and the anti join (customer never
    shuffles at all; Spark reuses the one distinct subplan for both
    consumers). No broadcast HINT: the distinct set is bounded by the
    CUSTOMER dim here, but it is fact-derived — AQE broadcasts it at
    runtime when it is actually small and degrades to a shuffle join
    when a deployment's key domain is fact-sized, instead of forcing
    an unbounded build (round-9 review finding). Law: a semi/anti
    probe against a fact is a distinct-key problem, never a
    fact-shuffle problem. Clean 256× race: 7.3 → 0.97 s (BASELINE.md
    Round 9); the residual vs the 0.13 s oracle is the q1-class scan
    constant over 38.4M order keys.
    """
    c = _t(spark, sf_dir, "customer")
    o_keys = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    n = _t(spark, sf_dir, "nation")
    without = anti_join(c, o_keys, "c_custkey").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_without_orders"))
    with_ = c.join(o_keys, "c_custkey", "left_semi").groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n_with_orders"))
    per_nation = (
        c.select("c_nationkey")
        .distinct()
        .join(without, "c_nationkey", "left")
        .join(with_, "c_nationkey", "left")
        .na.fill(0, ["n_without_orders", "n_with_orders"])
    )
    return (
        broadcast_dim_join(per_nation, n, condition=per_nation.c_nationkey == n.n_nationkey, how="inner")
        .select(F.col("n_name").alias("nation"), "n_without_orders", "n_with_orders")
        .orderBy("nation")
    )


@query(
    "outer_join_order_counts",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))), 0) AS DOUBLE) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY c.c_custkey
    """,
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + grouped agg with null-to-zero coalesce.

    Round-7 plan fix (straggler sweep: 8.4 s at 64×): the literal
    join-then-aggregate shuffles every ORDER row on custkey and then
    re-shuffles the joined fact to group — the fact crosses the wire
    twice wearing customer columns. Aggregating orders FIRST collapses
    the fact to one row per customer with map-side partial combine
    doing most of the work before any exchange, and the outer join
    runs at customer cardinality (the q18 agg-then-join lever, applied
    to the outer-join-histogram shape). Identical semantics: COUNT over
    an empty group is 0 → coalesce after the left join. At 100 TB the
    join is customers × customers-with-orders — both agg-shrunk, never
    the raw fact.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("__n"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("__s"),
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("__s"), F.lit(0).cast("decimal(12,2)"))
            .cast("double")
            .alias("total_spent"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "full_outer_nation_presence",
    oracle="""
    SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
           COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust FROM customer GROUP BY 1) c
    FULL JOIN (SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp FROM supplier GROUP BY 1) s
      ON c.nationkey = s.nationkey
    ORDER BY nationkey
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two grouped sides with coalesced keys."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.nationkey == s.nationkey, "full_outer")
        .select(
            F.coalesce(c.nationkey, s.nationkey).alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


@query(
    "pivot_year_status",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS "O",
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS "F",
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS "P"
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def pivot_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with pinned value list (single pass, stable schema)."""
    from .operators.pivot import pivot_wide

    o = _t(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate").cast("int"))
    wide = pivot_wide(o, ["order_year"], "o_orderstatus", ["O", "F", "P"], "o_orderkey", agg="count")
    return wide.select(
        "order_year",
        *[F.coalesce(F.col(f"`{s}`"), F.lit(0)).alias(s) for s in ("O", "F", "P")],
    ).orderBy("order_year")


@query(
    "agg_conditional_family",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_large,
           bool_and(l_quantity > 0) AS all_positive,
           bool_or(l_discount > 0.05) AS any_big_discount,
           (MAX(struct_pack(p := l_extendedprice, k := l_orderkey))).k AS max_price_orderkey,
           (MAX(struct_pack(p := l_extendedprice, k := l_orderkey))).p AS max_price
    FROM lineitem
    GROUP BY 1 ORDER BY 1
    """,
)
def agg_conditional_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/boolean aggregate family: count_if (FILTER clause),
    bool_and / bool_or, and a DETERMINISTIC argmax — max over a
    (measure, tiebreak-key) struct compares lexicographically, so ties
    on the measure resolve by key instead of by partition arrival order
    (the trap in max_by/arg_max at scale: re-planning changes the
    answer). One hash aggregate, all JVM-side.
    """
    l = _t(spark, sf_dir, "lineitem")
    argmax = F.max(
        F.struct(F.col("l_extendedprice").alias("p"), F.col("l_orderkey").alias("k"))
    )
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 25).alias("n_large"),
            F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
            F.bool_or(F.col("l_discount") > 0.05).alias("any_big_discount"),
            argmax.getField("k").alias("max_price_orderkey"),
            argmax.getField("p").alias("max_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "unpivot_year_status",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def unpivot_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide year × status table from pivot_year_
    status back to long form via ``DataFrame.unpivot`` — the wide→long
    reshape (B9's inverse). Round-tripping through the pivot proves the
    pair is lossless; zero-count cells (pivot fills 0) are dropped to
    match the long form, where absent combinations have no row.
    """
    from .operators.pivot import pivot_wide

    o = _t(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate").cast("int"))
    wide = pivot_wide(o, ["order_year"], "o_orderstatus", ["O", "F", "P"], "o_orderkey", agg="count")
    filled = wide.select(
        "order_year",
        *[F.coalesce(F.col(f"`{s}`"), F.lit(0)).alias(s) for s in ("O", "F", "P")],
    )
    return (
        filled.unpivot("order_year", ["O", "F", "P"], "o_orderstatus", "n_orders")
        .filter(F.col("n_orders") > 0)
        .orderBy("order_year", "o_orderstatus")
    )


@query(
    "skew_salted_agg",
    oracle="""
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY l_suppkey
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py): partial agg on
    (key, salt) spreads a hot key over 16 reducers, final agg merges —
    exactly the plain GROUP BY\'s result, which is what the oracle
    computes. The static fix for agg skew AQE does not cover
    (reference-motivated: hot NYC/LOS port keys,
    I94_SAS_Labels_Descriptions.SAS:302-963).
    """
    from .operators.skew import salted_aggregate

    l = _t(spark, sf_dir, "lineitem").withColumn(
        "price_dec", F.col("l_extendedprice").cast("decimal(12,2)")
    )
    out = salted_aggregate(
        l,
        ["l_suppkey"],
        {
            "n": ("count", "l_orderkey"),
            "total": ("sum", "price_dec"),
            "min_qty": ("min", "l_quantity"),
            "max_qty": ("max", "l_quantity"),
        },
        buckets=16,
    )
    return out.select(
        "l_suppkey", "n", F.col("total").cast("double").alias("total"), "min_qty", "max_qty"
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "range_join_price_bands",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('900s', 900.0, 925.0), ('925s', 925.0, 950.0),
             ('950s', 950.0, 975.0), ('975s', 975.0, 1000.0)
    )
    SELECT b.band, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(MIN(p.p_retailprice), 2) AS min_price,
           ROUND(MAX(p.p_retailprice), 2) AS max_price
    FROM part p JOIN bands b ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
    GROUP BY b.band ORDER BY b.band
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join as an EQUI-join via bucketization (operators/
    rangejoin.py): points and intervals meet on a quantized bucket id,
    then the exact BETWEEN predicate filters — no nested-loop join, so
    the plan survives when neither side broadcasts. Oracle does the
    naive theta join (same result).
    """
    from .operators.rangejoin import point_interval_join

    p = _t(spark, sf_dir, "part")
    bands = local_frame(
        spark,
        [("900s", 900.0, 925.0), ("925s", 925.0, 950.0),
         ("950s", 950.0, 975.0), ("975s", 975.0, 1000.0)],
        "band string, lo double, hi double",
    )
    joined = point_interval_join(p, bands, "p_retailprice", "lo", "hi", bucket_width=25.0)
    return (
        joined.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.min("p_retailprice"), 2).alias("min_price"),
            F.round(F.max("p_retailprice"), 2).alias("max_price"),
        )
        .orderBy("band")
    )


@query(
    "cross_join_nation_region",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           (n.n_regionkey = r.r_regionkey) AS is_home
    FROM nation n CROSS JOIN region r
    ORDER BY nation, region
    """,
)
def cross_join_nation_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit theta/cross join (C-join): small×small Cartesian with a
    derived predicate column. Intentional nested-loop — the only join
    shape where one is acceptable, and only because both sides are
    dimension-sized (the cost model in SCALE.md §2 forbids it on facts).
    """
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.crossJoin(r)
        .select(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            (F.col("n_regionkey") == F.col("r_regionkey")).alias("is_home"),
        )
        .orderBy("nation", "region")
    )


@query(
    "set_ops_multiset",
    oracle="""
    WITH counted AS (
      SELECT flag, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT 'intersect_all' AS flag FROM (
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        )
        UNION ALL
        SELECT 'except_all' FROM (
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'
          EXCEPT ALL
          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        )
      ) GROUP BY flag
    )
    SELECT f.flag, COALESCE(c.n, 0) AS n
    FROM (VALUES ('except_all'), ('intersect_all')) AS f(flag)
    LEFT JOIN counted c ON c.flag = f.flag
    ORDER BY f.flag
    """,
)
def set_ops_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set ops (intersectAll / exceptAll): duplicate-preserving
    semantics — each key participates min(m,n) / max(m−n,0) times, vs
    the distinct forms in set_ops_nations.

    Round-8 rewrite (the last live >2× curve entry, 3.09× at 256×):
    INTERSECT ALL / EXCEPT ALL are DEFINED by per-key multiplicities —
    min(m,n) and max(m−n,0) — and this entry emits only the two corpus
    totals, so the counts are computed directly from one partial-
    aggregable groupBy(l_suppkey) with conditional counts, then a tiny
    global sum: ONE exchange carrying |suppliers| rows, no row
    replication. The replaced plan (DataFrame intersectAll/exceptAll,
    which Spark executes as count-per-side + generate-replicate) paid
    the replicate twice and measured 12.0 s / 3.09× at 256×; race of
    record (BASELINE.md round 8, 64× replica, same session, results
    bit-identical): old 4.17 s vs new 0.60 s — 6.9×. Clean-box
    crossover at 64×: 0.593 s = 0.34× vs DuckDB (Spark faster). The
    operator itself stays covered — tests/test_operators.py pins
    DataFrame intersectAll/exceptAll row-level semantics against this
    aggregate form. The DuckDB oracle keeps the literal INTERSECT ALL /
    EXCEPT ALL SQL, so parity proves the equivalence every round.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
    )
    per_key = l.groupBy("l_suppkey").agg(
        F.count(F.when(F.col("l_returnflag") == "A", 1)).alias("ca"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("cr"),
    )
    # coalesce: an empty input yields one all-NULL agg row; the oracle's
    # unconditional VALUES join emits n=0 for an empty branch, so match it.
    totals = per_key.agg(
        F.coalesce(F.sum(F.least("ca", "cr")), F.lit(0)).cast("bigint").alias("i_all"),
        F.coalesce(
            F.sum(F.greatest(F.col("ca") - F.col("cr"), F.lit(0))), F.lit(0)
        ).cast("bigint").alias("e_all"),
    )
    return totals.selectExpr(
        "stack(2, 'except_all', e_all, 'intersect_all', i_all) AS (flag, n)"
    ).orderBy("flag")


@query(
    "null_handling_family",
    oracle="""
    WITH joined AS (
      SELECT c.c_custkey, o.o_totalprice
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderstatus = 'P'
    )
    SELECT c_custkey,
           COALESCE(o_totalprice, 0.0) AS price_filled,
           (o_totalprice IS NULL) AS was_null,
           CASE WHEN o_totalprice IS NULL THEN 'missing' ELSE 'present' END AS status,
           IFNULL(o_totalprice, -1.0) AS price_or_neg1
    FROM joined
    ORDER BY c_custkey, price_filled
    """,
)
def null_handling_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling family (B1-adjacent): na.fill / coalesce / isNull /
    when-otherwise over outer-join-produced nulls."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    joined = c.join(o, c.c_custkey == o.o_custkey, "left").select("c_custkey", "o_totalprice")
    return (
        joined.select(
            "c_custkey",
            F.coalesce("o_totalprice", F.lit(0.0)).alias("price_filled"),
            F.col("o_totalprice").isNull().alias("was_null"),
            F.when(F.col("o_totalprice").isNull(), "missing").otherwise("present").alias("status"),
            F.ifnull(F.col("o_totalprice"), F.lit(-1.0)).alias("price_or_neg1"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    SELECT p.p_partkey, s.s_name, CAST(ps.cost AS DOUBLE) AS cost
    FROM part p
    JOIN (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(12,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ) ps ON ps.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE ps.cost = (
      SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(12,2)))
      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey
    )
    ORDER BY p.p_partkey, s.s_name
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each part, the
    supplier(s) offering its minimum price. Catalyst rewrites the
    correlation into an aggregate + join; expressed here directly as the
    decorrelated form (min-per-part joined back), the plan you want at
    scale either way.

    Round-7 counter-measurement: an explicit repartition(pk) up front
    (to reuse one exchange across all three pk-clustered stages) was
    measured NO FASTER (5.7 vs 5.3 s at 64×) — it shuffles RAW fact
    rows before the partial aggregate, defeating map-side combine,
    which costs more than the re-exchange it saves.

    Round-8 rewrite: the min-per-part + join-back pair is replaced by
    ONE window over the aggregated (partkey, suppkey) grain —
    min(cost) OVER (PARTITION BY l_partkey) then filter cost == min.
    Same tie semantics (every supplier at the part minimum survives),
    but the plan drops from three post-aggregate exchanges (re-agg to
    pk, plus both join inputs hashed to pk) to one: the (pk,sk) rows
    re-exchange to pk once and the min + filter happen in place.
    Races of record (BASELINE.md round 8, same session, results
    bit-identical each time): join-back 6.13 s vs window 4.86 s at
    64× (1.26×); at 256× join-back 11.36 s vs decimal-window 9.58 s vs
    THIS form — min over integer cents on the codegen long path (the
    q1 lesson applied to q2's heavy partial aggregate) — 6.66 s
    (another 1.25×). cents/100 crosses to double exactly once, a
    correctly-rounded conversion of the same 2-decimal rational the
    oracle's DECIMAL→DOUBLE cast rounds — identical by construction.
    256× ratio 2.62× falling, BASELINE.md.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    per_supp = l.groupBy("l_partkey", "l_suppkey").agg(
        F.min(to_cents("l_extendedprice")).alias("cost_c")
    )
    # Round-11 width law: the window's re-exchange of the (pk, sk)
    # grain to pk happens either way (the agg output is hashed on the
    # pair) — the repartition only PINS its width, costing nothing
    # extra. Pairs ≈ suppliers-per-part × |part|, so the part footer at
    # 1M rows/task meters ~4M exchanged pairs per reducer; a
    # session-width window sort on an SF-proportional grain is the q9
    # OOM class. The agg itself keeps its map-side combine.
    from .sources.pqmeta import fact_width

    per_supp = per_supp.repartition(
        fact_width(spark, sf_dir, "part", rows_per_task=1_000_000), "l_partkey"
    )
    w_part = Window.partitionBy("l_partkey")
    winners = per_supp.withColumn(
        "min_c", F.min("cost_c").over(w_part)
    ).filter(F.col("cost_c") == F.col("min_c"))
    return (
        winners.join(gated_broadcast(sf_dir, p, "part", key="p_partkey"), winners.l_partkey == p.p_partkey)
        .join(gated_broadcast(sf_dir, s, "supplier", key="s_suppkey"), winners.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey", "s_name",
            (F.col("cost_c").cast("double") / 100.0).alias("cost"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "q14_conditional_ratio",
    oracle="""
    SELECT CAST(YEAR(l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CASE WHEN p.p_type IN ('PROMO', 'ECONOMY')
                 THEN CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                 ELSE 0 END) * 100 AS DOUBLE)
           / CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                      * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
                  AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1 ORDER BY 1
    """,
)
def q14_conditional_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation ratio (promo revenue
    share per ship year). One join + one pass; the CASE keeps it a
    single aggregate instead of two scans.

    Round-7 rewrite onto the q1 integer-units fast path: the decimal
    form (`_revenue_dec()`) pays a per-row Decimal128 multiply chain
    and measured 10× the baseline at 256× (11.6 s); `_revenue_units()`
    is the SAME rational value in exact 1e-4-dollar longs on the
    whole-stage-codegen path (the 1e4 scale cancels in the ratio).
    Round 8 closes the overflow ceiling the round-7 form carried: a
    flat int64 sum of ~1.1e9-unit rows per year-group hits 9.2e18
    around sf~90 (ANSI raises — loud, but a real 100 TB ceiling the
    DuckDB HUGEINT oracle does not share). The sums now run through
    `sum_cents_exact`: int64 partials per (year, input-partition) stay
    on the codegen long path and are bounded by partition size, the
    per-year merge is DECIMAL(38,0) — exact at any scale. Exactness
    contract (FLOATS.md "one rounding per operand"): both merged sums
    are exact integers, ×100 happens in exact DECIMAL arithmetic, and
    each operand crosses to double exactly once as a correctly-rounded
    conversion — bit-identical to the oracle's HUGEINT path.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    units = _revenue_units()
    promo = F.when(F.col("p_type").isin("PROMO", "ECONOMY"), units).otherwise(
        F.lit(0).cast("bigint")
    )
    j = l.join(gated_broadcast(sf_dir, p, "part", key="p_partkey"), l.l_partkey == p.p_partkey).select(
        F.year("l_shipdate").cast("int").alias("ship_year"),
        units.alias("__units"),
        promo.alias("__promo"),
    )
    return sum_cents_exact(
        j,
        ["ship_year"],
        {"__promo_sum": F.sum("__promo"), "__units_sum": F.sum("__units")},
        {
            "promo_revenue_pct": (
                (F.col("__promo_sum") * F.lit(100)).cast("double")
                / F.col("__units_sum").cast("double")
            )
        },
        order_by=["ship_year"],
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, agg.total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
    ) agg ON agg.l_orderkey = o.o_orderkey
    ORDER BY agg.total_qty DESC, o.o_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate as a semi-join driver —
    aggregate lineitem FIRST (the big side shrinks to qualifying order
    keys), then join the small survivors to orders/customer. Order of
    operations is the scale lever: agg-then-join shuffles qualifying
    keys only.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "total_qty")
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "q7_bilateral_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE cn.n_name IN ('NATION_0', 'NATION_1') AND sn.n_name IN ('NATION_0', 'NATION_1')
      AND cn.n_name <> sn.n_name
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q7_bilateral_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — the same dimension table
    joined TWICE under different roles (customer nation vs supplier
    nation), with a cross-filter. Self-join aliasing + two broadcasts of
    the same tiny dim.

    Round-9 plan fix (256× sweep: 8.6 s / 10× clean): the declared-order
    plan ran the lineitem⋈orders exchange on the FULL 192M-row fact
    pair and applied the ~0.3%-selective nation filter only afterwards —
    Catalyst pushes the IN-filters into the nation dim scans but will
    not reorder a fact-fact join ahead of broadcast joins without CBO
    stats. Each fact side now prunes through its own filtered broadcast
    dim chain FIRST (orders ⋈ 2-nation customers, lineitem ⋈ 2-nation
    suppliers: ~8% survive each side), so the fact-fact exchange
    carries ~15M rows instead of 192M. Same joins, same filter — the
    cross-filter (cn≠sn) stays post-join on the 2×2 name pairs.
    Clean 256× race: 8.58 → 2.72 s, ratio 10.1× → 3.2× (BASELINE.md
    Round 9); the residual is two fact scans + the pruned exchange.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    nations = ["NATION_0", "NATION_1"]
    cn = n.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = n.filter(F.col("n_name").isin(nations)).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # c2/s2 are 2-nation slices of DIMS (8% of customer/supplier) —
    # measured: without a broadcast hint the static planner (no stats
    # through the filtered join) shuffles lineitem on suppkey before AQE
    # can convert, 2.72 → 4.22 s at 256×. But the build side is
    # SF-PROPORTIONAL, so the hint is SIZE-GATED (round-9 ADVICE: a
    # forced unbounded build OOMs past the executor broadcast budget
    # instead of degrading): estimate slice rows from parquet FOOTERS
    # (dim_rows × 2/|nation|, zero Spark jobs) at a conservative
    # 64 B/row hash-relation footprint, and hint only under a 256 MB
    # budget. Past the gate the join ships hint-free and AQE picks the
    # strategy — the same degradation path as anti_semi_customers.
    from .sources.pqmeta import parquet_row_count

    budget = 256 << 20

    def gated(df2, dim_table):
        # footer probe unreadable (remote FS) → NO hint: AQE decides,
        # the safe degradation (never force an unsized build)
        try:
            n_nations = max(1, parquet_row_count(f"{sf_dir}/nation.parquet"))
            est = parquet_row_count(f"{sf_dir}/{dim_table}.parquet") * 2 // n_nations * 64
        except (OSError, ValueError):
            return df2
        return F.broadcast(df2) if est < budget else df2

    c2 = c.join(F.broadcast(cn), c.c_nationkey == cn.cn_key).select(
        "c_custkey", "cust_nation"
    )
    s2 = s.join(F.broadcast(sn), s.s_nationkey == sn.sn_key).select(
        "s_suppkey", "supp_nation"
    )
    # Round-11 width law: the surviving fact-fact exchange (pruned
    # lineitem ⋈ pruned orders on orderkey) carries the footer-derived
    # width — applied AFTER the 2-nation prunes so only survivors cross,
    # shared by both sides so the join adds no extra exchange (q9's
    # device; a session-width SMJ sorter here is the 2048× OOM class).
    from .sources.pqmeta import fact_width

    width = fact_width(spark, sf_dir, "lineitem")
    o_pruned = o.join(gated(c2, "customer"), o.o_custkey == c2.c_custkey).select(
        "o_orderkey", "cust_nation"
    ).repartition(width, "o_orderkey")
    l_pruned = l.join(gated(s2, "supplier"), l.l_suppkey == s2.s_suppkey).select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount", "supp_nation"
    ).repartition(width, "l_orderkey")
    joined = l_pruned.join(o_pruned, l_pruned.l_orderkey == o_pruned.o_orderkey).filter(
        F.col("cust_nation") != F.col("supp_nation")
    )
    return (
        joined.groupBy(
            "cust_nation", "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year")
        )
        .agg(F.sum(_revenue_dec()).cast("double").alias("volume"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "q22_idle_rich_customers",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY 1 ORDER BY 1
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance (uncorrelated scalar
    subquery → one broadcast literal) AND no urgent orders (anti join
    against a filtered fact) — the classic "lost opportunity" filter.
    (Every synthetic customer has SOME order, so the anti join targets
    the urgent subset to select a real population.)
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    n = _t(spark, sf_dir, "nation")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal")).collect()[0][0]
    idle_rich = (
        c.filter(F.col("c_acctbal") > avg_bal)
        .join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
    )
    return (
        idle_rich.join(F.broadcast(n), idle_rich.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double").alias("total_bal"),
        )
        .orderBy("nation")
    )


@query(
    "q21_sole_supplier_orders",
    oracle="""
    WITH order_suppliers AS (
      SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_suppliers,
             MIN(l_suppkey) AS sole_suppkey
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_sole_orders
    FROM order_suppliers os
    JOIN supplier s ON s.s_suppkey = os.sole_suppkey
    WHERE os.n_suppliers = 1
    GROUP BY 1 ORDER BY n_sole_orders DESC, s_name
    LIMIT 20
    """,
)
def q21_sole_supplier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 flavor: orders served by exactly ONE supplier, counted
    per supplier — the EXISTS + NOT-EXISTS pair collapsed into one
    aggregate over the fact (aggregate-first: the heavy side reduces to
    one row per order before any join).

    Round-7: "exactly one distinct supplier" is decided by the identity
    min(suppkey) == max(suppkey) instead of count_distinct — min/max
    are plain partial-aggregable (map-side combine collapses the fact
    before the exchange; no distinct operator, no per-group value set),
    which is the form that survives 100 TB. Measured 9.0 s → 5.0 s at
    64× (ratio 9.8× → 4.7×); the oracle keeps COUNT(DISTINCT)=1, same predicate by the
    identity.
    """
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_order = l.groupBy("l_orderkey").agg(
        F.min("l_suppkey").alias("sole_suppkey"),
        F.max("l_suppkey").alias("__mx"),
    )
    sole = per_order.filter(F.col("sole_suppkey") == F.col("__mx"))
    agg = (
        sole.join(gated_broadcast(sf_dir, s, "supplier", key="s_suppkey"), sole.sole_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_sole_orders"))
    )
    return top_k(agg, [F.col("n_sole_orders").desc(), F.col("s_name")], 20)


@query(
    "window_analytic_family",
    oracle="""
    SELECT c_custkey,
           n_name,
           CAST(NTILE(4) OVER w AS INT) AS bal_quartile,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           LAG(c_acctbal) OVER w AS prev_bal,
           LEAD(c_acctbal) OVER w AS next_bal,
           FIRST_VALUE(c_acctbal) OVER w AS min_bal_in_nation
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
    ORDER BY n_name, c_acctbal, c_custkey
    """,
)
def window_analytic_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window family over one shared window spec: ntile,
    percent_rank, cume_dist, lag/lead, first_value — one sort per
    partition serves all six functions (Spark collapses same-spec
    windows into a single Window physical node, so adding functions is
    free; a second ORDER BY would double the sort). Ordering carries the
    c_custkey tiebreaker: percent_rank/ntile on a tied ORDER BY are
    engine-dependent.

    pct_rank/cume are emitted UNROUNDED on purpose (FLOATS.md): they
    are single IEEE divisions over identical integers ((rank-1)/(n-1),
    k/n) — bit-exact by construction — while ROUND(x, 6) BREAKS parity:
    rationals with power-of-10-friendly denominators (e.g. k/3200) land
    EXACTLY on the .5 grid boundary, where Spark's half-up and DuckDB's
    rounding legally disagree (caught by the round-7 sf0.1 --exact
    sweep: 3 cume rows at 0.0640625-style halfway points). Rounding is
    for transcendental drift; it must not be applied to exact rationals.
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "n_name",
            F.ntile(4).over(w).cast("int").alias("bal_quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
            F.lag("c_acctbal").over(w).alias("prev_bal"),
            F.lead("c_acctbal").over(w).alias("next_bal"),
            F.first("c_acctbal").over(w).alias("min_bal_in_nation"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "window_range_frame_7d",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                      RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS total_7d,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                               RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_7d
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderdate, o_orderkey
    """,
)
def window_range_frame_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per-customer trailing-7-day order
    totals — the frame is bounded by the ORDER BY VALUE (all orders
    within 7 days), not a row count, so same-day orders all see the
    same window. A value frame needs no tiebreaker for the aggregate
    itself (ties share a frame); determinism comes from the decimal sum.
    Expressed via the SQL window syntax — the DataFrame rangeBetween
    only takes numeric offsets, and casting ts to seconds loses the
    calendar-interval semantics this exercises.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    o.createOrReplaceTempView("__orders_rf")
    return o.sparkSession.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                          RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS total_7d,
               COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                              RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
                    AS n_7d
        FROM __orders_rf
        ORDER BY o_custkey, o_orderdate, o_orderkey
        """
    )


@query(
    "interval_overlap_join",
    oracle="""
    WITH promos(promo, p_start, p_end) AS (
      VALUES ('W96',  DATE '1996-03-01', DATE '1996-04-15'),
             ('W97',  DATE '1997-06-10', DATE '1997-07-10'),
             ('W98',  DATE '1998-01-01', DATE '1998-02-01'),
             ('W99',  DATE '1999-09-15', DATE '1999-10-15')
    ), li AS (
      SELECT l_extendedprice,
             CAST(l_shipdate AS DATE) AS t_start,
             CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS t_end
      FROM lineitem
    )
    SELECT pr.promo,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
             AS overlap_revenue
    FROM li
    JOIN promos pr
      ON li.t_start <= pr.p_end AND li.t_end >= pr.p_start
    GROUP BY pr.promo ORDER BY pr.promo
    """,
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: each lineitem's transit window
    [shipdate, shipdate + quantity days] matched against a promo
    calendar where the two ranges intersect (start1 <= end2 AND
    end1 >= start2). The calendar side is dimension-sized -> broadcast
    nested-loop is the RIGHT plan here (4 rows x fact scan, no
    shuffle); at 100 TB the fact side streams through executors once.
    For interval x interval at fact scale on BOTH sides, bucketize time
    into chunks and equi-join on chunk id (operators/rangejoin.py
    pattern) instead.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        "l_extendedprice",
        F.col("l_shipdate").cast("date").alias("t_start"),
        F.date_add(
            F.col("l_shipdate").cast("date"), F.col("l_quantity").cast("int")
        ).alias("t_end"),
    )
    promos = local_frame(
        spark,
        [
            ("W96", "1996-03-01", "1996-04-15"),
            ("W97", "1997-06-10", "1997-07-10"),
            ("W98", "1998-01-01", "1998-02-01"),
            ("W99", "1999-09-15", "1999-10-15"),
        ],
        "promo string, p_start string, p_end string",
    ).select(
        "promo",
        F.col("p_start").cast("date"),
        F.col("p_end").cast("date"),
    )
    joined = li.join(
        F.broadcast(promos),
        (F.col("t_start") <= F.col("p_end"))
        & (F.col("t_end") >= F.col("p_start")),
    )
    return (
        joined.groupBy("promo")
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("overlap_revenue"),
        )
        .orderBy("promo")
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT event_id, user_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k
      FROM events WHERE event_id < 2000
    ), b AS (
      SELECT CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_type
      FROM events GROUP BY 1
    )
    SELECT a.k AS event_key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(b.n_type) AS group_size
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY a.k ORDER BY a.k NULLS FIRST
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the semantics dimension
    lookups need when "unknown" is itself a category. Still hash-
    joinable (null-safe equality is an equi-key to Catalyst), unlike
    the OR-of-IS-NULL rewrite which degrades to nested-loop.
    """
    ev = _t(spark, sf_dir, "events")
    key = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("event_type")
    )
    a = ev.filter(F.col("event_id") < 2000).select(
        "event_id", "user_id", key.alias("k")
    )
    b = ev.select(key.alias("kb")).groupBy("kb").agg(
        F.count(F.lit(1)).alias("n_type")
    )
    return (
        a.join(b, a["k"].eqNullSafe(b["kb"]))
        .groupBy(F.col("k").alias("event_key"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("n_type").alias("group_size"),
        )
        # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)
    )


@query(
    "window_nth_value_family",
    oracle="""
    SELECT s_suppkey, s_nationkey, s_acctbal,
           nth_value(s_acctbal, 2) OVER w AS second_lowest,
           nth_value(s_acctbal, 3) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS third_lowest_overall,
           lag(s_acctbal, 2, -1.0) OVER w AS lag2_or_default,
           last_value(s_acctbal) OVER (
             PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS max_in_nation
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    ORDER BY s_suppkey
    """,
)
def window_nth_value_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional analytic functions: nth_value under the default
    running frame (NULL until the nth row arrives) vs an unbounded
    frame (constant per partition), offset lag with an explicit
    default, and last_value over the full partition — the frame-
    sensitivity trap every SQL engine documents and many users hit.
    One shared sort serves all four.
    """
    s = _t(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return s.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.nth_value("s_acctbal", 2).over(w).alias("second_lowest"),
        F.nth_value("s_acctbal", 3).over(w_full).alias("third_lowest_overall"),
        F.lag("s_acctbal", 2, -1.0).over(w).alias("lag2_or_default"),
        F.last("s_acctbal").over(w_full).alias("max_in_nation"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "set_ops_union_by_name",
    oracle="""
    WITH old_schema AS (
      SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10
    ), new_schema AS (
      SELECT n_name, n_nationkey, n_regionkey FROM nation WHERE n_nationkey >= 10
    )
    SELECT n_nationkey, n_name, region_or_default
    FROM (
      SELECT n_nationkey, n_name, CAST(-1 AS INT) AS region_or_default
      FROM old_schema
      UNION ALL
      SELECT n_nationkey, n_name, CAST(n_regionkey AS INT) FROM new_schema
    ) ORDER BY n_nationkey
    """,
)
def set_ops_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: ``unionByName(allowMissingColumns=True)``
    aligns by COLUMN NAME and null-fills columns one side lacks — the
    append path when a table gains columns mid-life (positional UNION
    would silently misalign). The oracle spells out the name alignment
    and default-fill explicitly.
    """
    n = _t(spark, sf_dir, "nation")
    old = n.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_name")
    new = n.filter(F.col("n_nationkey") >= 10).select(
        "n_name", "n_nationkey", F.col("n_regionkey").cast("int").alias("region_or_default")
    )
    return (
        old.unionByName(new, allowMissingColumns=True)
        .withColumn(
            "region_or_default",
            F.coalesce(F.col("region_or_default"), F.lit(-1)).cast("int"),
        )
        .orderBy("n_nationkey")
    )


@query("agg_count_min_heavy_hitters", oracle=None)
def agg_count_min_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-10 users
    by event volume (operators/sketches.py): the sketch table is depth 4
    x width 4096 counters — bounded memory at any key cardinality, the
    heavy-hitter/skew detector that decides when salted plans kick in
    at 100 TB. Output carries exact count next to the CMS estimate;
    `exact <= est <= exact + eps*N` is pinned in tests/test_scale_ops.py
    (xxhash64 family -> rows-only here).
    """
    from .operators.sketches import count_min_estimate, count_min_table

    e = _t(spark, sf_dir, "events")
    cms = count_min_table(e, "user_id", width=1 << 12, depth=4)
    exact_top = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "user_id")
        .limit(10)
    )
    return (
        count_min_estimate(cms, exact_top, "user_id", width=1 << 12, depth=4)
        .select("user_id", "n_exact", "cms_estimate")
        .orderBy(F.col("n_exact").desc(), "user_id")
    )
