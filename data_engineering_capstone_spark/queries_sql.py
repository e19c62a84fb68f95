"""SQL-entry-point catalog queries (SURVEY.md §3: the engine's lifecycle
is ``DataFrame API / spark.sql() → Catalyst``; these exercise the
``spark.sql`` half).

Tables register as temp views (``sources.testdata.register_views``) and
the query text goes through Spark's SQL parser — CTEs, correlated
subqueries (EXISTS / IN / scalar), GROUPING SETS. Catalyst plans them
identically to the DataFrame forms: subqueries decorrelate to joins,
grouping sets to Expand — same physical operators, same scale behavior.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .session import prep, scratch_dir
from .sources.testdata import register_views


def _sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(text)


_EXISTS_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(
    "sql_exists_subquery",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape through spark.sql(): correlated EXISTS — Catalyst
    decorrelates it into a left-semi join (check with explain_audit), so
    it scales exactly like the hand-written semi-join queries.
    """
    return _sql(spark, sf_dir, _EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
WITH seg_avg AS (
  SELECT c_mktsegment, AVG(c_acctbal) AS seg_bal FROM customer GROUP BY c_mktsegment
)
SELECT c.c_custkey, c.c_mktsegment,
       ROUND(c.c_acctbal - s.seg_bal, 4) AS bal_vs_segment
FROM customer c JOIN seg_avg s ON c.c_mktsegment = s.c_mktsegment
WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
ORDER BY c.c_custkey
"""


@query(
    "sql_cte_scalar_subquery",
    oracle="""
    WITH seg_avg AS (
      SELECT c_mktsegment, AVG(c_acctbal) AS seg_bal FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey, c.c_mktsegment,
           ROUND(c.c_acctbal - s.seg_bal, 4) AS bal_vs_segment
    FROM customer c JOIN seg_avg s ON c.c_mktsegment = s.c_mktsegment
    WHERE c.c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    ORDER BY c.c_custkey
    """,
)
def sql_cte_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + uncorrelated scalar subquery through spark.sql(): the scalar
    subquery runs once and broadcasts as a literal; the CTE plans as a
    reused subtree.
    """
    return _sql(spark, sf_dir, _SCALAR_SUBQ_SQL)


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@query(
    "sql_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube):
    one Expand node, one aggregate pass over all three groupings.
    """
    return _sql(spark, sf_dir, _GROUPING_SETS_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (
  -- o_custkey < 100 restates the outer c_custkey bound INSIDE the
  -- lateral: the decorrelated window otherwise ranks ALL orders (the
  -- inferred constraint lands above the window exchange, not at the
  -- scan — round-11 explain audit), turning a constant-slice query
  -- into a corpus-wide fact window
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = c.c_custkey AND o_custkey < 100
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) o
WHERE c.c_custkey < 100
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
"""


@query(
    "sql_lateral_topk",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_custkey < 100
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL derived table with per-row ORDER BY/LIMIT —
    top-2 orders per customer. Catalyst decorrelates the lateral into a
    ranked window over a join (same physical shape as the explicit
    row_number form in window_rank_customers), so the per-row "run a
    subquery" reading never executes as N scans.
    """
    return _sql(spark, sf_dir, _LATERAL_SQL)


_LISTAGG_SQL = """
SELECT r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       listagg(n.n_name, ',') WITHIN GROUP (ORDER BY n.n_name) AS nations
FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY r.r_name
"""


@query(
    "sql_listagg_group",
    oracle="""
    SELECT r.r_name,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def sql_listagg_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP — Spark 4): the
    collect-into-delimited-string aggregate, with an explicit intra-group
    sort so the output is deterministic under any partitioning (an
    unordered listagg/collect_list concatenates in arrival order, which
    re-planning changes). Flattens to a scalar string at the boundary —
    no array-typed output column for the driver hash to choke on.
    """
    return _sql(spark, sf_dir, _LISTAGG_SQL)


@query(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE anc(k, node, depth, path_sum) AS (
      SELECT o_orderkey, o_orderkey, 0, o_orderkey
      FROM orders WHERE o_orderkey < 128
      UNION ALL
      SELECT k, node // 2, depth + 1, path_sum + node // 2
      FROM anc WHERE node > 1
    )
    SELECT k,
           CAST(MAX(depth) AS INT) AS depth_to_root,
           CAST(MAX(path_sum) AS BIGINT) AS ancestor_sum
    FROM anc GROUP BY k ORDER BY k
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (new in Spark 4): every orderkey < 128 walks its
    binary-tree ancestry (parent = k div 2) to the root, accumulating
    depth and the ancestor-key sum — the linear-recursion shape behind
    hierarchy flattening and path aggregation. Spark executes it as an
    iterative union-loop; per-round state is the frontier only. For the
    iterative patterns that predate engine support (and for unbounded
    depth with lineage control) see llm/clustering.py's label
    propagation.
    """
    from .sources.testdata import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_rc")
    return spark.sql(
        """
        WITH RECURSIVE anc(k, node, depth, path_sum) AS (
          SELECT o_orderkey, o_orderkey, 0, o_orderkey
          FROM orders_rc WHERE o_orderkey < 128
          UNION ALL
          SELECT k, CAST(node / 2 AS BIGINT), depth + 1,
                 path_sum + CAST(node / 2 AS BIGINT)
          FROM anc WHERE node > 1
        )
        SELECT k,
               CAST(MAX(depth) AS INT) AS depth_to_root,
               MAX(path_sum) AS ancestor_sum
        FROM anc GROUP BY k ORDER BY k
        """
    )


@query(
    "sql_collation_group",
    oracle="""
    WITH mixed AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN lower(p_brand) ELSE p_brand END
               AS brand_mixed,
             p_retailprice
      FROM part
    )
    SELECT lower(brand_mixed) AS brand_ci,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM mixed GROUP BY 1 ORDER BY 1
    """,
)
def sql_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated comparison semantics (new in Spark 4): a case-mixed
    brand column grouped under UTF8_LCASE collation — equality, hashing
    and therefore GROUP BY become case-insensitive WITHOUT rewriting
    values, which at scale beats wrapping every comparison in lower()
    (the collation rides the column type; one normalization at the
    boundary). The oracle lower()s explicitly. Output keys are
    lower()ed on both sides so the representative value is pinned.
    """
    from .sources.testdata import load_table

    p = load_table(spark, sf_dir, "part")
    mixed = p.select(
        F.when(F.col("p_partkey") % 2 == 0, F.lower("p_brand"))
        .otherwise(F.col("p_brand"))
        .alias("brand_mixed"),
        "p_retailprice",
    )
    ci = mixed.select(
        F.collate(F.col("brand_mixed"), "UTF8_LCASE").alias("brand_ci"),
        "p_retailprice",
    )
    return (
        ci.groupBy("brand_ci")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("p_retailprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total"),
        )
        .select(
            F.lower(F.col("brand_ci")).cast("string").alias("brand_ci"), "n", "total"
        )
        .orderBy("brand_ci")
    )


@query(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    WHERE o_totalprice > 50000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named parameter markers): values bind as
    literals AFTER parsing, so user input can't splice syntax — the
    injection-safe form of templated queries, and Catalyst still
    constant-folds/pushes the bound literal into the scan like any
    other predicate.
    """
    prep(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        args={"min_price": 50000.0, "status": "O"},
    )


@query(
    "sql_managed_table_dml",
    oracle="""
    WITH all_rows AS (
      SELECT n_nationkey, n_name FROM nation
      UNION ALL
      SELECT 900, 'ATLANTIS' UNION ALL SELECT 901, 'ELBONIA'
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           MIN(n_name) AS first_name
    FROM all_rows
    """,
)
def sql_managed_table_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed-catalog DML: CREATE TABLE ... USING parquet from a
    query, INSERT INTO appends, aggregate the result — the
    metastore-backed table lifecycle (as opposed to path-based reads
    everywhere else). Each run recreates the table, so the query is
    idempotent; the catalog entry itself lives in the session's
    warehouse dir.
    """
    prep(spark)
    register_views(spark, sf_dir)
    import shutil

    tbl = "dec_spark_nations_dml"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # explicit scratch location: the default warehouse lives under the
    # driver process CWD (unknown/possibly read-only in the harness),
    # and dropping a LOCATION table leaves its files — clear before CREATE
    loc = os.path.join(scratch_dir(spark, "warehouse"), tbl)
    shutil.rmtree(loc, ignore_errors=True)
    spark.sql(
        f"CREATE TABLE {tbl} USING parquet LOCATION '{loc}' "
        "AS SELECT n_nationkey, n_name FROM nation"
    )
    spark.sql(f"INSERT INTO {tbl} VALUES (900, 'ATLANTIS'), (901, 'ELBONIA')")
    return spark.sql(
        f"""
        SELECT COUNT(*) AS n,
               SUM(n_nationkey) AS key_sum,
               MIN(n_name) AS first_name
        FROM {tbl}
        """
    )
