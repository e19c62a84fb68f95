"""ETL-tier catalog queries (SURVEY.md §2 Tier B) over the synthetic tables.

Each query exercises one reference-specified ETL operator — SAS-epoch
dates, sentinel char-dates, code→name dims with defaults, deterministic
dedup, long→wide pivot, quality checks, partitioned parquet round-trip —
with a DuckDB oracle twin. The I94-shaped composition of these stages
lives in ``etl/pipeline.py`` (unit-tested on an I94 fixture).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import query
from .functions.dates import date_parts, date_to_sas_day, parse_char_date, sas_date_to_date
from .operators.dedup import dedup_exact
from .operators.pivot import pivot_wide
from .operators.relational import code_to_name
from .session import prep, scratch_dir
from .sources.readers import local_frame
from .sources.testdata import load_table
from .sources.writers import write_parquet, write_zordered


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prep(spark)
    return load_table(spark, sf_dir, name)


@query(
    "etl_sas_date_dim",
    oracle="""
    SELECT DISTINCT
           CAST(DATE_DIFF('day', DATE '1960-01-01', CAST(o_orderdate AS DATE)) AS INT) AS sas_day,
           CAST(o_orderdate AS DATE)        AS date,
           CAST(YEAR(o_orderdate) AS INT)   AS year,
           CAST(MONTH(o_orderdate) AS INT)  AS month,
           CAST(DAY(o_orderdate) AS INT)    AS day,
           CAST(WEEKOFYEAR(o_orderdate) AS INT) AS week,
           CAST(ISODOW(o_orderdate) AS INT) AS dow
    FROM orders
    ORDER BY sas_day
    """,
)
def etl_sas_date_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: SAS-epoch round trip + date-dimension derivation.

    Treats o_orderdate as ground truth, derives its SAS day number
    (days since 1960-01-01, reference: I94_SAS_Labels_Descriptions.SAS:
    966-968), converts back, and expands the date-dim parts with
    ISO day-of-week (Monday=1) to match ANSI engines.
    """
    o = _t(spark, sf_dir, "orders")
    sas = o.select(date_to_sas_day(F.col("o_orderdate")).cast("int").alias("sas_day")).distinct()
    d = F.col("date")
    parts = date_parts(d)
    return (
        sas.select("sas_day", sas_date_to_date(F.col("sas_day")).alias("date"))
        .select(
            "sas_day",
            "date",
            parts["year"].cast("int").alias("year"),
            parts["month"].cast("int").alias("month"),
            parts["day"].cast("int").alias("day"),
            parts["week"].cast("int").alias("week"),
            parts["dow"].cast("int").alias("dow"),
        )
        .orderBy("sas_day")
    )


@query(
    "etl_char_date_sentinels",
    oracle="""
    WITH coded AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN 'D/S'
                  ELSE STRFTIME(ts, '%m%d%Y') END AS dtaddto,
             STRFTIME(ts, '%Y%m%d') AS dtadfile
      FROM events
    )
    SELECT event_id,
           TRY_STRPTIME(dtadfile, '%Y%m%d')::DATE AS file_date,
           TRY_STRPTIME(dtaddto, '%m%d%Y')::DATE  AS admitted_until,
           (TRY_STRPTIME(dtaddto, '%m%d%Y') IS NULL) AS is_sentinel
    FROM coded
    """,
)
def etl_char_date_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: character-date parsing with null-on-sentinel semantics.

    Builds yyyyMMdd / MMddyyyy char dates from event timestamps, injects
    the reference's 'D/S' sentinel (reference: I94_SAS_Labels_
    Descriptions.SAS:1080; notebook cell-4 row 1) for error events, and
    try-parses — sentinels become NULL, never exceptions, while ANSI
    mode stays on for everything else.
    """
    e = _t(spark, sf_dir, "events")
    coded = e.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D/S"))
        .otherwise(F.date_format("ts", "MMddyyyy"))
        .alias("dtaddto"),
        F.date_format("ts", "yyyyMMdd").alias("dtadfile"),
    )
    admitted = parse_char_date("dtaddto", "MMddyyyy")
    return coded.select(
        "event_id",
        parse_char_date("dtadfile", "yyyyMMdd").alias("file_date"),
        admitted.alias("admitted_until"),
        admitted.isNull().alias("is_sentinel"),
    )


@query(
    "etl_code_to_name",
    oracle="""
    WITH dim(code, urgency) AS (
      VALUES ('1-URGENT', 'critical'), ('2-HIGH', 'critical'), ('3-MEDIUM', 'routine')
    )
    SELECT COALESCE(d.urgency, 'other') AS urgency,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders o LEFT JOIN dim d ON o.o_orderpriority = d.code
    GROUP BY 1 ORDER BY 1
    """,
)
def etl_code_to_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3 + B4: code→name lookup against an in-code dimension with the
    reference's "not in the list → 'other'" default (reference:
    I94_SAS_Labels_Descriptions.SAS:979-980) — broadcast left join +
    coalesce, zero shuffle of the fact side.
    """
    o = _t(spark, sf_dir, "orders")
    dim = local_frame(
        spark,
        [("1-URGENT", "critical"), ("2-HIGH", "critical"), ("3-MEDIUM", "routine")],
        "code string, urgency string",
    )
    named = code_to_name(o, dim, "o_orderpriority", "code", "urgency", "urgency", default="other")
    return (
        named.groupBy("urgency")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        )
        .orderBy("urgency")
    )


@query(
    "etl_dedup_first_event",
    oracle="""
    SELECT user_id, event_type, event_id, value
    FROM (
      SELECT user_id, event_type, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def etl_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: deterministic dedup — keep each user's earliest event per type
    (reference: notebook cell-7 'duplicate data'). Reproducible winner via
    ordered window, not dropDuplicates' arbitrary pick.
    """
    e = _t(spark, sf_dir, "events")
    kept = dedup_exact(e, ["user_id", "event_type"], keep_order_by=[F.col("ts"), F.col("event_id")])
    return kept.select("user_id", "event_type", "event_id", "value")


@query(
    "etl_pivot_doc_stats",
    oracle="""
    SELECT source,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
           CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
           CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
           CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
           CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def etl_pivot_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: long→wide pivot with a pinned value list + per-group scalar —
    the demographics reshape pattern (reference: us-cities-demographics
    .csv long format, one row per (city, race)).
    """
    d = _t(spark, sf_dir, "documents")
    langs = ["en", "de", "fr", "es", "zh"]
    wide = pivot_wide(d, ["source"], "lang", langs, "doc_id", agg="count")
    scalars = d.groupBy("source").agg(F.round(F.avg("n_chars"), 4).alias("avg_chars"))
    return (
        wide.join(scalars, "source")
        .select(
            "source",
            *[F.coalesce(F.col(lg), F.lit(0)).alias(lg) for lg in langs],
            "avg_chars",
        )
        .orderBy("source")
    )


@query(
    "etl_quality_report",
    oracle="""
    SELECT 'nonempty' AS check, COUNT(*) > 0 AS passed FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)', COUNT(*) = COUNT(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'no_nulls(o_orderkey,o_custkey,o_orderdate)',
           SUM(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL OR o_orderdate IS NULL
               THEN 1 ELSE 0 END) = 0 FROM orders
    UNION ALL
    SELECT 'completeness(orders=lineitem.orderkeys)',
           (SELECT COUNT(DISTINCT o_orderkey) FROM orders) >=
           (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
    ORDER BY "check"
    """,
)
def etl_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11-B13: the quality-check suite the reference stubs out
    (reference: plugins/operators/data_quality.py:12-13 ``evaluate: pass``;
    spec in notebook cell-12). Distributed aggregations only — each check
    collects one scalar, so the suite runs unchanged at 100 TB.

    Round-7 fusion: the original composed the per-check helpers and
    launched FIVE jobs (orders scanned three times; count_distinct of
    the order key computed twice — measured 19.7 s at 64×). Audit
    checks are all scan-level aggregates, so the suite is exactly TWO
    jobs: one fused orders aggregation (nonempty + unique-key +
    null-scan — the etl/quality.py check_suite_single_pass device) and
    the lineitem side's distinct key count. Round 8 found the lineitem
    side was the whale at 256× (64.8 of the 75.3 s total — bare
    count_distinct hits the AQE byte-coalesce trap plus a slow
    partial-distinct path) and routed it through
    `etl.quality.exact_distinct_count` (the fk_integrity explicit-width
    repartition device): 64.8 → 7.7 s measured at 153.6M rows. The
    per-check helpers remain for suites spanning different frames.
    """
    from .etl.quality import CheckResult, exact_distinct_count, results_df

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    null_cols = ["o_orderkey", "o_custkey", "o_orderdate"]
    row = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("nd"),
        F.sum(
            (F.col("o_orderkey").isNull()
             | F.col("o_custkey").isNull()
             | F.col("o_orderdate").isNull()).cast("long")
        ).alias("nulls"),
    ).collect()[0]
    li_keys = exact_distinct_count(l, "l_orderkey")
    results = [
        CheckResult("nonempty", row["n"] > 0, f"{row['n']} rows", "> 0 rows"),
        CheckResult(
            "unique(o_orderkey)", row["n"] == row["nd"],
            f"{row['nd']} distinct / {row['n']} rows", "all distinct",
        ),
        CheckResult(
            f"no_nulls({','.join(null_cols)})", row["nulls"] == 0,
            f"{row['nulls']} nulls", "0 nulls",
        ),
        CheckResult(
            "completeness(orders=lineitem.orderkeys)",
            row["nd"] >= li_keys, str(li_keys), f"<= {row['nd']}",
        ),
    ]
    return (
        results_df(spark, results)
        .select("check", "passed")
        .orderBy("check")
    )


@query(
    "etl_partitioned_sink_roundtrip",
    oracle="""
    SELECT CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def etl_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + B14 + A3: write orders as year-partitioned parquet, read it
    back, aggregate per partition (reference: dags/transform/airport.py:
    6-7 unpartitioned overwrite; cell-15's 100x-scale scenario is why the
    layout adds partitionBy). Partition pruning makes per-year queries
    skip everything else at the scan.
    """
    o = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    out = scratch_dir(spark, "sink", os.path.basename(sf_dir.rstrip("/")), "orders_by_year")
    write_parquet(o, out, partition_by=["order_year"])
    back = spark.read.parquet(out)
    return (
        back.groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias("total"),
        )
        # partition columns read back as the partition-discovery type; pin int
        .withColumn("order_year", F.col("order_year").cast("int"))
        .orderBy("order_year")
    )


@query(
    "etl_cdc_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders
    ), b AS (
      SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN p + 10 ELSE p END AS p
      FROM a WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, p FROM a WHERE o_orderkey % 5 = 0
    ), j AS (
      SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
             a.p AS old_p, b.p AS new_p,
             CASE WHEN b.o_orderkey IS NULL THEN 'D'
                  WHEN a.o_orderkey IS NULL THEN 'I'
                  WHEN a.p IS DISTINCT FROM b.p THEN 'U' END AS op
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT op, o_orderkey,
           CAST(old_p AS DOUBLE) AS old_o_totalprice,
           CAST(new_p AS DOUBLE) AS new_o_totalprice
    FROM j WHERE op IS NOT NULL
    ORDER BY o_orderkey, op
    """,
)
def etl_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changeset EXTRACTION (operators/cdc.py — the inverse of the
    upsert/SCD2 appliers): diff today's snapshot against yesterday's
    into I/U/D rows via one null-safe full outer join, dropping the
    unchanged majority before materialization. Snapshot B is derived
    deterministically (every 13th key deleted, every 7th repriced in
    exact decimal, every 5th re-inserted under a shifted key), so both
    engines reconstruct the identical changeset.
    """
    from .operators.cdc import snapshot_diff

    a = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("p")
    )
    b = (
        a.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "p",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("p") + 10).otherwise(F.col("p")),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % 5 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"), "p"
            )
        )
    )
    from .sources.pqmeta import fact_width

    diff = snapshot_diff(
        a, b, ["o_orderkey"], ["p"],
        num_partitions=fact_width(spark, sf_dir, "orders"),
    )
    return diff.select(
        "op",
        "o_orderkey",
        F.col("old_p").cast("double").alias("old_o_totalprice"),
        F.col("new_p").cast("double").alias("new_o_totalprice"),
    )  # no final orderBy: display-only on fact-grain output (SCALE.md final-sort policy)


@query(
    "etl_observed_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_discounted,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    """,
)
def etl_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline metrics via ``Observation``/``df.observe``:
    quality counters (row count, predicate count, exact decimal total)
    ride the SAME job that writes the sink — no second scan, which is
    the difference between quality checks that cost 0% and ones that
    re-read 100 TB (reference: the stubbed DataQualityOperator,
    plugins/operators/data_quality.py:5-13, re-specified at scale).
    The observed values are returned as a one-row DataFrame; the oracle
    recomputes them directly from the table.
    """
    from pyspark.sql import Observation

    l = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    obs = Observation("qc")
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).alias("total_price"),
    )
    out = scratch_dir(spark, "sink", os.path.basename(sf_dir.rstrip("/")), "observed")
    write_parquet(observed, out)  # the one action; metrics piggyback on it
    m = obs.get
    return local_frame(
        spark,
        [(int(m["n_rows"]), int(m["n_discounted"]), float(m["total_price"]))],
        "n_rows bigint, n_discounted bigint, total_price double",
    )


@query(
    "etl_upsert_orders",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DECIMAL(17,3)) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders
    ), updates AS (
      SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
             CAST(o_totalprice * 1.1 AS DECIMAL(17,3)) AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM base WHERE o_orderkey % 10 = 0
    ), inserts AS (
      SELECT o_orderkey + 1000000, o_custkey, 'N', o_totalprice, o_orderdate, o_orderpriority
      FROM base WHERE o_orderkey % 100 = 0
    ), merged AS (
      SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      UNION ALL SELECT * FROM updates
      UNION ALL SELECT * FROM inserts
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_totalprice) AS DOUBLE) AS total
    FROM merged GROUP BY 1 ORDER BY 1
    """,
)
def etl_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-based upsert (operators/merge.py): 10% of orders updated (new
    status, repriced) + 1% inserted under new keys, merged via anti-join
    + union — one shuffle on the key, row width independent. The oracle
    rebuilds the merged table set-theoretically.

    Prices are moved into DECIMAL(17,3) BEFORE the 1.1 reprice so the
    product is exact in both engines (double*1.1 lands on .5-cent ties
    that Spark and DuckDB round differently — SCALE.md no-derived-round
    rule); the one double cast happens at the output boundary.
    """
    from .operators.merge import upsert

    o = _t(spark, sf_dir, "orders").withColumn(
        "o_totalprice",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(14,2)) AS DECIMAL(17,3))"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.expr("CAST(o_totalprice * 1.1 AS DECIMAL(17,3))"))
    )
    inserts = (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    merged = upsert(o, updates.unionByName(inserts), ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").cast("double").alias("total"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "etl_scd2_customer_segment",
    oracle="""
    WITH current AS (
      SELECT c_custkey, c_mktsegment, DATE '2020-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
      FROM customer
    ), changes AS (
      SELECT c_custkey, 'PIVOTED' AS c_mktsegment, DATE '2024-06-01' AS chg
      FROM customer WHERE c_custkey % 7 = 0
    ), closed AS (
      SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
             CASE WHEN ch.c_custkey IS NOT NULL THEN DATE '2024-06-01' ELSE c.valid_to END AS valid_to,
             CASE WHEN ch.c_custkey IS NOT NULL THEN FALSE ELSE c.is_current END AS is_current
      FROM current c LEFT JOIN (SELECT DISTINCT c_custkey FROM changes) ch USING (c_custkey)
    ), appended AS (
      SELECT * FROM closed
      UNION ALL
      SELECT c_custkey, c_mktsegment, chg, CAST(NULL AS DATE), TRUE FROM changes
    )
    SELECT is_current, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
    FROM appended GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def etl_scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 merge (operators/merge.py): every 7th customer changes
    segment; their open version closes at the change date and a new
    current version appends — full history preserved, one shuffle on the
    key. Oracle rebuilds the same close-and-append set.
    """
    from .operators.merge import scd2_apply

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    current = (
        c.withColumn("valid_from", F.lit("2020-01-01").cast("date"))
        .withColumn("valid_to", F.lit(None).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    changes = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .withColumn("c_mktsegment", F.lit("PIVOTED"))
        .withColumn("chg", F.lit("2024-06-01").cast("date"))
    )
    from .sources.pqmeta import fact_width

    out = scd2_apply(
        current, changes, ["c_custkey"], "chg",
        num_partitions=fact_width(spark, sf_dir, "customer"),
    )
    return (
        out.groupBy("is_current", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("is_current", "c_mktsegment")
    )


@query(
    "etl_systematic_sample",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM lineitem
    WHERE md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) LIKE '%0'
    """,
)
def etl_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~1/16 systematic sample by content hash — unlike
    ``df.sample`` (partition-layout-dependent RNG), a hash-mod filter is
    reproducible across engines, partitionings, and re-plans: the sample
    IS a pure function of the data. The cross-engine-portable digest is
    md5 (xxhash64 seeds differ per engine).
    """
    l = _t(spark, sf_dir, "lineitem")
    key = F.concat(
        F.col("l_orderkey").cast("string"), F.lit("-"), F.col("l_linenumber").cast("string")
    )
    sampled = l.filter(F.md5(key).endswith("0"))
    return sampled.agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).cast("double").alias("total"),
    )


@query(
    "etl_i94_pipeline_e2e",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN event_id % 97 = 0 THEN NULL ELSE event_id END AS cicid,
             CASE event_id % 3 WHEN 0 THEN 582 WHEN 1 THEN 236 ELSE 101 END AS i94cit,
             20566 + event_id % 30 AS arrdate,
             CASE WHEN event_id % 4 = 3 THEN 9 ELSE event_id % 4 + 1 END AS i94mode,
             CASE event_id % 5 WHEN 0 THEN 'NY' WHEN 1 THEN 'CA' ELSE 'XX' END AS i94addr,
             event_id % 3 + 1 AS i94visa,
             1 AS cnt,
             CASE WHEN event_id % 7 = 0 THEN 'D/S' ELSE '07202016' END AS dtaddto
      FROM events
    ), cleaned AS (
      -- planted duplicates are FULL-row copies and cicid is unique per
      -- source row, so dedup-on-key == DISTINCT *; null keys drop
      SELECT DISTINCT * FROM fact WHERE cicid IS NOT NULL
    ), staged AS (
      SELECT CASE i94cit WHEN 582 THEN 'MEXICO' WHEN 236 THEN 'AFGHANISTAN'
                  ELSE 'ALBANIA' END AS origin_country,
             CASE i94mode WHEN 1 THEN 'Air' WHEN 2 THEN 'Sea' WHEN 3 THEN 'Land'
                  WHEN 9 THEN 'Not reported' END AS travel_mode,
             CASE WHEN i94addr = 'NY' THEN 'NEW YORK'
                  WHEN i94addr = 'CA' THEN 'CALIFORNIA'
                  ELSE 'other' END AS state_name,
             CASE i94visa WHEN 1 THEN 'Business' WHEN 2 THEN 'Pleasure'
                  ELSE 'Student' END AS visa_category,
             DATE '1960-01-01' + CAST(arrdate AS INT) AS arrival_date,
             CASE WHEN dtaddto = 'D/S' THEN NULL ELSE dtaddto END AS adm,
             cnt
      FROM cleaned
    )
    SELECT origin_country, travel_mode, state_name, visa_category,
           CAST(SUM(cnt) AS BIGINT) AS arrivals,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(arrival_date) AS first_arrival,
           CAST(SUM(CASE WHEN adm IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ds_visas
    FROM staged
    GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
    """,
)
def etl_i94_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE star-schema spec end-to-end through the
    real pipeline stages (etl/pipeline.py): clean (null-drop + dedup +
    code casts) → SAS-epoch / sentinel date conversion → broadcast
    code→name dim joins (with the i94addr 'not in list → other' rule) →
    star rollup. The fact is derived deterministically from events in
    the reference's §1.2 shape (doubles + strings), with planted
    full-row duplicates and null keys; the oracle rebuilds every rule
    in SQL. (reference: notebook cells 7-13, dags/capstone_project.py:100,
    I94_SAS_Labels_Descriptions.SAS:9-1050.)
    """
    from .etl import pipeline
    from .etl.sas_labels import dim_from_map

    e = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    fact = e.select(
        F.when(eid % 97 == 0, F.lit(None).cast("double"))
        .otherwise(eid.cast("double")).alias("cicid"),
        F.lit(2016.0).alias("i94yr"),
        F.lit(4.0).alias("i94mon"),
        F.when(eid % 3 == 0, 582.0).when(eid % 3 == 1, 236.0)
        .otherwise(101.0).alias("i94cit"),
        (F.lit(20566.0) + (eid % 30).cast("double")).alias("arrdate"),
        F.when(eid % 4 == 3, 9.0).otherwise((eid % 4 + 1).cast("double")).alias("i94mode"),
        F.when(eid % 5 == 0, F.lit("NY")).when(eid % 5 == 1, F.lit("CA"))
        .otherwise(F.lit("XX")).alias("i94addr"),
        ((eid % 3) + 1).cast("double").alias("i94visa"),
        F.lit(1.0).alias("count"),
        F.when(eid % 7 == 0, F.lit("D/S")).otherwise(F.lit("07202016")).alias("dtaddto"),
    )
    # plant full-row duplicates (every 100th record) — clean() must drop them
    fact = fact.unionByName(fact.filter(F.col("cicid") % 100 == 0))

    cleaned = pipeline.clean(fact, key="cicid", required=("cicid", "i94yr", "i94mon"))
    dated = pipeline.convert_dates(cleaned)
    dims = {
        "country": dim_from_map(
            spark, {"582": "MEXICO", "236": "AFGHANISTAN", "101": "ALBANIA"},
            "code", "label",
        ),
        "mode": dim_from_map(
            spark, {"1": "Air", "2": "Sea", "3": "Land", "9": "Not reported"},
            "code", "label",
        ),
        "state": dim_from_map(
            spark, {"NY": "NEW YORK", "CA": "CALIFORNIA"}, "code", "label"
        ),
        "visa": dim_from_map(
            spark, {"1": "Business", "2": "Pleasure", "3": "Student"}, "code", "label"
        ),
    }
    staged = pipeline.join_dims(dated, dims)
    return (
        staged.groupBy("origin_country", "travel_mode", "state_name", "visa_category")
        .agg(
            F.sum("count").alias("arrivals"),
            F.count(F.lit(1)).alias("n_records"),
            F.min("arrival_date").alias("first_arrival"),
            F.sum(F.when(F.col("admitted_until").isNull(), 1).otherwise(0)).alias("n_ds_visas"),
        )
        .orderBy("origin_country", "travel_mode", "state_name", "visa_category")
    )


@query(
    "etl_profile_columns",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_totalprice',
           COUNT(*) - COUNT(o_totalprice),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           COUNT(*) - COUNT(o_orderkey),
           COUNT(DISTINCT o_orderkey),
           CAST(MIN(o_orderkey) AS DOUBLE), CAST(MAX(o_orderkey) AS DOUBLE)
    FROM orders
    ORDER BY col_name
    """,
)
def etl_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the reference's stubbed data_quality operator,
    grown up — plugins/operators/data_quality.py:1-13): null count,
    distinct count, min/max per column in ONE pass over the table (a
    single wide aggregate, not one scan per column — at 100 TB, N
    columns profiled must not mean N scans), unpivoted to one row per
    column at the tiny output.
    """
    o = _t(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice", "o_orderkey"]
    wide = o.agg(
        *[
            agg
            for c in cols
            for agg in (
                (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"),
                F.countDistinct(c).alias(f"{c}__nd"),
                F.min(F.col(c).cast("double")).alias(f"{c}__mn"),
                F.max(F.col(c).cast("double")).alias(f"{c}__mx"),
            )
        ]
    )
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) AS (col_name, n_null, n_distinct, min_val, max_val)".format(
                n=len(cols),
                args=", ".join(
                    f"'{c}', {c}__nn, {c}__nd, {c}__mn, {c}__mx" for c in cols
                ),
            )
        )
    )
    return stacked.orderBy("col_name")


@query(
    "etl_funnel_steps",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewed,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_clicked_after,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchased_after
    """,
)
def etl_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): each step must occur
    strictly AFTER the user's first completion of the previous step —
    sequence detection via per-step min-timestamp aggregates chained
    through joins (each step's table shrinks, so the joins get cheaper
    down-funnel; all shuffles key on user_id and AQE reuses the
    exchange). The three step counts come from ONE distributed plan —
    left-join the step tables on user_id and count non-null step
    timestamps in a single final aggregate (no driver-side .count()
    per step, which would re-execute the chain once per step).
    """
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("t_view").alias("n_viewed"),
            F.count("t_click").alias("n_clicked_after"),
            F.count("t_purchase").alias("n_purchased_after"),
        )
    )


@query(
    "etl_price_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) + 1 AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def etl_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram over order totals: floor(price/width)+1
    assigns each row its bin JVM-side (width_bucket semantics spelled
    out in portable arithmetic — DuckDB lacks the function), one hash
    aggregate produces the profile — the single-pass distribution
    sketch behind skew diagnosis and band pricing. The 25000 width is
    integer-representable, so bin assignment is engine-identical.
    """
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            (F.floor(F.col("o_totalprice") / 25000) + 1).cast("int").alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "etl_zorder_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
    """,
)
def etl_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered layout (sources/writers.write_zordered): lineitem
    rewritten sorted by the Morton value of (l_partkey, l_suppkey), read
    back, and probed with a predicate on BOTH keys. Because every output
    file covers a small rectangle of the (partkey, suppkey) space, the
    parquet footer min/max stats prune most files for this query — a
    plain sort would only prune on its leading column. The oracle runs
    the probe on the ORIGINAL table: the layout must be a pure reorder.
    Tightness of the per-file ranges is asserted in
    tests/test_scale_ops.py.
    """
    li = _t(spark, sf_dir, "lineitem")
    out = scratch_dir(spark, "sink", os.path.basename(sf_dir.rstrip("/")), "lineitem_zorder")
    write_zordered(li, out, ["l_partkey", "l_suppkey"], n_files=16)
    back = spark.read.parquet(out)
    probed = back.filter(
        F.col("l_partkey").between(100, 300) & F.col("l_suppkey").between(10, 40)
    )
    return probed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("double")
        .alias("revenue"),
    )


@query(
    "etl_time_travel_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS p FROM orders
    ), b AS (
      SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 THEN p + 10 ELSE p END AS p
      FROM a WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, p FROM a WHERE o_orderkey % 5 = 0
    ), j AS (
      SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
             a.p AS old_p, b.p AS new_p,
             CASE WHEN b.o_orderkey IS NULL THEN 'D'
                  WHEN a.o_orderkey IS NULL THEN 'I'
                  WHEN a.p IS DISTINCT FROM b.p THEN 'U' END AS op
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    )
    SELECT op,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(old_p) AS DOUBLE) AS sum_old,
           CAST(SUM(new_p) AS DOUBLE) AS sum_new
    FROM j WHERE op IS NOT NULL
    GROUP BY op ORDER BY op
    """,
)
def etl_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table time travel (operators/versioned.py): v1 and v2 of
    an orders snapshot are committed as immutable ``v=N`` parquet
    directories, both read back as pinned snapshots, and the changeset
    between them recovered with the CDC snapshot diff — the jar-free
    core of Delta/Iceberg reads (snapshot isolation, rollback, diff).
    The oracle reconstructs the same deterministic v1→v2 edit script
    directly. Summary is per-op counts + exact decimal sums.
    """
    import shutil

    from .operators.versioned import diff_versions, write_version

    a = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(12,2)").alias("p")
    )
    b = (
        a.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "p",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("p") + 10).otherwise(F.col("p")),
        )
        .unionByName(
            a.filter(F.col("o_orderkey") % 5 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"), "p"
            )
        )
    )
    table_dir = os.path.join(
        scratch_dir(spark, "sink", os.path.basename(sf_dir.rstrip("/"))), "orders_versioned"
    )
    shutil.rmtree(table_dir, ignore_errors=True)
    assert write_version(a, table_dir) == 1
    assert write_version(b, table_dir) == 2
    diff = diff_versions(
        spark, table_dir, 1, 2, ["o_orderkey"], ["p"]
    )
    return (
        diff.groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("old_p").cast("double").alias("sum_old"),
            F.sum("new_p").cast("double").alias("sum_new"),
        )
        .orderBy("op")
    )


@query(
    "etl_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderkey, o_totalprice,
             LEAST(1.0, o_totalprice / 300000.0) AS wt,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT
                  AS DOUBLE) / 16777216.0 AS u
      FROM orders
    )
    SELECT CAST(COUNT(*) FILTER (WHERE u < wt) AS BIGINT) AS n_sampled,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) FILTER (WHERE u < wt)
                AS DOUBLE) AS sampled_value,
           CAST(SUM(o_orderkey) FILTER (WHERE u < wt) AS BIGINT) AS sampled_id_sum
    FROM w
    """,
)
def etl_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted Bernoulli sampling, reproducible: each order is kept
    with probability proportional to its value (capped at 1) by
    comparing a per-key uniform draw — the first 24 bits of
    md5(key), engine-portable — against the weight. Deterministic
    across runs/engines/partitionings (no RNG state), trivially
    distributed (pure per-row projection), and the standard trick for
    value-weighted corpus subsampling at 100 TB. sampled_id_sum pins
    exact membership, not just counts.
    """
    o = _t(spark, sf_dir, "orders")
    u = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("double")
        / F.lit(16777216.0)
    )
    wt = F.least(F.lit(1.0), F.col("o_totalprice") / F.lit(300000.0))
    keep = u < wt
    return o.select(
        F.count(F.when(keep, 1)).alias("n_sampled"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(keep, F.col("o_totalprice").cast("decimal(12,2)")))
        .cast("double")
        .alias("sampled_value"),
        F.sum(F.when(keep, F.col("o_orderkey"))).alias("sampled_id_sum"),
    )


@query(
    "etl_surrogate_keys",
    oracle="""
    WITH dim AS (
      SELECT o_orderpriority,
             row_number() OVER (ORDER BY o_orderpriority) AS priority_sk
      FROM (SELECT DISTINCT o_orderpriority FROM orders)
    )
    SELECT d.priority_sk,
           d.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN dim d USING (o_orderpriority)
    GROUP BY 1, 2 ORDER BY 1
    """,
)
def etl_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic surrogate-key assignment — the DW pattern
    ``monotonically_increasing_id`` gets WRONG (its values depend on
    partition layout, so every rewrite renumbers the dimension): dense
    keys from row_number over a stable natural order, assigned on the
    distinct-value dimension (tiny), then broadcast back onto the fact.
    For fact-scale key assignment where even the distinct set is huge,
    use the two-phase global prefix sum (operators/prefix.py) instead
    of a single-partition window.
    """
    o = _t(spark, sf_dir, "orders")
    dim = (
        o.select("o_orderpriority")
        .distinct()
        .withColumn(
            "priority_sk",
            F.row_number().over(Window.orderBy("o_orderpriority")),
        )
    )
    return (
        o.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("priority_sk", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("priority_sk")
    )


@query(
    "etl_fk_integrity",
    oracle="""
    WITH edge1 AS (
      SELECT 'customer.c_nationkey->nation.n_nationkey' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT c.c_nationkey) AS BIGINT) AS n_keys,
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND c.c_nationkey IS NOT NULL
                                      THEN c.c_nationkey END) AS BIGINT) AS n_orphan_keys,
             CAST(COUNT(CASE WHEN c.c_nationkey IS NULL THEN 1 END) AS BIGINT) AS n_null_rows
      FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
        ON c.c_nationkey = p.k
    ), edge2 AS (
      SELECT 'events.user_id->customer.c_custkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT e.user_id) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND e.user_id IS NOT NULL
                                      THEN e.user_id END) AS BIGINT),
             CAST(COUNT(CASE WHEN e.user_id IS NULL THEN 1 END) AS BIGINT)
      FROM events e LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        ON e.user_id = p.k
    ), edge3 AS (
      SELECT 'lineitem.l_orderkey->orders.o_orderkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND l.l_orderkey IS NOT NULL
                                      THEN l.l_orderkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN l.l_orderkey IS NULL THEN 1 END) AS BIGINT)
      FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey AS k FROM orders) p
        ON l.l_orderkey = p.k
    ), edge4 AS (
      SELECT 'lineitem.l_partkey->part.p_partkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l.l_partkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND l.l_partkey IS NOT NULL
                                      THEN l.l_partkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN l.l_partkey IS NULL THEN 1 END) AS BIGINT)
      FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey AS k FROM part) p
        ON l.l_partkey = p.k
    ), edge5 AS (
      SELECT 'lineitem.l_suppkey->supplier.s_suppkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND l.l_suppkey IS NOT NULL
                                      THEN l.l_suppkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN l.l_suppkey IS NULL THEN 1 END) AS BIGINT)
      FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey AS k FROM supplier) p
        ON l.l_suppkey = p.k
    ), edge6 AS (
      SELECT 'nation.n_regionkey->region.r_regionkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT n.n_regionkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND n.n_regionkey IS NOT NULL
                                      THEN n.n_regionkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN n.n_regionkey IS NULL THEN 1 END) AS BIGINT)
      FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey AS k FROM region) p
        ON n.n_regionkey = p.k
    ), edge7 AS (
      SELECT 'orders.o_custkey->customer.c_custkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND o.o_custkey IS NOT NULL
                                      THEN o.o_custkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN o.o_custkey IS NULL THEN 1 END) AS BIGINT)
      FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey AS k FROM customer) p
        ON o.o_custkey = p.k
    ), edge8 AS (
      SELECT 'supplier.s_nationkey->nation.n_nationkey' AS fk,
             CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT s.s_nationkey) AS BIGINT),
             CAST(COUNT(DISTINCT CASE WHEN p.k IS NULL AND s.s_nationkey IS NOT NULL
                                      THEN s.s_nationkey END) AS BIGINT),
             CAST(COUNT(CASE WHEN s.s_nationkey IS NULL THEN 1 END) AS BIGINT)
      FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey AS k FROM nation) p
        ON s.s_nationkey = p.k
    )
    SELECT * FROM edge1 UNION ALL SELECT * FROM edge2 UNION ALL
    SELECT * FROM edge3 UNION ALL SELECT * FROM edge4 UNION ALL
    SELECT * FROM edge5 UNION ALL SELECT * FROM edge6 UNION ALL
    SELECT * FROM edge7 UNION ALL SELECT * FROM edge8
    ORDER BY fk
    """,
)
def etl_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity report: one row per FK edge
    with row/key/orphan-key/null counts (etl/quality.py:fk_orphan_stats)
    — the cross-table member of the reference's specified quality tier
    (notebook cell-12 names unique-key/type/completeness; orphan FKs are
    what actually breaks the star-schema joins it builds). Each edge is
    distinct-parent-keys LEFT-joined under the child keys (broadcast for
    dims, shuffle-hash for the fact-fact edge) + one single-pass agg, so
    the whole report costs 8 bounded jobs at any corpus size.
    """
    from .etl.quality import fk_integrity_report

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    ev = _t(spark, sf_dir, "events")
    edges = [
        (c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation.n_nationkey", True),
        (ev, "user_id", c, "c_custkey", "events.user_id->customer.c_custkey", True),
        (li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders.o_orderkey", False),
        (li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part.p_partkey", True),
        (li, "l_suppkey", s, "s_suppkey", "lineitem.l_suppkey->supplier.s_suppkey", True),
        (n, "n_regionkey", r, "r_regionkey", "nation.n_regionkey->region.r_regionkey", True),
        (o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer.c_custkey", True),
        (s, "s_nationkey", n, "n_nationkey", "supplier.s_nationkey->nation.n_nationkey", True),
    ]
    return fk_integrity_report(edges)


@query(
    "etl_outlier_iqr",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders
    ), q AS (
      SELECT o_orderpriority,
             quantile_cont(c, 0.25) AS q1,
             quantile_cont(c, 0.75) AS q3,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM cents GROUP BY 1
    ), flagged AS (
      SELECT c.o_orderpriority, c.c, q.n_rows,
             q.q1 - 1.5 * (q.q3 - q.q1) AS lo,
             q.q3 + 1.5 * (q.q3 - q.q1) AS hi
      FROM cents c JOIN q USING (o_orderpriority)
    )
    SELECT o_orderpriority,
           CAST(MIN(n_rows) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN c < lo OR c > hi THEN 1 END) AS BIGINT) AS n_outliers,
           ROUND(MIN(lo) / 100.0, 4) AS lo_bound,
           ROUND(MIN(hi) / 100.0, 4) AS hi_bound
    FROM flagged
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def etl_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group robust outlier report (Tukey fences): order totals
    outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] per priority — the
    distribution-shape data-quality gate (z-scores break on heavy
    tails; quartiles don't). Money is floored to integer CENTS first
    (the repo's established codegen-path pattern), so quartile
    interpolation (×0.25/0.75) and the 1.5·IQR fences are exact binary
    fractions in BOTH engines — the outlier comparison is exact, never
    an fp-boundary coin flip. Plan: one grouped exact-percentile agg
    (bounded group count), fences broadcast back onto the fact, one
    counting agg. At 100 TB swap the exact percentile for the KLL
    sketch (ts_rolling_median_kll) — same plan shape.
    """
    o = _t(spark, sf_dir, "orders")
    cents = _iqr_cents(o)
    q = cents.groupBy("o_orderpriority").agg(
        F.percentile("c", 0.25).alias("q1"),
        F.percentile("c", 0.75).alias("q3"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return _iqr_fence_report(cents, q)


def _iqr_cents(o: DataFrame) -> DataFrame:
    return o.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )


def _iqr_fence_report(cents: DataFrame, q: DataFrame) -> DataFrame:
    """Shared Tukey-fence tail: broadcast the per-group quartiles back
    onto the fact, count fence violations per group."""
    flagged = cents.join(F.broadcast(q), "o_orderpriority").select(
        "o_orderpriority", "c", "n_rows",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.min("n_rows").cast("bigint").alias("n_rows"),
            F.count(
                F.when((F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi")), F.lit(1))
            ).alias("n_outliers"),
            F.round(F.min("lo") / 100.0, 4).alias("lo_bound"),
            F.round(F.min("hi") / 100.0, 4).alias("hi_bound"),
        )
        .orderBy("o_orderpriority")
    )


@query("etl_outlier_iqr_kll")
def etl_outlier_iqr_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``etl_outlier_iqr``: identical Tukey-fence
    report, but the per-group quartiles come from GROUPED Datasketches
    KLL sketches (``kll_sketch_agg_double`` per priority, k=400)
    instead of the exact grouped percentile, whose ObjectHashAggregate
    buffers every group's values. One sketch per group is a few KB
    regardless of group size, and sketch partials merge map-side — the
    per-group twin of ``etl_psi_drift_kll``'s global swap. Rows-only by
    nature (estimator); differential-tested against the exact entry in
    ``tests/test_etl.py`` (fences within KLL rank error, outlier counts
    within the corresponding mass tolerance).
    """
    o = _t(spark, sf_dir, "orders")
    cents = _iqr_cents(o)
    q = (
        cents.groupBy("o_orderpriority")
        .agg(
            F.kll_sketch_agg_double(F.col("c").cast("double"), F.lit(400)).alias("sk"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )
        .select(
            "o_orderpriority", "n_rows",
            F.kll_sketch_get_quantile_double("sk", F.lit(0.25)).alias("q1"),
            F.kll_sketch_get_quantile_double("sk", F.lit(0.75)).alias("q3"),
        )
    )
    return _iqr_fence_report(cents, q)


@query(
    "etl_psi_drift",
    oracle="""
    WITH cents AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
             (CAST(o_orderdate AS DATE) < DATE '1998-01-01') AS is_ref
      FROM orders
    ), bounds AS (
      SELECT quantile_cont(c, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM cents WHERE is_ref
    ), binned AS (
      SELECT CAST(LEN(list_filter(b.bs, x -> x <= cn.c)) AS INT) AS bucket,
             cn.is_ref
      FROM cents cn, bounds b
    ), counts AS (
      SELECT bucket,
             CAST(COUNT(CASE WHEN is_ref THEN 1 END) AS BIGINT) AS n_ref,
             CAST(COUNT(CASE WHEN NOT is_ref THEN 1 END) AS BIGINT) AS n_cur
      FROM binned GROUP BY bucket
    ), tot AS (
      SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts
    ), terms AS (
      SELECT bucket, n_ref, n_cur,
             CAST((GREATEST(n_cur * 1.0 / t.t_cur, 1e-6)
                   - GREATEST(n_ref * 1.0 / t.t_ref, 1e-6))
                  * LN(GREATEST(n_cur * 1.0 / t.t_cur, 1e-6)
                       / GREATEST(n_ref * 1.0 / t.t_ref, 1e-6))
                  AS DECIMAL(28, 15)) AS d
      FROM counts, tot t
    )
    SELECT bucket, n_ref, n_cur,
           ROUND(CAST(d AS DOUBLE), 6) AS psi_term,
           ROUND(CAST(SUM(d) OVER () AS DOUBLE), 6) AS psi_total
    FROM terms ORDER BY bucket
    """,
)
def etl_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference period (orders
    before 1998) and the current period — THE standard production
    drift gate for a numeric feature (PSI < 0.1 stable, > 0.25 shifted)
    run before a model or mix decision consumes a new data slice.
    Bins are the reference period's own deciles, so the report reads
    "how did the current mass move across the old quantiles". Money is
    integer CENTS (codegen-path pattern); decile boundaries come from
    one exact-percentile pass over the reference slice (at 100 TB swap
    in the KLL sketch — same plan, same swap as etl_outlier_iqr);
    bucket assignment is a 9-element broadcast array scanned with a
    codegen lambda (count of boundaries <= value), so the fact table
    is read ONCE and never shuffled by value. Both probability floors
    (1e-6, the standard empty-bin guard) and the per-bucket PSI term
    use identical double expression trees in both engines; terms are
    summed as DECIMAL (exact, order-free) and rounded at the boundary,
    so the total is partitioning-exact.
    """
    o = _t(spark, sf_dir, "orders")
    cents = _psi_cents(o)
    bounds = (
        cents.where("is_ref")
        .agg(F.percentile("c", F.lit([i / 10 for i in range(1, 10)])).alias("bs"))
    )
    return _psi_report(cents, bounds)


def _psi_cents(o: DataFrame) -> DataFrame:
    return o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
        (F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date")).alias(
            "is_ref"
        ),
    )


def _psi_report(cents: DataFrame, bounds: DataFrame) -> DataFrame:
    """Shared PSI tail: bin against a 1-row broadcast boundary array,
    count per bucket, decimal-sum the floored PSI terms (metric
    definition single-sourced in ``functions.drift``)."""
    from .functions.drift import bucket_expr, psi_term

    binned = cents.join(F.broadcast(bounds)).select(
        bucket_expr("bs", "c").alias("bucket"), "is_ref"
    )
    counts = binned.groupBy("bucket").agg(
        F.count(F.when(F.col("is_ref"), F.lit(1))).cast("bigint").alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), F.lit(1))).cast("bigint").alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    terms = counts.join(F.broadcast(tot)).select(
        "bucket", "n_ref", "n_cur",
        psi_term(
            F.col("n_cur") * 1.0 / F.col("t_cur"),
            F.col("n_ref") * 1.0 / F.col("t_ref"),
        ).alias("d"),
    )
    w = Window.partitionBy()
    return terms.select(
        "bucket", "n_ref", "n_cur",
        F.round(F.col("d").cast("double"), 6).alias("psi_term"),
        F.round(F.sum("d").over(w).cast("double"), 6).alias("psi_total"),
    ).orderBy("bucket")


@query("etl_psi_drift_kll")
def etl_psi_drift_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of ``etl_psi_drift``: identical report, but the
    reference-decile boundaries come from a Datasketches KLL quantile
    sketch (``kll_sketch_agg_double``, k=400) instead of the exact
    percentile. The exact percentile is an ObjectHashAggregate that
    buffers every group value; the KLL sketch is a mergeable few-KB
    summary whose partials combine map-side — the only quantile form
    that survives a 100 TB reference slice. Rank error at k=400 is
    ~0.36% (Datasketches bound), so bucket populations deviate from
    exact deciles by at most that rank slice; the PSI TAIL is the same
    shared plan as the exact entry. Rows-only by nature (the sketch is
    an estimator — no SQL oracle can reproduce its boundaries);
    differential-tested against the exact entry in
    ``tests/test_etl.py`` (identical-distribution PSI stays ~0 and
    the two entries' totals agree within the rank-error tolerance).
    """
    o = _t(spark, sf_dir, "orders")
    cents = _psi_cents(o)
    sk = cents.where("is_ref").agg(
        F.kll_sketch_agg_double(F.col("c").cast("double"), F.lit(400)).alias("sk")
    )
    bounds = sk.select(
        F.array(
            *[
                F.kll_sketch_get_quantile_double("sk", F.lit(i / 10))
                for i in range(1, 10)
            ]
        ).alias("bs")
    )
    return _psi_report(cents, bounds)


@query(
    "etl_benford_report",
    oracle="""
    WITH cents AS (
      SELECT CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem WHERE l_extendedprice > 0
    ), counts AS (
      SELECT CAST(SUBSTR(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM cents WHERE c >= 1 GROUP BY 1
    ), tot AS (SELECT SUM(n) AS t FROM counts),
    terms AS (
      SELECT digit, n, t.t,
             n * 1.0 / t.t AS p_obs,
             LN(1.0 + 1.0 / digit) / LN(10.0) AS p_exp
      FROM counts, tot t
    )
    SELECT digit, n,
           ROUND(p_obs, 6) AS p_obs,
           ROUND(p_exp, 6) AS p_benford,
           ROUND(ABS(p_obs - p_exp), 6) AS abs_dev,
           ROUND(CAST(SUM(CAST((p_obs - p_exp) * (p_obs - p_exp) / p_exp
                               AS DECIMAL(28, 15))) OVER () AS DOUBLE) * t, 4)
             AS chi2
    FROM terms ORDER BY digit
    """,
)
def etl_benford_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over line-item prices —
    the classic fabricated-amounts / upstream-generator sanity check a
    warehouse runs on money columns (organic amounts follow
    P(d) = log10(1 + 1/d); synthetic or truncated feeds don't). The
    leading digit is taken from the DECIMAL STRING of integer cents
    (scaling by 100 preserves the leading significant digit), never via
    floating log10 — so digit extraction has no fp boundary. One
    9-group aggregate over the fact; observed shares, Benford expected
    shares, and the chi-square statistic use identical double trees in
    both engines with the chi-square terms summed as DECIMAL (exact,
    order-free). Plan: single scan, single tiny shuffle (9 groups),
    1-row total broadcast back — linear and partitioning-exact at any
    scale.
    """
    l = _t(spark, sf_dir, "lineitem")
    counts = (
        l.where(F.col("l_extendedprice") > 0)
        .select(
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("c")
        )
        # amounts in (0, 0.005) round to 0 cents → digit 0, where the
        # Benford expectation log10(1 + 1/0) diverges (Spark Infinity vs
        # DuckDB NULL); zero-cent rows carry no leading significant digit
        .where(F.col("c") >= 1)
        .select(F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("t"))
    p_obs = F.col("n") * 1.0 / F.col("t")
    p_exp = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    terms = counts.join(F.broadcast(tot)).select(
        "digit", "n", "t",
        p_obs.alias("p_obs"), p_exp.alias("p_exp"),
        ((p_obs - p_exp) * (p_obs - p_exp) / p_exp)
        .cast("decimal(28,15)")
        .alias("chi_d"),
    )
    w = Window.partitionBy()
    return terms.select(
        "digit", "n",
        F.round("p_obs", 6).alias("p_obs"),
        F.round("p_exp", 6).alias("p_benford"),
        F.round(F.abs(F.col("p_obs") - F.col("p_exp")), 6).alias("abs_dev"),
        F.round(F.sum("chi_d").over(w).cast("double") * F.col("t"), 4).alias("chi2"),
    ).orderBy("digit")
