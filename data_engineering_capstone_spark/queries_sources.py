"""Source/sink-tier catalog queries (SURVEY.md §2 A1-A5, B8, B14, C-scan).

Round-trip pattern: materialize a table through each format with an
EXPLICIT schema (the engine's rule — the reference's ``inferSchema=True``
double-scans and type-drifts, dags/transform/airport.py:5), read it back,
aggregate. The oracle aggregates the original parquet directly, so any
loss or corruption in the format hop breaks parity.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import query
from .session import prep, scratch_dir
from .sources.readers import read_csv, read_json, read_orc, read_semicolon_csv
from .sources.testdata import load_table as _t


_NATION_AGG = """
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
"""

CUSTOMER_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


def _roundtrip_agg(spark: SparkSession, sf_dir: str, customers: DataFrame) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return (
        customers.join(F.broadcast(n), customers.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("nation")
    )


@query(
    "scan_parquet_schema_evolution",
    oracle="""
    SELECT 1 AS batch, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_region_nonnull,
           CAST(NULL AS BIGINT) AS region_sum
    FROM nation
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(COUNT(n_regionkey) AS BIGINT),
           CAST(SUM(n_regionkey) AS BIGINT)
    FROM nation
    ORDER BY batch
    """,
)
def scan_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: an early batch written WITHOUT
    n_regionkey and a later batch WITH it land in one dataset directory;
    ``mergeSchema=true`` reads the union schema and backfills nulls for
    the pre-drift files. This is how multi-year 100 TB datasets actually
    look — columns appear over time, and the scan must reconcile footers
    per file instead of trusting the first one (mergeSchema costs a
    footer read per file, so production defaults it OFF and flips it on
    for drifted datasets; at scale, prefer an explicit schema). The
    oracle recomputes each batch's expected profile from the source
    nation view.
    """
    n = _t(spark, sf_dir, "nation")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "schema_evo")
    shutil.rmtree(path, ignore_errors=True)
    n.select("n_nationkey", "n_name", F.lit(1).alias("batch")).write.parquet(path)
    n.select(
        "n_nationkey", "n_name", "n_regionkey", F.lit(2).alias("batch")
    ).write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.groupBy("batch")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_regionkey").alias("n_region_nonnull"),
            F.sum("n_regionkey").cast("bigint").alias("region_sum"),
        )
        .orderBy("batch")
    )


@query(
    "scan_npy_roundtrip",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS row_idx,
           CAST(len(embedding) AS INT) AS dim,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)))
                AS BIGINT) AS checksum
    FROM embeddings ORDER BY row_idx
    """,
)
def scan_npy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy ``.npy`` scan — the ML-artifact interchange format for
    embedding matrices, read DISTRIBUTED via a Spark 4 Python
    DataSource (sources/npy.py): the driver parses only the NEP-1
    header for shape/dtype, each partition seeks its own row-aligned
    byte range (rowsPerPartition=64 forces 8 parallel range reads even
    on this 500-row fixture). The embeddings table is written to a real
    .npy (spec-faithful v1.0 writer, float32) sorted by vec_id, read
    back, and checksummed per row with integer (order-safe, f4→f8-exact)
    arithmetic the oracle mirrors from the source view.

    The WRITE path (collect → np.array → write_npy) is driver-side by
    construction and fixture-scale only — .npy is a single
    contiguous-header file, so a distributed writer needs the Avro-sink
    pattern (sources/avroplain.py: per-partition container files) if it
    is ever needed; the distributed half of this entry is the READ.
    """
    import numpy as np

    from .sources.npy import NpyDataSource, write_npy

    e = _t(spark, sf_dir, "embeddings")
    rows = e.select("vec_id", "embedding").orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32)
    path = os.path.join(
        scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/"))), "embeddings.npy"
    )
    write_npy(path, mat)
    try:
        spark.dataSource.register(NpyDataSource)
    except Exception:
        pass  # already registered in this session
    back = (
        spark.read.format("npy")
        .option("path", path)
        .option("rowsPerPartition", 64)
        .load()
    )
    checksum = F.aggregate(
        F.col("value"),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.floor(x.cast("double") * 10000 + F.lit(0.5)).cast("long"),
    )
    return back.select(
        "row_idx",
        F.size("value").cast("int").alias("dim"),
        checksum.alias("checksum"),
    ).orderBy("row_idx")


@query("scan_csv_roundtrip", oracle=_NATION_AGG)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-shaped CSV scan with explicit schema: customer → CSV → read →
    broadcast-join + agg. One scan, no inference pass, types pinned
    (reference: dags/transform/airport.py:5 does the opposite).
    """
    c = _t(spark, sf_dir, "customer")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_csv")
    shutil.rmtree(path, ignore_errors=True)
    c.write.mode("overwrite").option("header", True).csv(path)
    back = read_csv(spark, path, schema=CUSTOMER_SCHEMA)
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_semicolon_csv_roundtrip", oracle=_NATION_AGG)
def scan_semicolon_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: semicolon-delimited CSV (the demographics file's dialect,
    reference: us-cities-demographics.csv:1) through the same round trip.
    """
    c = _t(spark, sf_dir, "customer")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_scsv")
    shutil.rmtree(path, ignore_errors=True)
    c.write.mode("overwrite").option("header", True).option("sep", ";").csv(path)
    back = read_semicolon_csv(spark, path, schema=CUSTOMER_SCHEMA)
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_json_roundtrip", oracle=_NATION_AGG)
def scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-scan: JSON lines round trip with explicit schema (schema-on-read
    JSON without inference: one scan, stable types)."""
    c = _t(spark, sf_dir, "customer")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_json")
    shutil.rmtree(path, ignore_errors=True)
    c.write.mode("overwrite").json(path)
    back = read_json(spark, path, schema=CUSTOMER_SCHEMA)
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_xml_roundtrip", oracle=_NATION_AGG)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-scan: XML round trip through the built-in Spark 4 XML source
    (rowTag records, explicit schema — no inference pass). The
    slow-but-everywhere interchange format; correctness-critical because
    every value crosses a text boundary.
    """
    from .sources.readers import read_xml

    c = _t(spark, sf_dir, "customer")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_xml")
    shutil.rmtree(path, ignore_errors=True)
    c.write.mode("overwrite").option("rowTag", "customer").format("xml").save(path)
    back = read_xml(spark, path, row_tag="customer", schema=CUSTOMER_SCHEMA)
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_orc_roundtrip", oracle=_NATION_AGG)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-scan: ORC round trip — the other columnar format (predicate
    pushdown + pruning like parquet)."""
    c = _t(spark, sf_dir, "customer")
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_orc")
    shutil.rmtree(path, ignore_errors=True)
    c.write.mode("overwrite").orc(path)
    back = read_orc(spark, path)
    return _roundtrip_agg(spark, sf_dir, back)


@query(
    "bucketed_join_zero_shuffle",
    oracle="""
    SELECT l.l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE) AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1 ORDER BY 1
    """,
)
def bucketed_join_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join (B14/§3 of SCALE.md): lineitem and orders
    both bucketed+sorted on orderkey into a /tmp-backed database; the
    join then needs NO shuffle of either side (tests/test_sources.py
    asserts the plan has no Exchange above the scans). At 100 TB this is
    the lever that turns the repeated fact⋈fact join from an hours-long
    shuffle into a map-side merge.
    """
    prep(spark)
    # the tableExists cache avoids rewrites within a session
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"bucketdb_{sf_tag}"
    loc = scratch_dir(spark, "bucketdb", sf_tag)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    l_tbl, o_tbl = f"{db}.lineitem_b", f"{db}.orders_b"
    if not spark.catalog.tableExists(l_tbl):
        from .sources.writers import write_bucketed_table

        # the metastore is per-session but table files persist: clear any
        # stale location from a previous session before re-registering
        for leaf in ("lineitem_b", "orders_b"):
            shutil.rmtree(os.path.join(loc, leaf), ignore_errors=True)
        li = _t(spark, sf_dir, "lineitem")
        # bucket count SCALES with the fact (round-9 fix: a fixed 16
        # buckets means each bucketed-write task sorts corpus/16 rows —
        # 9.6M wide rows/task at the 256× replica OOM'd the sorter pool,
        # and at 100 TB a fixed count is a non-starter by construction).
        # ~4M rows per bucket keeps the per-task sort bounded at any SF;
        # both tables MUST share the count or the join re-shuffles.
        # Row count comes from parquet FOOTERS (sources/pqmeta.py), not
        # li.count() — the count() added a full extra fact scan per
        # first materialization (round-9 ADVICE). Note the count is read
        # once at first write: a warehouse that outlives a scale change
        # must be dropped and rebuilt (the per-scale db name and the
        # per-process location above already guarantee that here).
        from .sources.pqmeta import parquet_row_count

        try:
            n_rows = parquet_row_count(f"{sf_dir}/lineitem.parquet")
        except (OSError, ValueError):
            # remote FS: parquet count(*) is metadata-only — one cheap job
            n_rows = li.count()
        n_buckets = max(16, n_rows // 4_000_000 + 1)
        write_bucketed_table(li, l_tbl,
                             ["l_orderkey"], n_buckets, sort_cols=["l_orderkey"])
        write_bucketed_table(_t(spark, sf_dir, "orders"), o_tbl,
                             ["o_orderkey"], n_buckets, sort_cols=["o_orderkey"])
    l = spark.table(l_tbl)
    o = spark.table(o_tbl).filter(F.col("o_orderstatus") == "F")
    # pin sort-merge: at test SFs the orders side would auto-broadcast,
    # which hides the zero-shuffle property under test; a real fact⋈fact
    # join is SMJ regardless
    joined = l.hint("merge").join(o, l.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).cast("double").alias("total"),
        )
        .orderBy("l_returnflag")
    )


@query("scan_jdbc_roundtrip", oracle=_NATION_AGG)
def scan_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-scan: JDBC round trip against an embedded Derby database (the
    JDBC driver that ships with Spark's own jars). customer is written
    through the JDBC sink, then read back with partition-column bounds —
    ``numPartitions`` bounded range queries in parallel, the only JDBC
    read form that scales (a boundless read funnels the table through
    ONE connection). Embedded Derby is single-JVM; a fresh per-process
    directory avoids cross-process lock contention.
    """
    from .sources.readers import read_jdbc

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    db_dir = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "jdbc")
    shutil.rmtree(db_dir, ignore_errors=True)
    url = f"jdbc:derby:{db_dir}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    (
        c.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "customer")
        .option("driver", driver)
        .mode("overwrite")
        .save()
    )
    hi = c.agg(F.max("c_custkey")).collect()[0][0]
    back = read_jdbc(
        spark,
        url,
        "customer",
        partition_column="c_custkey",
        lower_bound=0,
        upper_bound=int(hi) + 1,
        num_partitions=4,
        driver=driver,
    )
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_sas_roundtrip", oracle=_NATION_AGG)
def scan_sas_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: SAS scan, exercised end-to-end. customer is serialized as SAS
    XPORT v5 (sources/xport.py — card records, big-endian NAMESTR, IBM
    hex-float numerics; every IEEE double converts exactly) and read
    back through :func:`read_sas`'s pandas fallback — two independent
    codecs, so a single flipped bit breaks parity. Field widths keep the
    record at 80 bytes (card-aligned). The writer collects to the driver
    by design: SAS interchange files are dimension-scale; a 100 TB fact
    gets converted to parquet once (reference: notebook cell-6) and
    never re-read as SAS.
    """
    from .sources.readers import read_sas
    from .sources.xport import write_xport

    c = _t(spark, sf_dir, "customer")
    rows = [
        (float(r["c_custkey"]), r["c_name"], float(r["c_nationkey"]),
         float(r["c_acctbal"]), r["c_mktsegment"])
        for r in c.collect()
    ]
    cols = [
        ("CUSTKEY", "num", 8),
        ("NAME", "char", 48),
        ("NATKEY", "num", 8),
        ("ACCTBAL", "num", 8),
        ("MKTSEG", "char", 16),
    ]
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_xpt")
    fp = os.path.join(path, "customer.xpt")
    write_xport(fp, cols, rows, dsname="CUSTOMER")
    back = read_sas(spark, fp).select(
        F.col("CUSTKEY").cast("long").alias("c_custkey"),
        F.trim(F.col("NAME")).alias("c_name"),
        F.col("NATKEY").cast("int").alias("c_nationkey"),
        F.col("ACCTBAL").alias("c_acctbal"),
        F.trim(F.col("MKTSEG")).alias("c_mktsegment"),
    )
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_xport_distributed", oracle=_NATION_AGG)
def scan_xport_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 DataSource API): the SAS XPORT
    file from scan_sas_roundtrip's writer read back DISTRIBUTED — the
    driver parses only the header for the schema; executors decode
    record-aligned byte ranges in parallel with the pure-Python IBM
    codec (sources/pyds.py). Contrast with read_sas's pandas fallback,
    which funnels the whole file through the driver. rowsPerPartition
    forces >1 partition even at sf0.001, so the parallel path is what
    parity checks.
    """
    from .sources.pyds import XportDataSource
    from .sources.xport import write_xport

    c = _t(spark, sf_dir, "customer")
    rows = [
        (float(r["c_custkey"]), r["c_name"], float(r["c_nationkey"]),
         float(r["c_acctbal"]), r["c_mktsegment"])
        for r in c.collect()
    ]
    cols = [
        ("CUSTKEY", "num", 8),
        ("NAME", "char", 48),
        ("NATKEY", "num", 8),
        ("ACCTBAL", "num", 8),
        ("MKTSEG", "char", 16),
    ]
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_xpt_ds")
    fp = os.path.join(path, "customer.xpt")
    write_xport(fp, cols, rows, dsname="CUSTOMER")
    try:
        spark.dataSource.register(XportDataSource)
    except Exception:
        pass  # already registered in this session
    back = (
        spark.read.format("xport")
        .option("path", fp)
        .option("rowsPerPartition", "128")
        .load()
        .select(
            F.col("CUSTKEY").cast("long").alias("c_custkey"),
            F.col("NAME").alias("c_name"),
            F.col("NATKEY").cast("int").alias("c_nationkey"),
            F.col("ACCTBAL").alias("c_acctbal"),
            F.col("MKTSEG").alias("c_mktsegment"),
        )
    )
    return _roundtrip_agg(spark, sf_dir, back)


@query(
    "scan_csv_malformed",
    oracle="""
    WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderkey < 100)
    SELECT 'dropmalformed' AS mode,
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 <> 0) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_corrupt
    FROM base
    UNION ALL
    SELECT 'permissive',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE o_orderkey % 10 = 0) AS BIGINT)
    FROM base
    ORDER BY mode
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record policy on CSV ingest: rows whose numeric field
    is garbage under PERMISSIVE (kept, nulled, captured in
    ``_corrupt_record``) vs DROPMALFORMED (silently dropped) — the
    dirty-data contract every 100 TB ingest needs pinned, and the
    scaled-up answer to the reference's infer-and-hope read
    (reference: dags/transform/airport.py:5). FAILFAST is the third
    mode; tests assert it raises. Corruption is injected
    deterministically (every 10th key) so the oracle derives the same
    counts relationally.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    keys = [r["o_orderkey"] for r in o.select("o_orderkey").collect()]
    lines = ["k,price"] + [
        f"{k},{'NOT_A_NUMBER' if k % 10 == 0 else '1.5'}" for k in sorted(keys)
    ]
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "malformed_csv")
    with open(os.path.join(path, "data.csv"), "w") as f:
        f.write("\n".join(lines))

    schema = "k bigint, price double, _corrupt_record string"
    permissive = (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
        # Spark refuses aggregates that reference ONLY the corrupt
        # column over a raw scan; materialize the tiny parsed frame
        # (localCheckpoint, not cache — cache pollutes plan
        # canonicalization session-wide, see llm/dedup.py)
        .localCheckpoint(eager=True)
    )
    perm_stats = permissive.select(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("_corrupt_record").alias("n_corrupt"),
    ).select(F.lit("permissive").alias("mode"), "n_rows", "n_corrupt")
    dropped = (
        spark.read.schema("k bigint, price double")
        .option("header", "true")
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )
    # CSV column pruning skips unreferenced fields, so a count that
    # touches no columns never even PARSES price — and nothing is
    # malformed. Count the fragile column itself: the parse is forced
    # and every surviving DROPMALFORMED row has it non-null.
    drop_stats = dropped.select(
        F.count("price").alias("n_rows"),
    ).select(
        F.lit("dropmalformed").alias("mode"),
        "n_rows",
        F.lit(0).cast("bigint").alias("n_corrupt"),
    )
    return drop_stats.unionByName(perm_stats).orderBy("mode")


@query(
    "scan_parquet_codecs",
    oracle="""
    SELECT c.codec,
           CAST((SELECT COUNT(*) FROM supplier) AS BIGINT) AS n,
           CAST((SELECT SUM(CAST(s_acctbal AS DECIMAL(12,2))) FROM supplier)
                AS DOUBLE) AS total_bal
    FROM (VALUES ('lz4'), ('snappy'), ('zstd')) c(codec)
    ORDER BY c.codec
    """,
)
def scan_parquet_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression codec matrix: supplier written and read back under
    snappy / zstd / lz4 — identical values regardless of codec (what
    the oracle pins). Codec choice is a pure storage/CPU trade at
    100 TB: zstd ~30-50% smaller than snappy at slightly higher CPU —
    the modern cold-data default; snappy/lz4 for hot paths. Sizes per
    codec are asserted in tests.
    """
    s = _t(spark, sf_dir, "supplier")
    outs = []
    for codec in ["lz4", "snappy", "zstd"]:
        path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), f"supplier_{codec}")
        shutil.rmtree(path, ignore_errors=True)
        s.write.option("compression", codec).parquet(path)
        back = spark.read.parquet(path)
        outs.append(
            back.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("s_acctbal").cast("decimal(12,2)"))
                .cast("double")
                .alias("total_bal"),
            ).select(F.lit(codec).alias("codec"), "n", "total_bal")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("codec")


@query("scan_avro_roundtrip", oracle=_NATION_AGG)
def scan_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro Object Container File scan — spec-faithful pure-Python codec
    (sources/avroplain.py; the container ships Avro core jars but not
    the spark-avro module, so the format is implemented from the public
    OCF spec instead of dropped): the customer table written deflate
    via the DISTRIBUTED avroplain writer (one part file per task —
    nothing is collected or encoded on the driver), read back through
    a Spark 4 Python DataSource whose partitions are block ranges
    (driver indexes block headers by seek/skip only; small blocks +
    blocksPerPartition=1 force the block-split parallel path even at
    sf0.001), then the same nation rollup as every scan roundtrip.
    """
    from .sources.avroplain import AvroPlainDataSource

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_acctbal", "c_mktsegment",
    )
    try:
        spark.dataSource.register(AvroPlainDataSource)
    except Exception:
        pass  # already registered in this session
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_avro")
    # Fixture written DISTRIBUTED (round-3 verdict: the old driver-side
    # collect + single-threaded encode dominated the entry's recorded
    # time at sf0.1 — 17.4 s of fixture for the scan under test; now
    # 4.4 s total warm). blockRows=256 keeps several blocks per part so
    # blocksPerPartition=1 still forces the block-split parallel read
    # path this entry exists to exercise.
    (
        c.repartition(8)
        .write.format("avroplain")
        .option("path", path)
        .option("codec", "deflate")
        .option("blockRows", "256")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("avroplain")
        .option("path", path)
        .option("blocksPerPartition", "1")
        .load()
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            F.col("c_acctbal"),
            F.col("c_mktsegment"),
        )
    )
    return _roundtrip_agg(spark, sf_dir, back)


@query("scan_sas7bdat_roundtrip", oracle=_NATION_AGG)
def scan_sas7bdat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAS7BDAT scan — the reference's actual ingest format (notebook
    cell-5; saurfang jar at dags/libs/lib.py:139). The customer sample
    is written as a real uncompressed 32-bit .sas7bdat by our own
    spec-faithful writer (sources/sas7bdat_writer.py — the container
    ships no SAS files, so the format is produced from the public
    layout documentation), then read back through read_sas's pandas
    fallback into Spark and rolled up like every scan roundtrip. This
    is the exact code path a user with a real .sas7bdat file hits when
    the saurfang jar is absent.
    """
    from .sources.readers import read_sas
    from .sources.sas7bdat_writer import write_sas7bdat

    c = _t(spark, sf_dir, "customer")
    rows = [
        (float(r["c_custkey"]), r["c_name"], float(r["c_nationkey"]),
         float(r["c_acctbal"]), r["c_mktsegment"])
        for r in c.collect()
    ]
    cols = [
        ("CUSTKEY", "num", 8),
        ("NAME", "char", 48),
        ("NATKEY", "num", 8),
        ("ACCTBAL", "num", 8),
        ("MKTSEG", "char", 16),
    ]
    path = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_sas7bdat")
    fp = os.path.join(path, "customer.sas7bdat")
    write_sas7bdat(fp, cols, rows, dataset="CUSTOMER", page_size=16384)
    back = read_sas(spark, fp).select(
        F.col("CUSTKEY").cast("long").alias("c_custkey"),
        F.trim(F.col("NAME")).alias("c_name"),
        F.col("NATKEY").cast("int").alias("c_nationkey"),
        F.col("ACCTBAL").alias("c_acctbal"),
        F.trim(F.col("MKTSEG")).alias("c_mktsegment"),
    )
    return _roundtrip_agg(spark, sf_dir, back)


@query("sink_avro_distributed", oracle=_NATION_AGG)
def sink_avro_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Avro SINK: the customer table written through the
    Python DataSourceWriter (each task serializes its partition with
    the pure-Python OCF codec into its own part file; _SUCCESS dropped
    only after every task commits, partial files removed on abort —
    sources/avroplain.py:AvroPlainWriter), then read back through the
    block-partitioned reader and rolled up against the usual oracle.
    Completes the custom-DataSource quadrant: batch read (avroplain,
    xport), stream read (events replay), batch write (this).
    """
    from .sources.avroplain import AvroPlainDataSource

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_acctbal", "c_mktsegment",
    )
    try:
        spark.dataSource.register(AvroPlainDataSource)
    except Exception:
        pass  # already registered in this session
    out = scratch_dir(spark, "fmt", os.path.basename(sf_dir.rstrip("/")), "customer_avro_sink")
    (
        c.repartition(4)
        .write.format("avroplain")
        .option("path", out)
        .option("codec", "deflate")
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("avroplain")
        .option("path", out)
        .load()
        .select(
            "c_custkey", "c_name",
            F.col("c_nationkey").cast("int").alias("c_nationkey"),
            "c_acctbal", "c_mktsegment",
        )
    )
    return _roundtrip_agg(spark, sf_dir, back)
