"""Source readers (SURVEY.md §2 A1-A3, B8, C-scan).

The reference reads CSV with ``inferSchema=True`` (reference:
dags/transform/airport.py:5) — a double scan of the file and a correctness
hazard at 100 TB (a single dirty partition silently flips a column to
string). Every reader here takes an *explicit* schema; inference is
opt-in for exploration only.

SAS7BDAT: the reference uses the ``saurfang:spark-sas7bdat`` package
(reference: dags/libs/lib.py:139, notebook cell-5). That jar is not on this
classpath, so :func:`read_sas` tries the Spark data-source first and falls
back to a pandas ``read_sas`` → Arrow → DataFrame path, which is fine for
the dimension-sized SAS files the capstone actually ships; at scale you
pre-convert to parquet once (exactly what notebook cell-6 does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    sep: str = ",",
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan with explicit schema (reference: dags/transform/airport.py:5).

    With a schema, Spark scans the file once and Catalyst can prune
    columns; with ``schema=None`` we fall back to inference (two scans —
    exploration only).
    """
    reader = spark.read.options(header=str(header).lower(), sep=sep, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_semicolon_csv(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options: str
) -> DataFrame:
    """Semicolon-delimited CSV (reference: us-cities-demographics.csv:1)."""
    return read_csv(spark, path, schema=schema, sep=";", **options)


def read_parquet(spark: SparkSession, path: str, *more_paths: str) -> DataFrame:
    """Parquet scan (reference: notebook cell-6 ``spark.read.parquet``).

    Columnar + statistics: Catalyst gets predicate pushdown, column
    pruning, and partition pruning for free.
    """
    return spark.read.parquet(path, *more_paths)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options: str
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | str | None = None,
    **options: str,
) -> DataFrame:
    """XML scan (built-in data source since Spark 4.0). Explicit schema
    as elsewhere — XML inference is an extra pass and type-unstable."""
    reader = spark.read.format("xml").option("rowTag", row_tag).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A driver-born small table (label dims, lookup lists, one-row
    results) as a JVM-local ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    ``parallelize`` RDD, so every plan that scans it starts a Python
    worker stage. Handing Spark a ``pyarrow.Table`` typed by the schema
    instead ships the rows to the JVM once, as Arrow, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says; the scan is a
    ``LocalTableScan`` with exact size statistics. Column types and
    nullability are the schema's; a null in a non-nullable column raises
    as the pickled path's schema check did.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)]
    for a, f in zip(arrays, arrow_schema):
        if not f.nullable and a.null_count:
            raise ValueError(f"local_frame: null in non-nullable column {f.name!r}")
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema), schema)


def read_sas(spark: SparkSession, path: str) -> DataFrame:
    """SAS7BDAT scan (reference: notebook cell-5, dags/libs/lib.py:139).

    Preference order:
    1. the ``com.github.saurfang.sas.spark`` data source if its jar is on
       the classpath (what the reference pins through Livy conf);
    2. pandas ``read_sas`` via Arrow — single-node, acceptable for the
       dimension-scale SAS files in the capstone; for a 100 TB fact you
       convert once to parquet and never re-read the SAS binary.
    """
    try:
        return spark.read.format("com.github.saurfang.sas.spark").load(path)
    except Exception:
        pass
    import pandas as pd

    pdf = pd.read_sas(path)
    # decode bytes columns produced by pandas' SAS reader
    for col in pdf.columns:
        if pdf[col].dtype == object:
            pdf[col] = pdf[col].apply(lambda v: v.decode("latin-1") if isinstance(v, bytes) else v)
    if str(path).lower().endswith((".xpt", ".xport")):
        # pandas' XPORT IBM-float decoder doesn't special-case zero: the
        # all-zero-bytes encoding of 0.0 comes back as exactly ±2^-260
        # (below IBM hex-float's smallest normal 16^-64, so the value is
        # unreachable from real data). Snap it back.
        bug = 2.0**-260
        for col in pdf.columns:
            if pdf[col].dtype == "float64":
                pdf[col] = pdf[col].mask(pdf[col].abs() == bug, 0.0)
    return spark.createDataFrame(pdf)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    **options: str,
) -> DataFrame:
    """JDBC scan (SURVEY.md §2 C-scan), integration-tested against the
    embedded Derby that ships in Spark's jars (scan_jdbc_roundtrip).
    WITHOUT the partition-column bounds Spark reads the whole table
    through ONE connection; with them it issues ``num_partitions``
    bounded range queries in parallel, which is the only scalable form.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
