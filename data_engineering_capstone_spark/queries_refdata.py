"""Catalog queries over the reference's REAL data files.

Everything else in the catalog proves semantics on the driver-generated
synthetic tables; this module proves the PARSING — the same operators
run against the actual artifacts the reference ships:

* ``I94_SAS_Labels_Descriptions.SAS`` — 1,100 lines of ``proc format``
  value maps with comment blocks, collapsed 'No Country Code' labels,
  a doubled-quote escape ('INT''L FALLS, MN'), and the I94VISA map that
  exists only inside a comment (reference:
  I94_SAS_Labels_Descriptions.SAS:9-298,302-963,972-976,981-1036,1046-1050).
* ``us-cities-demographics.csv`` — the semicolon-delimited long-format
  demographics table (reference: us-cities-demographics.csv:1).
* ``sas_data/part-*.parquet`` — the 3,096,313-row April-2016 I-94 fact
  written by the reference's own notebook (cell-6) with Spark 2.x.
* ``immigration_data_sample.csv`` — 1,000-row CSV with a leading
  unnamed index column (reference: immigration_data_sample.csv:1).

Each oracle re-derives the result INDEPENDENTLY in DuckDB over the same
files — including a from-scratch regex re-parse of the SAS label file in
SQL — so label-parser and reader bugs cannot cancel out.

Scale note: the label file and CSVs are dimension-scale (KBs) and are
parsed driver-side then broadcast; the fact parquet flows through the
same clean → dates → broadcast-dim-join → rollup plan as the synthetic
e2e query, which is the shape that holds at 100 TB (fact never
shuffles before the pre-aggregated rollup).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import query
from .session import prep
from .sources.readers import local_frame

REF_DIR = os.environ.get("SPARK_GRAFT_REF_DIR", "/root/reference")
_LABELS = os.path.join(REF_DIR, "I94_SAS_Labels_Descriptions.SAS")
_DEMOGRAPHICS = os.path.join(REF_DIR, "us-cities-demographics.csv")
_SAS_DATA = os.path.join(REF_DIR, "sas_data")
_SAMPLE_CSV = os.path.join(REF_DIR, "immigration_data_sample.csv")


def _require(*paths: str) -> None:
    """Fail before any Spark work when a reference file is absent."""
    for path in paths:
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"reference input {path} is missing; point SPARK_GRAFT_REF_DIR at a "
                f"checkout of the reference (now {REF_DIR})"
            )


# friendly dim name per proc-format map name (SURVEY.md §1.1)
_DIM_NAMES = {
    "i94cntyl": "country",
    "i94prtl": "port",
    "i94model": "travel_mode",
    "i94addrl": "state",
}


def _real_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """Parse the real label file into the five broadcastable dims."""
    from .etl.sas_labels import (
        dim_from_map,
        parse_comment_value_map,
        parse_sas_value_maps,
    )

    with open(_LABELS, encoding="latin-1") as f:
        text = f.read()
    maps = parse_sas_value_maps(text)
    return {
        "country": dim_from_map(spark, maps["i94cntyl"], "code", "label"),
        "port": dim_from_map(spark, maps["i94prtl"], "code", "label"),
        "mode": dim_from_map(spark, maps["i94model"], "code", "label"),
        "state": dim_from_map(spark, maps["i94addrl"], "code", "label"),
        "visa": dim_from_map(
            spark, parse_comment_value_map(text, "I94VISA"), "code", "label"
        ),
    }


# The oracle's independent re-parse of the proc-format file: block and
# entry extraction as RE2 regexes over read_text, plus the I94VISA
# comment map — no shared code with etl/sas_labels.py.
_LABELS_ORACLE_CTE = f"""
  content AS (
    SELECT content AS c FROM read_text('{_LABELS}')
  ),
  blocks AS (
    SELECT unnest(regexp_extract_all(c, '(?s)value\\s+(\\$?\\w+).*?;', 0)) AS blk
    FROM content
  ),
  named AS (
    SELECT lower(ltrim(regexp_extract(blk, 'value\\s+(\\$?\\w+)', 1), '$')) AS fmt, blk
    FROM blocks
  ),
  entries AS (
    SELECT fmt,
           unnest(regexp_extract_all(
             blk, '(?:''(?:[^'']|'''')*''|[\\w.]+)\\s*=\\s*''(?:[^'']|'''')*''', 0)) AS e
    FROM named
  ),
  label_rows AS (
    SELECT CASE fmt WHEN 'i94cntyl' THEN 'country' WHEN 'i94prtl' THEN 'port'
                    WHEN 'i94model' THEN 'travel_mode' WHEN 'i94addrl' THEN 'state'
           END AS dim,
           trim(replace(coalesce(nullif(regexp_extract(e, '^''((?:[^'']|'''')*)''', 1), ''),
                                 regexp_extract(e, '^([\\w.]+)', 1)), '''''', '''')) AS code,
           trim(replace(regexp_extract(e, '=\\s*''((?:[^'']|'''')*)''\\s*$', 1),
                        '''''', '''')) AS label
    FROM entries
    UNION ALL
    SELECT 'visa_category' AS dim,
           regexp_extract(l, '(\\d+)\\s*=\\s*(\\w+)', 1) AS code,
           regexp_extract(l, '(\\d+)\\s*=\\s*(\\w+)', 2) AS label
    FROM (SELECT unnest(regexp_extract_all(
            regexp_extract(c, '(?s)/\\*\\s*I94VISA.*?\\*/', 0),
            '\\d+\\s*=\\s*\\w+', 0)) AS l
          FROM content)
  )
"""


@query(
    "ref_sas_labels_dims",
    oracle=f"""
    WITH {_LABELS_ORACLE_CTE}
    SELECT dim, code, label FROM label_rows ORDER BY dim, code
    """,
)
def ref_sas_labels_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/B4: parse the REAL reference label file into all five
    dimension tables (289 countries + 660 ports + 4 travel modes + 55
    states + 3 comment-encoded visa categories = 1,011 rows). The oracle
    re-parses the same file from scratch with RE2 regexes in DuckDB SQL.
    (reference: I94_SAS_Labels_Descriptions.SAS:9-1050)"""
    from .etl.sas_labels import parse_comment_value_map, parse_sas_value_maps

    _require(_LABELS)
    prep(spark)
    with open(_LABELS, encoding="latin-1") as f:
        text = f.read()
    maps = parse_sas_value_maps(text)
    maps["visa"] = parse_comment_value_map(text, "I94VISA")
    out_name = {
        "i94cntyl": "country",
        "i94prtl": "port",
        "i94model": "travel_mode",
        "i94addrl": "state",
        "visa": "visa_category",
    }
    # dimension-scale (1,011 rows): ONE local table for all five maps
    # beats five small Spark jobs + a union (measured ~8 s -> ~1 s; the
    # broadcast-join path keeps per-dim frames via _real_dims)
    rows = [
        (out_name[fmt], code, label)
        for fmt in ("i94cntyl", "i94prtl", "i94model", "i94addrl", "visa")
        for code, label in maps[fmt].items()
    ]
    res = local_frame(spark, rows, "dim string, code string, label string")
    return res.coalesce(1).orderBy("dim", "code")


_RACES = (
    ("White", "white"),
    ("Black or African-American", "black_or_african_american"),
    ("Asian", "asian"),
    ("Hispanic or Latino", "hispanic_or_latino"),
    ("American Indian and Alaska Native", "american_indian_and_alaska_native"),
)

_DEMO_SCHEMA = T.StructType(
    [
        T.StructField("City", T.StringType()),
        T.StructField("State", T.StringType()),
        T.StructField("Median Age", T.DoubleType()),
        T.StructField("Male Population", T.LongType()),
        T.StructField("Female Population", T.LongType()),
        T.StructField("Total Population", T.LongType()),
        T.StructField("Number of Veterans", T.LongType()),
        T.StructField("Foreign-born", T.LongType()),
        T.StructField("Average Household Size", T.DoubleType()),
        T.StructField("State Code", T.StringType()),
        T.StructField("Race", T.StringType()),
        T.StructField("Count", T.LongType()),
    ]
)


@query(
    "ref_demographics_race_pivot",
    oracle=f"""
    SELECT City AS city, "State Code" AS state_code, State AS state,
           "Median Age" AS median_age, "Total Population" AS total_population,
           CAST(SUM(CASE WHEN Race = 'White' THEN Count END) AS BIGINT) AS white,
           CAST(SUM(CASE WHEN Race = 'Black or African-American' THEN Count END)
             AS BIGINT) AS black_or_african_american,
           CAST(SUM(CASE WHEN Race = 'Asian' THEN Count END) AS BIGINT) AS asian,
           CAST(SUM(CASE WHEN Race = 'Hispanic or Latino' THEN Count END)
             AS BIGINT) AS hispanic_or_latino,
           CAST(SUM(CASE WHEN Race = 'American Indian and Alaska Native' THEN Count END)
             AS BIGINT) AS american_indian_and_alaska_native
    FROM read_csv('{_DEMOGRAPHICS}', delim=';', header=true)
    GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2
    """,
)
def ref_demographics_race_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8+B9 on the REAL file: semicolon-CSV scan with an explicit
    schema, then the long→wide race pivot — one row per (city, state),
    596 rows. The city-level attributes ride in the group-by (verified
    consistent per city in the source). (reference:
    us-cities-demographics.csv:1, SURVEY.md §1.3)"""
    from .operators.pivot import pivot_wide
    from .sources.readers import read_semicolon_csv

    _require(_DEMOGRAPHICS)
    prep(spark)
    df = read_semicolon_csv(spark, _DEMOGRAPHICS, schema=_DEMO_SCHEMA, header="true")
    df = df.select(
        F.col("City").alias("city"),
        F.col("State Code").alias("state_code"),
        F.col("State").alias("state"),
        F.col("Median Age").alias("median_age"),
        F.col("Total Population").alias("total_population"),
        F.col("Race").alias("race"),
        F.col("Count").alias("cnt"),
    )
    wide = pivot_wide(
        df,
        ["city", "state_code", "state", "median_age", "total_population"],
        "race",
        [r for r, _ in _RACES],
        "cnt",
    )
    for r, alias in _RACES:
        wide = wide.withColumnRenamed(r, alias)
    return wide.orderBy("city", "state_code")


@query(
    "ref_i94_star_rollup",
    oracle=f"""
    WITH {_LABELS_ORACLE_CTE},
    fact AS (
      SELECT * FROM read_parquet('{_SAS_DATA}/*.parquet')
      WHERE cicid IS NOT NULL AND i94yr IS NOT NULL AND i94mon IS NOT NULL
      -- the key dedup of pipeline.clean (dedup_exact on cicid). One row
      -- per cicid; where duplicates are not full-row copies, both sides
      -- keep an arbitrary row and may disagree.
      QUALIFY row_number() OVER (PARTITION BY cicid) = 1
    ),
    staged AS (
      SELECT c.label AS origin_country,
             m.label AS travel_mode,
             coalesce(s.label, 'other') AS state_name,
             v.label AS visa_category,
             DATE '1960-01-01' + CAST(f.arrdate AS INT) AS arrival_date,
             f."count" AS cnt
      FROM fact f
      LEFT JOIN (SELECT code, label FROM label_rows WHERE dim = 'country') c
        ON CAST(f.i94cit AS BIGINT) = CAST(c.code AS BIGINT)
      LEFT JOIN (SELECT code, label FROM label_rows WHERE dim = 'travel_mode') m
        ON CAST(f.i94mode AS BIGINT) = CAST(m.code AS BIGINT)
      LEFT JOIN (SELECT code, label FROM label_rows WHERE dim = 'state') s
        ON f.i94addr = s.code
      LEFT JOIN (SELECT code, label FROM label_rows WHERE dim = 'visa_category') v
        ON CAST(f.i94visa AS BIGINT) = CAST(v.code AS BIGINT)
    )
    SELECT origin_country, travel_mode, state_name, visa_category,
           CAST(SUM(cnt) AS BIGINT) AS arrivals,
           CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(arrival_date) AS first_arrival,
           MAX(arrival_date) AS last_arrival
    FROM staged
    GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
    """,
)
def ref_i94_star_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+B1-B7+B10 on the REAL fact: scan the reference's own 3.1M-row
    Spark-2.x-written parquet, run the full pipeline — clean (null-drop,
    key dedup, double→long code casts) → SAS-epoch date conversion →
    broadcast joins against the dims parsed from the REAL label file
    (state 'not in list → other' rule included) → star rollup. The
    oracle rebuilds every stage in DuckDB, re-parsing the label file in
    SQL. (reference: sas_data/part-*.parquet, notebook cells 5-13)"""
    from .etl import pipeline

    _require(_SAS_DATA, _LABELS)
    prep(spark)
    # project the star's columns BEFORE the clean/dedup stage: Catalyst
    # cannot prune columns through dropDuplicates (which row survives is
    # observable), so without this the key-dedup shuffle carries all ~30
    # SAS columns. The rollup needs 10; declaring that up front cuts the
    # dedup exchange width ~3x (measured at 49.5M replicated rows,
    # BASELINE.md round 5). Output is identical: cicid is the dedup
    # key and every retained column rides with its row.
    fact = spark.read.parquet(_SAS_DATA).select(
        "cicid", "i94yr", "i94mon", "i94cit", "i94mode", "i94addr",
        "i94visa", "i94port", "arrdate", "count",
    )
    cleaned = pipeline.clean(fact, key="cicid", required=("cicid", "i94yr", "i94mon"))
    dated = pipeline.convert_dates(cleaned)
    staged = pipeline.join_dims(dated, _real_dims(spark))
    return (
        staged.groupBy("origin_country", "travel_mode", "state_name", "visa_category")
        .agg(
            F.sum("count").alias("arrivals"),
            F.count(F.lit(1)).alias("n_records"),
            F.min("arrival_date").alias("first_arrival"),
            F.max("arrival_date").alias("last_arrival"),
        )
        .orderBy("origin_country", "travel_mode", "state_name", "visa_category")
    )


@query(
    "ref_immigration_sample_scan",
    oracle=f"""
    SELECT visatype, gender,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(i94bir AS BIGINT)) AS BIGINT) AS sum_age,
           CAST(COUNT(DISTINCT i94port) AS BIGINT) AS n_ports
    FROM read_csv('{_SAMPLE_CSV}', header=true)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ref_immigration_sample_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 on the REAL sample: the 1,000-row immigration CSV with its
    leading unnamed index column, explicit schema, aggregated by
    (visatype, gender). (reference: immigration_data_sample.csv:1)"""
    from .sources.readers import read_csv

    _require(_SAMPLE_CSV)
    prep(spark)
    fields = [T.StructField("_idx", T.LongType())]
    doubles = {
        "cicid", "i94yr", "i94mon", "i94cit", "i94res", "arrdate", "i94mode",
        "depdate", "i94bir", "i94visa", "count", "biryear", "admnum",
    }
    order = (
        "cicid i94yr i94mon i94cit i94res i94port arrdate i94mode i94addr "
        "depdate i94bir i94visa count dtadfile visapost occup entdepa entdepd "
        "entdepu matflag biryear dtaddto gender insnum airline admnum fltno "
        "visatype"
    ).split()
    for c in order:
        fields.append(
            T.StructField(c, T.DoubleType() if c in doubles else T.StringType())
        )
    df = read_csv(spark, _SAMPLE_CSV, schema=T.StructType(fields), header="true")
    return (
        df.groupBy("visatype", "gender")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("i94bir").cast("long")).alias("sum_age"),
            F.count_distinct("i94port").alias("n_ports"),
        )
        .orderBy("visatype", "gender")
    )
