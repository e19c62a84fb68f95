"""The reference's star-schema ETL, re-expressed as composable Spark stages.

The capstone template specifies (but never implements) this pipeline:
clean → code→name dimension joins → date derivation → aggregation →
partitioned parquet → quality checks (reference: notebook cells 7-13;
I94_SAS_Labels_Descriptions.SAS). Each stage here is a pure
``DataFrame → DataFrame`` function — the engine's replacement for the
reference's Airflow task chain (reference: dags/capstone_project.py:100),
where stage handoff was Airflow Variables + Livy source strings and is
now just DataFrames.

All stages are declarative: Catalyst fuses them into one physical plan,
so "running the pipeline" costs one pass over the fact table regardless
of how many stages compose.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.dates import date_parts, parse_char_date, sas_date_to_date
from ..operators.dedup import dedup_exact
from ..operators.relational import code_to_name

# Columns that are SAS numerics but semantically integral codes/ids
# (reference: §1.2 of SURVEY.md — SAS writes every numeric as double).
INTEGRAL_CODE_COLS = (
    "cicid", "i94yr", "i94mon", "i94cit", "i94res", "i94mode",
    "i94bir", "i94visa", "count", "biryear", "admnum",
)


def clean(
    df: DataFrame,
    key: str = "cicid",
    required: Sequence[str] = ("cicid", "i94yr", "i94mon"),
) -> DataFrame:
    """B1 + B2 + B7: null-drop on required keys, exact dedup on the
    record key, double→long casts for code columns.

    (reference: notebook cell-7 'missing values, duplicate data')
    """
    out = dedup_exact(df.dropna(subset=list(required)), [key])
    return out.withColumns(
        {c: F.col(c).cast("long") for c in INTEGRAL_CODE_COLS if c in out.columns}
    )


def convert_dates(df: DataFrame) -> DataFrame:
    """B5 + B6: SAS-epoch numerics → DATE; character dates → DATE with
    null-on-sentinel ('D/S' in dtaddto).

    (reference: I94_SAS_Labels_Descriptions.SAS:966-968,1038-1040,1056,1080)
    """
    derived = {
        # output column: (source column, expression)
        "arrival_date": ("arrdate", sas_date_to_date("arrdate")),
        "departure_date": ("depdate", sas_date_to_date("depdate")),
        "file_date": ("dtadfile", parse_char_date("dtadfile", "yyyyMMdd")),
        "admitted_until": ("dtaddto", parse_char_date("dtaddto", "MMddyyyy")),
    }
    return df.withColumns(
        {out: expr for out, (src, expr) in derived.items() if src in df.columns}
    )


def join_dims(df: DataFrame, dims: dict[str, DataFrame]) -> DataFrame:
    """B3 + B4: broadcast code→name joins for every dimension present.

    ``dims`` maps dimension name → 2-column (code, label) DataFrame, as
    produced by :func:`..etl.sas_labels.dim_from_map`. The state join
    applies the reference's "not in the list → 'other'" rule
    (reference: I94_SAS_Labels_Descriptions.SAS:979-980); the others are
    plain left joins (unmatched stays NULL, inspectable downstream).
    """
    out = df
    spec = {
        # dim name: (fact key, output column, default)
        "country": ("i94cit", "origin_country", None),
        "port": ("i94port", "port_name", None),
        "mode": ("i94mode", "travel_mode", None),
        "state": ("i94addr", "state_name", "other"),
        "visa": ("i94visa", "visa_category", None),
    }
    for name, (fact_key, out_col, default) in spec.items():
        if name in dims and fact_key in out.columns:
            dim = dims[name]
            key_col, val_col = dim.columns[0], dim.columns[1]
            dim = dim.withColumn(key_col, F.col(key_col).cast(out.schema[fact_key].dataType))
            out = code_to_name(out, dim, fact_key, key_col, val_col, out_col, default=default)
    return out


def build_date_dim(df: DataFrame, date_col: str = "arrival_date") -> DataFrame:
    """Date dimension: distinct dates + derived parts (B5's second half)."""
    parts = date_parts(F.col(date_col))
    return (
        df.select(date_col)
        .dropna()
        .distinct()
        .select(F.col(date_col).alias("date"), *[v.alias(k) for k, v in parts.items()])
    )


def aggregate_arrivals(
    df: DataFrame,
    group_cols: Sequence[str] = ("port_name", "visa_category", "i94yr", "i94mon"),
) -> DataFrame:
    """B10: the star-schema rollup — SUM(count) is the canonical measure
    (reference: I94_SAS_Labels_Descriptions.SAS:1053 'used for summary
    statistics')."""
    cols = [c for c in group_cols if c in df.columns]
    return df.groupBy(*cols).agg(
        F.sum("count").alias("arrivals"),
        F.count(F.lit(1)).alias("n_records"),
    )
