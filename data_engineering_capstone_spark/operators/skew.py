"""Skew-mitigation operators (SURVEY.md §7 P7; §4 'salting for hot ports').

The reference's data model has hot keys by construction — NYC/LOS in the
port dimension join (reference: I94_SAS_Labels_Descriptions.SAS:302-963)
— and at 100 TB a single hot key turns one reducer into the job's
critical path. Two standard remedies, both exact:

* :func:`salted_aggregate` — two-phase aggregation: partial-aggregate on
  (key, salt) to spread a hot key over N reducers, then final-aggregate
  on key. Works for any algebraic aggregate (sum/count/min/max).
* :func:`salted_join` — large-skewed ⋈ small-but-not-broadcastable:
  salt the skewed side per row, replicate the other side across all
  salt values, join on (key, salt).

AQE's skew-join splitting (enabled in session.py) handles sort-merge
skew automatically at runtime; these operators are for when the skew is
known and the plan should be fixed statically (or the agg path, which
AQE does not salt).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def with_salt(df: DataFrame, buckets: int) -> DataFrame:
    """Uniform per-row salt in [0, buckets). Derived from a stable row
    hash of all columns (deterministic for a given row content — and any
    salt distribution yields identical final results by construction)."""
    return df.withColumn(SALT_COL, F.pmod(F.xxhash64(*df.columns), F.lit(buckets)).cast("int"))


def salted_aggregate(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
) -> DataFrame:
    """Exact two-phase aggregation: ``aggs`` maps output column →
    (function, input column) with function in {sum, count, min, max}.

    Phase 1 aggregates on (keys..., salt) — a hot key fans out over
    ``buckets`` reducers; phase 2 merges the partials per key. The merge
    function for count is sum; min/max/sum merge with themselves.
    """
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    partial = (
        with_salt(df, buckets)
        .groupBy(*keys, SALT_COL)
        .agg(*[getattr(F, fn)(col).alias(out) for out, (fn, col) in aggs.items()])
    )
    return partial.groupBy(*keys).agg(
        *[getattr(F, merge_fn[fn])(out).alias(out) for out, (fn, _) in aggs.items()]
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the skewed probe side, replicate
    the build side across every salt value, join on (key..., salt).

    Replication multiplies the build side by ``buckets`` — use when it is
    too big to broadcast but far smaller than the skewed side. Results
    are exactly the plain join's.
    """
    keys = [on] if isinstance(on, str) else list(on)
    left = skewed.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*skewed.columns), F.lit(buckets)).cast("int")
    )
    right = other.withColumn(SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    out = left.join(right, [*keys, SALT_COL], how)
    return out.drop(SALT_COL)
