"""Exact deduplication (SURVEY.md §2 B2, C-llm-dedup exact tier).

The reference's spec: 'duplicate data' cleanup (notebook cell-7) →
``dropDuplicates`` on the record key. At 100 TB prefer the
hash-groupBy form (:func:`dedup_exact`): grouping on a fixed-width
digest of the dedup columns shuffles 16-byte keys instead of full rows
of text, and AQE handles skew on pathological duplicate clusters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.pqmeta import input_width


def dedup_exact(
    df: DataFrame,
    subset: Sequence[str],
    keep_order_by: Sequence | None = None,
) -> DataFrame:
    """Keep one row per distinct ``subset`` value.

    Without ``keep_order_by``: Spark's ``dropDuplicates`` (arbitrary but
    single-pass winner per key — partial dedup map-side, then one
    shuffle). With it: deterministic winner via min-by window (e.g. keep
    the lowest doc_id), needed whenever results must be reproducible.

    The dedup exchange is always pinned at the width law derived from
    ``df``'s own input footers (sources/pqmeta.py:input_width, ~4M rows
    per reducer, floored at the core count). A session-width exchange
    fails both ways: at scale each task holds corpus/N rows (the q9
    2048× OOM class), and at small scale AQE coalesces it to one
    partition, so everything above the dedup — joins, the partitioned
    write — runs on one core. AQE leaves an explicit repartition width
    alone, and the repartition satisfies the window/aggregate
    distribution, so there is no second exchange.
    """
    df = df.repartition(input_width(df), *subset)
    if keep_order_by is None:
        return df.dropDuplicates(list(subset))
    w = Window.partitionBy(*subset).orderBy(*keep_order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, subset: Sequence[str]) -> DataFrame:
    """Report duplicate-key groups (the quality-check dual of dedup)."""
    return (
        df.groupBy(*subset)
        .agg(F.count(F.lit(1)).alias("n_dups"))
        .filter(F.col("n_dups") > 1)
    )
