"""Scalable global prefix sums (running totals over a total order).

A plain ``SUM(x) OVER (ORDER BY k)`` with no PARTITION BY forces Spark to
sort-collapse the whole table into ONE task — fine at sf0.1, fatal at
100 TB. The two-phase form here keeps every stage distributed:

1. assign each row a coarse *bucket* along the order key,
   ``floor(key / bucket_size)`` for dense integer ids,
2. aggregate per-bucket sums (map-side partial combine, tiny result),
3. run the cumulative sum over the bucket sums only — thousands of rows,
   not billions, so the single-partition window is safe,
4. broadcast-join the per-bucket *offsets* back and add an intra-bucket
   running sum (windows partitioned by bucket → parallel).

Same output as the single-partition window, verified in tests and by the
DuckDB oracle of ``llm_pack_sequences``.

(reference scope: the capstone spec's summary statistics are plain
aggregations — running totals enter via the extension surface,
/root/repo/BASELINE.json:6; SURVEY.md §2 C-window.)
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "running_sum",
    bucket_size: int = 1024,
) -> DataFrame:
    """Add ``out_col`` = inclusive running sum of ``value_col`` over the
    total order of ``order_col``, without a single-partition window over
    the data. Buckets are ``floor(order_col / bucket_size)``, which suits
    dense integer keys.
    """
    withb = df.withColumn(
        "__bkt", F.floor(F.col(order_col) / F.lit(bucket_size)).cast("long")
    )

    # Phase 1: per-bucket totals — one tiny row per bucket.
    bucket_sums = withb.groupBy("__bkt").agg(F.sum(value_col).alias("__bkt_sum"))

    # Phase 2: exclusive running offset across buckets. The window runs
    # over #buckets rows (data_size / bucket_size), not data rows.
    w_b = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_sums.select(
        "__bkt", F.coalesce(F.sum("__bkt_sum").over(w_b), F.lit(0)).alias("__offset")
    )

    # Phase 3: intra-bucket running sum (parallel across buckets) + offset.
    w_in = Window.partitionBy("__bkt").orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        withb.join(F.broadcast(offsets), "__bkt")
        .withColumn(out_col, F.sum(value_col).over(w_in) + F.col("__offset"))
        .drop("__bkt", "__offset")
    )


def keyed_running_sum(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    chunk_expr: Column,
    out_col: str = "running_sum",
    n_col: str = "running_n",
    num_partitions: int | None = None,
) -> DataFrame:
    """Skew-safe PER-KEY running sum + row count: the hot-partition
    counterpart of :func:`global_running_sum`.

    ``SUM(x) OVER (PARTITION BY key ORDER BY ...)`` puts each key's
    ENTIRE history in one task's sort — fine for uniform keys, fatal
    when one key carries a large share of the data (the celebrity-user /
    template-spam / null-key shape; SCALE.md §27 measures it).
    Salting (operators/skew.py) rescues aggregates but not windows: a
    running sum is order-dependent, so random salt destroys it.

    The remedy is deterministic ORDER-ALIGNED chunking — the classic
    distributed prefix-sum:

    1. ``chunk_expr`` maps each row to a chunk id that is monotone
       non-decreasing in the FIRST order column (equal order values get
       equal chunks, so chunk boundaries never split ties). E.g.
       ``floor(datediff(order_date, '1992-01-01') / 60)``.
    2. per-(key, chunk) totals: sum + count — one row per key-chunk.
    3. per-key EXCLUSIVE running offsets over the totals: a window
       partitioned by key whose partitions hold at most one row per distinct chunk id
       REGARDLESS of key heat — the hot key's window work collapses
       from O(its rows) to O(n_chunks).
    4. join offsets back on (key, chunk) and add an intra-chunk running
       sum: this window partitions by (key, chunk), so the hot key
       fans out over its chunks instead of one task.

    Output = the plain window's, bit-exact (ties broken by the full
    ``order_cols`` inside each chunk; chunk monotonicity keeps
    cross-chunk order). NULL keys form their own group and NULL order
    values sort first, both exactly as Spark's plain window treats
    them: the device's join/group/partition keys are the materialized
    null-safe normal form (coalesce + isnull REAL columns, the
    snapshot_diff convention) — an eqNullSafe join would instead make
    EnsureRequirements re-derive that form internally and re-exchange
    the explicitly-widthed input (the round-11 Catalyst trap).
    ``num_partitions`` widths the (key, chunk) exchange per the
    round-11 width law.
    """
    keys = list(key_cols)
    order = list(order_cols)
    # Null-safe normal form as real columns: one plain-equality key set
    # serves repartition + aggregate + both windows + the join, so the
    # single explicit exchange is never re-derived. A NULL chunk (from
    # a NULL order value) gets INT_MIN — it sorts before every real
    # chunk, matching the plain window's NULLS FIRST.
    nk: list[str] = []
    withc = df.withColumn(
        "__chunk", F.coalesce(chunk_expr.cast("int"), F.lit(-(2**31)))
    )
    from ..functions.nullkeys import null_default

    for i, k in enumerate(keys):
        dflt = null_default(df.schema[k].dataType)
        withc = withc.withColumn(f"__k{i}", F.coalesce(F.col(k), dflt)).withColumn(
            f"__kn{i}", F.isnull(F.col(k))
        )
        nk.extend([f"__k{i}", f"__kn{i}"])
    join_keys = [*nk, "__chunk"]
    helper = [*join_keys, "__off_sum", "__off_n"]
    if num_partitions:
        # Width law (round 11): one explicit (key, chunk) exchange at
        # footer width serves the totals aggregate, the intra-chunk
        # window AND the probe side of the offsets join — every
        # fact-scale stage runs at ``num_partitions``, none at session
        # width.
        withc = withc.repartition(num_partitions, *join_keys)

    totals = withc.groupBy(*join_keys).agg(
        F.sum(value_col).alias("__c_sum"), F.count(F.lit(1)).alias("__c_n")
    )
    if num_partitions:
        # The totals table is fact-proportional at scale (keys x chunks
        # barely reduces a sparse fact): width its per-key window
        # exchange too — (key, chunk) partitioning does NOT satisfy a
        # keys-only window, so without this the planner inserts a
        # session-width exchange here (the audited class). Its per-task
        # SORT is bounded either way: no key exceeds the distinct-chunk
        # count, which is the whole device. The offsets join side then
        # aligns to the probe's explicit width via EnsureRequirements
        # (one plan-encoded side suffices — the round-11 join-width law).
        totals = totals.repartition(num_partitions, *nk)
    w_off = (
        Window.partitionBy(*nk)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        *nk,
        "__chunk",
        F.coalesce(F.sum("__c_sum").over(w_off), F.lit(0)).alias("__off_sum"),
        F.coalesce(F.sum("__c_n").over(w_off), F.lit(0)).alias("__off_n"),
    )

    w_in = (
        Window.partitionBy(*join_keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        withc.join(offsets, join_keys)
        .withColumn(out_col, F.sum(value_col).over(w_in) + F.col("__off_sum"))
        .withColumn(n_col, F.count(F.lit(1)).over(w_in) + F.col("__off_n"))
        .drop(*helper)
    )
