"""Sketch-partial aggregation (Datasketches HLL / theta, built into
Spark 4): the scale path for distinct-count rollups.

Exact windowed COUNT(DISTINCT) (ts_rolling_active_users) explodes each
event into every window it belongs to — fine when window/step is small,
quadratic pain when it isn't. The sketch form aggregates each base
bucket ONCE into a mergeable sketch (a few KB), then any window/rollup
re-aggregates sketches, never raw rows — the continuous-aggregate
pattern for COUNT DISTINCT, and the only form that survives 100 TB
(per-day state is sketch-sized, not user-set-sized).

HLL and theta sketches are order-insensitive (register-max / k-smallest
-hash structures), so estimates are deterministic for a given input set
regardless of partitioning — rows-only-checkable, with accuracy bounds
pinned by tests against the exact form (tests/test_scale_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_distinct_sketches(
    events: DataFrame, ts_col: str = "ts", key_col: str = "user_id", lg_k: int = 14
) -> DataFrame:
    """One HLL sketch per day over ``key_col`` — the base rollup. Raw
    rows are touched exactly once; everything downstream merges these."""
    return events.groupBy(F.col(ts_col).cast("date").alias("day")).agg(
        F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sketch"),
        F.count(F.lit(1)).alias("n_events"),
    )


def rolling_distinct_estimate(
    daily: DataFrame, days, window_days: int = 7
) -> DataFrame:
    """Rolling distinct estimate by merging per-day sketches over the
    trailing window. The join is (days × window) over SKETCH rows —
    grid-sized, independent of raw-event volume."""
    joined = daily.join(
        F.broadcast(days),
        (F.col("day") >= F.date_sub(F.col("d"), window_days - 1))
        & (F.col("day") <= F.col("d")),
    )
    return (
        joined.groupBy(F.col("d").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sketch"))).alias(
                "active_estimate"
            ),
            F.sum("n_events").alias("events_7d"),
        )
    )


def distinct_overlap_estimate(
    events: DataFrame,
    type_a: str,
    type_b: str,
    key_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Theta-sketch set algebra: estimated |keys(A)|, |keys(B)|, and
    |keys(A) ∩ keys(B)| in ONE pass over the fact table.

    HLL only unions; theta sketches (k-smallest-hash samples) support
    intersection/difference — the audience-overlap query. Exact
    COUNT(DISTINCT) intersection needs a self-join or two-pass distinct;
    the sketch form is one scan + constant-size state per side, which is
    the 100 TB answer. Deterministic for a given input set.
    """
    both = events.filter(F.col(type_col).isin(type_a, type_b))
    agg = both.agg(
        F.theta_sketch_agg(
            F.when(F.col(type_col) == type_a, F.col(key_col))
        ).alias("sk_a"),
        F.theta_sketch_agg(
            F.when(F.col(type_col) == type_b, F.col(key_col))
        ).alias("sk_b"),
    )
    return agg.select(
        F.theta_sketch_estimate(F.col("sk_a")).alias("est_a"),
        F.theta_sketch_estimate(F.col("sk_b")).alias("est_b"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("sk_a"), F.col("sk_b"))
        ).alias("est_overlap"),
    )


def count_min_table(
    df: DataFrame, key_col: str, width: int = 1 << 12, depth: int = 4
) -> DataFrame:
    """Build a count-min sketch relationally: ``depth`` seeded xxhash64
    rows of ``width`` counters, materialized as a (row, pos, n) table of
    at most ``depth * width`` rows — bounded memory no matter the key
    cardinality, the frequency sketch that backs heavy-hitter/skew
    detection when exact per-key counts would themselves be the skew
    problem (the counters table is dimension-scale and broadcastable;
    the input is touched once, map-side combined).

    The counters are purely additive, so on a stream Spark's incremental
    streaming agg IS the sketch merge: each micro-batch folds its partial
    counters in, and a complete-mode drain (no watermark; counters never
    retract) is row-identical to this table over the same input, with
    state bounded by ``depth * width`` however long the stream runs
    (``stream_count_min_top_users``; tests/test_streaming.py).
    """
    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"),
                        F.pmod(F.xxhash64(F.col(key_col), F.lit(d)), F.lit(width)).alias("pos"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("rp")
    )
    return rows.groupBy("rp.row", "rp.pos").agg(F.count(F.lit(1)).alias("n"))


def count_min_estimate(
    cms: DataFrame, keys: DataFrame, key_col: str, width: int = 1 << 12, depth: int = 4
) -> DataFrame:
    """Point-estimate frequencies for ``keys`` against a prebuilt sketch
    table: min over the ``depth`` counter lookups (classic CMS upper
    bound: ``exact <= est <= exact + eps*N`` w.h.p.). ``depth``
    broadcast equi-joins — the probe side never shuffles."""
    out = keys
    for d in range(depth):
        cd = cms.where(F.col("row") == d).select(
            F.col("pos").alias(f"__p{d}"), F.col("n").alias(f"__n{d}")
        )
        out = out.join(
            F.broadcast(cd),
            F.pmod(F.xxhash64(F.col(key_col), F.lit(d)), F.lit(width)) == F.col(f"__p{d}"),
            "left",
        ).drop(f"__p{d}")
    est = F.least(*[F.coalesce(F.col(f"__n{d}"), F.lit(0)) for d in range(depth)])
    return out.withColumn("cms_estimate", est.cast("bigint")).drop(
        *[f"__n{d}" for d in range(depth)]
    )


def daily_value_kll_sketches(
    events: DataFrame, ts_col: str = "ts", value_col: str = "value", k: int = 200
) -> DataFrame:
    """One KLL quantile sketch per day over ``value_col`` — the base
    rollup for rolling quantiles (Datasketches KLL, built into Spark 4).
    Mirrors :func:`daily_distinct_sketches`: raw rows aggregate ONCE
    into a mergeable constant-size sketch; every downstream window
    re-aggregates sketches, never values — the continuous-aggregate
    form for MEDIAN/quantiles that survives wide frames at 100 TB
    (exact frame-collected medians hold the whole window's values in
    one buffer; a KLL sketch is a few KB at any frame width)."""
    return events.groupBy(F.col(ts_col).cast("date").alias("day")).agg(
        F.kll_sketch_agg_double(F.col(value_col).cast("double"), F.lit(k)).alias(
            "vsketch"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


def rolling_quantile_estimate(
    daily: DataFrame, days, window_days: int = 7, quantile: float = 0.5
) -> DataFrame:
    """Rolling quantile estimate by merging per-day KLL sketches over the
    trailing window — grid-sized work, independent of event volume."""
    joined = daily.join(
        F.broadcast(days),
        (F.col("day") >= F.date_sub(F.col("d"), window_days - 1))
        & (F.col("day") <= F.col("d")),
    )
    return joined.groupBy(F.col("d").alias("day")).agg(
        F.kll_sketch_get_quantile_double(
            F.kll_merge_agg_double("vsketch"), F.lit(quantile)
        ).alias("quantile_estimate"),
        F.sum("n_events").alias("events_win"),
    )
