"""Unit tests for custom operators (SURVEY.md §5 strategy)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from data_engineering_capstone_spark.operators.asof import asof_join, asof_join_merge
from data_engineering_capstone_spark.operators.dedup import dedup_exact, duplicate_groups
from data_engineering_capstone_spark.operators.pivot import pivot_wide
from data_engineering_capstone_spark.operators.topk import top_k, top_k_per_group


def _asof_fixture(spark):
    left = spark.createDataFrame(
        [("u1", 10, "p1"), ("u1", 20, "p2"), ("u2", 5, "p3"), ("u3", 7, "p4")],
        "key string, ts long, pid string",
    )
    right = spark.createDataFrame(
        [("u1", 8, 1.0), ("u1", 15, 2.0), ("u1", 20, 3.0), ("u2", 9, 4.0)],
        "key string, rts long, val double",
    )
    return left, right


def test_asof_backward_semantics(spark):
    left, right = _asof_fixture(spark)
    out = asof_join(left, right, on="key", left_ts="ts", right_ts="rts", right_cols=["val"])
    got = {r["pid"]: r["val"] for r in out.collect()}
    # u1@10 -> rts 8; u1@20 -> rts 20 (equal ts matches); u2@5 -> none; u3 -> no right rows
    assert got == {"p1": 1.0, "p2": 3.0, "p3": None, "p4": None}


def test_asof_null_right_field_not_backfilled(spark):
    """A matched right row's NULL field must stay NULL — per-column
    forward-fill would pull that field from an OLDER right row, mixing
    fields from different rows (DuckDB ASOF returns the matched row
    including its NULLs)."""
    left = spark.createDataFrame([("u1", 20, "p1")], "key string, ts long, pid string")
    right = spark.createDataFrame(
        [("u1", 8, 1.0, "old"), ("u1", 15, None, "new")],
        "key string, rts long, val double, tag string",
    )
    out = asof_join(
        left, right, on="key", left_ts="ts", right_ts="rts", right_cols=["val", "tag"]
    ).collect()
    assert len(out) == 1
    # matched row is rts=15: tag comes from it AND its NULL val survives
    assert out[0]["tag"] == "new" and out[0]["val"] is None


def test_asof_matches_pandas_merge_asof(spark, sf_dir):
    from data_engineering_capstone_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("click_event_id")
    )
    a = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="c_ts",
                  right_cols=["click_event_id"])
    b = asof_join_merge(purchases, clicks, on="user_id", left_ts="ts", right_ts="c_ts",
                        right_cols=["click_event_id"])
    pa = {r["event_id"]: r["click_event_id"] for r in a.collect()}
    pb = {r["event_id"]: r["click_event_id"] for r in b.collect()}
    assert pa == pb and len(pa) > 0


def test_dedup_deterministic_winner(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("a", 2), ("b", 9)], "k string, v int"
    )
    out = dedup_exact(df, ["k"], keep_order_by=[F.col("v")])
    assert {(r["k"], r["v"]) for r in out.collect()} == {("a", 1), ("b", 9)}
    dups = duplicate_groups(df, ["k"]).collect()
    assert [(r["k"], r["n_dups"]) for r in dups] == [("a", 3)]


def test_topk_global_and_per_group(spark):
    df = spark.createDataFrame(
        [("g1", i) for i in range(10)] + [("g2", i * 2) for i in range(5)],
        "g string, v int",
    )
    top = top_k(df, [F.col("v").desc()], 3).collect()
    assert [r["v"] for r in top] == [9, 8, 8]
    per = top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
    got = sorted((r["g"], r["v"]) for r in per.collect())
    assert got == [("g1", 8), ("g1", 9), ("g2", 6), ("g2", 8)]


def test_pivot_pinned_values(spark):
    df = spark.createDataFrame(
        [("c1", "A", 1), ("c1", "B", 2), ("c2", "A", 3)], "city string, race string, n int"
    )
    wide = pivot_wide(df, ["city"], "race", ["A", "B", "C"], "n", agg="sum")
    assert wide.columns == ["city", "A", "B", "C"]
    row = {r["city"]: (r["A"], r["B"], r["C"]) for r in wide.collect()}
    assert row == {"c1": (1, 2, None), "c2": (3, None, None)}


def test_forward_fill_carries_last_non_null(spark):
    from data_engineering_capstone_spark.operators.timeseries import forward_fill

    rows = [(1, 1, None), (1, 2, 10.0), (1, 3, None), (1, 4, None), (1, 5, 20.0), (2, 1, None)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    out = {(r["k"], r["t"]): r["v_ffill"] for r in forward_fill(df, "k", "t", ["v"]).collect()}
    assert out[(1, 1)] is None          # nothing to carry yet
    assert out[(1, 3)] == 10.0 and out[(1, 4)] == 10.0
    assert out[(1, 5)] == 20.0
    assert out[(2, 1)] is None          # fill never crosses partitions


def test_dense_grid_complete_and_rollup_reaggregates(spark):
    from data_engineering_capstone_spark.operators.timeseries import dense_grid, time_bucket
    from pyspark.sql import functions as F

    ents = spark.createDataFrame([(1,), (2,), (3,)], "user_id int")
    grid = dense_grid(ents, spark, "2024-01-01", "2024-01-02", "1 HOUR")
    assert grid.count() == 3 * 24
    # hierarchical rollup: day-from-hour equals day-from-raw
    rows = [(i, f"2024-01-01 {i % 24:02d}:{(i * 7) % 60:02d}:00", float(i)) for i in range(100)]
    ev = spark.createDataFrame(rows, "id int, ts_s string, v double").select(
        "id", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    hourly = ev.groupBy(time_bucket("ts", "1 hour").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(12,2)")).alias("s")
    )
    day_from_hour = hourly.groupBy(F.date_trunc("day", "h").alias("d")).agg(
        F.sum("n").alias("n"), F.sum("s").cast("double").alias("s")
    )
    day_direct = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("v").cast("decimal(12,2)")).cast("double").alias("s")
    )
    assert sorted(day_from_hour.collect()) == sorted(day_direct.collect())


def test_snapshot_diff_ops_and_null_safety(spark):
    from data_engineering_capstone_spark.operators.cdc import snapshot_diff
    from pyspark.sql import functions as F

    old = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None), (5, 50.0)], "k long, v double"
    )
    rows = {r["k"]: r for r in snapshot_diff(old, new, ["k"], ["v"]).collect()}
    assert 1 not in rows                       # unchanged dropped
    assert rows[2]["op"] == "U"                # NULL -> value is an update
    assert rows[3]["op"] == "U"                # value -> NULL is an update
    assert rows[4]["op"] == "D" and rows[4]["new_v"] is None
    assert rows[5]["op"] == "I" and rows[5]["old_v"] is None


def test_sessionize_gap_boundaries(spark):
    from data_engineering_capstone_spark.operators.timeseries import sessionize

    rows = [
        # user 1: gap exactly == 60s stays in-session; 60.000001s splits
        (1, "2024-01-01 00:00:00.000000", 1),
        (1, "2024-01-01 00:01:00.000000", 2),   # gap == 60s -> same session
        (1, "2024-01-01 00:02:00.000001", 3),   # gap > 60s by 1 us -> new
        # user 2: single event
        (2, "2024-01-01 05:00:00.000000", 4),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_id int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, "user_id", "ts", 60, order_cols=["event_id"])
    got = {r["event_id"]: r["session_id"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_equal_ts_tiebreak_deterministic(spark):
    from data_engineering_capstone_spark.operators.timeseries import sessionize

    # two events at the identical timestamp: tiebreak on event_id keeps
    # the numbering stable across shuffles/retries
    rows = [(1, "2024-01-01 00:00:00", 2), (1, "2024-01-01 00:00:00", 1)]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_id int"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionize(df, "user_id", "ts", 60, order_cols=["event_id"])
    assert sorted((r["event_id"], r["session_id"]) for r in out.collect()) == [
        (1, 1),
        (2, 1),
    ]


def test_versioned_table_time_travel(spark, tmp_path):
    import pytest

    from data_engineering_capstone_spark.operators.versioned import (
        diff_versions,
        list_versions,
        read_version,
        write_version,
    )

    t = str(tmp_path / "tbl")
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    v2 = spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], "k int, v string")
    assert list_versions(t) == []
    assert write_version(v1, t) == 1
    assert write_version(v2, t) == 2
    assert list_versions(t) == [1, 2]
    # pinned snapshot (time travel) vs latest
    assert sorted(r["v"] for r in read_version(spark, t, 1).collect()) == ["a", "b"]
    assert read_version(spark, t).count() == 3
    # changeset between versions
    ops = {r["k"]: r["op"] for r in diff_versions(spark, t, 1, 2, ["k"], ["v"]).collect()}
    assert ops == {2: "U", 3: "I"}
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, 99)


def test_versioned_vacuum_retention(spark, tmp_path):
    import pytest

    from data_engineering_capstone_spark.operators.versioned import (
        list_versions,
        read_version,
        vacuum_versions,
        write_version,
    )

    t = str(tmp_path / "tbl")
    for i in range(4):
        write_version(spark.createDataFrame([(i,)], "k int"), t)
    assert vacuum_versions(t, keep_last=2) == [1, 2]
    assert list_versions(t) == [3, 4]
    # dropped snapshots fail fast; kept ones read fine; next write = v5
    with pytest.raises(FileNotFoundError):
        read_version(spark, t, 1)
    assert read_version(spark, t, 3).collect()[0]["k"] == 2
    assert write_version(spark.createDataFrame([(9,)], "k int"), t) == 5


def test_versioned_uncommitted_dir_is_invisible_and_skipped(spark, tmp_path):
    """A v=N directory without _SUCCESS (in-flight or crashed write) is
    not a committed version: readers skip it and the next writer does
    not collide with it."""
    import os

    from data_engineering_capstone_spark.operators.versioned import (
        list_versions,
        read_version,
        write_version,
    )

    t = str(tmp_path / "tbl")
    write_version(spark.createDataFrame([(1,)], "k int"), t)
    # simulate a crashed/in-flight write of v=2: directory, no _SUCCESS
    os.makedirs(os.path.join(t, "v=2"))
    assert list_versions(t) == [1]
    assert read_version(spark, t).count() == 1  # latest = committed v1
    # next writer skips the torn v=2 instead of colliding forever
    assert write_version(spark.createDataFrame([(2,)], "k int"), t) == 3
    assert list_versions(t) == [1, 3]


def test_lttb_downsample_picks_spike_and_endpoints(spark, tmp_path):
    """Fixed-anchor LTTB: the first/last buckets keep their first/last
    day; a middle bucket must surface its spike day (the point with the
    largest triangle area against the neighbor-bucket means)."""
    import datetime

    from data_engineering_capstone_spark.queries_timeseries import (
        ts_downsample_lttb,
    )

    base = datetime.date(2024, 1, 1)
    rows = []
    eid = 0
    spike = datetime.date(2024, 1, 10)  # middle of the date range
    for i in range(21):
        d = base + datetime.timedelta(days=i)
        n = 50 if d == spike else 1
        for _ in range(n):
            eid += 1
            rows.append((eid, f"{d} 12:00:00", 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = ts_downsample_lttb(spark, str(tmp_path)).collect()
    by_bucket = {r.bucket: r for r in out}
    xs = [(base + datetime.timedelta(days=i)).toordinal() - datetime.date(1970, 1, 1).toordinal() for i in range(21)]
    buckets = sorted({x // 7 for x in xs})
    # one selected point per non-empty bucket
    assert sorted(by_bucket) == buckets
    # endpoint conventions
    first_b, last_b = buckets[0], buckets[-1]
    assert by_bucket[first_b].x == min(x for x in xs if x // 7 == first_b)
    assert by_bucket[last_b].x == max(x for x in xs if x // 7 == last_b)
    # the spike day dominates its (middle) bucket
    spike_x = spike.toordinal() - datetime.date(1970, 1, 1).toordinal()
    sb = spike_x // 7
    if sb not in (first_b, last_b):
        assert by_bucket[sb].x == spike_x and by_bucket[sb].y == 50


def test_ewma_trailing_hand_computed(spark, tmp_path):
    """Truncated EWMA (alpha=0.5, 7 lags) equals the hand-computed
    weighted mean, including the short-history normalization at the
    series start."""
    from data_engineering_capstone_spark.queries_timeseries import (
        ts_ewma_trailing,
    )

    # daily counts: day1 -> 2 events, day2 -> 4, day3 -> 8
    rows = []
    eid = 0
    for day, n in (("2024-01-01", 2), ("2024-01-02", 4), ("2024-01-03", 8)):
        for _ in range(n):
            eid += 1
            rows.append((eid, f"{day} 01:00:00", 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")

    out = {str(r.d): r.ewma for r in ts_ewma_trailing(spark, str(tmp_path)).collect()}
    assert out["2024-01-01"] == 2.0                      # no history
    assert out["2024-01-02"] == round((4 + 0.5 * 2) / 1.5, 6)
    assert out["2024-01-03"] == round((8 + 0.5 * 4 + 0.25 * 2) / 1.75, 6)


def test_outlier_iqr_planted(spark, tmp_path):
    """Tukey fences flag exactly the planted extreme value and the
    integer-cents fences are the hand-computed quartile bounds."""
    from data_engineering_capstone_spark.queries_etl import etl_outlier_iqr

    # one priority group: values 10..14 dollars plus one wild 1000
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    rows = [(i, 1, "O", v, "2024-01-01", "1-URGENT", "c", 0, "x") for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate string, o_orderpriority string, o_clerk string, o_shippriority int, o_comment string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/orders.parquet")

    r = etl_outlier_iqr(spark, str(tmp_path)).collect()[0]
    assert r.n_rows == 6 and r.n_outliers == 1
    # cents: [1000,1100,1200,1300,1400,100000]; q1 = 1125, q3 = 1375
    # (quantile_cont at positions 1.25 / 3.75); iqr = 250
    assert r.lo_bound == round((1125 - 375) / 100.0, 4)
    assert r.hi_bound == round((1375 + 375) / 100.0, 4)


def test_asof_tie_break_is_total_and_layout_independent(spark):
    """Right rows tied on (key, right_ts) must resolve to the greatest
    right-column tuple on EVERY partitioning. Found by the round-6
    multi-executor probe: without the __r sort key the fill winner was
    partition-layout-dependent — local[32] and local-cluster[4,8]
    returned different matches on a tied corpus."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame([(1, 100)], "key int, ts int")
    # three right rows tied at ts=50 for key 1: winner must be the
    # greatest (val, tag) tuple regardless of input layout
    tied = [(1, 50, 7, "a"), (1, 50, 9, "b"), (1, 50, 9, "a")]
    expected = (9, "b")
    for n_parts in (1, 3, 7):
        right = (
            spark.createDataFrame(tied, "key int, rts int, val int, tag string")
            .repartition(n_parts)
        )
        out = asof_join(
            left, right, on="key", left_ts="ts", right_ts="rts",
            right_cols=["val", "tag"],
        ).collect()
        assert len(out) == 1
        assert (out[0]["val"], out[0]["tag"]) == expected, (n_parts, out)


def test_multiset_aggregate_form_matches_intersectall_exceptall(spark):
    """set_ops_multiset's round-8 aggregate form (per-key conditional
    counts -> sum(min)/sum(max(m-n,0))) must agree with the row-level
    DataFrame intersectAll/exceptAll operators it replaced — the
    multiset DEFINITION is per-key min(m,n)/max(m-n,0) multiplicity,
    and this pins the equivalence the entry's docstring claims, plus
    keeps the native operators themselves covered."""
    rows_a = [(1,), (1,), (1,), (2,), (3,), (3,), (5,)]
    rows_r = [(1,), (2,), (2,), (3,), (3,), (3,), (4,)]
    a = spark.createDataFrame(rows_a, "k int")
    r = spark.createDataFrame(rows_r, "k int")
    n_intersect = a.intersectAll(r).count()   # min: 1->1, 2->1, 3->2 = 4
    n_except = a.exceptAll(r).count()         # max: 1->2, 5->1 = 3
    assert (n_intersect, n_except) == (4, 3)
    per_key = (
        a.select(F.col("k"), F.lit("A").alias("s"))
        .unionByName(r.select(F.col("k"), F.lit("R").alias("s")))
        .groupBy("k")
        .agg(
            F.count(F.when(F.col("s") == "A", 1)).alias("ca"),
            F.count(F.when(F.col("s") == "R", 1)).alias("cr"),
        )
    )
    agg = per_key.agg(
        F.sum(F.least("ca", "cr")).alias("i_all"),
        F.sum(F.greatest(F.col("ca") - F.col("cr"), F.lit(0))).alias("e_all"),
    ).collect()[0]
    assert (agg["i_all"], agg["e_all"]) == (n_intersect, n_except)


def test_keyed_running_sum_matches_plain_window_on_skew(spark):
    """Distributed prefix-sum vs the plain per-key cumulative window on
    a deliberately skewed table: one hot key carries half the rows
    (plus ties on the order column and a single-row key)."""
    import random

    from pyspark.sql import Window

    from data_engineering_capstone_spark.operators.prefix import keyed_running_sum

    rng = random.Random(7)
    rows = []
    for i in range(2000):  # hot key: half the table, many order ties
        rows.append(("hot", rng.randrange(50), i, float(rng.randrange(100))))
    for i in range(2000, 4000):
        rows.append((f"k{rng.randrange(200)}", rng.randrange(50), i, float(rng.randrange(100))))
    rows.append(("lonely", 3, 99999, 42.0))
    # NULL key is a group of its own; NULL order values sort first; a
    # real "0" key must NOT merge with the NULL group's coalesce form
    rows += [(None, rng.randrange(50), 100000 + i, float(i)) for i in range(50)]
    rows += [("0", rng.randrange(50), 101000 + i, float(i)) for i in range(20)]
    rows += [("hot", None, 102000 + i, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "key string, ord int, uid long, val double")

    got = keyed_running_sum(
        df,
        key_cols=["key"],
        order_cols=["ord", "uid"],
        value_col="val",
        chunk_expr=F.floor(F.col("ord") / 8),  # order-aligned chunks, ties intact
        out_col="run",
        n_col="n",
    )
    w = Window.partitionBy("key").orderBy("ord", "uid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.select(
        "key", "uid", F.sum("val").over(w).alias("run"), F.count(F.lit(1)).over(w).alias("n")
    )
    got_m = {(r["key"], r["uid"]): (r["run"], r["n"]) for r in got.collect()}
    want_m = {(r["key"], r["uid"]): (r["run"], r["n"]) for r in want.collect()}
    assert got_m == want_m


def test_keyed_running_sum_no_per_key_sort_task(spark):
    """Plan shape: no window partitioned ONLY on the key may remain —
    every window must ride (key, chunk) or the chunk-totals table."""
    from data_engineering_capstone_spark.operators.prefix import keyed_running_sum

    df = spark.range(100).select(
        F.lit("hot").alias("key"),
        (F.col("id") % 10).alias("ord"),
        F.col("id").alias("uid"),
        F.col("id").cast("double").alias("val"),
    )
    out = keyed_running_sum(
        df,
        key_cols=["key"],
        order_cols=["ord", "uid"],
        value_col="val",
        chunk_expr=F.floor(F.col("ord") / 2),
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window in plan"
    # Every window spec must involve __chunk: the intra-chunk window
    # PARTITIONS by it, the offsets window ORDERS by it. A plain per-key
    # window spec (partition key, order ord/uid) carries no __chunk and
    # fails here — that is the single-hot-task shape this device removes.
    for spec in specs:
        assert "__chunk" in spec, f"key-only window survived: {spec}"


def test_snapshot_diff_null_key_and_date_key(spark):
    """Round-11 self-review regressions: (a) a NULL-key row present only
    in `new` must classify as 'I' (key-NULL-ness is not presence);
    (b) a DATE-typed key with an explicit width must plan (the old
    lit(0).cast(DATE) normal form was an illegal cast); (c) a STRING
    key with explicit width keeps the width (the old hand-written
    coalesce(k, 0) form mismatched Catalyst's eqNullSafe rewrite and
    silently re-exchanged at session width)."""
    import datetime as _dt

    from data_engineering_capstone_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame([("a", 1.0), (None, 5.0)], "k string, v double")
    new = spark.createDataFrame([("a", 1.0), (None, 7.0), (None, None)], "k string, v double")
    # NULL key appears once in old (v=5.0) and twice in new (7.0, NULL):
    # the join is many-to-many on the NULL group — both new rows pair
    # with the old row as updates
    rows = snapshot_diff(old, new, ["k"], ["v"], num_partitions=4).collect()
    ops = {(r["k"], r["op"], r["new_v"]) for r in rows}
    assert ops == {(None, "U", None), (None, "U", 7.0)}

    # string-key width survives: the only exchanges are the two explicit
    # REPARTITION_BY_NUM(4) ones plus whatever the final grain needs —
    # no session-width hashpartitioning over the join keys
    plan = (
        snapshot_diff(old, new, ["k"], ["v"], num_partitions=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re

    widths = re.findall(r"Exchange hashpartitioning\([^)]*, (\d+)\), (\w+)", plan)
    assert widths and all(w == "4" and kind == "REPARTITION_BY_NUM" for w, kind in widths), widths

    d_old = spark.createDataFrame([(_dt.date(2024, 1, 1), 1.0)], "k date, v double")
    d_new = spark.createDataFrame([(_dt.date(2024, 1, 1), 2.0)], "k date, v double")
    got = snapshot_diff(d_old, d_new, ["k"], ["v"], num_partitions=4).collect()
    assert [(r["op"], r["k"]) for r in got] == [("U", _dt.date(2024, 1, 1))]


def test_keyed_running_sum_date_key(spark):
    """DATE-typed partition key must work (shared null_default helper)."""
    import datetime as _dt

    from pyspark.sql import Window

    from data_engineering_capstone_spark.operators.prefix import keyed_running_sum

    rows = [
        (_dt.date(2024, 1, 1 + (i % 3)), i % 10, i, float(i % 7)) for i in range(200)
    ] + [(None, 5, 999, 3.0)]
    df = spark.createDataFrame(rows, "key date, ord int, uid long, val double")
    got = keyed_running_sum(
        df, ["key"], ["ord", "uid"], "val",
        chunk_expr=F.floor(F.col("ord") / 4), out_col="run", n_col="n",
        num_partitions=4,
    )
    w = Window.partitionBy("key").orderBy("ord", "uid").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = df.select("key", "uid", F.sum("val").over(w).alias("run"),
                     F.count(F.lit(1)).over(w).alias("n"))
    gm = {(r["key"], r["uid"]): (r["run"], r["n"]) for r in got.collect()}
    wm = {(r["key"], r["uid"]): (r["run"], r["n"]) for r in want.collect()}
    assert gm == wm


def test_dedup_exact_collapses_signed_zero_and_nan_keys(spark, tmp_path):
    """0.0/-0.0 and NaN keys are one key each, as in SQL GROUP BY: the
    pinned repartition must not split a normalized key across reducers."""
    rows = [(0.0, i) for i in range(5)] + [(-0.0, i) for i in range(5, 10)]
    rows += [(math.nan, i) for i in range(10, 15)] + [(float(k), 100 + k) for k in range(1, 40)]
    path = str(tmp_path / "keys")
    spark.createDataFrame(rows, "k double, v int").repartition(3).write.parquet(path)
    df = spark.read.parquet(path)
    for out in (dedup_exact(df, ["k"]), dedup_exact(df, ["k"], keep_order_by=[F.col("v")])):
        keys = [r["k"] for r in out.collect()]
        assert len(keys) == 41
        assert sum(k == 0.0 for k in keys) == 1 and sum(math.isnan(k) for k in keys) == 1
