"""Tests for merge operators (upsert, SCD2) and the bucketed
zero-shuffle join plan."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from data_engineering_capstone_spark.operators.merge import scd2_apply, upsert
from data_engineering_capstone_spark.plans.strategies import physical_plan


def test_upsert_semantics(spark):
    target = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    updates = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    out = {r["k"]: r["v"] for r in upsert(target, updates, ["k"]).collect()}
    assert out == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_scd2_close_and_append(spark):
    current = spark.createDataFrame(
        [
            (1, "seg_a", dt.date(2020, 1, 1), None, True),
            (1, "seg_old", dt.date(2018, 1, 1), dt.date(2020, 1, 1), False),
            (2, "seg_b", dt.date(2020, 1, 1), None, True),
        ],
        "k long, seg string, valid_from date, valid_to date, is_current boolean",
    )
    changes = spark.createDataFrame(
        [(1, "seg_new", dt.date(2024, 6, 1))], "k long, seg string, chg date"
    )
    out = scd2_apply(current, changes, ["k"], "chg").collect()
    rows = {(r["k"], r["seg"]): r for r in out}
    assert len(out) == 4
    # old current closed at change ts
    closed = rows[(1, "seg_a")]
    assert closed["valid_to"] == dt.date(2024, 6, 1) and closed["is_current"] is False
    # history row untouched
    hist = rows[(1, "seg_old")]
    assert hist["valid_to"] == dt.date(2020, 1, 1) and hist["is_current"] is False
    # new version open + current
    new = rows[(1, "seg_new")]
    assert new["valid_from"] == dt.date(2024, 6, 1) and new["valid_to"] is None and new["is_current"] is True
    # unchanged key untouched
    assert rows[(2, "seg_b")]["is_current"] is True


def test_scd2_chains_multiple_changes_per_key(spark):
    """Two changes for one key in a single batch: the earlier version
    closes at the later change's ts; only the latest stays current."""
    current = spark.createDataFrame(
        [(1, "seg_a", dt.date(2020, 1, 1), None, True)],
        "k long, seg string, valid_from date, valid_to date, is_current boolean",
    )
    changes = spark.createDataFrame(
        [(1, "seg_mid", dt.date(2024, 6, 1)), (1, "seg_new", dt.date(2024, 9, 1))],
        "k long, seg string, chg date",
    )
    rows = {r["seg"]: r for r in scd2_apply(current, changes, ["k"], "chg").collect()}
    assert len(rows) == 3
    assert rows["seg_a"]["valid_to"] == dt.date(2024, 6, 1) and rows["seg_a"]["is_current"] is False
    assert rows["seg_mid"]["valid_from"] == dt.date(2024, 6, 1)
    assert rows["seg_mid"]["valid_to"] == dt.date(2024, 9, 1) and rows["seg_mid"]["is_current"] is False
    assert rows["seg_new"]["valid_to"] is None and rows["seg_new"]["is_current"] is True
    # exactly one current row for the key
    assert sum(1 for r in rows.values() if r["is_current"]) == 1


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """The point of bucketing: the physical plan joins the two bucketed
    scans with NO Exchange (shuffle) between scan and join."""
    from data_engineering_capstone_spark.catalog import load_all

    cat = load_all()
    df = cat["bucketed_join_zero_shuffle"].fn(spark, sf_dir)
    plan = physical_plan(df)
    # Exchanges exist above the join (for the groupBy/orderBy) but the
    # join inputs themselves must come straight from the bucketed scans.
    sm = plan.find("SortMergeJoin")
    assert sm != -1, "bucketed join should be a sort-merge join over bucketed scans"
    below = plan[sm:]
    first_tree_block = below.split("\n\n")[0]
    assert "Exchange" not in first_tree_block, first_tree_block
    # and the values are right (vs a plain join)
    from data_engineering_capstone_spark.sources.testdata import load_table

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    plain = {
        r["l_returnflag"]: r["n"]
        for r in l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r["l_returnflag"]: r["n"] for r in df.collect()}
    assert got == plain
