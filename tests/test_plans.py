"""Physical-plan pinning tests (SURVEY.md §4): the same logical join
lands on each of the three strategies under explicit control, and the
assertion helper catches regressions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_spark.plans.strategies import (
    assert_join_strategy,
    broadcast_join,
    merge_join,
    physical_plan,
    shuffle_hash_join,
)
from data_engineering_capstone_spark.sources.testdata import load_table


def test_three_join_strategies_pinned(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    b = broadcast_join(li, o, li.l_orderkey == o.o_orderkey)
    assert_join_strategy(b, "broadcast")

    m = merge_join(li, o, li.l_orderkey == o.o_orderkey)
    assert_join_strategy(m, "merge")

    sh = shuffle_hash_join(li, o, li.l_orderkey == o.o_orderkey)
    assert_join_strategy(sh, "shuffle_hash")

    # all three compute the same thing
    counts = {x.count() for x in (b, m, sh)}
    assert len(counts) == 1


def test_assert_join_strategy_catches_wrong_pick(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    m = merge_join(li, o, li.l_orderkey == o.o_orderkey)
    with pytest.raises(AssertionError):
        assert_join_strategy(m, "broadcast")


def test_autobroadcast_picks_dim_join(spark, sf_dir):
    """With default thresholds, a dimension-sized build side must come
    out broadcast without any hint — statistics do the right thing."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in physical_plan(j)


def test_analyze_table_feeds_cbo_stats(spark, sf_dir):
    """ANALYZE TABLE COMPUTE STATISTICS must surface rowCount to the
    optimizer — the input the cost-based join reorderer needs."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS dec_stats_supplier")
    # a previous session's on-disk location survives the in-memory
    # catalog; clear it or the CREATE refuses the name
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/dec_stats_supplier", ignore_errors=True)
    load_table(spark, sf_dir, "supplier").write.mode("overwrite").saveAsTable(
        "dec_stats_supplier"
    )
    spark.sql("ANALYZE TABLE dec_stats_supplier COMPUTE STATISTICS")
    row = spark.sql("DESCRIBE TABLE EXTENDED dec_stats_supplier").filter(
        "col_name = 'Statistics'"
    ).collect()
    assert row and "rows" in row[0]["data_type"], row
    expected = spark.table("dec_stats_supplier").count()
    assert f"{expected} rows" in row[0]["data_type"]


def test_exchange_reuse_across_same_key_aggregates(spark, sf_dir):
    """Two aggregates over the SAME shuffled child must reuse one
    exchange (ReusedExchange) instead of shuffling twice — the plan
    property that keeps multi-output pipelines one-shuffle at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("q"), F.count(F.lit(1)).alias("n")
    )
    # identical projections in both branches — otherwise column pruning
    # specializes each exchange and nothing is reusable
    a = base.filter(F.col("q") > 100)
    b = base.filter(F.col("n") > 3)
    # AQE's pre-execution plan is an unexpanded shell; the ReuseExchange
    # rule is visible in the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = physical_plan(a.unionByName(b))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "ReusedExchange" in plan, plan


def test_preset_guard_pairwise_entries_all_scale_measured(spark, sf_dir):
    """Round-5 verdict task 2: every oracle-paired catalog entry whose
    plan generates row PAIRS from one table (pair-emitting schema or
    theta self-join) must appear in a scale-crossover preset or carry a
    written bounded-growth reason in tools/preset_guard.py —
    llm_fuzzy_prefix_pairs hid a quadratic blocking key for three
    rounds precisely because it was in no measurement preset."""
    import importlib
    import os as _os
    import sys as _sys

    tools_dir = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools")
    _sys.path.insert(0, tools_dir)
    try:
        preset_guard = importlib.import_module("preset_guard")
        from data_engineering_capstone_spark.catalog import load_all as _la

        catalog = _la()
        # whitelist hygiene: every whitelisted name must still exist
        for n in preset_guard.BOUNDED_OK:
            assert n in catalog, f"stale BOUNDED_OK entry {n}"
        # the escaped entry is now in a preset
        assert "llm_fuzzy_prefix_pairs" in preset_guard._presets()
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            covered, missing = preset_guard.sweep(spark, sf_dir, verbose=False)
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert not missing, f"pair-generating entries in no scale preset: {missing}"
        # the sweep actually detects the known pairwise family
        assert "llm_fuzzy_prefix_pairs" in covered
        assert "llm_ngram_jaccard" in covered
    finally:
        _sys.path.remove(tools_dir)


def test_i94_star_rollup_plan_broadcasts_all_dims(spark, sf_dir):
    """Round-5 verdict task 5 (plan half): the reference-shaped star
    rollup must broadcast all five label-file dims (no fact-side
    sort-merge join) and aggregate in two phases (partial below the
    exchange) — the plan properties that let the pipeline scale from
    3.1M to 198M measured rows (BASELINE.md, round 5)."""
    import re

    from data_engineering_capstone_spark.catalog import load_all

    df = load_all()["ref_i94_star_rollup"].fn(spark, sf_dir)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = physical_plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "SortMergeJoin" not in plan, plan
    # two-phase rollup: a partial HashAggregate below the exchange and a
    # final one above it
    assert len(re.findall(r"\bHashAggregate\b", plan)) >= 2, plan


def test_dynamic_partition_pruning_engages(spark, sf_dir, tmp_path):
    """DPP: a date-partitioned fact joined to a filtered dim must get a
    dynamicpruning subquery on the partition column — at 100 TB this is
    the difference between scanning 3 partitions and scanning 3,000.
    The physical plan carries 'dynamicpruning' inside the scan's
    PartitionFilters when the feature fires."""
    o = load_table(spark, sf_dir, "orders")
    fact_path = str(tmp_path / "orders_by_prio")
    o.withColumn("prio", F.col("o_orderpriority")).write.partitionBy(
        "prio"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (
        o.select(F.col("o_orderpriority").alias("prio")).distinct()
        .filter(F.col("prio").startswith("1"))
    )
    joined = fact.join(dim, "prio").groupBy("prio").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = {r["prio"] for r in joined.collect()}
    assert got == {"1-URGENT"}


def test_aqe_skew_join_splits_and_its_boundary(spark, sf_dir):
    """AQE's skew-join split fires on a skewed sort-merge join
    (SortMergeJoin(skew=true) + 'skewed' AQEShuffleRead) — AND it is
    suppressed when a downstream aggregate needs the join's hash
    distribution on the same key, because splitting would break it.
    That boundary is exactly why the manual salting entry
    (skew_salted_agg) exists: AQE insures plain joins, salting insures
    join+agg-on-the-join-key pipelines."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        a = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("va")
        ).union(
            spark.range(9_900).select(
                (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("va")
            )
        )
        b = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("vb"))

        plain = a.join(b, "k").select(F.sum(F.col("va") + F.col("vb")).alias("s"))
        plain.collect()
        p1 = plain._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in p1, p1[:1500]

        same_key_agg = a.join(b, "k").groupBy("k").count()
        same_key_agg.collect()
        p2 = same_key_agg._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in p2  # distribution reuse wins; salt instead
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Runtime bloom-filter semi-join reduction (Spark 3.5+/4,
    `spark.sql.optimizer.runtime.bloomFilter.enabled`, default on): a
    selective filter on one join side gets distilled into a bloom
    filter that prunes the OTHER side's scan before the shuffle — at
    100 TB this cuts the fact-side shuffle of a filtered fact-fact
    join by the filter's selectivity, the same lever DPP provides for
    partition columns but for arbitrary join keys. Default thresholds
    (application side > 10 GB) are cluster-scale: correctly NOT firing
    on test-sized inputs, firing once the application-side threshold
    admits the scan. Asserts both sides of that boundary and result
    equality with the filter on/off."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def build():
        o = load_table(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") < 10000)
        )
        li = load_table(spark, sf_dir, "lineitem")
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    # default thresholds: no injection at test scale (the 10 GB
    # application-side gate is the no-regression guard for small joins)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        base = build()
        p0 = base._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in p0.lower()
        expected = {(r["l_returnflag"], r["n"]) for r in base.collect()}

        for k, v in confs.items():
            spark.conf.set(k, v)
        j = build()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), plan[:2000]
        assert "bloom_filter_agg" in plan.lower()
        got = {(r["l_returnflag"], r["n"]) for r in j.collect()}
        assert got == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pandas_udaf_partial_grain_law(spark, sf_dir):
    """SCALE.md §22 pinned as a plan test: PythonUDAF has no partial
    aggregation, so a grouped-agg pandas UDF keyed ONLY on a
    low-cardinality column shuffles every raw row to |groups| reducers
    and Arrow-transfers each whole group into one Python worker —
    per-worker memory linear in the corpus (udf_grouped_agg measured
    52 s / 169x at 256x in that form before the round-8 rewrite). The
    law: every ArrowAggregatePython node in the catalog must aggregate
    at a grain that includes SPARK_PARTITION_ID() — the explicit
    partial-grain device of queries_udf.py:udf_grouped_agg — and the
    audit (tools/explain_audit.py) must FLAG the old single-phase form.
    """
    from data_engineering_capstone_spark.catalog import load_all
    from data_engineering_capstone_spark.queries_udf import _qty_sum, _wsum_units
    from tools.explain_audit import audit_one

    # 1. the shipped template: UDAF node present AND device present
    cat = load_all()
    shipped = cat["udf_grouped_agg"].fn(spark, sf_dir)
    plan = physical_plan(shipped)
    assert "ArrowAggregatePython" in plan
    assert "SPARK_PARTITION_ID()" in plan
    assert audit_one("udf_grouped_agg", plan) == []

    # 2. the OLD single-phase form fails the audit (regression trap:
    #    if someone "simplifies" the two-phase plan away, this is the
    #    exact shape they'd produce)
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
    old = (
        li.select(
            "l_returnflag", cents.alias("c"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
        .groupBy("l_returnflag")
        .agg(_wsum_units("c", "q").alias("w"), _qty_sum("q").alias("s"))
    )
    old_plan = physical_plan(old)
    assert "ArrowAggregatePython" in old_plan
    flags = audit_one("single_phase_regression_probe", old_plan)
    assert any("partition-grain" in f for f in flags), flags

    # 2b. decoy probe (round-9 ADVICE): a grain-less UDAF co-planned
    #     with an UNRELATED SPARK_PARTITION_ID() column must STILL be
    #     flagged — the law reads each node's own grouping keys, not a
    #     plan-wide substring.
    side = (
        li.select("l_returnflag", F.spark_partition_id().alias("unrelated_pid"))
        .groupBy("l_returnflag")
        .agg(F.max("unrelated_pid").alias("m"))
    )
    decoy = old.join(side, "l_returnflag")
    decoy_plan = physical_plan(decoy)
    assert "ArrowAggregatePython" in decoy_plan
    assert "SPARK_PARTITION_ID()" in decoy_plan  # the decoy is live
    flags = audit_one("decoy_regression_probe", decoy_plan)
    assert any("partition-grain" in f for f in flags), flags

    # 3. catalog-wide: no OTHER entry plans a grain-less UDAF. Scanned
    #    by MODULE, not by entry-name prefix (round-9 review finding: a
    #    grouped-agg pandas UDF added under e.g. a ts_* name would have
    #    escaped a udf_*-only scan): every entry whose defining module
    #    mentions pandas_udf gets its lazy plan checked, minus the
    #    execute-on-construction sink/streaming entries the plan audit
    #    itself skips.
    import inspect
    import sys as _sys

    from tools.explain_audit import SKIP as _AUDIT_SKIP

    module_uses_pandas_udf: dict[str, bool] = {}
    for name, spec in cat.items():
        if name in _AUDIT_SKIP:
            continue
        mod = spec.fn.__module__
        if mod not in module_uses_pandas_udf:
            src = inspect.getsource(_sys.modules[mod])
            module_uses_pandas_udf[mod] = "pandas_udf" in src
        if not module_uses_pandas_udf[mod]:
            continue
        p = physical_plan(spec.fn(spark, sf_dir))
        if "ArrowAggregatePython" in p:
            from tools.explain_audit import udaf_grain_flags

            assert not udaf_grain_flags(p), f"{name} plans a grain-less pandas UDAF"


def test_fact_fact_exchange_width_law(spark, sf_dir):
    """Round-11 verdict task 1 pinned as a plan test: every fact-fact
    join and fact-partitioned window in the catalog must carry a
    PLAN-ENCODED exchange width (sources/pqmeta.py:scaled_width —
    REPARTITION_BY_NUM in the plan), never the session default
    (ENSURE_REQUIREMENTS): a session-width SMJ sorter / window sort
    holds corpus/N rows per task, which died UNABLE_TO_ACQUIRE_MEMORY
    at the 2048x octave before round 10 (q9, BASELINE.md). The audit
    (tools/explain_audit.py:fact_fact_width_flags) enforces it
    catalog-wide per round; this test pins the representative plans AND
    proves the audit still catches the violating shapes."""
    from data_engineering_capstone_spark.catalog import load_all
    from tools.explain_audit import audit_one, plan_text

    cat = load_all()
    width_law_entries = [
        "q5_revenue_by_nation",      # fact-fact SHJ via per-order pre-agg
        "q3_top_orders",             # fact-fact SHJ, filtered sides
        "q7_bilateral_volume",       # pruned lineitem x pruned orders
        "q9_product_profit",         # the original round-10 law site
        "q20_promo_part_suppliers",  # supplier-cardinality inner join
        "etl_cdc_snapshot_diff",     # null-safe full outer (nsafe exprs)
        "asof_purchase_click",       # tagged-union window on user_id
        "window_running_orders",     # fact window on o_custkey
        "etl_scd2_customer_segment", # merge operator num_partitions
        "etl_dedup_first_event",     # dedup operator num_partitions
    ]
    for name in width_law_entries:
        plan = plan_text(cat[name].fn(spark, sf_dir))
        flags = [f for f in audit_one(name, plan) if "width" in f]
        assert flags == [], (name, flags)
        assert "REPARTITION_BY_NUM" in plan, (
            f"{name}: width law expects an explicit plan-encoded width")

    # negative controls: the audit must FLAG the exact shapes the law
    # forbids (otherwise the per-round audit run proves nothing)
    from data_engineering_capstone_spark.sources.testdata import load_table
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bad_join = li.hint("MERGE").join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "o_orderdate"
    )
    flags = audit_one("unwidthed_join_probe", plan_text(bad_join))
    assert any("fact-fact join exchange" in f for f in flags), flags

    e = load_table(spark, sf_dir, "events")
    bad_win = e.withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    flags = audit_one("unwidthed_window_probe", plan_text(bad_win))
    assert any("fact-partitioned window" in f for f in flags), flags

    # constant key-range slices stay exempt (the ts_*/lateral family):
    # the same window over user_id < 10 is NOT fact-scale at any SF
    sliced = e.filter(F.col("user_id") < 10).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id")),
    )
    assert audit_one("const_slice_probe", plan_text(sliced)) == []


def test_gated_broadcast_footer_predicate(spark, sf_dir):
    """Round-11: every forced broadcast of an SF-proportional table
    (part/supplier/customer slices in the TPC-H shapes) now rides
    plans/strategies.gated_broadcast — hint under a footer-byte budget;
    past it, no hint (never a forced unbounded build, the q7/anti_semi
    standard) and the key side repartitions at the table's footer
    width."""
    from data_engineering_capstone_spark.plans.strategies import (
        footer_fits_broadcast,
        gated_broadcast,
    )
    from data_engineering_capstone_spark.sources.testdata import load_table

    assert footer_fits_broadcast(sf_dir, "customer")
    assert not footer_fits_broadcast(sf_dir, "customer", budget_bytes=1)
    assert not footer_fits_broadcast(sf_dir, "no_such_table")  # unknown → never force

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    hinted = o.join(
        gated_broadcast(sf_dir, c, "customer", key="c_custkey"), o.o_custkey == c.c_custkey
    )
    assert "BroadcastHashJoin" in physical_plan(hinted)
    past = gated_broadcast(sf_dir, c, "customer", key="c_custkey", budget_bytes=1)
    assert "REPARTITION_BY_NUM" in physical_plan(o.join(past, o.o_custkey == c.c_custkey))


def test_final_sort_law_fact_grain_entries_unsorted(spark, sf_dir):
    """Round-11 final-sort sweep (SCALE.md §28): a display-only global
    sort re-executes the plan below it (the range partitioner's sample
    pass), so fact-grain entries must not root in Sort/rangepartitioning.
    Pins one representative per swept mechanism class."""
    from data_engineering_capstone_spark.catalog import load_all

    catalog = load_all()
    for name in (
        "udf_pandas_scalar",      # ArrowEvalPython ran twice pre-sweep
        "mm_feature_extract",     # mapInPandas decode ran twice
        "scalar_conditional_funcs",  # codegen projection ran twice
        "llm_minhash_near_dup",   # pair-stage re-execution
        "llm_text_stats",         # documented in-entry since round 5
    ):
        df = catalog[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        root = plan.splitlines()[0] if plan else ""
        assert "rangepartitioning" not in plan.lower(), (
            f"{name} re-grew a global sort exchange:\n{plan[:500]}"
        )
        assert not root.lstrip("*+- (0123456789)").startswith("Sort"), (
            f"{name} roots in a Sort:\n{root}"
        )


def test_dump_normalisation_makes_rebuilt_plans_equal(spark, sf_dir):
    """``tools/explain_audit.py --dump-dir`` writes each plan through
    ``normalise_plan``, so ``diff -r`` of two dumps is the plan-identity
    check of a refactor. Two builds of the same entry in one session
    differ in expression ids; normalised, they are equal. The schema
    evolution entry reads back under its given union schema, so its scan
    columns keep that schema's order from run to run."""
    import re

    from data_engineering_capstone_spark.catalog import load_all
    from tools.explain_audit import normalise_plan, plan_text

    cat = load_all()
    for name in ("q5_revenue_by_nation", "scan_parquet_schema_evolution"):
        first, second = (plan_text(cat[name].fn(spark, sf_dir)) for _ in range(2))
        assert first != second, f"{name}: rebuilt plan kept its expression ids"
        assert normalise_plan(first) == normalise_plan(second), name
    # the aggregate prunes the scan to n_regionkey and batch, which keep
    # the union schema's order
    union = ["n_nationkey", "n_name", "n_regionkey", "batch"]
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", first)
    assert schemas, "no parquet scan in the schema evolution plan"
    for schema in schemas:
        cols = [c.split(":")[0] for c in schema.split(",")]
        assert cols == [c for c in union if c in cols], schema
        assert {"n_regionkey", "batch"} <= set(cols), schema
