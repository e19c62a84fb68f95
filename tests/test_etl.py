"""End-to-end test of the I94-shaped ETL pipeline (SURVEY.md §2 Tier B)
on an in-code fixture shaped like the reference's fact table (§1.2)."""

from __future__ import annotations

import datetime as dt
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_engineering_capstone_spark.etl import pipeline
from data_engineering_capstone_spark.etl.quality import (
    assert_checks,
    check_no_nulls,
    check_nonempty,
    check_schema,
    check_unique_key,
)
from data_engineering_capstone_spark.etl.sas_labels import dim_from_map, parse_sas_value_maps

# A proc-format sample in the reference's shape
# (reference: I94_SAS_Labels_Descriptions.SAS:9,302,972,981,1046)
SAS_SAMPLE = """
value i94cntyl
   582 = 'MEXICO'
   236 = 'AFGHANISTAN'
   101 = 'ALBANIA' ;
value $i94prtl
   'NYC' = 'NEW YORK, NY'
   'LOS' = 'LOS ANGELES, CA' ;
value i94model
   1 = 'Air'
   2 = 'Sea'
   3 = 'Land'
   9 = 'Not reported' ;
value i94addrl
   'NY'='NEW YORK'
   'CA'='CALIFORNIA' ;
value i94visa
   1 = 'Business'
   2 = 'Pleasure'
   3 = 'Student' ;
"""


def test_parse_sas_value_maps():
    maps = parse_sas_value_maps(SAS_SAMPLE)
    assert set(maps) == {"i94cntyl", "i94prtl", "i94model", "i94addrl", "i94visa"}
    assert maps["i94cntyl"]["582"] == "MEXICO"
    assert maps["i94prtl"]["NYC"] == "NEW YORK, NY"
    assert maps["i94model"]["9"] == "Not reported"
    assert maps["i94visa"]["2"] == "Pleasure"


# the reference fact's shape (§1.2): SAS numerics are doubles
I94_SCHEMA = T.StructType(
    [
        T.StructField("cicid", T.DoubleType()),
        T.StructField("i94yr", T.DoubleType()),
        T.StructField("i94mon", T.DoubleType()),
        T.StructField("i94cit", T.DoubleType()),
        T.StructField("i94port", T.StringType()),
        T.StructField("arrdate", T.DoubleType()),
        T.StructField("i94mode", T.DoubleType()),
        T.StructField("i94addr", T.StringType()),
        T.StructField("depdate", T.DoubleType()),
        T.StructField("i94visa", T.DoubleType()),
        T.StructField("count", T.DoubleType()),
        T.StructField("dtadfile", T.StringType()),
        T.StructField("dtaddto", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def i94_fixture(spark):
    # 20566.0 = 2016-04-22 as SAS day; schema mimics §1.2 (doubles+strings)
    rows = [
        # cicid, yr, mon, cit, port, arrdate, mode, addr, depdate, visa, count, dtadfile, dtaddto
        (1.0, 2016.0, 4.0, 582.0, "NYC", 20566.0, 1.0, "NY", 20570.0, 2.0, 1.0, "20160422", "07202016"),
        (2.0, 2016.0, 4.0, 236.0, "LOS", 20566.0, 1.0, "CA", None, 1.0, 1.0, "20160422", "D/S"),
        (2.0, 2016.0, 4.0, 236.0, "LOS", 20566.0, 1.0, "CA", None, 1.0, 1.0, "20160422", "D/S"),  # dup
        (3.0, 2016.0, 4.0, 101.0, "NYC", 20567.0, 9.0, "XX", 20580.0, 3.0, 1.0, "20160423", "10012016"),
        (None, 2016.0, 4.0, 582.0, "NYC", 20567.0, 2.0, "NY", None, 2.0, 1.0, "bad", None),  # null key
    ]
    return spark.createDataFrame(rows, I94_SCHEMA)


def _dims(spark):
    maps = parse_sas_value_maps(SAS_SAMPLE)
    return {
        "country": dim_from_map(spark, maps["i94cntyl"], "code", "name", T.LongType()),
        "port": dim_from_map(spark, maps["i94prtl"], "code", "name"),
        "mode": dim_from_map(spark, maps["i94model"], "code", "name", T.LongType()),
        "state": dim_from_map(spark, maps["i94addrl"], "code", "name"),
        "visa": dim_from_map(spark, maps["i94visa"], "code", "name", T.LongType()),
    }


def test_pipeline_end_to_end(spark, i94_fixture):
    cleaned = pipeline.clean(i94_fixture)
    assert cleaned.count() == 3  # null key dropped, dup collapsed
    assert dict(cleaned.dtypes)["cicid"] == "bigint"

    dated = pipeline.convert_dates(cleaned)
    by_id = {r["cicid"]: r for r in dated.collect()}
    assert by_id[1]["arrival_date"] == dt.date(2016, 4, 22)
    assert by_id[1]["admitted_until"] == dt.date(2016, 7, 20)
    assert by_id[2]["admitted_until"] is None  # D/S sentinel
    assert by_id[2]["departure_date"] is None

    named = pipeline.join_dims(dated, _dims(spark))
    by_id = {r["cicid"]: r for r in named.collect()}
    assert by_id[1]["origin_country"] == "MEXICO"
    assert by_id[1]["port_name"] == "NEW YORK, NY"
    assert by_id[1]["travel_mode"] == "Air"
    assert by_id[1]["visa_category"] == "Pleasure"
    assert by_id[3]["state_name"] == "other"  # invalid 'XX' → default
    assert by_id[3]["travel_mode"] == "Not reported"

    date_dim = pipeline.build_date_dim(named)
    dd = {r["date"]: r for r in date_dim.collect()}
    assert set(dd) == {dt.date(2016, 4, 22), dt.date(2016, 4, 23)}
    assert dd[dt.date(2016, 4, 22)]["dow"] == 5  # Friday, ISO

    agg = pipeline.aggregate_arrivals(named)
    a = {(r["port_name"], r["visa_category"]): r["arrivals"] for r in agg.collect()}
    assert a[("NEW YORK, NY", "Pleasure")] == 1
    assert a[("LOS ANGELES, CA", "Business")] == 1


def _pickled_dim(spark, mapping, key_type=None):
    """The pre-Arrow build of ``dim_from_map``: a pickled row list."""
    schema = T.StructType(
        [T.StructField("code", T.StringType(), False), T.StructField("name", T.StringType(), False)]
    )
    df = spark.createDataFrame(list(mapping.items()), schema)
    return df if key_type is None else df.withColumn("code", df["code"].cast(key_type))


@pytest.mark.parametrize("arrow_conf", ["true", "false"])
def test_dim_from_map_is_local_relation(spark, arrow_conf):
    """Label dims are JVM-local tables with the pickled build's rows,
    types and nullability, whatever the Arrow conf says."""
    maps = parse_sas_value_maps(
        SAS_SAMPLE + "value $i94prtx\n   'INT' = 'INT''L FALLS, MN'\n   'NYC' = 'NEW YORK, NY' ;\n"
    )
    assert maps["i94prtx"]["INT"] == "INT'L FALLS, MN"
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, arrow_conf)
    try:
        cases = [
            (maps["i94prtx"], None),
            ({}, None),
            (maps["i94cntyl"], T.LongType()),
        ]
        for mapping, key_type in cases:
            dim = dim_from_map(spark, mapping, "code", "name", key_type)
            want = _pickled_dim(spark, mapping, key_type)
            plan = dim._jdf.queryExecution().analyzed().toString()
            assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
            assert dim.schema == want.schema
            assert sorted(dim.collect()) == sorted(want.collect())
    finally:
        spark.conf.set(conf, before)


def test_local_frame_rejects_null_in_non_nullable_column(spark):
    from data_engineering_capstone_spark.sources.readers import local_frame

    schema = T.StructType([T.StructField("code", T.StringType(), False)])
    with pytest.raises(ValueError, match="non-nullable"):
        local_frame(spark, [("a",), (None,)], schema)


def _subtrees(plan: str, node: str) -> list[str]:
    """Text of every subtree rooted at a ``node`` line of a plan string."""
    lines = plan.splitlines()
    out = []
    for i, line in enumerate(lines):
        at = line.find(node)
        if at < 0:
            continue
        sub = [line]
        for nxt in lines[i + 1 :]:
            if len(nxt) - len(nxt.lstrip(" |:+-")) <= at:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


def test_join_dims_broadcasts_local_table_scans(spark, i94_fixture, tmp_path):
    """Every broadcast dimension is a LocalTableScan: the fact write
    runs no pickled-RDD (Python worker) scan."""
    fact_path = str(tmp_path / "fact")
    i94_fixture.write.parquet(fact_path)
    fact = pipeline.convert_dates(pipeline.clean(spark.read.parquet(fact_path)))
    named = pipeline.join_dims(fact, _dims(spark))
    assert len(named.collect()) == 3
    plan = named._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    broadcasts = _subtrees(final, "BroadcastExchange")
    assert len(broadcasts) == 5, final
    assert all("LocalTableScan" in b for b in broadcasts), final
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan


def _i94_month(spark, tmp_path, n=400):
    """A one-month I94 fact of ``n`` distinct records plus full-row
    duplicates, written as several parquet files."""
    rows = [
        (float(i), 2016.0, 4.0, 582.0, "NYC", 20566.0 + i % 30, 1.0, "NY", None, 2.0, 1.0,
         "20160422", "D/S")
        for i in range(n)
    ]
    path = str(tmp_path / "raw")
    spark.createDataFrame(rows + rows[::10], I94_SCHEMA).repartition(3).write.parquet(path)
    return spark.read.parquet(path)


def test_clean_pins_one_dedup_exchange_at_law_width(spark, tmp_path):
    """The dedup exchange is an explicit repartition at the footer-derived
    width (AQE cannot coalesce it to one task), and the aggregate above
    it adds no second exchange."""
    from data_engineering_capstone_spark.sources.pqmeta import input_width

    fact = _i94_month(spark, tmp_path)
    assert len(fact.inputFiles()) == 3
    width = input_width(fact)
    assert width == spark.sparkContext.defaultParallelism
    plan = pipeline.clean(fact)._jdf.queryExecution().executedPlan().toString()
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert len(exchanges) == 1, plan
    assert re.search(
        rf"Exchange hashpartitioning\(cicid#\d+, {width}\), REPARTITION_BY_NUM", exchanges[0]
    ), plan
    below = plan[plan.index(exchanges[0]):]
    assert "Aggregate" in plan[: plan.index(exchanges[0])] and "Aggregate" not in below, plan


def test_fact_write_runs_on_every_core(spark, tmp_path):
    """The partitioned fact write of one month produces one part file per
    core: the writer tasks are the dedup's reducers, not one coalesced
    task."""
    from data_engineering_capstone_spark.sources.writers import write_parquet

    named = pipeline.join_dims(
        pipeline.convert_dates(pipeline.clean(_i94_month(spark, tmp_path))), _dims(spark)
    )
    out = str(tmp_path / "fact")
    write_parquet(named, out, partition_by=["i94yr", "i94mon"])
    month = os.path.join(out, "i94yr=2016", "i94mon=4")
    parts = [f for f in os.listdir(month) if f.endswith(".parquet")]
    assert len(parts) == spark.sparkContext.defaultParallelism
    assert spark.read.parquet(out).count() == 400


def test_clean_digest_matches_session_width_drop_duplicates(spark, i94_fixture):
    """Pinning the exchange changes where rows are deduplicated, not
    which rows survive."""
    want = i94_fixture.dropna(subset=["cicid", "i94yr", "i94mon"]).dropDuplicates(["cicid"])
    want = want.withColumns(
        {c: F.col(c).cast("long") for c in pipeline.INTEGRAL_CODE_COLS if c in want.columns}
    )
    got = pipeline.clean(i94_fixture)
    assert got.columns == want.columns
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_quality_checks_pass_and_fail(spark, i94_fixture):
    cleaned = pipeline.clean(i94_fixture)
    assert_checks(
        check_nonempty(cleaned),
        check_unique_key(cleaned, ["cicid"]),
        check_no_nulls(cleaned, ["cicid", "i94yr"]),
    )
    # the raw fixture must FAIL uniqueness and null checks
    with pytest.raises(AssertionError):
        assert_checks(check_unique_key(i94_fixture, ["cicid"]))
    with pytest.raises(AssertionError):
        assert_checks(check_no_nulls(i94_fixture, ["cicid"]))
    # schema check: positive and negative
    sub = cleaned.select("i94port")
    good = T.StructType([T.StructField("i94port", T.StringType())])
    assert check_schema(sub, good).passed
    bad = T.StructType([T.StructField("i94port", T.LongType())])
    assert not check_schema(sub, bad).passed


def test_quality_single_pass_suite_matches_individual_checks(spark):
    """check_suite_single_pass fuses B11+B12+null-scan into one
    aggregation job; its verdicts must match the individual check
    functions on the same frame, including a failing case."""
    from data_engineering_capstone_spark.etl.quality import (
        check_no_nulls,
        check_nonempty,
        check_suite_single_pass,
        check_unique_key,
    )

    good = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    bad = spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, None)], "k long, v string"
    )
    for df in (good, bad):
        fused = {r.check: r.passed for r in
                 check_suite_single_pass(df, ["k"], ["k", "v"])}
        assert fused["nonempty"] == check_nonempty(df).passed
        assert fused["unique(k)"] == check_unique_key(df, ["k"]).passed
        assert fused["no_nulls(k,v)"] == check_no_nulls(df, ["k", "v"]).passed
    # the bad frame actually exercises the failure paths
    fused_bad = {r.check: r.passed for r in
                 check_suite_single_pass(bad, ["k"], ["k", "v"])}
    assert fused_bad["unique(k)"] is False
    assert fused_bad["no_nulls(k,v)"] is False


def test_fk_orphan_stats_planted(spark):
    from data_engineering_capstone_spark.etl.quality import (
        fk_integrity_report,
        fk_orphan_stats,
    )

    # child: 6 rows — keys 1,1,2 match; 9 is an orphan twice (ONE orphan
    # key); one NULL row (not a key, not an orphan)
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (9,), (9,), (None,)], "fk_col long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    row = fk_orphan_stats(child, "fk_col", parent, "pk", "child->parent").collect()[0]
    assert row.fk == "child->parent"
    assert row.n_rows == 6
    assert row.n_keys == 3          # 1, 2, 9 (null excluded)
    assert row.n_orphan_keys == 1   # 9, counted once
    assert row.n_null_rows == 1

    # duplicate parent keys must not multiply child rows
    dup_parent = spark.createDataFrame([(1,), (1,), (2,)], "pk long")
    row2 = fk_orphan_stats(child, "fk_col", dup_parent, "pk", "e").collect()[0]
    assert row2.n_rows == 6 and row2.n_orphan_keys == 1

    # report unions edges and orders by relation name
    rep = fk_integrity_report(
        [
            (child, "fk_col", parent, "pk", "z_edge", True),
            (child, "fk_col", dup_parent, "pk", "a_edge", False),
        ]
    ).collect()
    assert [r.fk for r in rep] == ["a_edge", "z_edge"]
    assert all(r.n_orphan_keys == 1 for r in rep)


def test_psi_kll_twin_matches_exact_within_rank_error(spark):
    """The KLL-boundary PSI (etl_psi_drift_kll) must agree with the
    exact-percentile PSI on total drift within the sketch's rank-error
    envelope: boundaries off by <=0.36% of rank move <=0.36% of mass
    one bucket over, bounding the PSI delta far below the 0.1
    stable/drift decision threshold the metric exists to serve."""
    from data_engineering_capstone_spark.queries_etl import (
        etl_psi_drift,
        etl_psi_drift_kll,
    )

    sf_dir = "/root/testdata/sf0.01"
    exact = etl_psi_drift(spark, sf_dir).collect()
    kll = etl_psi_drift_kll(spark, sf_dir).collect()
    assert len(exact) == 10 and len(kll) == 10
    t_exact = exact[0]["psi_total"]
    t_kll = kll[0]["psi_total"]
    assert abs(t_kll - t_exact) < 0.02, (t_exact, t_kll)
    # bucket populations deviate by at most ~rank_error * N per side
    n_ref_total = sum(r["n_ref"] for r in exact)
    tol = int(0.01 * n_ref_total) + 1
    for re_, rk in zip(exact, kll):
        assert abs(re_["n_ref"] - rk["n_ref"]) <= tol, (re_, rk)


def test_iqr_kll_twin_matches_exact_within_rank_error(spark):
    """The grouped-KLL Tukey fences (etl_outlier_iqr_kll) must agree
    with the exact-percentile fences per priority group: quartiles off
    by <=0.36% of rank shift each fence by at most that rank slice, so
    outlier counts differ by at most the mass near the fences."""
    from data_engineering_capstone_spark.queries_etl import (
        etl_outlier_iqr,
        etl_outlier_iqr_kll,
    )

    sf_dir = "/root/testdata/sf0.01"
    exact = {r["o_orderpriority"]: r for r in etl_outlier_iqr(spark, sf_dir).collect()}
    kll = {r["o_orderpriority"]: r for r in etl_outlier_iqr_kll(spark, sf_dir).collect()}
    assert set(exact) == set(kll) and len(exact) == 5
    for prio, re_ in exact.items():
        rk = kll[prio]
        assert re_["n_rows"] == rk["n_rows"]
        # fences within 2% of the exact IQR width
        width = re_["hi_bound"] - re_["lo_bound"]
        assert abs(re_["lo_bound"] - rk["lo_bound"]) <= 0.02 * width, (re_, rk)
        assert abs(re_["hi_bound"] - rk["hi_bound"]) <= 0.02 * width, (re_, rk)
        # outlier counts within 1% of group size
        assert abs(re_["n_outliers"] - rk["n_outliers"]) <= 0.01 * re_["n_rows"] + 1, (
            re_,
            rk,
        )
