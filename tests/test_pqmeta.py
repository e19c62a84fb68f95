"""Parquet-footer metadata probes (sources/pqmeta.py) — the inputs to
the round-10 width/gate laws must be exact, not estimates."""

from __future__ import annotations

import os

from data_engineering_capstone_spark.sources.pqmeta import (
    input_width,
    parquet_row_count,
    parquet_total_bytes,
    scaled_width,
)


def test_row_count_single_file(sf_dir):
    # driver-generated testdata is one file per table with known shape
    assert parquet_row_count(f"{sf_dir}/nation.parquet") == 25
    assert parquet_row_count(f"{sf_dir}/region.parquet") == 5


def test_row_count_matches_spark(spark, sf_dir):
    for t in ("customer", "orders"):
        path = f"{sf_dir}/{t}.parquet"
        assert parquet_row_count(path) == spark.read.parquet(path).count()


def test_row_count_spark_written_directory(spark, sf_dir, tmp_path):
    out = str(tmp_path / "multi")
    spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(4).write.parquet(out)
    assert parquet_row_count(out) == 25
    assert parquet_total_bytes(out) == sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    )


def test_scaled_width_floors_at_parallelism(sf_dir):
    # 25-row nation: width must floor at the cluster parallelism
    assert scaled_width(f"{sf_dir}/nation.parquet", 32) == 32
    # and grow once rows exceed rows_per_task
    assert scaled_width(f"{sf_dir}/nation.parquet", 2, rows_per_task=10) == 3


def test_missing_path_raises(tmp_path):
    import pytest

    with pytest.raises(FileNotFoundError):
        parquet_row_count(str(tmp_path / "nope"))


def test_row_groups_counts_footers(spark, sf_dir, tmp_path):
    from data_engineering_capstone_spark.sources.pqmeta import parquet_row_groups

    # driver-generated testdata ships ONE row group per table
    assert parquet_row_groups(f"{sf_dir}/nation.parquet") == 1
    # a Spark-written 4-file directory has >= 4 row groups (precondition:
    # enough rows that no round-robin partition is empty — an empty
    # partition writes a 0-row-group part file, ADVICE r11)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert cust.count() >= 4
    out = str(tmp_path / "rg_multi")
    cust.repartition(4).write.parquet(out)
    assert parquet_row_groups(out) >= 4


def test_fanout_starved_scan_gate(spark, sf_dir, tmp_path):
    """The round-11 fan-out law (guide §2.5): repartition ONLY when the
    table's row-group count is below cluster parallelism — at production
    scale (row groups >= cores) the plan must be untouched."""
    from data_engineering_capstone_spark.sources.pqmeta import fanout_starved_scan
    from data_engineering_capstone_spark.sources.testdata import load_table

    par = spark.sparkContext.defaultParallelism

    # starved: single-row-group testdata file -> explicit round-robin width
    d = load_table(spark, sf_dir, "documents")
    fanned = fanout_starved_scan(d, spark, sf_dir, "documents")
    plan = fanned._jdf.queryExecution().toString()
    assert f"RoundRobinPartitioning({par})" in plan or "REPARTITION_BY_NUM" in plan
    # row set unchanged
    assert fanned.count() == d.count()

    # not starved: a directory with >= parallelism row groups -> no-op
    # (precondition per ADVICE r11: enough rows that no round-robin
    # partition writes a 0-row-group part file)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    assert cust.count() >= par
    out = str(tmp_path / "fanout_wide")
    cust.repartition(par).write.parquet(out)
    import shutil

    stage = tmp_path / "sfdir"
    stage.mkdir()
    shutil.move(out, str(stage / "customer.parquet"))
    c = spark.read.parquet(str(stage / "customer.parquet"))
    unfanned = fanout_starved_scan(c, spark, str(stage), "customer")
    assert unfanned is c  # identical object: gate false, plan untouched

    # unreadable path degrades to the unchanged df
    assert fanout_starved_scan(d, spark, "/nonexistent", "nope") is d


def test_row_groups_gate_short_circuits_and_memoizes(spark, sf_dir, tmp_path, monkeypatch):
    """Round-12 (verdict item 4): the fan-out gate must not open every
    footer of a many-file table just to conclude 'no-op' — it stops at
    the threshold, and a repeated probe reads its footers from the cache."""
    import pyarrow.parquet as pq

    from data_engineering_capstone_spark.sources import pqmeta

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n_files = 16
    assert cust.count() >= n_files  # no empty round-robin partitions
    out = str(tmp_path / "many_files")
    cust.repartition(n_files).write.parquet(out)

    opened: list[str] = []
    real = pq.ParquetFile

    def counting(f, *a, **k):
        opened.append(f)
        return real(f, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    threshold = 4
    assert pqmeta.row_groups_at_least(out, threshold) is True
    # short-circuit: the 16-file directory satisfied threshold=4 after
    # at most `threshold` footers (1 row group per part file here)
    assert len(opened) <= threshold
    # cached: the second probe opens nothing
    opened.clear()
    assert pqmeta.row_groups_at_least(out, threshold) is True
    assert opened == []
    # a starved probe still answers False (single-row-group file)
    assert pqmeta.row_groups_at_least(f"{sf_dir}/nation.parquet", threshold) is False


def test_row_groups_gate_reprobes_table_rewritten_in_place(tmp_path, monkeypatch):
    """A part file rewritten in place leaves the directory's own mtime
    unchanged; the footer cache must still see the new footer, and it
    keeps one key per live file instead of one per version."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_capstone_spark.sources import pqmeta

    table_dir = tmp_path / "rewritten"
    table_dir.mkdir()
    part = str(table_dir / "part-0.parquet")
    rows = pa.table({"x": list(range(300))})
    pq.write_table(rows, part)  # one row group
    out = str(table_dir)

    opened: list[str] = []
    real = pq.ParquetFile

    def counting(f, *a, **k):
        opened.append(f)
        return real(f, *a, **k)

    def keys():
        return [k for k in pqmeta._FOOTERS if k.startswith(out)]

    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert pqmeta.row_groups_at_least(out, 3) is False
    assert opened == [part]

    dir_mtime = os.stat(out).st_mtime_ns
    with open(part, "wb") as f:  # same name, same directory entry
        pq.write_table(rows, f, row_group_size=100)  # three row groups
    assert os.stat(out).st_mtime_ns == dir_mtime

    opened.clear()
    assert pqmeta.row_groups_at_least(out, 3) is True
    assert opened == [part]  # read again, not served from the cache
    assert keys() == [part]
    assert pqmeta.parquet_row_count(out) == 300 and opened == [part]

    # a rewrite under new part-file names drops the old file's key
    os.remove(part)
    pq.write_table(rows, str(table_dir / "part-1.parquet"))
    assert pqmeta.parquet_row_groups(out) == 1
    assert keys() == [str(table_dir / "part-1.parquet")]


def test_spark_schema_matches_inference_on_catalog_tables(spark, sf_dir):
    """Every table the catalog reads: the driver's testdata at each
    scale and the benchmark's byte copies."""
    import glob

    from data_engineering_capstone_spark.sources.pqmeta import spark_schema

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = glob.glob(os.path.join(os.path.dirname(sf_dir), "*", "*.parquet")) + glob.glob(
        os.path.join(repo, "perfbench", "data", "sf0.1", "*.parquet"))
    assert paths
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for p in paths:
        assert spark_schema(p, nanos_as_long=True) == spark.read.parquet(p).schema, p


def test_spark_schema_of_spark_written_and_nanos_files(spark, sf_dir, tmp_path):
    """A Spark-written directory uses the schema Spark recorded; a
    TIMESTAMP(NANOS) column maps to ``long`` only for a caller reading
    with ``nanosAsLong`` on (with it off, a given ``long`` would read
    raw nanos where inference raises)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_capstone_spark.sources.pqmeta import spark_schema

    out = str(tmp_path / "spark_written")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(3).write.parquet(out)
    assert spark_schema(out) == spark.read.parquet(out).schema
    # Spark records non-null fields, elements and values; reads make them nullable
    strict = str(tmp_path / "spark_written_not_null")
    spark.range(6).selectExpr("id", "array(CAST(id AS FLOAT)) AS v", "map('k', id) AS m",
                              "named_struct('x', id) AS s").write.parquet(strict)
    assert spark_schema(strict) == spark.read.parquet(strict).schema

    ns = str(tmp_path / "ns.parquet")
    ts = [datetime.datetime(2024, 1, 1, 0, 0, 0, 1)]
    pq.write_table(pa.table({"id": pa.array([1], pa.int64()),
                             "ts": pa.array(ts, pa.timestamp("ns"))}), ns)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert spark_schema(ns, nanos_as_long=True) == spark.read.parquet(ns).schema
    assert spark_schema(ns) is None


def test_spark_schema_unmapped_gives_none(spark, sf_dir, tmp_path):
    """Never a guess: a type outside the mapped set, INT96 timestamps,
    partition subdirectories and a missing path leave Spark to infer."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_capstone_spark.sources.pqmeta import spark_schema

    small = str(tmp_path / "int8.parquet")
    pq.write_table(pa.table({"x": pa.array([1], pa.int8())}), small)
    assert spark_schema(small) is None
    int96 = str(tmp_path / "int96.parquet")
    pq.write_table(pa.table({"ts": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("ns"))}),
                   int96, use_deprecated_int96_timestamps=True)
    assert spark_schema(int96, nanos_as_long=True) is None
    parted = str(tmp_path / "parted")
    spark.read.parquet(f"{sf_dir}/nation.parquet").write.partitionBy("n_regionkey").parquet(parted)
    assert spark_schema(parted) is None
    assert spark_schema(str(tmp_path / "nope")) is None


def test_load_table_reads_both_event_generations(spark, sf_dir, tmp_path):
    """events.ts as TIMESTAMP(NANOS) (older testdata) and as
    timestamp[us] (current): one micro-precision timestamp either way."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_engineering_capstone_spark.sources.testdata import load_table

    ts = [datetime.datetime(2024, 3, 1, 12, 0, 0, 7)]
    for unit in ("ns", "us"):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(pa.table({"event_id": pa.array([1], pa.int64()),
                                 "ts": pa.array(ts, pa.timestamp(unit))}),
                       str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        assert df.collect()[0]["ts"] == ts[0], unit


def _footer_rows_stub(monkeypatch, rows_per_file):
    """Pretend every readable input file holds ``rows_per_file`` rows, so
    the law's growth shows without a multi-million-row fixture."""
    from data_engineering_capstone_spark.sources import pqmeta

    def rows(f):
        assert os.path.isfile(f), f
        return rows_per_file

    monkeypatch.setattr(pqmeta, "_footer_rows", rows)


def test_input_width_applies_the_law_to_input_footers(spark, sf_dir, tmp_path, monkeypatch):
    """input_width is scaled_width over df.inputFiles(): the same
    formula, with percent-encoded file: URIs mapped back to paths."""
    out = str(tmp_path / "two words")
    spark.read.parquet(f"{sf_dir}/nation.parquet").repartition(3).write.parquet(out)
    df = spark.read.parquet(out).filter("n_nationkey >= 0")
    assert len(df.inputFiles()) == 3 and all("%20" in u for u in df.inputFiles())
    par = spark.sparkContext.defaultParallelism
    assert input_width(df) == par
    _footer_rows_stub(monkeypatch, 10_000_000)
    # 30M rows at ~4M rows per reducer
    assert input_width(df) == scaled_width(out, par) == max(par, 8)


def test_input_width_falls_back_to_the_floor(spark, sf_dir, tmp_path, monkeypatch):
    """No file inputs, a non-file: scheme, or an unreadable footer: the
    parallelism floor, even where the law would give more."""
    from data_engineering_capstone_spark.sources.readers import local_frame

    par = spark.sparkContext.defaultParallelism
    df = spark.read.parquet(f"{sf_dir}/nation.parquet")
    not_parquet = tmp_path / "notes.parquet"
    not_parquet.write_text("not a footer")
    for uris in ([not_parquet.as_uri()], [(tmp_path / "gone.parquet").as_uri()]):
        monkeypatch.setattr(df, "inputFiles", lambda uris=uris: uris)
        assert input_width(df) == par, uris
    monkeypatch.undo()

    _footer_rows_stub(monkeypatch, 10**9)
    assert input_width(df) == max(par, 251)  # the law, where it applies
    local = local_frame(spark, [(i,) for i in range(50)], "k long")
    assert local.inputFiles() == []
    assert input_width(local) == par
    assert input_width(spark.range(50)) == par
    for uris in (
        ["hdfs://namenode:8020/warehouse/nation.parquet"],
        [f"file://{sf_dir}/nation.parquet", "s3a://bucket/nation.parquet"],
    ):
        monkeypatch.setattr(df, "inputFiles", lambda uris=uris: uris)
        assert input_width(df) == par, uris
