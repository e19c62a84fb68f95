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
    the threshold and memoizes per (path, mtime, threshold)."""
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
    pqmeta._RG_GATE_CACHE.clear()
    threshold = 4
    assert pqmeta.row_groups_at_least(out, threshold) is True
    # short-circuit: the 16-file directory satisfied threshold=4 after
    # at most `threshold` footers (1 row group per part file here)
    assert len(opened) <= threshold
    # memoized: the second probe opens nothing
    opened.clear()
    assert pqmeta.row_groups_at_least(out, threshold) is True
    assert opened == []
    # a starved probe still answers False (single-row-group file)
    pqmeta._RG_GATE_CACHE.clear()
    assert pqmeta.row_groups_at_least(f"{sf_dir}/nation.parquet", threshold) is False


def test_row_groups_gate_reprobes_table_rewritten_in_place(tmp_path, monkeypatch):
    """A part file rewritten in place leaves the directory's own mtime
    unchanged; the gate must still see the new footers, and the cache
    keeps one entry per path instead of one per stamp."""
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

    monkeypatch.setattr(pq, "ParquetFile", counting)
    pqmeta._RG_GATE_CACHE.clear()
    assert pqmeta.row_groups_at_least(out, 3) is False
    assert opened == [part]

    dir_mtime = os.stat(out).st_mtime_ns
    with open(part, "wb") as f:  # same name, same directory entry
        pq.write_table(rows, f, row_group_size=100)  # three row groups
    assert os.stat(out).st_mtime_ns == dir_mtime

    opened.clear()
    assert pqmeta.row_groups_at_least(out, 3) is True
    assert opened == [part]  # probed again, not served from the cache
    assert list(pqmeta._RG_GATE_CACHE) == [out]



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
