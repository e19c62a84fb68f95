"""Data-quality checks (SURVEY.md §2 B11-B13, replacing stub A8).

The reference ships an Airflow ``DataQualityOperator`` whose ``evaluate``
is literally ``pass`` (reference: plugins/operators/data_quality.py:5-13)
while the capstone template specifies the checks: unique key, data type,
and source/count completeness (notebook cell-12). Here each check is a
composable function returning a :class:`CheckResult`; ``run_checks``
collects them and ``assert_checks`` gives the fail-fast behavior the
reference's Livy error path models (reference: dags/libs/lib.py:194-199).

Every check is a distributed aggregation — nothing collects more than a
scalar to the driver, so the suite runs unchanged at 100 TB.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.readers import local_frame


@dataclass(frozen=True)
class CheckResult:
    check: str
    passed: bool
    observed: str
    expected: str


def check_nonempty(df: DataFrame, name: str = "nonempty") -> CheckResult:
    """B11: the sink has rows at all."""
    n = df.limit(1).count()
    return CheckResult(name, n > 0, f"{n}+ rows", "> 0 rows")


def check_completeness(source_count: int, sink_count: int, name: str = "completeness") -> CheckResult:
    """B11: source/count check — no rows lost between source and sink."""
    return CheckResult(name, source_count == sink_count, str(sink_count), str(source_count))


def check_unique_key(df: DataFrame, keys: Sequence[str], name: str | None = None) -> CheckResult:
    """B12: key uniqueness via one distributed agg (no full dedup pass)."""
    name = name or f"unique({','.join(keys)})"
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("nd"),
    ).collect()[0]
    return CheckResult(name, row["n"] == row["nd"], f"{row['nd']} distinct / {row['n']} rows", "all distinct")


def check_no_nulls(df: DataFrame, cols: Sequence[str], name: str | None = None) -> CheckResult:
    """B1-adjacent: key columns carry no nulls (one pass over all cols)."""
    name = name or f"no_nulls({','.join(cols)})"
    row = df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    ).collect()[0]
    bad = {c: row[c] for c in cols if row[c]}
    return CheckResult(name, not bad, str(bad or "0 nulls"), "0 nulls")


def check_suite_single_pass(
    df: DataFrame,
    keys: Sequence[str],
    no_null_cols: Sequence[str] = (),
) -> list[CheckResult]:
    """B11 + B12 + the null-scan of B1 in ONE distributed aggregation.

    ``check_nonempty`` + ``check_unique_key`` + ``check_no_nulls`` each
    launch their own job — three scans of the fact table. At audit time
    on a big fact that triples the I/O for checks that are all
    scan-level aggregates; this fused form computes row count, distinct
    key count, and per-column null counts in one pass (measured in
    tools/i94_scale_probe.py: 16.6 s -> one-scan time at 198M rows).
    Results are identical to running the three checks separately
    (pinned by tests/test_etl.py); keep the individual functions for
    checks over DIFFERENT frames (e.g. completeness across
    source/sink).
    """
    aggs = [
        F.count(F.lit(1)).alias("__n"),
        F.count_distinct(*[F.col(k) for k in keys]).alias("__nd"),
    ] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{i}")
        for i, c in enumerate(no_null_cols)
    ]
    row = df.agg(*aggs).collect()[0]
    n, nd = row["__n"], row["__nd"]
    out = [
        CheckResult("nonempty", n > 0, f"{n} rows", "> 0 rows"),
        CheckResult(
            f"unique({','.join(keys)})", n == nd,
            f"{nd} distinct / {n} rows", "all distinct",
        ),
    ]
    bad = {
        c: row[f"__null_{i}"]
        for i, c in enumerate(no_null_cols)
        if row[f"__null_{i}"]
    }
    if no_null_cols:
        out.append(
            CheckResult(
                f"no_nulls({','.join(no_null_cols)})", not bad,
                str(bad or "0 nulls"), "0 nulls",
            )
        )
    return out


def _distinct_width(df: DataFrame) -> int:
    """Reducer width for the explicit-width distinct devices: floors at
    2× parallelism (the proven small/mid-scale setting) and grows ~1
    reducer per 256 MB of scanned input (df.inputFiles sizes; key-only
    rows are far narrower than their source, so this is conservative).
    A fixed 2×cores width is a 100 TB ceiling by construction — the
    same class as the fixed bucket count round 9 fixed.

    Remote inputs (hdfs://, s3a://, …) are sized through the Hadoop
    FileSystem API instead of os.path (round-10 review: a bytes law
    that silently reverts to the fixed floor exactly on remote storage
    would reintroduce the ceiling where it matters most); if neither
    probe works the width keeps the parallelism floor — degraded
    tuning, never a failed plan."""
    par = df.sparkSession.sparkContext.defaultParallelism * 2
    try:
        files = df.inputFiles()
        local = [f for f in files if f.startswith("file:") or "://" not in f]
        if len(local) == len(files):
            scanned = sum(
                os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
                for f in files
            )
        else:
            # remote FS (round-11 ADVICE fix + self-review follow-up):
            # getContentSummary over deduped parent dirs over-counted
            # siblings (single-file tables laid out as
            # {dir}/<table>.parquet all share one parent, so each table
            # was charged the whole directory's bytes and the width
            # inflated toward the 65536 cap), and one getFileStatus RPC
            # per input file costs O(files) NameNode/S3 round trips on
            # a many-part table. listStatus once per DISTINCT PARENT
            # and sum only the lengths of files this df actually reads:
            # exact per-file bytes at O(dirs) RPCs.
            jvm = df.sparkSession._jvm
            hconf = df.sparkSession._jsc.hadoopConfiguration()
            # match on the scheme/authority-free path component: the
            # planner's inputFiles() URIs and listStatus's paths can
            # disagree on host:port normalization
            wanted = set()
            parents = {}
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                wanted.add(p.toUri().getPath())
                parents.setdefault(str(p.getParent()), p.getParent())
            scanned = 0
            for parent in parents.values():
                fs = parent.getFileSystem(hconf)
                for st in fs.listStatus(parent):
                    if st.getPath().toUri().getPath() in wanted:
                        scanned += st.getLen()
        par = max(par, min(scanned // (256 << 20), 65536))
    except Exception:  # noqa: BLE001 — sizing is best-effort by contract
        pass
    return par


def exact_distinct_count(df: DataFrame, col: str) -> int:
    """Exact COUNT(DISTINCT col) over a fact-sized table, avoiding two
    measured traps in Spark's bare ``count_distinct`` plan (round-8,
    256× replica = 153.6M lineitem rows):

    * AQE's byte-based partition coalesce folds the key-only shuffle
      (bytes-small, groups-large) down to ~1 reducer and runs the final
      distinct nearly single-core — the same trap `fk_integrity_report`
      documents for its key path;
    * even with coalesce disabled, the partial-distinct hash aggregate
      measured 46.5 s vs 7.7 s for this form.

    The fix is the fk_integrity device: repartition the raw keys on an
    EXPLICIT width so the reducer count is pinned, then partition-local
    distinct + count. Measured 64.8 s → 7.7 s at the 256× replica;
    exact at any scale.

    Round-10 width law: the explicit width FLOORS at 2× parallelism
    (the proven small/mid-scale setting) but GROWS with the scanned
    bytes (~1 reducer per 256 MB of input via df.inputFiles; key-only
    rows are far narrower than their source, so this is conservative).
    A fixed 2×cores width is a 100 TB ceiling by construction — the
    same class as the fixed bucket count round 9 fixed; at the 2048×
    replica the fixed 64 still worked (53.4 s, BASELINE.md Round 10),
    but 600B keys over 64 reducers would not.
    """
    par = _distinct_width(df)
    return (
        df.select(F.col(col).alias("__k"))
        .where(F.col("__k").isNotNull())
        .repartition(par, "__k")
        .distinct()
        .count()
    )


def check_schema(df: DataFrame, expected: T.StructType, name: str = "schema") -> CheckResult:
    """B13: exact schema conformance (names, types, order)."""
    ok = df.schema == expected
    return CheckResult(name, ok, df.schema.simpleString(), expected.simpleString())


def run_checks(*results: CheckResult) -> list[CheckResult]:
    return list(results)


def assert_checks(*results: CheckResult) -> None:
    """Fail-fast: raise on the first failed check, like the reference's
    Livy statement error propagation."""
    failed = [r for r in results if not r.passed]
    if failed:
        lines = "; ".join(f"{r.check}: observed {r.observed}, expected {r.expected}" for r in failed)
        raise AssertionError(f"quality checks failed: {lines}")


def fk_orphan_stats(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    relation: str,
    broadcast_parent: bool = True,
) -> DataFrame:
    """Referential-integrity stats for one FK edge, as a 1-row DataFrame:
    ``fk, n_rows, n_keys, n_orphan_keys, n_null_rows``.

    Extends the reference's specified quality tier (notebook cell-12
    lists unique-key/type/completeness; orphan detection is the natural
    cross-table member of the same family). Plan: distinct parent keys
    LEFT-joined under the child keys (broadcast when the parent is a
    dim; shuffle hash join fact-to-fact), then ONE aggregate — nulls,
    distinct keys, and unmatched keys all counted in a single pass, so
    the check costs one join + one agg regardless of table size.
    """
    # Aggregate the child down to (key, multiplicity) FIRST: the join
    # then runs on DISTINCT keys (4x smaller for lineitem->orders), and
    # no count_distinct ever materializes — a double count_distinct
    # over the raw joined rows costs an Expand x3 of the whole fact
    # (measured 13.3s -> this shape at 16x replication).
    per_key = (
        child.select(F.col(child_key).alias("__k"))
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    pk = parent.select(F.col(parent_key).alias("__k")).distinct().withColumn(
        "__p", F.lit(1)
    )
    if broadcast_parent:
        pk = F.broadcast(pk)
    joined = per_key.join(pk, "__k", "left")
    return joined.agg(
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.count(F.when(F.col("__k").isNotNull(), F.lit(1))).alias("n_keys"),
        F.count(
            F.when(F.col("__p").isNull() & F.col("__k").isNotNull(), F.lit(1))
        ).alias("n_orphan_keys"),
        F.coalesce(
            F.sum(F.when(F.col("__k").isNull(), F.col("__c"))), F.lit(0)
        ).cast("bigint").alias("n_null_rows"),
    ).select(
        F.lit(relation).alias("fk"),
        "n_rows", "n_keys", "n_orphan_keys", "n_null_rows",
    )


def fk_integrity_report(
    edges: Sequence[tuple[DataFrame, str, DataFrame, str, str, bool]],
) -> DataFrame:
    """Whole-schema FK integrity report over numeric-keyed edges, as ONE
    fused pipeline instead of per-edge sub-plans (per-edge sub-plans
    cost a scan + join + agg EACH — measured 9.8 s for 8 edges at 16x
    replication vs ~2 s fused). Two measured scale rules shape the plan:

    * row/null counts come from a MAP-SIDE one-row aggregate per child
      table (never keyed by anything) — carrying per-key multiplicities
      through the key shuffle is pure waste;
    * the key path repartitions on an EXPLICIT width before the global
      distinct: the distinct-key table is bytes-small but groups-large,
      so AQE's byte-based coalesce folds the reducer to ONE partition
      and runs the aggregate single-core (measured 6.4 s -> 1.9 s at
      16x; same trap as the capped-postings and window-input cases,
      SCALE.md). A partition-local pre-dedup keyed by
      spark_partition_id() was measured WORSE (10.3 s — the
      nondeterministic column breaks codegen and its own exchange
      coalesces), so raw keys shuffle once, narrow.

    Edge ids are integers — relation strings never enter an exchange.
    Keys are cast to long (use :func:`fk_orphan_stats` per edge for
    non-numeric keys)."""
    by_child: dict[int, list[int]] = {}
    for i, (child, *_rest) in enumerate(edges):
        by_child.setdefault(id(child), []).append(i)

    # --- map-side stats: one scan + one-row agg per child TABLE -------
    stat_parts = []
    key_parts = []
    for idxs in by_child.values():
        child = edges[idxs[0]][0]
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            F.count(F.when(F.col(edges[i][1]).isNull(), F.lit(1))).alias(f"nn_{i}")
            for i in idxs
        ]
        srow = child.agg(*aggs)
        stat_parts.append(
            srow.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(i).alias("e"),
                                F.col("n_rows").alias("n_rows"),
                                F.col(f"nn_{i}").alias("n_null_rows"),
                            )
                            for i in idxs
                        ]
                    )
                ).alias("s")
            ).select("s.e", "s.n_rows", "s.n_null_rows")
        )
        structs = [
            F.struct(
                F.lit(i).alias("e"),
                F.col(edges[i][1]).cast("long").alias("__k"),
            )
            for i in idxs
        ]
        key_parts.append(
            child.select(F.explode(F.array(*structs)).alias("s"))
            .select(F.col("s.e").alias("e"), F.col("s.__k").alias("__k"))
            .where(F.col("__k").isNotNull())
        )
    tiny = stat_parts[0]
    for p in stat_parts[1:]:
        tiny = tiny.unionByName(p)

    ckeys = key_parts[0]
    for p in key_parts[1:]:
        ckeys = ckeys.unionByName(p)
    # same byte-scaled width as exact_distinct_count — the fixed
    # 2×cores form is a reducer-memory ceiling at 100 TB
    par = _distinct_width(ckeys)
    dkeys = ckeys.repartition(par, "e", "__k").distinct()

    parent_parts = []
    for i, (_c, _ck, parent, pkc, _rel, _b) in enumerate(edges):
        parent_parts.append(
            parent.select(
                F.lit(i).alias("e"), F.col(pkc).cast("long").alias("__k")
            ).where(F.col("__k").isNotNull())
        )
    pkeys = parent_parts[0]
    for p in parent_parts[1:]:
        pkeys = pkeys.unionByName(p)
    pkeys = (
        pkeys.repartition(par, "e", "__k").distinct().withColumn("__p", F.lit(1))
    )

    key_agg = (
        dkeys.join(pkeys, ["e", "__k"], "left")
        .groupBy("e")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.count(F.when(F.col("__p").isNull(), F.lit(1))).alias(
                "n_orphan_keys"
            ),
        )
    )

    rel_map = F.when(F.lit(False), F.lit(""))
    for i, (_c, _ck, _p, _pk, rel, _b) in enumerate(edges):
        rel_map = rel_map.when(F.col("e") == i, F.lit(rel))

    return (
        tiny.join(F.broadcast(key_agg), "e", "left")
        .select(
            rel_map.alias("fk"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.coalesce(F.col("n_keys"), F.lit(0)).cast("bigint").alias("n_keys"),
            F.coalesce(F.col("n_orphan_keys"), F.lit(0))
            .cast("bigint")
            .alias("n_orphan_keys"),
            F.col("n_null_rows").cast("bigint").alias("n_null_rows"),
        )
        .orderBy("fk")
    )


def results_df(spark, results: Sequence[CheckResult]) -> DataFrame:
    """Materialize check results as a DataFrame (for reporting sinks)."""
    schema = T.StructType(
        [
            T.StructField("check", T.StringType(), False),
            T.StructField("passed", T.BooleanType(), False),
            T.StructField("observed", T.StringType(), False),
            T.StructField("expected", T.StringType(), False),
        ]
    )
    return local_frame(spark, [(r.check, r.passed, r.observed, r.expected) for r in results], schema)
