"""Parquet footer metadata probes — row counts and byte sizes WITHOUT a
Spark job.

Two plan-time decisions in this repo need a cardinality estimate before
any action runs:

* ``bucketed_join_zero_shuffle`` sizes its bucket count at ~4M rows per
  bucket — deriving that from ``df.count()`` adds a full extra fact scan
  per first materialization (round-9 ADVICE);
* ``q7_bilateral_volume`` gates its dim-slice broadcast hint on the
  estimated build size — a forced hint on an SF-proportional slice OOMs
  past the executor broadcast budget instead of degrading (round-9
  ADVICE).

Parquet stores ``num_rows`` in the file footer, so the driver can read
it in O(files) metadata fetches — the same information Spark's own
statistics use. Works for both layouts the repo sees: a single
``.parquet`` file (driver-generated testdata) and a Spark-written
directory of part files (scale replicas, warehouse tables).

REMOTE PATHS (round-10 review): these probes are os.path-based, so an
hdfs:// or s3a:// table raises/returns nothing here. Callers must
treat a probe failure as "unknown" and degrade to their safe branch —
``scaled_width`` returns its parallelism floor, q7 drops its broadcast
hint (AQE decides), the bucketed sink falls back to a metadata-only
``df.count()``. A Hadoop-FS-native probe would need the JVM gateway;
the graceful-degradation contract keeps the plans correct (never
fatal, never an unbounded forced build) everywhere, at worst less
tuned off local disk.
"""

from __future__ import annotations

import os


def parquet_row_count(path: str) -> int:
    """Total row count of a parquet file or directory, from footers only."""
    import pyarrow.parquet as pq

    total = 0
    for f in _parquet_files(path):
        total += pq.ParquetFile(f).metadata.num_rows
    return total


def parquet_total_bytes(path: str) -> int:
    """On-disk byte size of a parquet file or directory (no footer read)."""
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def scaled_width(path: str, parallelism: int, rows_per_task: int = 4_000_000) -> int:
    """Exchange width that scales with the fact: ~``rows_per_task`` rows
    per reducer, floored at the cluster parallelism. The same ~4M-row
    law as the bucketed-write fix (round 9) applied to fact-fact join
    exchanges: a FIXED width (the shuffle-partition default) puts
    corpus/N rows in each SMJ sorter, which at the 2048× octave died
    UNABLE_TO_ACQUIRE_MEMORY — width must grow with the data, and
    ``df.repartition(width, key)`` pins it plan-side so the entry
    survives any octave without per-run session tuning (AQE leaves an
    explicit repartition width alone). Both join sides must share the
    width or the join re-exchanges.

    Non-local / unreadable paths degrade to the parallelism floor (the
    pre-round-10 behavior) instead of failing the plan."""
    try:
        return max(parallelism, parquet_row_count(path) // rows_per_task + 1)
    except (OSError, ValueError):
        return parallelism


def fact_width(spark, sf_dir: str, table: str,
               rows_per_task: int = 4_000_000) -> int:
    """:func:`scaled_width` for a testdata table — the one-line form of
    the round-10/11 exchange-width law so every fact-fact join and
    fact-partitioned window spells it identically (round-11 verdict
    task 1: the law is a CATALOG property, not a per-entry adjudication;
    tools/explain_audit.py flags any plan that forgets it). Pass a
    smaller ``rows_per_task`` when the exchanged relation is an
    EXPANSION of the scanned one (token/gram explodes): the law meters
    exchanged rows, not scanned rows."""
    return scaled_width(
        f"{sf_dir}/{table}.parquet",
        spark.sparkContext.defaultParallelism,
        rows_per_task,
    )


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                out.append(os.path.join(root, f))
    if not out:
        raise FileNotFoundError(f"no parquet files under {path}")
    return out


def parquet_row_groups(path: str) -> int:
    """Total parquet row-group count of a file or directory, from footers.

    Row groups, not bytes, bound a parquet scan's effective parallelism:
    Spark plans byte-range splits, but a split produces rows only when it
    contains a row-group midpoint, so a table with G row groups runs its
    scan stage on at most G cores no matter the split config."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_row_groups for f in _parquet_files(path))


# path → (stamp, threshold, verdict) cache for the fan-out gate probe.
# Metadata only (footer counts), never query results: the same
# information Spark's own footer cache holds, memoized so repeated plan
# builds against one table cost zero re-reads. The stamp covers every
# part file (count, total size, newest st_mtime_ns), because a
# directory's own mtime does not move when a part file is rewritten in
# place; a changed stamp re-probes and replaces the path's one entry.
# A hit costs a listing and one stat per part file, no footer read.
_RG_GATE_CACHE: dict[str, tuple[tuple[int, int, int], int, bool]] = {}


def row_groups_at_least(path: str, threshold: int) -> bool:
    """True iff the table at ``path`` has >= ``threshold`` row groups.

    Round-12 fix (verdict item 4): the round-11 gate summed EVERY
    footer on the driver per query build — at 100 TB a table is
    thousands of files, serially opened just to conclude "no-op". The
    comparison only needs ``groups >= threshold``, so stop opening
    footers the moment the running sum crosses it (a production-scale
    table satisfies the gate within the first file or two), and
    memoize the verdict per path, stamped by its part files."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    stats = [os.stat(f) for f in files]
    stamp = (len(stats), sum(s.st_size for s in stats), max(s.st_mtime_ns for s in stats))
    hit = _RG_GATE_CACHE.get(path)
    if hit is not None and hit[:2] == (stamp, threshold):
        return hit[2]
    groups = 0
    for f in files:
        groups += pq.ParquetFile(f).metadata.num_row_groups
        if groups >= threshold:
            break
    _RG_GATE_CACHE[path] = (stamp, threshold, groups >= threshold)
    return groups >= threshold


def fanout_starved_scan(df, spark, sf_dir: str, table: str):
    """Fan a parallelism-starved scan out to the cluster width (guide
    §2.5 "one huge unsplittable file ... repartition immediately after
    the read").

    Gated on footer metadata so it is scale-adaptive, not local tuning:
    when the table's row-group count already covers the cluster
    parallelism (any production-scale table — thousands of row groups),
    this is a no-op and the plan is untouched; only a row-group-starved
    scan (the single-row-group testdata file, a few-huge-row-group
    export) pays one cheap exchange to unlock the cores for CPU-heavy
    per-row work downstream. Callers must be compute-bound per row
    (regex/text kernels): for cheap-per-row wide outputs the shuffle
    costs more than it saves (measured: llm_text_stats 0.45 s → 0.28 s,
    but scalar_math_funcs 0.81 s → 1.15 s — fan-out rejected there).

    The probe short-circuits at the parallelism threshold and memoizes
    per path and part-file stamp, so at scale it opens at most a handful
    of footers once per table, not every footer per query build.

    Unreadable/remote paths (or a missing pyarrow) degrade to the
    unchanged df — the module's graceful-degradation contract."""
    par = spark.sparkContext.defaultParallelism
    try:
        if row_groups_at_least(f"{sf_dir}/{table}.parquet", par):
            return df
    except (OSError, ValueError, ImportError):
        return df
    return df.repartition(par)
