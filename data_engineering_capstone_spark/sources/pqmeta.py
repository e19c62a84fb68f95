"""Parquet footer metadata — row counts, row groups, byte sizes and the
Spark schema — for plan-time decisions, WITHOUT a Spark job. Works for
a single ``.parquet`` file and a Spark-written directory of part files.

Every footer comes from one cache, ``_FOOTERS``, keyed by file path and
stamped by ``(st_mtime_ns, st_size)``: a hit costs one stat, a file
rewritten in place replaces its entry, and listing a directory drops
the entries of part files that are gone. Metadata only, never results.

REMOTE PATHS: the probes are os.path-based, so an hdfs:// or s3a://
table raises here. Callers treat that as "unknown" and take their safe
branch: ``scaled_width``/``input_width`` return the parallelism floor,
``spark_schema`` returns ``None`` (Spark infers), q7 drops its broadcast
hint, the bucketed sink falls back to a metadata-only ``df.count()``.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlsplit

_FOOTERS: dict[str, tuple[tuple[int, int], object]] = {}


def _footer(file: str):
    """``file``'s parquet footer (``pyarrow`` ``FileMetaData``), cached."""
    st = os.stat(file)
    stamp = (st.st_mtime_ns, st.st_size)
    hit = _FOOTERS.get(file)
    if hit is None or hit[0] != stamp:
        import pyarrow.parquet as pq

        hit = _FOOTERS[file] = (stamp, pq.ParquetFile(file).metadata)
    return hit[1]


def _footer_rows(file: str) -> int:
    return _footer(file).num_rows


def _parquet_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = [os.path.join(root, f) for root, _dirs, files in os.walk(path)
           for f in files if f.endswith(".parquet") and not f.startswith(".")]
    if not out:
        raise FileNotFoundError(f"no parquet files under {path}")
    live, under = set(out), os.path.join(path, "")
    # a snapshot and pop(): another thread's build may use the cache meanwhile
    for gone in [f for f in list(_FOOTERS) if f.startswith(under) and f not in live]:
        _FOOTERS.pop(gone, None)
    return out


def parquet_row_count(path: str) -> int:
    """Total row count of a parquet file or directory, from footers only."""
    return sum(_footer_rows(f) for f in _parquet_files(path))


def parquet_total_bytes(path: str) -> int:
    """On-disk byte size of a parquet file or directory (no footer read)."""
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def parquet_row_groups(path: str) -> int:
    """Total row-group count of a parquet file or directory.

    Row groups, not bytes, bound a parquet scan's effective parallelism:
    a byte-range split produces rows only when it holds a row-group
    midpoint, so a table with G row groups scans on at most G cores."""
    return sum(_footer(f).num_row_groups for f in _parquet_files(path))


def row_groups_at_least(path: str, threshold: int) -> bool:
    """True iff the table at ``path`` has >= ``threshold`` row groups.

    Stops reading footers once the running sum crosses the threshold:
    at 100 TB a table is thousands of files, and a production-scale
    table passes within the first file or two."""
    groups = 0
    for f in _parquet_files(path):
        groups += _footer(f).num_row_groups
        if groups >= threshold:
            return True
    return False


# rows per reducer of the exchange-width law (round 9/10/11)
ROWS_PER_TASK = 4_000_000


def _width_law(count_rows, parallelism: int, rows_per_task: int) -> int:
    """~``rows_per_task`` rows per reducer, floored at ``parallelism``;
    a failing ``count_rows`` thunk (remote, unreadable) gives the floor."""
    try:
        return max(parallelism, count_rows() // rows_per_task + 1)
    except (OSError, ValueError):
        return parallelism


def scaled_width(path: str, parallelism: int, rows_per_task: int = ROWS_PER_TASK) -> int:
    """Exchange width that scales with the fact (a fixed width died
    UNABLE_TO_ACQUIRE_MEMORY at 2048×); ``df.repartition(width, key)``
    pins it plan-side, and both join sides must share it."""
    return _width_law(lambda: parquet_row_count(path), parallelism, rows_per_task)


def input_width(df) -> int:
    """:func:`scaled_width` over the footers of ``df.inputFiles()``; a
    frame with no file inputs or any non-``file:`` input gets the floor."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    uris = [urlsplit(u) for u in df.inputFiles()]
    if not uris or any(u.scheme != "file" for u in uris):
        return parallelism
    files = [unquote(u.path) for u in uris]
    return _width_law(lambda: sum(_footer_rows(f) for f in files), parallelism, ROWS_PER_TASK)


def fact_width(spark, sf_dir: str, table: str, rows_per_task: int = ROWS_PER_TASK) -> int:
    """:func:`scaled_width` for a testdata table (tools/explain_audit.py
    flags a plan that forgets it). Pass a smaller ``rows_per_task`` when
    the exchange EXPANDS the scan (token/gram explodes)."""
    return scaled_width(f"{sf_dir}/{table}.parquet",
                        spark.sparkContext.defaultParallelism, rows_per_task)


def fanout_starved_scan(df, spark, sf_dir: str, table: str):
    """Repartition a row-group-starved scan to the cluster width (guide
    §2.5); a no-op when the row groups already cover it. Only for
    compute-bound-per-row callers (llm_text_stats 0.45 → 0.28 s, but
    scalar_math_funcs 0.81 → 1.15 s). Unreadable paths: ``df`` as is."""
    par = spark.sparkContext.defaultParallelism
    try:
        if row_groups_at_least(f"{sf_dir}/{table}.parquet", par):
            return df
    except (OSError, ValueError, ImportError):
        return df
    return df.repartition(par)


# Spark's own record of the schema it wrote (ParquetReadSupport.SPARK_METADATA_KEY)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

# (arrow type of a column as the footer's parquet schema gives it, physical
# type of its one leaf) -> the Spark type schema inference gives it
_SPARK_TYPES = {
    ("int32", "INT32"): "integer",
    ("int64", "INT64"): "long",
    ("double", "DOUBLE"): "double",
    ("string", "BYTE_ARRAY"): "string",
    ("timestamp[us]", "INT64"): "timestamp_ntz",
    ("list<element: float>", "FLOAT"):
        {"type": "array", "elementType": "float", "containsNull": True},
}
# how spark.sql.legacy.parquet.nanosAsLong reads TIMESTAMP(NANOS); with
# it off, inference rejects the column but a given ``long`` reads it raw
_NANOS_AS_LONG = {("timestamp[ns]", "INT64"): "long"}


def spark_schema(path: str, nanos_as_long: bool = False):
    """The schema ``spark.read.parquet(path)`` infers, from the cached
    footers instead of an inference job; ``None`` where that is not
    certain, and Spark must infer.

    A Spark-written footer records its schema, used as written. Other
    footers map column by column, for the types in ``_SPARK_TYPES`` only,
    plus TIMESTAMP(NANOS) for a caller reading with ``nanosAsLong`` on.
    Any other type, a directory whose footers disagree, and a directory
    holding anything Spark would read besides its own parquet files
    (``k=v`` partition subdirectories, say) give ``None``. File sources
    read every field as nullable, and so does the result."""
    from pyspark.sql.types import StructType

    try:
        files = _parquet_files(path)
        if os.path.isdir(path) and sorted(files) != sorted(
            os.path.join(path, n) for n in os.listdir(path) if not n.startswith(("_", "."))
        ):
            return None
        types = _SPARK_TYPES | _NANOS_AS_LONG if nanos_as_long else _SPARK_TYPES
        schemas = {_schema_json(_footer(f), types) for f in files}
        if len(schemas) != 1 or None in schemas:
            return None
        # JSON strings escape their quotes, so only the flags match
        nullable = re.sub(r'"(nullable|containsNull|valueContainsNull)"\s*:\s*false', r'"\1":true',
                          schemas.pop())
        return StructType.fromJson(json.loads(nullable))
    except (OSError, ValueError, KeyError):
        return None


def _schema_json(md, types: dict) -> str | None:
    """One footer's Spark schema as JSON, or ``None`` if it is unmapped."""
    written = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if written is not None:
        return written.decode()
    fields = []
    # every mapped type has exactly one leaf, so leaves follow the fields
    for leaf, field in enumerate(md.schema.to_arrow_schema()):
        spark_type = types.get((str(field.type), md.schema.column(leaf).physical_type))
        if spark_type is None:
            return None
        fields.append({"name": field.name, "type": spark_type, "nullable": True, "metadata": {}})
    return json.dumps({"type": "struct", "fields": fields})
