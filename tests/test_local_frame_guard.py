"""One way to do each cross-cutting job (ROADMAP aim 2), kept by source scans.

Every list-to-DataFrame call in the package goes through
``sources.readers.local_frame``, which hands Spark an Arrow table and
gets a JVM-local ``LocalRelation``. A direct ``createDataFrame`` call
with a Python list pickles the rows into a ``parallelize`` RDD and
starts a Python-worker stage wherever the table is scanned. The only
other allowed call is ``read_sas``'s pandas fallback.

Every batch dedup goes through ``operators.dedup.dedup_exact``, which
pins its exchange at the width derived from the input's parquet footers
(``sources.pqmeta.input_width``). A bare ``dropDuplicates`` elsewhere
plans a session-width exchange that AQE may coalesce to a single task.
Streaming ``dropDuplicatesWithinWatermark`` is a different method and
is exempt.

Every scratch path comes from ``session.scratch_dir``, the one place that
decides where scratch lives: under a per-process root that is removed at
exit, and only on a master whose executors share the driver's tempdir.
A ``gettempdir``, ``mkdtemp`` or ``getpid`` anywhere else places scratch
by its own rule, which a non-local master turns into a silent partial
read, and which a second process can delete under a lazy DataFrame.
The one other ``getpid`` names the class-data archive a dumping driver
JVM writes into the user cache (``session._cds_options``), which is not
scratch.
"""

from __future__ import annotations

import ast
import os

import data_engineering_capstone_spark as pkg

PKG_DIR = os.path.dirname(pkg.__file__)
ALLOWED = {("sources/readers.py", "local_frame"), ("sources/readers.py", "read_sas")}
DEDUP_ALLOWED = {("operators/dedup.py", "dedup_exact")}
SCRATCH_ALLOWED = {("session.py", "scratch_dir"), ("session.py", "_scratch_root"),
                   ("session.py", "_cds_options")}


def _method_calls(method: str):
    """(module path, enclosing top-level function, line) per ``.method(...)`` call."""
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG_DIR).replace(os.sep, "/")
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), filename=path)
            for top in tree.body:
                owner = getattr(top, "name", "<module>")
                for node in ast.walk(top):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == method
                    ):
                        yield rel, owner, node.lineno


def test_create_dataframe_only_in_local_frame_and_read_sas():
    calls = list(_method_calls("createDataFrame"))
    stray = [c for c in calls if c[:2] not in ALLOWED]
    assert stray == [], f"build driver-side tables with sources.readers.local_frame: {stray}"
    # the scan itself still sees both allowed sites
    assert {c[:2] for c in calls} == ALLOWED


def test_drop_duplicates_only_in_dedup_exact():
    calls = list(_method_calls("dropDuplicates"))
    stray = [c for c in calls if c[:2] not in DEDUP_ALLOWED]
    assert stray == [], f"deduplicate batch frames with operators.dedup.dedup_exact: {stray}"
    assert {c[:2] for c in calls} == DEDUP_ALLOWED


def test_scratch_paths_only_in_scratch_dir():
    calls = [c for m in ("gettempdir", "mkdtemp", "getpid") for c in _method_calls(m)]
    stray = [c for c in calls if c[:2] not in SCRATCH_ALLOWED]
    assert stray == [], f"place scratch files with session.scratch_dir: {stray}"
    assert {c[:2] for c in calls} == {("session.py", "_scratch_root"), ("session.py", "_cds_options")}
