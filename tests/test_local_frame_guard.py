"""One way to build a driver-side table (ROADMAP aim 2).

Every list-to-DataFrame call in the package goes through
``sources.readers.local_frame``, which hands Spark an Arrow table and
gets a JVM-local ``LocalRelation``. A direct ``createDataFrame`` call
with a Python list pickles the rows into a ``parallelize`` RDD and
starts a Python-worker stage wherever the table is scanned. The only
other allowed call is ``read_sas``'s pandas fallback.
"""

from __future__ import annotations

import ast
import os

import data_engineering_capstone_spark as pkg

PKG_DIR = os.path.dirname(pkg.__file__)
ALLOWED = {("sources/readers.py", "local_frame"), ("sources/readers.py", "read_sas")}


def _create_dataframe_calls():
    """(module path, enclosing top-level function, line) per call."""
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
                        and node.func.attr == "createDataFrame"
                    ):
                        yield rel, owner, node.lineno


def test_create_dataframe_only_in_local_frame_and_read_sas():
    calls = list(_create_dataframe_calls())
    stray = [c for c in calls if c[:2] not in ALLOWED]
    assert stray == [], f"build driver-side tables with sources.readers.local_frame: {stray}"
    # the scan itself still sees both allowed sites
    assert {c[:2] for c in calls} == ALLOWED
