from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_capstone_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
# queries_refdata.REF_DIR when SPARK_GRAFT_REF_DIR is unset
DEFAULT_REF_DIR = "/root/reference"


@pytest.hookimpl(trylast=True)
def pytest_configure(config):
    """Without a reference checkout, point the ``ref_*`` entries at a
    stand-in of its files (tests/ref_standin.py) in pytest's temp dir.

    This runs before any test module is imported, which matters:
    ``queries_refdata`` reads SPARK_GRAFT_REF_DIR at import and embeds
    the paths in its oracle SQL. trylast: ``config._tmp_path_factory``
    is set by pytest's own tmp_path plugin in this same hook.
    """
    if "SPARK_GRAFT_REF_DIR" in os.environ or os.path.exists(DEFAULT_REF_DIR):
        return
    from ref_standin import write_standin

    ref_dir = write_standin(str(config._tmp_path_factory.mktemp("reference")))
    mp = pytest.MonkeyPatch()
    mp.setenv("SPARK_GRAFT_REF_DIR", ref_dir)
    config.add_cleanup(mp.undo)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
