"""Fidelity tests against the reference's REAL data artifacts.

The synthetic twins prove operator semantics; these prove the parsing:
the actual label file (comment blocks, collapsed labels, doubled-quote
escapes), the actual semicolon CSV, and the actual Spark-2.x-written
3.1M-row fact parquet. (reference: I94_SAS_Labels_Descriptions.SAS,
us-cities-demographics.csv, sas_data/part-*.parquet)
"""

from __future__ import annotations

import os

import pytest

from data_engineering_capstone_spark.queries_refdata import (
    _LABELS,
    _SAS_DATA,
    REF_DIR,
    _real_dims,
)
from ref_standin import is_standin

# a stand-in (tests/ref_standin.py) has the files but not their values
needs_ref = pytest.mark.skipif(
    not os.path.exists(_LABELS) or is_standin(REF_DIR),
    reason="reference data not present",
)


@needs_ref
def test_real_label_file_dim_cardinalities(spark):
    """SURVEY §1.1 cardinalities from the REAL file: ~289 countries,
    ~660 ports, 4 travel modes, 55 states, 3 visa categories."""
    dims = {k: v.count() for k, v in _real_dims(spark).items()}
    assert dims == {"country": 289, "port": 660, "mode": 4, "state": 55, "visa": 3}


@needs_ref
def test_real_label_file_quirks(spark):
    """The file's three parsing traps: doubled-quote escape, collapsed
    invalid-code labels, comment-encoded visa map."""
    dims = {k: {r["code"]: r["label"] for r in v.collect()} for k, v in _real_dims(spark).items()}
    assert dims["port"]["INT"] == "INT'L FALLS, MN"
    assert dims["country"]["996"] == "No Country Code (996)"
    assert dims["mode"]["9"] == "Not reported"
    assert dims["state"]["99"] == "All Other Codes"
    assert dims["visa"] == {"1": "Business", "2": "Pleasure", "3": "Student"}


@needs_ref
def test_real_sas_data_parquet_conversion_path(spark):
    """The documented .sas7bdat path: the reference converts SAS binary
    to parquet (notebook cell-6); our engine reads that conversion
    output — all 3,096,313 April-2016 rows, 28-column schema intact.
    (pandas cannot WRITE .sas7bdat, so the binary leg is covered by the
    XPORT codec tests; this pins the conversion contract end-to-end.)"""
    from data_engineering_capstone_spark.sources.readers import read_parquet

    df = read_parquet(spark, _SAS_DATA)
    assert len(df.columns) == 28
    assert df.count() == 3_096_313
    # SAS numerics land as double, character fields as string (§1.2)
    types = dict(df.dtypes)
    assert types["cicid"] == "double" and types["visatype"] == "string"


@needs_ref
def test_real_pipeline_rollup_spot_values(spark):
    """Spot-invariants of the full real-data rollup: every record lands
    in exactly one group, April 2016 date bounds hold, and the state
    'not in list → other' rule engages on the fact's invalid codes."""
    import datetime as dt

    from pyspark.sql import functions as F

    from data_engineering_capstone_spark.queries_refdata import ref_i94_star_rollup

    out = ref_i94_star_rollup(spark, "unused").cache()
    tot = out.agg(F.sum("n_records"), F.min("first_arrival"), F.max("last_arrival")).first()
    assert tot[0] == 3_096_313
    assert dt.date(2016, 4, 1) <= tot[1] <= tot[2] <= dt.date(2016, 4, 30)
    assert out.filter(F.col("state_name") == "other").count() > 0
    out.unpersist()
