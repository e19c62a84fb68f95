"""A stand-in for the reference checkout's four data files.

The ``ref_*`` catalog entries (``queries_refdata``) read the label file,
the demographics CSV, the I94 fact parquet and the immigration sample
from ``SPARK_GRAFT_REF_DIR``. ``write_standin`` writes files under the
same names with the same layout and column types, but synthetic values:

* ``I94_SAS_Labels_Descriptions.SAS`` and ``sas_data/`` come from
  ``perfbench/gen.py:i94_inputs`` (the five label maps at the
  reference's cardinalities, the comment-only I94VISA map, a fact of
  SAS-style doubles with 1 % full-row duplicate ``cicid`` rows);
* ``us-cities-demographics.csv`` is semicolon-delimited, one row per
  city x race, in ``queries_refdata._DEMO_SCHEMA`` column order;
* ``immigration_data_sample.csv`` has a leading unnamed index column,
  then the 28 columns of ``ref_immigration_sample_scan``, numerics
  written as doubles.

A stand-in carries a marker file; ``is_standin`` finds it, so tests that
check the real files' values skip on a stand-in. Importing this module
imports nothing of the package (``queries_refdata`` reads
``SPARK_GRAFT_REF_DIR`` at import).

Write one to run ``tools/parity.py`` on the ``ref_*`` entries:

    python tests/ref_standin.py OUT_DIR
    SPARK_GRAFT_REF_DIR=OUT_DIR python tools/parity.py <sf_dir>
"""

from __future__ import annotations

import csv
import os
import sys

import numpy as np

MARKER = "STANDIN"
_SEED = 9
_FACT_ROWS = 2000  # duplicate copies included
_SAMPLE_ROWS = 200

_DEMO_HEADER = [
    "City", "State", "Median Age", "Male Population", "Female Population",
    "Total Population", "Number of Veterans", "Foreign-born",
    "Average Household Size", "State Code", "Race", "Count",
]
_RACES = [
    "White", "Black or African-American", "Asian", "Hispanic or Latino",
    "American Indian and Alaska Native",
]
# (city, state, state code); one city name in two states
_CITIES = [
    ("Springfield", "Illinois", "IL"),
    ("Springfield", "Massachusetts", "MA"),
    ("Silver Spring", "Maryland", "MD"),
    ("Rancho Cucamonga", "California", "CA"),
    ("Newark", "New Jersey", "NJ"),
    ("Peoria", "Arizona", "AZ"),
]

_SAMPLE_DOUBLES = {
    "cicid", "i94yr", "i94mon", "i94cit", "i94res", "arrdate", "i94mode",
    "depdate", "i94bir", "i94visa", "count", "biryear", "admnum",
}
_SAMPLE_COLUMNS = (
    "cicid i94yr i94mon i94cit i94res i94port arrdate i94mode i94addr "
    "depdate i94bir i94visa count dtadfile visapost occup entdepa entdepd "
    "entdepu matflag biryear dtaddto gender insnum airline admnum fltno "
    "visatype"
).split()


def is_standin(ref_dir: str) -> bool:
    """True when ``ref_dir`` was written by ``write_standin``."""
    return os.path.exists(os.path.join(ref_dir, MARKER))


def write_standin(ref_dir: str) -> str:
    """Write the four stand-in files under ``ref_dir``; return it."""
    from perfbench.gen import i94_inputs

    os.makedirs(ref_dir, exist_ok=True)
    i94_inputs(ref_dir, _SEED, _FACT_ROWS)
    os.replace(os.path.join(ref_dir, "fact"), os.path.join(ref_dir, "sas_data"))
    os.replace(
        os.path.join(ref_dir, "labels.sas"),
        os.path.join(ref_dir, "I94_SAS_Labels_Descriptions.SAS"),
    )
    os.remove(os.path.join(ref_dir, "expected.json"))
    r = np.random.default_rng(_SEED)
    _write_demographics(os.path.join(ref_dir, "us-cities-demographics.csv"), r)
    _write_sample(os.path.join(ref_dir, "immigration_data_sample.csv"), r)
    with open(os.path.join(ref_dir, MARKER), "w") as f:
        f.write("synthetic stand-in of the reference data files (tests/ref_standin.py)\n")
    return ref_dir


def _write_demographics(path: str, r: np.random.Generator) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter=";")
        w.writerow(_DEMO_HEADER)
        for city, state, code in _CITIES:
            male, female = (int(v) for v in r.integers(20_000, 400_000, 2))
            # male population left blank in one city, as in the real file
            male_cell = "" if city == "Peoria" else male
            city_cols = [
                city, state, f"{r.uniform(28, 45):.1f}", male_cell, female,
                male + female, int(r.integers(500, 20_000)),
                int(r.integers(1_000, 90_000)), f"{r.uniform(2, 4):.2f}", code,
            ]
            # each city lists a subset of the races, never all of them
            for race in r.choice(_RACES, int(r.integers(2, 5)), replace=False):
                w.writerow(city_cols + [race, int(r.integers(100, male + female))])


def _write_sample(path: str, r: np.random.Generator) -> None:
    ports = ["NYC", "MIA", "LOS", "HHW", "SFR", "CHI"]
    visatypes = {1: ["B1", "E2"], 2: ["B2", "WT"], 3: ["F1"]}
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow([""] + _SAMPLE_COLUMNS)
        for i in range(_SAMPLE_ROWS):
            visa = int(r.choice([1, 2, 3], p=[0.2, 0.7, 0.1]))
            arrdate = 20545 + int(r.integers(0, 30))
            age = int(r.integers(1, 90))
            row = {
                "cicid": 4_000_000 + 7 * i,
                "i94yr": 2016,
                "i94mon": 4,
                "i94cit": int(r.integers(100, 700)),
                "i94res": int(r.integers(100, 700)),
                "i94port": r.choice(ports),
                "arrdate": arrdate,
                "i94mode": int(r.choice([1, 2, 3, 9], p=[0.9, 0.03, 0.05, 0.02])),
                "i94addr": r.choice(["NY", "FL", "CA", "HI", ""]),
                "depdate": "" if r.random() < 0.05 else arrdate + int(r.integers(1, 60)),
                "i94bir": "" if r.random() < 0.02 else age,
                "i94visa": visa,
                "count": 1,
                "dtadfile": "201604" + f"{int(r.integers(1, 30)):02d}",
                "visapost": r.choice(["", "TKY", "SEO"]),
                "occup": "",
                "entdepa": "G",
                "entdepd": r.choice(["O", "R", ""]),
                "entdepu": "",
                "matflag": "M",
                "biryear": 2016 - age,
                "dtaddto": r.choice(["07202016", "D/S"]),
                "gender": r.choice(["F", "M", ""], p=[0.45, 0.45, 0.1]),
                "insnum": "",
                "airline": r.choice(["AA", "JL", "UA"]),
                "admnum": 10_000_000_000 + int(r.integers(0, 9 * 10**10)),
                "fltno": f"{int(r.integers(1, 9999)):05d}",
                "visatype": r.choice(visatypes[visa]),
            }
            w.writerow([int(r.integers(0, 3_000_000))] + [
                _cell(c, row[c]) for c in _SAMPLE_COLUMNS
            ])


def _cell(column: str, value) -> str:
    if column in _SAMPLE_DOUBLES and value != "":
        return f"{float(value):.1f}"
    return str(value)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python tests/ref_standin.py OUT_DIR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    print(write_standin(sys.argv[1]))
