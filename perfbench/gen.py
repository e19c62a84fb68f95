"""Seeded input generator for the ``i94_star_etl`` workload.

``i94_inputs`` writes a synthetic I94 arrivals fact (SAS-style doubles,
missing values as parquet nulls, duplicate ``cicid`` rows as full-row
copies) as a parquet directory, so Spark and DuckDB read the same bytes,
and a ``proc format`` label file with the reference's five dimensions.
The expected answers of the ETL are returned with it.

Everything is drawn from a ``numpy.random.default_rng`` stream derived
from the seed, so the same seed gives byte-identical inputs. (The
catalog workload reads the fixed tables under ``data/`` instead.)
"""

from __future__ import annotations

import datetime as dt
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH = dt.date(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH).days


def _write(table: pa.Table, out_dir: str, files: int) -> int:
    """Write ``table`` as ``files`` parquet parts; return bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // files)
    total = 0
    for i in range(files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), path, compression="snappy")
        total += os.path.getsize(path)
    return total


# Sizes of the reference label file's dimensions
_N_COUNTRIES, _N_PORTS, _N_STATES = 289, 660, 55
_MODES = {"1": "Air", "2": "Sea", "3": "Land", "9": "Not reported"}
_VISAS = {"1": "Business", "2": "Pleasure", "3": "Student"}
_VISATYPES = {"1": ("B1", "E1", "E2", "I"), "2": ("B2", "WT", "CP", "GMT"), "3": ("F1", "F2", "M1")}
_SAS_EPOCH = dt.date(1960, 1, 1)


def i94_label_maps() -> dict[str, dict[str, str]]:
    """The five code -> label maps (fixed, seed-independent)."""
    letters = string.ascii_uppercase
    countries = {str(100 + 2 * i): f"COUNTRY {i:03d}" for i in range(_N_COUNTRIES)}
    ports = {}
    for i in range(_N_PORTS):
        code = letters[i // 26 % 26] + letters[i % 26] + letters[(7 * i) % 26]
        label = f"PORT {i:03d}, {letters[i % 26]}{letters[(i // 3) % 26]}"
        if i % 97 == 0:
            label = f"INT'L PORT {i:03d}, MN"  # quote doubled in the file
        ports[code] = label
    states = {letters[i // 26] + letters[i % 26]: f"STATE {i:02d}" for i in range(_N_STATES - 1)}
    states["99"] = "All Other Codes"
    return {"country": countries, "port": ports, "mode": _MODES, "state": states, "visa": _VISAS}


def i94_label_file(maps: dict[str, dict[str, str]]) -> str:
    """Render the maps in the reference's ``proc format`` layout."""

    def q(s: str) -> str:
        return s.replace("'", "''")

    out = ["/* I94CIT & I94RES - This format shows all the valid and invalid codes for processing */",
           "value i94cntyl"]
    out += [f"   {c} =  '{q(v)}'" for c, v in maps["country"].items()]
    out += [";", "", "/* I94PORT - This format shows all the valid and invalid codes for processing */",
            "value $i94prtl"]
    out += [f"\t'{c}'\t=\t'{q(v):<22}'" for c, v in maps["port"].items()]
    out += [";", "", "/* I94MODE - There are missing values as well as not reported (9) */",
            "value i94model"]
    out += [f"\t{c} = '{v}'" for c, v in maps["mode"].items()]
    out += [";", "", "/* I94ADDR - There is lots of invalid codes in this variable and the list below",
            "shows what we have found to be valid, everything else goes into 'other' */",
            "value i94addrl"]
    out += [f"\t'{c}'='{q(v)}'" for c, v in maps["state"].items()]
    out += [";", "", "/* I94VISA - Visa codes collapsed into three categories:"]
    out += [f"   {c} = {v}" for c, v in maps["visa"].items()]
    out += ["*/", ""]
    return "\n".join(out)


def i94_inputs(out_dir: str, seed: int, rows: int) -> dict:
    """Write ``fact/`` (parquet) and ``labels.sas`` under ``out_dir``.

    ``rows`` counts every fact row, duplicate copies included. Returns
    the expected answers of the ETL over these inputs.
    """
    r = np.random.default_rng(np.random.SeedSequence([seed, 94]))
    maps = i94_label_maps()
    n_dup = rows // 100
    n_base = rows - n_dup

    cicid = (r.permutation(np.arange(n_base) * 2 + 1) + 5_000_000).astype(np.float64)
    country_codes = np.array(list(maps["country"]), dtype=np.int64)
    # 2 % of citizenship codes are not in the label file (unmatched dim row)
    cit = np.where(r.random(n_base) < 0.02, 999, country_codes[r.integers(0, _N_COUNTRIES, n_base)])
    res = country_codes[r.integers(0, _N_COUNTRIES, n_base)]
    port_codes = np.array(list(maps["port"]))
    # a few hot ports, as in the real data (NYC, MIA, LOS)
    port_idx = np.where(r.random(n_base) < 0.3, r.integers(0, 3, n_base), r.integers(0, _N_PORTS, n_base))
    port = port_codes[port_idx]
    mode = np.array([1.0, 2.0, 3.0, 9.0])[r.choice(4, n_base, p=[0.9, 0.02, 0.07, 0.01])]
    mode_null = r.random(n_base) < 0.005
    state_codes = np.array(list(maps["state"]))
    addr = np.where(r.random(n_base) < 0.03, "ZZ", state_codes[r.integers(0, _N_STATES, n_base)])
    addr_null = r.random(n_base) < 0.05
    visa = r.choice(np.array([1.0, 2.0, 3.0]), n_base, p=[0.15, 0.8, 0.05])
    visatype = np.array([_VISATYPES[str(int(v))][int(j) % len(_VISATYPES[str(int(v))])]
                         for v, j in zip(visa, r.integers(0, 12, n_base))])
    april = _days(dt.date(2016, 4, 1)) - _days(_SAS_EPOCH)
    arrdate = (april + r.integers(0, 30, n_base)).astype(np.float64)
    stay = r.integers(0, 60, n_base)
    depdate = arrdate + stay
    dep_null = r.random(n_base) < 0.05
    age = r.integers(1, 90, n_base).astype(np.float64)
    age_null = r.random(n_base) < 0.001
    count = np.where(r.random(n_base) < 0.03, 2.0, 1.0)
    iso = np.datetime_as_string(np.datetime64(_SAS_EPOCH) + arrdate.astype("timedelta64[D]"))
    dtadfile = np.char.replace(iso, "-", "")  # yyyyMMdd
    until_iso = np.datetime_as_string(np.datetime64(_SAS_EPOCH) + (arrdate + 180).astype("timedelta64[D]"))
    until = np.array([u[5:7] + u[8:10] + u[:4] for u in until_iso])  # MMddyyyy
    dtaddto = np.where(r.random(n_base) < 0.02, "D/S", until)
    # 0.2 % of records miss a required key (i94mon) and are dropped by clean
    mon = np.where(r.random(n_base) < 0.002, np.nan, 4.0)

    base = {
        "cicid": pa.array(cicid),
        "i94yr": pa.array(np.full(n_base, 2016.0)),
        "i94mon": pa.array(mon, from_pandas=True),
        "i94cit": pa.array(cit.astype(np.float64)),
        "i94res": pa.array(res.astype(np.float64)),
        "i94port": pa.array(port),
        "arrdate": pa.array(arrdate),
        "i94mode": pa.array(mode, mask=mode_null),
        "i94addr": pa.array(addr, mask=addr_null),
        "depdate": pa.array(depdate, mask=dep_null),
        "i94bir": pa.array(age, mask=age_null),
        "i94visa": pa.array(visa),
        "count": pa.array(count),
        "dtadfile": pa.array(dtadfile),
        "gender": pa.array(np.array(["F", "M"])[r.integers(0, 2, n_base)], mask=r.random(n_base) < 0.1),
        "airline": pa.array(np.array(["AA", "UA", "DL", "BA", "LH", "AF"])[r.integers(0, 6, n_base)]),
        "admnum": pa.array(np.floor(r.random(n_base) * 9e10) + 1e10),
        "fltno": pa.array(r.integers(1, 9999, n_base).astype(str)),
        "visatype": pa.array(visatype),
        "dtaddto": pa.array(dtaddto),
    }
    fact = pa.table(base)
    # duplicates are full-row copies, so dropDuplicates(cicid) has one answer
    dup_idx = r.integers(0, n_base, n_dup)
    fact = pa.concat_tables([fact, fact.take(dup_idx)])
    fact = fact.take(r.permutation(fact.num_rows))

    in_bytes = _write(fact, os.path.join(out_dir, "fact"), 4)
    labels = i94_label_file(maps)
    with open(os.path.join(out_dir, "labels.sas"), "w", encoding="latin-1") as f:
        f.write(labels)
    in_bytes += len(labels.encode("latin-1"))

    kept = ~np.isnan(mon)
    expected = {
        "rows": fact.num_rows,
        "input_bytes": in_bytes,
        "fact_rows": int(kept.sum()),  # distinct cicid among rows clean keeps
        "sum_count": int(count[kept].sum()),
        "arrival_dates": int(len(np.unique(arrdate[kept]))),
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f)
    return expected
