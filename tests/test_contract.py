"""Driver-contract shape tests (SURVEY.md §5)."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_queries_oracle_keys_consistent():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert qs, "catalog is empty"
    assert set(oracles) <= set(qs)
    for name, fn in qs.items():
        assert callable(fn), name


def test_get_spark_sizes_the_codegen_cache(spark):
    # warm rounds must reuse compiled classes (session.get_spark)
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2000"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["nation", "region", "revenue", "n_orders"]


def test_all_queries_execute(spark, sf_dir):
    """Every catalog query builds a plan and returns rows at smoke scale.

    Value correctness is the oracle-parity gate (tools/parity.py); this
    guards against import-time or analysis-time breakage.
    """
    import data_engineering_capstone_spark.catalog as cat

    for name, spec in cat.load_all().items():
        df = spec.fn(spark, sf_dir)
        n = df.count()
        assert n >= 0, name


def test_parity_typeclass_gate_flags_engine_level_skews(spark):
    """Regression for the round-7 double red row: tools/parity.py must
    flag int-vs-float ENGINE type skews (Spark lazy schema vs DuckDB
    prepared types) before value coercion — sign_v shipped DOUBLE vs
    TINYINT green through two committed sweeps because the comparator
    coerced both to float. Round-10 hardening (round-9 verdict task 2):
    HUGEINT-vs-long and DECIMAL(x,0)-vs-int are now HARD skews too —
    both cross Arrow as decimal128 → Python Decimal, and the driver's
    hash distinguishes Decimal('N') from int(N) even at equal values
    (judge-verified root cause of the ref_demographics_race_pivot red
    row in CORRECTNESS_r09.json)."""
    import importlib.util
    import os

    import duckdb

    spec = importlib.util.spec_from_file_location(
        "parity_mod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "parity.py"),
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)

    con = duckdb.connect()
    sdf = spark.sql(
        "SELECT CAST(1.0 AS DOUBLE) AS sign_v, CAST(5 AS BIGINT) AS big_sum, "
        "CAST(7 AS DECIMAL(10,0)) AS dec0, CAST(2 AS INT) AS ok_int"
    )
    rel = con.sql(
        "SELECT CAST(1 AS TINYINT) AS sign_v, "          # real skew: int vs float
        "CAST(5 AS HUGEINT) AS big_sum, "                 # HARD skew: Decimal vs int at the hash
        "CAST(7 AS BIGINT) AS dec0, "                     # HARD skew: int vs Spark Decimal
        "CAST(2.5 AS DOUBLE) AS ok_int"                   # real skew: float vs int
    )
    problems = parity.typeclass_problems(sdf.schema, rel)
    flagged = {p.split(":")[0].replace("col ", "") for p in problems}
    assert flagged == {"sign_v", "big_sum", "dec0", "ok_int"}, problems


def test_no_decimal_class_at_any_oracle_output_boundary(sf_dir):
    """Catalog-wide convention gate (round-9 verdict task 2): no oracle
    may emit a HUGEINT/UHUGEINT/DECIMAL column at its OUTPUT boundary.
    DuckDB SUM(BIGINT) returns HUGEINT, which crosses Arrow as
    decimal128(38,0) → Python Decimal — the driver hashes that against
    Spark's int and mismatches even when every value is identical (the
    round-9 ref_demographics_race_pivot artifact). Inner-CTE sums are
    fine (their type never reaches the boundary); output aggregates must
    be wrapped CAST(... AS BIGINT) / CAST(... AS DOUBLE). DuckDB-only:
    binds each oracle (no execution, no Spark)."""
    import importlib.util
    import os

    import data_engineering_capstone_spark.catalog as cat

    spec = importlib.util.spec_from_file_location(
        "parity_mod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "parity.py"),
    )
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    tc_spec = importlib.util.spec_from_file_location(
        "typeclass_mod",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "typeclass.py"),
    )
    typeclass = importlib.util.module_from_spec(tc_spec)
    tc_spec.loader.exec_module(typeclass)

    con = parity.duck_con(sf_dir)
    offenders = []
    for name, qspec in sorted(cat.load_all().items()):
        if qspec.oracle is None:
            continue
        rel = con.sql(qspec.oracle)
        for c, t in zip(rel.columns, rel.types):
            if typeclass.duck_class(t) == "decimal":
                offenders.append(f"{name}.{c}: {t}")
    assert not offenders, (
        "oracle output columns that will cross Arrow as Decimal and "
        f"hash-fail at the driver: {offenders}"
    )


def test_survey_cites_exactly_the_registered_entries():
    """SURVEY.md §2 is the coverage map: every catalog-looking name it
    cites is registered, and every registered entry is cited."""
    import os
    import re

    from data_engineering_capstone_spark.catalog import load_all

    with open(os.path.join(os.path.dirname(os.path.dirname(__file__)), "SURVEY.md")) as f:
        cited = set(re.findall(r"`([a-z0-9_]+)`", f.read()))
    registered = set(load_all())
    looks_like_entry = re.compile(
        r"^(q\d|agg_|window_|scan_|etl_|llm_|mm_|stream_|ts_|sql_|udf_|udtf_|"
        r"set_ops|null_|filter_|pivot_|unpivot_|rollup_|cube_|asof_|range_|"
        r"cross_|outer_|full_|anti_|skew_|bucketed_|interval_|join_|"
        r"json_|map_|array_|scalar_)"
    )
    phantom = sorted(n for n in cited - registered if looks_like_entry.match(n))
    assert phantom == [], f"cited in SURVEY.md, not registered: {phantom}"
    undocumented = sorted(registered - cited)
    assert undocumented == [], f"registered, absent from SURVEY.md: {undocumented}"


def test_package_imports_are_used():
    """Every name a package module imports is used in that module. An
    import kept for its side effect or as a re-export says so with
    ``noqa`` on its line (``catalog.load_all``, the ``__init__`` files)."""
    import ast
    import os

    import data_engineering_capstone_spark as pkg

    pkg_dir = os.path.dirname(pkg.__file__)
    unused = []
    for root, _dirs, files in os.walk(pkg_dir):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                src = f.read()
            lines = src.splitlines()
            tree = ast.parse(src, filename=path)
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for node in ast.walk(tree):
                if not isinstance(node, (ast.Import, ast.ImportFrom)):
                    continue
                if getattr(node, "module", None) == "__future__":
                    continue
                if "noqa" in lines[node.lineno - 1]:
                    continue
                for alias in node.names:
                    bound = alias.asname or alias.name.split(".")[0]
                    if bound not in used:
                        rel = os.path.relpath(path, pkg_dir).replace(os.sep, "/")
                        unused.append(f"{rel}:{node.lineno} {bound}")
    assert unused == [], f"unused imports: {unused}"
