"""The benchmark's workloads: what one op runs, and how its output is checked.

Each workload object exposes:

* ``steps`` -- step names; ``round_ops`` -- ops per round (a round runs
  every step once); ``warmup_ops`` -- ops run before timing;
* ``order(seed, op)`` -- the steps of op number ``op``;
* ``build(step)`` -- the driver-side call into the package (plan
  construction; it may run jobs: schema inference, eager checkpoints,
  stream drains);
* ``execute(step, built)`` -- the action; returns the step's output
  digest;
* ``check_op(digests)`` -- per-op checks (``None`` when fine);
* ``verify(digests)`` -- checks made once after the timed window, given
  every digest seen per step; returns ``{step: problem}``.
"""

from __future__ import annotations

import glob
import os
import random

CATALOG_QUERIES = ("q5_revenue_by_nation", "stream_tumbling_counts")
LLM_QUERIES = ("llm_minhash_near_dup", "mm_feature_extract")
I94_STEPS = ("etl_labels", "etl_fact", "etl_dims_rollup", "etl_quality")


def digest_exprs(df):
    """Order-insensitive digest of a DataFrame's rows, as aggregates."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns])
    return [F.count(F.lit(1)).alias("n"), F.bit_xor(h).alias("x"),
            F.sum(F.pmod(h, F.lit(2147483647))).alias("s")]


def _digest(obs) -> tuple:
    m = obs.get
    return (m["n"], m["x"], m["s"])


def observed_write(df, write) -> tuple:
    """Run ``write(observed_df)``; return the digest observed on the way.

    ``DataFrame.observe`` adds a metrics node on top of the plan, so the
    plan that runs is the caller's.
    """
    from pyspark.sql import Observation

    obs = Observation()
    write(df.observe(obs, *digest_exprs(df)))
    return _digest(obs)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duck(con_paths: dict[str, str]):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in con_paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


class CatalogWork:
    """Catalog queries. An op runs one query: rounds over the query list.
    One round warms up: it runs the list in its fixed order, so every
    run's set-up does the same work, and collects each result for the
    oracle check instead of writing it to the noop sink. Later rounds
    run in a seeded order."""

    def __init__(self, spark, in_dir: str):
        from data_engineering_capstone_spark.catalog import load_all

        self.spark, self.in_dir, self.steps = spark, in_dir, CATALOG_QUERIES + LLM_QUERIES
        self.catalog = load_all()
        self.results = {}
        self.round_ops = self.warmup_ops = len(self.steps)

    def order(self, seed: int, op: int) -> list[str]:
        names = list(self.steps)
        if op < len(names):
            return [names[op]]
        random.Random(seed * 100_003 + op // len(names)).shuffle(names)
        return [names[op % len(names)]]

    def build(self, step: str):
        return self.catalog[step].fn(self.spark, self.in_dir)

    def execute(self, step: str, built) -> tuple:
        if step in self.results:
            return observed_write(built, noop)
        from pyspark.sql import Observation

        obs = Observation()
        self.results[step] = built.observe(obs, *digest_exprs(built)).toPandas()
        return _digest(obs)

    def check_op(self, digests: dict) -> str | None:
        return None

    def verify(self, digests: dict[str, set]) -> dict[str, str]:
        """Each collected result vs the entry's oracle in DuckDB (rows > 0
        for rows-only entries), and one digest per query across all ops."""
        from tools import parity

        con = _duck({os.path.basename(t)[: -len(".parquet")]: t
                     for t in glob.glob(os.path.join(self.in_dir, "*.parquet"))})
        problems = {}
        for step in self.steps:
            pdf, spec = self.results.get(step), self.catalog[step]
            try:
                if pdf is None:
                    problems[step] = "no collected result"
                elif spec.oracle is not None:
                    bad = parity.compare(step, pdf, con.execute(spec.oracle).df())
                    if bad:
                        problems[step] = "; ".join(bad)[:300]
                elif len(pdf) == 0:
                    problems[step] = "no rows"
            except Exception as exc:  # noqa: BLE001
                problems[step] = f"oracle check raised {type(exc).__name__}: {exc}"[:300]
            if step not in problems and len(digests.get(step, ())) != 1:
                problems[step] = f"output differs across ops: {sorted(digests.get(step, ()))[:2]}"
        con.close()
        return problems


class I94Work:
    """The reference's star-schema ETL; an op is one batch of its steps.

    Two batches warm up: the first, cold, takes ~4x a warm one; the
    second is still up to ~50 % slower than the third, which is as fast
    as the later ones."""

    DIMS = {"country": "i94cntyl", "port": "i94prtl", "mode": "i94model",
            "state": "i94addrl", "visa": "i94visa"}

    def __init__(self, spark, in_dir: str, meta: dict, out_dir: str):
        from data_engineering_capstone_spark.etl import pipeline, quality, sas_labels
        from data_engineering_capstone_spark.sources import writers

        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir
        self.expected = meta["expected"]
        self.steps = I94_STEPS
        self.round_ops, self.warmup_ops = 1, 2
        self.dims = None
        self.pipeline, self.quality, self.sas_labels, self.writers = pipeline, quality, sas_labels, writers

    def order(self, seed: int, op: int) -> list[str]:
        return list(self.steps)

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def build(self, step: str):
        spark, p = self.spark, self.pipeline
        if step == "etl_labels":
            with open(os.path.join(self.in_dir, "labels.sas"), encoding="latin-1") as f:
                text = f.read()
            maps = self.sas_labels.parse_sas_value_maps(text)
            maps["i94visa"] = self.sas_labels.parse_comment_value_map(text, "I94VISA")
            self.dims = {d: self.sas_labels.dim_from_map(spark, maps[m], "code", "label")
                         for d, m in self.DIMS.items()}
            return tuple(sorted((d, len(maps[m])) for d, m in self.DIMS.items()))
        if step == "etl_fact":
            fact = spark.read.parquet(os.path.join(self.in_dir, "fact"))
            return p.join_dims(p.convert_dates(p.clean(fact)), self.dims)
        fact = spark.read.parquet(self.path("fact"))
        if step == "etl_dims_rollup":
            return p.build_date_dim(fact), p.aggregate_arrivals(fact)
        return fact

    def execute(self, step: str, built) -> tuple:
        write = self.writers.write_parquet
        if step == "etl_labels":
            return built  # dimension sizes: the dims are driver-side data
        if step == "etl_fact":
            return observed_write(built, lambda df: write(df, self.path("fact"),
                                                          partition_by=["i94yr", "i94mon"]))
        if step == "etl_dims_rollup":
            date_dim, rollup = built
            return (observed_write(date_dim, lambda df: write(df, self.path("date_dim")))
                    + observed_write(rollup, lambda df: write(df, self.path("rollup"))))
        res = self.quality.check_suite_single_pass(built, ["cicid"], ["cicid", "i94yr", "i94mon"])
        return tuple((c.check, c.passed, c.observed) for c in res)

    def check_op(self, digests: dict) -> str | None:
        """The quality suite passes; fact and date dim have the generator's counts."""
        exp = self.expected
        if not all(passed for _, passed, _ in digests["etl_quality"]):
            return f"quality suite failed: {digests['etl_quality']}"
        if digests["etl_fact"][0] != exp["fact_rows"]:
            return f"fact rows {digests['etl_fact'][0]} != {exp['fact_rows']}"
        if digests["etl_dims_rollup"][0] != exp["arrival_dates"]:
            return f"date dim rows {digests['etl_dims_rollup'][0]} != {exp['arrival_dates']}"
        return None

    def verify(self, digests: dict[str, set]) -> dict[str, str]:
        """The written rollup vs DuckDB over the raw files, ``SUM(count)``
        vs the generator, and one digest per step across all ops."""
        import gen
        from tools import parity

        problems = {}
        try:
            con = _duck({"fact": os.path.join(self.in_dir, "fact", "*.parquet")})
            maps = gen.i94_label_maps()
            for name in ("port", "visa"):
                con.execute(f"CREATE TABLE {name}_dim(code VARCHAR, label VARCHAR)")
                con.executemany(f"INSERT INTO {name}_dim VALUES (?, ?)", list(maps[name].items()))
            want = con.execute("""
                WITH f AS (SELECT DISTINCT * FROM fact
                           WHERE cicid IS NOT NULL AND i94yr IS NOT NULL AND i94mon IS NOT NULL)
                SELECT p.label AS port_name, v.label AS visa_category,
                       CAST(f.i94yr AS BIGINT) AS i94yr, CAST(f.i94mon AS BIGINT) AS i94mon,
                       CAST(SUM(CAST(f."count" AS BIGINT)) AS BIGINT) AS arrivals,
                       CAST(COUNT(*) AS BIGINT) AS n_records
                FROM f LEFT JOIN port_dim p ON f.i94port = p.code
                       LEFT JOIN visa_dim v ON CAST(f.i94visa AS BIGINT) = CAST(v.code AS BIGINT)
                GROUP BY ALL""").df()
            con.close()
            got = self.spark.read.parquet(self.path("rollup")).toPandas()
            bad = parity.compare("rollup", got, want)
            if int(got["arrivals"].sum()) != self.expected["sum_count"]:
                bad.append(f"SUM(count) {got['arrivals'].sum()} != {self.expected['sum_count']}")
            if bad:
                problems["etl_dims_rollup"] = "; ".join(bad)[:300]
        except Exception as exc:  # noqa: BLE001
            problems["etl_dims_rollup"] = f"oracle check raised {type(exc).__name__}: {exc}"[:300]
        for step, seen in digests.items():
            if len(seen) > 1 and step not in problems:
                problems[step] = f"output differs across ops: {sorted(seen)[:2]}"
        return problems
