"""Physical join-strategy control and plan assertions (SURVEY.md §4).

Catalyst picks join strategies from statistics; at 100 TB the cost of a
wrong pick (a sort-merge against a dimension, a broadcast of a fact) is
hours, so production plans pin the strategy where it matters and ASSERT
it in tests — a plan regression then fails CI instead of the cluster.

* ``broadcast`` — hash join with the small side replicated to every
  executor: no shuffle of the big side. Right for dimensions under
  ~an executor's memory headroom.
* ``merge`` (sort-merge) — both sides shuffled + sorted on the key:
  right for fact⋈fact with unsorted inputs; pairs with bucketing to
  delete the shuffle (sources/writers.write_bucketed_table).
* ``shuffle_hash`` — both sides shuffled, smaller side hashed in
  memory per partition: beats merge when one side is much smaller than
  the other but too big to broadcast, and avoids the sort.

These wrap Spark's join hints — Catalyst still owns correctness; the
hint only pins the physical pick.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def broadcast_join(left: DataFrame, right: DataFrame, on, how: str = "inner") -> DataFrame:
    from pyspark.sql.functions import broadcast

    return left.join(broadcast(right), on, how)


def gated_broadcast(
    sf_dir: str,
    df: DataFrame,
    table: str,
    *,
    key: str | list[str],
    budget_bytes: int = 256 << 20,
    row_bytes: int = 64,
) -> DataFrame:
    """q7's SIZE-GATED broadcast hint as the house one-liner (round-11:
    applied to every forced broadcast of an SF-PROPORTIONAL table —
    part/supplier/customer slices — which were unbounded forced builds,
    the exact class the round-9 ADVICE killed for q7/anti_semi).

    Hint only when the FULL source table's parquet-footer row count ×
    a conservative ``row_bytes`` hash-relation footprint fits
    ``budget_bytes`` — zero Spark jobs, and deliberately ignoring
    filter selectivity so the gate only ever UNDER-broadcasts. Past the
    gate the join must not degrade to a bare session-width SMJ (the q9
    OOM class the gate exists to prevent): ``key`` — the join key
    column(s) on THIS side — repartitions this side at the table's
    footer width, which EnsureRequirements propagates to the fact side
    too (one plan-encoded side suffices, the round-11 join-width law).
    """
    from pyspark.sql.functions import broadcast

    from ..sources.pqmeta import fact_width

    if footer_fits_broadcast(sf_dir, table, budget_bytes, row_bytes):
        return broadcast(df)
    keys = [key] if isinstance(key, str) else list(key)
    return df.repartition(fact_width(df.sparkSession, sf_dir, table), *keys)


def footer_fits_broadcast(
    sf_dir: str,
    table: str,
    budget_bytes: int = 256 << 20,
    row_bytes: int = 64,
) -> bool:
    """The :func:`gated_broadcast` predicate, exposed for callers that
    must PLAN differently past the gate (e.g. q10: broadcast customer
    under budget, else repartition BOTH join sides at the footer width
    — a bare un-hinted join past the gate would ride session width,
    the q9 OOM class). Unknown/remote footers read as NOT fitting:
    never force an unsized build."""
    from ..sources.pqmeta import parquet_row_count

    try:
        return parquet_row_count(f"{sf_dir}/{table}.parquet") * row_bytes <= budget_bytes
    except (OSError, ValueError):
        return False


def merge_join(left: DataFrame, right: DataFrame, on, how: str = "inner") -> DataFrame:
    return left.join(right.hint("merge"), on, how)


def shuffle_hash_join(
    left: DataFrame, right: DataFrame, on, how: str = "inner"
) -> DataFrame:
    return left.join(right.hint("shuffle_hash"), on, how)


def physical_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_STRATEGY_NODES = {
    "broadcast": "BroadcastHashJoin",
    "merge": "SortMergeJoin",
    "shuffle_hash": "ShuffledHashJoin",
}


def assert_join_strategy(df: DataFrame, strategy: str) -> None:
    """Raise if the physical plan does not contain the expected join
    node (and, for broadcast, if any SortMergeJoin sneaked in)."""
    node = _STRATEGY_NODES[strategy]
    plan = physical_plan(df)
    if node not in plan:
        raise AssertionError(f"expected {node} in plan:\n{plan}")
    if strategy == "broadcast" and "SortMergeJoin" in plan:
        raise AssertionError(f"unexpected SortMergeJoin alongside broadcast:\n{plan}")
