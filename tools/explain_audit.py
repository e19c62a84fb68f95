"""Physical-plan audit — the scale-hygiene gate (SURVEY.md §7 P7).

For every catalog query, renders the formatted physical plan and flags
antipatterns that would hurt at 100 TB:

* parquet scans with no pushed filters while the query filters that table
* CartesianProduct / BroadcastNestedLoopJoin (unless the query is an
  intentional small-side cross join, e.g. brute-force similarity)
* SortMergeJoin against a dimension-sized side (should be broadcast)
* row-at-a-time Python UDF markers (BatchEvalPython) — pandas/Arrow only

Usage: python tools/explain_audit.py [sf_dir] [query ...] [--dump-dir D]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_capstone_spark.catalog import load_all
from data_engineering_capstone_spark.session import get_spark

# Queries where a nested-loop/cross shape is the algorithm, not a bug.
INTENTIONAL_CROSS = {
    "llm_cosine_topk",      # broadcast query set x corpus scan
    "llm_embedding_near_dup",  # exact all-pairs verify stage (documented)
    "llm_ann_lsh",          # bucket-join candidates, rerank
    "cross_join_nation_region",  # explicit dim x dim Cartesian (documented)
    "q11_important_parts",  # 1-row broadcast scalar threshold; inequality
                            # compare can't become an equi-join
    "llm_ann_ivf",  # query-set x tiny centroid table broadcast (nearest-
                    # cell assignment); candidate join itself is equi
    "llm_semantic_dedup",  # corpus x 8-row broadcast centroid table for
                           # multi-probe cell ranking; pair join is equi
    "ts_gapfill_ffill",  # entity-dim x exploded bucket sequence: the
                         # dense grid is tiny-by-construction (documented)
    "interval_overlap_join",  # fact x 4-row broadcast promo calendar;
                              # overlap predicate can't equi-join (documented)
    "ts_rolling_active_users",  # fact x 30-row broadcast day grid range
                                # join (windowed COUNT DISTINCT; documented)
    "ts_rolling_active_users_hll",  # sketch-rows x day-grid range join
    "ts_rolling_median_kll",  # same shape: ~30 daily KLL sketch rows x
                              # 30-row day grid trailing-window range
                              # join; both sides dimension-scale
    "llm_unigram_logprob",  # vocab x 1-row broadcast total (documented)
    "llm_bm25_search",  # tf table x 1-row broadcast (N, avgdl) corpus
                        # stats — same tiny-broadcast shape (documented)
    "llm_perplexity_filter",  # token stream x 1-row broadcast (t, v) LM
                              # stats for the OOV floor — same tiny-
                              # broadcast shape as llm_unigram_logprob
    "llm_dsir_weights",  # 64-row bucket table x 1-row broadcast (sr, st)
                         # totals, and doc scores x 1-row broadcast
                         # median threshold — same tiny-broadcast shape
    "llm_kl_drift",  # (source, term) counts x 1-row broadcast corpus
                     # total — same tiny-broadcast shape
    "agg_equidepth_histogram",  # ranked fact x 1-row broadcast n_tot
                                # (ntile remainder arithmetic) — same
                                # tiny-broadcast shape (round-7 rewrite;
                                # the no-partition window it also plans
                                # runs over ~50k BUCKET rows, not the
                                # fact — the prefix.py phase-2 pattern)
    "llm_hybrid_rrf_search",  # corpus scan x 1-row broadcast query
                              # vector (dense stage), plus the inherited
                              # bm25 1-row stats broadcast
    "etl_psi_drift",  # fact scan x 1-row broadcast decile-boundary
                      # array, and 10-row bucket table x 1-row totals
    "etl_benford_report",  # 9-row digit table x 1-row broadcast total
    "etl_psi_drift_kll",  # same shape as etl_psi_drift with KLL-sketch
                          # boundaries (1-row broadcasts)
    "stream_psi_drift",  # same shape as etl_psi_drift: 1-row broadcast
                         # boundary array, and <=10-row reference bucket
                         # table x 1-row totals
}

# Entries allowed to run a grouped-agg pandas UDF WITHOUT the
# (key, spark_partition_id()) partial-grain device because their
# grouping key is high-cardinality (slices stay bounded and the
# reducer width tracks the key, not |groups|≈constant). Currently none
# — every catalog UDAF goes through the device.
UDAF_HIGH_CARDINALITY_OK: set[str] = set()

# Streaming queries execute through the streaming runner; the batch
# explain below would re-trigger the stream. Audited via their batch
# twins instead.
SKIP = {
    "stream_tumbling_counts",
    "stream_sliding_avg",
    "stream_session_windows",
    "stream_dedup_watermark",
    "stream_foreach_batch_sink",
    # sink round-trips write on plan construction; plans are trivial scans
    "etl_partitioned_sink_roundtrip",
    "scan_csv_roundtrip",
    "scan_semicolon_csv_roundtrip",
    "scan_json_roundtrip",
    "scan_orc_roundtrip",
    "stream_foreach_batch_sink",
    # these also write on plan construction (sinks, Derby, XPT, versions)
    "scan_xml_roundtrip",
    "scan_jdbc_roundtrip",
    "scan_sas_roundtrip",
    "scan_xport_distributed",
    "scan_parquet_codecs",
    "scan_csv_malformed",
    "etl_zorder_roundtrip",
    "etl_time_travel_diff",
    "stream_custom_source_replay",
    "stream_stream_join",
    "stream_static_join_segments",
    "stream_stateful_user_stats",
    "stream_psi_drift",
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
        df.explain()  # simple mode carries the *(N) codegen-span markers
    return buf.getvalue()


def udaf_grain_flags(plan: str) -> list[str]:
    """pandas-UDAF partial-grain law (SCALE.md §22), anchored PER NODE.

    PythonUDAF has no partial aggregation, so a grouped-agg pandas UDF
    keyed only on a low-cardinality column shuffles every raw row to
    |groups| reducers and holds each whole group in one Python worker —
    a scale bug by construction (udf_grouped_agg measured 52 s / 169×
    at 256× in the single-phase form). Every ArrowAggregatePython node
    must therefore aggregate at a grain that includes
    SPARK_PARTITION_ID() (the explicit partial-grain device;
    queries_udf.py:udf_grouped_agg is the template).

    Round-10 fix (round-9 ADVICE): the check reads EACH node's OWN
    grouping keys (the first bracket of its Arguments line) and demands
    one of them be the partition id — either literally or via a
    ``SPARK_PARTITION_ID() AS <key>`` alias elsewhere in the plan. The
    old plan-wide substring check passed any grain-less UDAF co-planned
    with an unrelated partition-id expression.
    """
    flags: list[str] = []
    for m in re.finditer(r"\(\d+\) ArrowAggregatePython[^\n]*\n((?:[^\n]*\n){1,4})", plan):
        am = re.search(r"Arguments: \[([^\]]*)\]", m.group(1))
        keys = am.group(1) if am else ""
        grain_ok = "SPARK_PARTITION_ID()" in keys
        for key in re.findall(r"\w+#\d+", keys):
            if grain_ok:
                break
            if re.search(r"SPARK_PARTITION_ID\(\)[^\n]*AS " + re.escape(key), plan):
                grain_ok = True
        if not grain_ok:
            flags.append(
                "grouped-agg pandas UDF without the partition-grain device "
                "(PythonUDAF cannot partial-aggregate; see SCALE.md §22)"
            )
            break
    return flags


# --- fact-fact exchange width audit (round-11 verdict task 1) ---------
#
# Round 10 proved the class: a fact-fact SMJ whose exchanges ride the
# SESSION shuffle width puts corpus/N rows in each sorter and dies
# UNABLE_TO_ACQUIRE_MEMORY at the 2048x octave (q9, BASELINE.md). The
# fix is plan-encoded: repartition both sides on the join key at
# sources/pqmeta.py:scaled_width (~4M rows/reducer from parquet
# footers). This audit makes the law CATALOG-WIDE: every SMJ /
# ShuffledHashJoin whose BOTH inputs carry unreduced fact-scale rows
# must read REPARTITION_BY_NUM (an explicit width) on its exchanges,
# never ENSURE_REQUIREMENTS (the session default).
#
# The same law covers WINDOW functions partitioned on a fact key (the
# window_ratio_to_report / asof tagged-union class): their exchange
# carries every fact row too.
#
# "Unreduced fact-scale" = below the exchange there is a scan of an
# SF-proportional table, where aggregates prune the walk ONLY when
# keyed on group-scale columns: an aggregate keyed on a fact KEY
# (l_orderkey, doc_id, ...) has fact-cardinality output, so partial
# aggregation before the exchange does not save it (q5's per-order
# pre-agg is the canonical case).

_FACT_COL_PREFIXES = ("l_", "o_", "c_", "s_", "ps_")
_FACT_COL_NAMES = {"doc_id", "user_id", "event_id", "embedding", "p_partkey",
                   "p_name", "p_retailprice", "p_type", "p_brand"}
_DIM_COL_PREFIXES = ("n_", "r_")
_AGG_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate",
              "ArrowAggregatePython")
# SF-proportional key columns: an aggregate/window keyed on one of
# these stays fact-cardinality
_FACT_KEYS = {
    "l_orderkey", "l_partkey", "l_suppkey", "o_orderkey", "o_custkey",
    "c_custkey", "s_suppkey", "p_partkey", "ps_partkey", "ps_suppkey",
    "doc_id", "user_id", "event_id", "emb_id",
}


def _bracket_groups(text: str) -> list[str]:
    """Top-level [...] groups of a plan node line."""
    out, depth, cur = [], 0, []
    for ch in text:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return out


def _keys_are_fact(text: str) -> bool:
    m = re.search(r"keys=\[([^\]]*)\]", text)
    if not m:
        return False
    return any(re.sub(r"#\d+L?", "", k.strip()) in _FACT_KEYS
               for k in m.group(1).split(","))


def _parse_tree(plan: str):
    """Parse the LAST '== Physical Plan ==' section (simple mode) into
    a list of (depth, text) nodes in pre-order."""
    section = plan.rsplit("== Physical Plan ==", 1)[-1]
    nodes = []
    for ln in section.splitlines():
        m = re.match(r"^([: ]*)(?:[+:]- )?(\*?\(\d+\) )?(\S.*)$", ln)
        if not m or not m.group(3):
            continue
        text = m.group(3)
        if text.startswith("=="):
            break
        # depth = indentation groups of 3 ("   " or ":  "), +1 if a
        # branch marker was present (root has none)
        prefix = ln[: len(ln) - len(ln.lstrip(": +-*("))]
        marker = re.match(r"^([: ]*)([+:]- )", ln)
        depth = (len(marker.group(1)) // 3 + 1) if marker else 0
        nodes.append((depth, text))
    return nodes


def _subtree(nodes, i):
    """Indices of the subtree rooted at nodes[i] (pre-order, contiguous)."""
    d = nodes[i][0]
    j = i + 1
    while j < len(nodes) and nodes[j][0] > d:
        j += 1
    return list(range(i, j))


def _children(nodes, i):
    """Direct child indices of nodes[i]."""
    d = nodes[i][0]
    out = []
    for j in _subtree(nodes, i)[1:]:
        if nodes[j][0] == d + 1:
            out.append(j)
    return out


def _scan_is_fact(text: str) -> bool:
    cols = re.findall(r"(\w+)#\d+", text.split("Batched:")[0])
    if any(c.startswith(_DIM_COL_PREFIXES) for c in cols):
        return False
    return any(
        c.startswith(_FACT_COL_PREFIXES) or c in _FACT_COL_NAMES for c in cols
    )


def _side_fact_exchange(nodes, child_i):
    """(is_unreduced_fact, exchange_text|None) for one join input: find
    the side's first Exchange, then check whether a fact scan is
    reachable below it without crossing an aggregate."""
    sub = _subtree(nodes, child_i)
    exch = None
    for j in sub:
        if nodes[j][1].startswith("Exchange"):
            exch = j
            break
        if nodes[j][1].startswith("ReusedExchange"):
            return False, None  # original exchange audited elsewhere
    if exch is None:
        return False, None
    return _reach_fact(nodes, exch), nodes[exch][1]


_KEY_RANGE = re.compile(
    r"\((\w+)#\d+L? <=? \d+\)|\(\d+ >=? (\w+)#\d+L?\)"
)


def _is_constant_slice(text: str) -> bool:
    """A Filter bounding a FACT KEY by a literal (user_id < 10,
    doc_id < 100, c_custkey < 100): keys are dense from 0, so the kept
    slice is a CONSTANT number of key values at any SF — the branch
    below is not fact-scale no matter what it scans (the ts_* /
    lateral-topk / range-frame-7d family)."""
    if not text.startswith("Filter"):
        return False
    for m in _KEY_RANGE.finditer(text):
        key = m.group(1) or m.group(2)
        if key in _FACT_KEYS:
            return True
    return False


def _reach_fact(nodes, i) -> bool:
    """Is a fact scan reachable below nodes[i] without crossing a
    group-scale aggregate or a constant key-range slice? Aggregates
    keyed on fact keys pass through."""
    for c in _children(nodes, i):
        t = nodes[c][1]
        if t.startswith(_AGG_NODES) and not _keys_are_fact(t):
            continue
        if _is_constant_slice(t):
            continue
        if t.startswith(("FileScan", "Scan parquet")) and _scan_is_fact(t):
            return True
        if _reach_fact(nodes, c):
            return True
    return False


def fact_fact_width_flags(plan: str) -> list[str]:
    nodes = _parse_tree(plan)
    for i, (_d, text) in enumerate(nodes):
        if text.startswith(("SortMergeJoin", "ShuffledHashJoin")):
            kids = _children(nodes, i)
            if len(kids) < 2:
                continue
            sides = [_side_fact_exchange(nodes, k) for k in kids[:2]]
            if not all(f for f, _e in sides):
                continue  # at least one side is reduced / dim / reused
            # ONE plan-encoded side suffices: EnsureRequirements aligns
            # the partner's exchange to the explicit width (measured:
            # a right-side repartition(48) turns the left ENSURE
            # exchange into hashpartitioning(..., 48))
            etexts = [e for _f, e in sides if e]
            if etexts and all("ENSURE_REQUIREMENTS" in e for e in etexts):
                return [
                    "fact-fact join exchange rides session width "
                    "(ENSURE_REQUIREMENTS) — thread sources/pqmeta.py:"
                    "scaled_width through at least one side (the q9 "
                    "2048x OOM class)"
                ]
        elif text.startswith("Window"):
            # width helps only when the partition key is itself
            # fact-cardinality (user_id, doc_id, ...): a window hashed
            # on 5 langs fills 5 partitions no matter the width (that
            # class needs a different device, e.g. the two-phase
            # prefix sum), and group-scale windows are fine as-is
            pkeys = _bracket_groups(text)
            pcols = set()
            if len(pkeys) >= 3:
                pcols = {re.sub(r"#\d+L?", "", k.strip())
                         for k in pkeys[-2].split(",") if k.strip()}
            elif len(pkeys) == 2 and " ASC" not in pkeys[-1] and " DESC" not in pkeys[-1]:
                # no-ORDER-BY window (unbounded-frame min/max): only two
                # bracket groups print, the second IS the partition spec
                # (an order spec always carries ASC/DESC) — found via
                # q2's min-over-partition window slipping the audit
                pcols = {re.sub(r"#\d+L?", "", k.strip())
                         for k in pkeys[-1].split(",") if k.strip()}
            if not pcols & _FACT_KEYS:
                continue
            fact, etext = _side_fact_exchange(nodes, i)
            if fact and etext and "ENSURE_REQUIREMENTS" in etext:
                return [
                    "fact-partitioned window exchange rides session width "
                    "(ENSURE_REQUIREMENTS) — repartition on the window keys at "
                    "sources/pqmeta.py:scaled_width (the window_ratio class)"
                ]
    return []


def audit_one(name: str, plan: str) -> list[str]:
    flags: list[str] = []
    if name not in INTENTIONAL_CROSS:
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            flags.append("nested-loop/cartesian join")
    if "BatchEvalPython" in plan:
        flags.append("row-at-a-time Python UDF (use pandas_udf)")
    if name not in UDAF_HIGH_CARDINALITY_OK:
        flags.extend(udaf_grain_flags(plan))
    flags.extend(fact_fact_width_flags(plan))
    # SortMergeJoin whose JOIN KEYS are a tiny dim's (nation/region) —
    # checked against the SMJ node's own "Left/Right keys" detail lines,
    # not the whole subtree (round-9 fix: the old DOTALL regex flagged
    # any plan where a broadcast dim join merely appeared BELOW an
    # unrelated fact-fact SMJ, e.g. q7 after its join reorder)
    for m in re.finditer(r"\(\d+\) SortMergeJoin[^\n]*\n((?:[^\n]*\n){1,4})", plan):
        detail = m.group(1)
        keys = "\n".join(ln for ln in detail.splitlines() if "keys" in ln)
        if re.search(r"n_nationkey|r_regionkey", keys):
            flags.append("sort-merge join against a broadcastable dim")
            break
    return flags


def main() -> int:
    dump_dir = None
    raw = sys.argv[1:]
    skip_idx: set[int] = set()
    for i, a in enumerate(raw):
        if a == "--dump-dir":
            if i + 1 >= len(raw) or raw[i + 1].startswith("--"):
                print("--dump-dir requires a directory argument", file=sys.stderr)
                return 2
            dump_dir = raw[i + 1]
            skip_idx.update((i, i + 1))
    args = [a for i, a in enumerate(raw)
            if i not in skip_idx and not a.startswith("--")]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.001"
    if args and os.path.isdir(args[0]):
        args = args[1:]
    names = args or [n for n in load_all() if n not in SKIP]
    spark = get_spark("explain_audit")
    # AQE prints "AdaptiveSparkPlan isFinalPlan=false" shells before
    # execution, hiding the *(N) whole-stage-codegen markers; audit the
    # static plan instead (strategy/pushdown/UDF checks are identical).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    catalog = load_all()
    bad = 0
    for name in names:
        try:
            plan = plan_text(catalog[name].fn(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report it, audit the rest
            bad += 1
            first_line = str(exc).partition("\n")[0]
            print(f"ERROR {name}: {first_line}")
            continue
        if dump_dir:
            os.makedirs(dump_dir, exist_ok=True)
            with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
        flags = audit_one(name, plan)
        pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        codegen = len(set(re.findall(r"\*\((\d+)\)", plan)))
        if flags:
            bad += 1
            print(f"FLAG  {name}: {'; '.join(flags)}")
        else:
            print(f"ok    {name} (pushed-filter scans={pushed}, codegen spans={codegen})")
    print(f"\n{len(names) - bad}/{len(names)} plans clean")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
