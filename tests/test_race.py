"""tools/race.py: the paired verdict rule and the same-benchmark refusal, without Spark."""

from __future__ import annotations

import importlib.util
import os
import subprocess

import pytest

_spec = importlib.util.spec_from_file_location(
    "race_mod", os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools", "race.py"))
race = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(race)

PASS_S = {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.25}


def _pairs(parent: list[float], change: list[float]) -> list[tuple[float, float]]:
    return list(zip(parent, change))


# parent runs 9.0 .. 10.8: median 9.9, IQR 0.9
PARENT = [9.0 + 0.2 * i for i in range(10)]


def test_nine_of_ten_wins_beyond_the_iqr_is_a_gain():
    change = [p - 1.5 for p in PARENT[:9]] + [PARENT[9] + 1.0]
    s = race.summarize(PASS_S, _pairs(PARENT, change))
    assert (s["wins_b"], s["wins_a"], s["n"]) == (9, 1, 10)
    assert s["verdict"] == "gain"


def test_eight_of_ten_wins_is_not_a_gain():
    change = [p - 1.5 for p in PARENT[:8]] + [PARENT[8] + 1.0, PARENT[9] + 1.0]
    s = race.summarize(PASS_S, _pairs(PARENT, change))
    assert s["wins_b"] == 8
    assert s["verdict"] == "no regression"


def test_nine_of_ten_wins_within_the_iqr_is_not_a_gain():
    change = [p - 0.1 for p in PARENT[:9]] + [PARENT[9] + 0.1]
    s = race.summarize(PASS_S, _pairs(PARENT, change))
    assert s["wins_b"] == 9
    assert s["verdict"] == "no regression"


def test_a_gain_does_not_count_with_more_failed_ops():
    change = [p - 1.5 for p in PARENT]
    assert race.summarize(PASS_S, _pairs(PARENT, change), failed=(0, 0))["verdict"] == "gain"
    assert race.summarize(PASS_S, _pairs(PARENT, change), failed=(0, 1))["verdict"] != "gain"


def test_ties_count_for_neither_side():
    change = [p - 1.5 for p in PARENT[:8]] + PARENT[8:]
    s = race.summarize(PASS_S, _pairs(PARENT, change))
    assert (s["wins_b"], s["wins_a"]) == (8, 0)
    assert s["verdict"] != "gain"  # 8 wins and 2 ties are 8/10, not 8/8


def test_median_worse_by_more_than_the_bound_is_a_regression():
    change = [p * 1.3 for p in PARENT]
    assert race.summarize(PASS_S, _pairs(PARENT, change))["verdict"] == "regression"
    change = [p * 1.2 for p in PARENT]
    assert race.summarize(PASS_S, _pairs(PARENT, change))["verdict"] == "no regression"


def test_higher_is_better_metric_reads_the_other_way():
    ops = {"name": "ops", "unit": "count", "better": "higher", "bound": 0.25}
    assert race.summarize(ops, _pairs(PARENT, [p + 1.5 for p in PARENT]))["verdict"] == "gain"
    assert race.summarize(ops, _pairs(PARENT, [p * 0.7 for p in PARENT]))["verdict"] == "regression"


def test_parent_spread_wider_than_the_bound_is_unresolved():
    wide = [1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0, 2.0, 2.0, 2.0]  # IQR 1.0 over median 1.5
    s = race.summarize(PASS_S, _pairs(wide, list(wide)))
    assert s["verdict"] == "unresolved"
    # every change run beats every parent run: resolved although the spread is wide
    # (not a gain: the 0.955 median gap is inside the parent's 1.0 IQR)
    s = race.summarize(PASS_S, _pairs(wide, [0.5 + 0.01 * i for i in range(10)]))
    assert s["verdict"] == "no regression"


def test_fewer_than_ten_pairs_give_no_verdict():
    change = [p * 2 for p in PARENT[:9]]
    s = race.summarize(PASS_S, _pairs(PARENT[:9], change))
    assert s["n"] == 9 and s["verdict"] is None
    assert "no verdict" in race.format_row("w", PASS_S, s)


def test_quartiles_of_the_sides_are_reported():
    s = race.summarize(PASS_S, _pairs(PARENT, PARENT))
    q1, med, q3 = s["a"]
    assert med == pytest.approx(9.9) and q3 - q1 == pytest.approx(0.9)
    assert s["a"] == s["b"] and (s["wins_a"], s["wins_b"]) == (0, 0)


def test_parse_seeds():
    assert race.parse_seeds("51-60") == list(range(51, 61))
    assert race.parse_seeds("1,3,5-7") == [1, 3, 5, 6, 7]
    with pytest.raises(ValueError):
        race.parse_seeds("1-3,2")


def _git(repo, *args):
    return subprocess.run(["git", "-C", str(repo), *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def _commit(repo, files: dict[str, str]) -> str:
    for rel, text in files.items():
        path = repo / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text)
    _git(repo, "add", "-A")
    _git(repo, "-c", "user.name=t", "-c", "user.email=t@t", "commit", "-q", "-m", "c")
    return _git(repo, "rev-parse", "HEAD")


def test_a_benchmark_diff_between_the_revisions_is_refused(tmp_path):
    _git(tmp_path, "init", "-q")
    base = _commit(tmp_path, {"perfbench/run.py": "v1\n", "BENCHMARK.json": "{}\n", "pkg.py": "a\n"})
    program_only = _commit(tmp_path, {"pkg.py": "b\n"})
    race.check_same_benchmark(str(tmp_path), base, program_only)  # the program may differ
    race.check_same_benchmark(str(tmp_path), base, base)  # an A/A race
    bench_changed = _commit(tmp_path, {"perfbench/run.py": "v2\n"})
    with pytest.raises(SystemExit, match="refused"):
        race.check_same_benchmark(str(tmp_path), base, bench_changed)
    spec_changed = _commit(tmp_path, {"perfbench/run.py": "v1\n", "BENCHMARK.json": "{\"x\": 1}\n"})
    with pytest.raises(SystemExit, match="refused"):
        race.check_same_benchmark(str(tmp_path), base, spec_changed)


def test_worktrees_are_removed_after_an_error(tmp_path):
    _git(tmp_path, "init", "-q")
    rev = _commit(tmp_path, {"perfbench/run.py": "v1\n"})
    seen = []
    with pytest.raises(RuntimeError):
        with race.worktrees(str(tmp_path), [rev, rev]) as trees:
            seen = trees
            assert all(os.path.isfile(os.path.join(t, "perfbench", "run.py")) for t in trees)
            raise RuntimeError("run failed")
    assert seen and not any(os.path.exists(t) for t in seen)
    assert _git(tmp_path, "worktree", "list").count("\n") == 0  # the main tree only
