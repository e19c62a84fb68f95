"""Race two git revisions through the repository benchmark, in pairs.

    python tools/race.py REV_A REV_B --workload i94_star_etl --seeds 51-60
    python tools/race.py HEAD HEAD --workload catalog_mix --seeds 1-10   # A/A

REV_A is the parent, REV_B the change. Each revision is checked out with
``git worktree add --detach`` under a temporary directory (``$TMPDIR``),
and every worktree is removed and pruned on exit, after an error or
Ctrl-C too. Both revisions must hold the same ``perfbench/`` and
``BENCHMARK.json``: a comparison is only fair with identical benchmark
code on both sides, so a race between revisions that differ there is
refused.

For each seed, each worktree's own benchmark command (``command`` of
``BENCHMARK.json``) runs from that worktree's root with ``--workload W
--seed S --seconds <run_seconds> --trace 0``; which side runs first
alternates from seed to seed. Each run's result is printed as one JSON
line on stdout as soon as it ends, so an interrupted race keeps what it
measured; the benchmark's own log goes to stderr.

At the end one row per end-to-end metric of ``BENCHMARK.json`` gives
each side's median and quartiles, the win count over the seed pairs
(ties count for neither side) and a verdict, followed by each side's
``attempted``/``failed`` op totals:

* ``gain``: the change wins at least 9/10 of the pairs, fails no more
  ops than the parent, and its median is better by more than the
  parent's IQR;
* ``regression``: the change's median is worse than the parent's by
  more than the metric's ``bound`` (a fraction of the parent's median);
* ``unresolved``: the parent's IQR is wider than the bound and not
  every change run beats every parent run;
* ``no regression`` otherwise.

With fewer than 10 pairs no verdict is given. Quartiles are linearly
interpolated between the sorted runs (``statistics.quantiles``'
inclusive method, numpy's default).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_PATHS = ("perfbench", "BENCHMARK.json")
MIN_PAIRS = 10


def git(repo: str, *args: str) -> str:
    return subprocess.run(["git", "-C", repo, *args], check=True, capture_output=True,
                          text=True).stdout.strip()


def parse_seeds(text: str) -> list[int]:
    """``51-60`` or ``1,3,5-7`` to a list of seeds, in order."""
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    if not seeds or len(set(seeds)) < len(seeds):
        raise ValueError(f"no seeds, or a seed twice, in {text!r}")
    return seeds


def check_same_benchmark(repo: str, rev_a: str, rev_b: str) -> None:
    """Raise ``SystemExit`` unless both revisions hold the same benchmark files."""
    rc = subprocess.run(["git", "-C", repo, "diff", "--quiet", rev_a, rev_b, "--", *BENCH_PATHS]).returncode
    if rc == 1:
        raise SystemExit(f"refused: {rev_a} and {rev_b} differ in {' or '.join(BENCH_PATHS)}; "
                         "a race needs identical benchmark code on both sides")
    if rc != 0:
        raise SystemExit(f"git diff {rev_a} {rev_b} failed (exit {rc})")


@contextlib.contextmanager
def worktrees(repo: str, revs: list[str]):
    """Yield one detached worktree directory per revision; remove them all on exit."""
    base = tempfile.mkdtemp(prefix="race-")
    made: list[str] = []
    try:
        for i, rev in enumerate(revs):
            path = os.path.join(base, str(i))
            git(repo, "worktree", "add", "--detach", "--quiet", path, rev)
            made.append(path)
        yield made
    finally:
        for path in made:
            subprocess.run(["git", "-C", repo, "worktree", "remove", "--force", path],
                           capture_output=True)
        shutil.rmtree(base, ignore_errors=True)
        subprocess.run(["git", "-C", repo, "worktree", "prune"], capture_output=True)


def run_benchmark(tree: str, command: list[str], workload: str, seed: int, seconds: float) -> dict | None:
    """One benchmark run in ``tree``; its JSON result, or None if it gave none.

    The run gets its own process group, so an interrupt of the race kills
    it together with the JVM and workers it started."""
    cmd = [*command, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    proc = subprocess.Popen(cmd, cwd=tree, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate()
    except BaseException:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    lines = out.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(metric: dict, pairs: list[tuple[float, float]], failed: tuple[int, int] = (0, 0)) -> dict:
    """Medians, quartiles, wins and verdict of one metric over (parent, change) pairs.

    ``metric`` is an ``end_to_end`` entry of BENCHMARK.json (``name``,
    ``better``, ``bound``); ``failed`` is each side's failed-op total."""
    sign = 1.0 if metric["better"] == "lower" else -1.0  # sign * (b - a) < 0: b is better
    a = sorted(p[0] for p in pairs)
    b = sorted(p[1] for p in pairs)
    wins_b = sum(sign * (vb - va) < 0 for va, vb in pairs)
    wins_a = sum(sign * (vb - va) > 0 for va, vb in pairs)
    out = {"metric": metric["name"], "n": len(pairs), "wins_a": wins_a, "wins_b": wins_b,
           "a": quartiles(a) if a else None, "b": quartiles(b) if b else None, "verdict": None}
    if len(pairs) < MIN_PAIRS:
        return out
    (a1, am, a3), (_, bm, _) = out["a"], out["b"]
    gap = sign * (bm - am)  # < 0: the change's median is better
    if 10 * wins_b >= 9 * len(pairs) and -gap > a3 - a1 and failed[1] <= failed[0]:
        out["verdict"] = "gain"
    elif gap > metric["bound"] * abs(am):
        out["verdict"] = "regression"
    elif a3 - a1 > metric["bound"] * abs(am) and not all(sign * (vb - va) < 0 for va in a for vb in b):
        out["verdict"] = "unresolved"
    else:
        out["verdict"] = "no regression"
    return out


def format_row(workload: str, metric: dict, s: dict) -> str:
    unit = metric.get("unit", "")
    if not s["n"]:
        return f"`{workload}` `{s['metric']}`: no pairs"
    (a1, am, a3), (b1, bm, b3) = s["a"], s["b"]
    change = f"{(bm - am) / am:+.1%}" if am else "n/a"
    return (f"`{workload}` `{s['metric']}` {am:.4g} → {bm:.4g} {unit} median ({change}); "
            f"quartiles {a1:.4g}–{a3:.4g} → {b1:.4g}–{b3:.4g} {unit}; parent IQR {a3 - a1:.3g} {unit}; "
            f"{s['wins_b']}/{s['n']} wins (parent {s['wins_a']}/{s['n']}): "
            f"{s['verdict'] or f'no verdict (fewer than {MIN_PAIRS} pairs)'}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("rev_a", help="parent revision")
    ap.add_argument("rev_b", help="change revision")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds, help="e.g. 51-60 or 1,3,5-7")
    args = ap.parse_args()

    revs = []
    for rev in (args.rev_a, args.rev_b):
        try:
            revs.append(git(ROOT, "rev-parse", "--verify", "--quiet", f"{rev}^{{commit}}"))
        except subprocess.CalledProcessError:
            raise SystemExit(f"unknown revision {rev!r}") from None
    check_same_benchmark(ROOT, *revs)
    spec = json.loads(git(ROOT, "show", f"{revs[0]}:BENCHMARK.json"))
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")

    results: dict[tuple[int, int], dict | None] = {}
    with worktrees(ROOT, revs) as trees:
        for i, seed in enumerate(args.seeds):
            for side in ((0, 1) if i % 2 == 0 else (1, 0)):
                res = run_benchmark(trees[side], spec["command"], args.workload, seed, spec["run_seconds"])
                results[seed, side] = res
                print(json.dumps({"workload": args.workload, "seed": seed, "side": "AB"[side],
                                  "rev": revs[side], "result": res}), flush=True)

    # a run that gave no result counts as one attempted and failed op, as in perfbench
    runs = [[r for (_, s), r in results.items() if s == side] for side in (0, 1)]
    attempted = [sum(r["attempted"] if r else 1 for r in rs) for rs in runs]
    failed = [sum(r["failed"] if r else 1 for r in rs) for rs in runs]
    for metric in spec["end_to_end"]:
        name = metric["name"]
        pairs = [(results[seed, 0]["metrics"][name]["value"], results[seed, 1]["metrics"][name]["value"])
                 for seed in args.seeds
                 if all(results[seed, s] and name in results[seed, s]["metrics"] for s in (0, 1))]
        print(format_row(args.workload, metric, summarize(metric, pairs, tuple(failed))))
    print(f"`{args.workload}` attempted/failed: A {revs[0][:7]} {attempted[0]}/{failed[0]}, "
          f"B {revs[1][:7]} {attempted[1]}/{failed[1]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
