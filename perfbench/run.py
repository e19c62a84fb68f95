"""Repository benchmark: one workload, one seed, a closed loop for N seconds.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. A run makes the inputs and starts a
fresh worker process. The worker builds a ``local[nproc]`` session with
the package's ``session.get_spark``, imports the package and runs the
cold warm-up ops -- its set-up, ``setup_s``, timed from the process
start -- and then one client runs whole rounds of ops (``work.py``), one
op at a time: the rounds that start within ``--seconds``, and at least
``MIN_ROUNDS``. ``pass_s`` and ``query_gmean_s`` come from each step's
median over the timed rounds. Every op's output is checked. The last
stdout line is the JSON result: the end-to-end metrics, or with
``--trace 1`` the per-layer metrics of a traced worker (event log, job
groups, streaming listener) and its overhead against an untraced worker
run just before it with the same seed. See README.md.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.1")
PACKAGE = "data_engineering_capstone_spark"

sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import layers  # noqa: E402
import work  # noqa: E402

WORKLOADS = ("catalog_mix", "i94_star_etl")
I94_ROWS = 50_000
MIN_ROUNDS = 3  # timed rounds of an untraced run, at the least
TRACE_ROUNDS = 1  # the same for each of the two workers of a traced run
DEADLINE_S = 165  # a run ends within this, whatever its workers do


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak RSS of this process and all its descendants, from /proc."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period, self.peak_kb, self._halt = period, 0, threading.Event()

    def run(self) -> None:
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        while not self._halt.wait(self.period):
            total = 0
            for pid in [os.getpid(), *descendants(os.getpid())]:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * page_kb
                except OSError:
                    pass
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(tree: list[int]) -> None:
    """Wait up to 30 s for ``tree`` to exit, then kill what is left."""
    deadline = time.time() + 30
    while any(_alive(p) for p in tree) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, tree):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process it
    started (JVM, Python workers) has ended."""
    tree = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _reap(tree + descendants(os.getpid()))


# ---------------------------------------------------------------- inputs


def input_dir(workload: str) -> str:
    return DATA if workload == "catalog_mix" else os.path.join(WORK, "inputs", workload)


def prepare_inputs(workload: str, seed: int) -> dict:
    """Describe the catalog tables, or generate the I94 inputs for ``seed``.

    Returns ``{"rows", "bytes", "gen_s"}`` (plus ``expected`` for I94);
    workers read it back from ``_meta.json`` in the I94 input directory.
    """
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    if workload == "catalog_mix":
        files = sorted(glob.glob(os.path.join(DATA, "*.parquet")))
        return {"rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                "bytes": sum(os.path.getsize(f) for f in files), "gen_s": 0.0}
    import gen

    out = input_dir(workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    exp = gen.i94_inputs(out, seed, I94_ROWS)
    meta = {"rows": exp["rows"], "bytes": exp["input_bytes"], "expected": exp,
            "gen_s": time.perf_counter() - t0}
    with open(os.path.join(out, "_meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def read_meta(workload: str) -> dict:
    if workload == "catalog_mix":
        return prepare_inputs(workload, 0)
    with open(os.path.join(input_dir(workload), "_meta.json")) as f:
        return json.load(f)


def prepare_env() -> None:
    """Child processes (JVM, Python workers) see the package and our scratch."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in dict.fromkeys((ROOT, *os.environ.get("PYTHONPATH", "").split(os.pathsep))) if p)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    # every JVM (the spark-submit launcher too) would write /tmp/hsperfdata_*
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    if "-XX:+PerfDisableSharedMem" not in opts:
        os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -XX:+PerfDisableSharedMem".strip()


def session_conf(trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                                         f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# --------------------------------------------------------------- worker


@dataclass
class Timing:
    build_s: float
    exec_s: float
    digest: tuple


def run_op(wk, spark, seed: int, op: int, phase: str, spans: list | None) -> dict[str, Timing]:
    """One op; returns per-step timings and digests (raises on error)."""
    steps = {}
    for step in wk.order(seed, op):
        marks, out = [time.time()], None
        for part in ("build", "exec"):
            if spans is not None:
                spark.sparkContext.setJobGroup(f"{phase}|{op}|{step}|{part}", step)
            out = wk.build(step) if part == "build" else wk.execute(step, out)
            marks.append(time.time())
            if spans is not None:
                spans.append(layers.Span(f"{phase}|{op}|{step}|{part}", marks[-2] * 1e3, marks[-1] * 1e3))
        steps[step] = Timing(marks[1] - marks[0], marks[2] - marks[1], out)
    if spans is not None:
        spark.sparkContext.setJobGroup("bench|idle", "idle")
    return steps


def measure(args, spark, wk, spans: list | None) -> dict:
    """Warm up, then time the rounds that start within ``args.seconds``
    (at least ``args.rounds``), each to its end, so every step has the
    same number of samples."""
    digests: dict[str, set] = {}
    failures: dict[int, str] = {}

    def one(op: int, phase: str) -> dict | None:
        try:
            steps = run_op(wk, spark, args.seed, op, phase, spans)
        except Exception as exc:  # noqa: BLE001
            failures[op] = f"{type(exc).__name__}: {exc}"[:300]
            log(f"op {op} raised: {traceback.format_exc(limit=3)}")
            return None
        log(f"{phase} op {op}: " + " ".join(f"{s}={tm.build_s:.2f}+{tm.exec_s:.2f}" for s, tm in steps.items()))
        for s, tm in steps.items():
            digests.setdefault(s, set()).add(tm.digest)
        bad = wk.check_op({s: tm.digest for s, tm in steps.items()})
        if bad:
            failures[op] = bad
        return steps

    t = time.perf_counter()
    for op in range(wk.warmup_ops):
        one(op, "warm")
    first = time.perf_counter()
    timed: dict[int, dict] = {}
    op_s: dict[int, float] = {}
    op = wk.warmup_ops
    while (time.perf_counter() - first < args.seconds or op % wk.round_ops
           or len(op_s) < args.rounds * wk.round_ops):
        t_op = time.perf_counter()
        steps = one(op, "timed")
        op_s[op] = time.perf_counter() - t_op
        if steps is not None:
            timed[op] = steps
        op += 1
    return {"warmup_s": first - t, "first_op": first, "window_s": time.perf_counter() - first,
            "timed": timed, "op_s": op_s, "failures": failures, "digests": digests}


def worker(args) -> int:
    """One fresh process: set up, time rounds, check; write the result file."""
    meta = read_meta(args.workload)
    prepare_env()
    if args.trace:
        for path in glob.glob(os.path.join(WORK, "eventlog", "*")):
            os.remove(path)
    out_dir = os.path.join(WORK, "out", args.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    rss = RssSampler()
    rss.start()

    t = time.perf_counter()
    from data_engineering_capstone_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}", extra_conf=session_conf(args.trace))
    setup = {"session_s": time.perf_counter() - t}
    recorder = layers.ProgressRecorder() if args.trace else None
    spans: list | None = [] if args.trace else None
    try:
        if recorder:
            spark.streams.addListener(recorder.listener())
        t = time.perf_counter()
        in_dir = input_dir(args.workload)
        wk = (work.CatalogWork(spark, in_dir) if args.workload == "catalog_mix"
              else work.I94Work(spark, in_dir, meta, out_dir))
        setup["import_s"] = time.perf_counter() - t
        m = measure(args, spark, wk, spans)
        problems = wk.verify(m["digests"])
        master, cpus = spark.sparkContext.master, spark.sparkContext.defaultParallelism
    finally:
        rss.stop()
        stop_spark(spark)

    failures = m["failures"]
    for o in m["op_s"]:
        if problems and o not in failures:
            failures[o] = "; ".join(f"{k}: {v}" for k, v in problems.items())
    for o, why in sorted(failures.items()):
        log(f"op {o} failed: {why}")
    result = {
        "setup_s": m["first_op"] - T0,
        "ops": len(m["op_s"]),
        "failed": sum(1 for o in m["op_s"] if o in failures),
        "op_s": list(m["op_s"].values()),
        "window_s": m["window_s"],
        "steps": [{s: tm.build_s + tm.exec_s for s, tm in st.items()} for st in m["timed"].values()],
        "digests": {s: sorted(json.dumps(d, default=str) for d in ds) for s, ds in m["digests"].items()},
        "master": master, "cpus": cpus,
    }
    if args.trace:
        setup.update(warmup_s=m["warmup_s"], gen_s=meta["gen_s"])
        result["layers"] = layer_metrics(m["timed"], len(m["timed"]) / wk.round_ops, spans, recorder,
                                         meta, out_dir, setup, rss.peak_kb / 1024)
    shutil.rmtree(out_dir, ignore_errors=True)
    with open(args.worker + ".tmp", "w") as f:
        json.dump(result, f)
    os.replace(args.worker + ".tmp", args.worker)
    return 0


def layer_metrics(timed: dict, rounds: float, spans: list, recorder, meta: dict, out_dir: str,
                  setup: dict, peak_rss_mb: float) -> dict:
    """Per-layer metrics: means per timed round (per execution for ``<query>.*``).

    Runs after the session stopped, which flushed and closed the event log."""
    (path,) = glob.glob(os.path.join(WORK, "eventlog", "*"))
    ev = layers.parse_event_log(path)
    timed_spans = [s for s in spans if s.group.startswith("timed|") and int(s.group.split("|")[1]) in timed]

    def per_op(step_names=None) -> dict:
        sel = [s for s in timed_spans if step_names is None or s.step in step_names]
        return {k: v / rounds for k, v in layers.summarize(ev, sel).items()}

    def step_mean(names, part=None) -> float:
        return sum(getattr(st[s], f"{p}_s") for st in timed.values() for s in names if s in st
                   for p in ((part,) if part else ("build", "exec"))) / rounds

    every, catalog = per_op(), per_op(set(work.CATALOG_QUERIES + work.LLM_QUERIES))
    llm, quality = per_op(set(work.LLM_QUERIES)), per_op({"etl_quality"})
    written = [f for f in glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
               if os.path.isfile(f)]
    out_bytes = sum(os.path.getsize(f) for f in written)
    m = {
        "queries.build_s": step_mean(work.CATALOG_QUERIES + work.LLM_QUERIES, "build"),
        "queries.build_jobs": catalog["build_jobs"],
        "sources.infer_jobs": catalog["infer_jobs"],
        "llm.materialize_jobs": llm["materialize_jobs"],
        "llm.materialize_s": llm["materialize_s"],
        "sources.write_s": step_mean(("etl_fact", "etl_dims_rollup"), "exec"),
        "sources.files_written": float(len(written)),
        "sources.bytes_written_mb": out_bytes / 1e6,
        "sources.bytes_out_per_in": out_bytes / meta["bytes"],
        "etl.labels_s": step_mean(("etl_labels",)),
        "etl.build_s": step_mean(work.I94_STEPS, "build"),
        "etl.quality_s": step_mean(("etl_quality",)),
        "etl.quality_jobs": quality["jobs"],
        "spark.idle_s": every["idle_s"],
        "spark.python_s": every["python_s"],
    }
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"spark.{k}"] = every[k]
    for k, v in recorder.summarize(timed_spans).items():
        m[f"streaming.{k}"] = v / rounds
    m["mem.peak_rss_mb"] = peak_rss_mb
    m.update({f"setup.{k}": v for k, v in setup.items()})
    for q in work.CATALOG_QUERIES + work.LLM_QUERIES:
        runs = [st[q] for st in timed.values() if q in st]
        m[f"{q}.build_s"] = statistics.fmean(t.build_s for t in runs) if runs else 0.0
        m[f"{q}.exec_s"] = statistics.fmean(t.exec_s for t in runs) if runs else 0.0
    units = {"_s": "s", "_mb": "MB", "_ms": "ms", "_per_in": "ratio"}
    return {k: (v, next((u for sfx, u in units.items() if k.endswith(sfx)), "count")) for k, v in m.items()}


# --------------------------------------------------------------- parent


def spawn(args, index: int, trace: int, seconds: float, rounds: int, deadline: float) -> dict | None:
    """Run one worker process to its end; return its result, or None if it
    failed, timed out (its process tree is then killed) or had no time."""
    out = os.path.join(WORK, f"worker-{index}.json")
    if os.path.exists(out):
        os.remove(out)
    budget = deadline - time.perf_counter()
    if budget < 10:
        log(f"worker {index}: no time left")
        return None
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(seconds), "--trace", str(trace),
           "--rounds", str(rounds), "--worker", out]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=ROOT)
    try:
        rc = proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        tree = descendants(proc.pid)
        proc.kill()
        proc.wait()
        _reap(tree)
        log(f"worker {index}: timed out after {budget:.0f} s")
        return None
    if rc != 0 or not os.path.isfile(out):
        log(f"worker {index}: exit code {rc}, no result")
        return None
    with open(out) as f:
        return json.load(f)


def pass_metrics(result: dict) -> tuple[float, float]:
    """(pass_s, query_gmean_s) from each step's median over a worker's timed rounds."""
    per_step: dict[str, list[float]] = {}
    for steps in result["steps"]:
        for s, v in steps.items():
            per_step.setdefault(s, []).append(v)
    medians = [statistics.median(v) for v in per_step.values()]
    return sum(medians), math.exp(statistics.fmean(math.log(v) for v in medians))


def parent(args) -> int:
    deadline = T0 + DEADLINE_S
    load_start = os.getloadavg()[0]
    meta = prepare_inputs(args.workload, args.seed)
    prepare_env()
    # traced: an untraced worker, then a traced one, both with this seed
    if args.trace:
        plan, share, rounds = [(0, 0), (1, 1)], args.seconds / 2, TRACE_ROUNDS
    else:
        plan, share, rounds = [(0, 0)], args.seconds, MIN_ROUNDS
    results = [spawn(args, i, t, share, rounds, deadline) for i, t in plan]
    done = [r for r in results if r is not None]

    attempted = sum(r["ops"] for r in done) + len(results) - len(done)
    failed = sum(r["failed"] for r in done) + len(results) - len(done)
    for step in {s for r in done for s in r["digests"]}:
        seen = {d for r in done for d in r["digests"].get(step, ())}
        if len(seen) > 1:
            log(f"{step}: output differs across workers: {sorted(seen)[:2]}")
            failed = attempted
    op_s = [v for r in done for v in r["op_s"]]
    log("run " + json.dumps({
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "master": done[0]["master"] if done else None, "cpus": done[0]["cpus"] if done else None,
        "input_rows": meta["rows"], "input_bytes": meta["bytes"],
        "load1_start": round(load_start, 2), "load1_end": round(os.getloadavg()[0], 2),
        "workers": len(results), "ops": attempted,
        "op_p50_s": round(statistics.median(op_s), 3) if op_s else None,
        "setups_s": [round(r["setup_s"], 3) for r in done],
    }))

    # a worker without one completed op has no timings
    timed = [r if r is not None and r["steps"] else None for r in results]
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace and timed[1] is not None:
        untraced, traced = timed
        metrics = {k: tuple(v) for k, v in traced["layers"].items()}
        if untraced is not None:
            tp, up = pass_metrics(traced)[0], pass_metrics(untraced)[0]
            metrics["trace.pass_s"] = (tp, "s")
            metrics["trace.untraced_pass_s"] = (up, "s")
            metrics["trace.overhead_frac"] = (tp / up - 1, "ratio")
    elif not args.trace and timed[0] is not None:
        pass_s, gmean_s = pass_metrics(timed[0])
        metrics = {
            "setup_s": (timed[0]["setup_s"], "s"),
            "pass_s": (pass_s, "s"),
            "query_gmean_s": (gmean_s, "s"),
        }
    for k, (v, u) in metrics.items():
        log(f"{k:<40} {v:>14.6g} {u}")
    print(json.dumps({
        "correct": failed == 0 and bool(metrics), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--worker", help=argparse.SUPPRESS)  # result file of a worker process
    ap.add_argument("--rounds", type=int, default=1, help=argparse.SUPPRESS)
    args = ap.parse_args()
    for need in (os.path.join(ROOT, PACKAGE, "__init__.py"), os.path.join(ROOT, "tools", "parity.py")):
        if not os.path.isfile(need):
            log(f"missing {os.path.relpath(need, ROOT)}: run from a checkout of the repository")
            return 2
    os.makedirs(WORK, exist_ok=True)
    return worker(args) if args.worker else parent(args)


if __name__ == "__main__":
    raise SystemExit(main())
