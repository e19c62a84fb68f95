"""Per-layer attribution for a traced benchmark run.

Two sources, both registered by the benchmark from outside the engine:

* an uncompressed, non-rolling Spark event log, parsed here into job,
  stage and task counters per *span*. A span is one timed call into the
  engine; the benchmark sets the job group ``<phase>|<op>|<step>|<part>``
  around it, so every job it launches carries the span's name. Jobs that
  run on other threads (streaming micro-batches) carry no benchmark
  group and are attributed by submission time instead.
* a ``StreamingQueryListener`` that keeps every ``QueryProgressEvent``'s
  batch id and ``durationMs`` breakdown.

``summarize`` folds both into the per-layer counters of a set of spans.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# stage-name callsites of eager materializations (llm lineage truncation)
_MATERIALIZE = ("localCheckpoint", "checkpoint")
# physical operators that run Python workers, as named in RDD scopes
_PYTHON_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
               "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "PythonRDD",
               "AggregateInPandas", "WindowInPandas")


@dataclass
class Span:
    group: str  # "<phase>|<op>|<step>|<build|exec>"
    start_ms: float
    end_ms: float

    @property
    def part(self) -> str:
        return self.group.rsplit("|", 1)[1]

    @property
    def step(self) -> str:
        return self.group.split("|")[2]


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: float
    execution: str | None = None  # SQL execution (root) id
    end_ms: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    stage_names: list[str] = field(default_factory=list)


def parse_event_log(path: str) -> dict:
    """Read an event log into ``{"jobs": {id: Job}, "stages": {...}, "tasks": [...]}``.

    ``stages`` maps stage id to ``{"python": bool}`` for submitted stages;
    ``tasks`` holds one dict per finished task.
    """
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                infos = ev.get("Stage Infos") or []
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit_ms=float(ev.get("Submission Time", 0)),
                    execution=props.get("spark.sql.execution.root.id") or props.get("spark.sql.execution.id"),
                    stage_ids=[s["Stage ID"] for s in infos],
                    stage_names=[s.get("Stage Name", "") for s in infos],
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = float(ev.get("Completion Time", 0))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                scopes = " ".join(r.get("Scope", "") + r.get("Name", "") for r in info.get("RDD Info", []))
                stages[info["Stage ID"]] = {"python": any(op in scopes for op in _PYTHON_OPS)}
            elif kind == "SparkListenerTaskEnd":
                info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
                sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "launch_ms": float(info.get("Launch Time", 0)),
                    "finish_ms": float(info.get("Finish Time", 0)),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _covered_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(log: dict, spans: list[Span]) -> dict[str, list[Job]]:
    """Map each span's group to the jobs it launched.

    A job whose group is not a benchmark span group is given to the span
    whose time window holds its submission.
    """
    by_group: dict[str, list[Job]] = {s.group: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s.start_ms)
    for job in log["jobs"].values():
        if job.group in by_group:
            by_group[job.group].append(job)
            continue
        for s in ordered:
            if s.start_ms <= job.submit_ms <= s.end_ms:
                by_group[s.group].append(job)
                break
    return by_group


LAYER_KEYS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "python_s", "idle_s",
    "build_jobs", "infer_jobs", "materialize_jobs", "materialize_s",
)


def summarize(log: dict, spans: list[Span]) -> dict[str, float]:
    """Sum the per-layer counters over ``spans`` (keys: ``LAYER_KEYS``).

    * ``idle_s`` -- wall time of ``exec`` spans with no task running.
    * ``build_jobs`` -- jobs the benchmark thread launched inside ``build``
      spans; of those, ``materialize_jobs`` are eager checkpoints and
      ``infer_jobs`` the rest (schema inference, file listing, footer
      probes). Micro-batch jobs of a stream drained there count only in
      ``jobs``.
    """
    by_group = attribute(log, spans)
    stage_job = {}
    for job in log["jobs"].values():
        for sid in job.stage_ids:
            stage_job.setdefault(sid, job.job_id)
    tasks_by_job: dict[int, list[dict]] = {}
    for t in log["tasks"]:
        jid = stage_job.get(t["stage"])
        if jid is not None:
            tasks_by_job.setdefault(jid, []).append(t)

    out = dict.fromkeys(LAYER_KEYS, 0.0)
    for span in spans:
        span_tasks = []
        # an eager checkpoint is one SQL execution: every job of it counts
        own = [j for j in by_group[span.group] if span.part == "build" and j.group == span.group]
        mat = {j.execution or j.job_id for j in own if any(n.startswith(_MATERIALIZE) for n in j.stage_names)}
        for key in mat:
            jobs = [j for j in own if (j.execution or j.job_id) == key]
            out["materialize_s"] += max(0.0, max(j.end_ms for j in jobs) - min(j.submit_ms for j in jobs)) / 1e3
        for job in by_group[span.group]:
            jt = tasks_by_job.get(job.job_id, [])
            span_tasks += jt
            out["jobs"] += 1
            out["stages"] += sum(1 for sid in job.stage_ids if sid in log["stages"])
            if job in own:
                out["build_jobs"] += 1
                if (job.execution or job.job_id) in mat:
                    out["materialize_jobs"] += 1
                else:
                    out["infer_jobs"] += 1
        for t in span_tasks:
            out["tasks"] += 1
            out["task_run_s"] += t["run_ms"] / 1e3
            out["task_cpu_s"] += t["cpu_ns"] / 1e9
            out["gc_s"] += t["gc_ms"] / 1e3
            out["shuffle_write_mb"] += t["shuffle_write"] / 1e6
            out["shuffle_read_mb"] += t["shuffle_read"] / 1e6
            out["spill_mb"] += t["spill"] / 1e6
            if log["stages"].get(t["stage"], {}).get("python"):
                out["python_s"] += t["run_ms"] / 1e3
        if span.part == "exec":
            covered = _covered_ms([(t["launch_ms"], t["finish_ms"]) for t in span_tasks],
                                  span.start_ms, span.end_ms)
            out["idle_s"] += max(0.0, span.end_ms - span.start_ms - covered) / 1e3
    return out


class ProgressRecorder:
    """Collects streaming progress; ``listener(spark)`` registers it."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                rec.events.append({"ts_ms": _iso_ms(p.timestamp), "batch": p.batchId,
                                   "duration_ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def summarize(self, spans: list[Span]) -> dict[str, float]:
        """Batch count and ``durationMs`` sums of progress inside ``spans``."""
        out = {"batches": 0.0, "trigger_ms": 0.0, "add_batch_ms": 0.0,
               "planning_ms": 0.0, "commit_ms": 0.0}
        for ev in self.events:
            if not any(s.start_ms <= ev["ts_ms"] <= s.end_ms for s in spans):
                continue
            d = ev["duration_ms"]
            out["batches"] += 1
            out["trigger_ms"] += d.get("triggerExecution", 0)
            out["add_batch_ms"] += d.get("addBatch", 0)
            out["planning_ms"] += d.get("queryPlanning", 0)
            out["commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
        return out


def _iso_ms(ts: str) -> float:
    """Progress timestamps are ISO-8601 UTC (``2024-01-01T00:00:00.000Z``)."""
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1e3
