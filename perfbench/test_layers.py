"""Pins the event-log parser's output schema and arithmetic.

    python3 -m pytest perfbench/test_layers.py -q

The first test feeds a small hand-built event log; the second has Spark
write a real one (skipped when pyspark cannot start a session).
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers  # noqa: E402


def _events() -> list[dict]:
    def job(jid, group, t, stages, names):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
                "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in zip(stages, names)],
                "Properties": {"spark.jobGroup.id": group} if group else {}}

    def task(stage, launch, finish, run_ms, **extra):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1_000_000,
                                 "JVM GC Time": 1, "Disk Bytes Spilled": extra.get("spill", 0),
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": extra.get("sw", 0)},
                                 "Shuffle Read Metrics": {"Remote Bytes Read": extra.get("sr", 0),
                                                          "Local Bytes Read": 0}}}

    def stage_done(sid, scope):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "RDD Info": [{"Scope": scope, "Name": "x"}]}}

    return [
        # build span: one footer probe and one eager checkpoint
        job(0, "timed|1|q|build", 1000, [0], ["parquet at NativeMethodAccessorImpl.java:0"]),
        stage_done(0, '{"name":"Scan parquet"}'),
        task(0, 1010, 1050, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1060},
        job(1, "timed|1|q|build", 1100, [1], ["localCheckpoint at NativeMethodAccessorImpl.java:0"]),
        stage_done(1, '{"name":"ArrowEvalPython"}'),
        task(1, 1110, 1300, 190),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1350},
        # exec span [2000, 3000]: tasks cover [2100, 2600] -> 500 ms idle
        job(2, "timed|1|q|exec", 2000, [2, 3], ["save at x", "save at x"]),
        stage_done(2, '{"name":"Exchange"}'),
        stage_done(3, '{"name":"HashAggregate"}'),
        task(2, 2100, 2400, 300, sw=2_000_000),
        task(2, 2200, 2500, 300, sw=1_000_000),
        task(3, 2450, 2600, 150, sr=3_000_000, spill=500_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2990},
        # a streaming micro-batch job: no benchmark group, inside the exec span
        job(3, "9f1c-run-id", 2650, [4], ["start at x"]),
        stage_done(4, '{"name":"StateStoreSave"}'),
        task(4, 2700, 2800, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 2850},
        # outside every span (warm-up): ignored
        job(4, "warm|0|q|exec", 500, [5], ["save at x"]),
        task(5, 510, 520, 10),
    ]


def test_summarize_schema_and_values(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in _events()) + "\n")
    log = layers.parse_event_log(str(path))
    spans = [layers.Span("timed|1|q|build", 1000, 2000), layers.Span("timed|1|q|exec", 2000, 3000)]
    out = layers.summarize(log, spans)

    assert tuple(out) == layers.LAYER_KEYS
    assert out["jobs"] == 4 and out["build_jobs"] == 2
    assert out["infer_jobs"] == 1 and out["materialize_jobs"] == 1
    assert out["materialize_s"] == pytest.approx(0.25)
    assert out["stages"] == 5 and out["tasks"] == 6
    assert out["task_run_s"] == pytest.approx(1.08)
    assert out["task_cpu_s"] == pytest.approx(1.08)
    assert out["python_s"] == pytest.approx(0.19)
    assert out["shuffle_write_mb"] == pytest.approx(3.0)
    assert out["shuffle_read_mb"] == pytest.approx(3.0)
    assert out["spill_mb"] == pytest.approx(0.5)
    # exec span 1000 ms, tasks cover [2100, 2600] and [2700, 2800]
    assert out["idle_s"] == pytest.approx(0.4)


def test_real_event_log_parses(tmp_path):
    """Spark writes the log in a child process: a session already open in
    this one would ignore the event-log settings."""
    pytest.importorskip("pyspark")
    import subprocess

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    code = f"""
import json, time
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]").appName("layers-test")
         .config("spark.ui.enabled", "false")
         .config("spark.eventLog.enabled", "true")
         .config("spark.eventLog.dir", "file://{log_dir}")
         .config("spark.eventLog.compress", "false")
         .config("spark.eventLog.rolling.enabled", "false")
         .getOrCreate())
t0 = time.time() * 1e3
spark.sparkContext.setJobGroup("timed|1|t|exec", "t")
spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
t1 = time.time() * 1e3
spark.stop()
print(json.dumps([t0, t1]))
"""
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        pytest.skip(f"no Spark session: {proc.stderr[-500:]}")
    t0, t1 = json.loads(proc.stdout.strip().splitlines()[-1])
    (path,) = glob.glob(os.path.join(str(log_dir), "*"))
    out = layers.summarize(layers.parse_event_log(path), [layers.Span("timed|1|t|exec", t0, t1)])
    assert tuple(out) == layers.LAYER_KEYS
    assert out["jobs"] >= 1 and out["tasks"] >= 2 and out["stages"] >= 1
    assert out["task_run_s"] > 0 and out["shuffle_write_mb"] > 0
    assert 0 <= out["idle_s"] <= (t1 - t0) / 1e3
