"""The driver JVM's class-data-sharing archive (``session._cds_options``).

Every session here runs in a subprocess with ``SPARK_GRAFT_CDS_DIR`` set
to a private dir, so neither the user's cache nor this process's
environment is touched. A dumped archive is written by the JVM at exit,
after the Python process that started it may already be gone; the
fixture waits for the dumping JVM itself.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from data_engineering_capstone_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY = "SELECT sum(id) AS s, count(DISTINCT id % 7) AS k FROM range(100000)"

# prints the CDS options and SPARK_CONF_DIR the helper leaves behind
OPTIONS = """
import json, os
from data_engineering_capstone_spark import session
print("OUT " + json.dumps({"cds": session._cds_options(),
                           "conf": os.environ.get("SPARK_CONF_DIR")}))
"""

# runs one query; reports the JVM's input arguments, pid and mapped archives
SESSION = f"""
import json
from data_engineering_capstone_spark.session import get_spark
spark = get_spark("cds-test", master="local[2]",
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dcds.probe=kept"}})
jvm = spark.sparkContext._jvm
pid = jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{{pid}}/maps") as f:
    mapped = sorted({{l.split()[-1] for l in f if l.rstrip().endswith(".jsa")}})
print("OUT " + json.dumps({{
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "probe": jvm.System.getProperty("cds.probe"),
    "mapped": mapped,
    "rows": [list(r) for r in spark.sql({QUERY!r}).collect()],
}}))
"""


def _run(code: str, cds_dir, cwd=None, **env) -> dict:
    full = {k: v for k, v in os.environ.items() if k != "SPARK_CONF_DIR"}
    full.update(PYTHONPATH=ROOT, SPARK_GRAFT_CDS_DIR=str(cds_dir), **env)
    proc = subprocess.run([sys.executable, "-c", code], env=full, capture_output=True,
                          text=True, timeout=300, cwd=cwd)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("OUT "))
    return json.loads(line[4:])


def _key() -> str:
    return session._cds_key(session._launcher_java(), session._find_spark_home())


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A private cache after one session ran a query with no archive and
    its JVM finished dumping: the session's output, the dumping JVM's
    class path and the first 64 MB of the dumped archive."""
    cds_dir = tmp_path_factory.mktemp("cds")
    out = _run(SESSION, cds_dir)
    (record,) = [n for n in os.listdir(cds_dir) if n.endswith(".cp")]
    with open(cds_dir / record) as f:
        jvm_pid, classpath = f.read().split("\n")[:2]
    deadline = time.time() + 180
    while session._pid_alive(int(jvm_pid)):
        assert time.time() < deadline, "the dumping JVM did not exit"
        time.sleep(0.5)
    with open(cds_dir / (record[: -len(".cp")] + ".jsa.tmp"), "rb") as f:
        head = f.read(64 << 20)
    assert len(head) == 64 << 20
    return {"dir": cds_dir, "out": out, "classpath": classpath, "head": head}


def test_no_archive_dumps_to_pid_temp(tmp_path):
    out = _run(OPTIONS, tmp_path)
    opts, record = out["cds"]
    dump = [o for o in opts.split() if o.startswith("-XX:ArchiveClassesAtExit=")]
    (name,) = [d.split("=", 1)[1] for d in dump]
    key, pid, *_ = os.path.basename(name).split(".")
    assert name == str(tmp_path / f"{key}.{pid}.jsa.tmp") and pid.isdigit()
    assert record == str(tmp_path / f"{key}.{pid}.cp")
    assert "-Xlog:cds=off" in opts and "SharedArchiveFile" not in opts
    assert out["conf"] == str(tmp_path / "conf") and os.listdir(out["conf"]) == []


def test_caller_conf_dir_disables_the_archive(tmp_path):
    own = tmp_path / "own_conf"
    own.mkdir()
    out = _run(OPTIONS, tmp_path / "cds", SPARK_CONF_DIR=str(own))
    assert out == {"cds": None, "conf": str(own)}


def test_conf_file_in_spark_home_disables_the_archive(tmp_path):
    home = tmp_path / "spark_home"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "conf" / "spark-defaults.conf").write_text("spark.master local[1]\n")
    out = _run(OPTIONS, tmp_path / "cds", SPARK_HOME=str(home))
    assert out == {"cds": None, "conf": None}
    assert not (tmp_path / "cds").exists()


def test_truncated_dump_is_dropped_at_the_promotion_gate(dumped, tmp_path):
    """A truncated archive at the mapped name aborts the JVM (SIGBUS) even
    under ``-Xshare:auto``, so it is not launched here: the check is that
    the validation run before the rename rejects it, and that the temp
    archive of a live process is left alone. The crashing validation
    run leaves no crash report in the working directory."""
    key, dead, live = _key(), _dead_pid(), os.getpid()
    cds_dir, cwd = tmp_path / "cds", tmp_path / "cwd"
    cds_dir.mkdir()
    cwd.mkdir()
    for pid in (dead, live):
        (cds_dir / f"{key}.{pid}.jsa.tmp").write_bytes(dumped["head"])
        (cds_dir / f"{key}.{pid}.cp").write_text(f"{_dead_pid()}\n{dumped['classpath']}\n")
    out = _run(OPTIONS, cds_dir, cwd=cwd)
    assert "-XX:ArchiveClassesAtExit=" in out["cds"][0]
    assert sorted(os.listdir(cds_dir)) == sorted(
        ["conf", f"{key}.{live}.jsa.tmp", f"{key}.{live}.cp"])
    assert os.listdir(cwd) == []


def test_dumped_archive_is_validated_published_and_mapped(dumped):
    cds_dir, first = dumped["dir"], dumped["out"]
    second = _run(SESSION, cds_dir)
    archive = str(cds_dir / f"{_key()}.jsa")
    assert sorted(os.listdir(cds_dir)) == sorted([os.path.basename(archive), "conf"])
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert archive in second["mapped"]
    assert not any(a.startswith("-XX:ArchiveClassesAtExit") for a in second["args"])
    assert first["probe"] == second["probe"] == "kept"
    assert second["rows"] == first["rows"] == [[4999950000, 7]]


def test_archive_from_another_class_path_still_runs(tmp_path):
    """An archive dumped on another class path is refused by the JVM,
    which then runs without it."""
    archive = tmp_path / f"{_key()}.jsa"
    jars = os.path.join(session._find_spark_home(), "jars")
    subprocess.run([session._launcher_java(), f"-XX:ArchiveClassesAtExit={archive}",
                    "-cp", os.path.join(jars, sorted(os.listdir(jars))[0]), "-version"],
                   check=True, capture_output=True, timeout=120)
    out = _run(SESSION, tmp_path)
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]
    assert out["rows"] == [[4999950000, 7]] and out["probe"] == "kept"
