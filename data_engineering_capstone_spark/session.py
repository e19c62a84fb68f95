"""SparkSession factory with scale-aware defaults.

The reference creates its session implicitly through Livy on an ephemeral
EMR cluster (reference: dags/libs/lib.py:135-145, dags/libs/lib.py:52-96).
Here the session is an in-process ``SparkSession`` and every cluster-level
concern becomes a Spark conf:

* AQE on: runtime partition coalescing + skew-join splitting replaces any
  hand-tuned partition counts at 100 TB.
* ``spark.sql.shuffle.partitions`` defaults to the local core count for
  tests; on a real cluster set it ~2-3x total executor cores (or rely on
  AQE's coalescing with a high initial value).
* UTC session timezone so timestamp semantics match ANSI-SQL oracles.
* Arrow enabled so Pandas-UDF operators (LLM tier) use vectorized transfer.
* A codegen cache that holds a long-lived session's working set of
  generated classes, so a warm query reuses them instead of
  recompiling them with Janino.

Scratch files (format round trips, sinks, stream snapshots) all live under
``scratch_dir``: the reference's S3 is reachable from the driver and every
executor, and the one local equivalent is the tempdir of a ``local[N]`` or
``local-cluster`` master.

The driver JVM starts from a class-data-sharing archive (JDK dynamic
AppCDS) kept in ``$SPARK_GRAFT_CDS_DIR``, by default
``${XDG_CACHE_HOME:-~/.cache}/dec_spark/cds``; an empty value turns it
off. The archive is keyed by the launcher's ``java``, the jars of
``$SPARK_HOME/jars`` and the PySpark version. A JVM started while it is
absent dumps its loaded classes to a pid-named temp file at exit; the
next session runs the JVM once against that file with
``-XX:+VerifySharedSpaces`` and the recorded class path, and only then
renames it to the name the driver maps (a truncated archive aborts the
JVM, even under ``-Xshare:auto``). Later JVMs map Spark's classes
instead of parsing and verifying them. The JDK dumps nothing while a
non-empty directory is on the class path, so the archive is used only
when ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing
but templates; ``SPARK_CONF_DIR`` then points at an empty dir of the
cache.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the process whose scratch root has been reset and registered for removal
_SCRATCH_PID: int | None = None


def get_spark(
    app_name: str = "data_engineering_capstone_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Respect advisoryPartitionSizeInBytes when coalescing instead of
        # preserving parallelism — the tuning-guide recommendation: small
        # shuffles collapse to few tasks (measured ~11% off the headline
        # set locally), large ones still split by size.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: sizes the JVM-wide cache of compiled generated classes.
        # Guava splits the default 100 over 4 segments, and the 97
        # distinct classes of one round of the four catalog_mix queries
        # (sf0.1, one session) evicted each other: each warm round
        # recompiled 32-49 of them with Janino. At 2000 it compiled 0.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    cds = _cds_options() if SparkContext._gateway is None else None
    if cds:
        builder = builder.config("spark.driver.defaultJavaOptions", cds[0])
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if cds and cds[1]:
        # the dumping JVM's own pid and class path, for the validation run
        jvm = spark.sparkContext._jvm
        try:
            with open(cds[1], "w") as f:
                f.write(f"{jvm.java.lang.ProcessHandle.current().pid()}\n"
                        f"{jvm.System.getProperty('java.class.path')}\n")
        except OSError:
            pass  # without the record the dump is dropped, not published
    spark.sparkContext.setLogLevel("WARN")
    return spark


_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def _cds_options() -> tuple[str, str | None] | None:
    """Driver JVM options that map, or else dump, the class-data archive,
    and the class-path record a dumping session writes (``None`` when
    mapping). ``None`` when the archive cannot be used here."""
    root = os.environ.get("SPARK_GRAFT_CDS_DIR")
    if root is None:
        cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
        root = os.path.join(cache, "dec_spark", "cds")
    java = _launcher_java()
    # JVM options are split on whitespace and quotes
    if not root or not java or any(c in root for c in " \t\n'\""):
        return None
    root = os.path.abspath(root)
    conf = os.path.join(root, "conf")
    spark_home = _find_spark_home()
    try:
        if os.environ.get("SPARK_CONF_DIR", conf) != conf or any(
            not n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))
        ):
            return None
        os.makedirs(conf, exist_ok=True)
        if os.listdir(conf):
            return None
        key = _cds_key(java, spark_home)
        _cds_publish(root, key, java)
    except OSError:
        return None
    os.environ["SPARK_CONF_DIR"] = conf
    archive = os.path.join(root, f"{key}.jsa")
    if os.path.exists(archive):
        return f"-XX:SharedArchiveFile={archive} -Xshare:auto {_CDS_QUIET}", None
    stem = os.path.join(root, f"{key}.{os.getpid()}")
    return f"-XX:ArchiveClassesAtExit={stem}.jsa.tmp {_CDS_QUIET}", f"{stem}.cp"


def _launcher_java() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``, else ``PATH``'s."""
    if os.environ.get("JAVA_HOME"):
        return os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    return shutil.which("java")


def _cds_key(java: str, spark_home: str) -> str:
    """Hash of the JDK (binary and ``release``), the Spark jars (name,
    size, mtime) and the PySpark version."""
    h = hashlib.sha256(pyspark.__version__.encode())
    java = os.path.realpath(java)
    st = os.stat(java)
    h.update(f"{java} {st.st_size} {st.st_mtime_ns}".encode())
    release = os.path.join(os.path.dirname(os.path.dirname(java)), "release")
    if os.path.exists(release):
        with open(release, "rb") as f:
            h.update(f.read())
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"{os.path.basename(jar)} {st.st_size} {st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _cds_publish(root: str, key: str, java: str) -> None:
    """Promote a finished, validated dump to ``<key>.jsa``; drop failed
    dumps and the archives of other keys. Dumps whose Python process or
    JVM still runs are left alone."""
    archive = os.path.join(root, f"{key}.jsa")
    for name in os.listdir(root):
        if name.endswith(".jsa") and name != f"{key}.jsa":
            os.remove(os.path.join(root, name))
    stems = {n.rsplit(".", 2 if n.endswith(".jsa.tmp") else 1)[0]
             for n in os.listdir(root) if n.endswith((".jsa.tmp", ".cp"))}
    for stem in stems:
        tmp, record = os.path.join(root, f"{stem}.jsa.tmp"), os.path.join(root, f"{stem}.cp")
        try:
            with open(record) as f:
                jvm_pid, classpath = f.read().split("\n")[:2]
        except (OSError, ValueError):
            jvm_pid, classpath = "", None
        pids = [stem.rsplit(".", 1)[-1], jvm_pid]
        if any(p.isdigit() and _pid_alive(int(p)) for p in pids):
            continue
        # a concurrent session may have promoted or removed these first
        with contextlib.suppress(FileNotFoundError):
            if (stem.startswith(f"{key}.") and classpath and os.path.exists(tmp)
                    and not os.path.exists(archive) and _cds_valid(java, tmp, classpath)):
                os.replace(tmp, archive)
            else:
                os.remove(tmp)
        with contextlib.suppress(FileNotFoundError):
            os.remove(record)


def _cds_valid(java: str, archive: str, classpath: str) -> bool:
    """Whether a JVM on the dump's class path maps ``archive`` and passes
    the archive's CRC check."""
    try:
        return subprocess.run(
            [java, f"-XX:SharedArchiveFile={archive}", "-Xshare:on", "-XX:+VerifySharedSpaces",
             # the crash report of a bad archive goes to stderr, not an hs_err file in the cwd
             "-XX:+PerfDisableSharedMem", "-XX:+ErrorFileToStderr", "-cp", classpath, "-version"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=120,
        ).returncode == 0
    except subprocess.TimeoutExpired:
        return False


def prep(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to a session we did not create.

    The verification driver hands us its own SparkSession; pin the
    semantics that affect answer correctness (timezone, ANSI off is
    Spark 4 default-on — keep ANSI on, it matches DuckDB).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def scratch_dir(spark: SparkSession, *parts: str) -> str:
    """``<tempdir>/dec_spark/<pid>/<parts...>``, created.

    The root is per process, so concurrent harness processes never clear
    files a lazy DataFrame of another process still reads. It is removed
    at interpreter exit, when the DataFrames reading it are dead.

    Raises on a master other than ``local``/``local[N]``/``local-cluster``:
    elsewhere the driver's tempdir is not storage the executors share, and
    a read would see a partial or empty snapshot instead of failing.
    """
    master = spark.sparkContext.master
    if not master.startswith("local"):
        raise RuntimeError(
            f"scratch_dir: master {master!r} is not local; scratch lives in the "
            "driver's tempdir, which only local[N] and local-cluster executors share"
        )
    path = os.path.join(_scratch_root(), *parts)
    os.makedirs(path, exist_ok=True)
    return path


def _scratch_root() -> str:
    """This process's root; reset, registered and sibling-swept on first use."""
    global _SCRATCH_PID
    base = os.path.join(tempfile.gettempdir(), "dec_spark")
    pid = os.getpid()
    root = os.path.join(base, str(pid))
    if _SCRATCH_PID != pid:
        _SCRATCH_PID = pid
        # an existing root was left by a crashed process whose pid this one reuses
        shutil.rmtree(root, ignore_errors=True)
        atexit.register(shutil.rmtree, root, True)
        # roots of crashed or killed processes are never removed at exit
        try:
            for name in os.listdir(base):
                if name != str(pid) and name.isdigit() and not _pid_alive(int(name)):
                    shutil.rmtree(os.path.join(base, name), ignore_errors=True)
        except OSError:
            pass
    return root


def _pid_alive(pid: int) -> bool:
    """Signal-0 probe, portable across POSIX hosts (``/proc`` is
    Linux-only). A process owned by another user is alive. Where
    ``/proc`` exists, a zombie, which signal 0 still reaches, is dead:
    an orphaned driver JVM is reparented to an init that may never
    reap it."""
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        return True
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return True
