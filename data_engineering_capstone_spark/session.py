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

Scratch files (format round trips, sinks, stream snapshots) all live under
``scratch_dir``: the reference's S3 is reachable from the driver and every
executor, and the one local equivalent is the tempdir of a ``local[N]`` or
``local-cluster`` master.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

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
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


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
    Linux-only). A process owned by another user is alive."""
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        return True
    return True
