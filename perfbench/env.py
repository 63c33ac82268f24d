"""Session life cycle and the environment stamp.

Everything the run writes stays under one work directory inside the
checkout: Spark's local dirs, the JVM and Python temp dirs, the
warehouse, the event log and the call logs of the fake APIs.
"""

from __future__ import annotations

import gc
import hashlib
import os
import platform
import resource
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "wellmeet_data_pipeline_spark"


def cores() -> tuple[int, int]:
    """(nproc, N) where local[N] uses N = min(nproc, $SPARK_GRAFT_CPUS)."""
    nproc = len(os.sched_getaffinity(0))
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    n = min(nproc, int(want)) if want.isdigit() and int(want) > 0 else nproc
    return nproc, n


def prepare_process(work: str) -> None:
    """Point every temp and scratch location of this process and of the
    JVM and Python workers it will start at `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # workers must import the package and the fakes by reference
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )


def start_spark(work: str, n_cores: int, event_log: bool):
    from wellmeet_data_pipeline_spark.session import get_spark

    conf = {
        # no hsperfdata file outside the work dir
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                          "-XX:-UsePerfData"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.stopTimeout": "30s",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{n_cores}]",
                      shuffle_partitions=n_cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def retained_mem_mb(spark) -> float:
    """Memory the driver keeps once the operations are over: the JVM heap
    still live after full collections, the JVM's non-heap memory (class
    metadata, compiled code), and the peak RSS of this Python process.

    Python is collected first, so the JVM objects that only Python held
    can go; Spark's cleaner then drops their blocks and shuffle state
    before the JVM's last collection.  Peak heap usage is not reported:
    it follows G1's sizing of the young generation and spread 1.9-3.7 GB
    between seeds of one workload."""
    jvm = spark.sparkContext._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    for _ in range(2):
        gc.collect()
        jvm.java.lang.System.gc()
        time.sleep(1.0)
    jvm.java.lang.System.gc()
    used = mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return used / 2**20 + py_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _source_digest() -> str:
    """sha256 over the package sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def stamp(spark, seed: int, n_cores: int) -> dict:
    import pyspark

    nproc, _ = cores()
    java = str(spark.sparkContext._jvm.java.lang.System.getProperty("java.version"))

    return {
        "nproc": nproc,
        "local_cores": n_cores,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": _git_commit(),
        "source_sha256": _source_digest(),
        "argv": sys.argv[1:],
        "unix_time": time.time(),
    }
