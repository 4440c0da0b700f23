"""Spark process lifecycle for the benchmark: a host-sized session whose
every file lives under the benchmark's work directory, torn down with
its JVM and Python workers, and the host facts a result is read with."""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of the host's RAM, within [1 GiB, 8 GiB]: local mode
    runs every executor thread in the driver JVM, and the Python
    workers and the benchmark's own numpy references need the rest."""
    return max(1024, min(8192, host_ram_mb() // 4))


def prepare_workdir() -> Path:
    """A fresh work directory inside the checkout; every temp file the
    driver, the JVM and the Python workers write goes under it."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM, spark-submit's launcher included: no hsperfdata in /tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    # Python workers inherit it: the focal and hydro kernels are pickled
    # by reference and imported from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return WORK


def start_session(tag: str):
    """A fresh JVM at local[nproc] with the engine's conf."""
    from moamosaic_spark.session import get_spark

    cores = host_cores()
    local = WORK / f"local-{tag}"
    local.mkdir(parents=True, exist_ok=True)
    spark = get_spark(
        f"local[{cores}]",
        app_name="moamosaic-perfbench",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.driver.memory": f"{driver_memory_mb()}m",
            "spark.local.dir": str(local),
            "spark.sql.warehouse.dir": str(WORK / f"warehouse-{tag}"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the py4j gateway and the JVM process, and wait
    for the JVM to exit so the next session starts from nothing."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    # the JVM exits when its stdin closes; closing py4j's sockets first
    # can block on a callback connection the JVM still holds open
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tree_pids(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def tree_peak_rss_mb() -> float:
    """Sum over this process tree (driver, JVM, Python workers) of each
    process's peak resident set (VmHWM), in MB. An upper bound on the
    tree's simultaneous peak, read at no cost during the run."""
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total / 1024.0


def host_facts() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": host_cores(),
        "ram_mb": host_ram_mb(),
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
    }
