"""Run-environment pinning, Spark session lifetime and host counters.

Everything the benchmark writes lives under one work directory inside
the checkout: store roots, Spark local dirs, the JVM's and Python's temp
dirs. Nothing is read from or written to the rest of the file system
except the `/proc` counters below.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

# far below physical RAM (session.py's default is 16g). The heap is
# committed and touched at JVM start, so the JVM's own peak RSS does not
# depend on when the collector chose to grow it; ``peak_rss_mb`` counts
# the heap by its live use instead.
DRIVER_MEM_MB = 1024
DRIVER_MEM = f"{DRIVER_MEM_MB}m"


# Task slots for ``local[N]``. One slot leaves the other cores to the
# driver JVM's compiler and GC threads, the Python client and the host's
# other tenants; the inputs are small, so more slots mostly add
# contention, which was the main source of run-to-run spread.
SPARK_CORES = 1


def pin(checkout: str, work: str) -> dict:
    """Set the process environment the JVM and Python workers inherit.
    Must run before pyspark launches its gateway."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "PYTHONPATH": checkout,
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(SPARK_CORES),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    return {"master": f"local[{SPARK_CORES}]", "nproc": os.cpu_count(), **env}


def start_spark(pinned: dict, work: str):
    from hbase_rdf_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=pinned["master"],
        shuffle_partitions=SPARK_CORES,
        extra_conf={
            "spark.local.dir": pinned["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={pinned['TMPDIR']} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process under
    this one (Python workers), waiting until each has exited."""
    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
    _reap(pids)


def _reap(pids: list[int]) -> None:
    deadline = time.monotonic() + 30
    live = [p for p in pids if _alive(p)]
    while live and time.monotonic() < deadline:
        time.sleep(0.2)
        live = [p for p in live if _alive(p)]
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in live) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:  # the shared parent, once no other run is using it
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


# -- /proc counters ----------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int | None = None) -> list[int]:
    """Every live process under ``root`` (default: this one)."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """utime+stime of this process tree, reaped children included."""
    total = 0
    for pid in [os.getpid()] + descendants():
        f = _stat_fields(pid)
        if f:  # fields 14-17 of stat, counted after the ")": 11..14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def host_steal_s() -> float:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TICK


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split()[1]
    except OSError:
        pass
    return None


def jvm_heap_live_mb(spark) -> float:
    """Driver JVM heap in use after a full collection: what the program
    still holds on the heap at the end of the run."""
    lang = spark.sparkContext._jvm.java.lang
    lang.System.gc()
    mx = lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def peak_rss_mb(heap_live_mb: float) -> float:
    """Memory of this process tree: the peak RSS (VmHWM) of the Python
    client and workers and of the driver JVM, with the JVM's pre-touched
    heap counted by its live use (``jvm_heap_live_mb``) rather than its
    full size."""
    kb = 0
    for pid in [os.getpid()] + descendants():
        hwm = _status(pid, "VmHWM")
        if hwm is not None:
            kb += int(hwm)
            if _status(pid, "Name") == "java":
                kb -= DRIVER_MEM_MB * 1024
    return kb / 1024.0 + heap_live_mb


class HostMeter:
    """CPU and steal seconds spent across one measured phase."""

    def __init__(self) -> None:
        self.cpu0, self.steal0 = tree_cpu_s(), host_steal_s()
        self.cpu_s = self.steal_s = 0.0

    def stop(self) -> "HostMeter":
        self.cpu_s = tree_cpu_s() - self.cpu0
        self.steal_s = host_steal_s() - self.steal0
        return self
