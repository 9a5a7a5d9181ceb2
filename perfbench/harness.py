"""Process-level plumbing shared by the workloads.

- ``Workspace``: every file the benchmark, Spark and the JVM write goes
  under ``<checkout>/.perfbench_work`` (scratch, removed at exit) or
  ``<checkout>/.perfbench_work/traces`` (kept), never /tmp or /dev/shm.
- ``start_spark`` / ``stop_spark``: one local[nproc] session built with the
  package's own ``get_spark``; stopping also ends the gateway JVM and waits
  for it, so no process outlives the run.
- ``summarize``: median, quartiles and tail of a sample, with its count.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    def __init__(self, workload: str, seed: int):
        base = os.path.join(ROOT, ".perfbench_work")
        self.dir = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
        self.traces = os.path.join(base, "traces")
        self.tmp = os.path.join(self.dir, "tmp")
        for d in (self.dir, self.traces, self.tmp):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def isolate_env(self) -> None:
        """Point every temp/spill location of Python, Spark and the JVM into
        the workspace, and let Python workers import the checkout's package.
        Must run before pyspark launches its gateway."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.path("spark-local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        jvm_tmp = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-XX:+UseParallelGC {jvm_tmp}"
        os.environ["SPARK_LAUNCHER_OPTS"] = jvm_tmp  # spark-class's launcher JVM
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def start_spark(ws: Workspace):
    from mediacrawler_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=nproc(),
        extra_conf={
            "spark.sql.warehouse.dir": ws.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def environment(spark, seed: int, workload: str, trace: bool) -> dict:
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "driver_mem": DRIVER_MEM,
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def tail_percentile(values: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile with at least ten samples beyond it, and its
    value (nearest rank); (None, None) below eleven samples."""
    n = len(values)
    if n < 11:
        return None, None
    s = sorted(values)
    rank = n - 10  # 1-based rank of the largest value with 10 above it
    return round(100.0 * rank / n, 2), s[rank - 1]


def summarize(values: list[float]) -> dict:
    n = len(values)
    if n == 0:
        return {"n": 0}
    if n == 1:
        q1 = med = q3 = values[0]
    else:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    pct, tail = tail_percentile(values)
    return {
        "n": n,
        "median": med,
        "q1": q1,
        "q3": q3,
        "tail_pct": pct,
        "tail": tail,
        "max": max(values),
    }


class Clock:
    """Seconds since ``t0``, a ``time.perf_counter`` reading (the entry
    module passes the process start time on that clock)."""

    def __init__(self, t0: float | None = None):
        self.t0 = time.perf_counter() if t0 is None else t0

    def now(self) -> float:
        return time.perf_counter() - self.t0
