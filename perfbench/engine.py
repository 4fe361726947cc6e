"""Fit the engine to the machine and own the Spark session's lifetime.

Everything here drives the engine only through its public entry points
(``kinesis_sample_spark.session.get_spark``) and Spark's public status
APIs; nothing inside the program is instrumented.
"""

from __future__ import annotations

import os
import subprocess
import time

MIB = 1024 * 1024


def _physical_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // MIB


def fit_to_machine(root: str, work: str) -> dict:
    """Environment for a run on this machine, set before the engine is
    imported (its default core count is read at import time).

    - ``SPARK_GRAFT_CPUS`` = the cores this process may use, instead of
      the engine's ``local[32]`` default;
    - ``SPARK_DRIVER_MEMORY`` = a quarter of physical memory, at most 4 GiB,
      instead of the engine's 48g (which would also pre-size a 16g heap);
    - Python workers import the engine from ``root``; Spark's scratch, the
      JVM's and Python's temp files stay inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = max(1024, min(4096, _physical_mb() // 4))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": tmp,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return {"cpus": cpus, "driver_memory": env["SPARK_DRIVER_MEMORY"], "physical_mb": _physical_mb()}


class Engine:
    """One cold engine start per process: the JVM is launched by
    ``get_spark`` and shut down by ``stop``."""

    def __init__(self) -> None:
        self.spark = None
        self.get_spark_s = 0.0

    def start(self, app: str, cpus: int | None = None):
        from kinesis_sample_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app, cpus=cpus)
        self.get_spark_s = time.perf_counter() - t0
        return self.spark

    def _jvm_proc(self):
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        return getattr(gateway, "proc", None) if gateway else None

    def peak_rss_mb(self) -> float:
        """VmHWM (peak resident set) of the Spark JVM, in MiB."""
        proc = self._jvm_proc()
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM not reported")

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark launched under job group ``group``, from the
    public status tracker. A streaming query's jobs run under its runId;
    batch passes set their own group."""
    st = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return jobs, tasks
