"""Process-level plumbing shared by the benchmark's entry points: where a
run writes, the environment the Spark session and its Python workers
get, session start and stop, and peak memory from ``/proc``.

Every file a run creates (generated inputs, Spark local dirs, JVM and
Python temp files, the SQL warehouse, the event log) lives under one
work directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import shlex
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")  # spans of traced runs
# The program sizes its heap from MemAvailable at launch, which moves
# with whatever else the host runs; a fixed cap keeps the runs being
# compared on one heap ceiling (and one GC sizing policy).
DRIVER_MEM = "3g"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "free_etl_spark", "session.py"))


def make_work_dir(tag: str) -> str:
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "jtmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    return work


def remove_work_dir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def configure(work: str, event_log: bool) -> None:
    """Point every writer of the session at ``work`` and let the Python
    workers import the program from any working directory. Must run
    before the first session starts (the JVM reads it at launch)."""
    cores = len(os.sched_getaffinity(0))
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    env["PYSPARK_PYTHON"] = sys.executable
    args = [
        "--driver-java-options",
        # no perf-data file in /tmp
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'jtmp')}",
        "--conf",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log:
        args += [
            "--conf",
            "spark.eventLog.enabled=true",
            "--conf",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "--conf",
            "spark.eventLog.rolling.enabled=false",
            "--conf",
            "spark.eventLog.compress=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session():
    """Start the program's session (launching the JVM if none runs)."""
    from free_etl_spark.session import get_spark

    return get_spark("perfbench")


def stop_session(spark) -> None:
    spark.stop()


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit (it exits when
    its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its direct
    children (the JVM), in MB. Python workers, which come and go, are
    left out so the figure repeats."""
    pid = os.getpid()
    return sum(_hwm_kb(p) for p in [pid] + _children(pid)) / 1024.0
