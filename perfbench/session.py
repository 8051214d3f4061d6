"""Process environment and Spark session start/stop.

The benchmark builds its session with ``session.get_spark`` exactly as a
user would, setting only the master and ``SPARK_GRAFT_DRIVER_MEM`` (the
package default of 48g exceeds a small machine). Temporary and Spark
local directories are pointed into the run's work directory so a run
writes nothing outside its checkout.
"""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MASTER = "local[4]"
DRIVER_MEM = "4g"


def process_start_epoch() -> float:
    """Wall-clock time at which this process started (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def configure_env(work: Path) -> None:
    """Environment every process of the run inherits (executors need the
    checkout root on PYTHONPATH to import the package)."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # PerfDisableSharedMem keeps the JVM's perf counters out of
    # /tmp/hsperfdata_<user>
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    )


def start_session(t_process: float):
    """(spark, setup_s, first_job_s): setup_s runs from ``t_process`` to
    the end of one trivial job that starts the Python workers."""
    from data_pipeline_rsna_spark.session import get_spark

    spark = get_spark("perfbench", master=MASTER)
    t0 = time.time()
    n = spark.sparkContext.parallelize(range(4), 4).map(lambda x: x + 1).sum()
    t1 = time.time()
    if n != 10:
        raise RuntimeError("trivial job returned a wrong result")
    return spark, t1 - t_process, t1 - t0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    from .counters import tree_pids

    me = os.getpid()
    descendants = [p for p in tree_pids(me) if p != me]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()      # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and not _zombie(pid):
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.time() + timeout_s
            time.sleep(0.05)


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return True
    return raw[raw.rindex(")") + 2] == "Z"
