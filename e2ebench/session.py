"""Spark session lifecycle for one benchmark run.

The session comes from the program's own factory
(``inxs_spark.sources.session.get_spark``) so its engine defaults are
what the benchmark measures. The benchmark pins only what it must:

- ``local[N]`` with N = usable cores − 1, leaving a core for the JVM's
  GC/JIT threads, the driver and the memory sampler;
- a fixed, pre-touched driver heap (``-Xms`` = ``-Xmx``,
  ``-XX:+AlwaysPreTouch``), so heap growth does not make the process
  tree's memory wander from rep to rep;
- every scratch directory (Spark local dirs, JVM and Python temp
  files) inside the checkout, and no JVM perf-data file in the system
  temp directory.

``stop`` tears down the session, the Python worker daemon and the JVM,
and waits for every process the run started.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time
import traceback

from . import procstat

DRIVER_HEAP = "1g"
DRIVER_JVM_OPTIONS = (f"-Xms{DRIVER_HEAP}", "-XX:+AlwaysPreTouch")


def parallelism() -> int:
    return max(1, len(os.sched_getaffinity(0)) - 1)


def configure_env(root: str, scratch: str) -> None:
    """Environment for the driver, the JVM and the Python workers; must
    run before the first session starts."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # every JVM, spark-submit's launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{" ".join(DRIVER_JVM_OPTIONS)}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def start():
    from inxs_spark.sources.session import get_spark

    spark = get_spark(master=f"local[{parallelism()}]", app_name="e2ebench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session and the JVM behind it, then make sure every
    process the run started (the JVM, the worker daemon and its
    workers, which outlive a dead parent) has ended."""
    from pyspark import SparkContext

    started = [p for p in procstat.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:
        # the gateway may already be broken (the run was interrupted
        # inside a JVM call); the processes are still ended below
        traceback.print_exc()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    end_processes(started)


def _alive(pid: int) -> bool:
    fields = procstat.stat_fields(pid)
    return fields is not None and fields[0] not in ("Z", "X")


def end_processes(pids: list[int], grace_s: float = 10.0) -> None:
    """SIGTERM, then after ``grace_s`` SIGKILL, each of ``pids`` that is
    still running; reap those that are this process's children."""
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline + grace_s:
            raise RuntimeError(f"processes {left} did not end")
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
