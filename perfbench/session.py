"""The benchmark's Spark session and process bookkeeping.

The session is the README Quick start: ``local[<cores>]``, a UTC session
time zone, ``register(spark)``, UI off, plus a driver heap sized for a
15 GiB box.  The only other confs place Spark's scratch files inside the
benchmark's work directory and, for a traced run, turn on an
uncompressed, non-rolling event log.  No tuning conf is set here, so a
change in the figures comes from the program, not from the benchmark.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

DRIVER_MEMORY = "4g"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work_dir: str, event_log_dir: str | None = None):
    """Start a session and register the bi5 source on it."""
    from pyspark.sql import SparkSession

    from spark_bi5_datasource_spark import register

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{cores()}]")
        .appName("perfbench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", local)
        # no JVM performance-counter file in /tmp: the run writes only here
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={local} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the second field after it
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        for child in _children(todo.pop()):
            seen.append(child)
            todo.append(child)
    return seen


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    return proc.pid if proc is not None else None


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM of this driver process and of its JVM."""
    pid = jvm_pid()
    return vm_hwm_mb(os.getpid()), (vm_hwm_mb(pid) if pid is not None else 0.0)


def shutdown(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and every process either started, and
    wait until all of them have ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for pid in procs:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process awaiting its reaper
    (state Z) has ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
