"""The benchmark's own Spark session, sized for the host it runs on, and the
host facts every result records.

The engine's default JVM flags (``-Xms48g -XX:+AlwaysPreTouch``) are a
throughput recipe for a large box and do not start on a 15 GB host, so the
benchmark sets the ``SPARK_GRAFT_*`` session environment itself before
``get_spark`` builds the JVM: an 8g lazily committed heap (the size the test
suite uses), ParallelGC, and every scratch directory inside the benchmark's
work directory.
"""

from __future__ import annotations

import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HEAP = "8g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work_dir: str, repo_root: str) -> None:
    """Set the session environment before the JVM starts. ``PYTHONPATH`` is
    exported so Python workers can import ``kbgen_spark``; ``TMPDIR`` and
    ``java.io.tmpdir`` keep temp files inside the work directory."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"-Xms{HEAP} -XX:+UseParallelGC -Djava.io.tmpdir={tmp}"
    )
    # Every JVM, the spark-submit launcher included, would otherwise write
    # its perf data under /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local  # wins over spark.local.dir
    os.environ["TMPDIR"] = tmp
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = repo_root + (os.pathsep + path if path else "")


def start_session(event_log_dir: str | None):
    """local[nproc] session; with ``event_log_dir`` Spark's own event log is
    written there uncompressed (the traced run parses it after stop)."""
    from kbgen_spark.session import get_spark

    n = cpu_count()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
                "spark.eventLog.rolling.enabled": "true",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _proc_cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime: the process's own CPU time and that
    of children it has already reaped (exited Python workers)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by this process, the JVM and every process
    the JVM started."""
    ticks = 0
    for pid in [jvm, *descendants(jvm)]:
        try:
            ticks += _proc_cpu_ticks(pid)
        except (OSError, IndexError, ValueError):
            pass  # exited between the listing and the read
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def reset_peak_rss() -> bool:
    """Reset this process's VmHWM to its current RSS, so a later
    ``peak_rss_mb`` covers only what follows; False where the kernel does
    not allow it."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, shut the gateway JVM down and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = descendants(proc.pid) + [proc.pid] if proc is not None else []
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    alive = pids
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def steal_ticks() -> int:
    """Cumulative steal ticks over all CPUs (/proc/stat, 8th field)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("no MemTotal in /proc/meminfo")


def host_facts(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cpu_count(),
        "mem_total_kb": mem_total_kb(),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "spark_graft_env": {
            k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")
        },
    }


def clean(work_dir: str) -> None:
    shutil.rmtree(work_dir, ignore_errors=True)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
