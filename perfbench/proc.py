"""Session set-up, process accounting and shutdown for benchmark runs."""

from __future__ import annotations

import os
import signal
import time


def start_session(app: str, extra_conf: dict[str, str] | None = None):
    """Import the program, build the engine session and run one trivial job.

    Returns ``(spark, get_spark_s)``, the second the time inside
    ``session.get_spark`` (JVM launch, session build, pyshard source
    registration).
    """
    from pmp_analytics_spark.session import get_spark

    t0 = time.perf_counter()
    # the console progress bar only adds noise to the harness's stderr
    conf = {"spark.ui.showConsoleProgress": "false", **(extra_conf or {})}
    spark = get_spark(app, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    return spark, get_spark_s


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def descendants(pid: int) -> list[int]:
    """All live descendant pids of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_mb(pid: int, field: str) -> list[float]:
    """The ``/proc/<pid>/status`` memory ``field`` (``VmRSS``, or
    ``VmHWM`` for the peak) in MB of ``pid`` and then of each live
    descendant: the Spark JVM and the Python workers it forked."""
    out = []
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith(field + ":"):
                        out.append(int(line.split()[1]) / 1024.0)
                        break
        except OSError:
            continue
    return out


def settled_rss_mb(pid: int, timeout: float = 10.0) -> list[float]:
    """``rss_mb(pid, "VmRSS")`` once the JVM's RSS has stopped falling:
    G1 hands heap back to the system on a background thread after a full
    collection."""
    last = rss_mb(pid, "VmRSS")
    deadline = time.time() + timeout
    while time.time() < deadline:
        time.sleep(0.5)
        now = rss_mb(pid, "VmRSS")
        if abs(now[0] - last[0]) < 1.0:
            return now
        last = now
    return last


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop the session, then end the JVM and every process it started,
    waiting until each is gone."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    pids = [proc.pid, *descendants(proc.pid)]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except Exception:  # noqa: BLE001 - fall through to the kill below
        pass
    deadline = time.time() + timeout
    while True:
        live = [p for p in pids if _alive(p)]
        if not live:
            break
        if time.time() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.05)
    if proc.poll() is None:
        proc.kill()
        proc.wait()
