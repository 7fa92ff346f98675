"""Per-layer instrumentation for traced benchmark runs.

Everything here lives in the benchmark, not in the program:

- ``Tracer`` wraps the public functions of the ``operators``,
  ``functions`` and ``sources`` modules in spans (name, start, end,
  parent, run id), kept in memory and written out at the end;
- ``StreamingStats`` is a ``StreamingQueryListener`` collecting
  micro-batch durations;
- ``read_event_log`` turns the Spark event log into per-task records, so
  no stage is lost to the UI's retention limits;
- ``cache_stats`` reads the persisted RDDs and their storage size.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from datetime import datetime

PACKAGE = "pmp_analytics_spark"
LAYERS = ("operators", "functions", "sources")


class Tracer:
    """Span recorder. ``enabled`` gates recording; wrappers stay installed."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = True
        self.spans: list[list] = []  # [name, start, end, parent, layer_module]
        self._stack = threading.local()  # open span ids of each thread
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, module: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, stack[-1] if stack else None, module])
        stack.append(idx)
        try:
            yield
        finally:
            self.spans[idx][2] = time.perf_counter()
            stack.pop()

    def install(self) -> None:
        """Wrap every public function of the layer modules and rebind the
        wrapper wherever the package imported the original."""
        import importlib
        import pkgutil

        for layer in LAYERS:
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            for info in pkgutil.iter_modules(pkg.__path__):
                importlib.import_module(f"{pkg.__name__}.{info.name}")
        originals: dict[int, object] = {}
        for modname, mod in list(sys.modules.items()):
            parts = modname.split(".")
            if len(parts) != 3 or parts[0] != PACKAGE or parts[1] not in LAYERS:
                continue
            short = f"{parts[1]}.{parts[2]}"
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                    or hasattr(fn, "evalType")  # a (pandas_)udf object
                ):
                    continue
                originals[id(fn)] = (fn, self._wrap(fn, short))
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                hit = originals.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])

    def _wrap(self, fn, module: str):
        name = f"{module}.{fn.__name__}"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, module):
                return fn(*args, **kwargs)

        return wrapper

    def totals(self, t0: float, t1: float, by: str) -> dict[str, tuple[int, float]]:
        """(calls, seconds) per layer ``module`` or function ``name`` for
        layer spans starting in [t0, t1); time nested inside a span with
        the same key counts once."""
        col = {"name": 0, "module": 4}[by]
        out: dict[str, list] = {}
        spans = self.spans
        for span in spans:
            key, start, end, parent = span[col], span[1], span[2], span[3]
            if span[4] is None or end is None or not (t0 <= start < t1):
                continue
            acc = out.setdefault(key, [0, 0.0])
            acc[0] += 1
            while parent is not None and spans[parent][col] != key:
                parent = spans[parent][3]
            if parent is None:
                acc[1] += end - start
        return {k: (v[0], v[1]) for k, v in out.items()}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, _) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": name, "start": start, "end": end,
                    "parent": parent, "run": self.run_id,
                }) + "\n")


def streaming_listener():
    """A ``StreamingQueryListener`` keeping (trigger epoch s, durationMs)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamingStats(StreamingQueryListener):
        def __init__(self):
            self.progress: list[tuple[float, dict]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.progress.append((ts, dict(p.durationMs)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return StreamingStats()


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks of the (stopped) application's event log,
    timestamps in epoch seconds."""
    jobs, stages, tasks = [], [], []
    # rolling logs are a directory of events_<n>_* files per application
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(ev["Submission Time"] / 1000.0)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    stages.append((info.get("Submission Time") or 0) / 1000.0)
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    run_ms = m.get("Executor Run Time", 0)
                    dur = info["Finish Time"] - info["Launch Time"]
                    sr = m.get("Shuffle Read Metrics") or {}
                    tasks.append({
                        "t": info["Launch Time"] / 1000.0,
                        "run_s": run_ms / 1000.0,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "delay_s": max(0, dur - run_ms - m.get("Executor Deserialize Time", 0)
                                       - m.get("Result Serialization Time", 0)
                                       - info.get("Getting Result Time", 0)) / 1000.0,
                        "sw": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "in": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        "out": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                        "failed": ev.get("Task End Reason", {}).get("Reason") != "Success",
                    })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def cache_stats(spark) -> tuple[int, float]:
    """(persisted RDD count, their memory + disk MB)."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    size = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return n, size / 2**20
