"""Benchmark harness: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload compliance_batch --seed 1 --seconds 15 --trace 0

A run generates the workload's inputs from ``--seed`` in a child process
(``datagen.py``), times the session set-up (from process start, less the
input generation: program import, JVM launch, session build and a first
job), then drives the workload's registry queries one at a time from this
one client (a closed loop) through the ``noop`` sink: a cold pass in the
fresh session, then a fixed number of warm passes, as many nominal warm
passes (``WARM_PASS_S``) as fit in ``--seconds``, at least three. The
DataFrames of the last pass are then checked, untimed, against the DuckDB
oracles on the same inputs. Each run gets its own TMPDIR,
SPARK_LOCAL_DIRS and java.io.tmpdir under ``.perfbench/`` in the
checkout, removed at the end.

Output: an ``{"env": ...}`` line describing the run (machine load, CPU
steal per pass, versions, input sizes, phase times, sample counts,
failed_frac, RSS of the JVM and each Python worker), then as
the LAST line ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` instead
instruments the layers (spans, event log, streaming listener, cache) and
reports the per-layer metrics named in BENCHMARK.json. Exits 1 if any
query failed or mismatched its oracle, 2 if the program is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, proc  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

MB = 2**20
# the warm pass count depends only on --seconds, never on how fast a run
# goes, so every run takes its medians over the same passes; a warm pass
# of either workload takes about WARM_PASS_S on 4 idle cores
MIN_WARM_PASSES = 3
WARM_PASS_S = 5.0


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


def _process_age() -> float:
    """Seconds since this process started, from its start time in /proc."""
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / os.sysconf("SC_CLK_TCK")


def _generate(out: str, seed: int, data: dict) -> tuple[dict[str, int], float]:
    """Write the inputs from a child process, so that the program's own
    imports (numpy, pyarrow) stay inside the timed set-up of this one.
    Returns the bytes per table and the seconds it took."""
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "datagen.py"), out, str(seed),
           "--scale", str(data["scale"]), "--n-docs", str(data["n_docs"]),
           "--replicas", str(data["replicas"])]
    done = subprocess.run(cmd, check=True, capture_output=True, text=True)
    return json.loads(done.stdout), time.perf_counter() - t0


def _isolate(work: str) -> dict[str, str]:
    """Per-run temp dirs and the worker import path, set before any JVM
    or Python worker starts so every child inherits them."""
    dirs = {k: os.path.join(work, k) for k in ("data", "tmp", "local", "events")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = dirs["tmp"]
    env["SPARK_LOCAL_DIRS"] = dirs["local"]
    # the JVM's perf-data file goes to /tmp whatever java.io.tmpdir says
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={dirs['tmp']}",
                    "-XX:-UsePerfData") if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # snapshot-style oracles fit against this directory's tables
    env["SPARK_GRAFT_ORACLE_SF_DIR"] = dirs["data"]
    tempfile.tempdir = None
    return dirs


def _run_pass(spark, qs, names, data, tag, tracer=None) -> dict:
    """One pass over ``names``; a failed query still counts its time.
    Keeps each query's DataFrame (or its error) for the oracle check."""
    per: dict[str, tuple[float, float, bool]] = {}
    dfs: dict[str, object] = {}
    cpu0, e0, t0 = _cpu_times(), time.time(), time.perf_counter()
    for name in names:
        spark.sparkContext.setJobDescription(f"perfbench {tag} {name}")
        q0 = q1 = time.perf_counter()
        try:
            with tracer.span(f"query:{name}") if tracer else nullcontext():
                df = qs[name](spark, data)
                q1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            dfs[name] = df
        except Exception as e:  # noqa: BLE001
            dfs[name] = e
            _log(f"ERROR {tag} {name}: {str(e)[:300]}")
        per[name] = (q1 - q0, time.perf_counter() - q1, not isinstance(dfs[name], Exception))
    t1 = time.perf_counter()
    steal = (_cpu_times()[7] - cpu0[7]) / os.sysconf("SC_CLK_TCK")
    _log(f"pass {tag}: " + " ".join(f"{n}={b + a:.2f}" for n, (b, a, _) in per.items()))
    return {"wall": t1 - t0, "t0": t0, "t1": t1, "e0": e0, "e1": time.time(),
            "steal_s": steal, "queries": per, "dfs": dfs}


def _oracle_results(co, data, names) -> dict[str, tuple | Exception]:
    """(columns, types, rows) of each query's DuckDB oracle, or the error."""
    from pmp_analytics_spark.queries import all_oracles

    oracles = all_oracles(set(names))
    con = co.duck_conn(data)
    out: dict[str, tuple | Exception] = {}
    for name in names:
        try:
            rel = con.sql(oracles[name])
            out[name] = (list(rel.columns), list(rel.types), rel.fetchall())
        except Exception as e:  # noqa: BLE001
            out[name] = e
    con.close()
    return out


def _check(dfs, data) -> list[str]:
    """Untimed oracle gate over the DataFrames of the last timed pass;
    returns the names that failed or mismatched. The DuckDB oracles run
    on a side thread while Spark collects."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    names = list(dfs)
    with ThreadPoolExecutor(1) as pool:
        duck = pool.submit(_oracle_results, co, data, names)
        got = {}
        for name, sdf in dfs.items():
            try:
                if isinstance(sdf, Exception):
                    raise sdf
                stypes = [f.dataType.simpleString() for f in sdf.schema.fields]
                got[name] = (sdf.columns, stypes, [tuple(r) for r in sdf.collect()])
            except Exception as e:  # noqa: BLE001
                got[name] = e
        want = duck.result()
    bad = []
    for name in names:
        s, d = got[name], want[name]
        if isinstance(s, Exception) or isinstance(d, Exception):
            problems = [f"error: {str(s if isinstance(s, Exception) else d)[:300]}"]
        else:
            problems = co.dtype_mismatches(s[0], s[1], d[0], d[1])
            if co.frame_key(s[0], s[2]) != co.frame_key(d[0], d[2]):
                problems.append(f"values differ (spark {len(s[2])} rows, oracle {len(d[2])})")
        if problems:
            _log(f"MISMATCH {name}: {'; '.join(problems)}")
            bad.append(name)
    return bad


def _end_to_end(setup_s, passes, rss_mb) -> dict[str, float]:
    warm = passes[1:]
    lat = [b + a for p in warm for (b, a, _) in p["queries"].values()]
    return {
        "setup_s": setup_s,
        "cold_pass_s": passes[0]["wall"],
        "warm_pass_s": statistics.median(p["wall"] for p in warm),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
        "retained_rss_mb": rss_mb,
    }


def _per_layer(tracer, stream, log, passes, get_spark_s, cache, leak_mb, overhead) -> dict[str, float]:
    """Per-pass means over the traced passes. The harness is the only
    client, so every job, stage, task and micro-batch that starts inside a
    pass belongs to it, streaming threads included (they set their own job
    descriptions, so the per-query descriptions alone would miss them)."""
    n = len(passes)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    wins = [(p["e0"], p["e1"]) for p in passes]

    def inside(t: float) -> bool:
        return any(a <= t < b for a, b in wins)

    m: dict[str, float] = {"session.get_spark_s": get_spark_s}
    build = sum(b for p in passes for (b, _, _) in p["queries"].values())
    act = sum(a for p in passes for (_, a, _) in p["queries"].values())
    m["queries.build_s"] = build / n
    m["queries.build_share"] = build / (build + act)

    t0, t1 = passes[0]["t0"], passes[-1]["t1"]
    for module, (calls, secs) in tracer.totals(t0, t1, "module").items():
        m[f"{module}.calls"] = calls / n
        m[f"{module}.call_s"] = secs / n
    calls, secs = tracer.totals(t0, t1, "name").get("sources.reader.load_table", (0, 0.0))
    m["sources.load_table_calls"] = calls / n
    m["sources.load_table_s"] = secs / n
    m["trace.spans"] = sum(1 for s in tracer.spans if t0 <= s[1] < t1) / n
    m["trace.overhead_frac"] = overhead

    tasks = [t for t in log["tasks"] if inside(t["t"])]
    wall = sum(p["wall"] for p in passes)
    m["sources.input_mb"] = sum(t["in"] for t in tasks) / MB / n
    m["sources.output_mb"] = sum(t["out"] for t in tasks) / MB / n
    m["sources.tmp_leak_mb"] = leak_mb
    m["exec.jobs"] = sum(1 for t in log["jobs"] if inside(t)) / n
    m["exec.stages"] = sum(1 for t in log["stages"] if inside(t)) / n
    m["exec.tasks"] = len(tasks) / n
    for key, field in (("task_s", "run_s"), ("cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                       ("scheduler_delay_s", "delay_s")):
        m[f"exec.{key}"] = sum(t[field] for t in tasks) / n
    for key, field in (("shuffle_write_mb", "sw"), ("shuffle_read_mb", "sr"), ("spill_mb", "spill")):
        m[f"exec.{key}"] = sum(t[field] for t in tasks) / MB / n
    m["exec.failed_tasks"] = sum(t["failed"] for t in tasks) / n
    m["exec.core_busy_frac"] = sum(t["run_s"] for t in tasks) / (wall * cores)
    m["cache.persisted_rdds"], m["cache.storage_mb"] = cache

    batches = [d for (ts, d) in stream.progress if inside(ts)]
    m["streaming.batches"] = len(batches) / n
    for key, fields in (("trigger_ms", ("triggerExecution",)), ("planning_ms", ("queryPlanning",)),
                        ("commit_ms", ("walCommit", "commitOffsets")), ("add_batch_ms", ("addBatch",))):
        m[f"streaming.{key}"] = sum(d.get(f, 0) for d in batches for f in fields) / n
    return m


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _env_record(args, sizes, load0, cpu0, spark_info) -> dict:
    hz = os.sysconf("SC_CLK_TCK")
    delta = [b - a for a, b in zip(cpu0, _cpu_times())]
    head = None
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                ref = f.read().strip()
        head = ref
    except OSError:
        pass
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "load_avg_before": list(load0), "load_avg_after": list(os.getloadavg()),
        # CPU time the hypervisor gave to other guests (steal)
        "cpu_steal_s": delta[7] / hz, "cpu_busy_frac": 1 - (delta[3] + delta[4]) / sum(delta),
        "git_sha": head, "input_mb": round(sum(sizes.values()) / MB, 3),
        "input_bytes": sizes, **spark_info,
    }


def run(args, dirs) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    names = wl["queries"]
    load0, cpu0 = os.getloadavg(), _cpu_times()
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    sizes, datagen_s = _generate(dirs["data"], args.seed, wl["data"])
    phase("datagen_s")
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"

    extra = None
    if args.trace:
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": dirs["events"],
                 "spark.eventLog.compress": "false"}
    spark, get_spark_s = proc.start_session("perfbench", extra)
    setup_s = _process_age() - datagen_s
    phase("session_s")
    try:
        from pmp_analytics_spark.queries import all_queries

        qs = all_queries()
        tracer = stream = None
        if args.trace:
            tracer = layers.Tracer(run_id)
            tracer.install()
            stream = layers.streaming_listener()
            spark.streams.addListener(stream)

        data = dirs["data"]
        passes = [_run_pass(spark, qs, names, data, "cold", tracer)]
        for i in range(max(MIN_WARM_PASSES, int(args.seconds // WARM_PASS_S))):
            passes.append(_run_pass(spark, qs, names, data, f"warm{i + 1}", tracer))
        plain, overhead = None, 0.0
        if args.trace:
            # an untraced pass between two traced ones; the mean of its
            # neighbours cancels the speed-up from pass to pass
            tracer.enabled = False
            plain = _run_pass(spark, qs, names, data, "untraced")
            tracer.enabled = True
            passes.append(_run_pass(spark, qs, names, data, f"warm{len(passes)}", tracer))
            overhead = (passes[-2]["wall"] + passes[-1]["wall"]) / 2 / plain["wall"] - 1.0
            time.sleep(0.5)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(stream)
        jvm = proc.jvm_pid(spark)
        peak = proc.rss_mb(jvm, "VmHWM")
        # the JVM's peak depends on when G1 chose to grow its heap, which
        # machine load shifts run to run; after a full collection its RSS
        # is what the session retains
        spark.sparkContext._jvm.System.gc()
        rss = proc.settled_rss_mb(jvm)
        # per pass, as every other per-layer metric
        leak_mb = _dir_bytes(dirs["tmp"]) / MB / (len(passes) + (plain is not None))
        cache = layers.cache_stats(spark) if args.trace else None
        phase("passes_s")
        bad = _check(passes[-1]["dfs"], data)
        phase("check_s")
        spark_info = {"pyspark": spark.version,
                      "java": spark.sparkContext._jvm.System.getProperty("java.version")}
    finally:
        proc.stop_session(spark)
    phase("stop_s")

    timed = passes + ([plain] if plain else [])
    exec_failed = sum(not ok for p in timed for (_, _, ok) in p["queries"].values())
    attempted = len(names) * (len(timed) + 1)  # the oracle check is one more attempt per query
    failed = exec_failed + len(bad)
    env = {**_env_record(args, sizes, load0, cpu0, spark_info), "phases": phases,
           "passes": len(passes), "query_samples": len(names) * (len(passes) - 1),
           "pass_wall_s": [round(p["wall"], 3) for p in timed],
           "pass_steal_s": [round(p["steal_s"], 2) for p in timed],
           "failed_frac": failed / attempted,
           "rss_mb": {"jvm_peak": peak[0], "jvm_after_gc": rss[0], "workers": rss[1:]}}
    if args.trace:
        env["spans"] = os.path.join(".perfbench", f"spans-{run_id}.jsonl")
        tracer.write(os.path.join(ROOT, env["spans"]))
        metrics = _per_layer(tracer, stream, layers.read_event_log(dirs["events"]), passes,
                             get_spark_s, cache, leak_mb, overhead)
        units = {m["name"]: m["unit"] for m in _bench_spec()["per_layer"]}
    else:
        metrics = _end_to_end(setup_s, passes, sum(rss))
        units = {m["name"]: m["unit"] for m in _bench_spec()["end_to_end"]}
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    return result, env


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pmp_analytics_spark", "session.py")):
        _log(f"the program (pmp_analytics_spark/) is missing under {ROOT}")
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    dirs = _isolate(work)
    try:
        result, env = run(args, dirs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env["harness_s"] = _process_age()
    print(json.dumps({"env": env}))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
