"""Per-query measurement harness for optimization work (guide §1).

Times individual declared queries with the noop sink, dumps their
``explain("formatted")`` plans, and/or profiles their Spark jobs. Usage:

    python tools/qtime.py [--sf DIR] [--runs N] [--plan-dir DIR] q1 q2 ...
    python tools/qtime.py --all            # every declared query, 1 run
    python tools/qtime.py --profile q1 ... # plus a job/stage dump per query

Each timing run is labeled via setJobDescription so the run is legible in
event logs. Prints one line per query per run; plans are written to
``<plan-dir>/<query>.txt`` when --plan-dir is given. ``--profile`` turns on
the local Spark UI and, after each query's last run, prints every job
that run started (duration, stage and task counts, description) and its
heaviest stages (summed task time, tasks, shuffle read/write and input
bytes), read from the UI's REST API on localhost, then the live Python
processes under the session's JVM (worker daemons and the idle workers
they keep) with their summed VmRSS and PSS, read from ``/proc``. Before
the first query it prints ``session.get_spark_s`` and whether the driver
JVM maps the class-data-sharing archive (checked in its ``/proc`` maps),
with its size on disk, dumps one at exit, or runs without one and why.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.proc import descendants  # noqa: E402
from pmp_analytics_spark.session import class_archive_state, get_spark  # noqa: E402


def formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def _epoch(stamp: str) -> float:
    """Seconds of a UI timestamp such as ``2026-01-02T03:04:05.678GMT``."""
    whole = time.mktime(time.strptime(stamp[:19], "%Y-%m-%dT%H:%M:%S"))
    return whole + float(stamp[20:23]) / 1e3


def _job_ids(base: str) -> set[int]:
    return {j["jobId"] for status in ("succeeded", "failed") for j in rest(f"{base}/jobs?status={status}")}


def print_profile(base: str, before: set[int]) -> None:
    """The jobs started since ``before`` and their 15 heaviest stages."""
    jobs = sorted(
        (j for j in rest(f"{base}/jobs?status=succeeded") if j["jobId"] not in before),
        key=lambda j: j["jobId"],
    )
    print(f"PROF  {len(jobs)} jobs")
    stage_ids = set()
    for j in jobs:
        stage_ids.update(j["stageIds"])
        dur = _epoch(j["completionTime"]) - _epoch(j["submissionTime"])
        print(
            f"  job {j['jobId']:>4} {dur:7.2f}s stages={len(j['stageIds'])}"
            f" tasks={j['numTasks']:>5} {j.get('description', '')[:90]}"
        )
    # attempt-dedup: keep the slowest attempt per stage id
    best: dict[int, dict] = {}
    for s in rest(f"{base}/stages?status=complete"):
        cur = best.get(s["stageId"])
        if s["stageId"] in stage_ids and (cur is None or s["executorRunTime"] > cur["executorRunTime"]):
            best[s["stageId"]] = s
    print("  heaviest stages (executorRunTime = summed task time):")
    for s in sorted(best.values(), key=lambda s: -s["executorRunTime"])[:15]:
        print(
            f"    stage {s['stageId']:>5} run={s['executorRunTime'] / 1e3:8.1f}s"
            f" tasks={s['numTasks']:>5}"
            f" sr={s['shuffleReadBytes'] / 2**20:8.1f}M"
            f" sw={s['shuffleWriteBytes'] / 2**20:8.1f}M"
            f" in={s['inputBytes'] / 2**20:8.1f}M"
            f"  {s['name'][:70]}"
        )


def _kb(path: str, field: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def print_workers(jvm: int) -> None:
    """The live Python processes under the JVM ``jvm`` (a daemon per
    worker factory and the workers it forked), with summed VmRSS and PSS."""
    daemons = workers = rss = pss = 0
    for pid in descendants(jvm):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"python" not in f.read():
                    continue
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            vm_rss = _kb(f"/proc/{pid}/status", "VmRSS")
            if not vm_rss:  # a zombie not yet reaped
                continue
            pss += _kb(f"/proc/{pid}/smaps_rollup", "Pss")
        except (OSError, IndexError, ValueError):
            continue
        rss += vm_rss
        daemons += ppid == jvm
        workers += ppid != jvm
    print(f"PYW   daemons={daemons} workers={workers} rss={rss / 1024:.0f}MB pss={pss / 1024:.0f}MB")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--no-time", action="store_true", help="plans only")
    ap.add_argument("--profile", action="store_true", help="dump the jobs and stages of each query's last run")
    args = ap.parse_args()

    conf = {"spark.ui.enabled": "true"} if args.profile else None
    t0 = time.perf_counter()
    spark = get_spark("qtime", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    base = None
    if args.profile:
        print(f"CDS   session.get_spark_s={get_spark_s:.2f} archive {class_archive_state(spark)}")
        if not sc.uiWebUrl:
            print("no live Spark UI to profile through", file=sys.stderr)
            return 1
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    from pmp_analytics_spark.queries import all_queries

    qs = all_queries()
    names = list(qs) if args.all else args.queries
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    # one warm query to pay JVM/classloader first-touch once
    next(iter(qs.values()))(spark, args.sf).write.format("noop").mode("overwrite").save()

    for name in names:
        if args.plan_dir:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = qs[name](spark, args.sf)
            with open(os.path.join(args.plan_dir, f"{name}.txt"), "w") as f:
                f.write(formatted_plan(df))
        if args.no_time:
            print(f"PLAN  {name}")
            continue
        best = None
        for r in range(args.runs):
            before = _job_ids(base) if base and r == args.runs - 1 else None
            sc.setJobDescription(f"qtime:{name}:run{r}")
            t0 = time.perf_counter()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            print(f"RUN   {name} run{r}: {dt:.3f}s", flush=True)
            if before is not None:
                print_profile(base, before)
                print_workers(sc._gateway.proc.pid)
        sc.setJobDescription(None)
        print(f"BEST  {name}: {best:.3f}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
