"""Per-query job/stage profile via the local Spark UI REST API (guide §1/§7).

Runs one or more declared queries with the noop sink, then dumps every job
(description, duration) and the heaviest stages (name, duration, task count,
shuffle read/write bytes) so optimization work targets the right operator.

    python tools/qprofile.py [--sf DIR] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pmp_analytics_spark.session import get_spark  # noqa: E402


def rest(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    ap.add_argument("--warm", action="store_true", help="run each query twice, profile run 2")
    args = ap.parse_args()

    spark = get_spark("qprofile", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    if not ui:
        print("no live UI (spark.ui.enabled=false?)", file=sys.stderr)
        return 1
    app_id = sc.applicationId
    base = f"{ui}/api/v1/applications/{app_id}"

    from pmp_analytics_spark.queries import all_queries

    qs = all_queries()
    for name in args.queries:
        if name not in qs:
            print(f"unknown query: {name}", file=sys.stderr)
            return 2

    for name in args.queries:
        fn = qs[name]
        runs = 2 if args.warm else 1
        for r in range(runs):
            jobs_before = {j["jobId"] for j in rest(f"{base}/jobs?status=succeeded")} | {
                j["jobId"] for j in rest(f"{base}/jobs?status=failed")
            }
            sc.setJobDescription(f"qprofile:{name}:run{r}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            sc.setJobDescription(None)
            if r < runs - 1:
                continue
            jobs = [
                j
                for j in rest(f"{base}/jobs?status=succeeded")
                if j["jobId"] not in jobs_before
            ]
            jobs.sort(key=lambda j: j["jobId"])
            print(f"\n===== {name}: wall {wall:.2f}s, {len(jobs)} jobs =====")
            stage_ids = []
            for j in jobs:
                sub = time.mktime(
                    time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                ) + float(j["submissionTime"][20:23]) / 1e3
                done = time.mktime(
                    time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                ) + float(j["completionTime"][20:23]) / 1e3
                dur = done - sub
                stage_ids += j["stageIds"]
                print(
                    f"  job {j['jobId']:>4} {dur:7.2f}s stages={len(j['stageIds'])}"
                    f" tasks={j['numTasks']:>5} {j.get('description','')[:90]}"
                )
            sset = set(stage_ids)
            stages = [
                s
                for s in rest(f"{base}/stages?status=complete")
                if s["stageId"] in sset
            ]
            # attempt-dedup: keep the slowest attempt per stage id
            best: dict[int, dict] = {}
            for s in stages:
                cur = best.get(s["stageId"])
                if cur is None or s["executorRunTime"] > cur["executorRunTime"]:
                    best[s["stageId"]] = s
            heavy = sorted(
                best.values(), key=lambda s: -s["executorRunTime"]
            )[:15]
            print("  heaviest stages (executorRunTime = summed task time):")
            for s in heavy:
                print(
                    f"    stage {s['stageId']:>5} run={s['executorRunTime']/1e3:8.1f}s"
                    f" tasks={s['numTasks']:>5}"
                    f" sr={s['shuffleReadBytes']/2**20:8.1f}M"
                    f" sw={s['shuffleWriteBytes']/2**20:8.1f}M"
                    f" in={s['inputBytes']/2**20:8.1f}M"
                    f"  {s['name'][:70]}"
                )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
