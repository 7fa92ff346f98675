"""Per-query measurement harness for optimization work (guide §1).

Times individual declared queries with the noop sink and/or dumps their
``explain("formatted")`` plans. Usage:

    python tools/qtime.py [--sf DIR] [--runs N] [--plan-dir DIR] q1 q2 ...
    python tools/qtime.py --all            # every declared query, 1 run

Each timing run is labeled via setJobDescription so the run is legible in
event logs. Prints one line per query per run; plans are written to
``<plan-dir>/<query>.txt`` when --plan-dir is given.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pmp_analytics_spark.session import get_spark  # noqa: E402


def formatted_plan(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--no-time", action="store_true", help="plans only")
    args = ap.parse_args()

    spark = get_spark("qtime")
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
            spark.sparkContext.setJobDescription(f"qtime:{name}:run{r}")
            t0 = time.perf_counter()
            qs[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            print(f"RUN   {name} run{r}: {dt:.3f}s", flush=True)
        spark.sparkContext.setJobDescription(None)
        print(f"BEST  {name}: {best:.3f}s", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
