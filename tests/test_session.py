"""Python worker defaults of ``session.get_spark``: at most one idle
worker per worker factory, every worker forked from the preloading
daemon, and package UDFs that import from any working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:  # when run as a script from another cwd
    sys.path.insert(0, str(ROOT))

from perfbench.proc import descendants  # noqa: E402


def _thumbnails(spark) -> list[list]:
    """Rows of a 4-partition ``mapInPandas`` whose function refers to
    package functions, so a worker has to import ``pmp_analytics_spark``."""
    from pmp_analytics_spark.multimodal import attach_payload, resize_thumbnails

    docs = spark.range(0, 40, numPartitions=4).selectExpr(
        "id AS doc_id", "repeat('doc ', int(id % 7) + 1) AS text"
    )
    return sorted([list(r) for r in resize_thumbnails(attach_payload(docs)).collect()])


def _python_daemons(spark) -> dict[int, tuple[str, list[int]]]:
    """The live Python processes under the session's JVM as ``{daemon
    pid: (its command line, the pids of the workers it forked)}``: Spark
    starts one daemon per worker factory (the SQL UDF runners and the RDD
    API have one each)."""
    jvm = spark.sparkContext._gateway.proc.pid
    live = {}
    for pid in descendants(jvm):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, ppid = f.read().rsplit(")", 1)[1].split()[:2]
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode()
        except (OSError, ValueError):
            continue
        if state != "Z" and "python" in cmd:
            live[pid] = (int(ppid), cmd)
    return {
        pid: (cmd, [w for w, (parent, _) in live.items() if parent == pid])
        for pid, (ppid, cmd) in live.items()
        if ppid == jvm
    }


def test_idle_python_workers_are_bounded(spark):
    """After a 4-task Python stage each daemon keeps at most one idle
    worker, not one per task, and every daemon of UDF workers is the
    preloading one (Spark starts its Python data-source planners from
    its own ``pyspark.daemon``)."""
    _thumbnails(spark)
    deadline = time.time() + 15
    daemons = _python_daemons(spark)
    while any(len(w) > 1 for _, w in daemons.values()) and time.time() < deadline:
        time.sleep(0.2)
        daemons = _python_daemons(spark)
    assert all(len(workers) <= 1 for _, workers in daemons.values()), daemons
    udf_daemons = [cmd for cmd, _ in daemons.values() if cmd.split()[-1] == "pyspark.worker"]
    assert udf_daemons, daemons
    assert all("-m pmp_analytics_spark._pydaemon" in cmd for cmd in udf_daemons), udf_daemons


def test_workers_import_the_package_from_any_cwd(spark, tmp_path):
    """A session started outside the checkout, with the package on the
    driver's ``sys.path`` only, runs a package ``mapInPandas`` and gets
    the rows an in-repo session gets."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    done = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert json.loads(done.stdout.strip().splitlines()[-1]) == _thumbnails(spark)


if __name__ == "__main__":
    from pmp_analytics_spark.session import get_spark

    session = get_spark("cwd-probe", shuffle_partitions=4)
    print(json.dumps(_thumbnails(session)))
    session.stop()
