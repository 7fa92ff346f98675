"""SparkSession factory with scale-aware defaults.

The reference (jbgreenh/pmp-analytics) runs Polars single-machine; its only
scale accommodation is ``collect(engine='streaming')`` (awarxe_cleanup.py:131).
Here distributed execution is the default — this factory pins the configs that
matter for both local correctness testing and 100 TB cluster runs:

- AQE on (runtime re-plan: coalesce partitions, skew-join handling, dynamic
  broadcast selection).
- UTC session timezone (oracle comparisons against DuckDB are TZ-naive).
- Arrow on (vectorized pandas_udf / toPandas transfer).
- Parquet TIMESTAMP(NANOS) read as long (``nanosAsLong``), which
  ``sources.reader.normalize_event_ts`` converts: set once here, so no
  read flips it mid-session and every read sees the same setting.
- Python workers: each worker factory (one for SQL UDFs, one for the RDD
  API) keeps at most one idle worker (Spark's default pool keeps every
  worker it ever forked, ~150 MB each). Workers fork from ``_pydaemon``,
  which has numpy/pandas/pyarrow imported, so a worker re-forked after an
  eviction does not import them again, and which spares each task a
  re-read of every zip archive on the path. The package's parent
  directory is on the workers' ``PYTHONPATH``, so the daemon and the
  package's UDFs import from any working directory.
- shuffle partitions sized to the local core count by default; a real cluster
  deployment overrides via ``spark.sql.shuffle.partitions`` or relies on AQE
  coalescing from a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "pmp-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    In local mode shuffle partitions default to the core count — the AQE
    coalescer then shrinks tiny shuffles further. On a cluster, pass a large
    ``shuffle_partitions`` (or set it in spark-defaults) and let AQE coalesce;
    the rest of these configs are scale-independent.
    """
    par = default_parallelism()
    # In local mode the driver JVM IS the executor. 4g measured fastest
    # on the full 142-query bench; at 252 queries the accumulated
    # CacheManager entries + 32 task threads push a 4g heap into GC
    # throttle on the warm pass — full-bench A/B on one box, one day:
    # best-of 390.5/392.0 s at 4g vs 355.5 s at 6g vs 349.2 s at 8g
    # (warm pass 443-481 -> 382-387 s). 6g is the knee; LARGE heaps
    # remain actively slower — 24g measured +23% total (G1 pause/
    # expansion behavior dominates long before the extra space helps).
    # On a real cluster this knob is inert (executors are sized by the
    # deploy config); SPARK_GRAFT_DRIVER_MEM re-pins it locally.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g")
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{par}]")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or par))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scans: vectorized reader + pushdown are on by default; keep
        # files from fragmenting into too many tiny tasks at bench SFs.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.executor.extraJavaOptions", "-Duser.timezone=UTC")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "1")
        .config("spark.python.daemon.module", "pmp_analytics_spark._pydaemon")
        .config("spark.executorEnv.PYTHONPATH", package_parent)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
