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
- Class-data sharing: the driver JVM maps the ~12k Spark and Scala classes
  a session loads from a JDK dynamic CDS archive instead of loading and
  verifying them from 287 jars on every start (``get_spark`` ~6.5 → ~3.6 s
  on 4 vCPUs). The archive lives in ``$XDG_CACHE_HOME`` (or ``~/.cache``)
  ``/pmp_analytics_spark/<key>.jsa``; its key hashes the java binary, the
  JVM's conf dir and every Spark jar (path, size, mtime), the classpath
  the JVM checks an archive against, so a JDK or Spark upgrade starts a
  new one and the old one is deleted. With no archive for the key, the
  session's JVM dumps one at exit to ``<key>.<pid>.jsa`` (only if the
  cache dir was kept from an earlier launch: in a fresh container the
  dump would be thrown away, so there none is made), and a later
  launch promotes it with ``os.replace`` only once the JVM has exited and
  its ``cds+dynamic`` log says the dump was written in full: a torn archive
  crashes the JVM that maps it, while a rename never changes a file some
  JVM already maps. The JDK refuses to
  dump with a non-empty directory on the classpath, and Spark always puts
  its conf dir there; a conf dir holding only ``*.template`` files (which
  Spark never reads) is swapped for an empty one for the launch, and one
  holding real config turns the archive off.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return max(1, int(cpus))
        except ValueError:
            pass
    return os.cpu_count() or 8


# Classpath sources the launcher adds besides the conf dir and
# ``<spark home>/jars/*``: the archive key does not cover them, and the JDK
# refuses to dump with a non-empty directory among them.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES")
# Characters that would split or end a path inside the JVM options.
_OPTION_UNSAFE = frozenset(" \t\n'\",:=")
# The JVM logs this line after the dump file is written and closed.
_DUMP_WRITTEN = re.compile(rb"Written dynamic archive .* (\d+) bytes total\]")
# ``<key>.jsa``, and ``<key>.<pid>.jsa``/``.log`` of a dump
_ARCHIVE_FILE = re.compile(r"[0-9a-f]{16}(?:\.\d+)?\.(?:jsa|log)")
_EMPTY_CONF = "empty-conf"


@dataclass(frozen=True)
class ClassArchive:
    """How a driver JVM uses the class-data-sharing archive: ``mode`` is
    ``"map"`` (``path`` is the archive), ``"dump"`` (``path`` is the file
    the JVM writes at exit) or ``"off"`` (``reason`` says why)."""

    mode: str
    path: str = ""
    reason: str = ""

    def java_options(self) -> str:
        # CDS warnings go to the JVM's stdout, which is the Python
        # process's: a dump writes over a thousand of them
        if self.mode == "map":
            return f"-XX:SharedArchiveFile={self.path} -Xlog:cds*=off"
        log = self.path[: -len(".jsa")] + ".log"
        return f"-XX:ArchiveClassesAtExit={self.path} -Xlog:cds*=off -Xlog:cds+dynamic=info:file={log}"


# How the driver JVM this process launched uses the archive (a Python
# process has one gateway JVM); None until ``get_spark`` launches one.
launched_archive: ClassArchive | None = None


def cache_dir() -> str:
    """The per-user cache dir that holds the class archive."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "pmp_analytics_spark")


def archive_key(spark_home: str, conf_dir: str) -> str:
    """A hash over what the archived classes come from: the java binary
    spark-class runs (``$JAVA_HOME/bin/java``, else ``java`` on the PATH),
    the JVM's conf dir and each file of ``<spark home>/jars``, by path,
    size and mtime. The JVM refuses an archive dumped with another
    classpath, so a cache dir copied to a new path gets a new key."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.realpath(os.path.join(home, "bin", "java") if home else shutil.which("java") or "java")
    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(os.fsencode(conf_dir) + b"\n")
    for path in [java, *(os.path.join(jars, n) for n in sorted(os.listdir(jars)))]:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _dump_size(stem: str) -> int:
    """The size of ``<stem>.jsa`` if its JVM logged it as written in full,
    else 0."""
    try:
        with open(stem + ".log", "rb") as f:
            done = _DUMP_WRITTEN.search(f.read())
        size = os.path.getsize(stem + ".jsa")
    except OSError:
        return 0
    return size if done and size >= int(done.group(1)) else 0


def _command_lines() -> list[bytes]:
    """The command lines of the live processes, read from ``/proc``;
    raises ``OSError`` where there is no ``/proc`` to list."""
    cmds = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmds.append(f.read())
            except OSError:  # exited since the listing
                continue
    return cmds


def _sweep(cache: str, key: str, cmdlines: list[bytes]) -> tuple[str | None, bool]:
    """Promote the completed dumps of ``key`` to ``<key>.jsa`` and delete
    every other archive, dump and log in ``cache`` that no live JVM still
    writes: a dump named in one of ``cmdlines`` is still to be written at
    its JVM's exit. Returns the archive's path, if there is one, and
    whether a live JVM is dumping ``key``."""
    archive = os.path.join(cache, key + ".jsa")
    names = [n for n in os.listdir(cache) if _ARCHIVE_FILE.fullmatch(n)]
    files = [os.path.join(cache, n) for n in names]
    dumps = {os.path.join(cache, n[:-4]) for n in names if n.count(".") == 2}
    live = {d for d in dumps if any(os.fsencode(d + ".jsa") in c for c in cmdlines)}
    ours = {d for d in dumps if os.path.basename(d).startswith(key + ".")}
    sizes = {d: _dump_size(d) for d in ours - live}
    # the largest complete dump is promoted last, so it is the one kept
    for stem in sorted((d for d in sizes if sizes[d]), key=sizes.get):
        try:
            os.replace(stem + ".jsa", archive)
        except FileNotFoundError:  # a concurrent launch promoted it
            pass
    for f in files:
        if f != archive and f[:-4] not in live:
            try:
                os.remove(f)
            except FileNotFoundError:
                pass
    return (archive if os.path.exists(archive) else None), bool(ours & live)


def plan_class_archive(spark_home: str, conf: dict[str, str]) -> ClassArchive:
    """How the driver JVM about to launch with ``conf`` uses the archive.
    Tidies the cache dir on the way (see ``_sweep``).

    A dump costs its session seconds of set-up and exit and ~185 MB of
    disk, and pays off only if the cache dir outlives the process: in a
    fresh container every run would dump and throw the file away. So a
    launch dumps only when the cache dir was kept from an earlier one,
    which the empty conf dir an earlier launch left there shows, and
    when no other live JVM is dumping the same key: concurrent dumps
    would each pay that cost for one archive."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        config = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        config = []
    if config:
        return ClassArchive("off", reason=f"conf dir {conf_dir} holds {', '.join(config)}")
    extra = [v for v in _CLASSPATH_ENV if os.environ.get(v)]
    if conf.get("spark.driver.extraClassPath"):
        extra.append("spark.driver.extraClassPath")
    if extra:
        return ClassArchive("off", reason=f"extra classpath entries from {', '.join(extra)}")
    cache = cache_dir()
    if _OPTION_UNSAFE & set(cache):
        return ClassArchive("off", reason=f"cache dir {cache!r} cannot be passed in JVM options")
    empty_conf = os.path.join(cache, _EMPTY_CONF)
    try:
        key = archive_key(spark_home, empty_conf)
    except OSError as e:  # no java binary or jars dir to key on
        return ClassArchive("off", reason=f"no archive key: {e}")
    try:
        cmdlines = _command_lines()
    except OSError as e:
        return ClassArchive("off", reason=f"no process list to tell a live dump from a dead one: {e}")
    try:
        kept = os.path.isdir(empty_conf)
        os.makedirs(empty_conf, exist_ok=True)
        if not os.access(cache, os.W_OK | os.X_OK):
            return ClassArchive("off", reason=f"cache dir {cache} is not writable")
        archive, dumping = _sweep(cache, key, cmdlines)
    except OSError as e:
        return ClassArchive("off", reason=f"cache dir {cache} unusable: {e}")
    if archive:
        return ClassArchive("map", archive)
    if not kept:
        return ClassArchive("off", reason=f"cache dir {cache} is new: a launch that finds it kept dumps the archive")
    if dumping:
        return ClassArchive("off", reason=f"another JVM is dumping {key}")
    return ClassArchive("dump", os.path.join(cache, f"{key}.{os.getpid()}.jsa"))


def class_archive_state(spark: SparkSession) -> str:
    """How the session's driver JVM uses the archive (a file in
    ``cache_dir()``), checked against the JVM's ``/proc/<pid>/maps``."""
    archive = launched_archive
    if archive is None:
        return "unknown: this process did not launch the driver JVM"
    if archive.mode == "off":
        return f"off: {archive.reason}"
    name = os.path.basename(archive.path)
    if archive.mode == "dump":
        return f"dumping {name} at exit"
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
        if archive.path not in f.read():
            return f"not mapped: the JVM refused {name}"
    return f"mapped {name} ({os.path.getsize(archive.path) / 2**20:.0f} MB)"


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
    global launched_archive
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
    conf = {
        "spark.driver.memory": driver_mem,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or par),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Parquet scans: vectorized reader + pushdown are on by default; keep
        # files from fragmenting into too many tiny tasks at bench SFs.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.extraJavaOptions": "-Duser.timezone=UTC",
        "spark.executor.extraJavaOptions": "-Duser.timezone=UTC",
        "spark.python.factory.idleWorkerMaxPoolSize": "1",
        "spark.python.daemon.module": "pmp_analytics_spark._pydaemon",
        "spark.executorEnv.PYTHONPATH": package_parent,
        **(extra_conf or {}),
    }
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        archive = launched_archive = plan_class_archive(_find_spark_home(), conf)
        if archive.mode != "off":
            conf["spark.driver.extraJavaOptions"] += " " + archive.java_options()
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{par}]")
    for k, v in conf.items():
        builder = builder.config(k, v)
    if archive is None or archive.mode == "off":
        return builder.getOrCreate()
    # the launcher copies os.environ into the JVM's environment; later
    # subprocesses of this process must not inherit the empty conf dir
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(cache_dir(), _EMPTY_CONF)
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
