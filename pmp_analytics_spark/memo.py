"""Session memo for what several queries share: derived artifacts (a
tokenizer or classifier fit, the co-purchase edge frame, the near-dup
bucket store, the decoded image fixture, a quantizer training sample)
and the schemas of the star-schema tables. One owner for how they are
memoized, when they are stale and how they are freed.

- The path registry keeps, per session and input path, the sorted
  ``(path, length, modtime)`` of the files under it that the session last
  saw. ``observe`` refreshes the CacheManager entries over a path only
  when that fingerprint changes (or the path is new to the session):
  those entries match by plan, and a scan compares by root path only, so
  a frame cached before a rewrite would otherwise serve its old rows. An
  unchanged path is not refreshed, so the plan-matched caches of earlier
  queries (the dedup warm path) survive.
- ``parquet_schema`` keeps a table's inferred schema while its files are
  unchanged: a ``spark.read.parquet`` without a schema runs a Spark job to
  read the footers, a read with one does not.
- ``extract`` names a disk extract of some tables (a CSV, ORC, Avro or
  JSONL copy, a partitioned rewrite) by their fingerprint and writes it
  once: repeat calls read the same files, and a rewrite in place gets a
  fresh extract instead of the old rows (the session's old extract is
  removed).
- An entry is keyed by ``(applicationId, name, params)`` and keeps the
  fingerprints of its input paths. A lookup whose fingerprint differs
  rebuilds and releases the old value; entries of another (stopped)
  ``applicationId`` are dropped.
- ``release()`` frees what the values own with ``free``, which a query
  also calls on the frames it materializes for its own run: the
  CacheManager entry of a frame the build cached (an uncached frame
  whose plan matches someone else's cache is left alone) and, for a
  ``localCheckpoint`` (a ``LogicalRDD`` plan), the checkpointed RDD's
  blocks, which ``DataFrame.unpersist`` leaves to the ContextCleaner.

Entries are bounded by (name, params) per session and the registry by
the paths observed, which callers keep to the star-schema tables and
memo inputs; there is no eviction.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from pmp_analytics_spark.sources.hadoopfs import fs_for

_entries: dict[tuple, tuple[tuple, object]] = {}  # (app id, name, params) -> (fingerprint, value)
_paths: dict[tuple, tuple] = {}  # (app id, path) -> fingerprint last observed
_schemas: dict[tuple, StructType] = {}  # (app id, path) -> schema
_extracts: dict[tuple, str] = {}  # (app id, name, inputs) -> extract path last published


def get(spark: SparkSession, name: str, params: tuple, inputs: list[str], build: Callable):
    """``build()`` memoized per (session, name, params) while the files
    under ``inputs`` (files or directories) are unchanged."""
    key = (_app(spark), name, params)
    fp = tuple(observe(spark, path) for path in inputs)
    hit = _entries.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    if hit is not None:
        free(_entries.pop(key)[1])
    value = build()
    _entries[key] = (fp, value)
    return value


def observe(spark: SparkSession, path: str) -> tuple:
    """Fingerprint of the files under ``path``; when it is not the one this
    session last saw, first refresh the cached frames that read ``path``.
    A derived file keyed by it (a disk export) is rebuilt exactly when the
    input changes."""
    key = (_app(spark), path)
    fp = _fingerprint(spark, path)
    if _paths.get(key) != fp:
        spark.catalog.refreshByPath(path)
        _paths[key] = fp
        _schemas.pop(key, None)
    return fp


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Schema of the parquet table at ``path``, inferred (one Spark job)
    only when the session has not seen its current files."""
    observe(spark, path)
    key = (spark.sparkContext.applicationId, path)
    if key not in _schemas:
        _schemas[key] = spark.read.parquet(path).schema
    return _schemas[key]


def extract(spark: SparkSession, name: str, inputs: list[str], write: Callable[[str], object]) -> str:
    """Temp path of a disk extract derived from the files under ``inputs``,
    named by their fingerprint and written by ``write(path)`` only when it
    is absent. The write goes to a fresh sibling that is renamed into
    place, so no call reads a partial extract; when a concurrent call
    published the same extract first, this call's copy is dropped.

    Publishing the extract of a new fingerprint removes the one this
    session published for the same name and inputs before: an input
    rewritten in place leaves one extract behind, not one per version.
    Another writer's extract, or its ``.tmp`` sibling, is never touched."""
    app = _app(spark)
    fp = tuple(observe(spark, path) for path in inputs)
    tag = hashlib.md5(repr(fp).encode()).hexdigest()[:10]
    path = os.path.join(tempfile.gettempdir(), f"{name}_{tag}")
    if not os.path.exists(path):
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            _remove(tmp)
        else:
            key = (app, name, tuple(inputs))
            stale = _extracts.get(key)
            _extracts[key] = path
            if stale is not None and stale != path:
                _remove(stale)
    return path


def on_tables(*tables: str):
    """Memoize ``fn(spark, sf_dir)`` per (session, sf_dir) while the named
    tables under ``sf_dir`` are unchanged."""

    def deco(fn):
        @functools.wraps(fn)
        def memoized(spark: SparkSession, sf_dir: str):
            paths = [os.path.join(sf_dir, f"{t}.parquet") for t in tables]
            name = f"{fn.__module__}.{fn.__qualname__}"
            return get(spark, name, (sf_dir,), paths, lambda: fn(spark, sf_dir))

        return memoized

    return deco


def release() -> None:
    """Free every memoized value and forget it."""
    while _entries:
        free(_entries.popitem()[1][1])


def _app(spark: SparkSession) -> str:
    """The session's applicationId, after dropping what another (stopped)
    session left: its storage is gone with it."""
    app = spark.sparkContext.applicationId
    for memo in (_entries, _paths, _schemas, _extracts):
        for key in [k for k in memo if k[0] != app]:
            del memo[key]
    return app


def _remove(path: str) -> None:
    """Delete an extract: a directory (Spark's writers) or one file (a
    single-file CSV)."""
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.exists(path):
        os.remove(path)


def _fingerprint(spark: SparkSession, path: str) -> tuple:
    fs, jpath, _, _ = fs_for(spark, path)
    if not fs.exists(jpath):
        return ()
    out = []
    files = fs.listFiles(jpath, True)
    while files.hasNext():
        st = files.next()
        out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def free(value: object) -> None:
    """Free what ``value`` (a frame or a tuple of them) owns: its
    CacheManager entry and, for a ``localCheckpoint``, the checkpointed
    RDD's blocks."""
    if type(value) is tuple:
        for v in value:
            free(v)
    elif isinstance(value, DataFrame):
        try:
            if value.is_cached:
                value.unpersist()
            plan = value._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(True)
        except Py4JError:  # its session is already stopped
            pass
