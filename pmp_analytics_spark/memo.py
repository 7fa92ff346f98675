"""Session memo for derived artifacts that several queries share (a
tokenizer or classifier fit, the co-purchase edge frame, the near-dup
bucket store, a quantizer training sample): one owner for how they are
memoized, when they are stale and how they are freed.

- An entry is keyed by ``(applicationId, name, params)`` and keeps the
  sorted ``(path, length, modtime)`` of every file under its input
  paths. A lookup whose fingerprint differs rebuilds and releases the
  old value; entries of another (stopped) ``applicationId`` are dropped.
- A build first refreshes the CacheManager entries over its inputs:
  they match by plan, and a scan compares by root path only, so a frame
  cached before a rewrite would feed its old rows into the new artifact.
- ``release()`` frees what the values own: the CacheManager entry of a
  frame the build cached (an uncached frame whose plan matches someone
  else's cache is left alone) and, for a ``localCheckpoint`` (a
  ``LogicalRDD`` plan), the checkpointed RDD's blocks, which
  ``DataFrame.unpersist`` leaves to the ContextCleaner.

Entries are bounded by (name, params) per session; there is no eviction.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from pmp_analytics_spark.sources.hadoopfs import fs_for

_entries: dict[tuple, tuple[tuple, object]] = {}  # (app id, name, params) -> (fingerprint, value)


def get(spark: SparkSession, name: str, params: tuple, inputs: list[str], build: Callable):
    """``build()`` memoized per (session, name, params) while the files
    under ``inputs`` (files or directories) are unchanged."""
    app = spark.sparkContext.applicationId
    for key in [k for k in _entries if k[0] != app]:
        del _entries[key]  # its session, and that session's storage, is gone
    key, fp = (app, name, params), _fingerprint(spark, inputs)
    hit = _entries.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    if hit is not None:
        _free(_entries.pop(key)[1])
    for path in inputs:
        spark.catalog.refreshByPath(path)
    value = build()
    _entries[key] = (fp, value)
    return value


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
        _free(_entries.popitem()[1][1])


def _fingerprint(spark: SparkSession, paths: list[str]) -> tuple:
    out = []
    for path in paths:
        fs, jpath, _, _ = fs_for(spark, path)
        if not fs.exists(jpath):
            continue
        files = fs.listFiles(jpath, True)
        while files.hasNext():
            st = files.next()
            out.append((st.getPath().toString(), st.getLen(), st.getModificationTime()))
    return tuple(sorted(out))


def _free(value: object) -> None:
    if type(value) is tuple:
        for v in value:
            _free(v)
    elif isinstance(value, DataFrame):
        try:
            if value.is_cached:
                value.unpersist()
            plan = value._jdf.queryExecution().analyzed()
            if plan.getClass().getSimpleName() == "LogicalRDD":
                plan.rdd().unpersist(True)
        except Py4JError:  # its session is already stopped
            pass
