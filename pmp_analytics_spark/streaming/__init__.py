"""Structured Streaming: the engine's incremental path, and the one harness
every stream query runs in.

The harness is three pieces, shared by all stream queries:

- ``stream_workdir(name)``: the query's working dir (feed files, sinks,
  checkpoint, versioned state), removed when the ``with`` block exits,
  also when the body raises;
- ``drain(stream, on_batch, checkpoint_dir)``: the only ``foreachBatch``
  drain — one availableNow pass over everything in the source;
- ``run_to_memory``: the same pass into an in-memory table, for streams
  whose result is the sink itself.

The exactly-once maintenance loops built on ``drain`` (``mv.py``,
``scd.py``, ``substring.py``, ``components.py``) share one batch-commit
check and one marker publish (``mv.py::committed``/``publish_batch``).
"""

import os
import shutil
import tempfile
import time
from contextlib import contextmanager

from pmp_analytics_spark.streaming.ingest import neardup_ingest_stream
from pmp_analytics_spark.streaming.joins import view_purchase_pairs
from pmp_analytics_spark.streaming.sessions import (
    read_event_stream,
    streaming_event_type_counts,
    streaming_sessions,
)

__all__ = [
    "drain",
    "neardup_ingest_stream",
    "read_event_stream",
    "run_to_memory",
    "stream_workdir",
    "streaming_event_type_counts",
    "streaming_sessions",
    "view_purchase_pairs",
]


_STALE_WORKDIR_SECONDS = 3600.0


@contextmanager
def stream_workdir(name: str):
    """A fresh working directory for one stream query run, under one fixed
    per-query parent, removed on exit from the ``with`` block whether the
    body returned or raised. Anything the query returns must be detached
    from the dir first (``localCheckpoint(eager=True)``).

    Children older than an hour are purged on entry: a killed process
    never reaches the exit. Only stale children go, so a concurrent run
    of the same query (overlapping bench/correctness runs on one host)
    never loses its live checkpoint or state mid-stream."""
    parent = os.path.join(tempfile.gettempdir(), name)
    os.makedirs(parent, exist_ok=True)
    cutoff = time.time() - _STALE_WORKDIR_SECONDS
    for child in os.listdir(parent):
        path = os.path.join(parent, child)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent cleanup; nothing to do
    work = tempfile.mkdtemp(dir=parent)
    try:
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


def drain(stream, on_batch, checkpoint_dir: str):
    """Drain ``stream`` through ``on_batch(batch_df, batch_id)`` in one
    availableNow pass: everything currently in the source, then stop.

    The checkpoint carries the source offsets, so re-running on the same
    ``checkpoint_dir`` processes only files that arrived since; batch ids
    are replay-stable and nondecreasing per checkpoint, which is what the
    sinks' and maintenance loops' exactly-once rules rest on. A batch that
    raises stops the query, and the error surfaces here. Returns the
    terminated StreamingQuery."""
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def run_to_memory(
    sdf,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
):
    """Drain the stream into an in-memory table via one availableNow pass
    (backfill semantics: process everything currently in the source, then
    stop). Query results land in ``spark.table(name)``.

    ``state_partitions`` sizes the stateful-operator shuffle (pinned from
    ``spark.sql.shuffle.partitions`` at stream start and then fixed for
    the checkpoint's lifetime): every state partition pays a per-micro-
    batch state-store commit, so it should track STATE volume, not
    cluster width — measured here, a tiny-state stream-stream join runs
    2x faster at 8 state partitions than at 32. At production scale the
    same knob goes UP with keyspace size. The session-wide conf is
    restored after the drain.

    Returns the terminated StreamingQuery so callers can inspect
    ``recentProgress`` (e.g. to assert how many micro-batches ran).
    """
    spark = sdf.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
