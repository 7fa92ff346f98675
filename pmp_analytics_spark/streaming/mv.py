"""Streaming materialized-view maintenance from a CDC feed.

The streaming form of ``operators/diff.py::incremental_mv_refresh``: a
change-data stream (``snapshot_delta`` rows — ``change_type`` +
``old_*``/``new_*`` columns) keeps a SUM/COUNT rollup current, one
micro-batch at a time, without ever rescanning the base table. Movement
per batch is O(|batch delta|) + one view-sized merge — the production
shape for keeping 100 TB rollups fresh off a changefeed.

Exactly-once: additive refresh is NOT idempotent (replaying a batch
double-applies it), so each publish carries the micro-batch id as the
``publish_versioned`` commit marker, written inside the immutable
version dir before the atomic ``_LATEST`` flip. A replayed batch finds
its own id (or a later one) already committed and skips — the pointer
flip is the transaction. The guard relies on Structured Streaming's
nondecreasing batch ids per checkpoint, so one state ``root`` must be
paired with ONE checkpoint lineage; resuming the same checkpoint (the
normal continue-the-feed path) extends ids monotonically.

Batch-boundary independence: refresh contributions are associative and
commutative sums, so ANY slicing of the delta into micro-batches yields
the same final view — pinned in tests against the single-shot batch
refresh and the full recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_MARKER_PREFIX = "batch:"


def batch_marker(batch_id: int) -> str:
    """Namespaced commit marker the streaming refresh loops write."""
    return f"{_MARKER_PREFIX}{batch_id}"


def parse_batch_marker(mk: str | None) -> int | None:
    """Committed batch id carried by a version marker, or None.

    ``publish_versioned`` accepts arbitrary marker strings, so the
    stream loops NAMESPACE theirs (``batch:<id>``) — ONLY that form is
    a batch commit. A semantic marker someone else published
    (``v2024-01``, ``repair-1``) is not, and neither is a bare number:
    a date-stamped ``20240101`` parsed as a batch id would satisfy
    ``committed >= batch_id`` for every real batch and silently skip
    them all — worse than any crash.
    """
    if mk is None or not mk.startswith(_MARKER_PREFIX):
        return None
    try:
        return int(mk[len(_MARKER_PREFIX) :])
    except ValueError:
        return None


def committed(spark, root: str, batch_id: int) -> bool:
    """Whether the live version at ``root`` already carries batch
    ``batch_id`` (or a later one): the replay check every maintenance
    loop runs before it applies a batch to a root. Reads two tiny
    pointer files, never data."""
    from pmp_analytics_spark.sources.writers import latest_marker

    done = parse_batch_marker(latest_marker(spark, root))
    return done is not None and done >= batch_id


def publish_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Publish ``df`` as the next version at ``root``, committed as batch
    ``batch_id``. One file per version: maintained state is small, and
    writing it through the session's full shuffle-partition count costs
    one file-create + footer per partition PER BATCH (measured
    32-partition publishes dominated the demo query's wall)."""
    from pmp_analytics_spark.sources.writers import publish_versioned

    publish_versioned(df.coalesce(1), root, marker=batch_marker(batch_id))


def cdc_apply_stream(
    delta_stream: DataFrame,
    root: str,
    refresh_fn,
    checkpoint_dir: str,
):
    """The shared exactly-once state-maintenance loop: drain
    ``delta_stream`` (availableNow), applying ``refresh_fn(current_state,
    batch_df) -> new_state`` to the versioned state at ``root`` with the
    micro-batch id as commit marker (replayed batches skip — refresh
    functions need not be idempotent, only deterministic per batch).

    The caller seeds ``root`` with the initial state (one
    ``publish_versioned(state0, root)`` — no marker) before starting.
    Returns the terminated StreamingQuery.
    """
    from pmp_analytics_spark.sources.writers import read_latest
    from pmp_analytics_spark.streaming import drain

    spark = delta_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if committed(spark, root, batch_id):
            return  # replayed batch: its effect is already committed
        if batch_df.isEmpty():
            # an empty delta is an identity refresh: publishing it would
            # rewrite the whole state and burn one retained-version slot of the
            # rollback horizon for nothing (its replay effect is nil, so
            # skipping the marker advance is also safe)
            return
        # the lazy read of the CURRENT version feeds the write of the
        # NEXT one; the old dir is immutable during the write and
        # survives version pruning long past the read
        publish_batch(refresh_fn(read_latest(spark, root), batch_df), root, batch_id)

    return drain(delta_stream, apply_batch, checkpoint_dir)


def cdc_join_mv_stream(
    delta_stream: DataFrame,
    view_root: str,
    dim_root: str,
    fact_key: str,
    dim_fk: str,
    dim_key: str,
    dim_cols: list[str],
    entity_col: str = "entity",
    fact_tag: str = "fact",
    dim_tag: str = "dim",
    *,
    checkpoint_dir: str,
):
    """Maintain a denormalized JOIN view (``operators/diff.py::
    join_mv_refresh``) AND its dimension snapshot from ONE multiplexed
    CDC stream — the one-changefeed-per-database shape: fact and dim
    change rows share the feed (schemas unioned by name, absent columns
    NULL), tagged apart by ``entity_col``.

    Per micro-batch, in a FIXED order that keeps the pair of state roots
    crash-consistent under replay:

    1. the dim slice upserts the dimension snapshot at ``dim_root``
       (``apply_snapshot_delta``);
    2. ``join_mv_refresh`` applies both slices to the view at
       ``view_root``, consulting the POST-batch dimension for fact
       inserts.

    Each root carries its own ``batch:<id>`` marker, so a crash between
    the two publishes replays the batch, skips the already-committed dim
    apply, and completes the view apply against exactly the dim state
    the first attempt saw. Batch-boundary independence: every delta key
    appears once per snapshot transition, dim state grows monotonically
    toward the new snapshot across the drain, and dim patches reach
    every surviving view row — so ANY slicing of the two deltas into
    micro-batches lands on the same final view (pinned in tests against
    the one-shot batch refresh and the full re-join).

    The caller seeds ``view_root`` with the initial view and ``dim_root``
    with the initial dimension before starting.
    """
    from pmp_analytics_spark.operators.diff import (
        apply_snapshot_delta,
        join_mv_refresh,
    )
    from pmp_analytics_spark.sources.writers import read_latest
    from pmp_analytics_spark.streaming import drain
    from pyspark.sql import functions as F

    spark = delta_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        view_cols = read_latest(spark, view_root).columns
        fact_val_cols = [
            c for c in view_cols if c not in dim_cols and c != fact_key
        ]
        fd = batch_df.where(F.col(entity_col) == fact_tag).select(
            fact_key,
            "change_type",
            *[f"old_{c}" for c in fact_val_cols],
            *[f"new_{c}" for c in fact_val_cols],
        )
        dd = batch_df.where(F.col(entity_col) == dim_tag).select(
            dim_key,
            "change_type",
            *[f"old_{c}" for c in dim_cols],
            *[f"new_{c}" for c in dim_cols],
        )
        # a fact-only batch is an identity dim apply: publishing it would
        # rewrite the whole dimension and burn a retained rollback slot
        # per batch for nothing (replay stays safe — re-skipping an
        # identity is the same identity)
        if not committed(spark, dim_root, batch_id) and not dd.isEmpty():
            new_dim = apply_snapshot_delta(
                read_latest(spark, dim_root), dd, [dim_key]
            )
            publish_batch(new_dim, dim_root, batch_id)
        dim_cur = read_latest(spark, dim_root)  # post-batch dimension
        if committed(spark, view_root, batch_id):
            return  # replayed batch: view effect already committed
        new_view = join_mv_refresh(
            read_latest(spark, view_root),
            fd,
            dd,
            dim_cur,
            fact_key,
            dim_fk,
            dim_key,
            dim_cols,
        )
        publish_batch(new_view, view_root, batch_id)

    return drain(delta_stream, apply_batch, checkpoint_dir)


def score_then_update_stream(
    delta_stream,
    state_root: str,
    scores_root: str,
    score_fn,
    update_fn,
    checkpoint_dir: str,
):
    """The SERVE-then-LEARN maintenance loop (online-scoring discipline):
    per micro-batch, score the incoming rows against the CURRENT
    published state — ``score_fn(state_df, batch_df, batch_id) ->
    batch_scores`` — append them to the cumulative scores root, THEN
    apply ``update_fn(state_df, batch_df) -> new_state``. Batch b's
    scores are therefore model-version-correct: computed under the
    state as of batches < b, never under a model that has already seen
    the row (the backtesting/leakage rule, enforced by construction).

    Exactly-once via per-root ``batch:<id>`` markers (the
    ``cdc_apply_stream`` contract); scores publish FIRST — both reads
    consume only pre-batch state, so replay needs no time travel, and a
    crash between the two publishes is repaired by the state apply on
    replay (consistent pairs via ``sources/writers.py::read_consistent``).
    The caller seeds BOTH roots (markerless) before starting."""
    from pmp_analytics_spark.sources.writers import read_latest
    from pmp_analytics_spark.streaming import drain

    spark = delta_stream.sparkSession

    def apply_batch(batch_df, batch_id: int) -> None:
        delta = batch_df.localCheckpoint(eager=True)
        if not delta.head(1):
            return
        state = read_latest(spark, state_root)
        scores_published_now = not committed(spark, scores_root, batch_id)
        if scores_published_now:
            batch_scores = score_fn(state, delta, batch_id)
            cumulative = read_latest(spark, scores_root).unionByName(
                batch_scores
            )
            publish_batch(cumulative, scores_root, batch_id)
        # scores-first invariant: when the scores publish just ran, the
        # state root is necessarily behind this batch — skip its probe
        if scores_published_now or not committed(spark, state_root, batch_id):
            publish_batch(update_fn(state, delta), state_root, batch_id)

    return drain(delta_stream, apply_batch, checkpoint_dir)
