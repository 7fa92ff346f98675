"""Streaming maintenance of the EXACT substring-dedup state.

The streaming form of ``operators/suffix_array.py``'s incremental
substring dedup, in the multiplexed-changefeed discipline of
``streaming/mv.py::cdc_join_mv_stream``: one document CDC stream
(``snapshot_delta`` rows over (doc_id, text)) maintains THREE versioned
state roots per micro-batch, in a FIXED order that keeps the triple
crash-consistent under replay:

1. the document snapshot (``apply_snapshot_delta`` — the text source
   for affected-doc re-shingling);
2. the literal-gram index (``substring_index_refresh``);
3. the duplicate-span table (``substring_spans_refresh`` — recomputed
   only for the batch's docs + holders of count-boundary-crossing
   grams, against the post-batch index and snapshot).

Each root carries its own ``batch:<id>`` marker. A crash between
publishes replays the batch; committed roots skip their apply, and the
SPAN step reads the index's PRE-BATCH version through the versioned
store's time travel (``read_version`` on the version preceding live),
which ``publish_versioned``'s default retention keeps readable.

Batch-boundary independence: ``snapshot_delta`` emits each key once, so
micro-batches touch disjoint doc sets; a doc's spans recompute in every
batch whose gram flips touch it and stand pat otherwise — exactly the
condition under which spans-after-the-last-batch equal the full
recompute over the final corpus (pinned in tests against the one-shot
apply and the batch rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cdc_substring_dedup_stream(
    delta_stream: DataFrame,
    docs_root: str,
    index_root: str,
    spans_root: str,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """Drain ``delta_stream`` (availableNow), maintaining the
    (documents, gram index, span table) triple at the three roots. The
    caller seeds all three (markerless ``publish_versioned``) before
    starting. Returns the terminated StreamingQuery."""
    from pmp_analytics_spark.operators.diff import apply_snapshot_delta
    from pmp_analytics_spark.operators.suffix_array import (
        substring_index_refresh,
        substring_spans_refresh,
    )
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        list_versions,
        publish_versioned,
        read_latest,
        read_version,
    )
    from pmp_analytics_spark.streaming.mv import (
        batch_marker,
        migrate_legacy_marker,
        parse_batch_marker,
    )

    # publish_versioned keeps 3 versions (>= 2): the span step's replay
    # path time-travels to the index's pre-batch version
    spark = delta_stream.sparkSession
    for root in (docs_root, index_root, spans_root):
        migrate_legacy_marker(spark, root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = batch_df.localCheckpoint(eager=True)  # 4 consumers
        docs_committed = parse_batch_marker(latest_marker(spark, docs_root))
        if docs_committed is None or docs_committed < batch_id:
            new_docs = apply_snapshot_delta(
                read_latest(spark, docs_root), delta, [id_col]
            ).coalesce(1)
            publish_versioned(new_docs, docs_root, marker=batch_marker(batch_id))
        idx_committed = parse_batch_marker(latest_marker(spark, index_root))
        if idx_committed is None or idx_committed < batch_id:
            index_old = read_latest(spark, index_root)
            index_new = substring_index_refresh(
                index_old, delta, min_len, id_col, text_col
            ).coalesce(1)
            publish_versioned(index_new, index_root, marker=batch_marker(batch_id))
        else:
            # replayed batch past a committed index publish: the span
            # step still needs the PRE-batch index — time-travel to the
            # version preceding live (one publish per batch per root)
            versions = [n for n, _ in list_versions(spark, index_root)]
            live = [n for n, is_live in list_versions(spark, index_root) if is_live]
            prev = versions[versions.index(live[0]) - 1]
            index_old = read_version(spark, index_root, prev)
        spans_committed = parse_batch_marker(latest_marker(spark, spans_root))
        if spans_committed is not None and spans_committed >= batch_id:
            return  # fully committed batch
        index_cur = read_latest(spark, index_root)
        docs_cur = read_latest(spark, docs_root)
        new_spans = substring_spans_refresh(
            index_old,
            index_cur,
            read_latest(spark, spans_root),
            delta,
            docs_cur,
            min_len,
            id_col,
            text_col,
        ).coalesce(1)
        publish_versioned(new_spans, spans_root, marker=batch_marker(batch_id))

    writer = delta_stream.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return q
