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
    *,
    checkpoint_dir: str,
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
        list_versions,
        read_latest,
        read_version,
    )
    from pmp_analytics_spark.streaming import drain
    from pmp_analytics_spark.streaming.mv import committed, publish_batch

    # publish_versioned keeps 3 versions (>= 2): the span step's replay
    # path time-travels to the index's pre-batch version
    spark = delta_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # materialize FIRST, then test emptiness on the checkpointed
        # frame: the batch's files are read once, by the checkpoint, not
        # also by an isEmpty scan (cdc_components_stream's order)
        delta = batch_df.localCheckpoint(eager=True)  # 4 consumers
        if not delta.head(1):
            return
        if not committed(spark, docs_root, batch_id):
            new_docs = apply_snapshot_delta(
                read_latest(spark, docs_root), delta, [id_col]
            )
            publish_batch(new_docs, docs_root, batch_id)
        if not committed(spark, index_root, batch_id):
            index_old = read_latest(spark, index_root)
            index_new = substring_index_refresh(
                index_old, delta, min_len, id_col, text_col
            )
            publish_batch(index_new, index_root, batch_id)
        else:
            # replayed batch past a committed index publish: the span
            # step still needs the PRE-batch index — time-travel to the
            # version preceding live (one publish per batch per root)
            versions = [n for n, _ in list_versions(spark, index_root)]
            live = [n for n, is_live in list_versions(spark, index_root) if is_live]
            prev = versions[versions.index(live[0]) - 1]
            index_old = read_version(spark, index_root, prev)
        if committed(spark, spans_root, batch_id):
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
        )
        publish_batch(new_spans, spans_root, batch_id)

    return drain(delta_stream, apply_batch, checkpoint_dir)
