"""Streaming maintenance of connected-component (dedup group) labels.

The streaming form of ``operators/dedup.py::connected_components_refresh``
in the versioned-root discipline of ``streaming/substring.py``: one edge
CDC stream (rows ``(op, id_a, id_b)``, op in {'add', 'del'}) maintains
TWO versioned state roots per micro-batch:

1. the LABEL table — refreshed in O(delta + affected components)
   against the PRE-batch edge set and labels (the star rounds re-close
   only affected components);
2. the EDGE set — ``(old ∪ added) − deleted``.

Publish order is labels FIRST, edges second — deliberately the reverse
of the substring triple's dependency order, because it makes replay
time-travel unnecessary: the label refresh consumes only PRE-batch
state, and the edge apply consumes only pre-batch edges + the delta. A
crash between the two publishes leaves labels one batch ahead of edges
until the replay's edge apply catches up (readers needing a consistent
pair use ``sources/writers.py::read_consistent``, which walks both
roots' on-disk versions to the highest COMMON batch cut); a crash
before either
publish replays the whole batch; a fully committed batch skips both.

Batch-boundary independence: each edge appears in at most one delta
batch (the ``snapshot_delta`` convention applied to edges), and the
refresh is pinned to full-rebuild semantics per batch, so labels after
the last batch equal ``connected_components`` over the final edge set
regardless of slicing — which is exactly what the declared query's
oracle replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_components_stream(
    delta_stream: DataFrame,
    edges_root: str,
    labels_root: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    op_col: str = "op",
    *,
    checkpoint_dir: str,
):
    """Drain ``delta_stream`` (availableNow), maintaining the (labels,
    edges) pair at the two roots. The caller seeds both (markerless
    ``publish_versioned``: the initial edge set and its
    ``connected_components`` labels) before starting. Returns the
    terminated StreamingQuery."""
    from pmp_analytics_spark.operators.dedup import (
        canonical_edges,
        connected_components_refresh,
    )
    from pmp_analytics_spark.sources.writers import read_latest
    from pmp_analytics_spark.streaming import drain
    from pmp_analytics_spark.streaming.mv import committed, publish_batch

    spark = delta_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # materialize FIRST, then test emptiness on the checkpointed
        # frame: the batch's files are read once, by the checkpoint, not
        # also by an isEmpty scan (the per-batch constant IS the family's
        # ingest-throughput bound at scale)
        delta = batch_df.localCheckpoint(eager=True)
        if not delta.head(1):
            return
        added = delta.where(F.col(op_col) == "add").select(id_a, id_b)
        deleted = delta.where(F.col(op_col) == "del").select(id_a, id_b)
        old_edges = read_latest(spark, edges_root)
        labels_published_now = not committed(spark, labels_root, batch_id)
        if labels_published_now:
            new_labels = connected_components_refresh(
                old_edges,
                read_latest(spark, labels_root),
                added,
                deleted,
                id_a,
                id_b,
            )
            publish_batch(new_labels, labels_root, batch_id)
        # labels publish FIRST is the invariant, so when the label
        # publish just ran the edge root is necessarily behind this
        # batch — skip its marker probe (one FS round-trip per batch;
        # the probe only matters on the replay path where labels were
        # already committed and the crash sat between the two publishes)
        if labels_published_now or not committed(spark, edges_root, batch_id):
            new_edges = (
                canonical_edges(
                    old_edges.select(id_a, id_b).unionAll(added), id_a, id_b
                )
                .join(canonical_edges(deleted, id_a, id_b), ["u", "v"], "left_anti")
                .select(F.col("u").alias(id_a), F.col("v").alias(id_b))
            )
            publish_batch(new_edges, edges_root, batch_id)

    return drain(delta_stream, apply_batch, checkpoint_dir)
