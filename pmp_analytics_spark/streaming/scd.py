"""Streaming Type-2 dimension maintenance from a CDC feed.

A plain streaming SCD2 dimension is ``streaming/mv.py::cdc_apply_stream``
with ``operators/scd.py::scd2_apply`` as its refresh: each micro-batch of
``snapshot_delta`` rows closes the touched keys' current intervals and
opens their new ones, and the refreshed dimension publishes through the
atomic ``_LATEST`` flip. Exactly-once: re-applying a batch would
DUPLICATE its opened intervals (the close half is naturally idempotent —
a closed row no longer matches the current-row join — but the insert
half is not), so each publish carries the micro-batch id as the commit
marker and replayed batches skip. Batch-boundary independence:
``snapshot_delta`` emits each key once, so any slicing into
micro-batches touches disjoint keys and applying them in any grouping
yields the same dimension — pinned in tests against the single-shot
batch apply.

This module adds the loop that serves facts against that dimension as
it evolves: ``cdc_pointintime_stream``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def cdc_pointintime_stream(
    feed_stream: DataFrame,
    dim_root: str,
    out_root: str,
    keys: list[str],
    attr_cols: list[str],
    fact_cols: list[str],
    fact_ts: str,
    entity_col: str = "entity",
    dim_tag: str = "dim",
    fact_tag: str = "fact",
    eff_col: str = "eff_ts",
    *,
    checkpoint_dir: str,
):
    """STREAMING point-in-time serving join — the online feature-store
    shape (VERDICT r7 #6): ONE multiplexed feed carries dimension CDC
    rows (``snapshot_delta`` columns + per-row effective tick
    ``eff_col``) and fact rows (``fact_cols`` + probe instant
    ``fact_ts``), tagged apart by ``entity_col``. Per micro-batch, in a
    FIXED order that keeps the two state roots crash-consistent under
    replay (the ``cdc_join_mv_stream`` discipline):

    1. the dim slice closes/opens intervals in the versioned Type-2
       dimension at ``dim_root`` (``scd2_apply``, effective at each
       row's ``eff_col``);
    2. the fact slice enriches AS OF each fact's own ``fact_ts``
       against the POST-batch dimension HISTORY (``asof_join`` on
       ``valid_from`` + interval-expiry nulling: a match whose
       ``valid_to`` <= the probe instant means the key had NO valid
       version then — removed-key gap semantics), and the enriched
       rows append to the versioned output at ``out_root``.

    Each root carries its own ``batch:<id>`` marker: a crash between
    the two publishes replays the batch, skips the committed dim apply,
    and completes the enrichment against exactly the dim state the
    first attempt saw.

    Ordering contract (what makes multi-batch ≡ one-shot batch, pinned
    in tests): every dim change with ``eff_col`` <= a fact's
    ``fact_ts`` must arrive in the fact's batch or earlier. Under it,
    enriching against the evolving dimension equals enriching against
    the FINAL dimension: later changes only open intervals starting
    after the probe instant or close ones the expiry rule resolves
    identically. Facts enrich exactly once (at their arrival batch) —
    the output never re-joins.
    """
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.joins import asof_join
    from pmp_analytics_spark.operators.scd import scd2_apply
    from pmp_analytics_spark.sources.writers import read_latest
    from pmp_analytics_spark.streaming import drain
    from pmp_analytics_spark.streaming.mv import committed, publish_batch

    spark = feed_stream.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dd = batch_df.where(F.col(entity_col) == dim_tag).select(
            *keys,
            "change_type",
            *[f"old_{a}" for a in attr_cols],
            *[f"new_{a}" for a in attr_cols],
            eff_col,
        )
        fd = batch_df.where(F.col(entity_col) == fact_tag).select(
            *fact_cols, *keys, fact_ts
        )
        if not committed(spark, dim_root, batch_id) and not dd.isEmpty():
            new_dim = scd2_apply(
                read_latest(spark, dim_root),
                dd,
                keys,
                attr_cols,
                F.col(eff_col),
            )
            publish_batch(new_dim, dim_root, batch_id)
        if committed(spark, out_root, batch_id):
            return  # replayed batch: enrichment already committed
        dim_cur = read_latest(spark, dim_root)  # post-batch history
        # Pre-filter the dimension HISTORY to keys this batch's facts
        # actually probe (guide §3.2 — the semi-join form of the
        # Bloom-filter pre-filter): the as-of join is keyed left-join
        # shaped, so a dim row whose key appears in no fact contributes
        # nothing — dropping it before the union+window is lossless and
        # cuts the shuffled dim side from |history| to O(batch keys).
        # The build side is the batch's distinct key set (batch-bounded
        # by construction; the planner broadcasts it off the micro-batch
        # file stats).
        fact_keys = fd.select(*keys).distinct()
        enriched = asof_join(
            fd,
            dim_cur.select(*keys, *attr_cols, "valid_from", "valid_to")
            .join(fact_keys, list(keys), "left_semi"),
            keys,
            left_ts=fact_ts,
            right_ts="valid_from",
        )
        expired = F.col("valid_to").isNotNull() & (
            F.col("valid_to") <= F.col(fact_ts)
        )
        enriched = enriched.select(
            *fact_cols,
            *keys,
            fact_ts,
            *[
                F.when(~expired, F.col(a)).alias(a)
                for a in [*attr_cols, "valid_from"]
            ],
        )
        new_out = read_latest(spark, out_root).unionByName(enriched)
        publish_batch(new_out, out_root, batch_id)

    return drain(feed_stream, apply_batch, checkpoint_dir)
