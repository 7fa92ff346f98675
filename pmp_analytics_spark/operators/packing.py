"""Sequence packing — the GPT-style pretraining batch-prep step.

Training pipelines concatenate the tokenized corpus in a deterministic
order and slice it into fixed-size context windows ("bins" of
``budget`` tokens). Each document's placement is fully determined by the
exclusive prefix sum of token counts: doc d starts at global offset
``sum(n_tokens of earlier docs)`` and its first token lands in bin
``floor(offset / budget)``.

Built on operators/prefix_sum.py::running_total — no global single-
partition window anywhere, so the plan survives a 100 TB corpus: the only
data-size shuffles are the range exchange and the per-bin aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.prefix_sum import running_total


def pack_sequences(
    df: DataFrame,
    id_col: str,
    n_tokens_col: str,
    budget: int,
) -> DataFrame:
    """Assign every document its global token offset and starting bin.

    Adds ``token_offset`` (exclusive prefix sum of ``n_tokens_col`` in
    ``id_col`` order) and ``bin_id`` (the context window the document
    starts in). Documents longer than ``budget`` span multiple bins; the
    spill count is ``floor((offset % budget + n_tokens - 1) / budget)``,
    exposed as ``bins_spanned``.
    """
    offs = running_total(
        df,
        value_col=n_tokens_col,
        order_col=id_col,
        out_col="token_offset",
        include_current=False,
    )
    in_bin = F.col("token_offset") % budget
    return offs.withColumn(
        "bin_id", F.floor(F.col("token_offset") / budget).cast("long")
    ).withColumn(
        "bins_spanned",
        (
            F.floor((in_bin + F.col(n_tokens_col) - 1) / budget) + 1
        ).cast("long"),
    )
