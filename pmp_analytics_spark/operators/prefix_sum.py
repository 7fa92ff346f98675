"""Distributed exact prefix sum (running total) without a global window.

A naive ``SUM(x) OVER (ORDER BY k)`` compiles to a single-partition window
(`Exchange SinglePartition`) — one task scans the entire dataset, which is
the canonical 100 TB anti-pattern. The scalable formulation is the classic
two-phase scan:

1. range-partition by the order key (cluster-wide sort order, ~even splits);
2. per-partition partial sums — a tiny aggregate of ``n_partitions`` rows;
3. exclusive prefix over those partials — computed as a TRIANGULAR
   broadcast self-join over the n_partitions-row frame (bounded at
   n_partitions² pairs regardless of data scale) rather than an
   unpartitioned window, so no plan node ever declares a global window
   (WindowExec's "No Partition Defined" path);
4. broadcast the offsets back and add the intra-partition running sum
   (partition-local window, no further shuffle).

The reference has no running totals (its one cumulative op is the
gaps-and-islands session numbering, `unreg_pharmacists.py`-adjacent); this
operator exists for the north-star pretraining pipeline — sequence packing
(see operators/packing.py) needs a corpus-wide token offset per document.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _range_with_pid(df: DataFrame, order_by: list[Column]) -> DataFrame:
    """Range-partition into one partition per default-parallelism slot."""
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    return df.repartitionByRange(n_part, *order_by).withColumn(
        "__pid", F.spark_partition_id()
    )


def _exclusive_prefix(
    partials: DataFrame, pid_col: str, val_col: str, out_col: str
) -> DataFrame:
    """Exclusive prefix sum over the tiny per-partition partials frame via
    a triangular broadcast self-join (strictly-smaller pids), instead of
    an unpartitioned window: at most n_partitions² pairs — a constant
    wrt data scale — and no global-window plan node anywhere."""
    b = partials.select(
        F.col(pid_col).alias("__bpid"), F.col(val_col).alias("__bval")
    )
    return (
        partials.join(F.broadcast(b), F.col("__bpid") < F.col(pid_col), "left")
        .groupBy(pid_col)
        .agg(F.coalesce(F.sum("__bval"), F.lit(0)).cast("long").alias(out_col))
    )


def running_total(
    df: DataFrame,
    value_col: str,
    order_col: str,
    out_col: str = "running_total",
    include_current: bool = False,
) -> DataFrame:
    """Exact running total of ``value_col`` in ``order_col`` order.

    ``include_current=False`` gives the EXCLUSIVE prefix (sum of strictly
    earlier rows — the "offset before me" form packing needs);
    ``True`` gives the inclusive running total.

    Requirements: ``order_col`` values must be unique (they define the
    global order). The input subtree is evaluated twice (once for the
    partial sums, once for the final plan) — cache upstream if it is
    expensive; both evaluations see identical partition boundaries because
    Spark's range partitioner samples with a deterministic seed.

    Scale: two shuffles total (the range exchange + the n_partitions-row
    aggregate); the offsets side is O(defaultParallelism) rows and is
    broadcast. No stage ever holds more than one partition's rows.
    """
    ranged = _range_with_pid(df, [F.col(order_col)])

    partials = ranged.groupBy("__pid").agg(F.sum(value_col).alias("__psum"))
    offsets = _exclusive_prefix(partials, "__pid", "__psum", "__offset")

    upper = 0 if include_current else -1
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    return (
        ranged.join(F.broadcast(offsets), on="__pid")
        .withColumn(
            out_col,
            (
                F.coalesce(F.sum(value_col).over(w_local), F.lit(0).cast("long"))
                + F.col("__offset")
            ).cast("long"),
        )
        .drop("__pid", "__offset")
    )


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank",
) -> DataFrame:
    """Global 1-based row_number over a TOTAL order, without a
    single-partition window: the same two-phase scan as
    ``running_total`` with per-partition COUNTs as the partials.

    ``order_by`` is a list of sort expressions (``F.desc(...)`` /
    ``F.asc(...)``) that must define a total order (break ties!) — it
    drives both the range partitioning and the partition-local
    row_number, which is what makes local rank + partition offset equal
    the global rank. Same caveats as ``running_total``: the input
    subtree is evaluated twice (deterministic range sampling), cache
    upstream if expensive.

    This is the scale path for NTILE / PERCENT_RANK-style global ranking
    (both are pure functions of (rank, total count) once the order is
    total) — see queries.pretrain.customer_spend_deciles.
    """
    ranged = _range_with_pid(df, order_by)
    partials = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__pcnt"))
    offsets = _exclusive_prefix(partials, "__pid", "__pcnt", "__roff")
    w_local = Window.partitionBy("__pid").orderBy(*order_by)
    return (
        ranged.join(F.broadcast(offsets), on="__pid")
        .withColumn(
            out_col, (F.row_number().over(w_local) + F.col("__roff")).cast("long")
        )
        .drop("__pid", "__roff")
    )
