"""Z-order (Morton) data layout — multidimensional clustering for scan
pruning.

At 100 TB the dominant cost of a selective query is HOW MANY FILES its
predicate can skip: parquet row-group min/max statistics prune a file
only if the filtered column is clustered within it. Sorting clusters ONE
column perfectly and leaves every other unclustered; interleaving the
bits of two (or more) columns into a Morton code and range-partitioning
on it bounds EVERY interleaved dimension within each file — the layout
trick behind Delta/Iceberg ``ZORDER BY`` (public engineering: the Morton
space-filling-curve literature and the table-format OPTIMIZE docs).

Pure integer arithmetic (shift/mask inside a JVM ``aggregate`` HOF), so
the code is engine-exact against a SQL replay; the layout step itself is
one ``repartitionByRange`` on the z column — a single range exchange,
the same cost as a sort-based write.

Reference analogue: none (the reference reads vendor CSVs); this is
north-star table-layout maintenance, next to small-file compaction
(operators/maintenance.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value16(x_expr: str, y_expr: str) -> Column:
    """Morton interleave of the low 16 bits of two non-negative integer
    SQL expressions → a 32-bit z code (bit 2i from x, bit 2i+1 from y).
    Callers normalize dims into [0, 2^16) first (modulo or rank-scale).
    SQL-string inputs keep the shift amounts column-valued inside the
    HOF lambda (the python ``shiftleft`` builtin takes only literal
    shift counts)."""
    return F.expr(
        f"""aggregate(
            sequence(0, 15),
            CAST(0 AS BIGINT),
            (acc, i) -> acc
                + (((CAST(({x_expr}) AS BIGINT) >> i) & 1) << (i * 2))
                + (((CAST(({y_expr}) AS BIGINT) >> i) & 1) << (i * 2 + 1))
        )"""
    )


def zorder_partitioned(
    df: DataFrame, x_expr: str, y_expr: str, n_files: int
) -> DataFrame:
    """Cluster ``df`` for writing: compute the z code and range-exchange
    into ``n_files`` partitions ordered by it, so each output file holds
    one contiguous z-range — bounded min/max spans in BOTH dimensions,
    prunable by either predicate. One shuffle; drop ``__z`` after write
    if the code column is unwanted."""
    return df.withColumn("__z", z_value16(x_expr, y_expr)).repartitionByRange(
        n_files, "__z"
    )


def with_hilbert(
    df: DataFrame, x_col: str, y_col: str, out_col: str, bits: int = 16
) -> DataFrame:
    """Hilbert-curve index of (x, y) in [0, 2^bits)² — the
    better-locality space-filling curve (no Morton diagonal jumps:
    consecutive indexes are always grid-adjacent; at coarse file counts
    the two curves measure out about even — see
    orders_zorder_pruning_gain — with Hilbert's edge appearing as file
    counts grow). The standard bit-descent (Wikipedia's ``xy2d``: per bit s,
    quadrant digit d += s·s·((3·rx) XOR ry), then reflect+swap) unrolls
    into ``bits`` chained PROJECTIONS — materializing each step's
    (x, y, d) as named columns keeps the expression tree linear in
    ``bits`` (naive nesting doubles it per step). Pure JVM arithmetic;
    the SQL oracle replays the identical chain as CTEs."""
    n = 1 << bits
    out = df.select("*", F.lit(0).cast("long").alias("__hd"),
                    F.col(x_col).cast("long").alias("__hx"),
                    F.col(y_col).cast("long").alias("__hy"))
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        rx = F.when(F.expr(f"__hx & {s}") > 0, 1).otherwise(0)
        ry = F.when(F.expr(f"__hy & {s}") > 0, 1).otherwise(0)
        keep = [c for c in out.columns if c not in ("__hd", "__hx", "__hy")]
        stepped = out.select(
            *keep,
            (F.col("__hd") + F.lit(s) * F.lit(s) * (
                (F.lit(3) * rx).bitwiseXOR(ry)
            ).cast("long")).alias("__hd"),
            "__hx",
            "__hy",
            rx.alias("__rx"),
            ry.alias("__ry"),
        )
        refl_x = F.when(
            (F.col("__ry") == 0) & (F.col("__rx") == 1),
            F.lit(n - 1) - F.col("__hx"),
        ).otherwise(F.col("__hx"))
        refl_y = F.when(
            (F.col("__ry") == 0) & (F.col("__rx") == 1),
            F.lit(n - 1) - F.col("__hy"),
        ).otherwise(F.col("__hy"))
        out = stepped.select(
            *keep,
            "__hd",
            F.when(F.col("__ry") == 0, refl_y).otherwise(F.col("__hx")).alias("__hx"),
            F.when(F.col("__ry") == 0, refl_x).otherwise(F.col("__hy")).alias("__hy"),
        )
    return out.select(
        *[c for c in df.columns], F.col("__hd").alias(out_col)
    )


def optimize_layout(
    spark,
    root: str,
    x_expr: str,
    y_expr: str,
    n_files: int,
) -> str:
    """OPTIMIZE-ZORDER for a versioned table: read the LIVE version of
    ``root`` (sources/writers.py discipline), rewrite it clustered by
    the Morton code into ``n_files`` contiguous-z files, and publish the
    rewrite as a NEW version (marker ``zorder:<x>,<y>``) — readers never
    observe a half-rewritten table, and the pre-rewrite version stays
    time-travelable within ``publish_versioned``'s retention. The layout-maintenance
    twin of small-file compaction (operators/maintenance.py): compaction
    fixes file COUNT, this fixes file CONTENT, and both matter equally
    to 100 TB scan pruning. Returns the published version dir."""
    from pmp_analytics_spark.sources.writers import (
        publish_versioned,
        read_latest,
    )

    clustered = zorder_partitioned(
        read_latest(spark, root), x_expr, y_expr, n_files
    ).drop("__z")
    return publish_versioned(
        clustered, root, marker=f"zorder:{x_expr},{y_expr}"
    )
