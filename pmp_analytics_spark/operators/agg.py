"""Aggregation patterns (SURVEY.md §2.5-2.7).

value_counts (unreg_presc.py:165), top-K (mu_extras.py:100 — Catalyst plans
``TakeOrderedAndProject``: per-partition heaps, no global sort), argmax rows
(error_pharmacies.py:43), whole-frame broadcast aggregates
(error_pharmacies.py:114-116), and sorted per-group list collection
(awarxe_cleanup.py:264-265).

Scale notes: whole-frame window (``Window.partitionBy()`` with no keys)
funnels everything to one partition — fine for the reference's small frames,
wrong at 100 TB, so ``with_global_agg`` uses a cross-join against a 1-row
aggregate (Catalyst broadcasts it; map-side, no single-partition shuffle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def value_counts(df: DataFrame, col: str, count_name: str = "count") -> DataFrame:
    """Per-value frequency, most frequent first (ties broken by value for
    determinism)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias(count_name))
        .orderBy(F.desc(count_name), F.asc(col))
    )


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Top-K rows — ``orderBy(...).limit(k)`` so Catalyst uses
    TakeOrderedAndProject (per-partition heap + merge; never a full sort).
    Callers include a unique tiebreaker in ``order_by`` for determinism."""
    return df.orderBy(*order_by).limit(k)


def with_global_agg(df: DataFrame, aggs: dict[str, Column]) -> DataFrame:
    """Attach whole-frame aggregates as columns (reference:
    error_pharmacies.py:114-116 ``with_columns(col.min())``).

    Implemented as crossJoin with the 1-row aggregate — Catalyst broadcasts
    the singleton, so each task enriches map-side. Avoids the
    single-partition ``Window.partitionBy()`` funnel at scale.
    """
    agg_row = df.agg(*[expr.alias(name) for name, expr in aggs.items()])
    return df.crossJoin(F.broadcast(agg_row))


def argmax_rows(df: DataFrame, metric: Column, metric_name: str = "__metric") -> DataFrame:
    """Rows attaining the global max of ``metric`` (reference:
    error_pharmacies.py:43 ``filter(col == col.max())``)."""
    tagged = df.withColumn(metric_name, metric)
    with_max = with_global_agg(tagged, {"__gmax": F.max(metric_name)})
    return with_max.where(F.col(metric_name) == F.col("__gmax")).drop("__gmax")


def collect_sorted_list(
    df: DataFrame,
    group_by: list[str],
    order_col: str,
    value_col: str,
    out_name: str = "values",
) -> DataFrame:
    """Per-group list of values in a deterministic order (reference:
    awarxe_cleanup.py:264-265 ``group_by(...).agg(cols)``; Polars preserves
    row order — distributed Spark does not, so we sort by an explicit key:
    collect (order, value) structs, sort_array, project the value)."""
    return df.groupBy(*group_by).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("v")))),
            lambda s: s["v"],
        ).alias(out_name)
    )
