"""Time-series regularization: date spines.

The reference works on irregular business extracts and never regularizes
a series; these operators exist for the analytics-engine surface — a
metric series with holes (months with zero orders, days with no events)
must be densified before rollups, charting, or windowed models.

Spine construction is `sequence()` + explode — generated JVM-side, no
driver loop, and the spine size is (range / step) rows regardless of the
fact table's scale. Gap filling is a left join from the spine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def date_spine(
    df: DataFrame,
    start: Column,
    end: Column,
    step: str = "interval 1 month",
    out_col: str = "spine_date",
) -> DataFrame:
    """One row per date from ``start`` to ``end`` inclusive, stepping by
    ``step`` — built from a 1-row aggregate, so the input is scanned once
    for its bounds and the spine itself never shuffles."""
    bounds = df.agg(start.alias("__lo"), end.alias("__hi"))
    return bounds.select(
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.expr(step))
        ).alias(out_col)
    )
