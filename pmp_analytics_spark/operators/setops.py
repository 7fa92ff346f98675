"""Set operations.

Reference parity: name-aligned vertical concat (``pl.concat`` — 10 uses,
delinquent_data_submitters.py:240,463; SURVEY.md §2.8 U1) maps to
``unionByName`` (Spark's positional ``union`` would silently misalign);
whole-row distinct; EXCEPT expressed as anti-join.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def concat_by_name(*dfs: DataFrame) -> DataFrame:
    """Polars-style name-aligned UNION ALL; every input must carry the
    same column names."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def except_by_key(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """EXCEPT by key — anti-join (the reference never uses set EXCEPT
    directly; SURVEY.md §2.8 U3)."""
    return left.join(right.select(*on).distinct(), on=on, how="left_anti")
