"""Sampling operators.

The reference's ``.sample(20)`` (check_masked.py:73) is an exact-N random
sample — Spark's ``df.sample()`` is fraction-based and approximate, so
exact-N needs an order-then-limit. ``deterministic_sample`` orders by
md5(key) and takes n: a uniform pseudo-random sample that is
REPRODUCIBLE across engines (md5 is engine-independent), unlike an
orderBy(rand(seed)) draw, whose row set depends on Spark's rand stream
and so cannot be oracle-checked against DuckDB. It plans as
TakeOrderedAndProject (per-partition heap of n, no full sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def deterministic_sample(df: DataFrame, key_col: str, n: int, salt: str = "") -> DataFrame:
    """Exact-N engine-independent pseudo-random sample: order by
    md5(salt || key) and take n. Changing ``salt`` redraws the sample."""
    return df.orderBy(F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string"))), F.col(key_col)).limit(n)


def stratified_sample(
    df: DataFrame, group_col: str, key_col: str, n: int, salt: str = ""
) -> DataFrame:
    """Exact-N-per-group deterministic sample (adds a ``sample_rank``
    column). One shuffle on the group key; the per-group md5 order is a
    uniform pseudo-random draw reproducible across engines — the standard
    per-source inspection sample of a corpus pipeline. Groups smaller
    than n pass through whole."""
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(salt), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(key, F.col(key_col))
    return (
        df.withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .where(F.col("sample_rank") <= n)
    )


def hash_bucket(key_col: str, mod: int) -> F.Column:
    """md5-derived uniform bucket in [0, mod) — engine-independent (the
    first 15 hex chars parse as a 60-bit int on any engine)."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % mod
    )


def hash_decimate(df: DataFrame, key_col: str, keep: int, mod: int = 100) -> DataFrame:
    """Deterministic decimation: keep rows whose md5-derived bucket
    ``< keep`` of ``mod`` — the reproducible way to cut a 100 TB corpus
    to keep/mod of its size with no shuffle, no rand() stream, and a
    stable row set under re-runs/retries (rand() is NOT stable across
    task retries; content hashing is). Adds the bucket as ``__bucket``
    for auditability."""
    return df.withColumn("__bucket", hash_bucket(key_col, mod)).where(
        F.col("__bucket") < keep
    )
