"""Declared query registry.

Each query is a named callable ``(spark, sf_dir) -> DataFrame`` paired
(where SQL-expressible) with an ANSI-SQL oracle string for DuckDB. The
driver's harness compares row count + schema + order-insensitive value hash
at sf=0.01 (see /root/repo/__spark_entry__.py).

Registry contract: every computed column is aliased IDENTICALLY in the
Spark pipeline and the oracle SQL; double aggregates are rounded on both
sides (engine summation order differs at the ulp level); timestamps are
projected as DATE or epoch seconds (Spark is µs-precision, the parquet
events table is ns — raw timestamp equality across engines is a trap).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from pmp_analytics_spark.queries import (
    analytic,
    corpus,
    extended,
    llm,
    parity,
    pretrain,
    sketches,
)
from pmp_analytics_spark.queries.registry import ORACLE, QUERIES

QueryFn = Callable[[SparkSession, str], DataFrame]


# Pack execution order: streaming state-store providers keep
# per-checkpoint state maps in executor memory after their queries
# terminate, so the stream-heavy sketches pack runs LAST; running it
# first measured ~14% slower TOTAL on the same code (the residual state
# pressures every later query).
_PACKS = (parity, llm, extended, corpus, pretrain, analytic, sketches)


def all_queries() -> dict[str, QueryFn]:
    """Every declared query, grouped by ``_PACKS`` order, each pack's
    queries in declaration order."""
    rank = {pack.__name__: i for i, pack in enumerate(_PACKS)}
    return dict(sorted(QUERIES.items(), key=lambda kv: rank[kv[1].__module__]))


def driver_unhashable_columns(df: DataFrame) -> list[tuple[str, str]]:
    """Top-level output columns the driver's correctness harness cannot
    hash: its canonicalizer sorts result frames through pandas, where
    array/map/struct cells are unsortable (TypeError: unhashable type)
    and decimals can never match DuckDB's (fetched as float64 while
    Spark keeps Decimal objects). Declared queries must project such
    columns as scalars — integer cents for money, CSV strings for small
    lists; the registry gate (tests/test_plans.py) and the local oracle
    replica both enforce this."""
    return [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if f.dataType.simpleString().startswith(
            ("array", "map", "struct", "decimal")
        )
    ]


def all_oracles(names: set[str] | None = None) -> dict[str, str]:
    """Resolved oracle SQL per query, optionally restricted to ``names``
    (a targeted re-check shouldn't pay for oracles it never consults).

    Lazily-built oracles (e.g. embedding_ivf_topk's centroid snapshot)
    register a zero-arg callable; they resolve HERE — at check time — so
    query-module import stays cheap. ANY construction failure downgrades
    only that query to a rows-only check, with a visible warning: one
    broken oracle must not take down the whole gate."""
    import warnings

    resolved: dict[str, str] = {}
    for name in all_queries():
        if name not in ORACLE or (names is not None and name not in names):
            continue
        sql = ORACLE[name]
        if callable(sql):
            try:
                sql = sql()
            except Exception as e:  # noqa: BLE001 — degrade THIS oracle only
                warnings.warn(
                    f"oracle for {name} failed to build ({e!r}); "
                    "falling back to a rows-only check",
                    stacklevel=2,
                )
                sql = None
        if sql is not None:
            resolved[name] = sql
    return resolved
