"""The one declared-query registry, and the DuckDB fragments the packs share.

Every pack declares its queries with ``@query(name, oracle)``. The
oracle is an SQL string, a zero-arg callable returning SQL-or-None (for
oracles that are expensive to build, or that reuse another query's
oracle text: ``all_oracles`` resolves them at check time, so pack import
order never matters), or None for a rows-only check.
"""

from __future__ import annotations

QUERIES: dict = {}
ORACLE: dict = {}

# DuckDB rendering of functions.text.tokens()
DUCK_TOKENS = "LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), t -> t <> '')"
# DuckDB rendering of operators.sample.hash_bucket's md5 value, before the mod
DUCK_DOC_BUCKET = (
    "CAST(('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


def query(name: str, oracle=None):
    """Register the decorated ``(spark, sf_dir) -> DataFrame`` as ``name``."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is declared twice")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco
