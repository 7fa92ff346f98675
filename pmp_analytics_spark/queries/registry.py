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


def duck_cc_closure(edges: str, prefix: str = "") -> str:
    """DuckDB connected components of the edge relation ``edges`` (a, b),
    as CTEs: ``{prefix}und`` (both directions), ``{prefix}l0`` (each node
    its own label), then 8 pointer-doubling rounds, each MATERIALIZED
    (label <- min(label, min neighbor label, label[label])). The last,
    ``{prefix}l8``, holds (id, lbl) with lbl the component's min id for
    components of diameter up to 2^8 - 1."""
    und = f"{prefix}und"
    rounds = []
    for k in range(1, 9):
        prev = f"{prefix}l{k - 1}"
        rounds.append(f"""
    {prefix}l{k} AS MATERIALIZED (
        SELECT x.id,
               LEAST(x.lbl, COALESCE(nb.m, x.lbl), COALESCE(j.lbl, x.lbl))
               AS lbl
        FROM {prev} x
        LEFT JOIN (
            SELECT {und}.a AS id, MIN(p.lbl) AS m
            FROM {und} JOIN {prev} p ON p.id = {und}.b GROUP BY 1
        ) nb ON nb.id = x.id
        LEFT JOIN {prev} j ON j.id = x.lbl
    )""")
    return f"""{und} AS MATERIALIZED (
        SELECT a, b FROM {edges} UNION ALL SELECT b AS a, a AS b FROM {edges}
    ),
    {prefix}l0 AS MATERIALIZED (
        SELECT DISTINCT a AS id, a AS lbl FROM {und}
    ),{",".join(rounds)}"""


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
