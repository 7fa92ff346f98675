"""Plan shape of the CDC refresh operators' eviction join.

Each refresh evicts the delta's removed/changed keys from a large
index or snapshot with one anti-join. The touched-key set must be the
broadcast build side, so the index side streams through map-side and is
never shuffled. Size-based broadcasting is switched off here, so the
broadcast seen in the plan is the operator's own hint.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from pmp_analytics_spark.functions.text import tokens
from pmp_analytics_spark.operators.dedup import (
    band_key_frame,
    exploded_shingle_hashes,
    lsh_index_refresh,
    minhash_signatures,
)
from pmp_analytics_spark.operators.diff import (
    apply_snapshot_delta,
    mv_refresh_minmax,
    snapshot_delta,
)
from pmp_analytics_spark.operators.retrieval import (
    bm25_index_build,
    bm25_index_refresh,
)
from pmp_analytics_spark.operators.similarity_search import (
    Quantizer,
    encode,
    index_refresh,
)
from pmp_analytics_spark.operators.suffix_array import (
    substring_index_build,
    substring_index_refresh,
)

_CENTS = np.array([[0.0, 0.0, 0.0, 0.0], [5.0, 5.0, 5.0, 5.0]])
_BOOKS = np.array([[[0.0, 0.0], [5.0, 5.0]], [[0.0, 0.0], [-5.0, -5.0]]])
_IVF = Quantizer(_CENTS)
_PQ = Quantizer(np.zeros((1, 4)), _BOOKS)
_IVFPQ = Quantizer(_CENTS, _BOOKS)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


_OLD_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "pack my box with five dozen liquor jugs"),
    (3, "how vexingly quick daft zebras jump"),
]
_NEW_DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (3, "how vexingly quick daft zebras jump indeed"),
    (4, "sphinx of black quartz judge my vow"),
]
_OLD_VECS = [(1, [0.1, 0.2, -4.0, -4.5]), (2, [4.9, 5.2, 0.3, 0.0]), (3, [0.0, 0.1, 0.1, 0.0])]
_NEW_VECS = [(1, [0.1, 0.2, -4.0, -4.5]), (3, [5.0, 4.8, -5.1, -4.9]), (4, [4.4, 4.4, 0.2, 0.2])]


def _refresh(old, new, key, index_of, call):
    """``call(index, delta)`` with both inputs materialized, so the plan
    shows the refresh and not the derivation of its inputs."""
    delta = snapshot_delta(old, new, [key]).localCheckpoint(eager=True)
    return call(index_of(old).localCheckpoint(eager=True), delta)


def _lsh(spark):
    def bands(df):
        sig = minhash_signatures(exploded_shingle_hashes(df, "text", "doc_id", 5), "doc_id", 16)
        return band_key_frame(sig, "doc_id", 16, 4)

    return _refresh(
        _docs(spark, _OLD_DOCS), _docs(spark, _NEW_DOCS), "doc_id", bands,
        lambda ix, d: lsh_index_refresh(ix, d),
    )


def _ivf(spark):
    return _refresh(
        _vecs(spark, _OLD_VECS), _vecs(spark, _NEW_VECS), "vec_id",
        lambda df: encode(df, _IVF).select("vec_id", "__cell"),
        lambda ix, d: index_refresh(ix, d, _IVF),
    )


def _pq(spark):
    return _refresh(
        _vecs(spark, _OLD_VECS), _vecs(spark, _NEW_VECS), "vec_id",
        lambda df: encode(df, _PQ),
        lambda ix, d: index_refresh(ix, d, _PQ),
    )


def _ivfpq(spark):
    return _refresh(
        _vecs(spark, _OLD_VECS), _vecs(spark, _NEW_VECS), "vec_id",
        lambda df: encode(df, _IVFPQ),
        lambda ix, d: index_refresh(ix, d, _IVFPQ),
    )


def _bm25(spark):
    old = _docs(spark, _OLD_DOCS)
    p0, d0 = bm25_index_build(old, tokens("text"))
    return _refresh(
        old, _docs(spark, _NEW_DOCS), "doc_id",
        lambda _: p0,
        lambda ix, d: bm25_index_refresh(ix, d0, d, tokens)[0],
    )


def _substring(spark):
    return _refresh(
        _docs(spark, _OLD_DOCS), _docs(spark, _NEW_DOCS), "doc_id",
        lambda df: substring_index_build(df, 8),
        lambda ix, d: substring_index_refresh(ix, d, 8),
    )


def _snapshot(spark):
    return _refresh(
        _docs(spark, _OLD_DOCS), _docs(spark, _NEW_DOCS), "doc_id",
        lambda df: df,
        lambda ix, d: apply_snapshot_delta(ix, d, ["doc_id"]),
    )


def _minmax(spark):
    old = spark.createDataFrame([(1, "a", 10), (2, "a", 99), (3, "b", 5)], ["k", "g", "v"])
    new = spark.createDataFrame([(1, "a", 10), (3, "c", 5), (4, "d", 2)], ["k", "g", "v"])
    return _refresh(
        old, new, "k",
        lambda df: df.groupBy("g").agg(F.min("v").alias("lo"), F.max("v").alias("hi")),
        lambda mv, d: mv_refresh_minmax(
            mv, d, new, ["g"], {"lo": ("min", "v"), "hi": ("max", "v")}
        ),
    )


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node text) per line of a physical plan tree string."""
    out = []
    for line in plan.splitlines():
        m = re.match(r"^([ :+\-]*)(\S.*)$", line)
        if m:
            out.append((len(m.group(1)) // 3, m.group(2)))
    return out


@pytest.mark.parametrize(
    "build",
    [_lsh, _ivf, _pq, _ivfpq, _bm25, _substring, _snapshot, _minmax],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_eviction_join_broadcasts_touched_keys(spark, build):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = build(spark)
        plan = out._jdf.queryExecution().executedPlan().toString()
        out.count()  # the plan is one that runs
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    nodes = _nodes(plan)
    at = [
        i for i, (_, n) in enumerate(nodes)
        if n.startswith("BroadcastHashJoin") and "LeftAnti, BuildRight" in n
    ]
    assert at, plan
    depth = nodes[at[0]][0]
    children = []
    for i in range(at[0] + 1, len(nodes)):
        if nodes[i][0] <= depth:
            break
        if nodes[i][0] == depth + 1:
            children.append(i)
    assert len(children) == 2, plan
    left, right = children
    assert nodes[right][1].startswith("BroadcastExchange"), plan
    assert not any(n.startswith("Exchange") for _, n in nodes[left:right]), plan
