"""Operator semantics: dedup, joins, aggs, sessionization, sampling,
similarity search."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pmp_analytics_spark.operators.agg import (
    argmax_rows,
    collect_sorted_list,
    top_k,
    value_counts,
    with_global_agg,
)
from pmp_analytics_spark.operators.dedup import (
    dedup_by_fingerprint,
    keep_first,
    minhash_lsh_candidates,
    ngram_jaccard_dedup,
)
from pmp_analytics_spark.operators.joins import anti_join, fuzzy_join, semi_join, two_stage_match
from pmp_analytics_spark.operators.sample import deterministic_sample
from pmp_analytics_spark.operators.sessionize import sessionize, sessionize_native
from pmp_analytics_spark.operators.setops import concat_by_name, except_by_key
from pmp_analytics_spark.operators.similarity_search import brute_force_topk, cosine, lsh_topk


def test_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("d1", "N", 1), ("d1", "Y", 2), ("d2", "Y", 3)], ["dea", "active", "id"]
    )
    out = keep_first(df, ["dea"], [F.desc("active"), F.asc("id")])
    got = {r["dea"]: r["id"] for r in out.collect()}
    assert got == {"d1": 2, "d2": 3}


def test_collect_sorted_list_tie_break(spark):
    df = spark.createDataFrame(
        [(1, 7, 30), (1, 7, 10), (1, 3, 20)], ["k", "o", "v"]
    )
    out = collect_sorted_list(df, ["k"], "o", "v", "vs").collect()
    assert out[0]["vs"] == [20, 10, 30]  # o=3 first; o=7 tie broken by v


def test_value_counts_and_topk(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",), ("c",), ("a",), ("b",)], ["x"])
    vc = value_counts(df, "x").collect()
    assert [(r["x"], r["count"]) for r in vc] == [("a", 3), ("b", 2), ("c", 1)]
    tk = top_k(df.groupBy("x").count(), [F.desc("count"), F.asc("x")], 2).collect()
    assert [r["x"] for r in tk] == ["a", "b"]


def test_global_agg_and_argmax(spark):
    df = spark.createDataFrame([(1,), (5,), (5,), (2,)], ["v"])
    g = with_global_agg(df, {"vmax": F.max("v"), "vmin": F.min("v")})
    rows = g.collect()
    assert all(r["vmax"] == 5 and r["vmin"] == 1 for r in rows)
    am = argmax_rows(df, F.col("v")).collect()
    assert len(am) == 2 and all(r["v"] == 5 for r in am)


def test_anti_semi_join(spark):
    left = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "x"])
    right = spark.createDataFrame([(2,), (3,)], ["k"])
    assert {r["k"] for r in anti_join(left, right, ["k"]).collect()} == {1}
    assert {r["k"] for r in semi_join(left, right, ["k"]).collect()} == {2, 3}


def test_except_concat(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    b = spark.createDataFrame([(2, "z")], ["k", "v"])
    assert [r["k"] for r in except_by_key(a, b, ["k"]).collect()] == [1]
    # name-aligned union: column order differs between inputs
    c = spark.createDataFrame([("w", 9)], ["v", "k"])
    got = {(r["k"], r["v"]) for r in concat_by_name(a, c).collect()}
    assert got == {(1, "x"), (2, "y"), (9, "w")}


def test_fuzzy_join_blocked(spark):
    left = spark.createDataFrame(
        [("1990-01-01", "SMITH JOHN"), ("1990-01-01", "JONES BOB"), ("1985-05-05", "SMITH JOHN")],
        ["dob", "name_a"],
    )
    right = spark.createDataFrame(
        [("1990-01-01", "SMITH JON"), ("1985-05-05", "WILSON TED")],
        ["dob", "name_b"],
    )
    out = fuzzy_join(left, right, ["dob"], "name_a", "name_b", threshold=0.9).collect()
    assert len(out) == 1
    assert out[0]["name_a"] == "SMITH JOHN" and out[0]["name_b"] == "SMITH JON"


def test_two_stage_match(spark):
    left = spark.createDataFrame(
        [("K1", "alpha"), ("K2", "beta co"), ("K3", "nomatch")], ["key", "lname"]
    )
    right = spark.createDataFrame(
        [("K1", "alpha"), ("KX", "beta co")], ["key", "rname"]
    )
    out = two_stage_match(
        left,
        right,
        exact_key="key",
        fallback_left_key=F.upper(F.col("lname")),
        fallback_right_key=F.upper(F.col("rname")),
    )
    rows = out.collect()
    # K1 matches exactly; beta co matches on the fallback key; K3 drops
    assert len(rows) == 2


def test_dedup_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello   world "), (3, "different")], ["id", "text"]
    )
    out = dedup_by_fingerprint(df, "text", "id").collect()
    assert len(out) == 2
    counts = {r["id"]: r["dup_count"] for r in out}
    assert counts[1] == 2 and counts[3] == 1


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("dog", "cat")),
            (3, "entirely unrelated text about spark query optimization and shuffles"),
        ],
        ["doc_id", "text"],
    )
    cand = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(df, "text", "doc_id").collect()}
    assert (1, 2) in cand
    assert (1, 3) not in cand
    pairs = ngram_jaccard_dedup(df, "text", "doc_id", threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0]["jaccard"] < 1.0


def test_jaccard_prefix_join_is_lossless(spark):
    """Prefix filtering must return EXACTLY the brute-force pair set —
    it is an exact algorithm, not a sketch. Brute force here = crossJoin
    + set Jaccard over the same hashed shingle sets."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.dedup import (
        hashed_shingle_frame,
        jaccard_prefix_join,
    )

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    rows = [
        (1, base),
        (2, base.replace("dog", "cat")),
        (3, base.replace("quick", "slow").replace("lazy", "tired")),
        (4, "entirely unrelated text about spark query optimization and shuffles"),
        (5, base + " again and again"),
        (6, "spark query optimization and shuffles are entirely unrelated topics"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.4

    sets = hashed_shingle_frame(df, "text", "doc_id").select(
        "doc_id", F.array_distinct("__hs").alias("s")
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"]): r["j"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("__i", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "j",
            F.round(
                F.col("__i") / (F.size("sa") + F.size("sb") - F.col("__i")), 6
            ),
        )
        .where(F.col("j") >= t)
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_prefix_join(df, "text", "doc_id", threshold=t).collect()
    }
    assert got == brute and len(got) >= 2


def test_jaccard_positional_filter_lossless_and_prunes(spark):
    """PPJoin's positional filter must (a) keep every truly-similar
    pair — it is a lossless prune — and (b) collapse the candidate set
    on the corpus shape the size filter is blind to (the size filter
    alone passes all 91 pairs here, all sizes being equal): equal-sized docs
    whose shared boilerplate lands INSIDE the ascending-df prefix but
    at late ranks (docs ~30% unique / ~70% boilerplate — with more
    uniques the boilerplate exits the prefix and the df-order alone
    prunes; with fewer the docs really are similar).

    Token frame synthesized directly (the candidate generator's input
    contract is just a distinct (id, __h) stream): 12 template docs =
    30 private tokens + 60 boilerplate (true J = 0.5 pairwise, below
    t=0.6), plus docs 100/101 sharing all 90 tokens (J = 1.0)."""
    from pmp_analytics_spark.operators.dedup import jaccard_prefix_candidates

    rows = []
    boiler = [900_000 + k for k in range(60)]
    for i in range(1, 13):
        rows += [(i, i * 1000 + k) for k in range(30)]  # private: df=1
        rows += [(i, h) for h in boiler]  # boilerplate: df=14
    for i in (100, 101):
        rows += [(i, 500_000 + k) for k in range(30)]  # shared pair: df=2
        rows += [(i, h) for h in boiler]
    toks = spark.createDataFrame(rows, ["doc_id", "__h"]).cache()
    t = 0.6

    tight = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(toks, "doc_id", t).collect()
    }
    # Positional filter: a collision at rank r bounds the overlap by
    # 1 + (90 - r) < alpha = 67.5 for every boilerplate rank r >= 31,
    # so only the true pair (first shared token at rank 1) survives.
    assert tight == {(100, 101)}
    # Losslessness: the surviving set is exactly the truly-similar set
    # (template pairs share 60/120 tokens -> J = 0.5 < t; 100~101 share
    # 90/90 -> J = 1.0 >= t), so the prune dropped only sub-threshold
    # pairs that the verify stage would have discarded anyway.
    toks.unpersist()


def test_sessionize_both_impls_agree(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=10)),
        (1, t0 + dt.timedelta(minutes=50)),  # 40min gap -> new session
        (2, t0),
    ]
    events = spark.createDataFrame(rows, ["user_id", "ts"])
    a = sessionize(events, gap_seconds=1800)
    b = sessionize_native(events, gap_seconds=1800)
    ka = sorted((r["user_id"], r["session_start"], r["n_events"]) for r in a.collect())
    kb = sorted((r["user_id"], r["session_start"], r["n_events"]) for r in b.collect())
    assert ka == kb
    assert len(ka) == 3


def test_deterministic_sample_stable(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    s1 = [r["k"] for r in deterministic_sample(df, "k", 10).collect()]
    s2 = [r["k"] for r in deterministic_sample(df, "k", 10).collect()]
    assert s1 == s2 and len(s1) == 10
    s3 = [r["k"] for r in deterministic_sample(df, "k", 10, salt="x").collect()]
    assert s1 != s3


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(30)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in vecs[0]])], ["query_id", "query_vec"]
    )
    out = brute_force_topk(corpus, queries, k=5).collect()
    got = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    expected = list(np.argsort(np.round(-sims, 6), kind="stable")[:5])
    assert got == expected
    assert got[0] == 0 and out[0]["cosine_sim"] <= 1.0


def test_hard_negative_topk_label_and_null_semantics(spark):
    """Hard-negative mining: only DIFFERENT-label vectors rank, NULL
    labels on either side are excluded (an unlabeled vector is not a
    certified negative — eqNullSafe semantics would silently certify
    them), and ranking matches the numpy cosine order over the
    surviving candidates."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import (
        hard_negative_topk,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(20, 6)).astype("float32")
    labels = [0, 1, None] * 6 + [0, 1]  # vec_id % 3 == 2 -> unlabeled
    corpus = spark.createDataFrame(
        [
            (i, [float(x) for x in vecs[i]], labels[i])
            for i in range(20)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    anchors = spark.createDataFrame(
        [
            (0, [float(x) for x in vecs[0]], 0),  # labeled anchor
            (2, [float(x) for x in vecs[2]], None),  # unlabeled anchor
        ],
        "query_id long, query_vec array<float>, query_label int",
    )
    out = hard_negative_topk(corpus, anchors, k=4).collect()
    assert {r["query_id"] for r in out} == {0}  # NULL anchor yields nothing
    got = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert all(labels[i] == 1 for i in got)  # different AND non-null only
    sims = vecs @ vecs[0] / (
        np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0])
    )
    cand = [i for i in range(20) if labels[i] == 1]
    expected = sorted(cand, key=lambda i: (-round(sims[i], 6), i))[:4]
    assert got == expected


def test_lsh_topk_self_hit(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(5, [float(x) for x in vecs[5]])], ["query_id", "query_vec"]
    )
    out = lsh_topk(corpus, queries, dim=8, k=3, n_planes=4).collect()
    assert out, "query vector must collide with its own bucket"
    best = min(out, key=lambda r: r["rank"])
    assert best["vec_id"] == 5 and abs(best["cosine_sim"] - 1.0) < 1e-6


def test_simhash_pairs(spark):
    from pmp_analytics_spark.operators.dedup import simhash_pairs

    base = "the quick brown fox jumps over the lazy dog and keeps on running far away from home"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("dog", "dig")),
            (3, "completely unrelated words about catalyst optimizer internals and shuffle plans"),
        ],
        ["doc_id", "text"],
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_pairs(df, "text", "doc_id", max_hamming=10).collect()}
    assert (1, 2) in got
    assert got[(1, 2)] <= 10
    assert (1, 3) not in got and (2, 3) not in got


def test_salted_agg_matches_plain(spark):
    from pmp_analytics_spark.operators.partitioning import salted_agg

    df = spark.createDataFrame(
        [("hot", float(i)) for i in range(200)] + [("cold", 1.0), ("cold", 2.0)],
        ["k", "x"],
    )
    out = salted_agg(
        df,
        group_by=["k"],
        aggs={"n": (F.count, F.sum, F.lit(1)), "total": (F.sum, F.sum, "x")},
        salt_buckets=8,
    )
    got = {r["k"]: (r["n"], r["total"]) for r in out.collect()}
    assert got["hot"] == (200, float(sum(range(200))))
    assert got["cold"] == (2, 3.0)


def test_connected_components_vs_union_find(spark):
    from pmp_analytics_spark.operators.dedup import connected_components

    # {1,2,3} via 1-2, 2-3 (no 1-3 edge); {10,11}; {20,21,22,23} as a chain
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        parent[find(a)] = find(b)
    for a, b in edges:
        union(a, b)
    roots = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    expected = {n: min(members) for members in roots.values() for n in members}
    assert got == expected

    # pin the DISTRIBUTED label-propagation path (the default took the
    # driver union-find fast path above) — identical results required
    got_dist = {
        r["id"]: r["component"]
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert got_dist == expected


def test_connected_components_self_loops_consistent(spark):
    """Self-loop pairs (id_a == id_b) are dropped identically on the
    driver union-find path, the distributed star path, and CDC refresh —
    previously the driver path emitted an (x, x) identity label that the
    star path filtered, so the output depended on the dispatch."""
    from pmp_analytics_spark.operators.dedup import (
        connected_components,
        connected_components_refresh,
    )

    # 7 is self-loop-only; 1 has a self-loop plus a real edge
    edges = [(1, 2), (2, 3), (1, 1), (7, 7), (10, 11)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    expected = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}  # no row for 7

    got_drv = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    got_star = {
        r["id"]: r["component"]
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert got_drv == expected
    assert got_star == expected

    # refresh with self-loops in the delta equals the rebuild
    def mk(es):
        return spark.createDataFrame(es, "id_a bigint, id_b bigint")

    labels = connected_components(mk([(1, 2), (2, 3), (10, 11)]))
    got_ref = connected_components_refresh(
        mk([(1, 2), (2, 3), (10, 11)]),
        labels,
        added=mk([(7, 7), (3, 10)]),
        deleted=mk([(1, 1)]),
    )
    ref = connected_components(mk([(1, 2), (2, 3), (10, 11), (3, 10)]))
    assert {tuple(r) for r in got_ref.collect()} == {tuple(r) for r in ref.collect()}


def test_dedup_keep_canonical_transitive(spark):
    from pmp_analytics_spark.operators.dedup import dedup_keep_canonical

    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 7)], ["doc_id", "text"])
    # A~B, B~C chain: only doc 1 survives of {1,2,3}; {5,6} keeps 5; 4 untouched
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 4, 5]


def test_ivf_topk_recall(spark):
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import ann_topk, train_quantizer

    rng = np.random.default_rng(11)
    # clustered corpus: 8 centers, 25 points each
    centers = rng.normal(scale=5.0, size=(8, 8))
    vecs = np.concatenate([c + rng.normal(size=(25, 8)) for c in centers]).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))], ["vec_id", "embedding"]
    )
    queries = spark.createDataFrame(
        [(7, [float(x) for x in vecs[7]])], ["query_id", "query_vec"]
    )
    out = ann_topk(corpus, queries, train_quantizer(corpus, 8), nprobe=2, k=5)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows and rows[0]["vec_id"] == 7  # self-hit through its own cell
    # recall vs exact: clustered data + probing 2/8 cells must catch most
    sims = vecs @ vecs[7] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[7]))
    exact = set(np.argsort(np.round(-sims, 6), kind="stable")[:5])
    got = {r["vec_id"] for r in rows}
    assert len(got & exact) >= 3


def test_dataset_diff(spark):
    import pytest as _pytest

    from pmp_analytics_spark.operators.diff import assert_compatible, dataset_diff

    old = spark.createDataFrame([(1, "2024-01-01"), (2, "2024-01-15")], ["k", "d"])
    new = spark.createDataFrame(
        [(1, "2024-02-01"), (2, "2024-02-15"), (3, "2024-02-20")], ["k", "d"]
    )
    diff = dataset_diff(old, new, bound_cols=["d"], sample_n=2, sample_key="k")
    assert diff.schema_matches
    assert (diff.rows_old, diff.rows_new) == (2, 3)
    assert diff.pct_change == 50.0
    assert diff.bounds_old["d"] == ("2024-01-01", "2024-01-15")
    assert diff.bounds_new["d"] == ("2024-02-01", "2024-02-20")
    assert len(diff.sample_new) == 2
    with _pytest.raises(AssertionError, match="drifted"):
        assert_compatible(diff, max_pct_change=25.0)
    assert_compatible(diff, max_pct_change=60.0)

    renamed = new.withColumnRenamed("d", "date")
    diff2 = dataset_diff(old, renamed)
    assert not diff2.schema_matches
    with _pytest.raises(AssertionError, match="schema drift"):
        assert_compatible(diff2)


def test_determinism_invariant_to_partitioning(spark):
    """The ordering-sensitive operators must give identical results no
    matter how the input is partitioned — the distributed-semantics claim
    behind keep_first / collect_sorted_list / deterministic_sample."""
    import random

    rnd = random.Random(9)
    rows = [(rnd.randrange(20), rnd.randrange(100), i) for i in range(500)]
    base = spark.createDataFrame(rows, ["k", "o", "v"])

    def all_layouts(fn):
        outs = []
        for df in (base.coalesce(1), base.repartition(7), base.repartition(32, "k")):
            outs.append(fn(df))
        return outs

    kf = all_layouts(
        lambda df: sorted(
            (r["k"], r["v"]) for r in keep_first(df, ["k"], [F.asc("o"), F.asc("v")]).collect()
        )
    )
    assert kf[0] == kf[1] == kf[2]

    cl = all_layouts(
        lambda df: sorted(
            (r["k"], tuple(r["vs"])) for r in collect_sorted_list(df, ["k"], "o", "v", "vs").collect()
        )
    )
    assert cl[0] == cl[1] == cl[2]

    ds = all_layouts(
        lambda df: [r["v"] for r in deterministic_sample(df, "v", 10).collect()]
    )
    assert ds[0] == ds[1] == ds[2]


def test_label_affinity_grouped_map(spark):
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import label_affinity

    rng = np.random.default_rng(5)
    rows = []
    for label in (0, 1):
        center = rng.normal(scale=3.0, size=4)
        for i in range(10):
            rows.append((label * 100 + i, label, [float(x) for x in center + rng.normal(size=4)]))
    emb = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = label_affinity(emb).collect()
    assert len(out) == 20
    assert all(-1.0 <= r["affinity"] <= 1.0 for r in out)
    # tight clusters around a strong center -> high affinity to own centroid
    assert sum(r["affinity"] > 0.8 for r in out) >= 16


def test_approx_count_distinct_tolerance(spark):
    """The 100 TB form of event_user_cardinality swaps COUNT(DISTINCT)
    for approx_count_distinct (HLL++, mergeable, single-pass). The sketch
    can't hash-match a SQL oracle, so its accuracy contract lives here:
    within the configured rsd against the exact count."""
    from pyspark.sql import functions as F

    df = spark.range(0, 20000).select(
        (F.col("id") % 977).alias("u"), (F.col("id") % 5).alias("g")
    )
    got = {
        r["g"]: (r["exact"], r["approx"])
        for r in df.groupBy("g")
        .agg(
            F.countDistinct("u").alias("exact"),
            F.approx_count_distinct("u", rsd=0.02).alias("approx"),
        )
        .collect()
    }
    assert len(got) == 5
    for exact, approx in got.values():
        assert abs(approx - exact) <= max(3, 0.06 * exact)  # 3·rsd margin


def test_salted_join_matches_plain_join(spark):
    from pmp_analytics_spark.operators.partitioning import salted_join

    # one hot key (900 of 1000 rows) + a long tail
    left = spark.createDataFrame(
        [(0 if i < 900 else i % 37, i) for i in range(1000)], ["k", "v"]
    )
    right = spark.createDataFrame([(i, f"dim{i}") for i in range(40)], ["k", "name"])

    plain = {(r["k"], r["v"], r["name"]) for r in left.join(right, on="k").collect()}
    salted = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(left, right, on=["k"], salt_buckets=8).collect()
    }
    assert salted == plain

    plain_left = {
        (r["k"], r["v"], r["name"])
        for r in left.join(right, on="k", how="left").collect()
    }
    salted_left = {
        (r["k"], r["v"], r["name"])
        for r in salted_join(left, right, on=["k"], how="left", salt_buckets=8).collect()
    }
    assert salted_left == plain_left

    # right/full outer would count unmatched right rows once per salt
    # replica — rejected up front, before any plan is built
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner.*left"):
        salted_join(left, right, on=["k"], how="right", salt_buckets=8)


def test_observed_quality_rides_the_action(spark):
    """Metrics must come from the SAME pass as the action — assert the
    values are right and that no extra job was scheduled beyond the
    action's own."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.observe import observed_quality

    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"v{i}") for i in range(90)], ["id", "val"]
    ).where(F.col("id") < 60)

    observed, obs = observed_quality(df, null_cols=["val"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    observed.write.format("noop").mode("overwrite").save()
    after = len(tracker.getJobIdsForGroup() or [])
    assert obs.get["n_rows"] == 60
    assert obs.get["nulls_val"] == 20  # ids 0,3,...,57
    assert after - before <= 1, "metrics must not schedule extra jobs"


def test_morton_key_interleaves_locality(spark):
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.partitioning import morton_key

    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], ["x", "y"]
    ).withColumn("z", morton_key("x", "y", bits=4))
    rows = {(r["x"], r["y"]): r["z"] for r in df.collect()}
    # exact interleave: (x=3 -> 11, y=5 -> 101) => z = 1 0 1 1 1 0 1 1? check
    # a few hand-computed points: z(x,y) interleaves x into odd bits.
    assert rows[(0, 0)] == 0
    assert rows[(1, 0)] == 2      # x bit0 -> bit1
    assert rows[(0, 1)] == 1      # y bit0 -> bit0
    assert rows[(3, 3)] == 15
    assert rows[(15, 15)] == 255
    # z-ordering is a bijection on the 16x16 grid
    assert len(set(rows.values())) == 256


def test_ensure_parallelism_skips_join_and_aggregate_frames(spark):
    """A join- or aggregate-derived frame comes back unchanged and with no
    job run: its exchanges appear only after EnsureRequirements, and
    probing its partition count would run them eagerly. A scan with
    fewer splits than cores is still spread over them."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    sc = spark.sparkContext
    # two splits each: one split would satisfy every required
    # distribution, and the plans would need no exchange at all
    a = spark.range(0, 100, 1, 2).withColumnRenamed("id", "k")
    b = spark.range(0, 100, 1, 2).selectExpr("id AS k", "id * 2 AS v")
    frames = {
        "join": a.join(b, "k"),
        "aggregate": a.groupBy((F.col("k") % 3).alias("g")).count(),
    }
    for name, df in frames.items():
        group = f"ensure-parallelism-{name}"
        sc.setJobGroup(group, name)
        try:
            got = ensure_parallelism(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert got is df, name
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], name
    if sc.defaultParallelism > 1:
        assert ensure_parallelism(a).rdd.getNumPartitions() == sc.defaultParallelism


def test_connected_components_label_prop_matches_union_find(spark):
    """The distributed label-propagation fallback (edge sets too big to
    collect) must produce EXACTLY the driver union-find's min-id
    components. Forced onto each path via driver_edge_limit; the chain
    component has diameter 6, so the min label needs several
    propagation rounds (not just the trivial 1-hop case)."""
    from pmp_analytics_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1..7, triangle {10,11,12} (+ redundant edge), pair {20,21}
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
         (10, 11), (11, 12), (10, 12), (20, 21)],
        ["id_a", "id_b"],
    )
    uf = {
        (r["id"], r["component"])
        for r in connected_components(pairs, driver_edge_limit=10**6).collect()
    }
    lp = {
        (r["id"], r["component"])
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert lp == uf
    assert uf == {(i, 1) for i in range(1, 8)} | {
        (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)
    }


def test_incremental_neardup_batch_vs_history_only(spark):
    """Batch-vs-corpus near-dup ingest: only (batch, history) pairs come
    back — never history-internal or batch-internal duplicates (those
    belong to the regular self-dedup), and unrelated docs don't match."""
    from pmp_analytics_spark.operators.dedup import incremental_neardup

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    history = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # history-internal dup of 1: must NOT be reported
            (3, "entirely unrelated text about spark query optimization and shuffles"),
        ],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (10, base.replace("dog", "cat")),  # near-dup of history 1 and 2
            (11, base.replace("dog", "cat")),  # batch-internal dup of 10: not reported
            (12, "completely fresh content that matches nothing in the corpus at all"),
        ],
        ["doc_id", "text"],
    )
    out = {
        (r["id_a"], r["id_b"])
        for r in incremental_neardup(
            history, batch, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert out == {(10, 1), (10, 2), (11, 1), (11, 2)}


def test_neardup_ingest_stream_matches_batch_across_microbatches(spark, tmp_path):
    """The streaming ingest probe must equal the batch operator's pairs
    regardless of micro-batch boundaries (each new doc's matches depend
    only on that doc and the static store). Two time-ordered file drops
    consumed one per trigger force >= 2 data micro-batches, pinned via
    the sink's __batch_id partition values."""
    import time

    from pmp_analytics_spark.operators.dedup import (
        band_key_frame,
        exploded_shingle_hashes,
        incremental_neardup,
        minhash_signatures,
    )
    from pmp_analytics_spark.streaming import neardup_ingest_stream

    base_a = "the quick brown fox jumps over the lazy dog and keeps running far away"
    base_b = "colorless green ideas sleep furiously while the committee debates the budget line"
    history = spark.createDataFrame(
        [(1, base_a), (2, base_b), (3, "entirely unrelated text about spark shuffles")],
        ["doc_id", "text"],
    )
    batch_rows = [
        (10, base_a.replace("dog", "cat")),  # drop 0: matches history 1
        (11, base_b),  # drop 1: exact duplicate of history 2 (J=1.0)
    ]
    batch = spark.createDataFrame(batch_rows, ["doc_id", "text"])
    expected = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_neardup(history, batch, "text", "doc_id", threshold=0.5).collect()
    )
    assert {(a, b) for a, b, _ in expected} == {(10, 1), (11, 2)}

    src = tmp_path / "doc_drops"
    src.mkdir()
    for i, row in enumerate(batch_rows):
        spark.createDataFrame([row], batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"drop_{i}"))
        time.sleep(1.1)  # distinct mtime seconds -> deterministic order

    ex_h = exploded_shingle_hashes(history, "text", "doc_id", 5)
    keys_h = band_key_frame(minhash_signatures(ex_h, "doc_id", 16), "doc_id", 16, 4)
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )
    out_path = str(tmp_path / "pairs")
    neardup_ingest_stream(
        ex_h, keys_h, sdf, "text", "doc_id", out_path,
        str(tmp_path / "ckpt"), threshold=0.5,
    )
    out = spark.read.parquet(out_path)
    got = sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in out.collect())
    assert got == expected
    batches = {r["__batch_id"] for r in out.select("__batch_id").distinct().collect()}
    assert len(batches) >= 2, "pairs must span multiple micro-batches"


def test_semantic_neardup_cluster_bucketed_subset(spark):
    """SemDeDup-shaped pairs are exactly the brute-force pairs whose
    members landed in the SAME cluster: a subset of all-pairs cosine
    (recall < 1 across cell boundaries, by design), with no same-cell
    qualifying pair missed and identical scores where present."""
    from pmp_analytics_spark.operators.similarity_search import (
        cosine,
        encode,
        semantic_neardup,
        train_quantizer,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    t, k = 0.4, 8
    got = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in semantic_neardup(emb, threshold=t, n_clusters=k).collect()
    }
    assigned = encode(emb, train_quantizer(emb, k))
    cells = {r["vec_id"]: r["__cell"] for r in assigned.select("vec_id", "__cell").collect()}
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    brute = {
        (r["id_a"], r["id_b"]): r["cs"]
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cs", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cs") >= t)
        .collect()
    }
    same_cell = {p: s for p, s in brute.items() if cells[p[0]] == cells[p[1]]}
    assert got == same_cell
    assert set(got) <= set(brute)
    assert len(got) > 0


def test_containment_prefix_join_is_lossless(spark):
    """The asymmetric containment join must return EXACTLY the
    brute-force directional pair set — including the quote-in-document
    case Jaccard misses (small A inside big B scores C ~= 1, J ~= |A|/|B|)."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.dedup import (
        containment_prefix_join,
        hashed_shingle_frame,
    )

    quote = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, quote),
        (2, "long document starts here " + quote + " and then continues with many other words about spark"),
        (3, quote.replace("dog", "cat")),
        (4, "entirely unrelated text about query optimization and shuffles"),
        (5, quote),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    t = 0.8

    sets = hashed_shingle_frame(df, "text", "doc_id").select(
        "doc_id", F.array_distinct("__hs").alias("s")
    )
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"]): r["c"]
        for r in a.join(b, F.col("id_a") != F.col("id_b"))
        .withColumn("__i", F.size(F.array_intersect("sa", "sb")))
        .withColumn("c", F.round(F.col("__i") / F.size("sa"), 6))
        .where(F.col("c") >= t)
        .collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_prefix_join(df, "text", "doc_id", threshold=t).collect()
    }
    assert got == brute
    # the asymmetry is present: 1-contained-in-2 holds, 2-in-1 does not
    assert (1, 2) in got and (2, 1) not in got
    # and identical docs contain each other both ways
    assert (1, 5) in got and (5, 1) in got


def test_exact_set_joins_lossless_on_randomized_corpus(spark):
    """Seeded randomized sweep: 40 template-mutated docs (high shingle
    overlap — the adversarial regime for prefix filtering), both exact
    set-similarity joins vs brute force at two thresholds each. The
    fixed fixtures pin known-tricky shapes; this sweep covers the
    combinatorics no hand fixture anticipates."""
    import random

    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.dedup import (
        containment_prefix_join,
        hashed_shingle_frame,
        jaccard_prefix_join,
    )

    rng = random.Random(20260814)
    words = [f"w{i}" for i in range(30)]
    base = [rng.choice(words) for _ in range(40)]
    docs = []
    for i in range(40):
        t = list(base)
        for _ in range(rng.randrange(0, 12)):  # mutate 0-11 positions
            t[rng.randrange(len(t))] = rng.choice(words)
        if i % 7 == 0:
            t = t[: rng.randrange(8, 30)]  # some short docs -> containment
        docs.append((i, " ".join(t)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sets = hashed_shingle_frame(df, "text", "doc_id").select(
        "doc_id", F.array_distinct("__hs").alias("s")
    ).cache()
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    pairs = a.join(b, F.col("id_a") != F.col("id_b")).withColumn(
        "__i", F.size(F.array_intersect("sa", "sb"))
    ).cache()

    for t in (0.5, 0.8):
        brute_j = {
            (r["id_a"], r["id_b"]): r["v"]
            for r in pairs.where(F.col("id_a") < F.col("id_b"))
            .withColumn(
                "v",
                F.round(F.col("__i") / (F.size("sa") + F.size("sb") - F.col("__i")), 6),
            )
            .where(F.col("v") >= t)
            .collect()
        }
        assert brute_j, f"corpus produced no jaccard pairs at t={t}"
        got_j = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_prefix_join(df, "text", "doc_id", threshold=t).collect()
        }
        assert got_j == brute_j, f"jaccard t={t}"

    for t in (0.7, 0.9):
        brute_c = {
            (r["id_a"], r["id_b"]): r["v"]
            for r in pairs.withColumn("v", F.round(F.col("__i") / F.size("sa"), 6))
            .where(F.col("v") >= t)
            .collect()
        }
        assert brute_c, f"corpus produced no containment pairs at t={t}"
        got_c = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in containment_prefix_join(df, "text", "doc_id", threshold=t).collect()
        }
        assert got_c == brute_c, f"containment t={t}"


def test_pq_encode_matches_numpy_reference(spark):
    """PQ codes must equal a straight numpy argmin per subspace — pins
    the subvector slicing, the codebook orientation, and the
    first-minimum tie-break the oracle's (dist, code) order mirrors."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import encode, train_quantizer

    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(120, 16)).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        ["vec_id", "embedding"],
    )
    quantizer = train_quantizer(corpus, m=4, k_codes=8)
    books = quantizer.books
    assert books.shape == (4, 8, 4)
    got = {r["vec_id"]: list(r["__codes"]) for r in encode(corpus, quantizer).collect()}
    x = vecs.astype("float64")
    for i in range(len(vecs)):
        expect = []
        for j in range(4):
            d2 = ((x[i, j * 4 : (j + 1) * 4][None, :] - books[j]) ** 2).sum(axis=1)
            expect.append(int(d2.argmin()))
        assert got[i] == expect, i


def test_pq_topk_adc_ranking(spark):
    """ADC top-k on clustered data: the self-query's own point must rank
    first (its reconstruction is the nearest centroid tuple), ADC
    distances are non-decreasing with rank, and recall vs exact L2 is
    high when clusters are separated far beyond quantization error."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import ann_topk, train_quantizer

    rng = np.random.default_rng(5)
    centers = rng.normal(scale=20.0, size=(8, 16))
    vecs = np.concatenate([c + rng.normal(size=(25, 16)) for c in centers]).astype(
        "float32"
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        ["vec_id", "embedding"],
    )
    quantizer = train_quantizer(corpus, m=4, k_codes=16)
    queries = spark.createDataFrame(
        [(30, [float(x) for x in vecs[30]])], ["query_id", "query_vec"]
    )
    rows = sorted(ann_topk(corpus, queries, quantizer, k=5).collect(), key=lambda r: r["rank"])
    assert len(rows) == 5
    dists = [r["adc_dist"] for r in rows]
    assert dists == sorted(dists)
    got = {r["vec_id"] for r in rows}
    # cluster-level retrieval is what PQ promises at this code budget:
    # every hit comes from the query's own cluster (ids 25-49); WITHIN
    # the cluster ADC collapses near-identical members onto the same
    # code tuple (exact ties), so fine intra-cluster order is not
    # asserted — only that the self point (whose reconstruction is by
    # construction a nearest centroid tuple) ranks first via the id
    # tie-break, and the exact-L2 top-5 overlaps.
    assert got <= set(range(25, 50))
    assert rows[0]["vec_id"] == 30
    d2 = ((vecs.astype("float64") - vecs[30].astype("float64")) ** 2).sum(axis=1)
    exact = set(np.argsort(d2, kind="stable")[:5])
    assert len(got & exact) >= 2


def test_pq_rerank_recovers_exact_order_within_shortlist(spark):
    """Two-stage PQ: over-retrieve by ADC, rescore exactly — every final
    hit must carry its TRUE cosine (so the rerank ordering equals exact
    ordering restricted to the shortlist), and recall@k must be at least
    plain-ADC recall (rescoring can only fix in-shortlist order)."""
    import numpy as np

    from pmp_analytics_spark.queries.llm import embedding_pq_rerank, embedding_pq_topk

    sf = "/root/testdata/sf0.001"
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()}
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])
    norms = np.linalg.norm(mat, axis=1)

    rer = embedding_pq_rerank(spark, sf).collect()
    assert rer
    by_q: dict = {}
    for r in rer:
        by_q.setdefault(r["query_id"], []).append(r)
        # published score is the TRUE cosine, rounded as the query does
        q, v = emb[r["query_id"]], emb[r["vec_id"]]
        true_cos = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        assert abs(r["cosine_sim"] - round(true_cos, 6)) <= 1e-6

    adc = {}
    for r in embedding_pq_topk(spark, sf).collect():
        adc.setdefault(r["query_id"], set()).add(r["vec_id"])
    total_rr = total_adc = total = 0
    for qid, rows in by_q.items():
        sims = mat @ emb[qid] / (norms * np.linalg.norm(emb[qid]))
        exact = {ids[i] for i in np.argsort(np.round(-sims, 6), kind="stable")[:len(rows)]}
        got = {r["vec_id"] for r in rows}
        total += len(exact)
        total_rr += len(got & exact)
        total_adc += len(adc.get(qid, set()) & exact)
    assert total_rr >= total_adc
    assert total_rr / total >= 0.5  # 5x over-retrieval recovers most of top-k


def test_quality_check_report_metrics_and_nulls(spark):
    """Dirty fixture: nulls count as NON-compliant in compliance ratios
    (a bare avg would drop them), dup keys dent uniqueness, FK orphans
    fail referential integrity with an exact orphan count."""
    from pmp_analytics_spark.operators.quality import (
        accepted_values,
        check_report,
        completeness,
        in_range,
        min_size,
        uniqueness,
    )

    rows = [
        (1, "O", 10.0),
        (2, "F", -5.0),   # out of range
        (2, "X", None),   # dup key, bad status, null value
        (None, "P", 20.0),  # null key
    ]
    df = spark.createDataFrame(rows, ["k", "status", "v"])
    dim = spark.createDataFrame([(1,), (2,)], ["id"])

    got = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in check_report(
            df,
            [
                completeness("k"),
                uniqueness("k"),
                in_range("v", 0, 100),
                accepted_values("status", ["O", "F", "P"]),
                min_size(3),
            ],
            foreign_keys={"k": (dim, "id")},
        ).collect()
    }
    assert got["completeness(k)"] == (0.75, False)
    assert got["uniqueness(k)"] == (0.5, False)  # 2 distinct / 4 rows
    # v: ok=1 of 4 (null and -5 non-compliant, 20 ok, 10 ok -> 2 of 4)
    assert got["in_range(v)"] == (0.5, False)
    assert got["accepted_values(status)"] == (0.75, False)
    assert got["min_size"] == (4.0, True)
    assert got["referential_integrity(k)"] == (0.0, True)  # nulls skipped

    dim2 = spark.createDataFrame([(1,)], ["id"])
    got2 = {
        r["check_name"]: (r["metric"], r["passed"])
        for r in check_report(df, [min_size(1)], foreign_keys={"k": (dim2, "id")}).collect()
    }
    assert got2["referential_integrity(k)"] == (2.0, False)  # both k=2 rows orphaned


def test_quality_checks_single_scan(spark):
    """N non-FK checks must compile to ONE pass over the table — the
    long-format explode must not replant the aggregate per check."""
    from pmp_analytics_spark.operators.quality import (
        check_report,
        completeness,
        in_range,
        min_size,
    )
    from pmp_analytics_spark.sources.reader import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    rep = check_report(
        orders,
        [completeness("o_orderkey"), in_range("o_totalprice", 0, 1e9), min_size(1)],
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan


def test_quality_freshness_bounds_and_empty(spark):
    """Freshness is an at_most bound (lag hours <= max_age); an all-null
    timestamp column yields a NULL metric which must FAIL, not pass."""
    import datetime

    from pmp_analytics_spark.operators.quality import check_report, freshness

    ts = datetime.datetime(2026, 1, 10, 0, 0, 0)
    df = spark.createDataFrame([(ts,), (ts.replace(day=8),)], ["t"])
    rows = check_report(
        df,
        [
            freshness("t", 48, "2026-01-11 00:00:00"),   # 24h lag: pass
            freshness("t", 12, "2026-01-11 00:00:00"),   # 24h lag: fail
        ],
    ).collect()
    assert [(r["metric"], r["passed"]) for r in rows] == [
        (24.0, True),
        (24.0, False),
    ]
    df2 = spark.createDataFrame([(None,)], "t timestamp")
    rep = check_report(df2, [freshness("t", 1e9, "2026-01-11 00:00:00")]).collect()
    assert rep[0]["metric"] is None and rep[0]["passed"] is False


def test_quarantine_routing_nulls_and_partition(spark):
    """Quarantine splits exactly (clean ∪ bad = df, disjoint), NULL rule
    evaluations fail, reasons list every broken rule in order, and the
    tagging is a pure map-side projection (no Exchange)."""
    from pmp_analytics_spark.operators.quality import RowRule, quarantine

    df = spark.createDataFrame(
        [(1, 10.0, "ok"), (2, None, "ok"), (3, 500.0, None), (4, 9.0, "fine")],
        ["k", "v", "s"],
    )
    clean, bad = quarantine(
        df,
        [
            RowRule("v_cap", F.col("v") <= 100),
            RowRule("s_set", F.col("s").isin(["ok", "fine"])),
        ],
    )
    assert sorted(r["k"] for r in clean.collect()) == [1, 4]
    got = {r["k"]: r["reasons"] for r in bad.collect()}
    assert got == {2: ["v_cap"], 3: ["v_cap", "s_set"]}  # null v fails cap
    assert clean.columns == ["k", "v", "s"]  # reasons dropped on clean side

    import pytest as _pytest

    with _pytest.raises(ValueError, match="already has"):
        quarantine(df.withColumn("reasons", F.lit("x")), [])
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_metric_history_anomaly_detection(spark, tmp_path):
    """Record 4 runs of a drifting completeness metric; the anomaly gate
    must flag the collapsed run (>3 sigma), stay quiet on a normal run,
    and always flag a change from a historically CONSTANT metric."""
    from pmp_analytics_spark.operators.quality import (
        metric_anomalies,
        record_metrics,
    )

    hist = str(tmp_path / "metrics")
    runs = {
        "r1": [("completeness(x)", 0.99), ("min_size", 100.0)],
        "r2": [("completeness(x)", 1.00), ("min_size", 100.0)],
        "r3": [("completeness(x)", 0.995), ("min_size", 100.0)],
        "r4": [("completeness(x)", 0.80), ("min_size", 100.0)],  # collapse
    }
    for rid, rows in runs.items():
        rep = spark.createDataFrame(
            [(c, m, True) for c, m in rows], ["check_name", "metric", "passed"]
        )
        record_metrics(rep, rid, hist)
    history = spark.read.parquet(hist)

    flagged = metric_anomalies(history, "r4", n_sigma=3.0).collect()
    assert [r["check_name"] for r in flagged] == ["completeness(x)"]
    assert flagged[0]["n_prior"] == 3

    assert metric_anomalies(history, "r3", n_sigma=3.0).count() == 0

    # constant-metric change: min_size flips in a new run -> flagged even
    # though sigma over priors is zero
    rep5 = spark.createDataFrame(
        [("min_size", 90.0, True)], ["check_name", "metric", "passed"]
    )
    record_metrics(rep5, "r5", hist)
    flagged5 = metric_anomalies(spark.read.parquet(hist), "r5").collect()
    assert [r["check_name"] for r in flagged5] == ["min_size"]

    # Backfill audit: re-checking r3 must NOT let the later collapsed r4
    # (or r5) contaminate its baseline — r3 stays unflagged with only
    # r1/r2 as priors, and its prior_mean reflects those two alone.
    again = metric_anomalies(spark.read.parquet(hist), "r3", n_sigma=3.0)
    assert again.count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not present"):
        metric_anomalies(spark.read.parquet(hist), "never-ran")


def test_suggest_checks_profile_then_pass(spark):
    """Suggested constraints must (a) match the column shapes — key-like
    -> uniqueness, null-free -> completeness, numeric -> observed range,
    low-cardinality string -> accepted_values — and (b) all PASS when
    evaluated on the very data they were profiled from."""
    from pmp_analytics_spark.operators.quality import check_report, suggest_checks

    df = spark.createDataFrame(
        [(i, float(i % 50), "A" if i % 2 else "B", None if i % 3 else "x") for i in range(200)],
        "k bigint, v double, cat string, sparse string",
    )
    checks = suggest_checks(df)
    names = {c.name for c in checks}
    assert "uniqueness(k)" in names and "completeness(k)" in names
    assert "in_range(v)" in names and "accepted_values(cat)" in names
    assert "completeness(sparse)" not in names  # has nulls
    report = check_report(df, checks)
    failed = [r["check_name"] for r in report.collect() if not r["passed"]]
    assert failed == []

    # Near-unique (one dup) and unique-but-nullable columns must NOT get
    # a uniqueness suggestion the data would immediately fail.
    tricky = spark.createDataFrame(
        [(i if i else 0, i if i < 199 else None) for i in range(200)],
        "dup bigint, holey bigint",
    ).union(spark.createDataFrame([(0, 777)], "dup bigint, holey bigint"))
    names2 = {c.name for c in suggest_checks(tricky)}
    assert "uniqueness(dup)" not in names2      # 201 rows, 200 distinct
    assert "uniqueness(holey)" not in names2    # has a NULL
    rep2 = check_report(tricky, suggest_checks(tricky))
    assert all(r["passed"] for r in rep2.collect())


def test_run_stages_resume_and_force(spark, tmp_path):
    """Stage-materialized pipeline: first run computes all stages; rerun
    computes none (checkpoints read back); deleting a mid checkpoint
    recomputes only from there; force_from recomputes the suffix."""
    import shutil

    from pmp_analytics_spark.operators.pipeline import run_stages

    wd = str(tmp_path / "wd")
    calls = []

    def mk(name, fn):
        def stage(prev):
            calls.append(name)
            return fn(prev)

        return (name, stage)

    stages = [
        mk("seed", lambda _p: spark.range(100).withColumnRenamed("id", "v")),
        mk("double", lambda p: p.selectExpr("v * 2 AS v")),
        mk("tail", lambda p: p.where("v >= 100")),
    ]

    out, computed = run_stages(spark, stages, wd)
    assert computed == ["seed", "double", "tail"] and out.count() == 50

    calls.clear()
    out2, computed2 = run_stages(spark, stages, wd)
    assert computed2 == [] and calls == [] and out2.count() == 50  # full resume

    shutil.rmtree(f"{wd}/01-double")  # crash debris: stage 2 lost
    out3, computed3 = run_stages(spark, stages, wd)
    # seed reused; double recomputes, and tail MUST too — its surviving
    # checkpoint was built from the old double output (stale input)
    assert computed3 == ["double", "tail"] and out3.count() == 50

    _out4, computed4 = run_stages(spark, stages, wd, force_from="double")
    assert computed4 == ["double", "tail"]  # suffix recomputed

    import pytest as _pytest

    with _pytest.raises(ValueError, match="names no stage"):
        run_stages(spark, stages, wd, force_from="duble")


def test_cli_list_run_oracle(spark, tmp_path):
    """__main__ CLI: list covers the registry, run executes + optional
    single-file CSV export, oracle prints the SQL; errors exit 2."""
    import io
    from contextlib import redirect_stdout

    from pmp_analytics_spark.__main__ import main
    from pmp_analytics_spark.queries import all_queries

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["list"]) == 0
    assert set(buf.getvalue().split()) == set(all_queries())

    buf = io.StringIO()
    with redirect_stdout(buf):
        assert main(["oracle", "event_type_counts"]) == 0
    assert "GROUP BY event_type" in buf.getvalue()

    csv = str(tmp_path / "out.csv")
    buf = io.StringIO()
    with redirect_stdout(buf):
        rc = main(
            ["run", "event_type_counts", "--sf-dir", "/root/testdata/sf0.001",
             "--limit", "3", "--csv", csv]
        )
    assert rc == 0
    body = open(csv).read().splitlines()
    assert body[0] == "event_type,count" and len(body) == 6

    assert main(["oracle", "nope"]) == 2
    assert main(["run", "nope"]) == 2


def test_bm25_hand_computed_and_rrf(spark):
    """BM25 on a 3-doc corpus against the hand formula; RRF fuses two
    rank lists with absent-list candidates contributing zero."""
    import math

    from pmp_analytics_spark.operators.retrieval import bm25_topk, rrf_fuse

    # d0: "a a b", d1: "a c", d2: "b b b c"
    occ = spark.createDataFrame(
        [(0, "a"), (0, "a"), (0, "b"), (1, "a"), (1, "c"),
         (2, "b"), (2, "b"), (2, "b"), (2, "c")],
        ["doc_id", "token"],
    )
    q = spark.createDataFrame([(9, "b"), (9, "c")], ["query_id", "token"])
    got = {
        r["doc_id"]: (r["bm25"], r["rank"])
        for r in bm25_topk(occ, q, k=3).collect()
    }

    def idf(df, n=3):
        return math.log((n - df + 0.5) / (df + 0.5) + 1.0)

    def term(tf, dl, avgdl=3.0, k1=1.2, b=0.75):
        return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    exp = {
        0: idf(2) * term(1, 3),                      # b only
        1: idf(2) * term(1, 2),                      # c only
        2: idf(2) * term(3, 4) + idf(2) * term(1, 4),  # b + c
    }
    for d, (score, _rank) in got.items():
        assert abs(score - exp[d]) < 1e-5, (d, score, exp[d])
    # length normalization boosts the shorter d1 (dl=2) over d0 (dl=3)
    assert [d for d, (_s, r) in sorted(got.items(), key=lambda x: x[1][1])] == [
        2, 1, 0,
    ]

    la = spark.createDataFrame(
        [(9, 100, 1), (9, 200, 2)], ["query_id", "doc_id", "rank"]
    )
    lb = spark.createDataFrame(
        [(9, 200, 1), (9, 300, 2)], ["query_id", "doc_id", "rank"]
    )
    fused = {r["doc_id"]: r["rank"] for r in rrf_fuse([la, lb], k=3).collect()}
    assert fused[200] == 1            # in both lists -> wins
    assert fused[100] == 2 and fused[300] == 3  # 1/61 > 1/62; id tie-break n/a


def test_pca_fit_and_project_match_numpy(spark, tmp_path):
    """The distributed projection must equal the numpy projection of the
    same fitted components, and the fit must be sign-canonical with
    descending eigenvalues."""
    import numpy as np

    from pmp_analytics_spark.operators.pca import (
        _pca_fit_arrays,
        pca_fit,
        pca_project_long,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(120, 6))
    base[:, 0] *= 5.0  # dominant direction
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))

    mu, W, lam, tot = pca_fit(emb, r=3, sample_n=1000)
    assert lam[0] >= lam[1] >= lam[2] >= 0
    for c in range(3):  # canonical sign: largest-|entry| positive
        assert W[np.argmax(np.abs(W[:, c])), c] > 0
    # orthonormal components
    assert np.allclose(W.T @ W, np.eye(3), atol=1e-10)

    got = {
        (r["vec_id"], r["comp"]): r["coord"]
        for r in pca_project_long(emb, mu, W, lam, tot).collect()
    }
    # Spark used float32 inputs upcast to double; replicate that here
    X32 = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    want = (X32 - mu) @ W
    for i in range(120):
        for c in range(3):
            assert abs(got[(i, c + 1)] - want[i, c]) < 1e-9

    # determinism of the shared fit entry points: the oracle snapshot
    # reads the same float32 parquet, so feed the float32-rounded values
    rows32 = [(i, [float(x) for x in X32[i]]) for i in range(120)]
    mu2, W2, lam2, tot2 = _pca_fit_arrays([r[1] for r in sorted(
        rows32, key=lambda t: __import__("hashlib").md5(str(t[0]).encode()).hexdigest()
    )][:1000], 3)
    assert np.array_equal(W, W2) and np.array_equal(mu, mu2)


def test_tokenize_ids_reassembles_words(spark, tmp_path):
    """Concatenating each word's subword stream in (word_pos, sub_pos)
    order must reproduce the original token stream, and ids must be the
    contiguous frequency-ranked vocab."""
    from pmp_analytics_spark.queries.pretrain import docs_tokenize_ids

    rows = [(1, "ab ab abc xy"), (2, "abc xy xy")]
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = docs_tokenize_ids(spark, str(tmp_path)).collect()

    # ids contiguous from 1, one id per distinct token
    toks = {r["token"]: r["token_id"] for r in out}
    assert sorted(toks.values()) == list(range(1, len(toks) + 1))

    # reassembly: group subwords by (doc, word_pos), concatenation in
    # sub_pos order must equal the original word
    from collections import defaultdict

    words = defaultdict(list)
    for r in out:
        words[(r["doc_id"], r["word_pos"])].append((r["sub_pos"], r["token"]))
    originals = {}
    for doc_id, text in rows:
        for p, w in enumerate(text.split()):
            originals[(doc_id, p)] = w
    assert set(words) == set(originals)
    for key, parts in words.items():
        assert "".join(t for _, t in sorted(parts)) == originals[key]


def test_neardup_bucket_store_persists_through_parquet(spark, tmp_path):
    """The '100 TB' claim behind incremental ingest is that the band
    bucket store is PERSISTED per-corpus state, not a per-session
    derivation — so a store written to parquet and read back by a fresh
    reader must probe bit-identically to the in-memory frame."""
    from pmp_analytics_spark.operators.dedup import (
        band_key_frame,
        exploded_shingle_hashes,
        minhash_signatures,
        neardup_probe,
    )

    base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    history = spark.createDataFrame(
        [(1, base), (2, "colorless green ideas sleep furiously tonight"),
         (3, "entirely unrelated text about spark shuffle planning")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [(10, base.replace("dog", "cat")), (11, "nothing like the others at all")],
        ["doc_id", "text"],
    )
    ex_h = exploded_shingle_hashes(history, "text", "doc_id", 5)
    keys_h = band_key_frame(minhash_signatures(ex_h, "doc_id", 16), "doc_id", 16, 4)
    ex_b = exploded_shingle_hashes(batch, "text", "doc_id", 5)

    live = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in neardup_probe(ex_h, keys_h, ex_b, "doc_id", threshold=0.5).collect()
    )
    assert {(a, b) for a, b, _ in live} == {(10, 1)}

    # persist BOTH store tables, read back cold, probe again
    ex_h.write.mode("overwrite").parquet(str(tmp_path / "store_ex"))
    keys_h.write.mode("overwrite").parquet(str(tmp_path / "store_keys"))
    ex_h2 = spark.read.parquet(str(tmp_path / "store_ex"))
    keys_h2 = spark.read.parquet(str(tmp_path / "store_keys"))
    cold = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in neardup_probe(ex_h2, keys_h2, ex_b, "doc_id", threshold=0.5).collect()
    )
    assert cold == live


def test_quality_fk_only_report_and_empty_raises(spark):
    """checks == [] with foreign keys is a legal report (the agg pass is
    skipped, not exploded over an untyped empty array); both empty is a
    ValueError, since an empty report would read as all-green."""
    import pytest

    from pmp_analytics_spark.operators.quality import check_report

    fact = spark.createDataFrame([(1,), (2,), (9,)], ["k"])
    dim = spark.createDataFrame([(1,), (2,)], ["id"])
    rows = check_report(fact, [], foreign_keys={"k": (dim, "id")}).collect()
    assert [(r["check_name"], r["metric"], r["passed"]) for r in rows] == [
        ("referential_integrity(k)", 1.0, False)
    ]
    with pytest.raises(ValueError):
        check_report(fact, [])


def test_bm25_wand_equals_plain_and_prunes_zipf(spark):
    """bm25_topk_wand must be bit-identical to bm25_topk, and on a
    Zipf-shaped corpus (one stop-word-like term in every doc, rare terms
    carrying the signal) the essential-term prune must drop the common
    term's posting mass — the property the flat synthetic vocabulary
    can't show (PERFORMANCE.md round-6 note)."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_wand,
        wand_posting_counts,
    )

    # 400 docs: every doc contains 'the' x3; doc d also contains rare
    # term f"r{d % 40}" and f"s{d % 7}". Queries ask for one rare + the
    # stop word — the stop word's ub is tiny, so it must fall out of the
    # essential set once the probe threshold is known.
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.array(
            F.lit("the"), F.lit("the"), F.lit("the"),
            F.concat(F.lit("r"), (F.col("id") % 40).cast("string")),
            F.concat(F.lit("s"), (F.col("id") % 7).cast("string")),
        ).alias("toks"),
    )
    occ = docs.select("doc_id", F.explode("toks").alias("token"))
    qterms = spark.createDataFrame(
        [(900, "the"), (900, "r3"), (901, "the"), (901, "r17")],
        ["query_id", "token"],
    )
    a = sorted(map(tuple, bm25_topk(occ, qterms, k=5).collect()))
    b = sorted(map(tuple, bm25_topk_wand(occ, qterms, k=5).collect()))
    assert a == b and len(a) == 10
    stats = wand_posting_counts(occ, qterms, k=5, m_probe=1)
    # full = 2 queries x ('the' in 400 docs + rare in 10 docs) = 820;
    # surviving = only docs holding the essential rare term (10/query).
    assert stats["full_postings"] == 820
    assert stats["surviving_postings"] <= 40, stats
    # Self-exclusion + degenerate short corpus edge: fewer docs than k.
    tiny = occ.where(F.col("doc_id") < 3)
    ta = sorted(map(tuple, bm25_topk(tiny, qterms, k=5).collect()))
    tb = sorted(map(tuple, bm25_topk_wand(tiny, qterms, k=5).collect()))
    assert ta == tb


def test_wand_posting_counts_no_corpus_terms(spark):
    """Query terms entirely absent from the corpus: sum('df') over the
    empty join is NULL — the measurement must report zeros, not raise
    (regression: int(None) TypeError)."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.retrieval import wand_posting_counts

    occ = spark.range(20).select(
        F.col("id").alias("doc_id"), F.lit("present").alias("token")
    )
    qterms = spark.createDataFrame(
        [(1, "absent"), (1, "also_absent")], ["query_id", "token"]
    )
    stats = wand_posting_counts(occ, qterms, k=3)
    assert stats == {"full_postings": 0, "surviving_postings": 0}


def test_jaccard_prefix_candidates_respects_caller_q(spark, monkeypatch):
    """Two 20-token docs sharing 19 HIGH-df boilerplate tokens
    (J = 19/21 ~= 0.905 >= 0.9): at q=12 the count filter demands 12
    extended-prefix collisions, so the weakened per-row positional bound
    must keep all 12 witness rows — alpha - (q-1), with the SAME q.
    Regression: the bound hardcoded q-1 = 7, which at q=12 starved the
    count to 8 rows and silently dropped the true pair."""
    from pmp_analytics_spark.operators import dedup
    from pmp_analytics_spark.operators.dedup import jaccard_prefix_candidates

    monkeypatch.setattr(dedup, "_PREFIX_Q", 12)
    common = [f"c{i:02d}" for i in range(19)]
    rows = [(1, t) for t in common + ["ua"]] + [
        (2, t) for t in common + ["ub"]
    ]
    toks = spark.createDataFrame(rows, ["doc_id", "__h"])
    got = {
        (r["id_a"], r["id_b"])
        for r in jaccard_prefix_candidates(toks, "doc_id", threshold=0.9).collect()
    }
    assert (1, 2) in got


def test_snapshot_delta_classes_and_null_semantics(spark):
    """added / removed / changed classification, unchanged rows dropped,
    and NULL-SAFE comparison: value->null and null->value are changes,
    null->null is not."""
    from pmp_analytics_spark.operators.diff import snapshot_delta

    old = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, None), (3, 30.0, "C"), (4, None, "D")],
        ["k", "price", "status"],
    )
    new = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, None), (3, 31.0, "C"), (5, 50.0, "E")],
        ["k", "price", "status"],
    )
    got = {r["k"]: r for r in snapshot_delta(old, new, ["k"]).collect()}
    # 1 unchanged (dropped), 2 unchanged incl. null==null (dropped)
    assert set(got) == {3, 4, 5}
    assert got[3]["change_type"] == "changed"
    assert (got[3]["old_price"], got[3]["new_price"]) == (30.0, 31.0)
    assert got[4]["change_type"] == "removed" and got[4]["new_price"] is None
    assert got[5]["change_type"] == "added" and got[5]["old_price"] is None
    # null -> value on a surviving key counts as changed
    old2 = spark.createDataFrame([(7, None)], "k int, v double")
    new2 = spark.createDataFrame([(7, 1.0)], "k int, v double")
    r = snapshot_delta(old2, new2, ["k"]).collect()
    assert len(r) == 1 and r[0]["change_type"] == "changed"


def test_snapshot_delta_composite_key_and_subset_cols(spark):
    from pmp_analytics_spark.operators.diff import snapshot_delta

    old = spark.createDataFrame(
        [(1, "a", 5, "x"), (1, "b", 6, "y")], ["k1", "k2", "v", "ignored"]
    )
    new = spark.createDataFrame(
        [(1, "a", 5, "CHANGED-BUT-EXCLUDED"), (1, "b", 7, "y")],
        ["k1", "k2", "v", "ignored"],
    )
    got = snapshot_delta(old, new, ["k1", "k2"], compare_cols=["v"]).collect()
    assert [(r["k1"], r["k2"], r["change_type"]) for r in got] == [(1, "b", "changed")]


def test_logistic_classifier_matches_numpy_reference(spark):
    """fit_logistic's distributed GD must reproduce a numpy
    implementation of the SAME protocol (binary hashed features, class
    weights, in-engine gradient rounding) exactly, and separate a
    corpus whose label is carried by one token."""
    import numpy as np
    from pyspark.sql import functions as F

    from pmp_analytics_spark.functions.text import tokens as tok_fn
    from pmp_analytics_spark.operators.classifier import (
        fit_logistic,
        hashed_features,
        score_logistic,
    )

    DIM, LR, IT, DP = 16, 2.0, 5, 8
    texts = []
    for i in range(40):
        base = f"alpha beta gamma{i % 3} delta{i % 5}"
        texts.append((i, base + (" signal" if i % 2 == 0 else " noise")))
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    labels = docs.select(
        "doc_id", F.array_contains(tok_fn("text"), "signal").cast("int").alias("y")
    ).withColumn("sw", F.lit(1.0))

    feats = hashed_features(docs, "text", "doc_id", DIM, binary=True).cache()
    w = fit_logistic(
        spark, feats, labels, weight_col="sw", dim=DIM, lr=LR, iters=IT, grad_dp=DP
    )

    # numpy twin over the identical feature matrix
    rows = feats.collect()
    ids = sorted({r["doc_id"] for r in rows})
    X = np.zeros((len(ids), DIM + 1))
    for r in rows:
        X[ids.index(r["doc_id"]), r["bucket"]] = r["x"]
    y = np.array([1 if i % 2 == 0 else 0 for i in ids], dtype=float)
    wn = np.zeros(DIM + 1)
    for _ in range(IT):
        p = 1.0 / (1.0 + np.exp(-(X @ wn)))
        g = np.round((X.T @ (p - y)) / len(ids), DP)
        wn = wn - LR * g
    assert np.allclose(w, wn, atol=1e-12), (w, wn.tolist())

    m = {r["doc_id"]: r["m"] for r in score_logistic(feats, w).collect()}
    preds = {i: int(m[i] > 0) for i in ids}
    acc = sum(preds[i] == (1 if i % 2 == 0 else 0) for i in ids) / len(ids)
    assert acc == 1.0, acc


def test_hashed_features_bias_and_zero_token_docs(spark):
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.classifier import hashed_features

    docs = spark.createDataFrame(
        [(1, "aa bb aa"), (2, "...")], ["doc_id", "text"]
    )
    tf = hashed_features(docs, "text", "doc_id", 8).collect()
    # doc 2 tokenizes to nothing: only its bias row survives
    d2 = [r for r in tf if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["bucket"] == 8 and d2[0]["x"] == 1.0
    # doc 1: tf features sum to 1 plus the bias 1.0
    d1 = sorted(r["x"] for r in tf if r["doc_id"] == 1)
    assert abs(sum(d1) - 2.0) < 1e-12
    bi = hashed_features(docs, "text", "doc_id", 8, binary=True).collect()
    assert all(r["x"] == 1.0 for r in bi)


def test_margin_expression_equals_score_logistic(spark):
    """margin_expression (the row-local streaming scorer) must equal
    score_logistic over binary hashed features for EVERY doc — including
    a zero-token doc, whose margin is the bias alone — under an
    arbitrary fixed weight vector. This is the contract that lets the
    batch-trained model score a stream join-free."""
    from pmp_analytics_spark.operators.classifier import (
        hashed_features,
        margin_expression,
        score_logistic,
    )

    DIM = 16
    w = [((-1) ** i) * (0.125 * i + 0.0625) for i in range(DIM + 1)]
    docs = spark.createDataFrame(
        [
            (1, "alpha beta alpha gamma"),
            (2, "..."),  # zero tokens -> bias-only margin
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "alpha"),
            (5, None),  # NULL text scores like zero tokens, not NULL
        ],
        ["doc_id", "text"],
    )
    feats = hashed_features(docs, "text", "doc_id", DIM, binary=True)
    want = {r["doc_id"]: r["m"] for r in score_logistic(feats, w).collect()}
    got = {
        r["doc_id"]: r["m"]
        for r in docs.select(
            "doc_id", margin_expression(w, "text", DIM).alias("m")
        ).collect()
    }
    assert set(got) == set(want) == {1, 2, 3, 4, 5}
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])
    assert abs(got[2] - w[DIM]) < 1e-12  # bias-only
    assert abs(got[5] - w[DIM]) < 1e-12  # NULL text: bias-only, never NULL


def test_incremental_mv_refresh_matches_full_recompute(spark):
    """incremental_mv_refresh over a snapshot_delta must equal the full
    recompute on the new snapshot for every change class at once:
    removed rows, added rows, changed measures, a row MOVING between
    groups, a group vanishing entirely (count -> 0 dropped), a group
    born in the delta, and a NULL group key (one group, null-safe
    merge). A second chained refresh proves output feeds input."""
    from decimal import Decimal

    from pmp_analytics_spark.operators.diff import (
        incremental_mv_refresh,
        snapshot_delta,
    )

    def frame(rows):
        df = spark.createDataFrame(rows, ["k", "g", "v"])
        return df.select("k", "g", F.col("v").cast("decimal(10,2)").alias("v"))

    old = frame(
        [
            (1, "a", "10.00"),
            (2, "a", "20.00"),
            (3, "b", "5.00"),   # b vanishes: row 3 removed
            (4, "c", "7.00"),   # c -> a: group move
            (5, None, "1.00"),  # null group, unchanged
            (6, None, "2.50"),  # null group, measure changes
        ]
    )
    new = frame(
        [
            (1, "a", "10.00"),   # unchanged -> no delta row
            (2, "a", "25.00"),   # measure change in place
            (4, "a", "7.00"),    # moved c -> a
            (5, None, "1.00"),
            (6, None, "9.50"),
            (7, "d", "4.00"),    # group d born
        ]
    )

    def mv(df):
        return df.groupBy("g").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )

    got = incremental_mv_refresh(
        mv(old), snapshot_delta(old, new, ["k"]), ["g"], {"total": "v"}, "n_rows"
    )
    want = {r["g"]: (r["total"], r["n_rows"]) for r in mv(new).collect()}
    have = {r["g"]: (r["total"], r["n_rows"]) for r in got.collect()}
    assert have == want
    assert "b" not in have and "d" in have  # vanished / born
    assert have["a"] == (Decimal("42.00"), 3)
    assert have[None] == (Decimal("10.50"), 2)
    # schema parity: refresh output is a valid mv for the NEXT refresh
    assert [f.dataType for f in got.schema.fields] == [
        f.dataType for f in mv(old).schema.fields
    ]
    new2 = frame([(2, "a", "25.00"), (7, "e", "4.00"), (8, "d", "6.00")])
    got2 = incremental_mv_refresh(
        got, snapshot_delta(new, new2, ["k"]), ["g"], {"total": "v"}, "n_rows"
    )
    want2 = {r["g"]: (r["total"], r["n_rows"]) for r in mv(new2).collect()}
    assert {r["g"]: (r["total"], r["n_rows"]) for r in got2.collect()} == want2


def test_incremental_mv_refresh_empty_delta_is_identity(spark):
    from pmp_analytics_spark.operators.diff import (
        incremental_mv_refresh,
        snapshot_delta,
    )

    df = spark.createDataFrame([(1, "a", 10), (2, "b", 3)], ["k", "g", "v"])
    base_mv = df.groupBy("g").agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows")
    )
    out = incremental_mv_refresh(
        base_mv, snapshot_delta(df, df, ["k"]), ["g"], {"total": "v"}, "n_rows"
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base_mv.collect()))


def test_mv_refresh_minmax_matches_full_recompute(spark):
    """mv_refresh_minmax must equal the full recompute when the delta
    removes a group's MAX carrier (the case additive refresh cannot
    handle), moves a row between groups (both touched), births and
    vanishes groups, and carries a NULL group key — while untouched
    groups pass through verbatim."""
    from pmp_analytics_spark.operators.diff import (
        mv_refresh_minmax,
        snapshot_delta,
    )

    old = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "a", 99),   # the max of a — removed in new
            (3, "b", 5),    # b vanishes
            (4, "c", 7),    # moves c -> a
            (5, None, 3),
            (6, "z", 50),   # untouched group
        ],
        ["k", "g", "v"],
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10),
            (4, "a", 7),
            (5, None, 4),   # null-group measure change
            (6, "z", 50),
            (7, "d", 2),    # born
        ],
        ["k", "g", "v"],
    )

    def mv(df):
        return df.groupBy("g").agg(
            F.min("v").alias("lo"), F.max("v").alias("hi")
        )

    got = mv_refresh_minmax(
        mv(old),
        snapshot_delta(old, new, ["k"]),
        new,
        ["g"],
        {"lo": ("min", "v"), "hi": ("max", "v")},
    )
    want = sorted(map(tuple, mv(new).collect()), key=str)
    assert sorted(map(tuple, got.collect()), key=str) == want
    rows = {r["g"]: (r["lo"], r["hi"]) for r in got.collect()}
    assert rows["a"] == (7, 10)  # 99 gone: recomputed, not adjusted
    assert "b" not in rows and rows["d"] == (2, 2)
    assert rows[None] == (4, 4) and rows["z"] == (50, 50)


def test_mv_refresh_trajectory_random_transitions(spark):
    """Both MV refresh kinds must track the full recompute through a
    CHAIN of seeded random snapshot transitions (insert/delete/update
    measures AND group moves each step), the additive view feeding its
    own next refresh — the regime a production CDC consumer lives in.
    Deterministic: transitions derive from md5 of (seed, step, key)."""
    import hashlib
    from decimal import Decimal

    from pmp_analytics_spark.operators.diff import (
        incremental_mv_refresh,
        mv_refresh_minmax,
        snapshot_delta,
    )

    def h(step, key, salt):
        return int(
            hashlib.md5(f"7|{step}|{key}|{salt}".encode()).hexdigest()[:8], 16
        )

    def snapshot(step):
        rows = []
        for key in range(60):
            if h(step, key, "alive") % 5 == 0:
                continue  # deleted this step
            grp = f"g{h(step, key, 'grp') % 7}" if h(step, key, "gn") % 9 else None
            val = Decimal(h(step, key, "val") % 10_000) / 100
            rows.append((key, grp, val))
        df = spark.createDataFrame(rows, ["k", "g", "v"])
        return df.select("k", "g", F.col("v").cast("decimal(10,2)").alias("v"))

    def mv_sum(df):
        return df.groupBy("g").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )

    def mv_mm(df):
        return df.groupBy("g").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))

    def rows(df):
        return sorted(map(tuple, df.collect()), key=str)

    cur = snapshot(0)
    add_view = mv_sum(cur)
    for step in range(1, 4):
        nxt = snapshot(step)
        delta = snapshot_delta(cur, nxt, ["k"])
        add_view = incremental_mv_refresh(
            add_view, delta, ["g"], {"total": "v"}, "n_rows"
        ).localCheckpoint(eager=True)  # cut the growing lineage, as a real
        # consumer's parquet round-trip would
        assert rows(add_view) == rows(mv_sum(nxt)), f"additive diverged @ {step}"
        mm_view = mv_refresh_minmax(
            mv_mm(cur), delta, nxt, ["g"], {"lo": ("min", "v"), "hi": ("max", "v")}
        )
        assert rows(mm_view) == rows(mv_mm(nxt)), f"minmax diverged @ {step}"
        cur = nxt


def test_lsh_index_refresh_matches_fresh_rebuild(spark):
    """The CDC-refreshed LSH band store must equal a fresh rebuild on
    the new corpus row-for-row: removed docs' band rows evicted, edited
    docs re-banded under their new text, added docs present, untouched
    docs' rows carried verbatim (same band keys)."""
    from pmp_analytics_spark.operators.dedup import (
        band_key_frame,
        exploded_shingle_hashes,
        lsh_index_refresh,
        minhash_signatures,
    )
    from pmp_analytics_spark.operators.diff import snapshot_delta

    def corpus(rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def fresh(df):
        return band_key_frame(
            minhash_signatures(
                exploded_shingle_hashes(df, "text", "doc_id", 5), "doc_id", 16
            ),
            "doc_id",
            16,
            4,
        )

    old = corpus(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs"),
            (3, "how vexingly quick daft zebras jump"),
        ]
    )
    new = corpus(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # unchanged
            (3, "how vexingly quick daft zebras jump INDEED"),   # edited
            (4, "sphinx of black quartz judge my vow"),          # added
        ]  # 2 removed
    )
    got = lsh_index_refresh(
        fresh(old), snapshot_delta(old, new, ["doc_id"]), "doc_id", "text"
    )
    want = sorted(map(tuple, fresh(new).collect()))
    assert sorted(map(tuple, got.collect())) == want
    ids = {r["doc_id"] for r in got.collect()}
    assert ids == {1, 3, 4}


def test_ivf_index_refresh_matches_fresh_assignment(spark):
    """The CDC-refreshed IVF assignment table under a FIXED quantizer
    must equal a fresh assignment pass over the new corpus: removed ids
    evicted, a changed vector re-assigned (here it crosses cells),
    added vectors assigned, untouched rows carried."""
    import numpy as np

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.similarity_search import (
        Quantizer,
        encode,
        index_refresh,
    )

    quantizer = Quantizer(np.array([[0.0, 0.0], [10.0, 10.0]]))

    def corpus(rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    old = corpus(
        [(1, [0.5, 0.1]), (2, [9.0, 9.5]), (3, [1.0, 0.0]), (4, [8.0, 11.0])]
    )
    new = corpus(
        [(1, [0.5, 0.1]), (3, [9.9, 9.9]), (4, [8.0, 11.0]), (5, [0.2, 0.2])]
    )  # 2 removed; 3 moves cell 0 -> 1; 5 added

    def index_of(df):
        return encode(df, quantizer).select("vec_id", "__cell")

    got = index_refresh(
        index_of(old), snapshot_delta(old, new, ["vec_id"]), quantizer
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, index_of(new).collect())
    )
    rows = dict(map(tuple, got.collect()))
    assert rows == {1: 0, 3: 1, 4: 1, 5: 0}


def test_pq_codes_refresh_matches_fresh_encode(spark):
    """The CDC-refreshed PQ code table under FIXED codebooks must equal a
    fresh encode pass over the new corpus: removed ids evicted, a
    changed vector re-encoded (its subspace codes move), added vectors
    encoded, untouched rows carried."""
    import numpy as np

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.similarity_search import (
        Quantizer,
        encode,
        index_refresh,
    )

    # plain PQ (one cell at the origin): m=2 subspaces of width 2, k=2 codes each
    books = np.array(
        [
            [[0.0, 0.0], [5.0, 5.0]],
            [[0.0, 0.0], [-5.0, -5.0]],
        ]
    )
    quantizer = Quantizer(np.zeros((1, 4)), books)

    def corpus(rows):
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    old = corpus(
        [
            (1, [0.1, 0.2, -4.0, -4.5]),
            (2, [4.9, 5.2, 0.3, 0.0]),
            (3, [0.0, 0.1, 0.1, 0.0]),
        ]
    )
    new = corpus(
        [
            (1, [0.1, 0.2, -4.0, -4.5]),   # unchanged
            (3, [5.0, 4.8, -5.1, -4.9]),   # changed: codes flip to [1, 1]
            (4, [4.4, 4.4, 0.2, 0.2]),     # added
        ]  # 2 removed
    )
    got = index_refresh(
        encode(old, quantizer), snapshot_delta(old, new, ["vec_id"]), quantizer
    )
    want = sorted((r["vec_id"], list(r["__codes"])) for r in encode(new, quantizer).collect())
    have = sorted((r["vec_id"], list(r["__codes"])) for r in got.collect())
    assert have == want
    assert dict(have) == {1: [0, 1], 3: [1, 1], 4: [1, 0]}


def test_ivfpq_encode_matches_numpy(spark):
    """Fused assign+residual+encode pass vs a per-row numpy replay:
    cells are the argmin over cents, codes the per-subspace argmin over
    the RESIDUAL codebooks."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import encode, train_quantizer

    rng = np.random.default_rng(17)
    centers = rng.normal(scale=10.0, size=(6, 16))
    vecs = np.concatenate(
        [c + rng.normal(size=(20, 16)) for c in centers]
    ).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        ["vec_id", "embedding"],
    )
    quantizer = train_quantizer(corpus, 6, m=4, k_codes=8)
    cents, books = quantizer
    got = {
        r["vec_id"]: (r["__cell"], list(r["__codes"]))
        for r in encode(corpus, quantizer).collect()
    }
    x = vecs.astype(np.float64)
    for i in range(len(x)):
        d2 = ((x[i][None, :] - cents) ** 2).sum(axis=1)
        cell = int(d2.argmin())
        r = x[i] - cents[cell]
        codes = [
            int(((r[j * 4 : (j + 1) * 4][None, :] - books[j]) ** 2).sum(axis=1).argmin())
            for j in range(4)
        ]
        assert got[i] == (cell, codes), i


def test_ivfpq_topk_beats_raw_pq_on_offset_clusters(spark):
    """Residual PQ's reason to exist: when cluster centers are far apart,
    raw-coordinate codebooks burn their codes on the offsets while
    residual codebooks model the local geometry. On such data IVF-PQ
    recall@5 must be >= raw PQ recall@5, self point must rank first, and
    ADC distances are non-decreasing with rank."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import ann_topk, train_quantizer

    rng = np.random.default_rng(29)
    centers = rng.normal(scale=30.0, size=(8, 16))
    vecs = np.concatenate(
        [c + rng.normal(size=(25, 16)) for c in centers]
    ).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(30, [float(x) for x in vecs[30]]), (101, [float(x) for x in vecs[101]])],
        ["query_id", "query_vec"],
    )
    d2 = ((vecs.astype(np.float64)[None, :, :] - vecs.astype(np.float64)[:, None, :]) ** 2).sum(axis=2)

    def recall(rows):
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(by_q.get(q, set()) & set(np.argsort(d2[q], kind="stable")[:5]))
            for q in (30, 101)
        )

    ivfpq = train_quantizer(corpus, 8, m=4, k_codes=8)
    ivfpq_rows = sorted(
        ann_topk(corpus, queries, ivfpq, nprobe=2, k=5).collect(),
        key=lambda r: (r["query_id"], r["rank"]),
    )
    pq = train_quantizer(corpus, m=4, k_codes=8)
    pq_rows = ann_topk(corpus, queries, pq, k=5).collect()
    assert recall(ivfpq_rows) >= recall(pq_rows)
    per_q = {}
    for r in ivfpq_rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rows in per_q.items():
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
        assert rows[0]["vec_id"] == q  # self point first via id tie-break


def test_index_eval_metrics_exact(spark):
    """Hand-built candidate lists with known metrics: the harness must
    reproduce recall/MRR/nDCG exactly, including the all-miss method
    and a query missing from a method's output (scores 0, mean over
    n_queries)."""
    import math

    from pmp_analytics_spark.operators.similarity_search import index_eval

    truth = spark.createDataFrame(
        [(q, 10 * r, r) for q in (1, 2) for r in (1, 2, 3)],
        ["query_id", "vec_id", "rank"],
    )
    perfect = truth
    # q1: hits at ranks 2 and 3 only; q2: absent entirely
    partial = spark.createDataFrame(
        [(1, 99, 1), (1, 10, 2), (1, 20, 3)], ["query_id", "vec_id", "rank"]
    )
    misses = spark.createDataFrame(
        [(q, 90 + r, r) for q in (1, 2) for r in (1, 2, 3)],
        ["query_id", "vec_id", "rank"],
    )
    out = {
        r["method"]: r
        for r in index_eval(
            truth,
            {"perfect": perfect, "partial": partial, "misses": misses},
            k=3,
            n_queries=2,
        ).collect()
    }
    assert out["perfect"]["recall_at_k"] == 1.0
    assert out["perfect"]["mrr"] == 1.0
    assert out["perfect"]["ndcg"] == 1.0
    assert out["misses"]["recall_at_k"] == 0.0
    assert out["misses"]["mrr"] == 0.0
    assert out["misses"]["ndcg"] == 0.0
    w = [1.0 / math.log2(i + 1) for i in (1, 2, 3)]
    assert out["partial"]["recall_at_k"] == round((2 / 3) / 2, 6)
    assert out["partial"]["mrr"] == round((1 / 2) / 2, 6)
    assert out["partial"]["ndcg"] == round((w[1] + w[2]) / sum(w) / 2, 6)


def test_ivfpq_codes_refresh_matches_fresh_encode(spark):
    """The composed-index CDC refresh must be bit-identical to a fresh
    fused assign+residual+encode pass over the new corpus (cell and
    codes are pure per-vector functions of the fixed quantizers)."""
    import numpy as np

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.similarity_search import (
        encode,
        index_refresh,
        train_quantizer,
    )

    rng = np.random.default_rng(43)
    vecs = rng.normal(size=(120, 16)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
    old = spark.createDataFrame(
        [r for r in rows if r[0] % 7 != 3], ["vec_id", "embedding"]
    )
    new = spark.createDataFrame(
        [
            (i, [-x for x in v] if i % 9 == 2 else v)
            for i, v in rows
            if i % 5 != 1
        ],
        ["vec_id", "embedding"],
    )
    quantizer = train_quantizer(old, 4, m=4, k_codes=8)
    index0 = encode(old, quantizer)
    refreshed = index_refresh(
        index0, snapshot_delta(old, new, ["vec_id"]), quantizer
    )
    want = {
        r["vec_id"]: (r["__cell"], list(r["__codes"]))
        for r in encode(new, quantizer).collect()
    }
    got = {
        r["vec_id"]: (r["__cell"], list(r["__codes"]))
        for r in refreshed.collect()
    }
    assert got == want


def test_dedup_pair_eval_metrics_exact(spark):
    """Pair-set harness: precision/recall/f1 reproduce hand-computed
    values; an all-false method scores zeros; an empty method yields no
    row (identically on both engines by design)."""
    truth = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], ["id_a", "id_b"]
    )
    from pmp_analytics_spark.operators.dedup import dedup_pair_eval

    half = spark.createDataFrame(
        [(1, 2), (7, 8), (4, 5), (9, 10)], ["id_a", "id_b"]
    )
    misses = spark.createDataFrame([(7, 9)], ["id_a", "id_b"])
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = {
        r["method"]: r
        for r in dedup_pair_eval(
            truth,
            {"truth": truth, "half": half, "misses": misses, "empty": empty},
        ).collect()
    }
    assert "empty" not in out
    t = out["truth"]
    assert (t["n_pairs"], t["n_true"], t["precision"], t["recall"], t["f1"]) == (
        3, 3, 1.0, 1.0, 1.0,
    )
    h = out["half"]
    assert (h["n_pairs"], h["n_true"]) == (4, 2)
    assert h["precision"] == 0.5 and h["recall"] == round(2 / 3, 6)
    p, r = 2 / 4, 2 / 3
    assert h["f1"] == round(2 * p * r / (p + r), 6)
    m = out["misses"]
    assert (m["precision"], m["recall"], m["f1"]) == (0.0, 0.0, 0.0)


# ---------------------------------------------------------------------------
# heavy hitters (operators/frequent.py): Misra-Gries prune + exact verify
# ---------------------------------------------------------------------------


def test_misra_gries_partial_keeps_frequent_items():
    import pandas as pd

    from pmp_analytics_spark.operators.frequent import misra_gries_partial

    # 1000 items: 'hot' appears 300x (> n/(m+1) for m=4), tail of 70
    # distinct items fills/evicts the 4-counter table constantly.
    stream = ["hot"] * 300 + [f"t{i % 70}" for i in range(700)]
    # Feed in many small chunks so the cross-chunk merge path runs too.
    chunks = [pd.Series(stream[i : i + 50]) for i in range(0, len(stream), 50)]
    counters = misra_gries_partial(iter(chunks), capacity=4)
    assert "hot" in counters  # the MG retention guarantee
    assert len(counters) <= 4
    # Counter never exceeds the true count.
    assert counters["hot"] <= 300


def test_heavy_hitters_exact_and_partitioning_independent(spark):
    import random

    from pmp_analytics_spark.operators.frequent import heavy_hitters

    rng = random.Random(7)
    # Zipf-ish: item i has weight ~ 1/(i+1); 3000 draws over 200 items.
    pool = [f"w{i}" for i in range(200) for _ in range(200 // (i + 1) + 1)]
    rows = [(rng.choice(pool),) for _ in range(3000)]
    df = spark.createDataFrame(rows, ["item"])

    truth = {
        (r["item"], r["cnt"])
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
        if r["cnt"] * 100 > 3000
    }
    for nparts in (1, 7):
        got = {
            (r["item"], r["cnt"])
            for r in heavy_hitters(
                df.repartition(nparts), "item", 1, 100
            ).collect()
        }
        assert got == truth, f"nparts={nparts}"
    # total column is the real row count
    row = heavy_hitters(df, "item", 1, 100).limit(1).collect()
    assert row and row[0]["total"] == 3000


def test_heavy_hitters_empty_and_null_input(spark):
    from pmp_analytics_spark.operators.frequent import heavy_hitters

    df = spark.createDataFrame([(None,), (None,)], "item string")
    assert heavy_hitters(df, "item", 1, 10).count() == 0


def test_triangle_count_matches_bruteforce(spark):
    import itertools
    import random

    from pmp_analytics_spark.operators.graph import triangle_count

    rng = random.Random(13)
    n = 40
    # Random graph + one hub connected to everyone (orientation stress).
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.15}
    edges |= {(0, b) for b in range(1, n)}
    adj = {i: set() for i in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    truth: dict[int, int] = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                truth[x] = truth.get(x, 0) + 1

    # Feed DIRECTED, DUPLICATED, self-looped edges: canonicalization is
    # part of the contract.
    rows = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    rows += [(a, b) for a, b in list(edges)[:20]] + [(5, 5)]
    df = spark.createDataFrame(rows, ["src", "dst"])
    got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
    assert got == truth


def test_triangle_count_no_triangles(spark):
    from pmp_analytics_spark.operators.graph import triangle_count

    # A path graph has zero triangles.
    df = spark.createDataFrame([(i, i + 1) for i in range(10)], ["src", "dst"])
    assert triangle_count(df).count() == 0


def test_exact_percentiles_matches_sorted_ground_truth(spark):
    import math
    import random

    from pmp_analytics_spark.operators.quantiles import exact_percentiles

    rng = random.Random(99)
    # duplicates, negatives, and a null mixed in
    data = [round(rng.gauss(0, 50), 2) for _ in range(5000)]
    data += [7.0] * 500  # heavy tie run
    rows = [(v,) for v in data] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    qs = [(1, 100), (1, 4), (1, 2), (3, 4), (99, 100), (1, 1)]
    got = {r["q"]: r["value"] for r in exact_percentiles(df, "x", qs).collect()}
    s = sorted(data)
    n = len(s)
    for num, den in qs:
        rank = max((num * n + den - 1) // den, 1)
        assert got[num / den] == s[rank - 1], (num, den)
    # partitioning independence
    got7 = {
        r["q"]: r["value"]
        for r in exact_percentiles(df.repartition(7), "x", qs).collect()
    }
    assert got7 == got


def test_exact_percentiles_degenerate_inputs(spark):
    from pmp_analytics_spark.operators.quantiles import exact_percentiles

    one = spark.createDataFrame([(42.0,)], "x double")
    assert exact_percentiles(one, "x", [(1, 2)]).collect()[0]["value"] == 42.0

    const = spark.createDataFrame([(5.0,)] * 100, "x double")
    out = {r["q"]: r["value"] for r in exact_percentiles(const, "x", [(1, 4), (1, 1)]).collect()}
    assert out == {0.25: 5.0, 1.0: 5.0}


def test_passage_occurrences_window_math(spark):
    from pmp_analytics_spark.functions.text import tokens
    from pmp_analytics_spark.operators.retrieval import passage_occurrences

    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "solo"), (3, "")], ["doc_id", "text"]
    )
    occ = passage_occurrences(df, "doc_id", tokens("text"), width=4, stride=2)
    rows = [(r["doc_id"], r["pidx"], r["token"]) for r in occ.collect()]
    d1 = sorted((p, t) for d, p, t in rows if d == 1)
    # windows: [0:4],[2:6],[4:8],[6:10],[8:10] — tail shortens, never drops
    expect = []
    for pidx, start in enumerate(range(0, 10, 2)):
        for t in words[start : start + 4]:
            expect.append((pidx, t))
    assert d1 == sorted(expect)
    # every token is covered by at least one window
    assert {t for _, t in d1} == set(words)
    # single-token doc: one window
    assert [(p, t) for d, p, t in rows if d == 2] == [(0, "solo")]
    # empty doc: no occurrence rows
    assert not [r for r in rows if r[0] == 3]


def test_luhn_matches_python_reference(spark):
    import random

    from pmp_analytics_spark.functions.pii import luhn_check_digit, luhn_valid

    def py_luhn_ok(s: str) -> bool:
        total = 0
        for j, ch in enumerate(reversed(s), start=1):
            d = int(ch)
            if j % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    rng = random.Random(31)
    # known-valid anchors + random strings of every PAN length
    fixed = ["79927398713", "4532015112830366", "6011000990139424"]
    rand = [
        "".join(rng.choice("0123456789") for _ in range(rng.choice([13, 14, 15, 16])))
        for _ in range(300)
    ]
    rows = [(s,) for s in fixed + rand]
    df = spark.createDataFrame(rows, "s string")
    got = {
        r["s"]: (r["ok"], r["cd"])
        for r in df.select(
            "s",
            luhn_valid("s").alias("ok"),
            luhn_check_digit("s").alias("cd"),
        ).collect()
    }
    for s in fixed + rand:
        ok, cd = got[s]
        assert ok == py_luhn_ok(s), s
        # the derived check digit always completes a valid number
        assert py_luhn_ok(s + str(cd)), s
        # ...and it is the ONLY digit that does (mod-10 uniqueness)
        assert sum(py_luhn_ok(s + str(k)) for k in range(10)) == 1


def test_bm25_index_refresh_equals_rebuild(spark):
    from pmp_analytics_spark.functions.text import tokens
    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.retrieval import (
        bm25_index_build,
        bm25_index_refresh,
    )

    old = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "date date date"),      # 'date' lives ONLY here
            (4, "apple elderberry"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (1, "apple banana apple"),   # unchanged
            (2, "banana fig fig"),       # changed: cherry leaves corpus, fig arrives
            (4, "apple elderberry"),     # unchanged; doc 3 removed -> 'date' df row must die
            (5, "cherry grape"),         # added: cherry returns via a NEW doc
        ],
        ["doc_id", "text"],
    )
    p0, d0 = bm25_index_build(old, tokens("text"))
    delta = snapshot_delta(old, new, ["doc_id"])
    p2, d2 = bm25_index_refresh(p0, d0, delta, lambda c: tokens(c))
    pr, dr = bm25_index_build(new, tokens("text"))

    key = lambda r: (r["doc_id"], r["token"])
    assert sorted(map(tuple, p2.collect())) == sorted(map(tuple, pr.collect()))
    assert sorted(map(tuple, d2.collect())) == sorted(map(tuple, dr.collect()))
    got_df = {r["token"]: r["df"] for r in d2.collect()}
    assert "date" not in got_df          # last carrier removed
    assert got_df["cherry"] == 1         # left doc 2, returned in doc 5
    assert got_df["fig"] == 1            # arrived via edit


def test_label_propagation_accepts_non_integer_shuffle_partitions(spark, monkeypatch):
    """A non-integer ``spark.sql.shuffle.partitions`` such as ``auto``
    (legal on some Spark platforms; open-source Spark rejects it at
    ``conf.set``, so it is injected at the read) falls back to the
    default parallelism instead of crashing."""
    from pmp_analytics_spark.operators.graph import label_propagation_communities

    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["src", "dst"])

    def communities():
        return sorted(label_propagation_communities(df, iterations=2).collect())

    expect = communities()
    real_get = spark.conf.get

    def get(key, *default):
        if key == "spark.sql.shuffle.partitions":
            return "auto"
        return real_get(key, *default)

    monkeypatch.setattr(spark.conf, "get", get)
    assert communities() == expect


def test_label_propagation_plan_depth_is_bounded(spark, monkeypatch):
    """Label propagation cuts lineage every ``_CUT_EVERY`` rounds: the
    deepest plan it builds before a cut is no deeper at 16 rounds than
    at ``_CUT_EVERY`` rounds, and the cuts do not change the
    communities."""
    import re

    from pmp_analytics_spark.operators import graph

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(30, 31), (31, 32)], ["src", "dst"]
    )
    frame_type = type(df)
    depths = []
    checkpoint = frame_type.localCheckpoint

    def recording(self, *args, **kwargs):
        tree = self._jdf.queryExecution().analyzed().treeString()
        depths.append(
            max(len(re.match(r"[ :+\-]*", ln).group()) for ln in tree.splitlines()) // 3
        )
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_type, "localCheckpoint", recording)

    def run(iterations):
        depths.clear()
        rows = graph.label_propagation_communities(df, iterations=iterations)
        return max(depths), sorted(rows.collect())

    at_cut, _ = run(graph._CUT_EVERY)
    at_16, _ = run(16)
    assert at_16 <= at_cut
    # 9 rounds cross two cuts and stay shallow enough to plan uncut
    _, got = run(9)
    monkeypatch.setattr(graph, "_CUT_EVERY", 10**6)
    assert run(9)[1] == got


def test_label_propagation_matches_python_reference(spark):
    import random
    from collections import Counter

    from pmp_analytics_spark.operators.graph import label_propagation_communities

    rng = random.Random(5)
    # two planted 15-cliques-ish clusters + one bridge edge
    edges = set()
    for base in (0, 100):
        nodes = list(range(base, base + 15))
        for i in nodes:
            for j in nodes:
                if i < j and rng.random() < 0.6:
                    edges.add((i, j))
    edges.add((0, 100))

    def py_lpa(edges, rounds):
        adj: dict[int, list[int]] = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        lbl = {n: n for n in adj}
        for _ in range(rounds):
            new = {}
            for n in adj:
                c = Counter(lbl[m] for m in adj[n])
                best = max(c.items(), key=lambda kv: (kv[1], -kv[0]))
                new[n] = best[0]
            lbl = new
        return lbl

    expect = py_lpa(edges, 4)
    df = spark.createDataFrame(list(edges), ["src", "dst"])
    got = {
        r["node"]: r["community"]
        for r in label_propagation_communities(df, iterations=4).collect()
    }
    assert got == expect
    # the planted structure is actually found: each cluster converges on
    # a dominant label and the two dominants differ (synchronous LPA may
    # leave a straggler label after a fixed round count — that's the
    # documented determinized contract, not noise).
    from collections import Counter as _C

    dom_a = _C(got[n] for n in range(0, 15)).most_common(1)[0][0]
    dom_b = _C(got[n] for n in range(100, 115)).most_common(1)[0][0]
    assert dom_a != dom_b


def test_kcore_matches_python_peel(spark):
    import random

    from pmp_analytics_spark.operators.graph import kcore

    rng = random.Random(17)
    n = 60
    edges = {
        (a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.12
    }
    # plant a 3-core: a 10-node ring where everyone also hits +2 and +3
    core_nodes = list(range(100, 110))
    for i in range(10):
        for step in (1, 2, 3):
            a, b = core_nodes[i], core_nodes[(i + step) % 10]
            edges.add((min(a, b), max(a, b)))
    edges.add((0, 100))  # bridge into the random part

    def py_kcore(edges, k):
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        changed = True
        while changed:
            changed = False
            for node in [x for x in adj if len(adj[x]) < k]:
                for m in adj.pop(node):
                    adj[m].discard(node)
                changed = True
        return {node: len(v) for node, v in adj.items() if v}

    df = spark.createDataFrame(list(edges), ["src", "dst"])
    for k in (3, 5):
        expect = py_kcore(edges, k)
        got = {
            r["node"]: r["degree"]
            for r in kcore(df, k, max_rounds=60).collect()
        }
        assert got == expect, k
    # k above the max degree: empty core
    assert kcore(df, 1000, max_rounds=10).count() == 0


def test_exact_group_percentiles_matches_per_group_sort(spark):
    import random

    from pmp_analytics_spark.operators.quantiles import exact_group_percentiles

    rng = random.Random(3)
    rows = []
    data: dict[str, list[float]] = {"a": [], "b": [], "c": []}
    for grp, n in (("a", 2000), ("b", 37), ("c", 1)):
        for _ in range(n):
            v = round(rng.uniform(-10, 10), 3)
            rows.append((grp, v))
            data[grp].append(v)
    df = spark.createDataFrame(rows + [("a", None)], "g string, x double")
    qs = [(1, 2), (9, 10), (1, 1)]
    got = {
        (r["g"], r["q"]): r["value"]
        for r in exact_group_percentiles(df, "g", "x", qs).collect()
    }
    for grp, vals in data.items():
        s = sorted(vals)
        n = len(s)
        for num, den in qs:
            rank = max((num * n + den - 1) // den, 1)
            assert got[(grp, num / den)] == s[rank - 1], (grp, num, den)
    assert len(got) == 9


def test_luhn_empty_and_null_inputs(spark):
    from pmp_analytics_spark.functions.pii import luhn_valid

    df = spark.createDataFrame([("",), (None,), ("79927398713",)], "s string")
    got = {r["s"]: r["ok"] for r in df.select("s", luhn_valid("s").alias("ok")).collect()}
    assert got[""] is False
    assert got[None] is None  # caller decides NULL policy
    assert got["79927398713"] is True


def test_connected_components_star_long_chain(spark, monkeypatch):
    """The adversarial input for the old O(diameter) min-label scheme: a
    199-edge CHAIN. The alternating large-star/small-star rounds must
    close it within an iteration budget FAR below the diameter (log-n
    rounds — min-label would need 199), and match the driver
    union-find's min-id labels exactly. A second, shuffled random graph
    cross-checks the general case."""
    import random

    from pmp_analytics_spark.operators import dedup
    from pmp_analytics_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(199)]
    pairs = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 12)
    got = {
        (r["id"], r["component"])
        for r in connected_components(pairs, driver_edge_limit=0).collect()
    }
    assert got == {(i, 0) for i in range(200)}

    rng = random.Random(41)
    edges = {
        tuple(sorted(rng.sample(range(400), 2))) for _ in range(260)
    }
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    roots: dict = {}
    for n in parent:
        roots.setdefault(find(n), []).append(n)
    expected = {
        (n, min(m)) for m in roots.values() for n in m
    }
    rpairs = spark.createDataFrame(
        sorted(edges), "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 15)
    got_r = {
        (r["id"], r["component"])
        for r in connected_components(rpairs, driver_edge_limit=0).collect()
    }
    assert got_r == expected


def test_connected_components_star_raises_on_truncation(spark, monkeypatch):
    """Hitting the round bound without the fixpoint must RAISE (the old
    fallback only warned — silently non-canonical labels downstream)."""
    import pytest as _pytest

    from pmp_analytics_spark.operators import dedup

    chain = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(chain, "id_a bigint, id_b bigint")
    monkeypatch.setattr(dedup, "_MAX_STAR_ROUNDS", 2)
    with _pytest.raises(RuntimeError, match="fixpoint"):
        dedup.connected_components(pairs, driver_edge_limit=0)


def test_connected_components_refresh_equals_rebuild(spark):
    """CDC label maintenance == full rebuild, pinned on a random graph
    whose delta merges components, splits them, isolates nodes, and
    introduces brand-new ones — the (old ∪ added) − deleted closure
    must match row-for-row, with untouched components passing through
    verbatim."""
    import random

    from pmp_analytics_spark.operators.dedup import (
        connected_components,
        connected_components_refresh,
    )

    rng = random.Random(5)
    old = {tuple(sorted(rng.sample(range(120), 2))) for _ in range(110)}
    added = {
        tuple(sorted(rng.sample(range(140), 2))) for _ in range(18)
    } - old
    deleted = set(rng.sample(sorted(old), 15))

    def mk(es):
        return spark.createDataFrame(sorted(es), "id_a bigint, id_b bigint")

    labels = connected_components(mk(old))
    ref = connected_components(mk((old | added) - deleted))
    got = connected_components_refresh(
        mk(old), labels, mk(added), mk(deleted)
    )
    assert {tuple(r) for r in got.collect()} == {
        tuple(r) for r in ref.collect()
    }


def test_zorder_partitioned_disjoint_ranges(spark):
    """zorder_partitioned: one range exchange on the Morton code; the
    resulting partitions hold DISJOINT contiguous z ranges (what makes
    every written file prunable by min/max stats on either interleaved
    dimension), and z_value16 matches a pure-Python bit interleave."""
    import random

    from pmp_analytics_spark.operators.zorder import (
        z_value16,
        zorder_partitioned,
    )

    rng = random.Random(3)
    rows = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "x long, y long")

    def ref_z(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    got = (
        df.withColumn("z", z_value16("x", "y"))
        .select("x", "y", "z")
        .collect()
    )
    for r in got:
        assert r["z"] == ref_z(r["x"], r["y"])

    parts = (
        zorder_partitioned(df, "x", "y", 8)
        .select(F.spark_partition_id().alias("pid"), "__z")
        .groupBy("pid")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"), F.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert sum(p["n"] for p in parts) == 4000
    for a, b in zip(parts, parts[1:]):
        assert a["hi"] <= b["lo"]  # disjoint contiguous ranges


def test_mixture_waterfill_saturation_and_remainder(spark, tmp_path):
    """The waterfill branches the synthetic corpus never exercises
    (uniform source sizes → nobody saturates): skewed availabilities
    must saturate short sources, redistribute their shortfall, land on
    the budget EXACTLY, and hand the integer remainder to the
    name-ranked unsaturated sources — cross-checked against a plain
    Python waterfill."""
    import os

    from pmp_analytics_spark.queries.analytic import docs_mixture_waterfill

    # availabilities in chars: two tiny sources saturate at B = 60%
    sizes = {"a": 10, "b": 20, "c": 500, "d": 700, "e": 701}
    rows = []
    doc_id = 0
    for src, chars in sizes.items():
        rows.append((doc_id, src, "x" * chars, chars))
        doc_id += 1
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, n_chars long"
    )
    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    df.write.parquet(os.path.join(sf_dir, "documents.parquet"))

    got = {
        r["source"]: (r["available"], r["allocated"], r["saturated"])
        for r in docs_mixture_waterfill(spark, sf_dir).collect()
    }

    total = sum(sizes.values())
    b = total * 6 // 10
    ranked = sorted(sizes.items(), key=lambda kv: (kv[1], kv[0]))
    k = len(ranked)
    prefix = 0
    for i, (src, a) in enumerate(ranked):
        if a * (k - i) + prefix >= b:
            pr = i
            break
        prefix += a
    base, rem = divmod(b - prefix, k - pr)
    unsat = sorted(src for src, _ in ranked[pr:])
    expect = {}
    for i, (src, a) in enumerate(ranked):
        if i < pr:
            expect[src] = (a, a, 1)
        else:
            expect[src] = (a, base + (1 if unsat.index(src) < rem else 0), 0)
    assert got == expect
    assert sum(v[1] for v in got.values()) == b
    assert sum(v[2] for v in got.values()) == 2  # a and b saturate


def test_hilbert_curve_properties(spark):
    """with_hilbert at 3 bits enumerates the full 8x8 grid: the indexes
    are a PERMUTATION of 0..63 and consecutive indexes are always
    GRID-ADJACENT (the Hilbert property Z-order lacks — no diagonal
    jumps), cross-checked against a plain-Python xy2d; 16-bit spot
    values match the same reference."""
    import random

    from pmp_analytics_spark.operators.zorder import with_hilbert

    def ref_xy2d(order_n, x, y):
        d = 0
        s = order_n // 2
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = order_n - 1 - x, order_n - 1 - y
                x, y = y, x
            s //= 2
        return d

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r["x"], r["y"]): r["h"]
        for r in with_hilbert(df, "x", "y", "h", bits=3).collect()
    }
    assert got == {(x, y): ref_xy2d(8, x, y) for x, y in rows}
    ds = sorted(got.items(), key=lambda kv: kv[1])
    assert [v for _, v in ds] == list(range(64))
    assert all(
        abs(a[0][0] - b[0][0]) + abs(a[0][1] - b[0][1]) == 1
        for a, b in zip(ds, ds[1:])
    )

    rng = random.Random(5)
    pts = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(40)]
    df2 = spark.createDataFrame(pts, "x long, y long")
    got2 = {
        (r["x"], r["y"]): r["h"]
        for r in with_hilbert(df2, "x", "y", "h", bits=16).collect()
    }
    assert all(got2[(x, y)] == ref_xy2d(65536, x, y) for x, y in pts)


def test_edit_distance_join_lossless_blocking(spark):
    """edit_distance_join's q-gram prefix blocking must be LOSSLESS on
    adversarial inputs — repeated characters (few distinct grams),
    strings shorter than q, mixed lengths — pinned against a brute-force
    Python Levenshtein over all pairs."""
    import random

    from pmp_analytics_spark.operators.joins import edit_distance_join

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(13)
    pool = ["a", "b", "ab", "aa", "aaa", "aaab", "abab", "abcd"]
    strings = ["".join(rng.choice("abc") for _ in range(rng.randrange(1, 9)))
               for _ in range(60)] + pool
    rows = [(i, s) for i, s in enumerate(strings)]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_join(df, "t", "id", max_dist=2, q=2).collect()
    }
    ref = {
        (i, j, lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and lev(a, b) <= 2
    }
    assert got == ref and len(ref) > 50


def test_optimize_layout_versioned_rewrite(spark, tmp_path):
    """optimize_layout publishes a NEW version whose files hold disjoint
    contiguous z-ranges (every file prunable by min/max stats on either
    dimension), with identical row content, the pre-rewrite version
    still time-travelable, and a zorder:<dims> marker."""
    import random

    from pmp_analytics_spark.operators.zorder import optimize_layout, z_value16
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        list_versions,
        publish_versioned,
        read_latest,
        read_version,
    )

    rng = random.Random(7)
    rows = [(rng.randrange(65536), rng.randrange(65536)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "x long, y long")
    root = str(tmp_path / "table")
    publish_versioned(df.repartition(8), root)

    optimize_layout(spark, root, "x", "y", n_files=6)

    assert latest_marker(spark, root) == "zorder:x,y"
    assert [n for n, _ in list_versions(spark, root)] == ["v00000000", "v00000001"]
    after = read_latest(spark, root)
    assert sorted(map(tuple, after.collect())) == sorted(rows)
    assert sorted(map(tuple, read_version(spark, root, 0).collect())) == sorted(rows)

    spans = (
        after.select(
            F.input_file_name().alias("f"), z_value16("x", "y").alias("z")
        )
        .groupBy("f")
        .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(spans) == 6
    for a, b in zip(spans, spans[1:]):
        assert a["hi"] <= b["lo"]  # disjoint contiguous z-ranges per file


def test_interpolated_percentiles_bitmatch_spark_percentile(spark):
    import random

    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.quantiles import interpolated_percentiles

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        # 4-decimal-quantized like the ppl columns, heavy tie runs, a null
        data = [round(rng.gauss(100, 30), 4) for _ in range(3000)]
        data += [round(rng.choice(data), 4)] * 200
        rows = [(v,) for v in data] + [(None,)]
        df = spark.createDataFrame(rows, "x double")
        qs = [("t1", 1.0 / 3.0), ("t2", 2.0 / 3.0), ("p25", 0.25), ("p99", 0.99)]
        want = df.agg(
            *[F.percentile(F.col("x"), F.lit(q)).alias(nm) for nm, q in qs]
        ).collect()[0]
        got = interpolated_percentiles(df, "x", qs).collect()[0]
        for nm, _ in qs:
            # bit-exact, not approx: the operator replicates Percentile's
            # float formula so downstream threshold compares can't move
            assert got[nm] == want[nm], (seed, nm, got[nm], want[nm])
        # partitioning independence
        got7 = interpolated_percentiles(df.repartition(7), "x", qs).collect()[0]
        assert all(got7[nm] == want[nm] for nm, _ in qs)


def test_interpolated_percentiles_degenerate_inputs(spark):
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.quantiles import interpolated_percentiles

    one = spark.createDataFrame([(42.0,)], "x double")
    r = interpolated_percentiles(one, "x", [("m", 0.5)]).collect()[0]
    assert r["m"] == 42.0

    const = spark.createDataFrame([(5.0,)] * 100, "x double")
    r = interpolated_percentiles(const, "x", [("a", 0.25), ("b", 1.0)]).collect()[0]
    assert (r["a"], r["b"]) == (5.0, 5.0)

    # integral interpolation positions (n=5, q=0.25 -> pos=1.0 exactly)
    five = spark.createDataFrame([(float(v),) for v in (1, 2, 3, 4, 5)], "x double")
    want = five.agg(F.percentile(F.col("x"), F.lit(0.25)).alias("p")).collect()[0]["p"]
    got = interpolated_percentiles(five, "x", [("p", 0.25)]).collect()[0]["p"]
    assert got == want == 2.0

    # empty input -> one all-null row, matching percentile-over-nothing
    empty = spark.createDataFrame([], "x double")
    r = interpolated_percentiles(empty, "x", [("p", 0.5)]).collect()[0]
    assert r["p"] is None


def test_interpolated_group_percentile_bitmatch(spark):
    import random

    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.quantiles import (
        interpolated_group_percentile,
    )

    rng = random.Random(5)
    rows = [
        (f"s{rng.randrange(6)}", round(rng.uniform(0, 1), 6))
        for _ in range(4000)
    ]
    rows.append(("s0", None))
    df = spark.createDataFrame(rows, "source string, quality double")
    want = {
        r["source"]: r["p25"]
        for r in df.groupBy("source")
        .agg(F.percentile("quality", F.lit(0.25)).alias("p25"))
        .collect()
    }
    got = {
        r["source"]: r["p25"]
        for r in interpolated_group_percentile(
            df, "source", "quality", 0.25, out_col="p25"
        ).collect()
    }
    assert got == want
