"""Jaro-Winkler: python implementation vs DuckDB's jaro_winkler_similarity
(the oracle engine), plus the Spark pandas_udf path end-to-end."""

from __future__ import annotations

import duckdb
import pytest

from pmp_analytics_spark.functions.similarity import jaro_winkler, jw_similarity

PAIRS = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("jellyfish", "smellyfish"),
    ("", ""),
    ("", "abc"),
    ("abc", "abc"),
    ("SMITH JOHN", "SMITH JON"),
    ("GARCIA MARIA", "GARCIA MARIO"),
    ("a", "b"),
    ("ab", "ba"),
    ("CRATE", "TRACE"),
    ("DWAYNE", "DUANE"),
]


def duck_jw(a: str, b: str) -> float:
    return duckdb.sql(f"SELECT jaro_winkler_similarity('{a}', '{b}')").fetchone()[0]


@pytest.mark.parametrize("a,b", PAIRS)
def test_jw_matches_duckdb(a, b):
    assert jaro_winkler(a, b) == pytest.approx(duck_jw(a, b), abs=1e-9)


def test_jw_udf_on_spark(spark):
    df = spark.createDataFrame(PAIRS, ["a", "b"])
    rows = df.select("a", "b", jw_similarity("a", "b").alias("jw")).collect()
    for r in rows:
        assert r["jw"] == pytest.approx(duck_jw(r["a"], r["b"]), abs=1e-9)


def test_jw_null_safe(spark):
    df = spark.createDataFrame([("x", None), (None, None)], "a string, b string")
    rows = df.select(jw_similarity("a", "b").alias("jw")).collect()
    assert all(r["jw"] is None for r in rows)


# ---------------------------------------------------------------------------
# _md5_sample_rows memo (pmp_analytics_spark/memo.py): the quantizer
# training sample is collected once per (session, corpus plan, cols, n,
# input files) and shared by every fit over the same corpus — rows must be
# identical to the direct collect, the memo must HIT for a plan-identical
# frame (including pre/post-repartition), and MISS for a different n or a
# different corpus.
# ---------------------------------------------------------------------------
def test_md5_sample_rows_memo(spark):
    from pyspark.sql import functions as F

    from pmp_analytics_spark import memo
    from pmp_analytics_spark.operators import similarity_search as ss

    def entries():
        return sum(1 for key in memo._entries if key[1] == "md5_sample_rows")

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    direct = (
        df.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")))
        .limit(10)
        .collect()
    )
    memo.release()
    got = ss._md5_sample_rows(df, "vec_id", "embedding", 10)
    assert got == direct
    assert entries() == 1
    # plan-identical frame (fresh object) and the repartitioned variant
    # both hit the same entry: md5 is a total order over distinct ids
    df2 = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    assert ss._md5_sample_rows(df2, "vec_id", "embedding", 10) == direct
    assert entries() == 1
    # different n -> its own entry, correct rows
    got20 = ss._md5_sample_rows(df, "vec_id", "embedding", 20)
    assert len(got20) == 20 and got20[:10] != [] and entries() == 2
    # different corpus -> its own entry
    df3 = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"), F.lit(1.0)).alias("embedding"),
    )
    ss._md5_sample_rows(df3, "vec_id", "embedding", 10)
    assert entries() == 3
    memo.release()


# ---------------------------------------------------------------------------
# The pieces the vector-search operators and their SQL-replay oracles share
# (``_kmeans_fit`` fits both sides' quantizers; ``ndcg_weights`` gives both
# sides of embedding_index_eval their DCG literals), pinned against
# hand-computed values so a defect in them cannot pass the oracle gate by
# construction.
# ---------------------------------------------------------------------------
def test_kmeans_fit_lands_on_each_group_mean():
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import _kmeans_fit

    near = [[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]]  # mean (0.5, 0.5)
    far = [[100.0, 100.0], [101.0, 100.0], [100.0, 101.0], [103.0, 103.0]]  # mean (101, 101)
    cents = _kmeans_fit(np.array(near + far), 2, seed=7)
    assert sorted(map(tuple, cents)) == [(0.5, 0.5), (101.0, 101.0)]


def test_kmeans_fit_empty_cell_keeps_its_centroid():
    """Two distinct points and k=3: the third k-means++ pick duplicates an
    earlier centre, loses every tie to it (lowest cell wins), so its cell
    stays empty and its centroid stays that point instead of moving (to
    NaN, as a mean of no points would)."""
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import _kmeans_fit

    sample = np.array([[1.0, 1.0]] * 3 + [[5.0, 5.0]] * 3)
    cents = _kmeans_fit(sample, 3, seed=3)
    assert sorted(map(tuple, cents[:2])) == [(1.0, 1.0), (5.0, 5.0)]
    assert tuple(cents[2]) in {(1.0, 1.0), (5.0, 5.0)}


def test_kmeans_fit_is_a_function_of_sample_k_seed():
    import numpy as np

    from pmp_analytics_spark.operators.similarity_search import _kmeans_fit

    sample = np.random.default_rng(0).normal(size=(200, 8))
    first = _kmeans_fit(sample, 5, seed=42)
    assert first.shape == (5, 8)
    for _ in range(3):
        assert np.array_equal(_kmeans_fit(sample.copy(), 5, seed=42), first)


def test_ndcg_weights_hand_computed():
    import math

    from pmp_analytics_spark.operators.similarity_search import ndcg_weights

    w, idcg = ndcg_weights(3)
    assert w[0] == 1.0 and w[2] == 0.5
    assert w[1] == pytest.approx(math.log(2) / math.log(3), rel=1e-15)
    assert len(w) == 3
    assert idcg == pytest.approx(1.5 + math.log(2) / math.log(3), rel=1e-15)
    assert idcg == sum(w)
