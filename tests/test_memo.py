"""The session memo (pmp_analytics_spark/memo.py): one build per
(session, name, params, input fingerprint), a rebuild when an input file
changes, entries of another session dropped, and one ``release()`` that
frees storage blocks — not just dict entries — for cached and
locally-checkpointed values alike. Also guards against module-level
memo dicts growing back outside it."""

from __future__ import annotations

import ast
import pathlib

from pmp_analytics_spark import memo

PACKAGE = pathlib.Path(memo.__file__).parent


def _persistent(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_one_build_per_session_params_fingerprint(spark, tmp_path):
    src = tmp_path / "input.bin"
    src.write_bytes(b"v1")
    builds = []

    def get(params):
        def build():
            builds.append(params)
            return len(builds)

        return memo.get(spark, "counter", params, [str(src)], build)

    try:
        assert get(("a",)) == 1
        assert get(("a",)) == 1
        assert get(("b",)) == 2
        assert get(("a",)) == 1
        src.write_bytes(b"v2 is longer")  # a rewrite in place changes the length
        assert get(("a",)) == 3
        assert get(("a",)) == 3
        assert builds == [("a",), ("b",), ("a",)]
    finally:
        memo.release()


def test_rebuild_does_not_read_a_stale_plan_matched_cache(spark, tmp_path):
    """A frame cached before the rewrite matches the rebuilt plan by path;
    the build must see the new rows, not that cache's old ones."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), path)
    stale = spark.read.parquet(path).cache()
    assert stale.count() == 100

    def build():
        return spark.read.parquet(path).count()

    try:
        assert memo.get(spark, "rows", (), [path], build) == 100
        pq.write_table(pa.table({"x": list(range(50))}), path)
        assert memo.get(spark, "rows", (), [path], build) == 50
    finally:
        stale.unpersist()
        memo.release()


def test_release_frees_cached_and_checkpointed_values(spark):
    spark.catalog.clearCache()
    before = _persistent(spark)
    frame = spark.range(1000).selectExpr
    cached = memo.get(spark, "cached", (), [], lambda: frame("id * 2 AS x").cache())
    assert cached.count() == 1000  # materializes the cache
    checkpointed = memo.get(
        spark, "checkpointed", (), [], lambda: frame("id * 3 AS x").localCheckpoint(eager=True)
    )
    assert checkpointed.count() == 1000
    built = _persistent(spark) - before
    assert len(built) == 2
    memo.release()
    assert memo._entries == {}
    assert not (built & _persistent(spark))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_release_leaves_a_cache_it_does_not_own(spark):
    """A memoized frame whose plan matches a cache built elsewhere (the
    near-dup store's exploded stream and the dedup pipeline's) must not
    uncache it on release."""
    shared = spark.range(500).selectExpr("id AS z").cache()
    assert shared.count() == 500
    memo.get(spark, "plan-twin", (), [], lambda: (1, spark.range(500).selectExpr("id AS z")))
    memo.release()
    try:
        assert shared.storageLevel.useMemory
    finally:
        shared.unpersist()


def test_entries_of_another_application_are_dropped(spark):
    memo._entries[("app-of-a-stopped-session", "x", ())] = ((), "old")
    try:
        assert memo.get(spark, "x", (), [], lambda: "fresh") == "fresh"
        assert list(memo._entries) == [(spark.sparkContext.applicationId, "x", ())]
    finally:
        memo.release()


def test_embedding_index_eval_leaves_no_cache_entry(spark):
    """Every multi-consumer frame of the eval is a localCheckpoint owned by
    the returned plan; none registers in the CacheManager."""
    from pmp_analytics_spark.queries.llm import embedding_index_eval

    spark.catalog.clearCache()
    try:
        assert embedding_index_eval(spark, "/root/testdata/sf0.001").count() == 5
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        memo.release()


def test_no_module_level_memo_dicts():
    """Memoized artifacts live in memo.py; a module-level ``*_MEMO`` dict
    elsewhere is a second, unowned memo policy."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_MEMO"):
                    found.append(f"{path.relative_to(PACKAGE)}:{node.lineno} {t.id}")
    assert found == []
