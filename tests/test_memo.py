"""The session memo (pmp_analytics_spark/memo.py): one build per
(session, name, params, input fingerprint), a rebuild when an input file
changes, entries of another session dropped, and one ``release()`` that
frees storage blocks — not just dict entries — for cached and
locally-checkpointed values alike. Its path registry: a table schema
read without a Spark job while the table's files are unchanged, and a
refresh of the caches over a path only when its files change. Also
guards against module-level memo dicts growing back outside it."""

from __future__ import annotations

import ast
import pathlib
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from pmp_analytics_spark import memo
from pmp_analytics_spark.sources.reader import TABLES, load_table

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


def test_embedding_pq_rerank_leaves_no_cache_entry(spark):
    """The rerank's two-consumer query frame is a localCheckpoint owned by
    the returned plan: collecting the query adds no CacheManager entry
    that would outlive it for the rest of the session."""
    from pmp_analytics_spark.queries.llm import embedding_pq_rerank

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    try:
        assert embedding_pq_rerank(spark, "/root/testdata/sf0.001").collect()
        assert cache.cachedData().size() == before
    finally:
        memo.release()


def _jobs_run_by(spark, body) -> int:
    """Spark jobs started while ``body()`` ran, counted through a job group."""
    sc, group = spark.sparkContext, f"probe-{uuid.uuid4().hex}"
    for g, run in ((group, body), (f"{group}-marker", lambda: sc.parallelize([1], 1).count())):
        sc.setJobGroup(g, g)
        try:
            run()
        finally:
            sc._jsc.clearJobGroup()
    # job events reach the status store in order: once it shows the
    # marker job, it shows every job the body started
    tracker, deadline = sc.statusTracker(), time.time() + 30
    while not tracker.getJobIdsForGroup(f"{group}-marker") and time.time() < deadline:
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def _materialized(df) -> bool:
    cached = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    return cached.isDefined() and cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()


def test_repeat_load_table_runs_no_spark_job(spark):
    sf = "/root/testdata/sf0.001"
    for name in TABLES:
        load_table(spark, sf, name)
    assert _jobs_run_by(spark, lambda: [load_table(spark, sf, name) for name in TABLES]) == 0


def test_load_table_infers_again_after_a_rewrite(spark, tmp_path):
    sf, path = str(tmp_path), str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    assert _jobs_run_by(spark, lambda: load_table(spark, sf, "t")) >= 1  # footer inference
    assert _jobs_run_by(spark, lambda: load_table(spark, sf, "t")) == 0
    pq.write_table(pa.table({"x": [3, 4, 5], "y": ["a", "b", "c"]}), path)
    df = load_table(spark, sf, "t")
    assert df.columns == ["x", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "a"), (4, "b"), (5, "c")]


def test_first_get_over_a_seen_unchanged_path_keeps_other_caches(spark, tmp_path):
    """A first build over a path the session has seen, unchanged, does not
    refresh it: that would drop the blocks of every frame cached over it
    (the near-dup pipeline's exploded stream, on the warm path)."""
    sf, path = str(tmp_path), str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": list(range(100))}), path)
    other = load_table(spark, sf, "t").selectExpr("x * 2 AS y").cache()
    try:
        assert other.count() == 100 and _materialized(other)
        assert memo.get(spark, "rows", (), [path], lambda: load_table(spark, sf, "t").count()) == 100
        assert _materialized(other)
    finally:
        other.unpersist()
        memo.release()


def test_neardup_pairs_follow_documents_rewritten_in_place(spark, tmp_path):
    """docs_neardup_pairs caches its exploded hash stream and candidates,
    and a repeat run in the session is served from those caches by plan
    match. After documents is rewritten in place with other rows, the
    repeat must give the new rows' pairs, not the cached ones."""
    import duckdb

    from pmp_analytics_spark.queries import all_oracles, all_queries

    sf, path = str(tmp_path), str(tmp_path / "documents.parquet")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", path)
    name = "docs_neardup_pairs"
    run, oracle = all_queries()[name], all_oracles({name})[name]

    def pairs(rows) -> list[tuple]:
        return sorted((r[0], r[1]) for r in rows)

    def want() -> list[tuple]:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        return pairs(con.sql(oracle).fetchall())

    try:
        before = want()
        assert pairs(run(spark, sf).collect()) == before
        docs = pq.read_table(path)
        pq.write_table(docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)), path)
        after = want()
        assert after != before
        assert pairs(run(spark, sf).collect()) == after
    finally:
        spark.catalog.clearCache()



def test_warm_image_phash_pairs_build_runs_no_spark_job(spark):
    """phash_pairs reads the session's memoized fixture checkpoint as it
    is: a warm build of the query copies nothing into a second one."""
    from pmp_analytics_spark.queries import all_queries

    build, sf = all_queries()["docs_image_phash_pairs"], "/root/testdata/sf0.001"
    build(spark, sf)
    assert _jobs_run_by(spark, lambda: build(spark, sf)) == 0


def test_loading_events_changes_no_session_conf(spark):
    """nanosAsLong is a session-build setting: reading events, batch or
    stream, leaves every session conf as it was, so no later read
    depends on which query ran first."""
    from pmp_analytics_spark.streaming.sessions import read_event_stream

    key, sf = "spark.sql.legacy.parquet.nanosAsLong", "/root/testdata/sf0.001"
    assert spark.conf.get(key) == "true"
    spark.conf.set(key, "false")
    try:
        before = spark.conf.getAll
        load_table(spark, sf, "events")
        read_event_stream(spark, sf)
        assert spark.conf.getAll == before
    finally:
        spark.conf.set(key, "true")


# queries that read a table back from a disk extract, and that table
_EXTRACTS = {
    "avro_roundtrip": "orders",
    "csv_allstring_roundtrip": "supplier",
    "docs_export_shards": "documents",
    "events_partition_pruning": "events",
    "orc_pushdown_roundtrip": "lineitem",
}


@pytest.mark.parametrize("name", sorted(_EXTRACTS))
def test_extract_follows_its_input_files(spark, tmp_path, monkeypatch, name):
    """Each extract is written once per version of its table's files
    (``memo.extract``): repeat calls add nothing to the temp dir, and
    after each in-place rewrite of the table the result matches the
    oracle over the new rows and the old extract is removed."""
    import os
    import tempfile

    import duckdb

    from pmp_analytics_spark.queries import all_oracles, all_queries
    from tools.check_oracle import frame_key

    tmp, sf = tmp_path / "tmp", tmp_path / "sf"
    tmp.mkdir()
    sf.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    table = _EXTRACTS[name]
    path = str(sf / f"{table}.parquet")
    shutil.copy(f"/root/testdata/sf0.001/{table}.parquet", path)
    run, oracle = all_queries()[name], all_oracles({name})[name]

    def want():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        rel = con.sql(oracle)
        return frame_key(rel.columns, rel.fetchall())

    def got():
        df = run(spark, str(sf))
        return frame_key(df.columns, [tuple(r) for r in df.collect()])

    def files():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(tmp) for f in fs)

    before = want()
    assert got() == before
    entries = files()
    assert got() == before
    assert files() == entries
    for _ in range(2):
        rows = pq.read_table(path)
        pq.write_table(rows.take(list(range(0, rows.num_rows, 2))), path)
        after = want()
        assert after != before
        assert got() == after
        before = after
        # the extract of the old files is gone: one extract, no debris
        assert len(os.listdir(tmp)) == 1, os.listdir(tmp)


def test_embedding_index_eval_repeat_adds_no_sample_entry(spark):
    """The quantizer fits' md5 training sample is memoized by the plan of
    the corpus frame they read; that frame is memoized per session, so a
    repeat call hits the same sample entry."""
    from pmp_analytics_spark.queries.llm import embedding_index_eval

    def entries():
        return sum(1 for key in memo._entries if key[1] == "md5_sample_rows")

    def rows():
        return sorted(tuple(r) for r in embedding_index_eval(spark, sf).collect())

    sf = "/root/testdata/sf0.001"

    memo.release()
    try:
        first, n = rows(), entries()
        assert rows() == first
        assert entries() == n
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
