"""Source-reader semantics: all-string CSV with empty-vs-null preserved."""

from __future__ import annotations

import os
import tempfile

import pytest

from pyspark.sql.types import StringType

from pmp_analytics_spark.sources.reader import load_table, read_csv_strings


def test_csv_all_string_empty_vs_null(spark):
    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "t.csv")
        with open(p, "w") as fh:
            fh.write('a,b,c\n1,"",x\n2,\\N,y\n3,,z\n')
        df = read_csv_strings(spark, p)
        assert all(isinstance(f.dataType, StringType) for f in df.schema.fields)
        rows = {r["a"]: (r["b"], r["c"]) for r in df.collect()}
        assert rows["1"] == ("", "x")  # quoted empty survives as ''
        assert rows["2"] == (None, "y")  # explicit \N is null
        assert rows["3"] == (None, "z")  # unquoted empty is null


def test_events_ts_is_timestamp(spark):
    df = load_table(spark, "/root/testdata/sf0.001", "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    assert df.limit(1).count() == 1


def test_write_csv_single_roundtrip(spark):
    import os
    import tempfile

    from pmp_analytics_spark.sources.writers import write_csv_single, write_pipe_delimited

    df = spark.createDataFrame([(1, "a,b"), (2, "c|d")], ["k", "v"])
    with tempfile.TemporaryDirectory() as d:
        p = write_csv_single(df.orderBy("k"), os.path.join(d, "out.csv"))
        content = open(p).read()
        assert content.splitlines()[0] == "k,v"
        assert '"a,b"' in content  # embedded separator quoted
        p2 = write_pipe_delimited(df.orderBy("k"), os.path.join(d, "out.psv"))
        lines = open(p2).read().splitlines()
        assert lines[0] == "k|v"
        assert any('"c|d"' in ln for ln in lines)


def test_append_log(spark):
    import tempfile

    from pmp_analytics_spark.sources.writers import append_log

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/log"
        a = spark.createDataFrame([(1, "x")], ["k", "v"])
        b = spark.createDataFrame([(2, "y")], ["k", "v"])
        append_log(a, path)
        append_log(b, path)
        got = {(r["k"], r["v"]) for r in spark.read.parquet(path).collect()}
        assert got == {(1, "x"), (2, "y")}


def _multigroup_copy(spark, tmp_path, rows_per_group=20):
    """Rewrite the sf0.001 documents table as a parquet file with many
    small row groups — the fixture that forces multi-partition planning
    in the pyshard connector (one task per group at tiny rows_per_split)."""
    import pyarrow.parquet as pq

    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_multigroup.parquet")
    pq.write_table(src, path, row_group_size=rows_per_group)
    assert pq.ParquetFile(path).metadata.num_row_groups > 10
    return path


def test_python_datasource_partitions_and_pushdown(spark, tmp_path):
    from pmp_analytics_spark.sources import pydatasource

    pydatasource.register(spark)
    path = _multigroup_copy(spark, tmp_path)
    df = (
        spark.read.format("pyshard")
        .option("path", path)
        .option("rows_per_split", "20")
        .load()
    )
    native = spark.read.parquet(path)
    # full-scan fidelity through the connector (schema + every row)
    assert sorted(df.columns) == sorted(native.columns)
    assert df.count() == native.count()
    got = {r["doc_id"] for r in df.select("doc_id").collect()}
    want = {r["doc_id"] for r in native.select("doc_id").collect()}
    assert got == want
    # source-side pushdown: the EqualTo filter must not change results
    # vs the native path (correctness of the pushed evaluation)
    f_custom = df.where(df.lang == "en").count()
    f_native = native.where(native.lang == "en").count()
    assert f_custom == f_native and f_native > 0


def _counted_reads(reader, parts):
    """Drive reader.read over ``parts`` in-process with pyarrow's
    ParquetFile wrapped to record which row groups get decompressed.
    Returns (row-group index list in read order, total rows read) —
    the shared harness of the read-amplification pins below."""
    from unittest.mock import patch

    import pyarrow.parquet as pq

    real_pf = pq.ParquetFile
    reads: list[int] = []

    class CountingPF:
        def __init__(self, p):
            self._pf = real_pf(p)
            self.metadata = self._pf.metadata

        def read_row_groups(self, groups, **kw):
            reads.extend(groups)
            return self._pf.read_row_groups(groups, **kw)

    total = 0
    with patch("pyarrow.parquet.ParquetFile", CountingPF):
        for part in parts:
            for batch in reader.read(part):
                total += batch.num_rows
    return reads, total


def test_python_datasource_one_read_per_row_group(spark, tmp_path):
    """Read-amplification pin: across ALL planned partitions, each row
    group is handed to pyarrow's read_row_groups EXACTLY ONCE — a group
    is the atomic unit of work, never sub-split (a sub-group split
    re-decompresses the whole group per split: the round-2/3 scale bug).
    Runs the reader in-process so pyarrow calls can be counted."""
    import pyarrow.parquet as pq

    from pmp_analytics_spark.sources.pydatasource import _ShardReader

    path = _multigroup_copy(spark, tmp_path)
    n_groups = pq.ParquetFile(path).metadata.num_row_groups
    reader = _ShardReader({"path": path, "rows_per_split": "20"})
    parts = reader.partitions()
    assert len(parts) == n_groups  # tiny target -> one task per group

    reads, total = _counted_reads(reader, parts)
    assert total == pq.ParquetFile(path).metadata.num_rows
    assert sorted(reads) == list(range(n_groups))  # each group exactly once

    # Coalescing: a big target packs many groups into few tasks, still
    # reading each group exactly once.
    reader2 = _ShardReader({"path": path, "rows_per_split": "100"})
    parts2 = reader2.partitions()
    assert len(parts2) < n_groups
    reads2, _ = _counted_reads(reader2, parts2)
    assert sorted(reads2) == list(range(n_groups))


def test_python_datasource_stream_partitions_group_aligned(spark, tmp_path):
    """Stream planner pin: a micro-batch row range maps onto whole row
    groups (trimmed only at the range's two edges), each touched group
    read exactly once, untouched groups never read."""
    import pyarrow.parquet as pq

    from pmp_analytics_spark.sources.pydatasource import _ShardStreamReader

    path = _multigroup_copy(spark, tmp_path)  # groups of 20 rows
    meta = pq.ParquetFile(path).metadata
    n_rows = meta.num_rows
    sr = _ShardStreamReader({"path": path, "rows_per_split": "45"})

    # Range straddling group boundaries mid-group on both ends.
    lo, hi = 30, min(155, n_rows)
    parts = sr.partitions({"row": lo}, {"row": hi})
    reads, total = _counted_reads(sr, parts)
    assert total == hi - lo  # exact row coverage, no overlap/gap
    touched = set(range(lo // 20, (hi + 19) // 20))
    assert sorted(reads) == sorted(touched)  # each touched group once
    assert set(reads) == touched  # untouched groups never read

    # Full drain equals the file.
    parts_all = sr.partitions({"row": 0}, {"row": n_rows})
    got = 0
    for part in parts_all:
        for batch in sr.read(part):
            got += batch.num_rows
    assert got == n_rows


def test_orc_roundtrip(spark, tmp_path):
    # ORC as a second columnar format: write -> read preserves schema and
    # every row (the engine is not parquet-bound).
    src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "docs_orc")
    src.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == src.schema
    assert back.count() == src.count()
    a = {r["doc_id"]: r["n_chars"] for r in src.select("doc_id", "n_chars").collect()}
    b = {r["doc_id"]: r["n_chars"] for r in back.select("doc_id", "n_chars").collect()}
    assert a == b


def test_python_datasource_partition_count_through_spark(spark, tmp_path):
    """End-to-end pin (through Spark's DSv2 path, not the in-process
    planner): a multi-group file planned at a tiny coalescing target
    yields one Spark partition per row group; a large target coalesces
    groups but never splits one."""
    import pyarrow.parquet as pq

    path = _multigroup_copy(spark, tmp_path)
    n_groups = pq.ParquetFile(path).metadata.num_row_groups
    n_rows = pq.ParquetFile(path).metadata.num_rows

    from pmp_analytics_spark.sources import pydatasource

    pydatasource.register(spark)
    fine = (
        spark.read.format("pyshard")
        .option("path", path)
        .option("rows_per_split", "20")
        .load()
    )
    assert fine.rdd.getNumPartitions() == n_groups
    assert fine.count() == n_rows
    coarse = (
        spark.read.format("pyshard")
        .option("path", path)
        .option("rows_per_split", str(n_rows))
        .load()
    )
    assert coarse.rdd.getNumPartitions() == 1
    assert coarse.count() == n_rows


class TestCsvRejects:
    """Malformed-row quarantine contract: PERMISSIVE + corrupt column."""

    @pytest.fixture()
    def messy_csv(self, tmp_path):
        p = tmp_path / "messy.csv"
        p.write_text(
            "id,name,amount\n"
            "1,alice,10\n"
            "2,bob\n"                      # too few fields -> corrupt
            "3,carol,30,EXTRA\n"           # too many fields -> corrupt
            '4,"dee",40\n'
            "5,\\N,50\n"                   # explicit null sentinel
        )
        return str(p)

    def test_split_ok_and_quarantine(self, spark, messy_csv):
        from pyspark.sql import functions as F

        from pmp_analytics_spark.sources.reader import read_csv_with_rejects

        df = read_csv_with_rejects(spark, messy_csv).cache()
        ok = df.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
        bad = df.where(F.col("_corrupt_record").isNotNull())
        assert {r["id"] for r in ok.collect()} == {"1", "4", "5"}
        # raw text of every malformed row is preserved for the quarantine sink
        raws = sorted(r["_corrupt_record"] for r in bad.collect())
        assert raws == ["2,bob", "3,carol,30,EXTRA"]
        # the null sentinel still maps to null on well-formed rows
        assert ok.where(F.col("id") == "5").first()["name"] is None
        df.unpersist()


class TestSchemaEvolution:
    """Parquet schema drift across files — the long-lived-table reality:
    a column added mid-stream must surface (as null for old files) under
    mergeSchema, and the default fast path (first-file schema) must keep
    working for reads that don't opt in."""

    @pytest.fixture()
    def drifting_table(self, spark, tmp_path):
        d = str(tmp_path / "tbl.parquet")
        spark.createDataFrame([(1, "a")], "id long, name string").write.mode(
            "append"
        ).parquet(d)
        spark.createDataFrame(
            [(2, "b", "en")], "id long, name string, lang string"
        ).write.mode("append").parquet(d)
        return d

    def test_merge_schema_unions_columns(self, spark, drifting_table):
        df = spark.read.option("mergeSchema", True).parquet(drifting_table)
        assert set(df.columns) == {"id", "name", "lang"}
        langs = {r["id"]: r["lang"] for r in df.collect()}
        assert langs[2] == "en" and langs[1] is None

    def test_explicit_schema_overrides_drift(self, spark, drifting_table):
        # pinning the read schema (the engine's all-string CSV discipline,
        # applied to parquet) yields a stable frame regardless of file order
        df = spark.read.schema("id long, name string").parquet(drifting_table)
        assert set(df.columns) == {"id", "name"}
        assert df.count() == 2


def test_get_spark_registers_no_data_source(spark, monkeypatch):
    """Connector registration costs ~2 s per session, so session build
    leaves it to the code paths that read pyshard or write jsonlshard."""
    from pmp_analytics_spark.session import get_spark
    from pmp_analytics_spark.sources import pydatasource

    calls = []
    monkeypatch.setattr(pydatasource, "register", calls.append)
    assert get_spark("pytest", shuffle_partitions=4) is spark
    assert calls == []


def test_jsonl_shard_writer_roundtrip_and_manifest(spark, tmp_path):
    """Custom Python DataSource WRITER: Arrow-batched JSONL shards with
    the manifest commit protocol — data round-trips, the manifest is the
    source of truth, and uncommitted debris is invisible to readers."""
    import json

    from pyspark.sql import functions as F

    from pmp_analytics_spark.sources.pydatasource import read_jsonl_shards, register

    register(spark)
    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out = str(tmp_path / "shards")
    docs.repartition(4).write.format("jsonlshard").option("path", out).mode(
        "append"
    ).save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(manifest["shards"]) == 4
    assert manifest["total_rows"] == docs.count()
    assert not os.path.exists(os.path.join(out, "_tmp"))

    # Orphaned debris (a crashed uncommitted task) must not be readable.
    with open(os.path.join(out, "part-junk.jsonl"), "w") as fh:
        fh.write('{"doc_id": -1}\n')

    back = read_jsonl_shards(spark, out, schema=docs.schema)
    assert back.count() == docs.count()
    assert back.where(F.col("doc_id") == -1).count() == 0
    a = sorted(r["doc_id"] for r in back.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    assert a == b
    # Text payloads survive the JSON hop byte-for-byte.
    s_back = {r["doc_id"]: r["text"] for r in back.collect()}
    for r in docs.collect():
        assert s_back[r["doc_id"]] == r["text"]


def test_jsonl_shard_writer_append_extends_manifest(spark, tmp_path):
    import json

    from pmp_analytics_spark.sources.pydatasource import read_jsonl_shards, register

    register(spark)
    out = str(tmp_path / "shards")
    df1 = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
    df2 = spark.range(100, 150).selectExpr("id", "CAST(id AS STRING) AS s")
    df1.coalesce(2).write.format("jsonlshard").option("path", out).mode(
        "append"
    ).save()
    df2.coalesce(1).write.format("jsonlshard").option("path", out).mode(
        "append"
    ).save()
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert [s["rows"] for s in manifest["shards"]] and len(manifest["shards"]) == 3
    assert manifest["total_rows"] == 150
    back = read_jsonl_shards(spark, out, schema=df1.schema)
    assert sorted(r["id"] for r in back.collect()) == list(range(150))

    # Overwrite replaces the committed set entirely.
    df2.coalesce(1).write.format("jsonlshard").option("path", out).mode(
        "overwrite"
    ).save()
    back = read_jsonl_shards(spark, out, schema=df1.schema)
    assert sorted(r["id"] for r in back.collect()) == list(range(100, 150))
    assert json.load(open(os.path.join(out, "_MANIFEST.json")))["total_rows"] == 50


def test_jsonl_shard_writer_abort_removes_temps(tmp_path):
    """Unit-drive the writer protocol: abort() must delete every temp a
    task produced, and nothing is published without commit()."""
    import pyarrow as pa

    from pmp_analytics_spark.sources.pydatasource import _JsonlShardWriter

    out = str(tmp_path / "shards")
    os.makedirs(out)
    w = _JsonlShardWriter(out, overwrite=False)
    batch = pa.RecordBatch.from_pydict({"id": [1, 2, 3]})
    msg = w.write(iter([batch]))
    assert os.path.exists(msg.tmp_path) and msg.rows == 3
    w.abort([msg, None])  # None = a task that never ran
    assert not os.path.exists(msg.tmp_path)
    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))


def test_jsonl_shard_stream_writer_batches_and_replay(spark, tmp_path):
    """Streaming half of the custom sink: per-micro-batch manifest commit,
    and a replayed batch id commits nothing twice."""
    import json

    import pyarrow as pa

    from pmp_analytics_spark.sources.pydatasource import (
        _JsonlShardStreamWriter,
        read_jsonl_shards,
        register,
    )

    register(spark)

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type"
    )
    src = str(tmp_path / "src")
    events.where("event_id % 2 = 0").coalesce(1).write.parquet(src)
    events.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "sink")
    schema = spark.read.parquet(src).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("jsonlshard")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert len(manifest["batches"]) >= 2
    back = read_jsonl_shards(spark, out, schema=events.schema)
    assert sorted(r["event_id"] for r in back.collect()) == sorted(
        r["event_id"] for r in events.collect()
    )

    # Replay: committing an already-recorded batch id is a no-op that
    # cleans its temps instead of double-publishing.
    w = _JsonlShardStreamWriter(out)
    msg = w.write(iter([pa.RecordBatch.from_pydict({"event_id": [99]})]))
    replayed = manifest["batches"][0]
    w.commit([msg], replayed)
    after = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert after["total_rows"] == manifest["total_rows"]
    assert not os.path.exists(msg.tmp_path)


def test_jsonl_shard_writer_type_fidelity(spark, tmp_path):
    """Timestamps and nullable integer columns must survive the JSONL hop
    exactly: pandas-default serialization floats null-bearing int64s
    ("1.0" -> NULL on schema'd read-back) and writes epoch-millis that
    Spark parses as epoch-SECONDS — the Arrow-typed writer avoids both."""
    from pyspark.sql import Row, functions as F

    from pmp_analytics_spark.sources.pydatasource import read_jsonl_shards, register

    import datetime

    register(spark)

    df = spark.createDataFrame(
        [
            Row(id=1, n=10, ts=datetime.datetime(2026, 1, 2, 3, 4, 5, 123456)),
            Row(id=2, n=None, ts=None),
            Row(id=3, n=30, ts=datetime.datetime(1999, 12, 31, 23, 59, 59)),
        ],
        "id bigint, n bigint, ts timestamp",
    )
    out = str(tmp_path / "typed")
    df.coalesce(1).write.format("jsonlshard").option("path", out).mode(
        "append"
    ).save()
    back = read_jsonl_shards(spark, out, schema=df.schema)
    got = {r["id"]: (r["n"], r["ts"]) for r in back.collect()}
    assert got[1] == (10, datetime.datetime(2026, 1, 2, 3, 4, 5, 123456))
    assert got[2] == (None, None)
    assert got[3] == (30, datetime.datetime(1999, 12, 31, 23, 59, 59))


def test_publish_versioned_pointer_flip_and_prune(spark, tmp_path):
    """Versioned publish: immutable version dirs, atomic _LATEST flip,
    prune keeps the newest three versions; a reader holding an older
    resolved version still finds its files during the grace window."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest

    root = str(tmp_path / "tbl")
    for i in range(4):
        vdir = publish_versioned(spark.range(10).withColumn("ver", F.lit(i)), root)
        assert vdir.endswith(f"v{i:08d}")
        latest = read_latest(spark, root)
        assert latest.select("ver").distinct().collect()[0][0] == i

    names = sorted(os.listdir(root))
    # three kept -> only v1, v2, v3 survive (plus the pointer)
    assert [n for n in names if n.startswith("v")] == ["v00000001", "v00000002", "v00000003"]
    assert open(os.path.join(root, "_LATEST")).read().strip() == "v00000003"

    # Co-located non-version dirs are neither parsed nor pruned.
    os.makedirs(os.path.join(root, "views"))
    vdir = publish_versioned(spark.range(1).withColumn("ver", F.lit(9)), root)
    assert vdir.endswith("v00000004") and os.path.isdir(os.path.join(root, "views"))


def _jsonl_commit_one(writer_cls, out, ids, overwrite):
    """Drive one unit-level write+commit of [ids] through the shard
    writer protocol (no Spark job — the protocol itself is under test)."""
    import pyarrow as pa

    w = writer_cls(out, overwrite=overwrite)
    msg = w.write(iter([pa.RecordBatch.from_pydict({"id": ids})]))
    w.commit([msg])


def test_jsonl_overwrite_crash_windows_never_orphan_manifest(
    tmp_path, monkeypatch
):
    """The manifest must never reference missing files, no matter where an
    overwrite commit crashes. Two crash points: (a) before the manifest
    flip — the OLD manifest and all its shards must survive untouched;
    (b) during post-flip orphan cleanup — the NEW manifest is already
    live and complete. (Round-5 code deleted old shards first, so a
    crash at (a) left the old manifest naming deleted files.)"""
    import json

    from pmp_analytics_spark.sources.pydatasource import _JsonlShardWriter

    out = str(tmp_path / "shards")
    os.makedirs(out)
    _jsonl_commit_one(_JsonlShardWriter, out, [1, 2, 3], overwrite=False)

    def manifest_files_exist():
        m = json.load(open(os.path.join(out, "_MANIFEST.json")))
        return all(
            os.path.exists(os.path.join(out, s["name"])) for s in m["shards"]
        ), m

    # Crash (a): fail the atomic manifest rename itself.
    real_replace = os.replace

    def crash_on_manifest(src, dst):
        if str(dst).endswith("_MANIFEST.json"):
            raise RuntimeError("crash before manifest flip")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_manifest)
    try:
        _jsonl_commit_one(_JsonlShardWriter, out, [10, 11], overwrite=True)
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "replace", real_replace)
    ok, m = manifest_files_exist()
    assert ok and m["total_rows"] == 3  # old publish fully intact

    # Crash (b): manifest flips, then cleanup of old shards dies.
    real_remove = os.remove

    def crash_on_remove(p):
        raise RuntimeError("crash during orphan cleanup")

    monkeypatch.setattr(os, "remove", crash_on_remove)
    try:
        _jsonl_commit_one(_JsonlShardWriter, out, [20, 21, 22, 23], overwrite=True)
    except RuntimeError:
        pass
    monkeypatch.setattr(os, "remove", real_remove)
    ok, m = manifest_files_exist()
    assert ok and m["total_rows"] == 4  # new publish live and complete

    # And a later clean overwrite reaps every unreferenced orphan.
    _jsonl_commit_one(_JsonlShardWriter, out, [30], overwrite=True)
    ok, m = manifest_files_exist()
    assert ok and m["total_rows"] == 1
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert on_disk == {s["name"] for s in m["shards"]}


def test_publish_versioned_marker_roundtrip(spark, tmp_path):
    """The optional commit marker is readable from the LIVE version only:
    None before any publish, None for marker-less versions, the exact
    string for marked ones — and a newer publish replaces it."""
    from pmp_analytics_spark.sources.writers import latest_marker, publish_versioned

    root = str(tmp_path / "mv")
    assert latest_marker(spark, root) is None
    df = spark.range(3).toDF("x")
    publish_versioned(df, root)
    assert latest_marker(spark, root) is None
    publish_versioned(df, root, marker="7")
    assert latest_marker(spark, root) == "7"
    # the marker file must not pollute the data read
    assert spark.read.parquet(root + "/v00000001").count() == 3
    publish_versioned(df, root, marker="8")
    assert latest_marker(spark, root) == "8"


def test_versioned_time_travel_and_rollback(spark, tmp_path):
    """list_versions / read_version / rollback_latest over a publish
    history: every still-on-disk version is readable regardless of the
    pointer; rollback is a pointer-only flip (newer versions stay
    readable); pruned versions raise, not silently read."""
    import pytest

    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        list_versions,
        publish_versioned,
        read_latest,
        read_version,
        rollback_latest,
    )

    root = str(tmp_path / "t")
    for n in range(4):  # three kept: prunes v0
        publish_versioned(spark.range(n + 1).toDF("x"), root, marker=str(n))
    vs = list_versions(spark, root)
    assert [n for n, _ in vs] == ["v00000001", "v00000002", "v00000003"]
    assert [live for _, live in vs] == [False, False, True]
    assert read_version(spark, root, 2).count() == 3
    assert read_version(spark, root, "v00000001").count() == 2
    with pytest.raises(FileNotFoundError):
        read_version(spark, root, 0)  # pruned

    rollback_latest(spark, root, 2)
    assert read_latest(spark, root).count() == 3
    assert latest_marker(spark, root) == "2"  # marker travels with the flip
    assert read_version(spark, root, 3).count() == 4  # newer stays readable
    assert [live for _, live in list_versions(spark, root)] == [
        False,
        True,
        False,
    ]
    with pytest.raises(FileNotFoundError):
        rollback_latest(spark, root, 0)
    # a publish after rollback takes the NEXT free number, never reuses
    publish_versioned(spark.range(9).toDF("x"), root)
    assert read_latest(spark, root).count() == 9
    assert [n for n, _ in list_versions(spark, root)][-1] == "v00000004"
