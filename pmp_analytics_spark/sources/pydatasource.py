"""Custom Python DataSource (Spark 4 Python Data Source API) — the
engine's connector extension point, exercised end-to-end: schema
discovery, partition planning, FILTER PUSHDOWN into the source, and
Arrow-batch emission, all from Python.

The concrete source here ("pyshard") reads a parquet file through
pyarrow — deliberately a format Spark already reads natively, so the
custom connector's results are fully oracle-checkable against the
native path. The shape is what a real exotic-source connector (REST
cursor, proprietary scan API, tape archive...) looks like:

- ``partitions()`` plans around the file's ROW GROUPS — a row group is
  the ATOMIC unit of work, exactly like Spark's native parquet reader
  (a group is never split across tasks, because parquet pages cannot be
  row-addressed without decompressing the group: any sub-group split
  re-decompresses the whole group per split, an
  O(group_rows / split_rows) read amplification that is a scale-killer
  on real ~1M-row groups). Adjacent tiny groups are COALESCED up to
  ``rows_per_split`` rows per task so a fragmented file doesn't become
  pure scheduler churn.
- ``pushFilters()`` accepts EqualTo filters on scan columns and applies
  them INSIDE the source (pyarrow predicate), returning unsupported
  filters to Spark — source-side pushdown, the S7 semantics of
  SURVEY.md §2.1 implemented through the public connector API.
- ``read()`` yields Arrow RecordBatches (zero row-at-a-time Python),
  reading each planned row group EXACTLY ONCE
  (pinned by tests/test_reader.py's read-amplification counter).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    InputPartition,
    WriterCommitMessage,
)

_SPARK_TYPES = {
    "int64": "bigint",
    "int32": "int",
    "string": "string",
    "large_string": "string",
    "double": "double",
    "float": "float",
    "bool": "boolean",
}


@dataclass
class _GroupSlice(InputPartition):
    """A run of contiguous row groups, optionally trimmed at the edges.

    ``offset``/``length`` are row positions RELATIVE to the concatenated
    groups (``length=-1`` means "to the end"). Batch planning always
    emits whole groups (offset 0, length -1); the stream reader trims
    only the two boundary groups of a micro-batch range — groups that
    must be decompressed anyway to serve the range, so the trim adds no
    extra I/O.
    """

    groups: tuple[int, ...]
    offset: int = 0
    length: int = -1


def _read_group_slice(path: str, partition: _GroupSlice, filters=()):
    """Shared executor-side read: ONE ``read_row_groups`` call for the
    partition's groups, then slice/filter in memory. Never touches a
    row group outside ``partition.groups``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.ParquetFile(path).read_row_groups(list(partition.groups))
    if partition.offset or partition.length >= 0:
        table = table.slice(
            partition.offset,
            None if partition.length < 0 else partition.length,
        )
    for f in filters:
        table = table.filter(pc.equal(table[f.attribute[0]], f.value))
    yield from table.to_batches()


class ParquetShardDataSource(DataSource):
    """spark.read.format("pyshard").option("path", ...).load()"""

    @classmethod
    def name(cls) -> str:
        return "pyshard"

    def schema(self) -> str:
        import pyarrow.parquet as pq

        sch = pq.read_schema(self.options["path"])
        cols = ", ".join(
            f"`{f.name}` {_SPARK_TYPES.get(str(f.type), str(f.type))}" for f in sch
        )
        return cols

    def reader(self, schema) -> DataSourceReader:
        return _ShardReader(self.options)

    def streamReader(self, schema) -> "DataSourceStreamReader":
        return _ShardStreamReader(self.options)


class _ShardReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        # Coalescing target: adjacent row groups are packed into one task
        # until it holds ~this many rows. A group is NEVER split — this
        # is a floor on task size, not a ceiling (a single 1M-row group
        # is one task regardless). Tests use a tiny value with a
        # many-group fixture to force one-partition-per-group.
        self.rows_per_split = int(options.get("rows_per_split", "4096"))
        self.filters: list[EqualTo] = []

    def pushFilters(self, filters):
        """Keep EqualTo filters for source-side evaluation; hand anything
        else back to Spark. (The source must still be CORRECT if Spark
        re-applies accepted filters — pushdown is an optimization, not a
        semantics change.)"""
        unsupported = []
        for f in filters:
            if isinstance(f, EqualTo) and len(f.attribute) == 1:
                self.filters.append(f)
            else:
                unsupported.append(f)
        return iter(unsupported)

    def partitions(self):
        import pyarrow.parquet as pq

        meta = pq.ParquetFile(self.path).metadata
        parts: list[_GroupSlice] = []
        run: list[int] = []
        run_rows = 0
        for rg in range(meta.num_row_groups):
            run.append(rg)
            run_rows += meta.row_group(rg).num_rows
            if run_rows >= self.rows_per_split:
                parts.append(_GroupSlice(tuple(run)))
                run, run_rows = [], 0
        if run:
            parts.append(_GroupSlice(tuple(run)))
        # Zero-group (empty) file: one no-op partition keeps Spark's
        # planner happy and yields an empty scan.
        return parts or [_GroupSlice(())]

    def read(self, partition: _GroupSlice):
        if not partition.groups:
            return
        yield from _read_group_slice(self.path, partition, self.filters)


class _ShardStreamReader(DataSourceStreamReader):
    """Offset-based micro-batch streaming over the same parquet shards:
    the offset is a ROW POSITION in the file; a micro-batch covers the
    [start, end) rows that appeared since the last committed offset.
    Partition planning maps that range onto the file's ROW GROUPS —
    group-aligned, coalescing tiny adjacent groups up to
    ``rows_per_split`` rows per task — so each group the range touches
    is decompressed exactly once per batch (only the two boundary
    groups are trimmed, and those must be read anyway). Exactly-once
    comes from the offsets being deterministic row ranges — replaying a
    batch re-reads exactly the same rows — and a restart resumes from
    the checkpointed offset (a growing file streams only its new tail).
    ``latestOffset`` reports everything currently available (rate
    limiting under availableNow would stall the drain: the trigger
    stops at the first non-advancing batch).
    """

    def __init__(self, options):
        self.path = options["path"]
        self.rows_per_split = int(options.get("rows_per_split", "4096"))

    def initialOffset(self):
        return {"row": 0}

    def latestOffset(self):
        # Re-read the footer EVERY poll (metadata-only, driver-side):
        # caching the row count at reader construction would freeze the
        # stream at the file's size when the query started — a growing
        # shard would never stream its new tail.
        import pyarrow.parquet as pq

        return {"row": pq.ParquetFile(self.path).metadata.num_rows}

    def partitions(self, start, end):
        """Group-aligned planning for the row range [start, end):
        one ``_GroupSlice`` per coalesced run of touched groups, trimmed
        only at the range's two edges. A task never sub-splits a group
        (sub-group splits re-decompress the whole group per split —
        the round-2/3 O(file × partitions) scale bug, now structurally
        impossible)."""
        import pyarrow.parquet as pq

        lo, hi = start["row"], end["row"]
        meta = pq.ParquetFile(self.path).metadata
        parts: list[_GroupSlice] = []
        run: list[int] = []
        run_offset = 0  # rows to skip inside the run's first group
        run_rows = 0  # rows the run contributes
        run_full_tail = True  # run's last group taken to its end?
        pos = 0
        for rg in range(meta.num_row_groups):
            n = meta.row_group(rg).num_rows
            g_start, g_end = pos, pos + n
            pos = g_end
            take_lo, take_hi = max(lo, g_start), min(hi, g_end)
            if take_lo >= take_hi:
                if g_start >= hi:
                    break
                continue
            # Extend the current run only when contiguous: the previous
            # group was taken to its end and this one from its start.
            if run and run_full_tail and take_lo == g_start:
                run.append(rg)
                run_rows += take_hi - take_lo
            else:
                if run:
                    parts.append(_GroupSlice(tuple(run), run_offset, run_rows))
                run = [rg]
                run_offset = take_lo - g_start
                run_rows = take_hi - take_lo
            run_full_tail = take_hi == g_end
            if run_rows >= self.rows_per_split:
                parts.append(_GroupSlice(tuple(run), run_offset, run_rows))
                run, run_offset, run_rows = [], 0, 0
        if run:
            parts.append(_GroupSlice(tuple(run), run_offset, run_rows))
        return parts

    def read(self, partition: _GroupSlice):
        if not partition.groups:
            return
        yield from _read_group_slice(self.path, partition)

    def commit(self, end):
        pass


# --------------------------------------------------------------------------
# Custom Python DataSource WRITER — the sink half of the connector API.
#
# The concrete sink ("jsonlshard") writes JSONL shards — the interchange
# format trainer data-loaders consume — with the two-phase task-commit
# protocol a real sink needs under speculative execution and task retry:
#
# - ``write()`` runs once per task and streams its Arrow batches into a
#   UNIQUELY-NAMED temp file under ``<path>/_tmp/`` (never the final
#   name: two speculative attempts of one task must not collide), then
#   returns a commit message (temp path, row count).
# - ``commit()`` runs on the driver only after EVERY task succeeded: it
#   renames each temp to its final ``part-NNNNN-<rows>.jsonl`` name and
#   writes ``_MANIFEST.json`` LAST — the manifest is the commit point;
#   readers trust only manifest-listed shards, so a crash mid-rename
#   publishes nothing. ``mode("append")`` extends the existing manifest;
#   overwrite replaces it (single-writer-per-directory contract, as with
#   operators/maintenance.py).
# - ``abort()`` deletes the temps of whatever tasks did run.
#
# JSONL encoding is row-oriented by definition, but the hop stays
# Arrow-batched end-to-end: each RecordBatch is rendered by pandas
# ``to_json(lines=True)`` in one vectorized call, not a Python loop.
#
# Tasks open ``path`` directly from the executors, so the directory must
# be on a filesystem every executor shares (local mode / NFS / a fuse
# mount); an object-store variant would swap open/rename for
# multipart-upload + complete, keeping the same commit protocol.
# --------------------------------------------------------------------------


@dataclass
class _ShardCommit(WriterCommitMessage):
    tmp_path: str
    rows: int


class JsonlShardDataSource(DataSource):
    """df.write.format("jsonlshard").option("path", ...).mode("append"|
    "overwrite").save() — the Python DataSource write path supports only
    those two save modes (Spark raises on ErrorIfExists/Ignore)."""

    @classmethod
    def name(cls) -> str:
        return "jsonlshard"

    def writer(self, schema, overwrite: bool):
        return _JsonlShardWriter(self.options["path"], overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return _JsonlShardStreamWriter(self.options["path"])


class _JsonlShardWriter(DataSourceArrowWriter):
    def __init__(self, path: str, overwrite: bool) -> None:
        self.path = path
        self.overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        tmp_dir = os.path.join(self.path, "_tmp")
        os.makedirs(tmp_dir, exist_ok=True)
        tmp = os.path.join(tmp_dir, f"task-{uuid.uuid4().hex}.jsonl")
        import pandas as pd

        rows = 0
        with open(tmp, "a", encoding="utf-8") as fh:
            for batch in iterator:
                # ArrowDtype keeps type fidelity pandas defaults destroy:
                # int64-with-nulls stays integer (numpy to_pandas floats it
                # -> "1.0" -> NULL on schema'd read-back), and timestamps
                # serialize as ISO-microsecond strings (default epoch-ms
                # numbers read back as epoch-SECONDS, a silent 1000x shift).
                pdf = batch.to_pandas(types_mapper=pd.ArrowDtype)
                rows += len(pdf)
                pdf.to_json(
                    fh,
                    orient="records",
                    lines=True,
                    force_ascii=False,
                    date_format="iso",
                    date_unit="us",
                )
                fh.write("\n")
        return _ShardCommit(tmp_path=tmp, rows=rows)

    def commit(self, messages) -> None:
        import json
        import os
        import shutil

        import uuid

        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        shards: list[dict] = []
        if not self.overwrite and os.path.exists(manifest_path):
            with open(manifest_path, encoding="utf-8") as fh:
                shards = json.load(fh)["shards"]
        start = len(shards)
        # Job token in every final shard name: an overwrite's new shards
        # can never collide with the files they replace, so the old data
        # stays fully intact until the manifest flip below.
        token = uuid.uuid4().hex[:8]
        for i, m in enumerate(sorted(messages, key=lambda m: m.tmp_path)):
            name = f"part-{start + i:05d}-{m.rows}-{token}.jsonl"
            os.replace(m.tmp_path, os.path.join(self.path, name))
            shards.append({"name": name, "rows": m.rows})
        # The manifest write IS the commit point — written last, atomically
        # (tmp + rename), so readers never see a half-published job. In
        # overwrite mode the replaced shards are deleted only AFTER the
        # flip: a crash anywhere before it leaves the old manifest with
        # every file it lists still present, a crash after it leaves
        # unreferenced orphans (invisible to readers, reaped by the next
        # overwrite) — never a manifest naming missing files.
        tmp_manifest = manifest_path + ".tmp"
        with open(tmp_manifest, "w", encoding="utf-8") as fh:
            json.dump(
                {"shards": shards, "total_rows": sum(s["rows"] for s in shards)},
                fh,
            )
        os.replace(tmp_manifest, manifest_path)
        if self.overwrite:
            keep = {s["name"] for s in shards}
            for old in os.listdir(self.path):
                if (
                    old.startswith("part-")
                    and old.endswith(".jsonl")
                    and old not in keep
                ):
                    os.remove(os.path.join(self.path, old))
        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class _JsonlShardStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: the same shard/manifest machinery, committed once
    per micro-batch with the batch id recorded in the manifest. Replayed
    batches (restart after a commit the engine didn't see acknowledged)
    are dropped at commit time — the idempotent-sink contract — so
    end-to-end the sink is exactly-once for deterministic batches."""

    def __init__(self, path: str) -> None:
        self.path = path

    write = _JsonlShardWriter.write  # identical per-task temp protocol

    def commit(self, messages, batchId: int) -> None:
        import json
        import os
        import shutil

        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        shards: list[dict] = []
        batches: list[int] = []
        if os.path.exists(manifest_path):
            with open(manifest_path, encoding="utf-8") as fh:
                m = json.load(fh)
            shards, batches = m["shards"], m.get("batches", [])
        if batchId in batches:  # replay of an already-committed batch
            self.abort(messages, batchId)
            return
        start = len(shards)
        for i, msg in enumerate(sorted(messages, key=lambda m: m.tmp_path)):
            name = f"part-{start + i:05d}-b{batchId}-{msg.rows}.jsonl"
            os.replace(msg.tmp_path, os.path.join(self.path, name))
            shards.append({"name": name, "rows": msg.rows, "batch": batchId})
        batches.append(batchId)
        tmp_manifest = manifest_path + ".tmp"
        with open(tmp_manifest, "w", encoding="utf-8") as fh:
            json.dump(
                {
                    "shards": shards,
                    "batches": batches,
                    "total_rows": sum(s["rows"] for s in shards),
                },
                fh,
            )
        os.replace(tmp_manifest, manifest_path)
        shutil.rmtree(os.path.join(self.path, "_tmp"), ignore_errors=True)

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


def read_jsonl_shards(spark, path: str, schema=None):
    """Read back ONLY the committed shards (manifest-listed); stray temp
    or orphaned part files from failed/aborted jobs are invisible —
    that is the point of the manifest protocol."""
    import json
    import os

    with open(os.path.join(path, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    files = [os.path.join(path, s["name"]) for s in manifest["shards"]]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(files)


def register(spark) -> None:
    """Idempotent connector registration, called by each code path right
    before it reads ``pyshard`` or writes ``jsonlshard``. The first call
    in a session pickles both classes (~2 s), so it is paid only by
    sessions that use the connectors; repeat calls are no-ops."""
    key = "spark.pmp.pyshard.registered"
    try:
        if spark.conf.get(key, "") == "1":
            return
    except Exception:  # pragma: no cover - conf.get with default never raises
        pass
    # Python-source filter pushdown is opt-in (the worker refuses a
    # pushFilters() implementation without it).
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ParquetShardDataSource)
    spark.dataSource.register(JsonlShardDataSource)
    spark.conf.set(key, "1")
