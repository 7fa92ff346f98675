"""Stdlib Apache Avro Object Container File bridge (reader + writer).

pyspark 4.1.2 in this offline container ships Avro CORE jars but not the
``spark-avro`` datasource module, so ``spark.read.format("avro")`` is
unavailable (``AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE``). The Avro
binary format is a small public spec (https://avro.apache.org/docs/
current/specification/ — zigzag varints, length-prefixed strings,
sync-marker-framed blocks), so this bridge implements the Object
Container File (OCF) layer in pure stdlib — the S4/S5 xlsx/HTML bridge
precedent applied to a DATA format, which therefore gets a DISTRIBUTED
shape rather than a driver-side parse:

- ``read_avro``: sniffs the writer schema from ONE file header on the
  driver (headers are at offset 0 — a few hundred bytes), then decodes
  the files in an Arrow ``mapInPandas`` pass over the FILE LIST — the
  same per-file parallelism a native Avro datasource gets. No reader
  pushdown (documented: filters run post-scan in Spark; at deployment
  the real ``spark-avro`` module takes over and this bridge is the
  offline/edge fallback).
- ``write_avro``: each input partition encodes to one ``part-*.avro``
  on the executors (raw-deflate blocks per RFC 1951, as the spec's
  "deflate" codec requires), with a deterministic sync marker derived
  from the schema fingerprint.

Scope: records of the primitive types the engine's tables use — null /
boolean / int / long / float / double / bytes / string, nullable via
``["null", T]`` unions, plus the ``date`` (int) and ``timestamp-micros``
(long) logical types. Nested records/arrays/maps/enums raise honestly
(ValueError) — the quarantine path, not silent corruption.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import struct
import zlib
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"
_BLOCK_ROWS = 4096  # rows per OCF data block


# ---------------------------------------------------------------------------
# primitive codec (Avro spec §"Binary encoding")
# ---------------------------------------------------------------------------


def _write_long(buf: bytearray, n: int) -> None:
    """Zigzag varint (spec: int and long share this encoding)."""
    u = (n << 1) ^ (n >> 63)
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_long(data: bytes, pos: int) -> tuple[int, int]:
    shift, u = 0, 0
    while True:
        b = data[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


def _write_bytes(buf: bytearray, b: bytes) -> None:
    _write_long(buf, len(b))
    buf += b


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _read_long(data, pos)
    return data[pos : pos + n], pos + n


# ---------------------------------------------------------------------------
# schema handling
# ---------------------------------------------------------------------------

_SPARK_TO_AVRO = {
    T.BooleanType: "boolean",
    T.IntegerType: "int",
    T.LongType: "long",
    T.FloatType: "float",
    T.DoubleType: "double",
    T.StringType: "string",
    T.BinaryType: "bytes",
}


def avro_schema_for(spark_schema: T.StructType, name: str = "row") -> dict:
    """Spark StructType -> Avro record schema (every field nullable via
    the ``["null", T]`` union, matching what spark-avro emits)."""
    fields = []
    for f in spark_schema.fields:
        dt = type(f.dataType)
        if isinstance(f.dataType, T.DateType):
            avro_t: Any = {"type": "int", "logicalType": "date"}
        elif isinstance(f.dataType, T.TimestampType):
            avro_t = {"type": "long", "logicalType": "timestamp-micros"}
        elif dt in _SPARK_TO_AVRO:
            avro_t = _SPARK_TO_AVRO[dt]
        else:
            raise ValueError(
                f"avro bridge: unsupported Spark type {f.dataType} "
                f"(field {f.name!r}) — scope is primitives + date/timestamp"
            )
        fields.append({"name": f.name, "type": ["null", avro_t]})
    return {"type": "record", "name": name, "fields": fields}


def spark_schema_for(avro_schema: dict) -> T.StructType:
    """Avro record schema -> Spark StructType (inverse of the above)."""
    out = []
    for f in avro_schema["fields"]:
        base = _field_base_type(f)
        logical = base.get("logicalType") if isinstance(base, dict) else None
        prim = base["type"] if isinstance(base, dict) else base
        if logical == "date":
            st: T.DataType = T.DateType()
        elif logical == "timestamp-micros":
            st = T.TimestampType()
        else:
            st = {
                "boolean": T.BooleanType(),
                "int": T.IntegerType(),
                "long": T.LongType(),
                "float": T.FloatType(),
                "double": T.DoubleType(),
                "string": T.StringType(),
                "bytes": T.BinaryType(),
            }[prim]
        out.append(T.StructField(f["name"], st, nullable=True))
    return T.StructType(out)


def _field_base_type(field: dict):
    """The non-null branch of a field type (union or plain)."""
    t = field["type"]
    if isinstance(t, list):
        branches = [b for b in t if b != "null"]
        if len(branches) != 1:
            raise ValueError(
                f"avro bridge: field {field['name']!r} union {t} out of "
                "scope (only [null, T])"
            )
        t = branches[0]
    if isinstance(t, dict) and t.get("type") in (
        "record", "array", "map", "enum", "fixed",
    ):
        raise ValueError(
            f"avro bridge: field {field['name']!r} complex type "
            f"{t.get('type')} out of scope"
        )
    if isinstance(t, str) and t in ("record", "array", "map", "enum", "fixed"):
        raise ValueError(f"avro bridge: complex type {t} out of scope")
    return t


def _field_plan(avro_schema: dict) -> list[tuple[str, int | None, str]]:
    """(name, null_branch_index | None, primitive) per field — the
    codec plan. The spec allows ["null", T] OR [T, "null"]; the union
    branch index written on the wire is positional, so the plan carries
    WHERE the null branch sits instead of assuming index 0."""
    plan = []
    for f in avro_schema["fields"]:
        base = _field_base_type(f)
        prim = base["type"] if isinstance(base, dict) else base
        t = f["type"]
        null_branch = t.index("null") if isinstance(t, list) and "null" in t else None
        plan.append((f["name"], null_branch, prim))
    return plan


# ---------------------------------------------------------------------------
# container encode / decode
# ---------------------------------------------------------------------------


def avro_encode(avro_schema: dict, rows: list[tuple], codec: str = "deflate") -> bytes:
    """Rows (tuples aligned with the schema's field order; dates/
    timestamps already converted to their int/long logical form) ->
    one OCF byte string, ``_BLOCK_ROWS`` rows per data block."""
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro bridge: codec {codec!r} out of scope")
    plan = _field_plan(avro_schema)
    schema_json = json.dumps(avro_schema, separators=(",", ":"))
    sync = hashlib.md5(b"pmp-avro:" + schema_json.encode()).digest()

    header = bytearray(_MAGIC)
    _write_long(header, 2)  # metadata map: one block, two entries
    for k, v in (
        ("avro.schema", schema_json),
        ("avro.codec", codec),
    ):
        _write_bytes(header, k.encode())
        _write_bytes(header, v.encode())
    _write_long(header, 0)  # map terminator
    header += sync

    out = bytearray(header)
    for start in range(0, len(rows), _BLOCK_ROWS):
        chunk = rows[start : start + _BLOCK_ROWS]
        body = bytearray()
        for row in chunk:
            for (name, null_branch, prim), v in zip(plan, row):
                if null_branch is not None:
                    if v is None:
                        _write_long(body, null_branch)
                        continue
                    _write_long(body, 1 - null_branch)
                elif v is None:
                    raise ValueError(f"avro bridge: null in non-null {name!r}")
                if prim in ("int", "long"):
                    _write_long(body, int(v))
                elif prim == "double":
                    body += struct.pack("<d", float(v))
                elif prim == "float":
                    body += struct.pack("<f", float(v))
                elif prim == "string":
                    _write_bytes(body, str(v).encode("utf-8"))
                elif prim == "bytes":
                    _write_bytes(body, bytes(v))
                elif prim == "boolean":
                    body.append(1 if v else 0)
                elif prim == "null":
                    pass
                else:
                    raise ValueError(f"avro bridge: primitive {prim!r}?")
        payload = bytes(body)
        if codec == "deflate":  # RFC 1951 RAW deflate, per the spec
            payload = zlib.compress(payload, 6)[2:-4]
        _write_long(out, len(chunk))
        _write_long(out, len(payload))
        out += payload
        out += sync
    return bytes(out)


def _read_header(data: bytes) -> tuple[dict, str, bytes, int]:
    """(schema, codec, sync, pos_after_header)."""
    if data[:4] != _MAGIC:
        raise ValueError("not an Avro object container file")
    pos, meta = 4, {}
    while True:
        n, pos = _read_long(data, pos)
        if n == 0:
            break
        if n < 0:  # negative block count carries a byte size after it
            _, pos = _read_long(data, pos)
            n = -n
        for _ in range(n):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode()] = v
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    sync = data[pos : pos + 16]
    return schema, codec, sync, pos + 16


def avro_decode(
    data: bytes, wanted: set | None = None
) -> tuple[dict, list[tuple]]:
    """One OCF byte string -> (schema, rows of python scalars; date/
    timestamp stay in their int/long logical form — the Spark layer
    applies the typed schema). ``wanted`` restricts which FIELDS are
    materialized: Avro is a row format, so the cursor must still WALK
    every field of every row (lengths are inline — that is the honest
    non-pruning trade vs parquet), but unwanted strings skip utf-8
    decoding and unwanted values never become python objects. Rows
    contain the wanted fields in schema order."""
    schema, codec, sync, pos = _read_header(data)
    if codec not in ("null", "deflate"):
        raise ValueError(f"avro bridge: codec {codec!r} out of scope")
    if schema.get("type") != "record":
        raise ValueError("avro bridge: top-level schema must be a record")
    plan = _field_plan(schema)
    rows: list[tuple] = []
    while pos < len(data):
        count, pos = _read_long(data, pos)
        size, pos = _read_long(data, pos)
        block = data[pos : pos + size]
        pos += size
        if data[pos : pos + 16] != sync:
            raise ValueError("avro bridge: sync marker mismatch (torn file)")
        pos += 16
        if codec == "deflate":
            # a block must end exactly at its declared size: plain
            # zlib.decompress would drop any bytes past the stream's end
            inflater = zlib.decompressobj(-15)
            block = inflater.decompress(block)
            if not inflater.eof or inflater.unused_data:
                raise ValueError("avro bridge: deflate block does not fill its declared size")
        bp = 0
        for _ in range(count):
            row = []
            for name, null_branch, prim in plan:
                keep = wanted is None or name in wanted
                if null_branch is not None:
                    branch, bp = _read_long(block, bp)
                    if branch == null_branch:
                        if keep:
                            row.append(None)
                        continue
                if prim in ("int", "long"):
                    v, bp = _read_long(block, bp)
                elif prim == "double":
                    if keep:
                        (v,) = struct.unpack_from("<d", block, bp)
                    bp += 8
                elif prim == "float":
                    if keep:
                        (v,) = struct.unpack_from("<f", block, bp)
                    bp += 4
                elif prim == "string":
                    raw, bp = _read_bytes(block, bp)
                    if keep:
                        v = raw.decode("utf-8")
                elif prim == "bytes":
                    v, bp = _read_bytes(block, bp)
                elif prim == "boolean":
                    if keep:
                        v = block[bp] == 1
                    bp += 1
                elif prim == "null":
                    v = None
                else:
                    raise ValueError(f"avro bridge: primitive {prim!r}?")
                if keep:
                    row.append(v)
            rows.append(tuple(row))
        if bp != len(block):
            raise ValueError("avro bridge: trailing bytes in block")
    return schema, rows


# ---------------------------------------------------------------------------
# Spark integration
# ---------------------------------------------------------------------------

_EPOCH_ORD = 719163  # date(1970, 1, 1).toordinal()


def write_avro(df: DataFrame, dir_path: str, codec: str = "deflate") -> int:
    """Distributed Avro sink: each partition encodes to one part file
    under ``dir_path``. Date/timestamp columns are converted to their
    Avro logical representation (epoch days / epoch micros) JVM-side
    before the rows reach Python.

    Exactness and retry semantics (review-hardened):

    - the partition crosses into Python as ARROW batches (``mapInArrow``),
      never pandas — a pandas hop silently promotes an int64 column
      containing any null to float64, rounding values past 2^53 (e.g.
      the engine's own 63-bit signatures) and conflating NaN with null;
      ``to_pylist`` preserves exact ints and real nulls;
    - files are written to a ``.tmp`` name and atomically renamed, so a
      task killed mid-write never leaves a torn ``.avro`` for the
      reader's glob;
    - the final name is ``part-<partitionId>-<contentmd5>.avro`` —
      deterministic per (partition, content) — so a retried or
      speculated task OVERWRITES its previous attempt instead of
      duplicating rows (the idempotent-rename commit the heavyweight
      sinks get from a _temporary/commit protocol).

    Returns the row count written."""
    import pyarrow as pa  # noqa: F401 — documents the Arrow-only path

    avro_schema = avro_schema_for(df.schema)
    os.makedirs(dir_path, exist_ok=True)
    proj = []
    for f in df.schema.fields:
        if isinstance(f.dataType, T.DateType):
            proj.append(F.datediff(F.col(f.name), F.lit("1970-01-01")).alias(f.name))
        elif isinstance(f.dataType, T.TimestampType):
            proj.append(F.unix_micros(F.col(f.name)).alias(f.name))
        else:
            proj.append(F.col(f.name))
    flat = df.select(*proj)
    names = [f.name for f in flat.schema.fields]

    def write_partition(it):
        from pyspark import TaskContext

        cols: dict[str, list] = {n: [] for n in names}
        n_rows = 0
        for batch in it:
            d = batch.to_pydict()
            for n in names:
                cols[n].extend(d[n])
            n_rows += batch.num_rows
        if n_rows:
            rows = list(zip(*(cols[n] for n in names)))
            payload = avro_encode(avro_schema, rows, codec=codec)
            ctx = TaskContext.get()
            part_id = ctx.partitionId() if ctx is not None else os.getpid()
            # the file is named by partition id ALONE (ADVICE r11): a
            # retried/speculated task over a nondeterministic upstream
            # may produce different bytes, and a content-digest suffix
            # would then leave TWO part files for one partition —
            # duplicating rows on read. os.replace keeps the overwrite
            # atomic, so last-writer-wins and exactly one file per
            # partition survives any retry schedule.
            final = os.path.join(dir_path, f"part-{part_id:05d}.avro")
            tmp = final + f".{os.getpid()}.tmp"
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, final)  # atomic: no torn .avro is ever visible
        out = pa.RecordBatch.from_pydict({"n": pa.array([n_rows], type=pa.int64())})
        yield out

    counts = flat.mapInArrow(write_partition, schema="n long").collect()
    return sum(r["n"] for r in counts)


def read_avro(
    spark: SparkSession, dir_path: str, columns: list[str] | None = None
) -> DataFrame:
    """Distributed Avro source: the writer schema is sniffed from ONE
    file header on the driver, then every file decodes inside an Arrow
    ``mapInPandas`` pass over the file list (per-file parallelism — the
    unit a native Avro split reader also uses for uncompressed-block
    scans). ``columns`` prunes what gets MATERIALIZED (Avro is
    row-major with inline lengths, so the decoder still walks every
    field — the honest trade vs a columnar scan — but unwanted fields
    never become python objects or Arrow columns). No filter pushdown:
    predicates apply post-scan (deployments with the spark-avro module
    get the native reader instead)."""
    import pandas as pd

    from pmp_analytics_spark.operators.partitioning import ensure_parallelism
    from pmp_analytics_spark.sources.local import local_df

    files = sorted(
        os.path.join(dir_path, n)
        for n in os.listdir(dir_path)
        if n.endswith(".avro")
    )
    if not files:
        raise ValueError(f"avro bridge: no .avro files under {dir_path}")
    # grow the sniff window until the header parses (ADVICE r11): a
    # header whose metadata exceeds a fixed window used to index past
    # the buffer and die with a bare IndexError
    head = b""
    window = 65536
    with open(files[0], "rb") as fh:
        while True:
            head += fh.read(window - len(head))
            try:
                avro_schema, _codec, _sync, _pos = _read_header(head)
                break
            except IndexError:
                if len(head) < window:  # EOF: truly truncated/corrupt
                    raise ValueError(
                        f"avro bridge: {files[0]} ends before its header "
                        "parses (truncated or not an Avro OCF)"
                    ) from None
                window *= 4
    full_schema = spark_schema_for(avro_schema)
    full_plan = _field_plan(avro_schema)
    if columns is not None:
        known = {name for name, _, _ in full_plan}
        missing = [c for c in columns if c not in known]
        if missing:
            raise ValueError(f"avro bridge: unknown columns {missing}")
        wanted = set(columns)
        plan = [p for p in full_plan if p[0] in wanted]
        out_schema = T.StructType(
            [f for f in full_schema.fields if f.name in wanted]
        )
    else:
        wanted = None
        plan = full_plan
        out_schema = full_schema

    files_df = ensure_parallelism(
        local_df(spark, [(f,) for f in files], "path string")
    )

    def decode_files(it):
        import datetime as dt

        for pdf in it:
            for path in pdf["path"]:
                with open(path, "rb") as fh:
                    schema_i, rows = avro_decode(fh.read(), wanted=wanted)
                if schema_i != avro_schema:
                    raise ValueError(
                        f"avro bridge: {path} schema differs from the "
                        "sniffed writer schema (mixed-schema dirs are "
                        "out of scope)"
                    )
                cols: dict[str, list] = {name: [] for name, _, _ in plan}
                for row in rows:
                    for (name, _n, _p), v in zip(plan, row):
                        cols[name].append(v)
                pdf_out = {}
                for (name, _nullable, prim), field in zip(plan, out_schema.fields):
                    vals = cols[name]
                    if isinstance(field.dataType, T.DateType):
                        vals = [
                            None if v is None
                            else dt.date.fromordinal(_EPOCH_ORD + v)
                            for v in vals
                        ]
                    elif isinstance(field.dataType, T.TimestampType):
                        # tz-AWARE UTC datetimes (timedelta arithmetic,
                        # not fromtimestamp(v/1e6) — the float division
                        # can be a microsecond off): a NAIVE pandas
                        # datetime would be re-interpreted in
                        # spark.sql.session.timeZone by the Arrow
                        # serializer, shifting every value on non-UTC
                        # sessions; the stored epoch micros ARE UTC.
                        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
                        vals = pd.to_datetime(
                            [
                                pd.NaT if v is None
                                else epoch + dt.timedelta(microseconds=v)
                                for v in vals
                            ],
                            utc=True,
                        )
                    pdf_out[name] = vals
                yield pd.DataFrame(pdf_out)

    return files_df.mapInPandas(decode_files, schema=out_schema)
