"""Stdlib Avro OCF bridge (sources/avro_bridge.py): codec-level
round-trips, the distributed Spark read/write loop across every
in-scope type, null handling, deflate blocks, and honest rejects."""

import datetime as dt

import pytest

from pmp_analytics_spark.sources.avro_bridge import (
    avro_decode,
    avro_encode,
    avro_schema_for,
    read_avro,
    spark_schema_for,
    write_avro,
)


def _schema(fields):
    return {"type": "record", "name": "row", "fields": fields}


def test_codec_roundtrip_all_primitives():
    sch = _schema(
        [
            {"name": "b", "type": ["null", "boolean"]},
            {"name": "i", "type": ["null", "int"]},
            {"name": "l", "type": ["null", "long"]},
            {"name": "f", "type": ["null", "float"]},
            {"name": "d", "type": ["null", "double"]},
            {"name": "s", "type": ["null", "string"]},
            {"name": "y", "type": ["null", "bytes"]},
        ]
    )
    rows = [
        (True, -1, 2**62, 1.5, -2.25, "héllo", b"\x00\xff"),
        (False, 0, -(2**62), -0.5, 1e300, "", b""),
        (None, None, None, None, None, None, None),
    ]
    for codec in ("null", "deflate"):
        got_schema, got = avro_decode(avro_encode(sch, rows, codec=codec))
        assert got_schema == sch
        assert got == rows, codec


def test_codec_zigzag_boundaries():
    sch = _schema([{"name": "l", "type": "long"}])
    rows = [(v,) for v in (0, -1, 1, 63, -64, 64, 2**63 - 1, -(2**63))]
    _, got = avro_decode(avro_encode(sch, rows, codec="null"))
    assert got == rows


def test_codec_multi_block_and_sync(monkeypatch):
    from pmp_analytics_spark.sources import avro_bridge

    monkeypatch.setattr(avro_bridge, "_BLOCK_ROWS", 1024)  # ten blocks
    sch = _schema([{"name": "i", "type": "int"}])
    rows = [(i,) for i in range(10_000)]
    payload = avro_encode(sch, rows)
    _, got = avro_decode(payload)
    assert got == rows
    # a flipped byte inside a block must not decode silently
    broken = bytearray(payload)
    broken[len(broken) // 2] ^= 0x01
    with pytest.raises((ValueError, Exception)):
        avro_decode(bytes(broken))
    # garbage appended to a deflate block, inside its patched declared
    # size, must not decode silently either
    _, _, _, pos = avro_bridge._read_header(payload)
    count, at = avro_bridge._read_long(payload, pos)
    size, at = avro_bridge._read_long(payload, at)
    padded = bytearray(payload[:pos])
    avro_bridge._write_long(padded, count)
    avro_bridge._write_long(padded, size + 4)
    padded += payload[at : at + size] + b"junk" + payload[at + size :]
    with pytest.raises(ValueError, match="declared size"):
        avro_decode(bytes(padded))


def test_codec_rejects_out_of_scope():
    with pytest.raises(ValueError, match="complex type"):
        avro_encode(
            _schema([{"name": "a", "type": {"type": "array", "items": "int"}}]),
            [],
        )
    with pytest.raises(ValueError, match="union"):
        avro_encode(
            _schema([{"name": "u", "type": ["null", "int", "long"]}]), []
        )
    with pytest.raises(ValueError, match="codec"):
        avro_encode(_schema([{"name": "i", "type": "int"}]), [], codec="snappy")
    with pytest.raises(ValueError, match="not an Avro"):
        avro_decode(b"PAR1not-avro")


def test_spark_roundtrip_typed(spark, tmp_path):
    """The full distributed loop: typed frame -> partitioned part files
    (deflate) -> sniffed schema -> mapInPandas decode -> identical rows,
    including date/timestamp logical types and nulls."""
    from pmp_analytics_spark.sources.local import local_df

    rows = [
        (1, "alpha", 10.5, dt.date(1992, 3, 14), dt.datetime(2001, 7, 4, 12, 30, 45, 123456), True),
        (2, "béta", -0.25, dt.date(1970, 1, 1), dt.datetime(1970, 1, 1, 0, 0, 0, 1), False),
        (3, None, None, None, None, None),
    ]
    schema = (
        "id long, name string, score double, d date, ts timestamp, ok boolean"
    )
    df = local_df(spark, rows, schema).repartition(3)
    out = str(tmp_path / "avro_out")
    n = write_avro(df, out, codec="deflate")
    assert n == 3
    back = read_avro(spark, out)
    assert back.schema == df.schema
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(rows)


def test_spark_schema_mapping_roundtrip(spark):
    from pyspark.sql import types as T

    st = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.DateType()),
        ]
    )
    assert spark_schema_for(avro_schema_for(st)) == T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), True),
            T.StructField("c", T.DateType(), True),
        ]
    )


def test_read_avro_empty_dir_raises(spark, tmp_path):
    d = tmp_path / "empty"
    d.mkdir()
    with pytest.raises(ValueError, match="no .avro files"):
        read_avro(spark, str(d))


def test_read_avro_column_pruning(spark, tmp_path):
    """columns= materializes only the requested fields (the decoder
    still walks the row-major stream — validated by correct values
    AFTER skipped variable-length fields) and rejects unknown names."""
    from pmp_analytics_spark.sources.local import local_df

    rows = [(1, "long-string-" * 10, 2.5, 7), (2, None, None, 9)]
    df = local_df(spark, rows, "id long, s string, d double, tail long")
    out = str(tmp_path / "pruned")
    write_avro(df, out)
    back = read_avro(spark, out, columns=["id", "tail"])
    assert [f.name for f in back.schema.fields] == ["id", "tail"]
    assert sorted(tuple(r) for r in back.collect()) == [(1, 7), (2, 9)]
    with pytest.raises(ValueError, match="unknown columns"):
        read_avro(spark, out, columns=["nope"])


def test_spark_roundtrip_non_utc_session(spark, tmp_path):
    """Timestamps survive the round trip under a NON-UTC session
    timezone: the stored epoch micros are UTC, and the reader emits
    tz-aware values so the Arrow serializer cannot re-interpret them
    in spark.sql.session.timeZone (the naive-datetime trap)."""
    from pmp_analytics_spark.sources.local import local_df

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = [(1, dt.datetime(2001, 7, 4, 12, 30, 45, 123456)), (2, None)]
        df = local_df(spark, rows, "id long, ts timestamp")
        out = str(tmp_path / "tz_avro")
        write_avro(df, out)
        got = sorted(
            (r["id"], r["ts"]) for r in read_avro(spark, out).collect()
        )
        assert got == sorted(rows)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_reader_handles_reversed_union_order():
    """[T, "null"] is spec-valid; the union branch index is positional,
    so null detection must follow the schema's order, not assume 0."""
    sch = _schema([{"name": "s", "type": ["string", "null"]},
                   {"name": "i", "type": ["null", "int"]}])
    rows = [("abc", 5), (None, None), ("d", -1)]
    got_schema, got = avro_decode(avro_encode(sch, rows, codec="null"))
    assert got == rows


def test_nullable_int64_exactness_past_2_53(spark, tmp_path):
    """A nullable long column holding values past 2^53 (e.g. the
    engine's 63-bit signatures) round-trips EXACTLY: the writer crosses
    into Python as Arrow batches, never pandas (whose int64+null ->
    float64 promotion would round through the 53-bit mantissa)."""
    from pmp_analytics_spark.sources.local import local_df

    big = (1 << 62) + 1
    rows = [(1, big), (2, None), (3, -big)]
    df = local_df(spark, rows, "id long, sig long")
    out = str(tmp_path / "bigint_avro")
    assert write_avro(df, out) == 3
    got = sorted(
        (r["id"], r["sig"]) for r in read_avro(spark, out).collect()
    )
    assert got == rows  # bit-exact, including the null
