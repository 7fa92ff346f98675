"""Source readers.

Two read policies:

1. Parquet star-schema tables (the engine's primary source; the reference's
   Drive/Tableau/SFTP connectors are out-of-scope storage integrations whose
   semantics — filtered source read — reduce to ``spark.read.parquet(...)
   .where(...)`` with Catalyst pushdown; see SURVEY.md §2.1 S6/S7).

2. All-string CSV reads reproducing the reference's ``infer_schema=False``
   discipline (reference: delinquent_data_submitters.py:37,50,82 et al.):
   every column loads as StringType, casts happen late and explicitly.
   Empty string and null are DISTINCT values (reference relies on this —
   SURVEY.md §2.3 F10); Spark's CSV reader folds ``""`` to null unless
   ``emptyValue`` is pinned, so we pin it.
"""

from __future__ import annotations

import csv
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from pmp_analytics_spark import memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events table's ``ts`` to a session-TZ (UTC) µs
    TimestampType, whatever physical type the testdata generation wrote.

    The ``ts`` physical type has varied across generations —
    TIMESTAMP(NANOS) (rejected by Spark's µs TimestampType, readable as
    long under ``spark.sql.legacy.parquet.nanosAsLong``, which
    ``session.get_spark`` sets) and
    TIMESTAMP(MICROS) without UTC adjustment (surfaced as TIMESTAMP_NTZ).
    Both land on one TimestampType so every downstream
    ``unix_micros``/window op sees one type, matching the DuckDB oracle's
    EPOCH_US over naive timestamps. Exact integer math either way.

    Shared by the batch (``load_table``) and streaming
    (``streaming.sessions.read_event_stream``) paths so the two cannot
    drift on the next testdata generation change.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        # The NTZ→timestamp cast is epoch-preserving ONLY when the session
        # timezone is UTC (naive value → same epoch µs DuckDB computes for
        # it). Guard it so a session built outside session.get_spark (or
        # with an overriding extra_conf) fails loudly instead of silently
        # shifting every event timestamp.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"events.ts is TIMESTAMP_NTZ; normalizing it requires "
                f"spark.sql.session.timeZone=UTC (got {tz!r})"
            )
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema parquet table.

    Plain ``spark.read.parquet`` so Catalyst owns predicate pushdown, column
    pruning, and partition pruning — nothing to hand-schedule. The schema
    comes from the session memo (``memo.parquet_schema``), so only the
    first read of a table's current files runs the footer-inference job.
    The events table's ``ts`` is normalized via ``normalize_event_ts``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(memo.parquet_schema(spark, path)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def all_string_schema(columns: list[str]) -> StructType:
    """Explicit all-StringType schema — the Spark expression of the
    reference's ``infer_schema=False`` (avoids the inference pass entirely;
    on 100 TB of CSV an inference pass is a full extra scan)."""
    return StructType([StructField(c, StringType(), nullable=True) for c in columns])


def read_csv_strings(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    sep: str = ",",
) -> DataFrame:
    """CSV read with reference semantics: all columns String, header row.

    Empty-vs-null contract (SURVEY.md §2.3 F10): a QUOTED empty field
    (``""``) loads as ``''``, an unquoted empty field and the ``\\N``
    sentinel load as null. Spark's CSV reader cannot represent unquoted
    empty as ``''`` — writers that need the distinction must quote.

    If ``columns`` is None, the header is read driver-side from the first
    file (one tiny read — never a full inference scan).
    """
    if columns is None:
        columns = _peek_header(path, sep)
    return (
        spark.read.schema(all_string_schema(columns))
        .option("header", True)
        .option("sep", sep)
        # Distinguish empty string from null: unquoted empty field -> '',
        # and only an explicit literal used by writers maps to null.
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        .csv(path)
    )


def read_csv_with_rejects(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    sep: str = ",",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """All-string CSV read that CAPTURES malformed rows instead of
    dropping or crashing on them — the ingestion-hygiene contract a
    pipeline fed by third-party uploads needs (the reference's sources
    are hand-exported agency CSVs; on a 100 TB ingest you quarantine bad
    rows, you don't fail the job or silently lose data).

    PERMISSIVE mode with an explicit ``corrupt_col``: well-formed rows
    parse normally with the ``read_csv_strings`` empty-vs-null contract;
    a row whose field count diverges from the declared schema lands with
    its RAW text in ``corrupt_col`` and nulls elsewhere. Callers split
    the frame once:

        ok  = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col)
        bad = df.where(F.col(corrupt_col).isNotNull())  # -> quarantine sink

    Note Spark's contract: the corrupt column must be ADDED to the
    schema (same as the reader's own columnNameOfCorruptRecord option)
    and a query that selects ONLY the corrupt column must materialize
    via an action on the full frame (Spark requires a cache or full
    projection; the split above satisfies it naturally).
    """
    if columns is None:
        columns = _peek_header(path, sep)
    schema = all_string_schema(columns).add(corrupt_col, StringType(), True)
    return (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", sep)
        .option("emptyValue", "")
        .option("nullValue", "\\N")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )


def _peek_header(path: str, sep: str) -> list[str]:
    target = path
    if os.path.isdir(path):
        parts = sorted(p for p in os.listdir(path) if p.endswith(".csv"))
        if not parts:
            raise FileNotFoundError(f"no csv files under {path}")
        target = os.path.join(path, parts[0])
    with open(target, newline="") as fh:
        return next(csv.reader(fh, delimiter=sep))
