"""Structured Streaming over the events table (extension surface).

The reference has NO streaming operators (SURVEY.md §2.10 — its cadence is
cron-batch); this module is the engine's incremental path: the same
windowed/sessionized aggregations as the batch operators, expressed as a
streaming plan so they run identically over a file stream (micro-batch
backfill via ``availableNow``) or a live source (Kafka/socket at
deployment — swapping the source does not change the plan).

Correctness strategy: streaming results are asserted equal to the batch
equivalents (``operators.sessionize`` / tumbling ``F.window``) in
tests/test_streaming.py — the strongest check available, since a DuckDB
oracle cannot run a streaming plan.

Scale notes: the event-time windowed aggregations carry watermarks so
state is bounded at a real deployment's scale (late rows beyond the
watermark are dropped instead of growing state forever); session windows
use ``session_window`` — Spark merges overlapping session state per key,
one shuffle on (user, window).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmp_analytics_spark import memo


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one file = one
    micro-batch under ``availableNow``; a directory of hourly drops would
    stream file-by-file — the deployment shape for incremental backfill).

    A streaming source needs a declared schema. It comes from the session
    memo's ``parquet_schema``, the one ``load_table`` uses: a footer
    inference (one Spark job) the first time the session sees the file,
    a lookup after that. ``ts`` is normalized via the same
    ``sources.reader.normalize_event_ts`` the batch path uses — streaming
    and batch plans then see identical event-time types by construction.
    """
    from pmp_analytics_spark.sources.reader import normalize_event_ts

    raw = (
        spark.readStream.schema(memo.parquet_schema(spark, os.path.join(sf_dir, "events.parquet")))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def read_doc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (same shape as
    ``read_event_stream``: schema from the session memo, one file per
    micro-batch under ``availableNow``). Parquet row order preserves the
    writer's doc_id order, so per-source doc_id order is nondecreasing
    across the stream — the property ``streaming/quota.py`` requires."""
    return (
        spark.readStream.schema(memo.parquet_schema(spark, os.path.join(sf_dir, "documents.parquet")))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def streaming_event_type_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window per-type counts with a watermark bounding state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def streaming_sessions(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-user session windows — the streaming form of
    ``operators.sessionize.sessionize_native`` (same results by
    construction; asserted in tests)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window(F.col("ts"), f"{gap_seconds} seconds").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("w")
    )

