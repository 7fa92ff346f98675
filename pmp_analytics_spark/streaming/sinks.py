"""foreachBatch sinks — the escape hatch for sinks Structured Streaming
has no native writer for (JDBC upserts, MERGE targets, multi-table
fan-out), and the standard place to make a non-transactional sink
EFFECTIVELY exactly-once.

The delivery contract: Structured Streaming guarantees at-least-once
per micro-batch with a MONOTONIC, replay-stable batch_id. A sink that
makes "write batch N" idempotent (replaying batch N overwrites exactly
batch N's output, nothing else) therefore yields exactly-once results
end-to-end even though individual batches may run twice after a crash.
Here that is dynamic partition overwrite on a __batch_id partition
column — each replayed batch replaces only its own directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Land micro-batch ``batch_id``'s rows in ``path/__batch_id=N/`` via
    DYNAMIC partition overwrite, so a batch retry (same batch_id after a
    failure) replaces its own partition instead of appending duplicates.

    Scale: this is the standard incremental-ETL landing pattern; the
    partition column also gives consumers batch-aligned partition
    pruning for incremental downstream reads.
    """
    (
        df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )
