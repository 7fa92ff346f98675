"""Streaming near-dup ingest — the continuous form of
``operators.dedup.incremental_neardup``: documents arrive as a stream,
and each micro-batch probes the STATIC historical corpus's LSH
band-bucket store before its docs would enter the corpus.

Why foreachBatch and not a pure stream-static join: the per-batch
pipeline is multi-stage (per-doc MinHash aggregation → band-key
explode → bucket join → candidate-sized Jaccard verify with its own
aggregations) — several stateful stages that Structured Streaming's
incremental planner would reject or force into one giant stateful
query. ``foreachBatch`` is the standard pattern for exactly this: the
micro-batch is a plain DataFrame, the full batch operator runs on it
unchanged (one code path, one set of tests for both modes), and the
sink keeps exactly-once semantics via per-batch-id idempotent
overwrite (``sinks.write_batch``).

Scale: state never accumulates in the stream (the probe is stateless
per batch — history is a static table, at 100 TB a bucket-store table
partitioned on (band_id, band_key)); batch band keys broadcast, so a
micro-batch costs one map-side probe plus candidate-sized verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pmp_analytics_spark.streaming.sinks import write_batch


def neardup_ingest_stream(
    history_ex: DataFrame,
    history_keys: DataFrame,
    batch_stream: DataFrame,
    text_col: str,
    id_col: str,
    out_path: str,
    checkpoint: str,
    shingle_k: int = 5,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
) -> None:
    """Drain ``batch_stream`` (availableNow) through the batch
    ``neardup_probe`` operator per micro-batch; (id_a = new doc,
    id_b = historical match, jaccard) pairs land in
    ``out_path/__batch_id=N/`` via ``sinks.write_batch``, so a
    replayed batch replaces exactly its own output (exactly-once
    end-to-end on at-least-once delivery).

    The bucket store arrives PRECOMPUTED (``history_ex`` exploded hash
    stream + ``history_keys`` band rows — per-corpus state maintained at
    corpus-ingest time, a persisted table pair at scale) and every batch
    probes it, so its caching is the caller's: the declared query passes
    the memoized session store (``queries/llm.py::_neardup_ingest_store``),
    which outlives this drain."""
    from pmp_analytics_spark.operators.dedup import (
        exploded_shingle_hashes,
        neardup_probe,
    )
    from pmp_analytics_spark.streaming import drain

    def probe_batch(batch_df: DataFrame, batch_id: int) -> None:
        # The micro-batch's exploded stream has two consumers (band keys
        # + verify sets), and a foreachBatch DataFrame re-executes its
        # SOURCE read per action — cache for the batch's lifetime so the
        # connector is read once per micro-batch, not once per consumer.
        ex_b = exploded_shingle_hashes(batch_df, text_col, id_col, shingle_k).cache()
        try:
            pairs = neardup_probe(
                history_ex,
                history_keys,
                ex_b,
                id_col,
                threshold=threshold,
                num_hashes=num_hashes,
                bands=bands,
            )
            write_batch(pairs, out_path, batch_id)
        finally:
            ex_b.unpersist()

    drain(batch_stream, probe_batch, checkpoint)


def quarantine_ingest_stream(
    batch_stream: DataFrame,
    rules,
    clean_path: str,
    dead_path: str,
    checkpoint: str,
    reason_col: str = "reasons",
) -> None:
    """Dead-letter routing AT the ingest door — the production shape:
    every micro-batch is split by ``operators.quality.quarantine``
    BEFORE landing, clean rows to ``clean_path``, failing rows (with
    their ``reasons`` array) to ``dead_path``. Validating after landing
    means a bad batch is already in the corpus and every downstream
    consumer races the cleanup; validating per micro-batch means the
    corpus only ever contains admitted rows.

    Same exactly-once contract as ``neardup_ingest_stream``: both sinks
    land through ``sinks.write_batch``, so a replayed batch replaces
    exactly its own output on both sides. The split itself is one
    map-side projection per batch (no shuffle, no state) — deterministic
    under ANY micro-batch slicing, which is why the full batch-replay SQL
    oracle applies to the streamed result."""
    from pmp_analytics_spark.operators.quality import quarantine
    from pmp_analytics_spark.streaming import drain

    def route(batch_df: DataFrame, batch_id: int) -> None:
        # One tagging projection, two filtered writes. The micro-batch
        # frame is cached for the batch's lifetime: without it each
        # sink's write re-reads the micro-batch source (the same
        # two-consumer rule as probe_batch above).
        tagged = batch_df.cache()
        try:
            clean, bad = quarantine(tagged, rules, reason_col=reason_col)
            write_batch(clean, clean_path, batch_id)
            write_batch(bad, dead_path, batch_id)
        finally:
            tagged.unpersist()

    drain(batch_stream, route, checkpoint)
