"""Streaming plans must produce the batch answers: same aggregations,
streaming vs batch over the same events parquet."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.sessionize import sessionize_native
from pmp_analytics_spark.sources.reader import load_table
from pmp_analytics_spark.streaming import (
    drain,
    read_event_stream,
    run_to_memory,
    streaming_event_type_counts,
    streaming_sessions,
)
from pmp_analytics_spark.streaming.sinks import write_batch

SF_DIR = "/root/testdata/sf0.001"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_window_counts_match_batch(spark):
    stream = read_event_stream(spark, SF_DIR)
    run_to_memory(streaming_event_type_counts(stream), "stream_counts")
    got = spark.table("stream_counts")

    events = load_table(spark, SF_DIR, "events")
    expected = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_sum")
    )
    cols = ["window_start", "event_type", "n_events", "value_sum"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert got.count() > 0


def test_streaming_sessions_match_batch(spark):
    stream = read_event_stream(spark, SF_DIR)
    run_to_memory(streaming_sessions(stream, gap_seconds=1800), "stream_sessions")
    got = spark.table("stream_sessions")

    events = load_table(spark, SF_DIR, "events")
    expected = sessionize_native(events, gap_seconds=1800)
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(got, cols) == _rows(expected, cols)
    assert got.count() > 0


def _land(stream, out, ckpt):
    drain(stream, lambda df, batch_id: write_batch(df, out, batch_id), ckpt)


def test_foreach_batch_sink_idempotent(spark, tmp_path):
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    stream = read_event_stream(spark, SF_DIR).select("event_id", "user_id", "event_type")
    _land(stream, out, ckpt)

    landed = spark.read.parquet(out)
    events = load_table(spark, SF_DIR, "events")
    assert landed.count() == events.count()
    assert landed.select("event_id").distinct().count() == events.count()

    # Re-running with the same checkpoint processes no new offsets and
    # appends nothing — the exactly-once property under replay.
    _land(stream, out, ckpt)
    assert spark.read.parquet(out).count() == events.count()


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Restart semantics under GROWTH: a stream that already drained files
    A must, on restart with the same checkpoint, process ONLY newly-arrived
    files — no reprocessing, no loss. This is the recovery contract a
    24/7 ingest job leans on after every deploy/crash."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")

    spark.range(0, 10).selectExpr("id", "'a' AS tag").write.mode("append").parquet(src)
    stream = spark.readStream.schema("id long, tag string").parquet(src)
    _land(stream, out, ckpt)
    assert spark.read.parquet(out).count() == 10

    spark.range(100, 115).selectExpr("id", "'b' AS tag").write.mode("append").parquet(src)
    _land(stream, out, ckpt)
    landed = spark.read.parquet(out)
    assert landed.count() == 25  # 10 old (once) + 15 new
    assert landed.where("tag = 'a'").count() == 10
    assert landed.where("tag = 'b'").count() == 15
    assert landed.select("id").distinct().count() == 25


def test_source_quota_multibatch_matches_single_batch(spark):
    """The per-source admission cap must admit exactly the first-N docs
    per source no matter how the doc_id-ordered stream is sliced into
    micro-batches (4 sequential file drops vs the one-file stream), and
    must equal the batch row_number oracle."""
    import os
    import tempfile

    from pyspark.sql import Window
    from pmp_analytics_spark.streaming.quota import source_quota_stream_legacy

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    n_cap = 7

    expected = _rows(
        docs.withColumn(
            "admit_rank",
            F.row_number().over(Window.partitionBy("source").orderBy("doc_id")),
        ).where(F.col("admit_rank") <= n_cap),
        ["doc_id", "source", "admit_rank"],
    )

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        # 4 sequential doc_id-range drops -> 4 in-order micro-batches
        for lo, hi in ((0, 125), (125, 250), (250, 375), (375, 10**9)):
            docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("append").parquet(src)

        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            source_quota_stream_legacy(stream, n_cap)
            .writeStream.format("memory")
            .queryName("quota_multibatch")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(q.recentProgress) >= 4  # the slicing actually happened
        got = _rows(
            spark.table("quota_multibatch"), ["doc_id", "source", "admit_rank"]
        )
    assert got == expected


def test_source_quota_new_api_matches_legacy(spark):
    """transformWithStateInPandas and applyInPandasWithState forms share
    the _admit step and must emit identical rows. The new API's worker
    protocol needs protobuf — skipped where the dependency is absent."""
    import uuid

    import pytest

    from pmp_analytics_spark.streaming.quota import (
        source_quota_stream,
        source_quota_stream_legacy,
        transform_with_state_available,
    )
    from pmp_analytics_spark.streaming import run_to_memory
    from pmp_analytics_spark.streaming.sessions import read_doc_stream

    if not transform_with_state_available():
        pytest.skip("google.protobuf not installed in this container")

    out = {}
    for tag, op in (("new", source_quota_stream), ("legacy", source_quota_stream_legacy)):
        name = f"quota_{tag}_{uuid.uuid4().hex[:8]}"
        admitted = op(read_doc_stream(spark, SF_DIR).select("doc_id", "source"), 7)
        run_to_memory(admitted, name, output_mode="append", state_partitions=8)
        out[tag] = _rows(spark.table(name), ["doc_id", "source", "admit_rank"])
    assert out["new"] == out["legacy"]


def test_source_quota_state_survives_restart(spark, tmp_path):
    """Quota state recovery: drain half the corpus, STOP, add the rest,
    restart on the same checkpoint. The recovered admitted-counts must
    continue the cap where the first run left it — each source ends at
    exactly the first-N docs of the FULL stream, no re-admission and no
    over-admission. (Cap 18 > docs-per-source in the first half, so the
    second run MUST admit more — the recovery is load-bearing.)"""
    from pyspark.sql import Window

    from pmp_analytics_spark.streaming.quota import source_quota_stream_legacy

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "source")
    n_cap = 18
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "admitted")

    expected = _rows(
        docs.withColumn(
            "admit_rank",
            F.row_number().over(Window.partitionBy("source").orderBy("doc_id")),
        ).where(F.col("admit_rank") <= n_cap),
        ["doc_id", "source", "admit_rank"],
    )

    def drain():
        sdf = spark.readStream.schema(docs.schema).parquet(src)
        q = (
            source_quota_stream_legacy(sdf, n_cap)
            .writeStream.foreachBatch(
                lambda bdf, bid: bdf.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    docs.where("doc_id < 250").coalesce(1).write.mode("append").parquet(src)
    drain()
    n_first = spark.read.parquet(out).count()
    assert 0 < n_first < len(expected)  # cap not yet reached anywhere

    docs.where("doc_id >= 250").coalesce(1).write.mode("append").parquet(src)
    drain()
    got = _rows(spark.read.parquet(out), ["doc_id", "source", "admit_rank"])
    assert got == expected


def test_streaming_per_batch_quality_metrics(spark, tmp_path):
    """Composition: check_report runs per micro-batch inside foreachBatch
    and record_metrics appends each batch's metrics to the history log —
    continuous data-quality monitoring from existing parts."""
    from pmp_analytics_spark.operators.quality import (
        check_report,
        completeness,
        in_range,
        record_metrics,
    )

    events = load_table(spark, SF_DIR, "events").select("event_id", "value")
    src = str(tmp_path / "src")
    events.where("event_id % 2 = 0").coalesce(1).write.parquet(src)
    events.where("event_id % 2 = 1").coalesce(1).write.mode("append").parquet(src)

    hist = str(tmp_path / "metrics")
    checks = [completeness("event_id"), in_range("value", -1e6, 1e6)]

    def audit(bdf, bid):
        record_metrics(check_report(bdf, checks), f"batch-{bid}", hist)

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(audit)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    history = spark.read.parquet(hist)
    runs = {r["run_id"] for r in history.select("run_id").distinct().collect()}
    assert len(runs) >= 2  # one metrics row-set per micro-batch
    per_run = history.groupBy("run_id").count().collect()
    assert all(r["count"] == len(checks) for r in per_run)
    assert history.where("check_name = 'completeness(event_id)' AND NOT passed").count() == 0


def test_streaming_merge_upsert_multibatch_equals_batch(spark, tmp_path):
    """The per-batch MERGE must converge to the same state table no
    matter how the stream splits into micro-batches (the merge is an
    associative argmax): four time-ordered drops consumed one per
    trigger vs the plain batch argmax over all events. Also pins that
    pruning left at most the kept version dirs plus the pointer."""
    import os
    import time

    from pyspark.sql import functions as F

    from pmp_analytics_spark.sources.reader import load_table
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest

    SF = "/root/testdata/sf0.001"
    batch = load_table(spark, SF, "events").where(F.col("user_id").isNotNull())
    expected = sorted(
        (r["user_id"], r["ts"], r["event_id"])
        for r in batch.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "value")).alias("s"))
        .select("user_id", F.col("s.ts").alias("ts"), F.col("s.event_id").alias("event_id"))
        .collect()
    )

    src = tmp_path / "drops"
    src.mkdir()
    rows = batch.orderBy("ts", "event_id").collect()
    quarter = (len(rows) + 3) // 4
    for i in range(4):
        chunk = rows[i * quarter : (i + 1) * quarter]
        spark.createDataFrame(chunk, batch.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"drop_{i}"))
        time.sleep(1.1)

    root = str(tmp_path / "state")

    def merge(batch_df, batch_id):
        upd = (
            batch_df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("s"))
            .select(
                "user_id",
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
                F.col("s.value").alias("value"),
            )
        )
        try:
            cur = read_latest(spark, root)
        except Exception:
            publish_versioned(upd, root)
            return
        j = cur.alias("c").join(upd.alias("u"), "user_id", "full_outer")
        cs = F.struct(F.col("c.ts"), F.col("c.event_id"), F.col("c.value"))
        us = F.struct(F.col("u.ts"), F.col("u.event_id"), F.col("u.value"))
        pick_u = F.col("c.ts").isNull() | (F.col("u.ts").isNotNull() & (us > cs))
        winner = F.when(pick_u, us).otherwise(cs)
        publish_versioned(
            j.select(
                "user_id",
                winner.getField("ts").alias("ts"),
                winner.getField("event_id").alias("event_id"),
                winner.getField("value").alias("value"),
            ),
            root,
        )

    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
        .where(F.col("user_id").isNotNull())
    )
    q = (
        sdf.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, "stream must span multiple micro-batches"

    got = sorted(
        (r["user_id"], r["ts"], r["event_id"])
        for r in read_latest(spark, root).collect()
    )
    assert got == expected and len(got) > 0
    vdirs = [d for d in os.listdir(root) if d.startswith("v")]
    assert len(vdirs) <= 3  # writers._KEEP_LAST


def test_streaming_quarantine_multibatch_equals_batch(spark, tmp_path):
    """quarantine_ingest_stream under forced multi-batch slicing must
    equal the batch quarantine split exactly — every admitted row in
    clean/, every refused row in dead/ with the same reasons — and both
    sinks must be per-batch-id partitioned (the idempotent-replay
    contract)."""
    import os

    from pmp_analytics_spark.operators.quality import RowRule, quarantine
    from pmp_analytics_spark.sources.reader import load_table
    from pmp_analytics_spark.streaming.ingest import quarantine_ingest_stream

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "n_chars", "lang"
    )
    src = str(tmp_path / "src")
    # three file drops -> three micro-batches under maxFilesPerTrigger=1
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    rules = [
        RowRule("too_short", F.col("n_chars") >= 60),
        RowRule("unsupported_lang", F.col("lang").isin("en", "es", "de", "fr")),
    ]
    clean_p, dead_p = str(tmp_path / "clean"), str(tmp_path / "dead")
    schema = spark.read.parquet(src).schema
    quarantine_ingest_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        rules,
        clean_p,
        dead_p,
        str(tmp_path / "ckpt"),
    )

    bclean, bbad = quarantine(docs, rules)
    got_clean = sorted(r["doc_id"] for r in spark.read.parquet(clean_p).collect())
    want_clean = sorted(r["doc_id"] for r in bclean.collect())
    assert got_clean == want_clean and len(got_clean) > 0
    got_bad = {
        r["doc_id"]: list(r["reasons"])
        for r in spark.read.parquet(dead_p).collect()
    }
    want_bad = {r["doc_id"]: list(r["reasons"]) for r in bbad.collect()}
    assert got_bad == want_bad and len(got_bad) > 0
    # both sinks carry per-batch-id partitions spanning >1 micro-batch
    for p in (clean_p, dead_p):
        parts = {d for d in os.listdir(p) if d.startswith("__batch_id=")}
        assert len(parts) >= 1, p
    clean_parts = {d for d in os.listdir(clean_p) if d.startswith("__batch_id=")}
    assert len(clean_parts) >= 2, "stream must span multiple micro-batches"


def test_streaming_classifier_scores_multibatch_equals_batch(spark, tmp_path):
    """Scoring a document stream with margin_expression under FORCED
    multi-batch slicing (three file drops, maxFilesPerTrigger=1) must
    equal the batch projection over the union exactly: the scorer is
    stateless and row-local, so micro-batch boundaries cannot move any
    margin. This pins the claim streaming_classifier_scores rests on."""
    import uuid

    from pmp_analytics_spark.operators.classifier import margin_expression
    from pmp_analytics_spark.sources.reader import load_table
    from pmp_analytics_spark.streaming import run_to_memory

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    DIM = 16
    w = [((-1) ** i) * 0.2 for i in range(DIM + 1)]
    m = margin_expression(w, "text", DIM)
    schema = spark.read.parquet(src).schema
    scored = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", F.round(m, 6).alias("margin"))
    )
    name = f"clf_mb_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(scored, name, output_mode="append")
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3, "stream must span multiple micro-batches"

    got = {r["doc_id"]: r["margin"] for r in spark.table(name).collect()}
    want = {
        r["doc_id"]: r["margin"]
        for r in docs.select("doc_id", F.round(m, 6).alias("margin")).collect()
    }
    assert got == want and len(got) > 0


def _mv_refresh_stream(stream, root, ckpt):
    """The streaming SUM/COUNT view refresh over (g; total = SUM(v), n_rows)."""
    from pmp_analytics_spark.operators.diff import incremental_mv_refresh
    from pmp_analytics_spark.streaming.mv import cdc_apply_stream

    return cdc_apply_stream(
        stream,
        root,
        lambda cur, batch: incremental_mv_refresh(
            cur, batch, ["g"], {"total": "v"}, "n_rows"
        ),
        checkpoint_dir=ckpt,
    )


def test_cdc_mv_refresh_exact_once_under_replay(spark, tmp_path):
    """cdc_apply_stream over incremental_mv_refresh must (a) converge to the full recompute over
    any micro-batch slicing of the CDC feed, and (b) be EXACT-once under
    replay: additive refresh is not idempotent, so a second full drain of
    the same feed (fresh checkpoint — every batch replays with ids the
    state has already committed) must publish nothing and change
    nothing."""
    import os

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest

    def frame(rows):
        df = spark.createDataFrame(rows, ["k", "g", "v"])
        return df.select("k", "g", F.col("v").cast("decimal(10,2)").alias("v"))

    old = frame([(1, "a", "10.00"), (2, "a", "20.00"), (3, "b", "5.00")])
    new = frame([(1, "a", "10.00"), (2, "c", "25.00"), (4, "b", "7.00")])

    def mv(df):
        return df.groupBy("g").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )

    feed = str(tmp_path / "cdc")
    delta = snapshot_delta(old, new, ["k"])
    for i in range(2):  # two drops -> two micro-batches
        delta.where(F.col("k") % 2 == i).coalesce(1).write.mode("append").parquet(feed)

    root = str(tmp_path / "state")
    publish_versioned(mv(old), root)
    schema = spark.read.parquet(feed).schema

    def drain(ckpt):
        return _mv_refresh_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            root,
            str(tmp_path / ckpt),
        )

    q = drain("ckpt1")
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2
    want = sorted(map(tuple, mv(new).collect()))
    assert sorted(map(tuple, read_latest(spark, root).collect())) == want

    versions_before = sorted(
        d for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    drain("ckpt2")  # full replay: every batch id already committed
    versions_after = sorted(
        d for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    assert versions_after == versions_before  # nothing republished
    assert sorted(map(tuple, read_latest(spark, root).collect())) == want


def test_cdc_mv_refresh_resume_same_checkpoint(spark, tmp_path):
    """The continue-the-feed path: after a drain, MORE CDC files arrive
    and the stream resumes from the SAME checkpoint — only the new
    batches apply (with ids extending the committed marker), exactly
    once, converging to the recompute over the full feed."""
    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        publish_versioned,
        read_latest,
    )
    from pmp_analytics_spark.streaming.mv import parse_batch_marker

    def frame(rows):
        df = spark.createDataFrame(rows, ["k", "g", "v"])
        return df.select("k", "g", F.col("v").cast("decimal(10,2)").alias("v"))

    s0 = frame([(1, "a", "10.00"), (2, "b", "20.00")])
    s1 = frame([(1, "a", "15.00"), (2, "b", "20.00"), (3, "a", "1.00")])
    s2 = frame([(1, "c", "15.00"), (3, "a", "2.00")])

    def mv(df):
        return df.groupBy("g").agg(
            F.sum("v").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )

    feed, root, ckpt = (
        str(tmp_path / "cdc"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    snapshot_delta(s0, s1, ["k"]).coalesce(1).write.mode("append").parquet(feed)
    publish_versioned(mv(s0), root)
    schema = spark.read.parquet(feed).schema

    def drain():
        return _mv_refresh_stream(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            root,
            ckpt,
        )

    drain()
    assert sorted(map(tuple, read_latest(spark, root).collect())) == sorted(
        map(tuple, mv(s1).collect())
    )
    m1 = parse_batch_marker(latest_marker(spark, root))
    assert m1 is not None  # namespaced batch:<id> commit marker

    # the feed continues: the s1 -> s2 transition lands as a new file
    snapshot_delta(s1, s2, ["k"]).coalesce(1).write.mode("append").parquet(feed)
    drain()  # SAME checkpoint: only the new batch applies
    assert sorted(map(tuple, read_latest(spark, root).collect())) == sorted(
        map(tuple, mv(s2).collect())
    )
    assert parse_batch_marker(latest_marker(spark, root)) > m1  # ids extended

def test_dedup_within_watermark_late_and_duplicate_semantics(spark, tmp_path):
    """dropDuplicatesWithinWatermark's contract across micro-batches:
    (a) a duplicate re-delivered within the horizon in a LATER batch is
    dropped; (b) once the watermark passes a row's event time, ANY
    arrival with that timestamp — duplicate or first-time — is dropped
    as late input (numRowsDroppedByWatermark), so duplicates can never
    leak past the horizon and the price of a short horizon is
    late-data LOSS; (c) in-horizon fresh rows pass. The late arrivals
    are staged two batches after the watermark-advancing event because
    the active watermark lags the data that raised it by one batch."""
    import datetime
    import uuid

    from pmp_analytics_spark.streaming import run_to_memory

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def frame(rows):
        return spark.createDataFrame(rows, ["event_id", "ts"])

    feed = str(tmp_path / "feed")
    # b0: events 1, 2. b1: in-horizon duplicate of 1 (dropped by state)
    # + event 3 at t0+48h, which RAISES the watermark to t0+47h.
    # b2: event 5 in horizon (passes). b3: duplicate of 2 AND first-time
    # event 4, both at t0 — far older than the now-active watermark:
    # both dropped as late input.
    frame([(1, t0), (2, t0)]).coalesce(1).write.mode("append").parquet(feed)
    frame(
        [(1, t0), (3, t0 + datetime.timedelta(hours=48))]
    ).coalesce(1).write.mode("append").parquet(feed)
    frame(
        [(5, t0 + datetime.timedelta(hours=47, minutes=30))]
    ).coalesce(1).write.mode("append").parquet(feed)
    frame([(2, t0), (4, t0)]).coalesce(1).write.mode("append").parquet(feed)

    schema = spark.read.parquet(feed).schema
    deduped = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(deduped, name, output_mode="append")
    data = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data) >= 4
    late_dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert late_dropped == 2  # the b3 duplicate AND the b3 first-time row
    got = sorted(r["event_id"] for r in spark.table(name).collect())
    assert got == [1, 2, 3, 5], got


def test_cdc_components_stream_slicing_independent(spark, tmp_path):
    """Streaming label maintenance must be micro-batch-slicing
    INDEPENDENT: the same edge delta drained as one batch or three
    lands on identical (labels, edges) state, equal to the full
    rebuild over the final edge set — merges, a split, and brand-new
    nodes included."""
    import os

    from pmp_analytics_spark.operators.dedup import connected_components
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming.components import cdc_components_stream

    old_edges = [(i, i + 1) for i in range(10)] + [
        (100, 101), (101, 102), (100, 102),
    ]
    deltas = [
        [("add", 10, 100)],
        [("del", 4, 5), ("add", 200, 201)],
        [("add", 300, 301), ("add", 301, 302)],
    ]
    final_edges = (
        {(u, v) for u, v in old_edges} - {(4, 5)}
    ) | {(10, 100), (200, 201), (300, 301), (301, 302)}
    expect = {
        tuple(r)
        for r in connected_components(
            spark.createDataFrame(sorted(final_edges), "id_a bigint, id_b bigint")
        ).collect()
    }

    for slicing, name in ((deltas, "three"), ([sum(deltas, [])], "one")):
        work = str(tmp_path / name)
        edges_root = os.path.join(work, "edges")
        labels_root = os.path.join(work, "labels")
        feed = os.path.join(work, "cdc")
        old_df = spark.createDataFrame(old_edges, "id_a bigint, id_b bigint")
        publish_versioned(old_df.coalesce(1), edges_root)
        publish_versioned(
            connected_components(old_df).coalesce(1), labels_root
        )
        for i, rows in enumerate(slicing):
            spark.createDataFrame(
                rows, "op string, id_a bigint, id_b bigint"
            ).coalesce(1).write.parquet(os.path.join(feed, f"drop_{i}"))
        cdc_components_stream(
            spark.readStream.schema("op string, id_a bigint, id_b bigint")
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(feed),
            edges_root,
            labels_root,
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        got = {tuple(r) for r in read_latest(spark, labels_root).collect()}
        assert got == expect, name
        got_edges = {
            (r["id_a"], r["id_b"])
            for r in read_latest(spark, edges_root).collect()
        }
        assert got_edges == final_edges, name


def test_read_consistent_pair_after_torn_publish(spark, tmp_path):
    """The dual-root crash-consistency reader: when a maintenance loop
    crashed between its two publishes (labels ahead of edges by one
    batch), read_consistent returns BOTH roots at the highest COMMON
    batch cut instead of the torn read_latest pair; seeds count as the
    pre-batch cut; pruning past the last common cut raises."""
    import pytest as _pytest

    from pmp_analytics_spark.sources.writers import (
        publish_versioned,
        read_consistent,
        read_latest,
    )

    a_root, b_root = str(tmp_path / "labels"), str(tmp_path / "edges")

    def frame(v):
        return spark.createDataFrame([(v,)], "v long")

    # seeds (markerless), then batch 0 and 1 on both, batch 2 on A only
    publish_versioned(frame(100), a_root)
    publish_versioned(frame(200), b_root)
    got = read_consistent(spark, [a_root, b_root])
    assert [r["v"] for r in got[a_root].collect()] == [100]  # seed cut

    for bid in (0, 1):
        publish_versioned(frame(110 + bid), a_root, marker=f"batch:{bid}")
        publish_versioned(frame(210 + bid), b_root, marker=f"batch:{bid}")
    publish_versioned(frame(112), a_root, marker="batch:2")  # torn

    assert [r["v"] for r in read_latest(spark, a_root).collect()] == [112]
    got = read_consistent(spark, [a_root, b_root])
    assert [r["v"] for r in got[a_root].collect()] == [111]
    assert [r["v"] for r in got[b_root].collect()] == [211]

    # prune B's history down to a single version with no common batch id
    c_root = str(tmp_path / "lonely")
    publish_versioned(frame(1), c_root, marker="batch:9")
    with _pytest.raises(ValueError, match="no common batch cut"):
        read_consistent(spark, [a_root, c_root])

    # a LIVE version carrying a semantic (non-batch) marker means the
    # newest batch cut is stale data — raise, don't silently hand back
    # the older cut (ADVICE r10)
    publish_versioned(frame(999), b_root, marker="zorder:v,v")
    with _pytest.raises(ValueError, match="semantic marker"):
        read_consistent(spark, [a_root, b_root])


def test_stream_harness_is_the_only_stream_lifecycle():
    """One stream harness (``streaming/__init__.py``): ``writeStream`` is
    started only by ``drain`` and ``run_to_memory``, every
    ``stream_workdir`` is entered by a ``with`` (which removes the dir),
    and no query module removes a work dir itself."""
    import ast
    import pathlib

    import pmp_analytics_spark

    package = pathlib.Path(pmp_analytics_spark.__file__).parent
    writers, bare_workdirs, rmtrees = set(), [], []
    for path in sorted(package.rglob("*.py")):
        rel = str(path.relative_to(package))
        tree = ast.parse(path.read_text())
        with_items = {
            id(item.context_expr)
            for node in ast.walk(tree)
            if isinstance(node, ast.With)
            for item in node.items
        }
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                    writers.add((rel, fn.name))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", getattr(node.func, "attr", None))
            if name == "stream_workdir" and id(node) not in with_items:
                bare_workdirs.append(f"{rel}:{node.lineno}")
            if name == "rmtree" and rel.startswith("queries/"):
                rmtrees.append(f"{rel}:{node.lineno}")
    assert writers == {
        ("streaming/__init__.py", "drain"),
        ("streaming/__init__.py", "run_to_memory"),
    }
    assert bare_workdirs == []
    assert rmtrees == []


def _fail_in_batches(monkeypatch):
    """Make every versioned publish made from a foreachBatch callback (a
    Py4J callback thread, not the main thread) raise."""
    import threading

    from pmp_analytics_spark.sources import writers

    real = writers.publish_versioned

    def publish(df, root, marker=None):
        if threading.current_thread() is not threading.main_thread():
            raise RuntimeError("injected batch failure")
        return real(df, root, marker)

    monkeypatch.setattr(writers, "publish_versioned", publish)


@pytest.mark.parametrize(
    "name, workdir",
    [
        ("streaming_merge_upsert", "pmp_merge_upsert"),
        ("streaming_mv_refresh", "pmp_mv_refresh"),
    ],
)
def test_failed_stream_query_leaves_no_workdir(spark, tmp_path, monkeypatch, name, workdir):
    """A stream query whose micro-batch raises surfaces the error and
    still removes its ``stream_workdir`` dir (not left for the one-hour
    stale purge)."""
    import os
    import tempfile

    from pmp_analytics_spark.queries import all_queries

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    _fail_in_batches(monkeypatch)
    with pytest.raises(Exception, match="injected batch failure"):
        all_queries()[name](spark, SF_DIR)
    assert os.listdir(tmp_path / workdir) == []


def test_failed_image_phash_ingest_unpersists_its_history(spark, monkeypatch):
    """``streaming_image_phash_ingest`` caches its history signatures and
    band rows for the drain and checkpoints each batch's signatures; a
    micro-batch that raises must leave none of them persisted for the rest
    of the session."""
    from pmp_analytics_spark.queries import all_queries
    from pmp_analytics_spark.streaming import sinks

    def write_batch(df, path, batch_id):
        df.count()  # the batch's plan runs, so every cache it reads is built
        raise RuntimeError("injected batch failure")

    monkeypatch.setattr(sinks, "write_batch", write_batch)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(Exception, match="injected batch failure"):
        all_queries()["streaming_image_phash_ingest"](spark, SF_DIR)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()


def test_streaming_merge_upsert_raises_a_later_batch_read_error(spark, tmp_path, monkeypatch):
    """Only a missing ``_LATEST`` means "first batch". A read error in a
    later batch must fail the query, not be taken for an empty state
    (which would publish that batch's rows alone as the whole table)."""
    import os

    import pmp_analytics_spark.streaming as streaming
    from pmp_analytics_spark.queries import all_queries
    from pmp_analytics_spark.sources import writers
    from pmp_analytics_spark.sources.reader import normalize_event_ts

    raw = spark.read.parquet(f"{SF_DIR}/events.parquet")
    drops = str(tmp_path / "drops")
    for i in range(2):  # two files -> two micro-batches
        raw.where(F.col("event_id") % 2 == i).coalesce(1).write.mode("append").parquet(drops)
    monkeypatch.setattr(
        streaming,
        "read_event_stream",
        lambda spark, sf_dir: normalize_event_ts(
            spark.readStream.schema(raw.schema).option("maxFilesPerTrigger", 1).parquet(drops)
        ),
    )
    real, armed = writers.read_latest, [True]

    def read_latest(spark, root):
        if armed[0] and os.path.exists(os.path.join(root, "_LATEST")):
            armed[0] = False
            raise OSError("injected read error")
        return real(spark, root)

    monkeypatch.setattr(writers, "read_latest", read_latest)
    with pytest.raises(Exception, match="injected read error"):
        all_queries()["streaming_merge_upsert"](spark, SF_DIR)
    assert not armed[0]  # the error came from the second batch's read
