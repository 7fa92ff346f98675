"""End-to-end nightly-ops cycle: the session's operational verticals
composing into the maintenance loop a production table actually runs —

    append-ingest → small-file compaction (maintenance window first:
    open plans must not outlive it) → quality gate → quarantine routing
    → versioned publish → downstream mirror → anomaly gate next night

Each piece is unit-tested on its own; this pins that they compose (the
outputs of one are legal inputs of the next, and the data survives the
full loop bit-for-bit)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pmp_analytics_spark.operators.maintenance import (
    compact_parquet,
    list_parquet_files,
)
from pmp_analytics_spark.operators.quality import (
    RowRule,
    check_report,
    completeness,
    in_range,
    metric_anomalies,
    min_size,
    quarantine,
    record_metrics,
    suggest_checks,
)
from pmp_analytics_spark.sources.mirror import mirror_directory
from pmp_analytics_spark.sources.writers import (
    append_log,
    publish_versioned,
    read_latest,
)


def test_nightly_ops_cycle(spark, tmp_path):
    log = str(tmp_path / "ingest_log")
    metrics = str(tmp_path / "metrics")
    published = str(tmp_path / "published")
    mirror = str(tmp_path / "mirror")

    # 1) Ingest: 12 micro-appends -> a small-file-fragmented log.
    for i in range(12):
        batch = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            F.when(F.col("id") % 50 == 0, None)
            .otherwise(F.concat(F.lit("u"), F.col("id")))
            .alias("tag"),
        )
        append_log(batch.coalesce(1), log)
    assert len(list_parquet_files(spark, log)) == 12

    # 2) Compaction runs FIRST, inside the maintenance window: frames
    # planned over the log before compaction hold the old file listing,
    # and executing them afterwards hits deleted files — the documented
    # single-writer/no-open-readers constraint, demonstrated here by
    # ordering rather than violated.
    stats = compact_parquet(spark, log, target_bytes=1 << 20)
    assert stats.rewritten == 12 and stats.files_after < 12
    table = spark.read.parquet(log)
    assert table.count() == 1200

    # 3) Quality gate: the table-level report records into history.
    checks = [completeness("k"), in_range("v", 0, 96), min_size(1000)]
    report = check_report(table, checks)
    record_metrics(report, "night-1", metrics)
    assert {r["check_name"]: r["passed"] for r in report.collect()} == {
        "completeness(k)": True,
        "in_range(v)": True,
        "min_size": True,
    }
    # Suggested constraints hold on the data they profiled.
    assert all(
        r["passed"] for r in check_report(table, suggest_checks(table)).collect()
    )

    # 4) Row-level routing: null tags quarantine, the rest flow on.
    clean, bad = quarantine(table, [RowRule("tagged", F.col("tag").isNotNull())])
    assert bad.count() == 24 and clean.count() == 1176
    assert all(r["reasons"] == ["tagged"] for r in bad.collect())

    # 5) Publish the clean slice as an immutable version + pointer.
    publish_versioned(clean, published)
    latest = read_latest(spark, published)
    assert latest.count() == 1176 and "reasons" not in latest.columns

    # 6) Mirror the published version downstream (pointer + version files).
    vdir = open(os.path.join(published, "_LATEST")).read().strip()
    m = mirror_directory(spark, os.path.join(published, vdir), mirror)
    assert m.copied and not m.updated
    mirrored = spark.read.parquet(mirror)
    a = sorted(r["k"] for r in mirrored.collect())
    b = sorted(r["k"] for r in latest.collect())
    assert a == b

    # 7) Next night: a degraded ingest trips the anomaly gate.
    bad_batch = spark.range(2000, 2100).select(
        F.col("id").alias("k"),
        F.lit(None).cast("double").alias("v"),
        F.lit("u").alias("tag"),
    )
    append_log(bad_batch.coalesce(1), log)
    night2 = check_report(spark.read.parquet(log), checks)
    record_metrics(night2, "night-2", metrics)
    # one-night history is below the n_prior>=2 floor: quiet by design
    assert metric_anomalies(spark.read.parquet(metrics), "night-2").count() == 0
    record_metrics(night2, "night-2b", metrics)  # second healthy-prior run
    flagged = metric_anomalies(spark.read.parquet(metrics), "night-2b")
    assert flagged.count() == 0  # priors night-1+night-2 disagree; sigma wide
    # but the absolute gate catches it regardless: in_range collapsed
    assert not {
        r["check_name"]: r["passed"] for r in night2.collect()
    }["in_range(v)"]


def test_cdc_maintenance_cycle(spark, tmp_path):
    """Day-2 CDC loop, composed end-to-end: snapshot versions publish
    through the versioned store; the delta between the previous and the
    live version drives BOTH derived artifacts — the additive rollup
    view and the LSH band index — and time travel / rollback keep every
    earlier state reachable. Each piece is unit-tested alone; this pins
    that the outputs of one are legal inputs of the next."""
    from decimal import Decimal

    from pmp_analytics_spark.operators.dedup import (
        band_key_frame,
        exploded_shingle_hashes,
        lsh_index_refresh,
        minhash_signatures,
    )
    from pmp_analytics_spark.operators.diff import (
        incremental_mv_refresh,
        snapshot_delta,
    )
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        read_latest,
        read_version,
        rollback_latest,
    )

    base, mv_root = str(tmp_path / "base"), str(tmp_path / "mv")

    def snap(rows):
        df = spark.createDataFrame(rows, ["k", "grp", "amount", "text"])
        return df.select(
            "k", "grp", F.col("amount").cast("decimal(10,2)").alias("amount"), "text"
        )

    day1 = snap(
        [
            (1, "a", "10.00", "the quick brown fox jumps over the dog"),
            (2, "a", "20.00", "pack my box with five dozen liquor jugs"),
            (3, "b", "5.00", "how vexingly quick daft zebras jump"),
        ]
    )
    day2 = snap(
        [
            (1, "a", "10.00", "the quick brown fox jumps over the dog"),
            (3, "c", "7.50", "how vexingly quick daft zebras jump NOW"),
            (4, "b", "2.00", "sphinx of black quartz judge my vow"),
        ]
    )

    def mv_of(df):
        return df.groupBy("grp").agg(
            F.sum("amount").alias("total"), F.count(F.lit(1)).alias("n_rows")
        )

    def index_of(df):
        return band_key_frame(
            minhash_signatures(
                exploded_shingle_hashes(df, "text", "k", 5), "k", 16
            ),
            "k",
            16,
            4,
        )

    # day 1: publish snapshot v0 and the derived artifacts
    publish_versioned(day1.coalesce(1), base)
    publish_versioned(mv_of(day1).coalesce(1), mv_root, marker="0")
    index = index_of(day1).localCheckpoint(eager=True)

    # day 2: new snapshot lands; the delta between the two LIVE versions
    # drives both refreshes
    publish_versioned(day2.coalesce(1), base)
    delta = snapshot_delta(
        read_version(spark, base, 0), read_latest(spark, base), ["k"]
    ).localCheckpoint(eager=True)
    mv2 = incremental_mv_refresh(
        read_latest(spark, mv_root), delta, ["grp"], {"total": "amount"}, "n_rows"
    )
    publish_versioned(mv2.coalesce(1), mv_root, marker="1")
    index2 = lsh_index_refresh(index, delta, "k", "text")

    got_mv = sorted(map(tuple, read_latest(spark, mv_root).collect()))
    assert got_mv == sorted(map(tuple, mv_of(day2).collect()))
    assert ("c", Decimal("7.50"), 1) in got_mv and ("b", Decimal("2.00"), 1) in got_mv
    assert sorted(map(tuple, index2.collect())) == sorted(
        map(tuple, index_of(day2).collect())
    )
    assert latest_marker(spark, mv_root) == "1"

    # time travel: yesterday's view is still reachable; rollback makes
    # it live again (marker travels), then the day-2 version remains on
    # disk for roll-forward
    assert sorted(map(tuple, read_version(spark, mv_root, 0).collect())) == sorted(
        map(tuple, mv_of(day1).collect())
    )
    rollback_latest(spark, mv_root, 0)
    assert latest_marker(spark, mv_root) == "0"
    assert sorted(map(tuple, read_latest(spark, mv_root).collect())) == sorted(
        map(tuple, mv_of(day1).collect())
    )
    rollback_latest(spark, mv_root, 1)
    assert sorted(map(tuple, read_latest(spark, mv_root).collect())) == got_mv
