"""Type-2 SCD operators (operators/scd.py, streaming/scd.py): interval
semantics across every change class, equivalence between the
maintenance path and the bootstrap path, and the plan shapes that make
them O(delta) at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from pmp_analytics_spark.operators.diff import snapshot_delta
from pmp_analytics_spark.operators.scd import scd2_apply, scd2_compress
from pmp_analytics_spark.plans import (
    count_exchanges,
    has_broadcast_hash_join,
    physical_plan,
)


def _rows(df, order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_scd2_compress_runs_and_null_state(spark):
    log = spark.createDataFrame(
        [
            # user 1: A A B A — four observations, three runs
            (1, "A", 10, 100),
            (1, "A", 20, 101),
            (1, "B", 30, 102),
            (1, "A", 40, 103),
            # user 2: NULL is a state value, not a wildcard
            (2, None, 10, 200),
            (2, None, 20, 201),
            (2, "C", 30, 202),
        ],
        "user_id int, state string, ts int, obs_id int",
    )
    out = _rows(
        scd2_compress(log, ["user_id"], ["state"], "ts", tiebreak="obs_id"),
        ["user_id", "valid_from"],
    )
    assert out == [
        (1, "A", 10, 30),
        (1, "B", 30, 40),
        (1, "A", 40, None),
        (2, None, 10, 30),
        (2, "C", 30, None),
    ]


def test_scd2_compress_same_instant_ties_deterministic(spark):
    # two different states at the SAME ts: the tiebreak orders them, and
    # the closing lead uses the same tiebreak (zero-length first interval)
    log = spark.createDataFrame(
        [(1, "X", 10, 1), (1, "Y", 10, 2), (1, "Y", 20, 3)],
        "k int, state string, ts int, obs_id int",
    )
    out = _rows(
        scd2_compress(log, ["k"], ["state"], "ts", tiebreak="obs_id"),
        ["k", "valid_from", "state"],
    )
    assert out == [(1, "X", 10, 10), (1, "Y", 10, None)]


def test_scd2_apply_all_change_classes(spark):
    dim = spark.createDataFrame(
        [
            (1, "A", 0, 5),      # history row: must be carried VERBATIM
            (1, "B", 5, None),   # current, will change to C
            (2, "A", 0, None),   # current, will be removed
            (3, "A", 0, None),   # current, untouched
        ],
        "k int, attr string, valid_from int, valid_to int",
    )
    old = spark.createDataFrame(
        [(1, "B"), (2, "A"), (3, "A")], "k int, attr string"
    )
    new = spark.createDataFrame(
        [(1, "C"), (3, "A"), (4, "Z")], "k int, attr string"
    )
    delta = snapshot_delta(old, new, ["k"])
    out = _rows(
        scd2_apply(dim, delta, ["k"], ["attr"], F.lit(9)),
        ["k", "valid_from"],
    )
    assert out == [
        (1, "A", 0, 5),       # history untouched
        (1, "B", 5, 9),       # changed: closed at the effective tick
        (1, "C", 9, None),    # changed: new current
        (2, "A", 0, 9),       # removed: closed, nothing opens
        (3, "A", 0, None),    # unchanged: still current
        (4, "Z", 9, None),    # added: new current
    ]


def test_scd2_apply_chain_equals_compress(spark):
    """Applying CDC batches in effective-time order reproduces the
    dimension scd2_compress builds from the full observation history —
    the maintenance path and the bootstrap path agree."""
    snaps = {
        0: [(1, "A"), (2, "P")],
        10: [(1, "B"), (2, "P")],          # 1 changes
        20: [(2, "Q"), (3, "N")],          # 1 removed, 2 changes, 3 added
    }
    frames = {
        t: spark.createDataFrame(rows, "k int, attr string")
        for t, rows in snaps.items()
    }
    dim = frames[0].select(
        "k", "attr",
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    for t0, t1 in [(0, 10), (10, 20)]:
        dim = scd2_apply(
            dim, snapshot_delta(frames[t0], frames[t1], ["k"]),
            ["k"], ["attr"], F.lit(t1),
        )
    # observation log equivalent: each snapshot observed at its ts (a
    # removed key simply stops being observed — scd2_compress leaves its
    # last run open, so compare only rows keys-still-present agree on)
    log = spark.createDataFrame(
        [(k, a, t) for t, rows in snaps.items() for k, a in rows],
        "k int, attr string, ts int",
    )
    compressed = scd2_compress(log, ["k"], ["attr"], "ts")
    got = {r[:3]: r[3] for r in _rows(dim, ["k", "valid_from"])}
    want = {r[:3]: r[3] for r in _rows(compressed, ["k", "valid_from"])}
    for key, to in want.items():
        k = key[0]
        if k == 1 and to is None:
            # key 1 vanished at t=20: apply CLOSES it (compress cannot
            # see a disappearance — the one designed divergence)
            assert got[key] == 20
        else:
            assert got[key] == to


def test_scd2_apply_plan_is_delta_sized(spark):
    """The closing set rides a BROADCAST into the dimension pass — the
    dimension itself is never shuffled by the apply."""
    dim = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit("A").alias("attr"),
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    old = spark.range(1000).select(F.col("id").alias("k"), F.lit("A").alias("attr"))
    new = spark.range(999).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 100 == 0, F.lit("B")).otherwise("A").alias("attr"),
    )
    out = scd2_apply(dim, snapshot_delta(old, new, ["k"]), ["k"], ["attr"], F.lit(7))
    assert has_broadcast_hash_join(out)
    assert "CartesianProduct" not in physical_plan(out)


def test_scd2_compress_single_exchange(spark):
    """Both windows (change-lag and closing-lead) partition on the key:
    ONE exchange feeds the whole operator."""
    log = spark.range(10_000).select(
        (F.col("id") % 100).alias("k"),
        (F.col("id") % 7).cast("string").alias("state"),
        F.col("id").alias("ts"),
    )
    out = scd2_compress(log, ["k"], ["state"], "ts")
    assert count_exchanges(out) == 1


def test_batch_marker_parse_semantics():
    """ONLY namespaced batch:<id> markers are commits. A semantic marker
    must parse as no-commit — ESPECIALLY a numeric-looking one: naive
    int() would read a date-stamped '20240101' as a committed batch id
    and silently skip every real batch below it, which is why bare
    integers are NOT grandfathered either."""
    from pmp_analytics_spark.streaming.mv import batch_marker, parse_batch_marker

    assert parse_batch_marker(batch_marker(7)) == 7
    assert parse_batch_marker(None) is None
    assert parse_batch_marker("v2024-01") is None
    assert parse_batch_marker("batch:notanint") is None
    assert parse_batch_marker("3") is None  # bare number: not a commit
    assert parse_batch_marker("20240101") is None  # the misparse hazard


def test_cdc_scd2_stream_marker_guard(spark, tmp_path):
    """A root whose live version carries a NON-numeric marker (seeded
    state) must not crash the stream; batches apply normally after it."""
    from pmp_analytics_spark.sources.writers import (
        publish_versioned,
        read_latest,
    )
    from pmp_analytics_spark.streaming.mv import cdc_apply_stream

    root = str(tmp_path / "state")
    feed = str(tmp_path / "cdc")
    dim0 = spark.createDataFrame(
        [(1, "A", 0, None)], "k int, attr string, valid_from int, valid_to int"
    )
    old = spark.createDataFrame([(1, "A")], "k int, attr string")
    new = spark.createDataFrame([(1, "B"), (2, "C")], "k int, attr string")
    snapshot_delta(old, new, ["k"]).coalesce(1).write.parquet(feed)
    publish_versioned(dim0, root, marker="seed-not-a-number")
    schema = spark.read.parquet(feed).schema
    cdc_apply_stream(
        spark.readStream.schema(schema).parquet(feed),
        root,
        lambda cur, batch: scd2_apply(cur, batch, ["k"], ["attr"], F.lit(9)),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    got = _rows(read_latest(spark, root), ["k", "valid_from"])
    assert got == [(1, "A", 0, 9), (1, "B", 9, None), (2, "C", 9, None)]


def _pit_fixture(spark):
    """Tiny point-in-time scenario: key 1 changes state at tick 100, key
    2 is removed at tick 200, key 3 is added at tick 150. Facts probe
    before/after each boundary."""
    from pyspark.sql import functions as F

    dim0 = spark.createDataFrame(
        [(1, "a", 0, None), (2, "x", 0, None)],
        "k long, s string, valid_from long, valid_to long",
    )
    delta = spark.createDataFrame(
        [
            ("changed", 1, "a", "b", 100),
            ("removed", 2, "x", None, 200),
            ("added", 3, None, "c", 150),
        ],
        "change_type string, k long, old_s string, new_s string, eff_ts long",
    ).withColumn("entity", F.lit("dim"))
    facts = spark.createDataFrame(
        [
            (10, 1, 50), (11, 1, 100), (12, 1, 300),
            (13, 2, 150), (14, 2, 200), (15, 2, 999),
            (16, 3, 100), (17, 3, 150),
            (18, 9, 400),  # key never in the dimension
        ],
        "fid long, k long, ts long",
    ).withColumn("entity", F.lit("fact"))
    # expected (fid -> (s, valid_from)) under interval semantics
    expect = {
        10: ("a", 0), 11: ("b", 100), 12: ("b", 100),
        13: ("x", 0), 14: (None, None), 15: (None, None),
        16: (None, None), 17: ("c", 150),
        18: (None, None),
    }
    return dim0, delta, facts, expect


def _run_pit(spark, work, slices):
    """Drain cdc_pointintime_stream over the given (delta_slice,
    fact_slice) file plan; returns {fid: (s, valid_from)}."""
    import os

    from pyspark.sql import functions as F

    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming.scd import cdc_pointintime_stream

    dim_root, out_root, feed = f"{work}/dim", f"{work}/out", f"{work}/feed"
    dim0, _, _, _ = _pit_fixture(spark)
    publish_versioned(dim0.coalesce(1), dim_root)
    publish_versioned(
        spark.createDataFrame(
            [], "fid long, k long, ts long, s string, valid_from long"
        ),
        out_root,
    )
    for df in slices:
        df.coalesce(1).write.mode("append").parquet(feed)
    parts = sorted(
        (os.path.getmtime(os.path.join(feed, f)), f)
        for f in os.listdir(feed)
        if f.endswith(".parquet")
    )
    base = parts[0][0]
    for i, (_, f) in enumerate(parts):
        os.utime(os.path.join(feed, f), (base + 10 * i, base + 10 * i))
    schema = spark.read.parquet(feed).schema
    cdc_pointintime_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed),
        dim_root,
        out_root,
        keys=["k"],
        attr_cols=["s"],
        fact_cols=["fid"],
        fact_ts="ts",
        checkpoint_dir=f"{work}/ckpt",
    )
    return {
        r["fid"]: (r["s"], r["valid_from"])
        for r in read_latest(spark, out_root).collect()
    }


def test_pointintime_stream_multibatch_equals_oneshot(spark, tmp_path):
    """Two slicings — one-shot, and three time-ordered batches (ticks
    with their not-later facts) — must both produce the interval-exact
    enrichment."""
    from pyspark.sql import functions as F

    _, delta, facts, expect = _pit_fixture(spark)
    fused = delta.unionByName(facts, allowMissingColumns=True)
    assert _run_pit(spark, f"{tmp_path}/one", [fused]) == expect

    b0 = fused.where(
        (F.col("entity") == "dim") & (F.col("eff_ts") <= 100)
        | (F.col("entity") == "fact") & (F.col("ts") <= 100)
    )
    b1 = fused.where(
        (F.col("entity") == "dim") & F.col("eff_ts").between(101, 200)
        | (F.col("entity") == "fact") & F.col("ts").between(101, 200)
    )
    b2 = fused.where(
        (F.col("entity") == "dim") & (F.col("eff_ts") > 200)
        | (F.col("entity") == "fact") & (F.col("ts") > 200)
    )
    assert _run_pit(spark, f"{tmp_path}/three", [b0, b1, b2]) == expect


def test_pointintime_stream_crash_between_publishes(spark, tmp_path):
    """Dim publish of batch 0 committed, enrichment publish didn't: the
    replay must skip the dim apply (no duplicated intervals) and
    complete the enrichment against the dim state the first attempt
    saw."""
    from pmp_analytics_spark.operators.scd import scd2_apply
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        publish_versioned,
        read_latest,
    )
    from pyspark.sql import functions as F

    dim0, delta, facts, expect = _pit_fixture(spark)
    work = f"{tmp_path}/crash"
    dim_root = f"{work}/dim"
    # pre-publish the post-batch-0 dim under marker batch:0 (the crash)
    publish_versioned(dim0.coalesce(1), dim_root)
    dim_after = scd2_apply(
        read_latest(spark, dim_root),
        delta,
        ["k"],
        ["s"],
        F.col("eff_ts"),
    )
    publish_versioned(dim_after.coalesce(1), dim_root, marker="batch:0")

    fused = delta.unionByName(facts, allowMissingColumns=True)
    got = _run_pit_resume(spark, work, [fused])
    assert got == expect
    assert latest_marker(spark, dim_root) == "batch:0"  # replay skipped
    dim = read_latest(spark, dim_root)
    assert dim.count() == dim_after.count()  # no duplicated intervals


def _run_pit_resume(spark, work, slices):
    """_run_pit without re-seeding the dim root (crash-replay path)."""
    import os

    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming.scd import cdc_pointintime_stream

    dim_root, out_root, feed = f"{work}/dim", f"{work}/out", f"{work}/feed"
    publish_versioned(
        spark.createDataFrame(
            [], "fid long, k long, ts long, s string, valid_from long"
        ),
        out_root,
    )
    for df in slices:
        df.coalesce(1).write.mode("append").parquet(feed)
    schema = spark.read.parquet(feed).schema
    cdc_pointintime_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed),
        dim_root,
        out_root,
        keys=["k"],
        attr_cols=["s"],
        fact_cols=["fid"],
        fact_ts="ts",
        checkpoint_dir=f"{work}/ckpt",
    )
    return {
        r["fid"]: (r["s"], r["valid_from"])
        for r in read_latest(spark, out_root).collect()
    }
