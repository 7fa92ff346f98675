"""Partitioning utilities for CPU-bound narrow stages.

A small parquet file scans as ONE input split, so an expensive per-row
expression chain (MinHash over shingles, a pandas UDF) runs on one core no
matter how many the cluster has. ``ensure_parallelism`` round-robins the
rows across at least ``defaultParallelism`` partitions first.

At 100 TB this is a no-op by construction: the scan already yields
thousands of splits (>= the check), so no shuffle is added. It only
triggers where it is needed — inputs whose split count is below the
cluster's core count, where the one-time small shuffle is strictly cheaper
than leaving cores idle through the expensive stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` iff its current partition count is below the
    session's default parallelism.

    Apply to the NARROW INPUT of an expensive projection, not on top of
    it — a repartition above the projection runs the expensive compute on
    the shuffle's map side, i.e. still on the original splits.

    Frames whose physical plan contains an exchange (a shuffle or a
    broadcast, as joins and aggregates add) or a subquery are returned
    UNCHANGED, without running a job, for two reasons. First,
    post-shuffle parallelism is already governed by
    ``spark.sql.shuffle.partitions`` (the deployment-scale knob), so
    there is no under-split problem to fix. Second — the sharp edge —
    probing ``df.rdd.getNumPartitions()`` under AQE EXECUTES the plan's
    shuffle stages eagerly (the adaptive plan must materialize query
    stages to finalize itself) and reports the AQE-coalesced count; the
    caller's later action then re-executes the subtree. The guard reads
    the executed plan: the exchanges of joins and aggregates are only
    added by EnsureRequirements, after ``sparkPlan()``. Only narrow
    scan-rooted chains are probed, where ``.rdd`` is planning-only."""
    if df.isStreaming:  # no .rdd on unresolved streams; per-batch frames
        return df       # (foreachBatch) are batch DFs and DO get wrapped
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # defensive: never let a probe break the query
        return df
    if "Exchange" in plan or "Subquery" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_buckets: int = 16,
):
    """Skew-salted equi-join: the big (skewed) side gets a uniform salt in
    [0, salt_buckets); the small side is REPLICATED once per salt value;
    the join runs on (key…, salt) so a hot key's rows spread over
    ``salt_buckets`` reducers instead of funneling one straggler.

    Use when AQE's runtime skew splitting isn't available or the skew is
    in an aggregation-feeding join it can't split. The replicated side
    costs salt_buckets× its size — the dim-table side, by construction.
    Join semantics are salt-invariant: every left row still meets every
    matching right row exactly once (each right row exists once per salt).
    ``how`` may be 'inner' or 'left' — right/full would count unmatched
    right rows once per salt replica, so anything else is rejected."""
    from pyspark.sql import functions as F

    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' (got {how!r}): the "
            "right side is replicated per salt, which breaks right/full "
            "outer semantics"
        )

    salt = F.pmod(
        F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets)
    )
    lhs = left.withColumn("__salt", salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    )
    return lhs.join(rhs, on=[*on, "__salt"], how=how).drop("__salt")


def morton_key(a, b, bits: int = 16):
    """Z-order (Morton) interleaving of the low ``bits`` of two integer
    columns — the multi-dimensional clustering key: sorting/range-
    partitioning by it keeps rows close in BOTH dimensions physically
    adjacent, so min/max column statistics (parquet row groups, file
    pruning) skip data for predicates on EITHER column, where a plain
    sort only skips on its leading column. Pure bit arithmetic inside
    whole-stage codegen; identical math is SQL-expressible for oracles.

    Deployment shape: ``df.repartitionByRange(N, zkey)
    .sortWithinPartitions(zkey).write...`` — the standard layout pass for
    multi-dim scan-heavy tables at 100 TB."""
    from pyspark.sql import functions as F

    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    out = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        out = out.bitwiseOR(F.shiftleft(abit, 2 * i + 1)).bitwiseOR(
            F.shiftleft(bbit, 2 * i)
        )
    return out


def morton_key_sql(a: str, b: str, bits: int = 16) -> str:
    """The identical Morton interleave as ANSI SQL (DuckDB oracle side)."""
    parts = []
    for i in range(bits):
        parts.append(f"(((({a} >> {i}) & 1)) << {2 * i + 1})")
        parts.append(f"(((({b} >> {i}) & 1)) << {2 * i})")
    return "(" + " | ".join(parts) + ")"


def salted_agg(
    df: DataFrame,
    group_by: list[str],
    aggs: dict[str, tuple],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys: aggregate on (key, salt)
    first — spreading a hot key over ``salt_buckets`` reducers — then
    merge the partials on the key alone.

    ``aggs`` maps output name -> (partial_fn, merge_fn, input_col), e.g.
    ``{"n": (F.count, F.sum, F.lit(1)), "total": (F.sum, F.sum, "x")}``.
    Only works for decomposable aggregates (count/sum/min/max — the same
    restriction as any partial aggregation).

    AQE's skew-join handling covers JOIN skew at runtime; aggregation
    skew on a hot group key still funnels one reducer, which is what the
    salt fixes. At 100 TB the extra shuffle of small partials is noise
    next to a straggling reducer.
    """
    from pyspark.sql import functions as F

    salted = df.withColumn("__salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets)))
    partial = salted.groupBy(*group_by, "__salt").agg(
        *[fn(col).alias(f"__p_{name}") for name, (fn, _, col) in aggs.items()]
    )
    return partial.groupBy(*group_by).agg(
        *[merge(F.col(f"__p_{name}")).alias(name) for name, (_, merge, _) in aggs.items()]
    )
