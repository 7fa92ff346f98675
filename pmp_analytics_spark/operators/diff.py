"""Dataset-diff utility — the reference's month-over-month extract check
(check_masked.py:48-75) as a reusable, assertable operator: schema
comparison, row-count drift, per-column bounds, and a deterministic
sample, computed in ONE aggregation pass per side (the reference makes
separate min()/max()/count passes; at 100 TB each pass is a full scan).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.sample import deterministic_sample


@dataclass
class DatasetDiff:
    columns_added: list[str]
    columns_removed: list[str]
    rows_old: int
    rows_new: int
    pct_change: float
    bounds_old: dict[str, tuple] = field(default_factory=dict)
    bounds_new: dict[str, tuple] = field(default_factory=dict)
    sample_new: list[tuple] = field(default_factory=list)

    @property
    def schema_matches(self) -> bool:
        return not self.columns_added and not self.columns_removed


def _stats(df: DataFrame, bound_cols: list[str]) -> tuple[int, dict[str, tuple]]:
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in bound_cols:
        aggs.append(F.min(c).alias(f"__min_{c}"))
        aggs.append(F.max(c).alias(f"__max_{c}"))
    row = df.agg(*aggs).collect()[0]
    return row["__n"], {c: (row[f"__min_{c}"], row[f"__max_{c}"]) for c in bound_cols}


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    bound_cols: list[str] | None = None,
    sample_n: int = 20,
    sample_key: str | None = None,
) -> DatasetDiff:
    """Compare two dataset versions (reference: check_masked.py:48-75 —
    column-set equality, row-count %% change, min/max date bounds, and an
    eyeball sample; the sample here is deterministic, not ``.sample``)."""
    old_cols, new_cols = set(old.columns), set(new.columns)
    shared_bounds = [c for c in (bound_cols or []) if c in old_cols and c in new_cols]
    rows_old, bounds_old = _stats(old, [c for c in shared_bounds if c in old_cols])
    rows_new, bounds_new = _stats(new, shared_bounds)
    sample: list[tuple] = []
    if sample_n and sample_key and sample_key in new_cols:
        sample = [tuple(r) for r in deterministic_sample(new, sample_key, sample_n).collect()]
    return DatasetDiff(
        columns_added=sorted(new_cols - old_cols),
        columns_removed=sorted(old_cols - new_cols),
        rows_old=rows_old,
        rows_new=rows_new,
        pct_change=round((rows_new - rows_old) * 100.0 / rows_old, 2) if rows_old else float("inf"),
        bounds_old=bounds_old,
        bounds_new=bounds_new,
        sample_new=sample,
    )


def assert_compatible(diff: DatasetDiff, max_pct_change: float = 25.0) -> None:
    """Fail-fast gate in the spirit of the reference's human sanity check
    (delinquent_data_submitters.py:144-147), automated: schema must match
    and row drift must stay inside the tolerance."""
    problems = []
    if not diff.schema_matches:
        problems.append(f"schema drift: +{diff.columns_added} -{diff.columns_removed}")
    if abs(diff.pct_change) > max_pct_change:
        problems.append(f"row count drifted {diff.pct_change}% ({diff.rows_old} -> {diff.rows_new})")
    if problems:
        raise AssertionError("; ".join(problems))


def snapshot_delta(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level CDC between two snapshot versions of a keyed dataset:
    one row per key whose state changed, tagged ``added`` / ``removed``
    / ``changed``, carrying ``old_<c>`` and ``new_<c>`` for each compared
    column. Unchanged keys are dropped. The dataset-versioning primitive
    the aggregate-level ``dataset_diff`` can't provide: WHICH rows moved
    between last month's extract and this month's (reference analog:
    check_masked.py eyeballs count drift; this materializes the delta).

    Keys are assumed unique-per-snapshot and non-null (the snapshot
    contract); column comparison is NULL-SAFE (``null -> value`` and
    ``value -> null`` both count as changed, ``null -> null`` does not).

    Scale: ONE full-outer shuffle join keyed on ``keys`` — both sides
    hash-partition once, comparison is projection-only. Snapshots
    bucketed on the key (the natural layout for repeated diffing)
    co-locate and drop even that exchange; nothing here collects or
    windows globally.
    """
    compare_cols = (
        [c for c in new.columns if c not in keys]
        if compare_cols is None
        else list(compare_cols)
    )
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__ko_{k}") == F.col(f"__kn_{k}")
        cond = eq if cond is None else (cond & eq)
    joined = o.join(n, cond, "full_outer")
    differs = F.lit(False)
    for c in compare_cols:
        differs = differs | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"__kn_{k}"), F.col(f"__ko_{k}")).alias(k)
                for k in keys
            ],
            "change_type",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def incremental_mv_refresh(
    mv: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: dict[str, str],
    count_col: str = "n_rows",
) -> DataFrame:
    """Incrementally maintain a SUM/COUNT materialized view from a
    ``snapshot_delta`` — the self-maintainable-aggregate refresh of the
    view-maintenance literature (Gupta & Mumick, "Maintenance of
    Materialized Views", IEEE DE Bulletin 1995): never rescan the base.

    ``mv`` is the current view: ``group_cols`` + one column per key of
    ``sum_cols`` (``out_name -> base_column``) + ``count_col``.
    ``delta`` is ``snapshot_delta(old_base, new_base, keys)`` where the
    compared columns include every base column referenced by
    ``group_cols`` and ``sum_cols``. Each delta row contributes:

    - ``removed``: subtract the OLD measure values from the group formed
      by the OLD group-column values, count -1;
    - ``added``: add the NEW values to the NEW group, count +1;
    - ``changed``: both — which transparently handles rows that MOVE
      between groups (the group column itself changed).

    Groups whose refreshed count reaches 0 are dropped; groups born in
    the delta appear. The group merge is NULL-SAFE (a NULL group value
    is one group, matching GROUP BY), and the output column order/types
    mirror ``mv`` so refresh output feeds the next refresh.

    Assumes measure columns are NON-NULL in the base (sums are refreshed
    additively with missing-side zeros; a base NULL measure would need a
    per-measure non-null count to reproduce SUM's null-skipping). Use
    exact types (decimal, integer) for measures: additive refresh
    re-associates the sum, which is only order-independent for exact
    arithmetic — and size the decimal for the CORPUS total, not the row
    (under non-ANSI Spark a decimal sum that overflows its +10-digit
    headroom returns NULL silently; run with
    ``spark.sql.ansi.enabled=true`` to fail loudly instead).

    Scale: cost is O(|delta|) aggregate + ONE full-outer merge join with
    the view — both sides view-cardinality, never base-cardinality;
    nothing collects or windows globally. Reference analog: none
    (the reference recomputes extracts monthly end-to-end); this is the
    engine's production shape for keeping 100 TB rollups current from a
    CDC feed.
    """
    out_names = list(sum_cols)
    rem = delta.where(F.col("change_type").isin("removed", "changed")).select(
        *[F.col(f"old_{g}").alias(g) for g in group_cols],
        *[(-F.col(f"old_{c}")).alias(o) for o, c in sum_cols.items()],
        F.lit(-1).cast("long").alias(count_col),
    )
    add = delta.where(F.col("change_type").isin("added", "changed")).select(
        *[F.col(f"new_{g}").alias(g) for g in group_cols],
        *[F.col(f"new_{c}").alias(o) for o, c in sum_cols.items()],
        F.lit(1).cast("long").alias(count_col),
    )
    adj = (
        rem.unionByName(add)
        .groupBy(*group_cols)
        .agg(
            *[F.sum(o).alias(o) for o in out_names],
            F.sum(count_col).alias(count_col),
        )
    )
    m, a = mv.alias("__mv"), adj.alias("__adj")
    cond = None
    for g in group_cols:
        eq = F.col(f"__mv.{g}").eqNullSafe(F.col(f"__adj.{g}"))
        cond = eq if cond is None else (cond & eq)
    merged = m.join(a, cond, "full_outer")
    mv_types = dict(zip(mv.columns, [f.dataType for f in mv.schema.fields]))
    new_count = F.coalesce(F.col(f"__mv.{count_col}"), F.lit(0)) + F.coalesce(
        F.col(f"__adj.{count_col}"), F.lit(0)
    )
    return merged.select(
        *[
            F.coalesce(F.col(f"__mv.{g}"), F.col(f"__adj.{g}")).alias(g)
            for g in group_cols
        ],
        *[
            (
                F.coalesce(F.col(f"__mv.{o}"), F.lit(0))
                + F.coalesce(F.col(f"__adj.{o}"), F.lit(0))
            )
            .cast(mv_types[o])
            .alias(o)
            for o in out_names
        ],
        new_count.cast(mv_types[count_col]).alias(count_col),
    ).where(new_count > 0)


def mv_refresh_minmax(
    mv: DataFrame,
    delta: DataFrame,
    new_base: DataFrame,
    group_cols: list[str],
    agg_map: dict[str, tuple[str, str]],
) -> DataFrame:
    """Refresh a MIN/MAX materialized view from a ``snapshot_delta`` by
    recomputing ONLY the touched groups — the partial-recompute fallback
    for aggregates that are NOT self-maintainable under deletes (a
    removed row may have BEEN the max; no adjustment arithmetic can know
    the runner-up without the base). Gupta & Mumick's classification:
    SUM/COUNT refresh additively (``incremental_mv_refresh``); MIN/MAX
    need the base — but only where the delta touched.

    ``agg_map`` is ``out_name -> (fn, base_column)`` with fn in
    {"min", "max"}; ``mv`` has ``group_cols`` + the out columns;
    ``new_base`` is the post-change snapshot. Touched groups = every
    group value appearing on EITHER side of any delta row (old_* and
    new_*, so group-moving rows touch both their groups). Output =
    untouched mv rows carried verbatim + touched groups recomputed from
    ``new_base`` (groups now empty disappear; groups born appear).

    Scale: the touched-group set is delta-bounded and arrives as a
    BROADCAST semi-/anti-join — the base scan is filtered before its
    aggregate, so with the base partitioned or bucketed/z-ordered on the
    group key the recompute prunes to the touched partitions instead of
    scanning 100 TB. The untouched side never reads the base at all,
    and the view is never shuffled: the touched set is always the
    broadcast build side, because a refresh is sized by its delta, not
    by the view. A delta touching most groups degrades into ~one full
    recompute — the correct worst case.
    """
    # removed/changed rows carry old_* groups; added rows have them null.
    # Null GROUP VALUES are legitimate, so membership is decided by
    # change_type, not nullness:
    old_g = delta.where(F.col("change_type").isin("removed", "changed")).select(
        *[F.col(f"old_{g}").alias(g) for g in group_cols]
    )
    new_g = delta.where(F.col("change_type").isin("added", "changed")).select(
        *[F.col(f"new_{g}").alias(g) for g in group_cols]
    )
    touched = old_g.unionByName(new_g).dropDuplicates(group_cols)

    def null_safe_on(left, right):
        cond = None
        for g in group_cols:
            eq = left[g].eqNullSafe(right[g])
            cond = eq if cond is None else (cond & eq)
        return cond

    t = F.broadcast(touched)
    kept = mv.join(t, null_safe_on(mv, touched), "left_anti")
    recomputed = (
        new_base.join(t, null_safe_on(new_base, touched), "left_semi")
        .groupBy(*group_cols)
        .agg(
            *[
                (F.min(c) if fn == "min" else F.max(c)).alias(o)
                for o, (fn, c) in agg_map.items()
            ]
        )
    )
    return kept.unionByName(recomputed.select(*mv.columns))


def apply_snapshot_delta(
    snap: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Reconstruct the NEW snapshot from the old one plus its
    ``snapshot_delta`` — the CDC CONSUMER's replay primitive (the inverse
    of ``snapshot_delta``): removed/changed keys leave the snapshot,
    added/changed rows enter with their ``new_*`` values. Movement is
    O(|delta|): one anti-join against the snapshot plus a union. The
    delta's touched keys are the broadcast build side, so the snapshot
    is filtered map-side and never shuffled.
    """
    touched = delta.where(
        F.col("change_type").isin("removed", "changed")
    ).select(*keys)
    value_cols = [c for c in snap.columns if c not in keys]
    fresh = delta.where(F.col("change_type").isin("added", "changed")).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in value_cols]
    )
    return snap.join(F.broadcast(touched), keys, "left_anti").unionByName(fresh)


def join_mv_refresh(
    mv: DataFrame,
    fact_delta: DataFrame | None,
    dim_delta: DataFrame | None,
    new_dim: DataFrame,
    fact_key: str,
    dim_fk: str,
    dim_key: str,
    dim_cols: list[str],
) -> DataFrame:
    """Incrementally maintain a DENORMALIZED JOIN view — the enriched
    fact table ``fact LEFT JOIN dim`` kept current from the CDC feeds of
    BOTH bases without ever re-joining them (Gupta & Mumick's delta-join
    algebra, specialized to the fact-keyed FK→PK left join that covers
    the overwhelming share of production denormalizations; the
    aggregate-side counterpart is ``incremental_mv_refresh``).

    ``mv`` is the current view: one row per fact key, fact columns
    (including ``fact_key`` and the FK column ``dim_fk``) followed by
    ``dim_cols`` (NULL where the FK resolved to nothing — the LEFT-join
    convention is what makes the view self-maintainable: under an INNER
    view a dim insert would resurrect fact rows the view no longer
    holds, forcing a base-fact rescan). ``fact_delta`` / ``dim_delta``
    are ``snapshot_delta`` frames keyed on ``fact_key`` / ``dim_key``
    whose compared columns cover the view's fact / dim columns (pass
    None for a side with no changes). ``new_dim`` is the post-change
    dimension (consulted ONLY for rows the fact delta inserts).

    Refresh algebra, every step delta-bounded:

    - fact removed/changed keys EVICT their view rows (broadcast
      anti-join);
    - the dim delta PATCHES surviving rows in one broadcast left join
      on the FK: added/changed rows install their new attribute values
      (an add fills FKs that previously dangled NULL), removed rows
      null them out — new_* columns of a removed row are already NULL,
      so all three classes are the same projection;
    - fact added/changed rows re-enter through the CURRENT dimension:
      the dim scan is pre-filtered by a broadcast semi-join on the
      delta's FK set (partition/bucket layouts on ``dim_key`` prune it
      to touched partitions), then the delta-bounded result broadcasts
      into the enrichment join. FK moves need no special case — the
      changed row was evicted and re-enters under its new FK.

    Scale: the view itself is never shuffled (eviction and patch are
    broadcast-side, map-only — plan-gated in tests), the bases are never
    re-joined, and the one dim scan is semi-join-pruned. Cost is
    O(|view| map-side + |delta| + touched-dim): every delta-derived
    frame is a broadcast build side, because a refresh is sized by its
    delta, not by the view. A multi-dimension star denormalization is
    ``star_mv_refresh`` (this is its one-dimension specialization —
    patches compose per dimension, but fact INSERTS must enrich against
    every dimension in one pass, which per-dim calls cannot do).
    Reference analog: none — the reference re-joins its extracts
    monthly end-to-end; this is the engine's shape for keeping a 100 TB
    enriched fact current from CDC.
    """
    return star_mv_refresh(
        mv,
        fact_delta,
        [DimSpec(dim_delta, new_dim, dim_fk, dim_key, dim_cols)],
        fact_key,
    )


@dataclass
class DimSpec:
    """One dimension of a star denormalization (``star_mv_refresh``):
    its CDC delta (None = unchanged this round), the post-change
    dimension (read only for fact inserts), the view's FK column, the
    dimension's key column, and the attribute columns the view carries."""

    delta: DataFrame | None
    new_dim: DataFrame
    fk: str
    key: str
    cols: list[str]


def star_mv_refresh(
    mv: DataFrame,
    fact_delta: DataFrame | None,
    dims: list[DimSpec],
    fact_key: str,
) -> DataFrame:
    """General star form of ``join_mv_refresh``: one fact LEFT-joined to
    N dimensions, maintained from N+1 CDC feeds. Dim PATCHES are
    independent and apply one broadcast map-side pass each; fact
    inserts/changes enrich against EVERY current dimension in one
    chained pass of delta-bounded broadcast joins (each dim scan
    semi-join-pruned by the delta's FK set) — the step a per-dimension
    composition of the two-table operator cannot express, because a
    fresh fact row entering through dim A's call has no source for dim
    B's attributes. Same contracts as ``join_mv_refresh``: LEFT-join
    view, one row per fact key, delta compare-columns covering the
    view's columns, view side never shuffled.
    """
    # Column routing is BY NAME (a view column named in DimSpec.cols is a
    # dim attribute; everything else is fact), so name collisions would
    # silently misroute patch/insert projections — reject them up front.
    seen: dict[str, int] = {}
    for i, d in enumerate(dims):
        for c in d.cols:
            if c in seen:
                raise ValueError(
                    f"star_mv_refresh: column {c!r} claimed by both "
                    f"dims[{seen[c]}] and dims[{i}] — dim attribute "
                    "sets must be disjoint (alias one in the view)"
                )
            seen[c] = i
    all_dim_cols = set(seen)
    fact_cols = [c for c in mv.columns if c not in all_dim_cols]
    for need in [fact_key] + [d.fk for d in dims]:
        if need not in fact_cols:
            raise ValueError(
                f"star_mv_refresh: {need!r} not a fact column of mv "
                "(missing, or shadowed by a DimSpec attribute column)"
            )
    for c in all_dim_cols:
        if c not in mv.columns:
            raise ValueError(
                f"star_mv_refresh: DimSpec column {c!r} not in the view"
            )

    out = mv
    if fact_delta is not None:
        touched = fact_delta.where(
            F.col("change_type").isin("removed", "changed")
        ).select(fact_key)
        out = out.join(F.broadcast(touched), fact_key, "left_anti")

    for d in dims:
        if d.delta is None:
            continue
        patch = d.delta.select(
            F.col(d.key).alias("__jmv_k"),
            F.lit(True).alias("__jmv_hit"),
            *[F.col(f"new_{c}").alias(f"__jmv_{c}") for c in d.cols],
        )
        mine = set(d.cols)
        out = out.join(
            F.broadcast(patch), F.col(d.fk) == F.col("__jmv_k"), "left"
        ).select(
            *[
                F.when(F.col("__jmv_hit"), F.col(f"__jmv_{c}"))
                .otherwise(F.col(c))
                .alias(c)
                if c in mine
                else F.col(c)
                for c in mv.columns
            ]
        )

    if fact_delta is not None:
        fresh = fact_delta.where(
            F.col("change_type").isin("added", "changed")
        ).select(
            F.col(fact_key),
            *[F.col(f"new_{c}").alias(c) for c in fact_cols if c != fact_key],
        )
        for d in dims:
            fks = (
                fresh.select(F.col(d.fk))
                .where(F.col(d.fk).isNotNull())
                .distinct()
            )
            needed = d.new_dim.join(
                F.broadcast(fks), d.new_dim[d.key] == fks[d.fk], "left_semi"
            ).select(F.col(d.key).alias("__jmv_k"), *d.cols)
            fresh = fresh.join(
                F.broadcast(needed), F.col(d.fk) == F.col("__jmv_k"), "left"
            ).drop("__jmv_k")
        out = out.unionByName(fresh.select(*mv.columns))
    return out


def cdc_index_refresh(
    index: DataFrame,
    delta: DataFrame,
    id_col: str,
    payload_col: str,
    recompute_fn,
) -> DataFrame:
    """The shared evict-touched / recompute-fresh / union skeleton of
    the derived-index maintenance operators (LSH bands, IVF cells, PQ
    codes, substring grams — each a pure per-row function of its
    payload): removed and
    changed ids evict their index rows via one delta-bounded anti-join
    (the touched ids are the broadcast build side, so the index is
    filtered map-side and never shuffled), and ``recompute_fn``
    re-derives rows for ONLY the added/changed payloads — the indexed
    corpus is never re-processed. Keeping the eviction semantics here
    means a fix to touched-set handling lands in every index at once.
    """
    touched = delta.where(
        F.col("change_type").isin("removed", "changed")
    ).select(id_col)
    kept = index.join(F.broadcast(touched), id_col, "left_anti")
    fresh = delta.where(F.col("change_type").isin("added", "changed")).select(
        F.col(id_col), F.col(f"new_{payload_col}").alias(payload_col)
    )
    return kept.unionByName(recompute_fn(fresh))
