"""Deequ-shaped data-quality constraint suite.

A training-data pipeline gates every table it consumes behind declarative
constraints (completeness, uniqueness, ranges, value domains, referential
integrity) — the Deequ / Great Expectations role. The scale design rule
is the same one Deequ follows: N constraints must NOT mean N scans.

- All row-local and aggregate constraints compile into ONE ``agg`` pass
  over the table (each check is a JVM-side aggregate expression; adding a
  check adds a column to the same pass, not a job). Uniqueness uses
  ``count_distinct`` — multiple distinct aggregates in one pass go
  through Spark's Expand (one extra row per distinct spec map-side),
  which is the documented cost of exact uniqueness.
- Referential integrity is the one constraint that inherently needs the
  other table: one broadcast-able anti-join count per foreign key.

The report comes back as a long-format DataFrame (check, metric, passed)
— the 1-row wide aggregate is unpivoted driver-free via a literal
explode, so the whole report is still a single job.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Check:
    """One constraint: ``metric_expr`` evaluates on the single agg pass;
    ``passed`` is ``at_least <= metric <= at_most`` over whichever bounds
    are set (completeness-style ratios use at_least=1.0; freshness-style
    lags use at_most)."""

    name: str
    metric_expr: Column
    at_least: float | None = None
    at_most: float | None = None

    def passed_expr(self, metric: Column) -> Column:
        ok = F.lit(True)
        if self.at_least is not None:
            ok = ok & (metric >= F.lit(self.at_least))
        if self.at_most is not None:
            ok = ok & (metric <= F.lit(self.at_most))
        return ok


def completeness(col: str) -> Check:
    return Check(
        f"completeness({col})",
        F.avg(F.col(col).isNotNull().cast("double")),
        1.0,
    )


def uniqueness(col: str) -> Check:
    """Exact: the distinct count over the row count must be 1.0."""
    return Check(
        f"uniqueness({col})",
        F.count_distinct(F.col(col)).cast("double") / F.count(F.lit(1)),
        1.0,
    )


def _compliance(ok: Column) -> Column:
    """Fraction of rows satisfying ``ok``, with NULL predicate results
    (null inputs) counted as NON-compliant — a bare avg would silently
    drop them from the denominator."""
    return F.avg(F.coalesce(ok.cast("double"), F.lit(0.0)))


def in_range(col: str, lo: float, hi: float) -> Check:
    return Check(
        f"in_range({col})",
        _compliance((F.col(col) >= lo) & (F.col(col) <= hi)),
        1.0,
    )


def accepted_values(col: str, values: list[str]) -> Check:
    return Check(
        f"accepted_values({col})",
        _compliance(F.col(col).isin(values)),
        1.0,
    )


def matches(col: str, pattern: str) -> Check:
    return Check(
        f"matches({col})",
        _compliance(F.col(col).rlike(pattern)),
        1.0,
    )


def min_size(n: int) -> Check:
    return Check("min_size", F.count(F.lit(1)).cast("double"), float(n))


def freshness(col: str, max_age_hours: float, as_of: str) -> Check:
    """The reference's input-freshness gate (files.warn_file_age at
    delinquent_data_submitters.py:481-487 et al.) as a DATA check: hours
    between ``as_of`` (an ISO timestamp pinned by the caller — injected,
    never wall-clock, so runs are reproducible) and the newest value of
    ``col`` must not exceed ``max_age_hours``. An empty/all-null column
    yields a NULL metric → fails (never silently passes)."""
    lag_h = (
        F.unix_timestamp(F.lit(as_of).cast("timestamp"))
        - F.unix_timestamp(F.max(F.col(col)))
    ) / 3600.0
    return Check(f"freshness({col})", lag_h, at_most=max_age_hours)


def check_report(
    df: DataFrame,
    checks: list[Check],
    foreign_keys: dict[str, tuple[DataFrame, str]] | None = None,
) -> DataFrame:
    """Evaluate ``checks`` in one aggregate pass (plus one anti-join count
    per entry of ``foreign_keys``: fact col → (dim frame, dim col)) and
    return (check_name, metric, passed) rows, metric rounded to 6 decimals.

    A foreign-keys-only report (``checks == []``) is supported — the agg
    pass is skipped and the report is just the anti-join rows. Both
    empty is a caller error (a no-op "report" would read as all-green)."""
    if not checks and not foreign_keys:
        raise ValueError("check_report needs at least one check or foreign key")
    reports: list[DataFrame] = []
    if checks:
        agg = df.agg(
            *[
                F.round(c.metric_expr, 6).alias(f"m{i}")
                for i, c in enumerate(checks)
            ]
        )
        # One row -> long format via a literal explode ON the agg row: a
        # union of N selects over the agg would plant N copies of the
        # aggregate subtree (Catalyst does not CSE across union branches)
        # — N table scans for N checks, the exact thing this operator
        # exists to avoid.
        wide = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c.name).alias("check_name"),
                            F.col(f"m{i}").alias("metric"),
                            F.coalesce(
                                c.passed_expr(F.col(f"m{i}")), F.lit(False)
                            ).alias("passed"),
                        )
                        for i, c in enumerate(checks)
                    ]
                )
            ).alias("r")
        ).select("r.*")
        reports.append(wide)
    for col, (dim, dim_col) in (foreign_keys or {}).items():
        orphans = (
            df.select(F.col(col).alias("__fk"))
            .where(F.col("__fk").isNotNull())
            .join(
                F.broadcast(dim.select(F.col(dim_col).alias("__fk")).distinct()),
                "__fk",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).cast("double").alias("m"))
        )
        reports.append(
            orphans.select(
                F.lit(f"referential_integrity({col})").alias("check_name"),
                F.col("m").alias("metric"),
                (F.col("m") == 0).alias("passed"),
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


@dataclass(frozen=True)
class RowRule:
    """A row-level constraint for quarantine routing: ``ok`` is a boolean
    Column; NULL evaluations count as failures (same posture as
    ``_compliance``)."""

    name: str
    ok: Column


def quarantine(
    df: DataFrame, rules: list[RowRule], reason_col: str = "reasons"
) -> tuple[DataFrame, DataFrame]:
    """Split ``df`` into (clean, quarantined) — the dead-letter routing a
    pipeline runs before consuming a table: clean rows flow on, failing
    rows carry a ``reasons`` array naming every rule they broke (rule
    declaration order), for triage or reprocessing.

    One map-side projection tags each row; both returned frames filter
    the same tagged plan (no shuffle, no join — a writer materializing
    both sides pays two scans of the source, the unavoidable cost of two
    outputs; cache the tagged frame between them if the source re-read
    is expensive)."""
    if reason_col in df.columns:
        raise ValueError(
            f"input already has a {reason_col!r} column — pass reason_col= "
            "to avoid silently overwriting it (quarantined rows fed back "
            "through a pipeline are exactly when this collision happens)"
        )
    reasons = F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(r.ok, F.lit(False)), F.lit(r.name))
                for r in rules
            ]
        )
    )
    tagged = df.withColumn(reason_col, reasons)
    clean = tagged.where(F.size(reason_col) == 0).drop(reason_col)
    bad = tagged.where(F.size(reason_col) > 0)
    return clean, bad


def record_metrics(report: DataFrame, run_id: str, history_path: str) -> None:
    """Append a run's check_report rows to the metric history log (the
    Deequ metrics-repository role) — plain ``append_log`` semantics, one
    small file per run, compactable with ``operators.maintenance``. Rows
    carry ``recorded_at`` so the anomaly gate can scope its baseline to
    runs recorded BEFORE the one under test."""
    from pmp_analytics_spark.sources.writers import append_log

    stamped = report.withColumn("run_id", F.lit(run_id)).withColumn(
        "recorded_at", F.current_timestamp()
    )
    append_log(stamped, history_path)


def metric_anomalies(
    history: DataFrame, current_run: str, n_sigma: float = 3.0
) -> DataFrame:
    """Flag checks whose CURRENT metric deviates more than ``n_sigma``
    sample standard deviations from that check's PRIOR runs — the
    anomaly gate that catches a feed going quietly wrong (completeness
    drifting 1.0 → 0.97) even while absolute thresholds still pass.

    "Prior" means runs whose ``recorded_at`` precedes the current run's —
    NOT merely every other run: re-checking an old run (backfill, audit)
    must not let later runs contaminate its baseline (a later collapse
    inflates sigma and silently un-flags a genuine anomaly in the run
    under test). One aggregate over prior runs (grouped by check,
    O(#checks) rows) broadcast-joined to the current run's rows. Checks
    with fewer than 2 prior runs, or zero prior variance and an
    exactly-equal current value, are not flagged; zero variance with a
    differing value is ALWAYS flagged (any change from a historically
    constant metric is signal, and n_sigma cannot scale a zero stddev)."""
    cur_start = (
        history.where(F.col("run_id") == F.lit(current_run))
        .agg(F.min("recorded_at"))
        .first()[0]
    )
    if cur_start is None:
        raise ValueError(f"run {current_run!r} not present in the history")
    prior = (
        history.where(
            (F.col("run_id") != F.lit(current_run))
            & (F.col("recorded_at") < F.lit(cur_start))
        )
        .groupBy("check_name")
        .agg(
            F.avg("metric").alias("mu"),
            F.stddev_samp("metric").alias("sigma"),
            F.count(F.lit(1)).alias("n_prior"),
        )
    )
    cur = history.where(F.col("run_id") == F.lit(current_run))
    joined = cur.join(F.broadcast(prior), "check_name", "inner").where(
        F.col("n_prior") >= 2
    )
    dev = F.abs(F.col("metric") - F.col("mu"))
    return joined.where(
        F.when(F.col("sigma") == 0, dev > 0).otherwise(
            dev > F.lit(n_sigma) * F.col("sigma")
        )
    ).select(
        "check_name",
        "metric",
        F.round("mu", 6).alias("prior_mean"),
        F.round("sigma", 6).alias("prior_stddev"),
        "n_prior",
    )


def suggest_checks(
    df: DataFrame, domain_max_distinct: int = 10
) -> list[Check]:
    """Profile ``df`` and propose constraints its CURRENT state satisfies
    (the Deequ constraint-suggestion role — a starting point a human
    reviews, since observed invariants are not always intended ones):
    completeness for null-free columns, uniqueness for EXACTLY-unique
    null-free columns, observed min/max ranges for numerics, and
    accepted_values domains for null-free low-cardinality strings.

    Cost: TWO aggregate passes total, regardless of column count. Pass 1
    profiles every column (null counts, rsd-0.01 approx distinct,
    min/max). Pass 2 verifies only the sketch-shortlisted candidates —
    EXACT count_distinct for key-like columns (the approx sketch alone
    would suggest uniqueness a near-unique column then fails) and one
    bounded collect_set per low-cardinality domain column — so every
    suggested check passes on the data it was profiled from."""
    import math

    num_types = {"int", "bigint", "smallint", "tinyint", "double", "float"}
    aggs, total = [], F.count(F.lit(1)).alias("__n")
    for f in df.schema.fields:
        c = f.name
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
            F.approx_count_distinct(c, 0.01).alias(f"{c}__adist"),
        ]
        if f.dataType.simpleString() in num_types:
            aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    prof = df.agg(total, *aggs).first()
    n = prof["__n"]

    def null_free(c):
        return n and prof[f"{c}__nulls"] == 0

    key_candidates = [
        f.name
        for f in df.schema.fields
        if null_free(f.name) and prof[f"{f.name}__adist"] >= 0.98 * n
    ]
    domain_candidates = [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() == "string"
        # accepted_values counts NULL as non-compliant, so only a
        # null-free column can be promised its observed domain
        and null_free(f.name)
        and prof[f"{f.name}__adist"] <= domain_max_distinct
    ]
    verify = {}
    if key_candidates or domain_candidates:
        verify = df.agg(
            *[F.count_distinct(F.col(c)).alias(f"{c}__xdist") for c in key_candidates],
            *[F.collect_set(c).alias(f"{c}__vals") for c in domain_candidates],
        ).first().asDict()

    def float_bounds(lo, hi):
        # float() of an int64 beyond 2^53 can round INWARD, producing a
        # range the profiled data itself violates — pad outward.
        flo, fhi = float(lo), float(hi)
        if flo > lo:
            flo = math.nextafter(flo, -math.inf)
        if fhi < hi:
            fhi = math.nextafter(fhi, math.inf)
        return flo, fhi

    out: list[Check] = []
    for f in df.schema.fields:
        c = f.name
        if null_free(c):
            out.append(completeness(c))
        if c in key_candidates and verify.get(f"{c}__xdist") == n:
            out.append(uniqueness(c))
        # in_range (like accepted_values) counts NULL as non-compliant,
        # so a null-bearing column could never pass its own suggestion
        if f.dataType.simpleString() in num_types and null_free(c):
            lo, hi = prof[f"{c}__min"], prof[f"{c}__max"]
            if lo is not None:
                out.append(in_range(c, *float_bounds(lo, hi)))
        elif c in domain_candidates:
            vals = verify.get(f"{c}__vals") or []
            if 0 < len(vals) <= domain_max_distinct:
                out.append(accepted_values(c, sorted(vals)))
    return out
