"""Slowly-changing-dimension (Type 2) operators.

The temporal sibling of the MV-maintenance family (operators/diff.py):
where ``incremental_mv_refresh`` keeps an AGGREGATE current from a CDC
feed, these keep a dimension's FULL HISTORY — every attribute version as
a validity interval ``[valid_from, valid_to)`` with the current version
open-ended (``valid_to`` NULL). Kimball's Type-2 SCD, the standard
warehouse answer to "what was this customer's segment when the order
shipped", resolved downstream by an interval or as-of join
(operators/joins.py).

Two entry points for the two data shapes history arrives in:

- ``scd2_compress``: a raw observation log (key, state columns, ts) →
  intervals, collapsing consecutive identical states. The bootstrap
  path, and the run-length encoding of any per-key state stream.
- ``scd2_apply``: an existing SCD2 dimension + a ``snapshot_delta`` CDC
  batch → the refreshed dimension. The production maintenance path:
  movement is O(|delta|) broadcast into one dimension-sized pass,
  never a rescan of the fact/base side.

Reference analog: none — the reference recomputes monthly extracts from
scratch (SURVEY §2.1); versioned history is engine-side surface the
north star needs at 100 TB, where "recompute the dimension" is cheap
but "recompute every fact join against last quarter's attributes" is
not.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def scd2_compress(
    log: DataFrame,
    keys: Sequence[str],
    state_cols: Sequence[str],
    ts_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Collapse a per-key observation log into Type-2 validity intervals.

    Input rows are observations ``keys + state_cols`` at ``ts_col``;
    output has one row per MAXIMAL run of identical state:
    ``keys + state_cols + valid_from + valid_to`` where ``valid_from``
    is the first observation of the run, ``valid_to`` the start of the
    next run (NULL for the current one). State comparison is null-safe
    (NULL state is a value, not a wildcard).

    Scale: ONE shuffle on ``keys`` feeds both windows (change-detection
    lag and the closing lead share partitioning AND ordering, so
    Catalyst reuses the exchange and the sort); per-key work is a
    linear scan — no self-join, no per-key collect. A key with millions
    of observations is one partition's sort, same as any windowed
    sessionization (operators/sessionize.py uses the identical shape).

    ``tiebreak`` orders observations at the same instant (recommended —
    without it, equal-ts runs collapse in partition-dependent order).
    """
    ks, states = list(keys), list(state_cols)
    order = [F.asc(ts_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*ks).orderBy(*order)
    changed = F.lit(False)
    for c in states:
        prev = F.lag(c).over(w)
        # null-safe "differs from previous": first row has prev NULL for
        # every column, caught by the run-start row_number below
        changed = changed | ~F.col(c).eqNullSafe(prev)
    run_start = (F.row_number().over(w) == 1) | changed
    sel = [*ks, *states, F.col(ts_col).alias("valid_from")]
    if tiebreak:
        sel.append(F.col(tiebreak).alias("__tb"))
    # tag run starts on the ORIGINAL frame (the window references the
    # un-renamed ts/tiebreak columns), then project the interval shape
    runs = log.withColumn("__start", run_start).where(F.col("__start")).select(*sel)
    # the second window runs over the COMPRESSED frame (one row per run),
    # re-using the same key partitioning; the tiebreak rides along so
    # same-instant runs close deterministically
    order2 = [F.asc("valid_from")] + ([F.asc("__tb")] if tiebreak else [])
    w2 = Window.partitionBy(*ks).orderBy(*order2)
    out = runs.withColumn("valid_to", F.lead("valid_from").over(w2))
    return out.drop("__tb") if tiebreak else out


def scd2_apply(
    dim: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    attr_cols: Sequence[str],
    effective_ts: Column,
) -> DataFrame:
    """Apply one ``snapshot_delta`` CDC batch to a Type-2 dimension.

    ``dim`` holds ``keys + attr_cols + valid_from + valid_to`` (NULL
    ``valid_to`` = current). ``delta`` is ``snapshot_delta(old, new,
    keys)`` over the dimension source. Per change class, at the
    ``effective_ts`` instant:

    - ``changed``: the key's current row is CLOSED (``valid_to`` set)
      and a new current row opens with the new attribute values;
    - ``removed``: the current row is closed, nothing opens (the key's
      history ends — a later re-add starts a fresh interval);
    - ``added``: a new current row opens.

    History rows (``valid_to`` already set) are immutable and carried
    verbatim. Applying batches in effective-time order yields the same
    dimension as ``scd2_compress`` over the full observation history —
    pinned in tests.

    Scale: the closing set is always the broadcast build side, because
    a CDC batch is delta-sized, not dimension-sized. So the apply is ONE
    map-side pass over the dimension (a left join against the closing
    set plus a union of delta-sized inserts): the dimension is never
    shuffled and the base/fact side is never read at all.
    """
    ks, attrs = list(keys), list(attr_cols)
    types = dict(dim.dtypes)
    # effective_ts evaluates against the DELTA (so a literal tick and a
    # per-row column like F.col("eff_ts") both work — streaming feeds
    # carry each change's own effective instant); the closing set then
    # CARRIES its tick to the dimension side of the join.
    eff_to = effective_ts.cast(types["valid_to"])
    eff_from = effective_ts.cast(types["valid_from"])
    # snapshot_delta emits the key columns coalesced (one plain column
    # per key), old_/new_ prefixes only on the compared attributes
    closing = F.broadcast(
        delta.where(F.col("change_type").isin("changed", "removed"))
        .select(*ks, eff_to.alias("__close_ts"))
    )
    close_cond = None
    for k in ks:
        eq = dim[k].eqNullSafe(closing[k])
        close_cond = eq if close_cond is None else (close_cond & eq)
    # only CURRENT rows can close; the join flags them, the projection
    # stamps valid_to. A left join (not anti+union) keeps this one pass.
    flagged = dim.join(
        closing,
        close_cond & dim["valid_to"].isNull(),
        "left",
    ).select(
        *[dim[c] for c in dim.columns if c != "valid_to"],
        F.when(
            F.col("__close_ts").isNotNull() & dim["valid_to"].isNull(),
            F.col("__close_ts"),
        )
        .otherwise(dim["valid_to"])
        .alias("valid_to"),
    )
    inserts = delta.where(
        F.col("change_type").isin("changed", "added")
    ).select(
        *ks,
        *[F.col(f"new_{a}").alias(a) for a in attrs],
        eff_from.alias("valid_from"),
        F.lit(None).cast(types["valid_to"]).alias("valid_to"),
    )
    return flagged.unionByName(inserts)
