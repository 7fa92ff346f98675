"""Exact heavy hitters at bounded shuffle: Misra-Gries candidate prune
followed by an exact verification pass.

Why this shape at 100 TB: the naive ``GROUP BY item HAVING count >
phi*n`` shuffles EVERY distinct item to its reducer — at billions of
distinct items (n-grams, URLs, user agents) the exchange carries the
full vocabulary even though only a handful of items can possibly clear
the threshold.  The classic streaming fix (Misra & Gries, "Finding
repeated elements", Sci. Comput. Program. 1982; mergeability per
Agarwal, Cormode, Huang, Phillips, Wei, Yi, "Mergeable summaries",
PODS 2012) keeps at most ``m`` counters per partition: any item whose
GLOBAL frequency exceeds ``n/(m+1)`` must exceed ``n_p/(m+1)`` in at
least one partition (if it fell below that bound in every partition its
total would be below ``sum(n_p)/(m+1) = n/(m+1)``), and a Misra-Gries
summary of capacity ``m`` provably retains every item above its
partition's ``n_p/(m+1)`` bound.  So the UNION of the per-partition
summaries is a superset of the true heavy hitters — no false negatives
— and a second pass counts ONLY those candidates exactly (broadcast
semi-join pruned at the scan, map-side partial agg), making the final
output exact and partitioning-independent even though the intermediate
summaries are not.

Two passes, both cheap:
  pass 1  mapInPandas, one MG dict of <= m counters per partition; the
          exchange carries <= m rows * partitions, never the vocabulary;
  pass 2  broadcast the candidate set back into a filtered exact count
          (threshold compare in exact integer arithmetic: cnt*den >
          num*n, no float boundary games).

The output is therefore EXACTLY ``GROUP BY item HAVING cnt*den >
num*n`` — which is what the DuckDB oracle states directly.

Reference parity anchor: the reference's count-and-cut idiom — rank by
dispensation count, keep the TOP_PRESCRIBERS head
(/root/reference/mu_extras.py:100,164 with the cut constant at
/root/reference/constants.py:5) — this operator is its bounded-memory
form for vocabularies that don't fit a reducer.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_partial(values: Iterator[pd.Series], capacity: int) -> dict:
    """Fold an iterator of pandas Series into one Misra-Gries summary
    dict of at most ``capacity`` counters.  Pure Python on purpose: the
    loop is per-DISTINCT-value-per-batch (a Counter merge), not per-row
    — each Arrow batch is pre-collapsed by ``value_counts`` so the hot
    path stays vectorized."""
    counters: dict = {}
    for chunk in values:
        for item, cnt in chunk.value_counts().items():
            cnt = int(cnt)
            if item in counters:
                counters[item] += cnt
                continue
            if len(counters) < capacity:
                counters[item] = cnt
                continue
            # Decrement-all by the largest amount that keeps the invariant:
            # min(new item's count, smallest existing counter).  Evict zeros.
            dec = min(cnt, min(counters.values()))
            counters = {k: v - dec for k, v in counters.items() if v > dec}
            if cnt > dec and len(counters) < capacity:
                counters[item] = cnt - dec
    return counters


def heavy_hitters(
    items: DataFrame,
    item_col: str,
    phi_num: int,
    phi_den: int,
) -> DataFrame:
    """Items whose exact count exceeds ``(phi_num/phi_den) * n`` (strict),
    with their exact counts: columns ``(item, cnt, total)``.

    Each partition keeps ``ceil(phi_den/phi_num)`` Misra-Gries counters —
    the smallest m with ``1/(m+1) < phi``, which is what makes the
    candidate union lossless.
    """
    cap = -(-phi_den // phi_num)  # ceil

    vals = items.select(F.col(item_col).cast("string").alias("item")).where(
        F.col("item").isNotNull()
    )

    # Pass 1 carries BOTH outputs of the scan — the MG candidate items
    # (ptotal 0) and one sentinel row per partition holding its row
    # count (item NULL) — so the exact total needs no third pass over
    # the (possibly explode-derived) item stream.
    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0

        def counted():
            nonlocal n
            for b in batches:
                n += len(b["item"])
                yield b["item"]

        counters = misra_gries_partial(counted(), cap)
        yield pd.DataFrame(
            {
                "item": list(counters.keys()) + [None],
                "ptotal": [0] * len(counters) + [n],
            }
        )

    summary = vals.mapInPandas(
        summarize, schema="item string, ptotal long"
    ).localCheckpoint(eager=True)
    candidates = summary.where(F.col("item").isNotNull()).select("item").distinct()
    total = summary.agg(F.sum("ptotal").alias("total"))

    exact = (
        vals.join(F.broadcast(candidates), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .where(F.col("cnt") * F.lit(phi_den) > F.lit(phi_num) * F.col("total"))
    )
    return exact.select("item", "cnt", "total")
