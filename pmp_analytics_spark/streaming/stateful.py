"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for streaming semantics the built-in windowed/session
aggregations cannot express: arbitrary per-key state carried across
micro-batches, with the user function seeing each key's batch as pandas.
Here: a per-group bottom-k distinct-hash (KMV) sketch that lands on the
batch answer under any micro-batch slicing of the input — the shape of
online distinct counts over a 100 TB event stream.

Scale notes: state lives in the state store keyed by group — one shuffle
on the grouping key per batch; state size is O(k) per group, bounded by
eviction (``GroupStateTimeout``) in a real deployment. The pandas hop is
per (key, batch) — Arrow-batched, never per row.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType


def kmv_bottomk_stream(hashed: DataFrame, group_cols: list[str], k: int = 256) -> DataFrame:
    """Streaming KMV: per-group bottom-k distinct-hash state across
    micro-batches via ``applyInPandasWithState``.

    ``hashed`` is a streaming ``(group_cols..., hv)`` frame from
    ``operators.sketches.kmv_hash_frame`` — hashing happens JVM-side
    BEFORE the stateful hop so stream and batch sketches are
    bit-identical. Bottom-k merges monotonically (bottom-k of a union =
    bottom-k of bottom-k(A) ∪ B), so state stays O(k) per group no
    matter how many rows stream through, and any micro-batch slicing
    lands on the batch ``kmv_sketch`` answer.

    Emits, per group touched in a batch (update mode): the current
    sorted bottom-k array plus ``version`` — the monotone count of rows
    ingested for the group, so a consumer holding updates from several
    batches (or across a restart) keeps the max-version row per group.
    Restart recovery rides the checkpointed state store; pinned by
    tests/test_sketches.py::test_streaming_kmv_state_survives_restart.
    """
    from pyspark.sql.types import ArrayType

    state_schema = StructType(
        [
            StructField("hvs", ArrayType(LongType())),
            StructField("n_rows", LongType()),
        ]
    )
    out_fields = [
        StructField(c, next(f.dataType for f in hashed.schema.fields if f.name == c))
        for c in group_cols
    ]
    out_schema = StructType(
        out_fields
        + [StructField("hvs", ArrayType(LongType())), StructField("version", LongType())]
    )

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        hvs, n = (list(state.get[0]), state.get[1]) if state.exists else ([], 0)
        seen = set(hvs)
        for pdf in pdfs:
            n += len(pdf)
            seen.update(int(v) for v in pdf["hv"])
        best = sorted(seen)[:k]
        state.update((best, n))
        row = {c: [key[i]] for i, c in enumerate(group_cols)}
        row["hvs"] = [best]
        row["version"] = [n]
        yield pd.DataFrame(row)

    return hashed.groupBy(*group_cols).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
