"""Zero-extra-pass data-quality metrics via ``DataFrame.observe``.

The reference's scripts re-scan their frames to log row counts and null
rates around each pipeline stage (e.g. the height/shape prints sprinkled
through /root/reference/awarxe_cleanup.py and the sanity counts in
/root/reference/delinquent_data_submitters.py). At 100 TB a second scan
per metric is the difference between one pass and N passes — Spark's
observation API instead attaches aggregate expressions to the plan and
collects them AS A SIDE EFFECT of whatever action runs: the metrics ride
the same tasks, same scan, zero extra jobs.

Batch-only here (streaming queries surface the same metrics through
``StreamingQueryProgress.observedMetrics``; the streaming paths in
``streaming/`` already expose progress via ``run_to_memory``'s returned
query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation


def observed_quality(
    df: DataFrame, null_cols: list[str] | None = None
) -> tuple[DataFrame, Observation]:
    """Attach row-count + per-column null-count observations to ``df``.

    Returns ``(df_with_observation, observation)``; run any action on
    the returned frame (write, count, collect), then read
    ``observation.get`` — a dict with ``n_rows`` and ``nulls_<col>``
    for each requested column. The metrics are computed by the SAME
    tasks that execute the action: no second scan, no extra job, which
    is the only acceptable cost model for per-stage counters at scale.

    The observation is single-use (Spark contract): attach a fresh one
    per action.
    """
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_cols or []:
        metrics.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}")
        )
    obs = Observation()
    return df.observe(obs, *metrics), obs
