"""Sketch + partial-reaggregation query pack: deterministic HyperLogLog
cardinality (batch AND as streaming state), count-min heavy hitters,
KMV set-operation overlap, Bloom-filter ingest pre-filtering, and a
continuous-aggregate-style cascaded rollup. These are the
bounded-state forms of the exact
distinct/frequency/rollup queries the rest of the registry runs — the
operators a 100 TB deployment swaps in when ``COUNT(DISTINCT)`` and
per-key counting become the dominant shuffle (see operators/sketches.py
for the scale/mergeability argument and the published basis).

Every query here is fully oracle-checked: the DuckDB SQL replays the
identical md5-family hash, the identical integer register/counter math,
and the identical branch predicates, so the sketch STATE (not just the
estimate) hash-matches across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.sketches import (
    HASH_BITS,
    cms_estimate,
    cms_oracle_sql,
    cms_sketch,
    ddsketch_oracle_sql,
    hll_cardinality,
    hll_finalize,
    hll_oracle_sql,
    kmv_cardinality,
    kmv_sketch,
)
from pmp_analytics_spark.queries.registry import ORACLE, query
from pmp_analytics_spark.sources.reader import load_table


# --------------------------------------------------------------------------
# Q: event_cardinality_hll — per-event-type HyperLogLog distinct counts
# next to their exact values, for BOTH a low-cardinality key (user_id:
# exercises the linear-counting small-range branch) and a
# high-cardinality key (event_id: exercises the raw harmonic-mean
# branch). The oracle replays register construction bit-for-bit and the
# result carries the integer sketch state (_s denominator, _v empty
# registers) so the hash check pins the registers, not just the rounded
# estimate. Scale shape: two shuffles bounded by m=256 rows per group —
# vs COUNT(DISTINCT)'s shuffle of every distinct key.
# --------------------------------------------------------------------------
_HLL_P = 8


@query(
    "event_cardinality_hll",
    f"""
    WITH __u AS (
        {hll_oracle_sql("CAST(user_id AS VARCHAR)", ["event_type"], "events", _HLL_P, "users_hll")}
    ), __e AS (
        {hll_oracle_sql("CAST(event_id AS VARCHAR)", ["event_type"], "events", _HLL_P, "events_hll")}
    ), __x AS (
        SELECT event_type,
               COUNT(DISTINCT user_id) AS users_exact,
               COUNT(DISTINCT event_id) AS events_exact
        FROM events GROUP BY 1
    )
    SELECT x.event_type,
           x.users_exact, u.users_hll, u.users_hll_s, u.users_hll_v,
           x.events_exact, e.events_hll, e.events_hll_s, e.events_hll_v
    FROM __x x
    JOIN __u u ON x.event_type = u.event_type
    JOIN __e e ON x.event_type = e.event_type
    """,
)
def event_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("users_exact"),
        F.countDistinct("event_id").alias("events_exact"),
    )
    users = hll_cardinality(ev, "user_id", ["event_type"], p=_HLL_P, est_col="users_hll")
    events = hll_cardinality(
        ev, "event_id", ["event_type"], p=_HLL_P, est_col="events_hll"
    )
    return (
        exact.join(users, "event_type")
        .join(events, "event_type")
        .select(
            "event_type",
            "users_exact",
            "users_hll",
            "users_hll_s",
            "users_hll_v",
            "events_exact",
            "events_hll",
            "events_hll_s",
            "events_hll_v",
        )
    )


# --------------------------------------------------------------------------
# Q: event_heavy_hitters_cms — count-min-sketch heavy hitters: per-user
# event frequencies estimated from a d=4 x w=512 counter sketch, keys
# whose ESTIMATE clears 1.2x the average-per-key threshold reported next
# to their true counts (overcount >= 0 always, by the CMS one-sided
# guarantee). The sketch build shuffles at most d*w cells per partition
# (map-side partial sum); the point-query side broadcasts the <= 2048-row
# sketch. Threshold is relative (1.2 x total/candidates) so the query is
# scale-stable across sf. Pure integer math -> exact oracle.
# --------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 512


@query(
    "event_heavy_hitters_cms",
    f"""
    WITH __est AS (
        {cms_oracle_sql("user_id", "events", _CMS_D, _CMS_W, "est_count")}
    ), __true AS (
        SELECT CAST(user_id AS VARCHAR) AS k, user_id, COUNT(*) AS true_count
        FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ), __tot AS (
        SELECT COUNT(*) AS total, COUNT(DISTINCT user_id) AS ncand
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT t.user_id, e.est_count, t.true_count,
           e.est_count - t.true_count AS overcount
    FROM __est e
    JOIN __true t ON e.k = t.k
    CROSS JOIN __tot
    WHERE e.est_count >= 1.2 * (CAST(total AS DOUBLE) / ncand)
    """,
)
def event_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    sketch = cms_sketch(ev, "user_id", d=_CMS_D, w=_CMS_W)
    true_counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimate(
        sketch, true_counts.select("user_id"), "user_id", d=_CMS_D, w=_CMS_W
    )
    totals = ev.agg(
        F.count(F.lit(1)).alias("__total"),
        F.countDistinct("user_id").alias("__ncand"),
    )
    return (
        est.join(true_counts, "user_id")
        .crossJoin(F.broadcast(totals))
        .where(
            F.col("est_count")
            >= F.lit(1.2) * (F.col("__total").cast("double") / F.col("__ncand"))
        )
        .select(
            "user_id",
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Q: streaming_user_cardinality_hll — the HLL register array AS STREAMING
# STATE: the register build (groupBy type+register, max rho) is the
# stream's one stateful aggregation, drained per micro-batch into the
# sink; the estimate finalizes BATCH-SIDE over the drained registers.
# Because register max is associative/commutative, any micro-batch
# split of the input yields byte-identical registers — so the oracle is
# simply the BATCH HLL replay, and a pytest forces a multi-batch run to
# pin the equivalence. This is the production shape for streaming
# distinct counts: per-key dedup state (dropDuplicates) grows with the
# keyspace; register state is fixed at m rows per group forever.
# --------------------------------------------------------------------------
@query(
    "streaming_user_cardinality_hll",
    hll_oracle_sql("CAST(user_id AS VARCHAR)", ["event_type"], "events", _HLL_P, "users_hll"),
)
def streaming_user_cardinality_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.operators.sketches import hll_registers
    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory

    name = f"stream_hll_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir)
    regs = hll_registers(
        stream.select("event_type", "user_id"), "user_id", ["event_type"], p=_HLL_P
    )
    run_to_memory(regs, name, state_partitions=8)
    return hll_finalize(spark.table(name), ["event_type"], p=_HLL_P, est_col="users_hll")


# --------------------------------------------------------------------------
# Q: event_audience_overlap_kmv — KMV (bottom-k) sketch SET-OPERATION
# estimates: for every pair of event types, the union / intersection of
# their "active user-day" audiences estimated from two 256-hash
# sketches. This is the sketch HLL cannot be: the bottom-k hash set is
# a uniform sample of the key space, so the merged sketch estimates the
# union ((k-1)*2^60/h_(k)) and the matching fraction inside it
# estimates the intersection (Beyer et al., SIGMOD 2007). The query is
# deliberately SKETCH-ONLY: at 100 TB an exact arm would self-join the
# full distinct user-day universe — the precise shuffle the sketch
# exists to avoid — so exact-vs-estimate validation lives in
# tests/test_sketches.py (test_kmv_overlap_estimates_near_exact), not
# in the production shape. Integer sketch state (union_seen,
# inter_in_sketch) rides along so the oracle pins the sketches, not
# just the rounded estimates.
# --------------------------------------------------------------------------
_KMV_K = 256
_KMV_NUM = repr(float(_KMV_K - 1) * float(1 << HASH_BITS))
_DUCK_UDAY = (
    "CAST(user_id AS VARCHAR) || '|' || CAST(CAST(ts AS DATE) AS VARCHAR)"
)


@query(
    "event_audience_overlap_kmv",
    f"""
    WITH __base AS (
        SELECT DISTINCT event_type, {_DUCK_UDAY} AS uday
        FROM events WHERE user_id IS NOT NULL
    ), __dh AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || SUBSTRING(MD5(uday), 1, 15)) AS BIGINT) AS hv
        FROM __base
    ), __sk AS (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS r
        FROM __dh QUALIFY r <= {_KMV_K}
    ), __pairs AS (
        SELECT a.event_type AS et_a, b.event_type AS et_b
        FROM (SELECT DISTINCT event_type FROM __base) a
        JOIN (SELECT DISTINCT event_type FROM __base) b
          ON a.event_type < b.event_type
    ), __u AS (
        SELECT DISTINCT et_a, et_b, hv FROM (
            SELECT p.et_a, p.et_b, s.hv FROM __pairs p
            JOIN __sk s ON s.event_type = p.et_a
            UNION ALL
            SELECT p.et_a, p.et_b, s.hv FROM __pairs p
            JOIN __sk s ON s.event_type = p.et_b
        )
    ), __merged AS (
        SELECT et_a, et_b, hv,
               ROW_NUMBER() OVER (PARTITION BY et_a, et_b ORDER BY hv) AS r
        FROM __u QUALIFY r <= {_KMV_K}
    ), __flagged AS (
        SELECT m.et_a, m.et_b, m.hv, m.r,
               CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL THEN 1 ELSE 0 END AS in_both
        FROM __merged m
        LEFT JOIN __sk sa ON sa.event_type = m.et_a AND sa.hv = m.hv
        LEFT JOIN __sk sb ON sb.event_type = m.et_b AND sb.hv = m.hv
    ), __skagg AS (
        SELECT et_a, et_b,
               COUNT(*) AS union_seen,
               CAST(SUM(in_both) AS BIGINT) AS inter_in_sketch,
               MAX(CASE WHEN r = {_KMV_K} THEN hv END) AS hk
        FROM __flagged GROUP BY 1, 2
    ), __est AS (
        SELECT et_a, et_b, union_seen, inter_in_sketch,
               ROUND(CASE WHEN union_seen < {_KMV_K} THEN CAST(union_seen AS DOUBLE)
                          ELSE {_KMV_NUM} / CAST(hk AS DOUBLE) END, 2) AS est_union
        FROM __skagg
    )
    SELECT et_a, et_b, union_seen, inter_in_sketch, est_union,
           ROUND((CAST(inter_in_sketch AS DOUBLE) / union_seen) * est_union, 2)
               AS est_inter
    FROM __est
    """,
)
def event_audience_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    # `base` feeds the sketch build and the type inventory; `sk` feeds
    # the merged-union arm and both membership probes — cache each so
    # the events scan + distinct runs once, not per join arm.
    base = ev.select(
        "event_type",
        F.concat_ws("|", F.col("user_id"), F.to_date("ts")).alias("uday"),
    ).distinct().cache()
    sk = kmv_sketch(base, "uday", ["event_type"], k=_KMV_K).cache()
    types = base.select("event_type").distinct()
    pairs = (
        types.select(F.col("event_type").alias("et_a"))
        .crossJoin(types.select(F.col("event_type").alias("et_b")))
        .where(F.col("et_a") < F.col("et_b"))
    )
    ska = sk.select(F.col("event_type").alias("et_a"), "hv")
    skb = sk.select(F.col("event_type").alias("et_b"), "hv")
    merged_raw = (
        pairs.join(ska, "et_a").select("et_a", "et_b", "hv")
        .unionByName(pairs.join(skb, "et_b").select("et_a", "et_b", "hv"))
        .distinct()
    )
    w_m = Window.partitionBy("et_a", "et_b").orderBy(F.asc("hv"))
    # cached: the union estimator (kmv_cardinality) and the membership
    # flags both consume the merged sketch — uncached, the pair-union
    # distinct + bottom-k window recompute per consumer
    merged = (
        merged_raw.withColumn("r", F.row_number().over(w_m))
        .where(F.col("r") <= _KMV_K)
        .cache()
    )
    flagged = (
        merged.join(ska.withColumn("__ina", F.lit(1)), ["et_a", "hv"], "left")
        .join(skb.withColumn("__inb", F.lit(1)), ["et_b", "hv"], "left")
        .select(
            "et_a",
            "et_b",
            "hv",
            "r",
            (
                (F.col("__ina").isNotNull() & F.col("__inb").isNotNull()).cast("int")
            ).alias("in_both"),
        )
    )
    # the merged frame IS a kmv_sketch-shaped frame keyed by the pair —
    # the union estimate comes from the OPERATOR's estimator, not an
    # inline re-statement that could drift from it
    card = kmv_cardinality(merged, ["et_a", "et_b"], k=_KMV_K, est_col="est_union")
    inter = flagged.groupBy("et_a", "et_b").agg(
        F.sum("in_both").alias("inter_in_sketch")
    )
    skagg = card.select(
        "et_a", "et_b", "est_union", F.col("n_seen").alias("union_seen")
    ).join(inter, ["et_a", "et_b"])
    return skagg.select(
        "et_a",
        "et_b",
        "union_seen",
        "inter_in_sketch",
        "est_union",
        # intersection = matching fraction of the merged sketch times
        # the PUBLISHED union estimate (the operator's rounded value,
        # so query and operator cannot disagree about the union)
        F.round(
            (F.col("inter_in_sketch").cast("double") / F.col("union_seen"))
            * F.col("est_union"),
            2,
        ).alias("est_inter"),
    )


# --------------------------------------------------------------------------
# Q: event_rollup_cascade — continuous-aggregate-style cascaded rollup
# (the hypertable pattern): daily per-type stats REAGGREGATED from
# hourly partials rather than from raw rows — sum of partial sums,
# min/max of partial min/max, count of partial counts, hour coverage as
# a free by-product. At 100 TB the hourly layer is the materialized
# rollup each micro-batch maintains incrementally; the daily (weekly,
# monthly...) layers then read partials, never raw events — the oracle
# replays the same two-stage tree so the float summation shape matches.
# --------------------------------------------------------------------------
@query(
    "event_rollup_cascade",
    """
    WITH __hourly AS (
        SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_s,
               CAST(EPOCH(DATE_TRUNC('day', ts)) AS BIGINT) AS day_s,
               event_type,
               COUNT(*) AS n,
               SUM(value) AS vsum,
               MIN(value) AS vmin,
               MAX(value) AS vmax
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT day_s, event_type,
           CAST(SUM(n) AS BIGINT) AS n_events,
           COUNT(*) AS n_hours,
           ROUND(SUM(vsum), 2) AS total_value,
           ROUND(MIN(vmin), 6) AS min_value,
           ROUND(MAX(vmax), 6) AS max_value
    FROM __hourly
    GROUP BY 1, 2
    """,
)
def event_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s"),
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("vsum"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return hourly.groupBy("day_s", "event_type").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
        F.round(F.sum("vsum"), 2).alias("total_value"),
        F.round(F.min("vmin"), 6).alias("min_value"),
        F.round(F.max("vmax"), 6).alias("max_value"),
    )


# --------------------------------------------------------------------------
# Q: docs_bloom_prefilter — Bloom-filter ingest pre-filter: the corpus
# side's text fingerprints set a 2^16-bit / 6-hash filter (a <= mbits-row
# DISTINCT position frame, mergeable day-over-day by union+distinct);
# the incoming batch (docs_incremental_ingest's src15..19 split) probes
# it with a broadcast join and reports each doc's bloom verdict next to
# the exact membership truth — bloom_hit >= is_dup on every row (no
# false negatives, the one-sided Bloom guarantee; a false POSITIVE shows
# up as bloom_hit=1, is_dup=0). At 100 TB this is the shape that makes
# incremental dedup cheap: the exact fp anti-join runs only on bloom
# hits, and the filter is fixed-size state however large the corpus.
# --------------------------------------------------------------------------
_BLOOM_MBITS = 1 << 16
_BLOOM_D = 6
_BLOOM_BATCH = "('src15', 'src16', 'src17', 'src18', 'src19')"
_BLOOM_POS = (
    "CAST(('0x' || SUBSTRING(MD5(CAST(i AS VARCHAR) || '|' || fp), 1, 15)) "
    f"AS BIGINT) % {_BLOOM_MBITS}"
)


@query(
    "docs_bloom_prefilter",
    f"""
    WITH __batch AS (
        SELECT doc_id, MD5(text) AS fp FROM documents
        WHERE source IN {_BLOOM_BATCH}
    ), __corpus AS (
        SELECT DISTINCT MD5(text) AS fp FROM documents
        WHERE source NOT IN {_BLOOM_BATCH}
    ), __bpos AS (
        SELECT DISTINCT {_BLOOM_POS} AS pos
        FROM __corpus CROSS JOIN GENERATE_SERIES(0, {_BLOOM_D - 1}) AS __g(i)
    ), __bfp AS (
        SELECT DISTINCT fp FROM __batch
    ), __probe AS (
        SELECT fp, {_BLOOM_POS} AS pos
        FROM __bfp CROSS JOIN GENERATE_SERIES(0, {_BLOOM_D - 1}) AS __g(i)
    ), __hits AS (
        SELECT p.fp,
               CAST(CASE WHEN COUNT(b.pos) = {_BLOOM_D} THEN 1 ELSE 0 END AS INT)
                   AS bloom_hit
        FROM __probe p LEFT JOIN __bpos b ON p.pos = b.pos
        GROUP BY 1
    ), __dup AS (
        SELECT f.fp, CAST(CASE WHEN c.fp IS NOT NULL THEN 1 ELSE 0 END AS INT)
                   AS is_dup
        FROM __bfp f LEFT JOIN __corpus c ON f.fp = c.fp
    )
    SELECT t.doc_id, t.fp, h.bloom_hit, d.is_dup
    FROM __batch t
    JOIN __hits h ON t.fp = h.fp
    JOIN __dup d ON t.fp = d.fp
    """,
)
def docs_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sketches import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    batch_sources = ["src15", "src16", "src17", "src18", "src19"]
    # batch/corpus/bfp each feed two consumers (probe + exact-membership
    # join) — cache so the documents scan + md5 + distinct run once per
    # frame, not per consumer
    batch = docs.where(F.col("source").isin(batch_sources)).select(
        "doc_id", F.md5("text").alias("fp")
    ).cache()
    corpus = (
        docs.where(~F.col("source").isin(batch_sources))
        .select(F.md5("text").alias("fp"))
        .distinct()
        .cache()
    )
    bpos = bloom_build(corpus, "fp", mbits=_BLOOM_MBITS, d=_BLOOM_D)
    bfp = batch.select("fp").distinct().cache()
    hits = bloom_probe(bpos, bfp, "fp", mbits=_BLOOM_MBITS, d=_BLOOM_D)
    dup = bfp.join(
        corpus.withColumn("__c", F.lit(1)), "fp", "left"
    ).select("fp", F.col("__c").isNotNull().cast("int").alias("is_dup"))
    return (
        batch.join(hits, "fp")
        .join(dup, "fp")
        .select("doc_id", "fp", "bloom_hit", "is_dup")
    )


# --------------------------------------------------------------------------
# Q: order_price_quantile_histogram — mergeable histogram quantiles (the
# DB-statistics histogram as an operator): o_totalprice binned into 128
# equi-width buckets (bin counts SUM across partitions/days — the
# mergeable state), P50/P90/P99 linearly interpolated inside the first
# bucket whose cumulative count reaches q*n, reported next to the exact
# interpolated percentiles. At 100 TB the exact percentile shuffles the
# value stream; the histogram shuffles 128 integers. The cumulative
# step is a bounded triangle join over the 128-row frame (no
# single-partition window). Deterministic by construction: identical
# float ops both engines, so est_value hash-matches unrounded-then-
# rounded; est error vs exact is bounded by one bucket width.
# --------------------------------------------------------------------------
_HQ_BINS = 128
_HQ_QS = (0.5, 0.9, 0.99)


@query(
    "order_price_quantile_histogram",
    f"""
    WITH __bounds AS (
        SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n
        FROM (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
              WHERE o_totalprice IS NOT NULL)
    ), __bins AS (
        SELECT CASE WHEN mx = mn THEN 0
                    ELSE LEAST(CAST(FLOOR((v - mn) / (mx - mn) * {_HQ_BINS})
                                    AS BIGINT), {_HQ_BINS - 1}) END AS bin,
               COUNT(*) AS cnt
        FROM (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
              WHERE o_totalprice IS NOT NULL) CROSS JOIN __bounds
        GROUP BY 1
    ), __cum AS (
        SELECT a.bin, a.cnt, CAST(SUM(b.cnt) AS BIGINT) AS cum
        FROM __bins a JOIN __bins b ON b.bin <= a.bin
        GROUP BY a.bin, a.cnt
    ), __qs AS (
        SELECT UNNEST([{", ".join(repr(q) for q in _HQ_QS)}]::DOUBLE[]) AS q
    ), __targets AS (
        SELECT q, mn, mx, n, q * CAST(n AS DOUBLE) AS target
        FROM __qs CROSS JOIN __bounds
    ), __pick AS (
        SELECT t.q, t.mn, t.mx, t.n, t.target, MIN(c.bin) AS bin
        FROM __targets t JOIN __cum c ON c.cum >= t.target
        GROUP BY 1, 2, 3, 4, 5
    ), __est AS (
        SELECT p.q, p.n,
               p.mn + (CAST(p.bin AS DOUBLE) +
                       (p.target - CAST(c.cum - c.cnt AS DOUBLE))
                           / CAST(c.cnt AS DOUBLE))
                      * ((p.mx - p.mn) / {_HQ_BINS}) AS est_value
        FROM __pick p JOIN __cum c ON p.bin = c.bin
    ), __exact AS (
        SELECT QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.5) AS e50,
               QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.9) AS e90,
               QUANTILE_CONT(CAST(o_totalprice AS DOUBLE), 0.99) AS e99
        FROM orders WHERE o_totalprice IS NOT NULL
    )
    SELECT q, n AS n_values,
           ROUND(est_value, 4) AS est_value,
           ROUND(CASE q WHEN 0.5 THEN e50 WHEN 0.9 THEN e90 ELSE e99 END, 4)
               AS exact_value
    FROM __est CROSS JOIN __exact
    """,
)
def order_price_quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sketches import (
        histogram_bins,
        histogram_quantiles,
    )

    orders = load_table(spark, sf_dir, "orders")
    bin_counts, bounds = histogram_bins(orders, "o_totalprice", bins=_HQ_BINS)
    bounds = bounds.cache()  # 1-row frame, three consumers (binning,
    # quantile targets, n_values) — without the cache each re-runs the
    # full orders min/max/count aggregate
    est = histogram_quantiles(bin_counts, bounds, list(_HQ_QS), bins=_HQ_BINS)
    exact = orders.where(F.col("o_totalprice").isNotNull()).agg(
        F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.5)).alias("e50"),
        F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.9)).alias("e90"),
        F.percentile(F.col("o_totalprice").cast("double"), F.lit(0.99)).alias("e99"),
    )
    n = bounds.select(F.col("n").alias("n_values"))
    return (
        est.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(n))
        .select(
            "q",
            "n_values",
            F.round("est_value", 4).alias("est_value"),
            F.round(
                F.when(F.col("q") == 0.5, F.col("e50"))
                .when(F.col("q") == 0.9, F.col("e90"))
                .otherwise(F.col("e99")),
                4,
            ).alias("exact_value"),
        )
    )


# --------------------------------------------------------------------------
# Q: event_daily_users_hll_cascade — the rollup EXACT COUNTS CANNOT DO:
# daily distinct users reaggregated from HOURLY register partials.
# Distinct counts don't sum across hours (a user active in 5 hours is
# not 5 users), so an exact hourly rollup is useless for daily distinct
# — but HLL registers merge by cell-wise max, so the hourly register
# layer rolls up to days (weeks, months...) without ever re-reading raw
# events. The Spark side builds (day, hour, register) partials and
# MAX-merges them per day; the oracle computes per-day registers
# directly — associativity of max makes the two byte-identical, which
# is exactly the property the hash check pins. Exact daily distinct
# rides along for the error comparison.
# --------------------------------------------------------------------------
@query(
    "event_daily_users_hll_cascade",
    f"""
    WITH __d AS (
        SELECT CAST(EPOCH(DATE_TRUNC('day', ts)) AS BIGINT) AS day_s,
               user_id
        FROM events WHERE user_id IS NOT NULL
    ), __h AS (
        {hll_oracle_sql("CAST(user_id AS VARCHAR)", ["day_s"], "__d", _HLL_P, "users_hll")}
    ), __x AS (
        SELECT day_s, COUNT(DISTINCT user_id) AS users_exact FROM __d GROUP BY 1
    )
    SELECT x.day_s, x.users_exact,
           h.users_hll, h.users_hll_s, h.users_hll_v
    FROM __x x JOIN __h h ON x.day_s = h.day_s
    """,
)
def event_daily_users_hll_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sketches import hll_registers

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    keyed = ev.select(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s"),
        "user_id",
    )
    # hourly partial layer (what a micro-batch pipeline would maintain)...
    hourly = hll_registers(keyed, "user_id", ["day_s", "hour_s"], p=_HLL_P)
    # ...MAX-merged up to days: no raw-event re-read, pure register math
    daily = hourly.groupBy("day_s", "j").agg(F.max("reg").alias("reg"))
    est = hll_finalize(daily, ["day_s"], p=_HLL_P, est_col="users_hll")
    exact = keyed.groupBy("day_s").agg(F.countDistinct("user_id").alias("users_exact"))
    return (
        exact.join(est, "day_s")
        .select("day_s", "users_exact", "users_hll", "users_hll_s", "users_hll_v")
    )


# --------------------------------------------------------------------------
# Q: streaming_daily_users_hll_rollup — the full production distinct-count
# shape: the STREAM maintains the finest-grained register layer (hourly
# HLL registers — the one stateful agg, state = m rows per hour forever),
# and ANY coarser granularity derives batch-side from the drained
# registers by max-merge (here: daily). Combines the streaming-state
# property of streaming_user_cardinality_hll with the cascade property
# of event_daily_users_hll_cascade; the oracle is the direct per-day
# batch replay, which max-associativity makes byte-identical to
# stream-hourly-then-merge.
# --------------------------------------------------------------------------
@query(
    "streaming_daily_users_hll_rollup",
    f"""
    WITH __d AS (
        SELECT CAST(EPOCH(DATE_TRUNC('day', ts)) AS BIGINT) AS day_s,
               user_id
        FROM events WHERE user_id IS NOT NULL
    ), __h AS (
        {hll_oracle_sql("CAST(user_id AS VARCHAR)", ["day_s"], "__d", _HLL_P, "users_hll")}
    )
    SELECT day_s, users_hll, users_hll_s, users_hll_v FROM __h
    """,
)
def streaming_daily_users_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.operators.sketches import hll_registers
    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory

    name = f"stream_hll_hr_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir).where(F.col("user_id").isNotNull())
    keyed = stream.select(
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_s"), "user_id"
    )
    hourly = hll_registers(keyed, "user_id", ["hour_s"], p=_HLL_P)
    run_to_memory(hourly, name, state_partitions=8)
    daily = (
        spark.table(name)
        # floor-division, NOT `hour_s - hour_s % 86400`: Spark's % keeps
        # the dividend's sign, so the subtraction form rounds pre-1970
        # epochs toward zero (up), diverging from the oracle's
        # DATE_TRUNC('day') for any historical backfill. floor() rounds
        # toward -inf for all epochs, matching date_trunc exactly, and
        # stays pure integer arithmetic on the rollup key.
        .withColumn("day_s", F.floor(F.col("hour_s") / 86400) * 86400)
        .groupBy("day_s", "j")
        .agg(F.max("reg").alias("reg"))
    )
    return hll_finalize(daily, ["day_s"], p=_HLL_P, est_col="users_hll")


# --------------------------------------------------------------------------
# Q: streaming_heavy_hitters_cms — the CMS counter grid AS STREAMING
# STATE, completing the streaming sketch pair (HLL registers merge by
# MAX; CMS cells merge by SUM — both associative, so any micro-batch
# split of the stream yields the same state as the batch build, which
# is exactly what the oracle checks). The stream maintains the d×w
# grid (fixed-size state regardless of traffic); the point-query +
# threshold finalize runs batch-side over the drained cells, reusing
# cms_estimate's broadcast probe. Same scale-relative threshold and
# output shape as event_heavy_hitters_cms.
# --------------------------------------------------------------------------
@query(
    "streaming_heavy_hitters_cms",
    ORACLE["event_heavy_hitters_cms"],
)
def streaming_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory

    name = f"stream_cms_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir).where(F.col("user_id").isNotNull())
    cells = cms_sketch(stream, "user_id", d=_CMS_D, w=_CMS_W)
    run_to_memory(cells, name, state_partitions=8)
    sketch = spark.table(name)

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    true_counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    est = cms_estimate(
        sketch, true_counts.select("user_id"), "user_id", d=_CMS_D, w=_CMS_W
    )
    totals = ev.agg(
        F.count(F.lit(1)).alias("__total"),
        F.countDistinct("user_id").alias("__ncand"),
    )
    return (
        est.join(true_counts, "user_id")
        .crossJoin(F.broadcast(totals))
        .where(
            F.col("est_count")
            >= F.lit(1.2) * (F.col("__total").cast("double") / F.col("__ncand"))
        )
        .select(
            "user_id",
            "est_count",
            "true_count",
            (F.col("est_count") - F.col("true_count")).alias("overcount"),
        )
    )


# --------------------------------------------------------------------------
# Q: streaming_user_bottomk_kmv — the KMV bottom-k sketch AS STREAMING
# STATE, completing the streaming sketch trio (HLL merges by MAX, CMS by
# SUM; bottom-k merges by merge-and-recut, which no built-in streaming
# aggregation expresses — this is the applyInPandasWithState custom
# operator, `streaming.stateful.kmv_bottomk_stream`). State is O(k) per
# group forever; hashing happens JVM-side (`kmv_hash_frame`) BEFORE the
# stateful hop, so the drained state is bit-identical to the batch
# `kmv_sketch` and the oracle is simply the batch KMV replay. `n_rows`
# (the operator's monotone version counter) rides along pinned to the
# SQL COUNT, proving the state saw every row exactly once. Restart
# recovery is pinned separately in tests/test_sketches.py.
# --------------------------------------------------------------------------
_KMV_STREAM_K = 64


@query(
    "streaming_user_bottomk_kmv",
    f"""
    WITH __base AS (
        SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL
    ), __dh AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || SUBSTRING(MD5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hv
        FROM __base
    ), __sk AS (
        SELECT event_type, hv,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS r
        FROM __dh QUALIFY r <= {_KMV_STREAM_K}
    ), __agg AS (
        SELECT event_type,
               COUNT(*) AS n_seen,
               MAX(CASE WHEN r = {_KMV_STREAM_K} THEN hv END) AS hk
        FROM __sk GROUP BY 1
    ), __n AS (
        SELECT event_type, COUNT(*) AS n_rows FROM __base GROUP BY 1
    )
    SELECT a.event_type,
           ROUND(CASE WHEN a.n_seen < {_KMV_STREAM_K} THEN CAST(a.n_seen AS DOUBLE)
                      ELSE {repr(float(_KMV_STREAM_K - 1) * float(1 << HASH_BITS))}
                           / CAST(a.hk AS DOUBLE) END, 2) AS users_kmv,
           a.n_seen,
           COALESCE(a.hk, 0) AS hv_k,
           n.n_rows
    FROM __agg a JOIN __n n ON a.event_type = n.event_type
    """,
)
def streaming_user_bottomk_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pyspark.sql import Window

    from pmp_analytics_spark.operators.sketches import kmv_cardinality, kmv_hash_frame
    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory
    from pmp_analytics_spark.streaming.stateful import kmv_bottomk_stream

    name = f"stream_kmv_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir).where(F.col("user_id").isNotNull())
    updates = kmv_bottomk_stream(
        kmv_hash_frame(stream, "user_id", ["event_type"]), ["event_type"], k=_KMV_STREAM_K
    )
    # update-mode drain: the sink holds one update row per (group, batch
    # that touched it); the max-version row per group IS the final state
    run_to_memory(updates, name, output_mode="update", state_partitions=8)
    w = Window.partitionBy("event_type").orderBy(F.desc("version"))
    latest = (
        spark.table(name)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("event_type", "hvs", F.col("version").alias("n_rows"))
    )
    # n_rows is functionally dependent on the group, so it rides through
    # kmv_cardinality as an extra group column — no self-join back onto
    # the drained state, and the estimator math stays the OPERATOR's.
    sk = latest.select(
        "event_type", "n_rows", F.posexplode("hvs").alias("__r0", "hv")
    ).select("event_type", "n_rows", "hv", (F.col("__r0") + 1).alias("r"))
    return kmv_cardinality(
        sk, ["event_type", "n_rows"], k=_KMV_STREAM_K, est_col="users_kmv"
    ).select("event_type", "users_kmv", "n_seen", "hv_k", "n_rows")


# --------------------------------------------------------------------------
# Q: event_value_ddsketch — mergeable bounded-error QUANTILE sketch,
# completing the sketch family (HLL=distinct, CMS=frequency, KMV=set
# ops, Bloom=membership, DDSketch=quantiles): per event type, the
# logarithmic-bucket store of `value` (alpha=1% relative error, Masson
# et al. VLDB 2019), capped at 128 positive buckets so the paper's
# lowest-bucket collapse actually executes on this fixture (~290 raw
# buckets/group), with P50/P90/P99 estimates next to the exact
# percentiles and integer state moments (n_buckets, sum bkt*cnt, sum
# bkt^2*cnt — the HLL _s/_v precedent) pinning the FULL store. Why not
# KLL: its compactors are randomized and merge-order-dependent — state
# cannot be hash-pinned against a SQL replay; DDSketch is the quantile
# sketch whose state is a pure function of the input multiset (see
# operators/sketches.py). Scale shape: ONE data-sized shuffle carrying
# <= buckets x partitions rows; everything after is sketch-sized.
# --------------------------------------------------------------------------
_DD_ALPHA = 0.01
_DD_CAP = 128
_DD_QS = (0.5, 0.9, 0.99)


def _dd_exact_sql() -> str:
    cases = " ".join(
        f"WHEN {q} THEN e{int(q * 100)}" for q in _DD_QS
    )
    quants = ", ".join(
        f"QUANTILE_CONT(CAST(value AS DOUBLE), {q}) AS e{int(q * 100)}"
        for q in _DD_QS
    )
    return f"""
    , __exact AS (
        SELECT event_type, {quants}
        FROM events WHERE value IS NOT NULL GROUP BY 1
    )
    SELECT s.event_type, s.q, s.n_values, s.est_value,
           s.n_buckets, s.state_s1, s.state_s2,
           ROUND(CASE s.q {cases} END, 4) AS exact_value
    FROM __sketch s JOIN __exact x ON s.event_type = x.event_type
    """


@query(
    "event_value_ddsketch",
    f"""
    WITH __sketch AS (
        {ddsketch_oracle_sql("value", ["event_type"], "events", list(_DD_QS), _DD_ALPHA, _DD_CAP)}
    )
    {_dd_exact_sql()}
    """,
)
def event_value_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sketches import (
        ddsketch_quantiles,
        ddsketch_state,
        ddsketch_state_moments,
    )

    ev = load_table(spark, sf_dir, "events")
    state = ddsketch_state(
        ev, "value", ["event_type"], alpha=_DD_ALPHA, max_buckets=_DD_CAP
    ).cache()  # sketch-sized frame, two consumers (quantiles + moments)
    est = ddsketch_quantiles(state, ["event_type"], list(_DD_QS), alpha=_DD_ALPHA)
    mom = ddsketch_state_moments(state, ["event_type"])
    exact = (
        ev.where(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            *[
                F.percentile(F.col("value").cast("double"), F.lit(q)).alias(
                    f"e{int(q * 100)}"
                )
                for q in _DD_QS
            ]
        )
    )
    ex = F.when(F.col("q") == 0.5, F.col("e50")).when(
        F.col("q") == 0.9, F.col("e90")
    ).otherwise(F.col("e99"))
    return (
        est.join(mom, "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "q",
            "n_values",
            "est_value",
            "n_buckets",
            "state_s1",
            "state_s2",
            F.round(ex, 4).alias("exact_value"),
        )
    )


# --------------------------------------------------------------------------
# Q: streaming_value_ddsketch — the DDSketch bucket store AS STREAMING
# STATE, completing the streaming sketch symmetry (HLL registers merge
# by MAX, CMS cells and DDSketch buckets by SUM): per 6-hour tumbling
# event-time window, the stream's one stateful aggregation maintains
# the (window, bucket) counts — fixed-size state per window regardless
# of traffic — and the collapse + quantile walk finalize BATCH-SIDE
# over the drained store through the SAME dd_collapse the batch build
# uses. Bucket-count SUM is associative, so any micro-batch split lands
# on the batch-identical state; the oracle is the batch replay grouped
# by TIME_BUCKET.
# --------------------------------------------------------------------------
@query(
    "streaming_value_ddsketch",
    f"""
    WITH __sketch AS (
        {ddsketch_oracle_sql(
            "value",
            ["window_start_us"],
            "(SELECT EPOCH_US(TIME_BUCKET(INTERVAL 6 HOURS, ts)) AS window_start_us, value FROM events) __w",
            [0.5, 0.99],
            _DD_ALPHA,
            64,
        )}
    )
    SELECT * FROM __sketch
    """,
)
def streaming_value_ddsketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.operators.sketches import (
        dd_bucket,
        dd_collapse,
        ddsketch_quantiles,
        ddsketch_state_moments,
    )
    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory

    name = f"stream_dd_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir).where(F.col("value").isNotNull())
    raw = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(
            F.window("ts", "6 hours").alias("w"),
            dd_bucket(F.col("value"), _DD_ALPHA).alias("bkt"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "bkt",
            "cnt",
        )
    )
    run_to_memory(raw, name, output_mode="complete", state_partitions=8)
    state = dd_collapse(
        spark.table(name), ["window_start_us"], max_buckets=64
    ).cache()
    est = ddsketch_quantiles(
        state, ["window_start_us"], [0.5, 0.99], alpha=_DD_ALPHA
    )
    # est and mom share the drained-table lineage; join through a
    # renamed key or the analyzer sees the same attribute id on both
    # sides ("conflicting references")
    mom = ddsketch_state_moments(state, ["window_start_us"]).withColumnRenamed(
        "window_start_us", "__wsu"
    )
    return est.join(
        mom, est["window_start_us"] == mom["__wsu"]
    ).select(
        "window_start_us",
        "q",
        "n_values",
        "est_value",
        "n_buckets",
        "state_s1",
        "state_s2",
    )


# --------------------------------------------------------------------------
# Q: event_value_ddsketch_cascade — quantile rollups EXACT PERCENTILES
# CANNOT DO: weekly P50/P99 of `value` reaggregated from DAILY DDSketch
# bucket partials. Percentiles don't compose across days (a day's P99
# tells you nothing about the week's), so an exact daily rollup is
# useless for weekly quantiles — but DDSketch buckets merge by SUM, so
# the daily integer bucket layer (the only data-sized aggregation)
# serves every coarser granularity by re-aggregation: the HLL-cascade
# property (event_daily_users_hll_cascade), on the quantile axis.
# Determinism: the merged store is a pure multiset function, so
# day-layer-then-merge is bit-identical to a direct weekly build — the
# oracle replays the DIRECT weekly build and the hash check pins the
# equivalence (the collapse runs on the merged layer, mirrored in the
# oracle by collapsing after the weekly grouping). Integer state
# moments pin the full store per week.
# --------------------------------------------------------------------------
@query(
    "event_value_ddsketch_cascade",
    f"""
    WITH __w AS (
        SELECT CAST(EPOCH(DATE_TRUNC('week', ts)) AS BIGINT) AS week_s, value
        FROM events WHERE value IS NOT NULL
    ), __sketch AS (
        {ddsketch_oracle_sql("value", ["week_s"], "__w", [0.5, 0.99], _DD_ALPHA, 64)}
    )
    SELECT * FROM __sketch
    """,
)
def event_value_ddsketch_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.sketches import (
        dd_bucket,
        dd_collapse,
        ddsketch_quantiles,
        ddsketch_state_moments,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # day layer: the ONLY data-sized aggregation (uncollapsed — partials
    # must stay lossless until the final granularity's cap applies)
    daily = (
        ev.select(
            F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_s"),
            dd_bucket(F.col("value"), _DD_ALPHA).alias("bkt"),
        )
        .groupBy("day_s", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # weekly layer derives from day partials by SUM — sketch-sized work
    # (floor-division week key, Monday-based like DuckDB's
    # DATE_TRUNC('week'): epoch day 4 — 1970-01-05 — was a Monday, so
    # Mondays are day numbers ≡ 4 (mod 7): floor((d-4)/7)*7+4)
    weekly_raw = (
        daily.withColumn(
            "week_s",
            (F.floor((F.col("day_s") / 86400 - 4) / 7) * 7 + 4) * 86400,
        )
        .groupBy("week_s", "bkt")
        .agg(F.sum("cnt").alias("cnt"))
    )
    state = dd_collapse(weekly_raw, ["week_s"], max_buckets=64).cache()
    est = ddsketch_quantiles(state, ["week_s"], [0.5, 0.99], alpha=_DD_ALPHA)
    mom = ddsketch_state_moments(state, ["week_s"]).withColumnRenamed(
        "week_s", "__wk"
    )
    return est.join(mom, est["week_s"] == mom["__wk"]).select(
        "week_s",
        "q",
        "n_values",
        "est_value",
        "n_buckets",
        "state_s1",
        "state_s2",
    )
