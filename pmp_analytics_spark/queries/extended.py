"""Extended operator pack (round 2): temporal joins, multi-dim OLAP,
exact percentiles, distinct cardinalities, and more LLM-pipeline text /
embedding operators.

These go beyond the reference's own surface (SURVEY.md §2.4 notes as-of /
range joins are absent there) — they are the operators a user of a
general analytics engine reaches for next, each expressed Spark-first and
oracle-checked against DuckDB (which has native ASOF JOIN, CUBE,
quantile_cont — strong independent oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pmp_analytics_spark import memo
from pmp_analytics_spark.functions.text import shingle_hash, tokens
from pmp_analytics_spark.operators.joins import asof_join, range_join
from pmp_analytics_spark.operators.partitioning import salted_agg
from pmp_analytics_spark.queries.registry import DUCK_TOKENS, ORACLE, query
from pmp_analytics_spark.sources.reader import load_table


# --------------------------------------------------------------------------
# Q: purchase_attribution — AS-OF JOIN (operator Spark lacks natively):
# each purchase event is attributed to the same user's most recent
# preceding click. Implemented as operators.joins.asof_join — union +
# ordered window, ONE shuffle on the key, no range explosion. Oracle is
# DuckDB's native ASOF LEFT JOIN (independent implementation).
# --------------------------------------------------------------------------
@query(
    "purchase_attribution",
    """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           EPOCH_US(p.ts) AS purchase_ts_us,
           c.event_id AS click_id,
           EPOCH_US(c.ts) AS click_ts_us,
           EPOCH_US(p.ts) - EPOCH_US(c.ts) AS gap_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    matched = asof_join(
        purchases, clicks, on=["user_id"], left_ts="ts", right_ts="click_ts"
    )
    return matched.select(
        "purchase_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "click_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        (F.unix_micros("ts") - F.unix_micros("click_ts")).alias("gap_us"),
    )


# --------------------------------------------------------------------------
# Q: signup_followup_activity — RANGE (interval) JOIN blocked on the user
# key: events landing within 1 hour after the same user's signup.
# Equi-key bounds candidates (Σ_k |L_k|·|R_k|, never |L|·|R|); the time
# predicate is exact integer µs arithmetic on both engines.
# --------------------------------------------------------------------------
@query(
    "signup_followup_activity",
    """
    SELECT a.event_id AS anchor_id,
           COUNT(*) AS n_follow,
           ROUND(SUM(e.value), 4) AS value_sum
    FROM (SELECT * FROM events WHERE event_type = 'signup') a
    JOIN events e
      ON e.user_id = a.user_id
     AND EPOCH_US(e.ts) >= EPOCH_US(a.ts)
     AND EPOCH_US(e.ts) < EPOCH_US(a.ts) + 3600000000
     AND e.event_id <> a.event_id
    GROUP BY 1
    """,
)
def signup_followup_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    anchors = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("anchor_id"),
        F.col("user_id"),
        F.col("ts_us").alias("anchor_us"),
    )
    follows = ev.select("user_id", "event_id", "ts_us", "value")
    joined = range_join(
        follows,
        anchors,
        on=["user_id"],
        left_ts="ts_us",
        lo=F.col("anchor_us"),
        hi=F.col("anchor_us") + F.lit(3600000000),
    ).where(F.col("event_id") != F.col("anchor_id"))
    return joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


# --------------------------------------------------------------------------
# Q: quantity_quartiles — EXACT percentiles per group (F.percentile, not
# percentile_approx: at 100 TB you'd flip to approx with a stated error
# budget; the exact form is the oracle-checkable baseline). DuckDB
# quantile_cont uses the same linear interpolation.
# --------------------------------------------------------------------------
@query(
    "quantity_quartiles",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           ROUND(QUANTILE_CONT(l_quantity, 0.25), 6) AS p25,
           ROUND(QUANTILE_CONT(l_quantity, 0.50), 6) AS p50,
           ROUND(QUANTILE_CONT(l_quantity, 0.75), 6) AS p75,
           ROUND(AVG(l_quantity), 6) AS mean_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def quantity_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    pct = F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            pct.alias("__p"),
            F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            F.round(F.element_at("__p", 1), 6).alias("p25"),
            F.round(F.element_at("__p", 2), 6).alias("p50"),
            F.round(F.element_at("__p", 3), 6).alias("p75"),
            "mean_qty",
            "sd_qty",
        )
    )


# --------------------------------------------------------------------------
# Q: revenue_cube — GROUP BY CUBE over (nation, order year): all four
# grouping combinations in one pass (Catalyst expands to Expand + single
# shuffle — not 4 scans). GROUPING() flags disambiguate subtotal rows
# from genuine null keys, the standard CUBE-reading discipline.
# --------------------------------------------------------------------------
@query(
    "revenue_cube",
    """
    SELECT n.n_name,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS order_year,
           CAST(GROUPING(n.n_name) AS INT) AS g_nation,
           CAST(GROUPING(EXTRACT(YEAR FROM o.o_orderdate)) AS INT) AS g_year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY CUBE (n.n_name, EXTRACT(YEAR FROM o.o_orderdate))
    """,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .select("n_name", F.year("o_orderdate").cast("long").alias("order_year"), "o_totalprice")
    )
    return (
        base.cube("n_name", "order_year")
        .agg(
            F.grouping("n_name").cast("int").alias("g_nation"),
            F.grouping("order_year").cast("int").alias("g_year"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .select("n_name", "order_year", "g_nation", "g_year", "n_orders", "revenue")
    )


# --------------------------------------------------------------------------
# Q: event_user_cardinality — multi-distinct aggregation (Catalyst plans
# the two DISTINCTs via Expand + two-phase agg; at 100 TB the same query
# flips to approx_count_distinct — HLL accuracy is pytest-checked in
# tests/test_operators.py since sketches can't hash-match an oracle).
# --------------------------------------------------------------------------
@query(
    "event_user_cardinality",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(ts AS DATE)) AS n_active_days,
           ROUND(COUNT(*) * 1.0 / COUNT(DISTINCT user_id), 6) AS events_per_user
    FROM events
    GROUP BY event_type
    """,
)
def event_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.col("ts").cast("date")).alias("n_active_days"),
        F.round(
            F.count(F.lit(1)) * F.lit(1.0) / F.countDistinct("user_id"), 6
        ).alias("events_per_user"),
    )


# --------------------------------------------------------------------------
# Q: event_value_salted_rollup — skew-salted two-phase aggregation
# (operators.partitioning.salted_agg): 5 hot keys over 10k rows is
# exactly the shape where one reducer straggles at scale; the salt
# spreads each hot key over 16 reducers, then merges partials. Result is
# IDENTICAL to the plain groupBy — which is what the oracle asserts.
# --------------------------------------------------------------------------
@query(
    "event_value_salted_rollup",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS value_sum,
           ROUND(MIN(value), 6) AS value_min,
           ROUND(MAX(value), 6) AS value_max
    FROM events
    GROUP BY event_type
    """,
)
def event_value_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        group_by=["event_type"],
        aggs={
            "n_events": (F.count, F.sum, F.lit(1)),
            "__vs": (F.sum, F.sum, "value"),
            "__mn": (F.min, F.min, "value"),
            "__mx": (F.max, F.max, "value"),
        },
        salt_buckets=16,
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("__vs", 4).alias("value_sum"),
        F.round("__mn", 6).alias("value_min"),
        F.round("__mx", 6).alias("value_max"),
    )


# --------------------------------------------------------------------------
# Q: docs_chunks — overlapping fixed-size token chunks (size 50, stride
# 25): THE text-prep step before embedding/training. sequence +
# posexplode + slice — all JVM-side HOFs, no Python; a 100 TB corpus
# chunks map-side with zero shuffle.
# --------------------------------------------------------------------------
@query(
    "docs_chunks",
    f"""
    WITH tk AS (SELECT doc_id, {DUCK_TOKENS} AS toks FROM documents),
    st AS (
        SELECT doc_id, toks,
               UNNEST(RANGE(0, GREATEST(LEN(toks), 1), 25)) AS start
        FROM tk
    )
    SELECT doc_id,
           CAST(start / 25 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_token,
           CAST(LEN(toks[start + 1 : start + 50]) AS BIGINT) AS n_chunk_tokens,
           ARRAY_TO_STRING(toks[start + 1 : start + 50], ' ') AS chunk_text
    FROM st
    WHERE LEN(toks[start + 1 : start + 50]) > 0
    """,
)
def docs_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT wrapped in ensure_parallelism: the plan gate pins chunking to
    # zero shuffles (pure map-side fan-out at any scale), and at 0.4 s
    # it has no parallelism problem to fix.
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.size("toks") - 1, F.lit(0)), F.lit(25)
    )
    exploded = toked.select(
        "doc_id", "toks", F.explode(starts).alias("start")
    ).withColumn("chunk", F.slice("toks", F.col("start") + 1, 50))
    return exploded.where(F.size("chunk") > 0).select(
        "doc_id",
        (F.col("start") / 25).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_token"),
        F.size("chunk").cast("long").alias("n_chunk_tokens"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


# --------------------------------------------------------------------------
# Q: embedding_dim_stats — per-dimension distribution profile of the
# embedding column (posexplode → 64-way groupBy): the feature-drift /
# normalization-check pass of an embedding pipeline. Dimension index is
# 0-based on both engines (DuckDB GENERATE_SUBSCRIPTS is 1-based → -1).
# --------------------------------------------------------------------------
@query(
    "embedding_dim_stats",
    """
    WITH flat AS (
        SELECT GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT CAST(dim AS INT) AS dim,
           COUNT(*) AS n,
           ROUND(AVG(v), 6) AS mean_v,
           ROUND(STDDEV_SAMP(v), 6) AS sd_v,
           ROUND(MIN(v), 6) AS min_v,
           ROUND(MAX(v), 6) AS max_v
    FROM flat
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim", "raw")).select(
        F.col("dim").cast("int").alias("dim"), F.col("raw").cast("double").alias("v")
    )
    return flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("v"), 6).alias("mean_v"),
        F.round(F.stddev_samp("v"), 6).alias("sd_v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
    )


# --------------------------------------------------------------------------
# Q: docs_vocab_df — corpus vocabulary with document frequency and
# collection frequency (explode once, aggregate both in one pass): the
# input to IDF weighting, stopword derivation, and vocab pruning.
# --------------------------------------------------------------------------
@query(
    "docs_vocab_df",
    f"""
    WITH flat AS (
        SELECT doc_id, UNNEST({DUCK_TOKENS}) AS token FROM documents
    )
    SELECT token,
           COUNT(DISTINCT doc_id) AS doc_freq,
           COUNT(*) AS coll_freq,
           ROUND(LN((SELECT COUNT(*) FROM documents) * 1.0
                    / COUNT(DISTINCT doc_id)), 6) AS idf
    FROM flat
    GROUP BY token
    """,
)
def docs_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_docs = docs.count()
    flat = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    return flat.groupBy("token").agg(
        F.countDistinct("doc_id").alias("doc_freq"),
        F.count(F.lit(1)).alias("coll_freq"),
        F.round(
            F.log(F.lit(float(n_docs)) / F.countDistinct("doc_id")), 6
        ).alias("idf"),
    )


# --------------------------------------------------------------------------
# Q: daily_revenue_ma7 — windowed moving aggregate with a RANGE frame
# (7-day trailing mean of daily revenue per priority class). The
# reference has no frame specs at all (SURVEY §2.6); this is the standard
# time-series smoothing shape. Determinism note: the frame SUM runs over
# exact integer cents (window summation order differs between engines —
# DuckDB uses segment-tree aggregation — so a double frame-sum could
# differ in ulps and flip a rounded digit; integer sums cannot).
# --------------------------------------------------------------------------
@query(
    "daily_revenue_ma7",
    """
    WITH daily AS (
        SELECT o_orderpriority,
               CAST(o_orderdate AS DATE) AS d,
               CAST(ROUND(SUM(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, d,
           ROUND(rev_cents / 100.0, 2) AS daily_rev,
           ROUND(
               SUM(rev_cents) OVER w / (100.0 * COUNT(*) OVER w), 4
           ) AS rev_ma7
    FROM daily
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
    """,
)
def daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # Round to integer CENTS before the long cast: Spark's double→long
    # cast truncates while DuckDB's rounds, so `round(x,2)*100` would be
    # off by one cent wherever the scaled double lands below the integer.
    daily = orders.groupBy(
        "o_orderpriority", F.col("o_orderdate").cast("date").alias("d")
    ).agg(F.round(F.sum("o_totalprice") * 100, 0).cast("long").alias("rev_cents"))
    # RANGE frame over days: Spark's rangeBetween needs a numeric ordering
    # key — epoch days give exactly DuckDB's RANGE INTERVAL 6 DAYS.
    epoch_day = F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(epoch_day)
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "o_orderpriority",
        "d",
        F.round(F.col("rev_cents") / 100.0, 2).alias("daily_rev"),
        F.round(
            F.sum("rev_cents").over(w) / (F.lit(100.0) * F.count(F.lit(1)).over(w)), 4
        ).alias("rev_ma7"),
    )


# --------------------------------------------------------------------------
# Q: events_partition_pruning — partitioned storage end-to-end: write the
# events table PARTITIONED BY event_date (hive-style directories), read
# it back with a partition predicate, aggregate. At 100 TB this is THE
# dominant access pattern — the date filter prunes directories at
# planning time, so the scan touches 1/30th of the files (asserted in
# tests/test_plans.py). The oracle computes the same day's rollup from
# the unpartitioned table.
# --------------------------------------------------------------------------
_PRUNE_DATE = "2024-01-15"


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """A date-partitioned copy of events, written once per version of
    the events files. ``repartition(event_date)`` first so each
    partition directory gets one file instead of one per task."""
    import os

    ev = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    return memo.extract(
        spark,
        "pmp_events_partitioned",
        [os.path.join(sf_dir, "events.parquet")],
        ev.repartition("event_date").write.partitionBy("event_date").parquet,
    )


@query(
    "events_partition_pruning",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS value_sum
    FROM events
    WHERE CAST(ts AS DATE) = DATE '{_PRUNE_DATE}'
    GROUP BY event_type
    """,
)
def events_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = partitioned_events_path(spark, sf_dir)
    part = spark.read.parquet(path).where(
        F.col("event_date") == F.lit(_PRUNE_DATE).cast("date")
    )
    return part.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


# --------------------------------------------------------------------------
# Q: priority_pivot — PIVOT: long→wide reshape (groupBy().pivot().agg()).
# The pivot VALUES are declared explicitly — Spark otherwise runs an extra
# distinct-collect job over 100 TB just to learn the column set, and an
# unbounded value domain would OOM the driver with one column per value.
# Oracle is the equivalent conditional aggregation.
# --------------------------------------------------------------------------
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PRIORITY_ALIASES = ["urgent", "high", "medium", "not_specified", "low"]


@query(
    "priority_pivot",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS order_year,
           {", ".join(
               f"ROUND(SUM(CASE WHEN o_orderpriority = '{p}' THEN o_totalprice END), 2)"
               f" AS {a}"
               for p, a in zip(_PRIORITIES, _PRIORITY_ALIASES)
           )}
    FROM orders
    GROUP BY 1
    """,
)
def priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    wide = (
        orders.select(F.year("o_orderdate").cast("long").alias("order_year"), "o_orderpriority", "o_totalprice")
        .groupBy("order_year")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    renames = dict(zip(_PRIORITIES, _PRIORITY_ALIASES))
    return wide.withColumnsRenamed(renames)


# --------------------------------------------------------------------------
# Q: nation_balance_melt — UNPIVOT (melt): wide→long reshape of per-nation
# aggregates into (nation_key, metric, val) rows. ``df.unpivot`` is a
# narrow Expand — no shuffle beyond the aggregation's own; the oracle is
# the classic UNION ALL formulation.
# --------------------------------------------------------------------------
@query(
    "nation_balance_melt",
    """
    WITH agg AS (
        SELECT s_nationkey,
               CAST(COUNT(*) AS DOUBLE) AS n_suppliers,
               ROUND(SUM(s_acctbal), 2) AS total_balance,
               ROUND(AVG(s_acctbal), 6) AS avg_balance
        FROM supplier GROUP BY s_nationkey
    )
    SELECT s_nationkey, 'n_suppliers' AS metric, n_suppliers AS val FROM agg
    UNION ALL
    SELECT s_nationkey, 'total_balance', total_balance FROM agg
    UNION ALL
    SELECT s_nationkey, 'avg_balance', avg_balance FROM agg
    """,
)
def nation_balance_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    agg = supplier.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("double").alias("n_suppliers"),
        F.round(F.sum("s_acctbal"), 2).alias("total_balance"),
        F.round(F.avg("s_acctbal"), 6).alias("avg_balance"),
    )
    return agg.unpivot(
        ids=["s_nationkey"],
        values=["n_suppliers", "total_balance", "avg_balance"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# --------------------------------------------------------------------------
# Q: docs_contamination — benchmark decontamination: which training docs
# share >= 3 word-8-grams with any doc of a held-out eval set (here:
# doc_id < 25 plays the eval set). The canonical pre-training hygiene
# op: hash each 8-gram once (distinct per doc), explode, equi-join on
# the gram hash — the join key is a uniform 60-bit hash, so the shuffle
# is skew-free; the eval side is tiny and broadcast.
# --------------------------------------------------------------------------
_EVAL_MAX_ID = 25
_CONTAM_MIN_SHARED = 3
_DUCK_TOKS = "LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '[^a-z0-9]+'), t -> t <> '')"
_DUCK_GRAMS8 = (
    f"LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN({_DUCK_TOKS}) - 7, 0)), "
    f"i -> CAST(('0x' || SUBSTRING(MD5(ARRAY_TO_STRING(({_DUCK_TOKS})[i : i + 7], ' ')), 1, 15)) AS BIGINT) "
    "% 2147483647))"
)


@query(
    "docs_contamination",
    f"""
    WITH grams AS (
        SELECT doc_id, UNNEST({_DUCK_GRAMS8}) AS g FROM documents
    ), eval_g AS (
        SELECT doc_id AS eval_id, g FROM grams WHERE doc_id < {_EVAL_MAX_ID}
    ), train_g AS (
        SELECT doc_id AS train_id, g FROM grams WHERE doc_id >= {_EVAL_MAX_ID}
    )
    SELECT t.train_id, e.eval_id, COUNT(*) AS n_shared
    FROM train_g t JOIN eval_g e ON t.g = e.g
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_CONTAM_MIN_SHARED}
    """,
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Tokenize into a materialized column FIRST: referencing the full
    # tokens(text) expression inside a per-gram lambda re-evaluates the
    # tokenization per gram (O(n²)); and per-row md5 in a flat projection
    # runs under whole-stage codegen, where the HOF-lambda form is
    # interpreted. explode + distinct replaces transform+array_distinct
    # with identical (doc_id, g) sets. The size >= 8 guard also covers
    # Spark's sequence(1, 0) yielding a DESCENDING [1, 0], not empty
    # like DuckDB's generate_series.
    toked = docs.select("doc_id", tokens(F.col("text")).alias("toks")).where(
        F.size("toks") >= 8
    )
    pos = toked.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - 7)).alias("__i"),
    )
    g = shingle_hash(F.concat_ws(" ", F.expr("slice(toks, __i, 8)")))
    flat = pos.select("doc_id", g.alias("g")).distinct()
    eval_g = flat.where(F.col("doc_id") < _EVAL_MAX_ID).select(
        F.col("doc_id").alias("eval_id"), "g"
    )
    train_g = flat.where(F.col("doc_id") >= _EVAL_MAX_ID).select(
        F.col("doc_id").alias("train_id"), "g"
    )
    return (
        train_g.join(F.broadcast(eval_g), on="g")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _CONTAM_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Q: streaming_distinct_users — streaming deduplication: dropDuplicates
# on (user_id, event_type) with a watermark bounding dedup state, then
# per-type counts. Oracle = batch COUNT(DISTINCT user_id) — streaming
# and batch must agree exactly under availableNow backfill.
# --------------------------------------------------------------------------
@query(
    "streaming_distinct_users",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    import uuid

    from pmp_analytics_spark.streaming import read_event_stream, run_to_memory

    name = f"stream_dedup_{uuid.uuid4().hex[:12]}"
    stream = read_event_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "30 days")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    run_to_memory(deduped, name, state_partitions=8)
    return spark.table(name)


# --------------------------------------------------------------------------
# Q: orders_quality_report — Deequ-shaped data-quality gate over orders
# (operators/quality.py): completeness, exact uniqueness, range/domain/
# pattern compliance (null counted as NON-compliant), table min-size,
# and o_custkey referential integrity against customer. All non-FK
# checks ride ONE aggregate pass (long format via a literal explode on
# the 1-row agg — a union of selects would replant the agg subtree per
# check, N scans for N checks); the FK check is one broadcast anti-join
# count. The oracle replays each metric as plain SQL.
# --------------------------------------------------------------------------
@query(
    "orders_quality_report",
    """
    WITH m AS (
        SELECT
            ROUND(AVG(CASE WHEN o_orderkey IS NOT NULL THEN 1.0 ELSE 0.0 END), 6) AS m0,
            ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6) AS m1,
            ROUND(AVG(CASE WHEN o_totalprice BETWEEN 0 AND 1000000 THEN 1.0 ELSE 0.0 END), 6) AS m2,
            ROUND(AVG(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END), 6) AS m3,
            ROUND(AVG(CASE WHEN REGEXP_MATCHES(o_orderpriority, '^[1-5]-') THEN 1.0 ELSE 0.0 END), 6) AS m4,
            ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS m5,
            ROUND((EPOCH(TIMESTAMP '1998-08-15 00:00:00') - EPOCH(CAST(MAX(o_orderdate) AS TIMESTAMP))) / 3600.0, 6) AS m6
        FROM orders
    ), fk AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS m
        FROM orders o
        WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    )
    SELECT 'completeness(o_orderkey)' AS check_name, m0 AS metric, m0 >= 1.0 AS passed FROM m
    UNION ALL SELECT 'uniqueness(o_orderkey)', m1, m1 >= 1.0 FROM m
    UNION ALL SELECT 'in_range(o_totalprice)', m2, m2 >= 1.0 FROM m
    UNION ALL SELECT 'accepted_values(o_orderstatus)', m3, m3 >= 1.0 FROM m
    UNION ALL SELECT 'matches(o_orderpriority)', m4, m4 >= 1.0 FROM m
    UNION ALL SELECT 'min_size', m5, m5 >= 1000.0 FROM m
    UNION ALL SELECT 'freshness(o_orderdate)', m6, m6 <= 1440.0 FROM m
    UNION ALL SELECT 'referential_integrity(o_custkey)', m, m = 0 FROM fk
    """,
)
def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.quality import (
        accepted_values,
        check_report,
        completeness,
        freshness,
        in_range,
        matches,
        min_size,
        uniqueness,
    )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return check_report(
        orders,
        [
            completeness("o_orderkey"),
            uniqueness("o_orderkey"),
            in_range("o_totalprice", 0, 1_000_000),
            accepted_values("o_orderstatus", ["O", "F", "P"]),
            matches("o_orderpriority", "^[1-5]-"),
            min_size(1000),
            # as_of pinned (TPC-H o_orderdate tops out 1998-08-02):
            # injected, never wall-clock, so the check is reproducible
            freshness("o_orderdate", 1440, "1998-08-15 00:00:00"),
        ],
        foreign_keys={"o_custkey": (customer, "c_custkey")},
    )


# --------------------------------------------------------------------------
# Q: orders_quarantine — row-level dead-letter routing (the complement of
# orders_quality_report's table-level gate): rows failing any RowRule are
# quarantined with a `reasons` array naming every broken rule in
# declaration order; NULL rule evaluations count as failures. One
# map-side projection tags rows — no shuffle, no join. The query returns
# the quarantined side plus a clean/bad count summary column so both
# halves of the split are oracle-pinned.
# --------------------------------------------------------------------------
@query(
    "orders_quarantine",
    """
    WITH tagged AS (
        SELECT o_orderkey,
               LIST_FILTER([
                   CASE WHEN NOT COALESCE(o_totalprice <= 400000, FALSE) THEN 'price_cap' END,
                   CASE WHEN NOT COALESCE(o_orderpriority NOT LIKE '1-%', FALSE) THEN 'urgent_hold' END,
                   CASE WHEN NOT COALESCE(o_orderdate >= DATE '1993-01-01', FALSE) THEN 'stale_order' END
               ], x -> x IS NOT NULL) AS reasons
        FROM orders
    )
    SELECT o_orderkey,
           LIST_AGGREGATE(reasons, 'string_agg', ',') AS reasons,
           LEN(reasons) AS n_reasons
    FROM tagged WHERE LEN(reasons) > 0
    """,
)
def orders_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.quality import RowRule, quarantine

    orders = load_table(spark, sf_dir, "orders")
    _clean, bad = quarantine(
        orders,
        [
            RowRule("price_cap", F.col("o_totalprice") <= 400_000),
            RowRule("urgent_hold", ~F.col("o_orderpriority").startswith("1-")),
            RowRule(
                "stale_order", F.col("o_orderdate") >= F.lit("1993-01-01").cast("date")
            ),
        ],
    )
    # DECLARED output joins the reasons array to a CSV string (rule
    # declaration order is deterministic): the driver's canonicalizer
    # sorts result frames through pandas, where a top-level list column
    # is unhashable — the operator itself keeps the native array.
    return bad.select(
        "o_orderkey",
        F.array_join("reasons", ",").alias("reasons"),
        F.size("reasons").cast("long").alias("n_reasons"),
    )


# --------------------------------------------------------------------------
# Q: orders_snapshot_delta — row-level CDC between two snapshot versions
# (operators/diff.py::snapshot_delta): which orders were added, removed,
# or changed between last month's extract and this month's. The snapshots
# are derived deterministically from the orders table (old drops
# o_orderkey % 13 = 5, new drops % 17 = 3 and reprices % 9 = 0 by an EXACT double
# addition — a multiply-and-round reprice hits engine-divergent .005
# midpoints), so the
# delta exercises all three change classes. One full-outer shuffle join
# on the key; the oracle is the textbook FULL OUTER JOIN + IS DISTINCT
# FROM rendering.
# --------------------------------------------------------------------------
@query(
    "orders_snapshot_delta",
    """
    WITH old AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 5
    ), new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 9 = 0
                    THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders WHERE o_orderkey % 17 <> 3
    )
    SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           o.o_totalprice AS old_o_totalprice,
           o.o_orderstatus AS old_o_orderstatus,
           n.o_totalprice AS new_o_totalprice,
           n.o_orderstatus AS new_o_orderstatus
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
)
def orders_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import snapshot_delta

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders.where(F.col("o_orderkey") % 13 != 5)
    new = orders.where(F.col("o_orderkey") % 17 != 3).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 9 == 0, F.col("o_totalprice") + 1000.0
        ).otherwise(F.col("o_totalprice")),
    )
    return snapshot_delta(old, new, ["o_orderkey"])


# --------------------------------------------------------------------------
# Q: orders_mv_incremental — incremental materialized-view maintenance
# (operators/diff.py::incremental_mv_refresh): a revenue-by-priority
# rollup kept current from the snapshot CDC feed WITHOUT rescanning the
# base. The same old/new snapshot derivation as orders_snapshot_delta,
# plus a group-MOVING mutation (o_orderkey % 23 = 0 reassigns the
# priority), so the refresh exercises added/removed/changed rows AND
# rows that migrate between groups. Measures are exact DECIMAL(18,2) —
# additive refresh re-associates the sum, which only exact arithmetic
# keeps order-independent. The oracle recomputes the view from the new
# snapshot directly: incremental == full recompute is the entire claim.
# --------------------------------------------------------------------------
_MV_NEW_CTE = """
    WITH new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 23 = 0 THEN '9-MOVED'
                    ELSE o_orderpriority END AS o_orderpriority,
               CAST(CASE WHEN o_orderkey % 9 = 0
                         THEN o_totalprice + 1000.0
                         ELSE o_totalprice END AS DECIMAL(18,2)) AS price
        FROM orders WHERE o_orderkey % 17 <> 3
    )
    """

# The view is maintained in exact DECIMAL(18,2), but the DECLARED output
# projects integer cents: the driver's value hash fetches DuckDB results
# through pandas (decimal -> float64) while Spark decimals stay Decimal
# objects, so a top-level decimal column can never hash-match (r06
# lesson). BIGINT cents keep the comparison exact with no float anywhere.
_MV_ORACLE = (
    _MV_NEW_CTE
    + """
    SELECT o_orderpriority,
           CAST(SUM(price) * 100 AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_orders
    FROM new GROUP BY o_orderpriority
    """
)


def _cents(df: DataFrame, pairs: dict[str, str]) -> DataFrame:
    """Project decimal money columns as exact BIGINT cents (driver-hashable)."""
    out = df
    for src, dst in pairs.items():
        out = out.withColumn(dst, (F.col(src) * 100).cast("long")).drop(src)
    return out


def _mv_snapshot_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(old, new) snapshot pair for the MV-maintenance queries — the
    orders_snapshot_delta derivation plus a group-MOVING mutation
    (o_orderkey % 23 = 0 reassigns the priority). Prices are exact
    DECIMAL(18,2): additive refresh re-associates the sum, which only
    exact arithmetic keeps order-independent."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    old = base.where(F.col("o_orderkey") % 13 != 5).select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    new = base.where(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 23 == 0, F.lit("9-MOVED"))
        .otherwise(F.col("o_orderpriority"))
        .alias("o_orderpriority"),
        F.when(F.col("o_orderkey") % 9 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .cast("decimal(18,2)")
        .alias("price"),
    )
    return old, new


def _mv_of(snapshot: DataFrame) -> DataFrame:
    return snapshot.groupBy("o_orderpriority").agg(
        F.sum("price").alias("revenue"), F.count(F.lit(1)).alias("n_orders")
    )


@query("orders_mv_incremental", _MV_ORACLE)
def orders_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import (
        incremental_mv_refresh,
        snapshot_delta,
    )

    old, new = _mv_snapshot_frames(spark, sf_dir)
    return _cents(
        incremental_mv_refresh(
            _mv_of(old),
            snapshot_delta(old, new, ["o_orderkey"]),
            ["o_orderpriority"],
            {"revenue": "price"},
            "n_orders",
        ),
        {"revenue": "revenue_cents"},
    )


# --------------------------------------------------------------------------
# Q: streaming_mv_refresh — the SAME view maintained from a CDC STREAM
# (streaming/mv.py::cdc_apply_stream): the snapshot delta arrives
# as three micro-batches (file drops, maxFilesPerTrigger=1); each batch
# is applied to the versioned view state via incremental_mv_refresh and
# published through the atomic _LATEST flip, with the micro-batch id as
# the commit marker (additive refresh is not idempotent — the marker is
# what makes replays exact-once). Contributions are associative sums, so
# the final view is independent of the slicing and the oracle is the
# full recompute on the new snapshot — same as orders_mv_incremental,
# reached through entirely different machinery.
# --------------------------------------------------------------------------
@query("streaming_mv_refresh", _MV_ORACLE)
def streaming_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.diff import incremental_mv_refresh, snapshot_delta
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.mv import cdc_apply_stream

    old, new = _mv_snapshot_frames(spark, sf_dir)
    # ONE delta computation written as three files -> three micro-batches
    # under maxFilesPerTrigger=1 (the refresh is slicing-independent, so
    # WHICH rows land in which file is irrelevant; the old per-drop
    # filter recomputed the CDC join three times)
    delta = snapshot_delta(old, new, ["o_orderkey"]).repartition(3)
    with stream_workdir("pmp_mv_refresh") as work:
        root = os.path.join(work, "state")
        feed = os.path.join(work, "cdc")
        delta.write.parquet(feed)
        publish_versioned(_mv_of(old).coalesce(1), root)  # seed the view state
        cdc_apply_stream(
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            root,
            lambda cur, batch: incremental_mv_refresh(
                cur, batch, ["o_orderpriority"], {"revenue": "price"}, "n_orders"
            ),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        out = _cents(read_latest(spark, root), {"revenue": "revenue_cents"})
        return out.localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Q: orders_mv_minmax — MIN/MAX view maintenance by touched-group partial
# recompute (operators/diff.py::mv_refresh_minmax): extrema are not
# self-maintainable under deletes (the removed row may have BEEN the
# max), so touched groups — both sides of group-moving rows — recompute
# from the new snapshot behind a broadcast semi-join while untouched
# view rows are carried verbatim, never reading the base. Oracle: full
# recompute on the new snapshot.
# --------------------------------------------------------------------------
@query(
    "orders_mv_minmax",
    _MV_NEW_CTE
    + """
    SELECT o_orderpriority,
           CAST(MIN(price) * 100 AS BIGINT) AS min_price_cents,
           CAST(MAX(price) * 100 AS BIGINT) AS max_price_cents
    FROM new GROUP BY o_orderpriority
    """,
)
def orders_mv_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import (
        mv_refresh_minmax,
        snapshot_delta,
    )

    old, new = _mv_snapshot_frames(spark, sf_dir)
    mv_old = old.groupBy("o_orderpriority").agg(
        F.min("price").alias("min_price"), F.max("price").alias("max_price")
    )
    return _cents(
        mv_refresh_minmax(
            mv_old,
            snapshot_delta(old, new, ["o_orderkey"]),
            new,
            ["o_orderpriority"],
            {"min_price": ("min", "price"), "max_price": ("max", "price")},
        ),
        {"min_price": "min_price_cents", "max_price": "max_price_cents"},
    )


# --------------------------------------------------------------------------
# Q: orders_customer_join_mv — incremental maintenance of a DENORMALIZED
# JOIN view (operators/diff.py::join_mv_refresh): the enriched fact
# table orders LEFT JOIN customer kept current from the CDC feeds of
# BOTH bases without re-joining them. The scenario exercises every
# delta class on both sides: fact adds (%13 slice returns), fact
# removes (%17), fact reprices (%9), FK MOVES (%21 reassigns o_custkey,
# some to keys no customer has — a dangling FK the LEFT view carries as
# NULL), dim adds (%29 slice returns), dim attribute changes (%11
# rewrites the segment), dim removes (%19 — referencing fact rows NULL
# out). Oracle: the full re-join of the new snapshots — incremental ==
# recompute is the entire claim.
# --------------------------------------------------------------------------
_JOIN_MV_ORACLE = """
    WITH new_o AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 21 = 1 THEN o_custkey + 7
                    ELSE o_custkey END AS o_custkey,
               CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice + 1000.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 17 <> 3
    ), new_c AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 11 = 2 THEN 'MOVED-SEG'
                    ELSE c_mktsegment END AS c_mktsegment,
               c_nationkey
        FROM customer WHERE c_custkey % 19 <> 4
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
           c.c_mktsegment, c.c_nationkey
    FROM new_o o LEFT JOIN new_c c ON o.o_custkey = c.c_custkey
    """


def _join_mv_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(old_fact, new_fact, old_dim, new_dim) snapshot pairs for the
    join-view maintenance queries — deterministic modulo-derived
    mutations covering adds/removes/changes on both bases plus FK moves
    (including moves to keys no dim row has: the LEFT view's NULL
    case)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    old_o = o.where(F.col("o_orderkey") % 13 != 5)
    new_o = o.where(F.col("o_orderkey") % 17 != 3).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 21 == 1, F.col("o_custkey") + 7)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        F.when(F.col("o_orderkey") % 9 == 0, F.col("o_totalprice") + 1000.0)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    old_c = c.where(F.col("c_custkey") % 29 != 6)
    new_c = c.where(F.col("c_custkey") % 19 != 4).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 2, F.lit("MOVED-SEG"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_nationkey",
    )
    return old_o, new_o, old_c, new_c


_JOIN_MV_DIM_COLS = ["c_mktsegment", "c_nationkey"]


def _join_mv_seed(old_o: DataFrame, old_c: DataFrame) -> DataFrame:
    return old_o.join(
        old_c, old_o["o_custkey"] == old_c["c_custkey"], "left"
    ).select("o_orderkey", "o_custkey", "o_totalprice", *_JOIN_MV_DIM_COLS)


@query("orders_customer_join_mv", _JOIN_MV_ORACLE)
def orders_customer_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import (
        join_mv_refresh,
        snapshot_delta,
    )

    old_o, new_o, old_c, new_c = _join_mv_frames(spark, sf_dir)
    return join_mv_refresh(
        _join_mv_seed(old_o, old_c),
        snapshot_delta(old_o, new_o, ["o_orderkey"]),
        snapshot_delta(old_c, new_c, ["c_custkey"]),
        new_c,
        "o_orderkey",
        "o_custkey",
        "c_custkey",
        _JOIN_MV_DIM_COLS,
    )


# --------------------------------------------------------------------------
# Q: lineitem_star_join_mv — the N-dimension STAR form
# (operators/diff.py::star_mv_refresh): lineitem LEFT JOIN part LEFT
# JOIN supplier maintained from THREE CDC feeds in one refresh. The
# round mutates all three bases at once — fact adds/removes/reprices
# plus a simultaneous DOUBLE FK move (%21 reassigns part AND supplier,
# some to keys no dim row has), a supplier rename (%11), supplier
# removes (%19), part rebrands (%37) and part removes (%23) — so fact
# inserts must pick up BOTH dims' attributes in one pass (the step
# per-dim composition of the two-table operator cannot express).
# Oracle: the full three-way re-join of the new snapshots.
# --------------------------------------------------------------------------
_STAR_MV_ORACLE = """
    WITH base AS (
        -- the synthetic lineitem repeats (orderkey, linenumber) pairs,
        -- so the keyed fact is the MAX-deduped grain (snapshot CDC
        -- requires unique keys)
        SELECT l_orderkey * 10 + l_linenumber AS lid,
               MAX(l_orderkey) AS okey,
               MAX(l_partkey) AS l_partkey,
               MAX(l_suppkey) AS l_suppkey,
               MAX(l_quantity) AS l_quantity
        FROM lineitem GROUP BY 1
    ), new_l AS (
        SELECT lid,
               CASE WHEN okey % 21 = 1 THEN l_partkey + 13
                    ELSE l_partkey END AS l_partkey,
               CASE WHEN okey % 21 = 1 THEN l_suppkey + 7
                    ELSE l_suppkey END AS l_suppkey,
               CASE WHEN okey % 9 = 0 THEN l_quantity + 5.0
                    ELSE l_quantity END AS l_quantity
        FROM base WHERE okey % 17 <> 3
    ), new_p AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 37 = 3 THEN 'BRAND-X'
                    ELSE p_brand END AS p_brand,
               p_size
        FROM part WHERE p_partkey % 23 <> 2
    ), new_s AS (
        SELECT s_suppkey,
               CASE WHEN s_suppkey % 11 = 2 THEN 'SUPP-MOVED'
                    ELSE s_name END AS s_name,
               s_nationkey
        FROM supplier WHERE s_suppkey % 19 <> 4
    )
    SELECT l.lid, l.l_partkey, l.l_suppkey, l.l_quantity,
           p.p_brand, p.p_size, s.s_name, s.s_nationkey
    FROM new_l l
    LEFT JOIN new_p p ON l.l_partkey = p.p_partkey
    LEFT JOIN new_s s ON l.l_suppkey = s.s_suppkey
    """


@query("lineitem_star_join_mv", _STAR_MV_ORACLE)
def lineitem_star_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import (
        DimSpec,
        snapshot_delta,
        star_mv_refresh,
    )

    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("lid")
        )
        .agg(
            F.max("l_orderkey").alias("okey"),
            F.max("l_partkey").alias("l_partkey"),
            F.max("l_suppkey").alias("l_suppkey"),
            F.max("l_quantity").alias("l_quantity"),
        )
    )
    old_l = li.where(F.col("okey") % 13 != 5).drop("okey")
    new_l = li.where(F.col("okey") % 17 != 3).select(
        "lid",
        F.when(F.col("okey") % 21 == 1, F.col("l_partkey") + 13)
        .otherwise(F.col("l_partkey"))
        .alias("l_partkey"),
        F.when(F.col("okey") % 21 == 1, F.col("l_suppkey") + 7)
        .otherwise(F.col("l_suppkey"))
        .alias("l_suppkey"),
        F.when(F.col("okey") % 9 == 0, F.col("l_quantity") + 5.0)
        .otherwise(F.col("l_quantity"))
        .alias("l_quantity"),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    old_p = part.where(F.col("p_partkey") % 31 != 7)
    new_p = part.where(F.col("p_partkey") % 23 != 2).select(
        "p_partkey",
        F.when(F.col("p_partkey") % 37 == 3, F.lit("BRAND-X"))
        .otherwise(F.col("p_brand"))
        .alias("p_brand"),
        "p_size",
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    old_s = supp.where(F.col("s_suppkey") % 29 != 6)
    new_s = supp.where(F.col("s_suppkey") % 19 != 4).select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 11 == 2, F.lit("SUPP-MOVED"))
        .otherwise(F.col("s_name"))
        .alias("s_name"),
        "s_nationkey",
    )
    seed = (
        old_l.join(old_p, old_l["l_partkey"] == old_p["p_partkey"], "left")
        .join(old_s, old_l["l_suppkey"] == old_s["s_suppkey"], "left")
        .select(
            "lid", "l_partkey", "l_suppkey", "l_quantity",
            "p_brand", "p_size", "s_name", "s_nationkey",
        )
    )
    return star_mv_refresh(
        seed,
        snapshot_delta(old_l, new_l, ["lid"]),
        [
            DimSpec(
                snapshot_delta(old_p, new_p, ["p_partkey"]),
                new_p, "l_partkey", "p_partkey", ["p_brand", "p_size"],
            ),
            DimSpec(
                snapshot_delta(old_s, new_s, ["s_suppkey"]),
                new_s, "l_suppkey", "s_suppkey", ["s_name", "s_nationkey"],
            ),
        ],
        "lid",
    )


# --------------------------------------------------------------------------
# Q: streaming_join_mv — the SAME denormalized join view maintained from
# a single MULTIPLEXED CDC stream (streaming/mv.py::cdc_join_mv_stream):
# fact and dim change rows share one feed (schemas unioned by name,
# tagged by entity), sliced into three micro-batches. Each batch
# upserts the dimension snapshot, then applies both delta slices to the
# view — two versioned state roots, each with its own exact-once batch
# marker. Every delta key appears once and dim state grows monotonically
# toward the new snapshot, so the final view is independent of the
# slicing and the oracle is the full re-join — same as
# orders_customer_join_mv, reached through the streaming machinery.
# --------------------------------------------------------------------------
@query("streaming_join_mv", _JOIN_MV_ORACLE)
def streaming_join_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.sources.writers import (
        publish_versioned,
        read_latest,
    )
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.mv import cdc_join_mv_stream

    old_o, new_o, old_c, new_c = _join_mv_frames(spark, sf_dir)
    # ONE multiplexed feed: both deltas unioned by name (absent columns
    # NULL), tagged by entity, written as three files -> three
    # micro-batches under maxFilesPerTrigger=1
    fd = snapshot_delta(old_o, new_o, ["o_orderkey"]).withColumn(
        "entity", F.lit("fact")
    )
    dd = snapshot_delta(old_c, new_c, ["c_custkey"]).withColumn(
        "entity", F.lit("dim")
    )
    feed_df = fd.unionByName(dd, allowMissingColumns=True).repartition(3)
    with stream_workdir("pmp_join_mv") as work:
        view_root = os.path.join(work, "view")
        dim_root = os.path.join(work, "dim")
        feed = os.path.join(work, "cdc")
        feed_df.write.parquet(feed)
        publish_versioned(_join_mv_seed(old_o, old_c).coalesce(1), view_root)
        publish_versioned(old_c.coalesce(1), dim_root)
        cdc_join_mv_stream(
            spark.readStream.schema(feed_df.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            view_root,
            dim_root,
            "o_orderkey",
            "o_custkey",
            "c_custkey",
            _JOIN_MV_DIM_COLS,
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        return read_latest(spark, view_root).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Q: nation_trade_hits — HITS hubs-and-authorities (Kleinberg JACM
# 1999) over the same weighted nation-trade graph PageRank ranks: what
# HITS adds is the SPLIT of importance into being a good SOURCE of
# trade flow (hub = exporter-importance) vs a good SINK (authority =
# importer-importance) — one global score cannot express a nation that
# imports heavily but exports little. 8 fixed iterations, L1
# normalization each half-step (probability-shaped vectors, no square
# roots in the replay); the oracle unrolls a{{t}}/h{{t}} as MATERIALIZED
# CTE stages with the identical expression tree (the PageRank oracle
# strategy). Edge weights are exact integer cents, so the only float
# noise is the in-edge sum, stable under round-6.
# --------------------------------------------------------------------------
_HITS_ITERS = 8


def _hits_unrolled_oracle() -> str:
    steps = []
    for t in range(1, _HITS_ITERS + 1):
        hp = f"h{t - 1}"
        steps.append(
            f""", araw{t} AS MATERIALIZED (
        SELECT e.dst AS node, SUM(h.v * e.w) AS s
        FROM edges e JOIN {hp} h ON e.src = h.node GROUP BY e.dst
    ), a{t} AS MATERIALIZED (
        SELECT n.node,
               COALESCE(r.s, 0.0) / (SELECT SUM(s) FROM araw{t}) AS v
        FROM nodes n LEFT JOIN araw{t} r ON n.node = r.node
    ), hraw{t} AS MATERIALIZED (
        SELECT e.src AS node, SUM(a.v * e.w) AS s
        FROM edges e JOIN a{t} a ON e.dst = a.node GROUP BY e.src
    ), h{t} AS MATERIALIZED (
        SELECT n.node,
               COALESCE(r.s, 0.0) / (SELECT SUM(s) FROM hraw{t}) AS v
        FROM nodes n LEFT JOIN hraw{t} r ON n.node = r.node
    )"""
        )
    return (
        """
    WITH edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ), h0 AS MATERIALIZED (
        SELECT node, 1.0 AS v FROM nodes
    )"""
        + "".join(steps)
        + f"""
    SELECT nt.n_name,
           ROUND(a.v, 6) AS authority, ROUND(h.v, 6) AS hub
    FROM a{_HITS_ITERS} a
    JOIN h{_HITS_ITERS} h ON a.node = h.node
    JOIN nation nt ON a.node = nt.n_nationkey
    """
    )


@query("nation_trade_hits", _hits_unrolled_oracle())
def nation_trade_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.graph import hits

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(supplier), li["l_suppkey"] == supplier["s_suppkey"])
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
            F.floor(F.col("l_extendedprice") * 100).cast("long").alias("w"),
        )
    )
    out = hits(edges, "src", "dst", "w", iterations=_HITS_ITERS)
    return out.join(
        F.broadcast(nation), out["node"] == nation["n_nationkey"]
    ).select(
        "n_name",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


# --------------------------------------------------------------------------
# Q: nation_trade_pagerank — weighted PageRank (operators/graph.py) over
# the nation-to-nation trade graph: edges are customer-nation →
# supplier-nation flows weighted by exact trade cents (the heavy,
# distributed part — a 4-table join aggregated once), then 8 fixed rank
# iterations over the node-sized frame with stochastic dangling-mass
# completion. Deterministic by construction, so the oracle replays the
# IDENTICAL computation as 8 unrolled CTE stages — the same strategy as
# the BPE/k-means iterative oracles. Weights are exact integers, so the
# only float noise is the in-edge Σ, stable under round-6.
# --------------------------------------------------------------------------
_PR_DAMPING = 0.85
_PR_ITERS = 8


def _pagerank_unrolled_oracle(edges_filter: str = "") -> str:
    d = _PR_DAMPING
    steps = []
    for t in range(1, _PR_ITERS + 1):
        p = f"r{t - 1}"
        steps.append(
            f""", inc{t} AS MATERIALIZED (
        SELECT e.dst AS node, SUM(r.r * e.p) AS s
        FROM norm e JOIN {p} r ON e.src = r.node GROUP BY e.dst
    ), dang{t} AS MATERIALIZED (
        SELECT COALESCE(SUM(r.r), 0.0) AS dm
        FROM {p} r LEFT JOIN out_w o ON r.node = o.src
        WHERE o.src IS NULL
    ), r{t} AS MATERIALIZED (
        SELECT n.node,
               (1 - {d}) / nn.n
               + {d} * (COALESCE(i.s, 0.0) + dg.dm / nn.n) AS r
        FROM nodes n
        LEFT JOIN inc{t} i ON n.node = i.node
        CROSS JOIN dang{t} dg CROSS JOIN ncount nn
    )"""
        )
    return (
        """
    WITH edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey"""
        + edges_filter
        + """
        GROUP BY 1, 2
    ), out_w AS MATERIALIZED (
        -- HAVING mirrors graph.py's `__out > 0` guard: zero/negative
        -- total-weight sources are dangling in BOTH formulations
        SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
        HAVING SUM(w) > 0
    ), norm AS MATERIALIZED (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.out_w AS DOUBLE) AS p
        FROM edges e JOIN out_w o ON e.src = o.src
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ), ncount AS MATERIALIZED (
        SELECT COUNT(*) AS n FROM nodes
    ), r0 AS MATERIALIZED (
        SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN ncount nn
    )"""
        + "".join(steps)
        + f"""
    SELECT nt.n_name, ROUND(r.r, 6) AS pagerank
    FROM r{_PR_ITERS} r JOIN nation nt ON r.node = nt.n_nationkey
    """
    )


def _ppr_unrolled_oracle() -> str:
    """Personalized-PageRank oracle: same unrolled-step strategy as
    ``_pagerank_unrolled_oracle``, with 1/N replaced by the teleport
    distribution t(v) (region-0 nations, normalized over graph nodes)
    everywhere — restart, dangling redistribution, and r0."""
    d = _PR_DAMPING
    steps = []
    for t in range(1, _PR_ITERS + 1):
        p = f"r{t - 1}"
        steps.append(
            f""", inc{t} AS MATERIALIZED (
        SELECT e.dst AS node, SUM(r.r * e.p) AS s
        FROM norm e JOIN {p} r ON e.src = r.node GROUP BY e.dst
    ), dang{t} AS MATERIALIZED (
        SELECT COALESCE(SUM(r.r), 0.0) AS dm
        FROM {p} r LEFT JOIN out_w o ON r.node = o.src
        WHERE o.src IS NULL
    ), r{t} AS MATERIALIZED (
        SELECT n.node,
               (1 - {d}) * n.t + {d} * (COALESCE(i.s, 0.0) + dg.dm * n.t) AS r
        FROM tele n
        LEFT JOIN inc{t} i ON n.node = i.node
        CROSS JOIN dang{t} dg
    )"""
        )
    return (
        """
    WITH edges AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               SUM(CAST(FLOOR(l.l_extendedprice * 100) AS BIGINT)) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ), out_w AS MATERIALIZED (
        -- HAVING mirrors graph.py's `__out > 0` guard: zero/negative
        -- total-weight sources are dangling in BOTH formulations
        SELECT src, SUM(w) AS out_w FROM edges GROUP BY src
        HAVING SUM(w) > 0
    ), norm AS MATERIALIZED (
        SELECT e.src, e.dst,
               CAST(e.w AS DOUBLE) / CAST(o.out_w AS DOUBLE) AS p
        FROM edges e JOIN out_w o ON e.src = o.src
    ), nodes AS MATERIALIZED (
        SELECT DISTINCT src AS node FROM edges
        UNION SELECT DISTINCT dst FROM edges
    ), seeds AS MATERIALIZED (
        SELECT n_nationkey AS node, 1.0 AS w FROM nation WHERE n_regionkey = 0
    ), tele AS MATERIALIZED (
        SELECT n.node, COALESCE(s.w, 0.0) / tt.tot AS t
        FROM nodes n
        LEFT JOIN seeds s ON n.node = s.node
        CROSS JOIN (
            SELECT SUM(COALESCE(s2.w, 0.0)) AS tot
            FROM nodes n2 LEFT JOIN seeds s2 ON n2.node = s2.node
        ) tt
    ), r0 AS MATERIALIZED (
        SELECT node, t AS r FROM tele
    )"""
        + "".join(steps)
        + f"""
    SELECT nt.n_name, ROUND(r.r, 6) AS pagerank
    FROM r{_PR_ITERS} r JOIN nation nt ON r.node = nt.n_nationkey
    """
    )


def _trade_edges(spark: SparkSession, sf_dir: str, order_filter=None) -> DataFrame:
    """(src, dst, w) cross-border trade edges: customer nation →
    supplier nation, weighted by exact lineitem cents; optionally
    restricted to the orders satisfying ``order_filter`` (the snapshot
    derivations of the CDC-maintained variant)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    if order_filter is not None:
        orders = orders.where(order_filter)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(supp), F.col("l_suppkey") == supp["s_suppkey"])
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
                "w"
            )
        )
    )


def _named_ranks(spark: SparkSession, sf_dir: str, edges: DataFrame) -> DataFrame:
    from pmp_analytics_spark.operators.graph import pagerank

    ranks = pagerank(
        edges, "src", "dst", "w", damping=_PR_DAMPING, iterations=_PR_ITERS
    )
    nation = load_table(spark, sf_dir, "nation")
    return ranks.join(
        F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
    ).select("n_name", F.round("rank", 6).alias("pagerank"))


@query("nation_trade_pagerank", _pagerank_unrolled_oracle())
def nation_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _named_ranks(spark, sf_dir, _trade_edges(spark, sf_dir))


# --------------------------------------------------------------------------
# Q: nation_trade_ppr — PERSONALIZED PageRank (random walk with restart):
# the teleport distribution concentrates on region-0 nations, so ranks
# measure trade influence AS SEEN FROM that region's restart set — the
# seed-biased relevance ranking (who do region-0 economies ultimately
# fund?). Same operator, teleport frame passed in; the dangling mass and
# r0 follow the teleport too. Oracle: the unrolled steps with 1/N
# replaced by t(v) throughout.
# --------------------------------------------------------------------------
@query("nation_trade_ppr", _ppr_unrolled_oracle())
def nation_trade_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.graph import pagerank

    nation = load_table(spark, sf_dir, "nation")
    seeds = nation.where(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("node"), F.lit(1.0).alias("t_w")
    )
    ranks = pagerank(
        _trade_edges(spark, sf_dir),
        "src",
        "dst",
        "w",
        damping=_PR_DAMPING,
        iterations=_PR_ITERS,
        teleport=seeds,
    )
    return ranks.join(
        F.broadcast(nation), ranks["node"] == nation["n_nationkey"]
    ).select("n_name", F.round("rank", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# Q: streaming_pagerank_cdc — derived GRAPH ANALYTICS kept current from a
# CDC feed: the edge table (a keyed snapshot on (src, dst)) is maintained
# through cdc_apply_stream + apply_snapshot_delta (three micro-batches of
# edge adds/removes/weight changes from an order-universe transition),
# then PageRank recomputes over the maintained snapshot — the production
# cadence for graph signals (maintain edges incrementally, recompute the
# fixed-point periodically; incremental rank approximations trade
# correctness for latency and are not taken here). Oracle: the unrolled
# PageRank over the NEW order universe directly — maintained-then-ranked
# == derived-then-ranked is the claim.
# --------------------------------------------------------------------------
@query(
    "streaming_pagerank_cdc",
    _pagerank_unrolled_oracle(" AND o.o_orderkey % 17 <> 3"),
)
def streaming_pagerank_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.diff import (
        apply_snapshot_delta,
        snapshot_delta,
    )
    from pmp_analytics_spark.sources.writers import (
        publish_versioned,
        read_latest,
    )
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.mv import cdc_apply_stream

    old_e = _trade_edges(spark, sf_dir, F.col("o_orderkey") % 13 != 5)
    new_e = _trade_edges(spark, sf_dir, F.col("o_orderkey") % 17 != 3)
    with stream_workdir("pmp_pagerank_cdc") as work:
        root = os.path.join(work, "edges")
        feed = os.path.join(work, "cdc")
        # seed FIRST, derive the delta from the published parquet read-back:
        # the old side's 4-table edge aggregation runs once, not once per
        # consumer
        publish_versioned(old_e.coalesce(1), root)
        delta = snapshot_delta(
            read_latest(spark, root), new_e, ["src", "dst"]
        ).repartition(3)
        delta.write.parquet(feed)
        cdc_apply_stream(
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            root,
            lambda cur, batch: apply_snapshot_delta(cur, batch, ["src", "dst"]),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        return _named_ranks(
            spark, sf_dir, read_latest(spark, root)
        ).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Q: user_state_scd2 — Type-2 dimension BOOTSTRAP from an observation
# log (operators/scd.py::scd2_compress): each user's event_type stream
# collapses into maximal validity intervals [valid_from_us,
# valid_to_us) — the run-length encoding that turns raw history into a
# dimension an as-of/interval join can probe. One shuffle on user_id
# feeds both windows (change-lag and closing-lead share partitioning);
# the oracle replays the same two-window formulation in SQL with
# IS DISTINCT FROM state comparison.
# --------------------------------------------------------------------------
@query(
    "user_state_scd2",
    """
    WITH obs AS (
        SELECT user_id, event_type, EPOCH_US(ts) AS ts_us, event_id
        FROM events
    ), flagged AS (
        SELECT user_id, event_type, ts_us, event_id,
               (ROW_NUMBER() OVER w = 1
                OR LAG(event_type) OVER w IS DISTINCT FROM event_type)
                   AS is_start
        FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), runs AS (
        SELECT user_id, event_type, ts_us AS valid_from_us, event_id
        FROM flagged WHERE is_start
    )
    SELECT user_id, event_type, valid_from_us,
           LEAD(valid_from_us) OVER (PARTITION BY user_id
                                     ORDER BY valid_from_us, event_id)
               AS valid_to_us
    FROM runs
    """,
)
def user_state_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.scd import scd2_compress

    obs = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    out = scd2_compress(
        obs, ["user_id"], ["event_type"], "ts_us", tiebreak="event_id"
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
    )


# --------------------------------------------------------------------------
# Q: purchase_state_pointintime — the SCD2 family's downstream payoff:
# each purchase is enriched with the user's state (their most recent
# NON-purchase activity) as of the purchase instant. The dimension is
# scd2_compress over the non-purchase event stream; because its
# intervals partition the timeline from the first observation, the
# containing interval is exactly the as-of(backward) match on
# valid_from — so the lookup is operators/joins.py::asof_join (one
# key-shuffle union + ordered window, no interval explosion).
# Purchases before a user's first observation keep NULL state
# (left-join semantics). Oracle: DuckDB's NATIVE ASOF LEFT JOIN over
# the same compressed runs — an independent formulation of both halves.
# --------------------------------------------------------------------------
@query(
    "purchase_state_pointintime",
    """
    WITH obs AS (
        SELECT user_id, event_type, EPOCH_US(ts) AS ts_us, event_id
        FROM events WHERE event_type <> 'purchase'
    ), flagged AS (
        SELECT user_id, event_type, ts_us, event_id,
               (ROW_NUMBER() OVER w = 1
                OR LAG(event_type) OVER w IS DISTINCT FROM event_type)
                   AS is_start
        FROM obs WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), runs AS (
        SELECT user_id, event_type AS state, ts_us AS state_since_us,
               LEAD(ts_us) OVER (PARTITION BY user_id
                                 ORDER BY ts_us, event_id) AS valid_to_us
        FROM flagged WHERE is_start
    ), dim AS (
        -- zero-length runs (two states at the same instant) can never
        -- contain a probe instant; dropping them also makes
        -- (user_id, state_since_us) UNIQUE, so the as-of pick is
        -- deterministic on both engines
        SELECT user_id, state, state_since_us FROM runs
        WHERE valid_to_us IS NULL OR valid_to_us > state_since_us
    ), purchases AS (
        SELECT event_id, user_id, EPOCH_US(ts) AS ts_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts_us, r.state, r.state_since_us
    FROM purchases p
    ASOF LEFT JOIN dim r
      ON p.user_id = r.user_id AND p.ts_us >= r.state_since_us
    """,
)
def purchase_state_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.scd import scd2_compress

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
    )
    # zero-length runs (two states at the same instant) contain no probe
    # instant; dropping them makes (user_id, valid_from) unique, which
    # asof_join's tie contract requires for a deterministic pick
    dim = (
        scd2_compress(
            ev.where(F.col("event_type") != "purchase"),
            ["user_id"],
            ["event_type"],
            "ts_us",
            tiebreak="event_id",
        )
        .where(
            F.col("valid_to").isNull()
            | (F.col("valid_to") > F.col("valid_from"))
        )
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("valid_from").alias("state_since_us"),
        )
    )
    probe = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    return asof_join(
        probe, dim, ["user_id"], left_ts="ts_us", right_ts="state_since_us"
    ).select("event_id", "user_id", "ts_us", "state", "state_since_us")


# --------------------------------------------------------------------------
# Q: customer_scd2_apply — Type-2 dimension MAINTENANCE from a CDC batch
# (operators/scd.py::scd2_apply): the customer dimension's segment /
# balance history under the snapshot-delta derivation (old drops
# c_custkey % 13 = 5; new drops % 17 = 3, reassigns the segment at
# % 23 = 0, reprices the balance at % 9 = 0 by an exact +100.0).
# Changed/removed keys close their current interval at the effective
# tick; changed/added keys open a new current one; history rows are
# immutable. The delta is BROADCAST into one dimension-sized pass —
# O(|delta|) movement, never a base rescan. Oracle: the closed/current/
# inserted partition of the same full-outer CDC join, in SQL.
# --------------------------------------------------------------------------
_SCD2_EFFECTIVE_US = 1_000_000


@query(
    "customer_scd2_apply",
    f"""
    WITH old AS (
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 13 <> 5
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 23 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment,
               CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 17 <> 3
    ), j AS (
        SELECT o.c_custkey AS ok, n.c_custkey AS nk,
               o.c_mktsegment AS om, o.c_acctbal AS oa,
               n.c_mktsegment AS nm, n.c_acctbal AS na
        FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    )
    SELECT ok AS c_custkey, om AS c_mktsegment, oa AS c_acctbal,
           CAST(0 AS BIGINT) AS valid_from,
           CAST(CASE WHEN nk IS NULL
                       OR om IS DISTINCT FROM nm
                       OR oa IS DISTINCT FROM na
                     THEN {_SCD2_EFFECTIVE_US} END AS BIGINT) AS valid_to
    FROM j WHERE ok IS NOT NULL
    UNION ALL
    SELECT nk, nm, na, CAST({_SCD2_EFFECTIVE_US} AS BIGINT),
           CAST(NULL AS BIGINT)
    FROM j
    WHERE nk IS NOT NULL
      AND (ok IS NULL OR om IS DISTINCT FROM nm OR oa IS DISTINCT FROM na)
    """,
)
def customer_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.scd import scd2_apply

    old, new = _scd2_snapshot_frames(spark, sf_dir)
    dim0 = old.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    return scd2_apply(
        dim0,
        snapshot_delta(old, new, ["c_custkey"]),
        ["c_custkey"],
        ["c_mktsegment", "c_acctbal"],
        F.lit(_SCD2_EFFECTIVE_US),
    )


def _scd2_snapshot_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(old, new) customer-dimension snapshots for the SCD2 queries —
    same mutation grammar as the MV family: drop, segment reassignment
    (a group-moving change), exact double reprice."""
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    old = base.where(F.col("c_custkey") % 13 != 5)
    new = base.where(F.col("c_custkey") % 17 != 3).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 23 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 9 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
    )
    return old, new


# --------------------------------------------------------------------------
# Q: streaming_scd2_apply — the SAME dimension maintained from a CDC
# STREAM (streaming/mv.py::cdc_apply_stream): the delta arrives as three
# micro-batch file drops; each batch closes/opens intervals via
# scd2_apply and publishes through the atomic _LATEST flip with the
# batch id as the exact-once marker (re-inserting a replayed batch's
# rows would duplicate history). snapshot_delta emits each key once, so
# batches touch DISJOINT keys and the final dimension is independent of
# the slicing — the oracle is customer_scd2_apply's.
# --------------------------------------------------------------------------
@query("streaming_scd2_apply", ORACLE["customer_scd2_apply"])
def streaming_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.scd import scd2_apply
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.mv import cdc_apply_stream

    old, new = _scd2_snapshot_frames(spark, sf_dir)
    dim0 = old.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    delta = snapshot_delta(old, new, ["c_custkey"]).repartition(3)
    with stream_workdir("pmp_scd2_refresh") as work:
        root = os.path.join(work, "state")
        feed = os.path.join(work, "cdc")
        delta.write.parquet(feed)
        publish_versioned(dim0.coalesce(1), root)
        cdc_apply_stream(
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            root,
            lambda cur, batch: scd2_apply(
                cur,
                batch,
                ["c_custkey"],
                ["c_mktsegment", "c_acctbal"],
                F.lit(_SCD2_EFFECTIVE_US),
            ),
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        return read_latest(spark, root).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Q: streaming_event_dedup_watermark — effectively-once ingest from an
# at-least-once feed: dropDuplicatesWithinWatermark bounds the dedup
# state by event time (plain streaming dropDuplicates keeps EVERY key
# forever — the state leak sketches.py:181 warns about). The staged feed
# re-delivers every 10th event in a SEPARATE later micro-batch (the hard
# case: duplicate arrives after its original's batch); the watermark is
# generous relative to the corpus's time span, so the batch oracle is
# plain DISTINCT — i.e. the base table itself. At production scale the
# watermark is the knob trading re-delivery horizon for state size.
# --------------------------------------------------------------------------
@query(
    "streaming_event_dedup_watermark",
    """
    SELECT event_id, user_id, event_type,
           EPOCH_US(ts) AS ts_us, ROUND(value, 6) AS value
    FROM events
    """,
)
def streaming_event_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import uuid

    from pmp_analytics_spark.sources.reader import load_table, normalize_event_ts
    from pmp_analytics_spark.streaming import run_to_memory, stream_workdir

    events = normalize_event_ts(load_table(spark, sf_dir, "events")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    # stage the at-least-once feed: full corpus, then every 10th event
    # re-delivered as its own file -> its own micro-batch
    with stream_workdir("pmp_dedup_wm") as work:
        feed = os.path.join(work, "feed")
        events.coalesce(1).write.mode("append").parquet(feed)
        events.where(F.col("event_id") % 10 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        deduped = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .withWatermark("ts", "720 hours")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                F.round("value", 6).alias("value"),
            )
        )
        name = f"dedup_wm_{uuid.uuid4().hex[:8]}"
        run_to_memory(deduped, name, output_mode="append")
        return spark.table(name).localCheckpoint(eager=True)


# --------------------------------------------------------------------------
# Q: streaming_pointintime_enrich — STREAMING point-in-time serving join
# (streaming/scd.py::cdc_pointintime_stream), the online feature-store
# shape: one multiplexed feed carries customer-dimension CDC rows (each
# with its own effective tick: key % 3 picks 1/2/3 Ms) and order facts
# (probe instant (o_orderkey % 4) Ms + 0.5 Ms), sliced into three
# micro-batches so every dim change effective at or before a fact's
# probe instant arrives no later than the fact (the loop's ordering
# contract; file order pinned by explicit mtimes). Per batch: scd2_apply
# maintains the Type-2 history at the dim root, then the batch's facts
# as-of enrich against the POST-batch history with interval-expiry
# nulling (a close at tick <= probe instant = removed-key gap -> NULL
# state), both publishes exactly-once-markered. The oracle recomputes
# the FINAL dimension and DuckDB-native ASOF-LEFT-JOINs all facts at
# once — equality IS the multi-batch ≡ batch pin, on top of the pytest
# replay/crash coverage.
# --------------------------------------------------------------------------
@query(
    "streaming_pointintime_enrich",
    """
    WITH old AS (
        SELECT c_custkey, c_mktsegment, c_acctbal
        FROM customer WHERE c_custkey % 13 <> 5
    ), new AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 23 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS c_mktsegment,
               CASE WHEN c_custkey % 9 = 0 THEN c_acctbal + 100.0
                    ELSE c_acctbal END AS c_acctbal
        FROM customer WHERE c_custkey % 17 <> 3
    ), j AS (
        SELECT o.c_custkey AS ok, n.c_custkey AS nk,
               o.c_mktsegment AS om, o.c_acctbal AS oa,
               n.c_mktsegment AS nm, n.c_acctbal AS na,
               ((COALESCE(o.c_custkey, n.c_custkey) % 3) + 1) * 1000000
                   AS tick
        FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    ), dim AS (
        SELECT ok AS c_custkey, om AS seg, oa AS bal,
               CAST(0 AS BIGINT) AS valid_from,
               CAST(CASE WHEN nk IS NULL
                           OR om IS DISTINCT FROM nm
                           OR oa IS DISTINCT FROM na
                         THEN tick END AS BIGINT) AS valid_to
        FROM j WHERE ok IS NOT NULL
        UNION ALL
        SELECT nk, nm, na, CAST(tick AS BIGINT), CAST(NULL AS BIGINT)
        FROM j
        WHERE nk IS NOT NULL
          AND (ok IS NULL OR om IS DISTINCT FROM nm
               OR oa IS DISTINCT FROM na)
    ), facts AS (
        SELECT o_orderkey, o_custkey AS c_custkey,
               CAST((o_orderkey % 4) * 1000000 + 500000 AS BIGINT) AS ts_us
        FROM orders WHERE o_orderkey % 11 = 0
    ), m AS (
        SELECT f.o_orderkey, f.c_custkey, f.ts_us,
               d.seg, d.bal, d.valid_from, d.valid_to
        FROM facts f ASOF LEFT JOIN dim d
          ON f.c_custkey = d.c_custkey AND f.ts_us >= d.valid_from
    )
    SELECT o_orderkey, c_custkey, ts_us,
           CASE WHEN valid_to IS NOT NULL AND valid_to <= ts_us THEN NULL
                ELSE seg END AS segment,
           CAST(CASE WHEN valid_to IS NOT NULL AND valid_to <= ts_us
                     THEN NULL
                     ELSE FLOOR(bal * 100) END AS BIGINT) AS bal_cents,
           CAST(CASE WHEN valid_to IS NOT NULL AND valid_to <= ts_us
                     THEN NULL
                     ELSE valid_from END AS BIGINT) AS state_since_us
    FROM m
    """,
)
def streaming_pointintime_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming import stream_workdir
    from pmp_analytics_spark.streaming.scd import cdc_pointintime_stream

    old, new = _scd2_snapshot_frames(spark, sf_dir)
    dim0 = old.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.col("c_acctbal").alias("bal"),
        F.lit(0).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    delta = snapshot_delta(
        old.select("c_custkey", F.col("c_mktsegment").alias("seg"),
                   F.col("c_acctbal").alias("bal")),
        new.select("c_custkey", F.col("c_mktsegment").alias("seg"),
                   F.col("c_acctbal").alias("bal")),
        ["c_custkey"],
    ).select(
        "*",
        ((F.col("c_custkey") % 3 + 1) * 1_000_000).cast("long").alias("eff_ts"),
        (F.col("c_custkey") % 3).cast("int").alias("__b"),
        F.lit("dim").alias("entity"),
    )
    facts = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 11 == 0
    ).select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        ((F.col("o_orderkey") % 4) * 1_000_000 + 500_000)
        .cast("long")
        .alias("ts_us"),
        F.least((F.col("o_orderkey") % 4).cast("int"), F.lit(2)).alias("__b"),
        F.lit("fact").alias("entity"),
    )
    fused = delta.unionByName(facts, allowMissingColumns=True)
    with stream_workdir("pmp_pointintime") as work:
        feed = os.path.join(work, "feed")
        # one file per micro-batch, mtimes spaced so the file source drains
        # them in batch order — the loop's ordering contract (facts must not
        # precede the dim ticks at or before their probe instant)
        for b in range(3):
            fused.where(F.col("__b") == b).drop("__b").coalesce(1).write.mode(
                "append"
            ).parquet(feed)
        parts = sorted(
            (os.path.getmtime(os.path.join(feed, f)), f)
            for f in os.listdir(feed)
            if f.endswith(".parquet")
        )
        base = parts[0][0]
        for i, (_, f) in enumerate(parts):
            os.utime(os.path.join(feed, f), (base + 10 * i, base + 10 * i))
        dim_root = os.path.join(work, "dim")
        out_root = os.path.join(work, "out")
        publish_versioned(dim0.coalesce(1), dim_root)
        publish_versioned(
            spark.createDataFrame(
                [],
                "o_orderkey long, c_custkey long, ts_us long, "
                "seg string, bal double, valid_from long",
            ),
            out_root,
        )
        cdc_pointintime_stream(
            spark.readStream.schema(fused.drop("__b").schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed),
            dim_root,
            out_root,
            keys=["c_custkey"],
            attr_cols=["seg", "bal"],
            fact_cols=["o_orderkey"],
            fact_ts="ts_us",
            checkpoint_dir=os.path.join(work, "ckpt"),
        )
        return (
            read_latest(spark, out_root)
            .select(
                "o_orderkey",
                "c_custkey",
                "ts_us",
                F.col("seg").alias("segment"),
                F.floor(F.col("bal") * 100).cast("long").alias("bal_cents"),
                F.col("valid_from").alias("state_since_us"),
            )
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# Q: part_copurchase_triangles — per-node triangle counts on the part
# co-purchase graph (parts linked when the same order contains both),
# via degree-ordered orientation (operators/graph.py::triangle_count):
# every out-degree is O(sqrt(m)), so the wedge join is O(m^1.5) total
# regardless of hub parts — the Suri-Vassilvitskii "last reducer" fix.
# The oracle closes triangles the direct way (a<b<c over the canonical
# edge list), a genuinely different formulation of the same count.
# Output: the 100 most triangle-dense parts (deterministic tie-break on
# part id), exact integer counts.
# --------------------------------------------------------------------------
@memo.on_tables("lineitem")
def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase edge frame shared by the triangles /
    communities / k-core queries: parts appearing on the same order.

    The self-join's two sides are the SAME distinct (order, part)
    projection; planned lazily each side scans lineitem independently
    (alias-renamed subtrees defeat exchange reuse), so the one
    checkpoint here halves the query's input volume — the scan +
    distinct run once and both join sides probe the materialized
    pair frame. The RESULT is eagerly checkpointed and memoized per
    (session, sf_dir, lineitem files) in ``memo``: the second and third
    graph query skip the scan, the distinct and the self-join entirely.
    At deployment that edge set is a materialized derived table built
    once per corpus version, not re-derived per analysis.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("u"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("v"))
    return (
        a.join(b, "ok")
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .localCheckpoint(eager=True)
    )


_TRI_TOP = 100


@query(
    "part_copurchase_triangles",
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    t AS (
        SELECT ab.u AS a, ab.v AS b, bc.v AS c
        FROM e ab
        JOIN e bc ON ab.v = bc.u
        JOIN e ac ON ac.u = ab.u AND ac.v = bc.v
    ),
    n AS (
        SELECT UNNEST([a, b, c]) AS node FROM t
    ),
    cnt AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM n GROUP BY node
    )
    SELECT node, triangles FROM cnt
    ORDER BY triangles DESC, node LIMIT {_TRI_TOP}
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.graph import triangle_count

    edges = _copurchase_edges(spark, sf_dir)
    out = triangle_count(edges, "u", "v")
    return out.orderBy(F.desc("triangles"), "node").limit(_TRI_TOP)


# --------------------------------------------------------------------------
# Q: part_copurchase_communities — community detection by determinized
# SYNCHRONOUS label propagation (operators/graph.py::
# label_propagation_communities): 4 fixed rounds, each node adopting
# its neighbors' most frequent label with ties toward the smallest
# label — no randomness, so the oracle unrolls the 4 rounds as CTE
# stages (the repo's iterative-operator strategy: PageRank, BPE,
# k-means). One round costs two node-keyed shuffles, the same budget
# as a PageRank step. Output: community sizes.
# --------------------------------------------------------------------------
_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    rounds = []
    for i in range(1, _LPA_ROUNDS + 1):
        rounds.append(
            f"""
    c{i} AS (
        SELECT adj.a AS n, l.lbl, COUNT(*) AS cnt
        FROM adj JOIN l{i - 1} l ON adj.b = l.n GROUP BY 1, 2
    ),
    l{i} AS (
        SELECT n, lbl FROM (
            SELECT n, lbl,
                   ROW_NUMBER() OVER (PARTITION BY n
                                      ORDER BY cnt DESC, lbl) AS rn
            FROM c{i}
        ) WHERE rn = 1
    )"""
        )
    return f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    adj AS (
        SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e
    ),
    l0 AS (SELECT DISTINCT a AS n, a AS lbl FROM adj),
    {",".join(rounds)}
    SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_members
    FROM l{_LPA_ROUNDS} GROUP BY lbl
    """


@query("part_copurchase_communities", _lpa_oracle())
def part_copurchase_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.graph import (
        label_propagation_communities,
    )

    edges = _copurchase_edges(spark, sf_dir)
    out = label_propagation_communities(edges, "u", "v", iterations=_LPA_ROUNDS)
    return out.groupBy("community").agg(
        F.count(F.lit(1)).alias("n_members")
    )


# --------------------------------------------------------------------------
# Q: part_copurchase_kcore — the k-core of the part co-purchase graph
# by round-based peeling (operators/graph.py::kcore): drop degree<k
# nodes and their edges until stable. Peeling is monotone, so the
# operator's integer-count early exit and the oracle's fixed 8-round
# unroll land on the same edge set (converged rounds are no-ops).
# k=80 sits just under this graph's core collapse point (the 90-core
# is empty), so the peel does real cascading work. Output: core
# members with their IN-CORE degree.
# --------------------------------------------------------------------------
_KCORE_K = 80
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    parts = []
    prev = "e0"
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
    d{i} AS MATERIALIZED (
        SELECT n, COUNT(*) AS d FROM (
            SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
        ) GROUP BY n
    ),
    kp{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE d >= {_KCORE_K}),
    e{i} AS MATERIALIZED (
        SELECT p.u, p.v FROM {prev} p
        JOIN kp{i} a ON p.u = a.n JOIN kp{i} b ON p.v = b.n
    )"""
        )
        prev = f"e{i}"
    return f"""
    WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e0 AS MATERIALIZED (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    {",".join(parts)}
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS n FROM {prev} UNION ALL SELECT v AS n FROM {prev}
    ) GROUP BY n
    """


@query("part_copurchase_kcore", _kcore_oracle())
def part_copurchase_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.graph import kcore

    edges = _copurchase_edges(spark, sf_dir)
    return kcore(edges, _KCORE_K, "u", "v", max_rounds=_KCORE_ROUNDS)
