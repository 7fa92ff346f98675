"""Reference-parity queries over the synthetic star schema.

Each query re-expresses one of the reference's relational patterns
(SURVEY.md §2) as an idiomatic Spark pipeline, with a DuckDB oracle.
FIXTURES.md mapping: customer↔pharmacies, nation↔boards/licenses,
orders↔delinquent-dispenser facts, supplier↔DEA registrants,
lineitem↔dispensations, part↔drugs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pmp_analytics_spark import memo
from pmp_analytics_spark.functions.checksums import dea_is_valid, npi_is_valid
from pmp_analytics_spark.functions.normalize import clean_key, null_or_empty
from pmp_analytics_spark.operators.agg import (
    collect_sorted_list,
    top_k,
    value_counts,
    with_global_agg,
)
from pmp_analytics_spark.operators.dedup import keep_first
from pmp_analytics_spark.operators.joins import anti_join, fuzzy_join, semi_join
from pmp_analytics_spark.operators.sample import deterministic_sample
from pmp_analytics_spark.operators.sessionize import sessionize
from pmp_analytics_spark.queries.registry import query
from pmp_analytics_spark.sources.reader import load_table


# --------------------------------------------------------------------------
# Q: pricing_summary — TPC-H Q1 shape (SURVEY §2.5 A1/A2, §2.7 O1).
# The dispensation-volume rollup pattern (scorecard.py:59-65 group_by sum).
# --------------------------------------------------------------------------
@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                  AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                             AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4)                                  AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                             AS avg_price,
           ROUND(AVG(l_discount), 4)                                  AS avg_disc,
           COUNT(*)                                                   AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate").cast("date") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q: delinquency_notices — the flagship; re-targets the reference's richest
# pipeline (delinquent_data_submitters.py:24-107): 3 normalized sources →
# delinquency filter w/ null-or-empty disjunction → left join (pharmacies) →
# inner join (boards) → anti join (open complaints) → array-assembly
# projection → ordered notices. (J1+J2+J3, F1-F10, P1-P4, O1-O3.)
# --------------------------------------------------------------------------
@query(
    "delinquency_notices",
    """
    WITH pharmacies AS (
        SELECT c_custkey,
               UPPER(TRIM(c_name)) AS pharmacy_name,
               c_nationkey,
               COALESCE(NULLIF(c_mktsegment, ''), 'UNKNOWN') AS segment
        FROM customer
        WHERE c_mktsegment IS NULL OR c_mktsegment <> 'FURNITURE'
    ), boards AS (
        SELECT n_nationkey, UPPER(TRIM(n_name)) AS board_name FROM nation
    ), delinquent AS (
        SELECT o_orderkey, o_custkey,
               CAST(o_orderdate AS DATE) AS last_compliant,
               CAST(o_orderdate + INTERVAL 1 DAY AS DATE) AS first_delinquent,
               DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-06-01') AS days_delinquent
        FROM orders
        WHERE o_orderstatus = 'F'
          AND NOT (o_orderpriority IS NULL OR o_orderpriority = ''
                   OR o_orderpriority = '4-NOT SPECIFIED')
          AND DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-06-01') > 180
    ), complaints AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
    )
    SELECT d.o_orderkey AS notice_id,
           p.c_custkey AS pharmacy_id,
           p.pharmacy_name,
           b.board_name,
           p.segment,
           d.last_compliant,
           d.first_delinquent,
           d.days_delinquent,
           ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT(
               [LOWER(p.pharmacy_name), LOWER(p.segment), LOWER(b.board_name)]
           )), ';') AS contacts
    FROM delinquent d
    LEFT JOIN pharmacies p ON d.o_custkey = p.c_custkey
    INNER JOIN boards b ON p.c_nationkey = b.n_nationkey
    WHERE d.o_custkey NOT IN (SELECT o_custkey FROM complaints)
    """,
)
def delinquency_notices(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")

    pharmacies = customer.where(
        F.col("c_mktsegment").isNull() | (F.col("c_mktsegment") != "FURNITURE")
    ).select(
        "c_custkey",
        clean_key("c_name").alias("pharmacy_name"),
        "c_nationkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("")), F.lit("UNKNOWN")).alias("segment"),
    )
    boards = nation.select("n_nationkey", clean_key("n_name").alias("board_name"))
    as_of = F.lit("2002-06-01").cast("date")
    delinquent = (
        orders.where(F.col("o_orderstatus") == "F")
        .where(~(null_or_empty("o_orderpriority") | (F.col("o_orderpriority") == "4-NOT SPECIFIED")))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("last_compliant"),
            F.date_add(F.col("o_orderdate").cast("date"), 1).alias("first_delinquent"),
            F.datediff(as_of, F.col("o_orderdate").cast("date")).cast("long").alias("days_delinquent"),
        )
        .where(F.col("days_delinquent") > 180)
    )
    complaints = (
        orders.where((F.col("o_orderstatus") == "P") & (F.col("o_orderpriority") == "1-URGENT"))
        .select("o_custkey")
        .distinct()
    )
    notices = (
        anti_join(delinquent, complaints, on=["o_custkey"])
        .join(F.broadcast(pharmacies), delinquent["o_custkey"] == pharmacies["c_custkey"], "left")
        .join(F.broadcast(boards), pharmacies["c_nationkey"] == boards["n_nationkey"], "inner")
    )
    return notices.select(
        F.col("o_orderkey").alias("notice_id"),
        F.col("c_custkey").alias("pharmacy_id"),
        "pharmacy_name",
        "board_name",
        "segment",
        "last_compliant",
        "first_delinquent",
        "days_delinquent",
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.array(F.lower("pharmacy_name"), F.lower("segment"), F.lower("board_name"))
                )
            ),
            ";",
        ).alias("contacts"),
    )


# --------------------------------------------------------------------------
# Q: customers_without_orders — anti-join as exclusion (J3; the reference's
# signature pattern, e.g. permit_inspection_licenses.py:48).
# --------------------------------------------------------------------------
@query(
    "customers_without_orders",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return anti_join(
        customer, orders.select(F.col("o_custkey").alias("c_custkey")), on=["c_custkey"], broadcast_right=False
    ).select("c_custkey", "c_name", "c_mktsegment")


# --------------------------------------------------------------------------
# Q: high_volume_suppliers — membership as broadcast SEMI join, replacing the
# reference's driver-side is_in(list) (F5, unreg_presc.py:119).
# --------------------------------------------------------------------------
@query(
    "high_volume_suppliers",
    """
    SELECT s.s_suppkey, s.s_name, s.s_nationkey
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity >= 49)
    """,
)
def high_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    lineitem = load_table(spark, sf_dir, "lineitem")
    members = lineitem.where(F.col("l_quantity") >= 49).select(F.col("l_suppkey").alias("s_suppkey"))
    return semi_join(supplier, members, on=["s_suppkey"], broadcast_right=False).select(
        "s_suppkey", "s_name", "s_nationkey"
    )


# --------------------------------------------------------------------------
# Q: repeat_customers — count-over-partition window (W1,
# awarxe_cleanup.py:218 multiple-roles check).
# --------------------------------------------------------------------------
@query(
    "repeat_customers",
    """
    SELECT * FROM (
        SELECT o_orderkey, o_custkey,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
        FROM orders
    ) WHERE n_orders > 14
    """,
)
def repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return (
        orders.select("o_orderkey", "o_custkey", F.count(F.lit(1)).over(w).alias("n_orders"))
        .where(F.col("n_orders") > 14)
    )


# --------------------------------------------------------------------------
# Q: latest_order_per_customer — deterministic keep-first dedup (W2,
# mm2.py:37-39 sort+unique keep='first').
# --------------------------------------------------------------------------
@query(
    "latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderstatus
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders
    ) WHERE rn = 1
    """,
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return keep_first(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.desc("o_orderdate"), F.desc("o_orderkey")],
    ).select("o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderstatus")


# --------------------------------------------------------------------------
# Q: event_type_counts — value_counts (A5, unreg_presc.py:165).
# --------------------------------------------------------------------------
@query(
    "event_type_counts",
    """
    SELECT event_type, COUNT(*) AS count
    FROM events GROUP BY event_type
    """,
)
def event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return value_counts(events, "event_type")


# --------------------------------------------------------------------------
# Q: top_customers_by_spend — group-by sum + top-K (A2+O4; scorecard.py:59,
# mu_extras.py:100 head(TOP_PRESCRIBERS=40)).
# --------------------------------------------------------------------------
@query(
    "top_customers_by_spend",
    """
    SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS total_spend, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    ORDER BY total_spend DESC, o_custkey LIMIT 40
    """,
)
def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return top_k(agg, [F.desc("total_spend"), F.asc("o_custkey")], 40)


# --------------------------------------------------------------------------
# Q: busiest_suppliers — argmax rows (A8, error_pharmacies.py:43
# filter(len == len.max())).
# --------------------------------------------------------------------------
@query(
    "busiest_suppliers",
    """
    WITH counts AS (
        SELECT l_suppkey, COUNT(*) AS n_items FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, n_items FROM counts
    WHERE n_items = (SELECT MAX(n_items) FROM counts)
    """,
)
def busiest_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    counts = lineitem.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_items"))
    maxed = with_global_agg(counts, {"__gmax": F.max("n_items")})
    return maxed.where(F.col("n_items") == F.col("__gmax")).select("l_suppkey", "n_items")


# --------------------------------------------------------------------------
# Q: nation_revenue_share — broadcast (whole-frame) aggregate in projection
# (A7+A10, error_pharmacies.py:114-116) without the single-partition window.
# --------------------------------------------------------------------------
@query(
    "nation_revenue_share",
    """
    WITH rev AS (
        SELECT n.n_name,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS revenue_raw
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name,
           ROUND(revenue_raw, 2) AS revenue,
           ROUND(revenue_raw / SUM(revenue_raw) OVER (), 4) AS revenue_share
    FROM rev
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        lineitem.join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue_raw"))
    )
    shared = with_global_agg(rev, {"__total": F.sum("revenue_raw")})
    return shared.select(
        "n_name",
        F.round("revenue_raw", 2).alias("revenue"),
        F.round(F.col("revenue_raw") / F.col("__total"), 4).alias("revenue_share"),
    )


# --------------------------------------------------------------------------
# Q: customer_priority_history — per-group sorted list collection (A4,
# awarxe_cleanup.py:264-265) projected to a join-string (list.join, §2.9).
# --------------------------------------------------------------------------
@query(
    "customer_priority_history",
    """
    SELECT o_custkey,
           STRING_AGG(o_orderpriority, ';' ORDER BY o_orderkey) AS priorities,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey
    """,
)
def customer_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    collected = collect_sorted_list(
        orders, group_by=["o_custkey"], order_col="o_orderkey", value_col="o_orderpriority", out_name="__p"
    )
    return collected.select(
        "o_custkey",
        F.array_join("__p", ";").alias("priorities"),
        F.size("__p").cast("long").alias("n_orders"),
    )


# --------------------------------------------------------------------------
# Q: normalized_supplier_directory — the string-normalization workhorse pack
# (§2.9: trim/upper/lower, zfill→lpad, slice→right, regexp_replace,
# concat_ws, length).
# --------------------------------------------------------------------------
@query(
    "normalized_supplier_directory",
    """
    SELECT s_suppkey,
           UPPER(TRIM(s_name)) AS supplier_key,
           LPAD(CAST(s_suppkey AS VARCHAR), 9, '0') AS padded_id,
           RIGHT(UPPER(TRIM(s_name)), 3) AS key_suffix,
           REGEXP_REPLACE(LOWER(s_name), '[^a-z0-9]+', '_', 'g') AS slug,
           CONCAT_WS(' ', UPPER(TRIM(s_name)), UPPER(TRIM(n_name))) AS display,
           LENGTH(s_name) AS name_len
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    """,
)
def normalized_supplier_directory(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return supplier.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")).select(
        "s_suppkey",
        clean_key("s_name").alias("supplier_key"),
        F.lpad(F.col("s_suppkey").cast("string"), 9, "0").alias("padded_id"),
        F.substring(clean_key("s_name"), -3, 3).alias("key_suffix"),
        F.regexp_replace(F.lower("s_name"), "[^a-z0-9]+", "_").alias("slug"),
        F.concat_ws(" ", clean_key("s_name"), clean_key("n_name")).alias("display"),
        F.length("s_name").cast("long").alias("name_len"),
    )


# --------------------------------------------------------------------------
# Q: customer_account_flags — when/otherwise cascade + coalesce/nullif
# (§2.9 conditional pack; pharmacy_deas_not_in_mp.py:31-38,
# unreg_pharmacists.py:120-121 replace_strict).
# --------------------------------------------------------------------------
@query(
    "customer_account_flags",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'DELINQUENT'
                WHEN c_acctbal < 5000 THEN 'STANDARD'
                ELSE 'PREMIUM' END AS tier,
           COALESCE(NULLIF(TRIM(c_mktsegment), ''), 'UNKNOWN') AS segment,
           CASE WHEN c_acctbal < 0 THEN 'YES' ELSE 'NO' END AS flagged,
           ROUND(c_acctbal, 2) AS acctbal
    FROM customer
    """,
)
def customer_account_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "DELINQUENT")
        .when(F.col("c_acctbal") < 5000, "STANDARD")
        .otherwise("PREMIUM")
        .alias("tier"),
        F.coalesce(F.nullif(F.trim(F.col("c_mktsegment")), F.lit("")), F.lit("UNKNOWN")).alias("segment"),
        F.when(F.col("c_acctbal") < 0, "YES").otherwise("NO").alias("flagged"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )


# --------------------------------------------------------------------------
# Q: order_date_dimensions — date parse/format/arithmetic pack (§2.9
# date/time; techs.py:40-45 datediff, delinquent_data_submitters.py:96
# date+1, mu_extras.py:141 strftime).
# --------------------------------------------------------------------------
@query(
    "order_date_dimensions",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           STRFTIME(o_orderdate, '%Y-%m') AS order_ym,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS age_days
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def order_date_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.where(F.col("o_orderstatus") == "O").select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).alias("order_year"),
        F.month(d).alias("order_month"),
        F.date_format(d, "yyyy-MM").alias("order_ym"),
        F.date_add(d, 30).alias("due_date"),
        F.datediff(F.lit("2002-01-01").cast("date"), d).cast("long").alias("age_days"),
    )


# --------------------------------------------------------------------------
# Q: flagged_customer_union — name-aligned UNION ALL + distinct (U1/U2,
# pl.concat at delinquent_data_submitters.py:240; unique at :67).
# --------------------------------------------------------------------------
@query(
    "flagged_customer_union",
    """
    SELECT DISTINCT o_custkey, flag FROM (
        SELECT o_custkey, 'URGENT' AS flag FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        SELECT o_custkey, 'HIGH' AS flag FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    """,
)
def flagged_customer_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey", F.lit("URGENT").alias("flag")
    )
    high = orders.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey", F.lit("HIGH").alias("flag"))
    return urgent.unionByName(high).distinct()


# --------------------------------------------------------------------------
# Q: masked_extract_sample — exact-N engine-independent sample (O5,
# check_masked.py:73 .sample(20)); md5 ordering reproduces across engines.
# --------------------------------------------------------------------------
@query(
    "masked_extract_sample",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders
    ORDER BY MD5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT 20
    """,
)
def masked_extract_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return deterministic_sample(orders, "o_orderkey", 20).select("o_orderkey", "o_custkey", "o_orderstatus")


# --------------------------------------------------------------------------
# Q: dea_checksum_audit — DEA mod-10 checksum over synthesized registration
# codes (awarxe_cleanup.py:57-75) via higher-order functions, no UDF.
# --------------------------------------------------------------------------
@query(
    "dea_checksum_audit",
    """
    WITH codes AS (
        SELECT c_custkey,
               'A' || SUBSTRING('ABCDEFGHIJKLMNOPQRSTUVWXYZ', (c_custkey % 26)::INT + 1, 1)
                   || LPAD(CAST((c_custkey * 7919) % 10000000 AS VARCHAR), 7, '0') AS dea_code
        FROM customer
    ), digits AS (
        SELECT c_custkey, dea_code,
               CAST(SUBSTRING(dea_code, 3, 1) AS INT) AS d1,
               CAST(SUBSTRING(dea_code, 4, 1) AS INT) AS d2,
               CAST(SUBSTRING(dea_code, 5, 1) AS INT) AS d3,
               CAST(SUBSTRING(dea_code, 6, 1) AS INT) AS d4,
               CAST(SUBSTRING(dea_code, 7, 1) AS INT) AS d5,
               CAST(SUBSTRING(dea_code, 8, 1) AS INT) AS d6,
               CAST(SUBSTRING(dea_code, 9, 1) AS INT) AS d7
        FROM codes
    )
    SELECT c_custkey, dea_code,
           ((d1 + d3 + d5) + 2 * (d2 + d4 + d6)) % 10 = d7 AS dea_valid
    FROM digits
    """,
)
def dea_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    code = F.concat(
        F.lit("A"),
        F.substring(F.lit("ABCDEFGHIJKLMNOPQRSTUVWXYZ"), (F.col("c_custkey") % 26 + 1).cast("int"), 1),
        F.lpad(((F.col("c_custkey") * 7919) % 10000000).cast("string"), 7, "0"),
    )
    return customer.select(
        "c_custkey",
        code.alias("dea_code"),
        dea_is_valid(code).alias("dea_valid"),
    )


# --------------------------------------------------------------------------
# Q: npi_checksum_audit — NPI Luhn-variant (awarxe_cleanup.py:183-205).
# --------------------------------------------------------------------------
@query(
    "npi_checksum_audit",
    """
    WITH codes AS (
        SELECT s_suppkey,
               LPAD(CAST((s_suppkey * 104729 + 12345) % 10000000000 AS VARCHAR), 10, '0') AS npi_code
        FROM supplier
    ), digits AS (
        SELECT s_suppkey, npi_code,
               CAST(SUBSTRING(npi_code, 1, 1) AS INT) AS d1,
               CAST(SUBSTRING(npi_code, 2, 1) AS INT) AS d2,
               CAST(SUBSTRING(npi_code, 3, 1) AS INT) AS d3,
               CAST(SUBSTRING(npi_code, 4, 1) AS INT) AS d4,
               CAST(SUBSTRING(npi_code, 5, 1) AS INT) AS d5,
               CAST(SUBSTRING(npi_code, 6, 1) AS INT) AS d6,
               CAST(SUBSTRING(npi_code, 7, 1) AS INT) AS d7,
               CAST(SUBSTRING(npi_code, 8, 1) AS INT) AS d8,
               CAST(SUBSTRING(npi_code, 9, 1) AS INT) AS d9,
               CAST(SUBSTRING(npi_code, 10, 1) AS INT) AS d10
        FROM codes
    )
    SELECT s_suppkey, npi_code,
           (10 - (
              ((2*d1) % 10 + (2*d1) // 10) +
              ((2*d3) % 10 + (2*d3) // 10) +
              ((2*d5) % 10 + (2*d5) // 10) +
              ((2*d7) % 10 + (2*d7) // 10) +
              ((2*d9) % 10 + (2*d9) // 10) +
              d2 + d4 + d6 + d8 + 24
           ) % 10) % 10 = d10 AS npi_valid
    FROM digits
    """,
)
def npi_checksum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    code = F.lpad(((F.col("s_suppkey") * 104729 + 12345) % 10000000000).cast("string"), 10, "0")
    return supplier.select(
        "s_suppkey",
        code.alias("npi_code"),
        npi_is_valid(code).alias("npi_valid"),
    )


# --------------------------------------------------------------------------
# Q: part_name_tokens — split + explode + count (§2.9 explode, mm2.py:36;
# value_counts over exploded tokens).
# --------------------------------------------------------------------------
@query(
    "part_name_tokens",
    """
    SELECT token, COUNT(*) AS count
    FROM (SELECT UNNEST(STRING_SPLIT(p_name, ' ')) AS token FROM part)
    WHERE token <> ''
    GROUP BY token
    """,
)
def part_name_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split("p_name", " ")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("count"))
    )


# --------------------------------------------------------------------------
# Q: order_quantity_profile — list-ops pack over per-order quantity arrays
# (§2.9 array trio + list.filter/sum/get; awarxe_cleanup.py:109-131).
# --------------------------------------------------------------------------
@query(
    "order_quantity_profile",
    """
    WITH arrs AS (
        SELECT l_orderkey,
               LIST(CAST(FLOOR(l_quantity) AS BIGINT)
                    ORDER BY l_linenumber, CAST(FLOOR(l_quantity) AS BIGINT)) AS qtys
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           LEN(qtys) AS n_items,
           qtys[1] AS first_qty,
           qtys[-1] AS last_qty,
           CAST(LIST_SUM(qtys) AS BIGINT) AS qty_sum,
           LEN(LIST_FILTER(qtys, x -> x % 2 = 0)) AS n_even,
           ARRAY_TO_STRING(LIST_SORT(qtys), ',') AS qty_csv
    FROM arrs
    """,
)
def order_quantity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = load_table(spark, sf_dir, "lineitem")
    # FLOOR then cast on both engines: Spark's double→long cast truncates
    # while DuckDB's rounds — explicit floor pins the semantics.
    arrs = collect_sorted_list(
        lineitem.withColumn("q", F.floor("l_quantity").cast("long")),
        group_by=["l_orderkey"],
        order_col="l_linenumber",
        value_col="q",
        out_name="qtys",
    )
    return arrs.select(
        "l_orderkey",
        F.size("qtys").cast("long").alias("n_items"),
        F.element_at("qtys", 1).alias("first_qty"),
        F.element_at("qtys", -1).alias("last_qty"),
        F.aggregate("qtys", F.lit(0).cast("long"), lambda a, x: a + x).alias("qty_sum"),
        F.size(F.filter("qtys", lambda x: x % 2 == 0)).cast("long").alias("n_even"),
        F.array_join(F.transform(F.array_sort("qtys"), lambda x: x.cast("string")), ",").alias("qty_csv"),
    )


# --------------------------------------------------------------------------
# Q: event_sessions — gaps-and-islands sessionization (extension op;
# SQL-oracle-checkable batch form of the streaming session window).
# --------------------------------------------------------------------------
@query(
    "event_sessions",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), numbered AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           EPOCH_US(MIN(ts)) AS session_start_us,
           EPOCH_US(MAX(ts)) AS session_end_us,
           COUNT(*) AS n_events,
           EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS duration_us
    FROM numbered
    GROUP BY user_id, session_seq
    """,
)
def event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sess = sessionize(events, user_col="user_id", ts_col="ts", gap_seconds=1800)
    return sess.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "duration_us",
    )


# --------------------------------------------------------------------------
# Q: hourly_event_rollup — tumbling-window aggregation (extension op;
# batch form of the streaming windowed agg, SURVEY §2.10).
# --------------------------------------------------------------------------
@query(
    "hourly_event_rollup",
    """
    SELECT CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) AS hour_s,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_s"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# Q: fuzzy_supplier_match — blocked Jaro-Winkler fuzzy join (J7/X2,
# od.py:79-105: equi-join on blocking key then similarity >= threshold).
# DuckDB's jaro_winkler_similarity implements the same standard definition
# (prefix scale 0.1, max prefix 4, boost threshold 0.7), making the fuzzy
# join oracle-checkable end-to-end.
# --------------------------------------------------------------------------
@query(
    "fuzzy_supplier_match",
    """
    SELECT c.c_custkey, s.s_suppkey,
           ROUND(JARO_WINKLER_SIMILARITY(
               REPLACE(c.c_name, 'Customer#', ''),
               REPLACE(s.s_name, 'Supplier#', '')), 6) AS similarity
    FROM customer c
    JOIN supplier s ON c.c_nationkey = s.s_nationkey
    WHERE ROUND(JARO_WINKLER_SIMILARITY(
        REPLACE(c.c_name, 'Customer#', ''),
        REPLACE(s.s_name, 'Supplier#', '')), 6) >= 0.88
    """,
)
def fuzzy_supplier_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.similarity import jw_similarity

    customer = load_table(spark, sf_dir, "customer").withColumn(
        "c_code", F.replace(F.col("c_name"), F.lit("Customer#"), F.lit(""))
    )
    supplier = load_table(spark, sf_dir, "supplier").withColumn(
        "s_code", F.replace(F.col("s_name"), F.lit("Supplier#"), F.lit(""))
    )
    # Blocked fuzzy join (same shape as operators.joins.fuzzy_join, keys
    # differ by name): equi-join on nation bounds candidates, JW UDF runs
    # on candidates only, filter on the ROUNDED similarity on both engines.
    # Customer is spread to full parallelism first so the Python UDF stage
    # is not serialized onto the single input split of a small scan.
    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    joined = ensure_parallelism(customer).join(
        F.broadcast(supplier), F.col("c_nationkey") == F.col("s_nationkey"), "inner"
    )
    sim = jw_similarity(F.col("c_code"), F.col("s_code"))
    return (
        joined.withColumn("similarity", F.round(sim, 6))
        .where(F.col("similarity") >= 0.88)
        .select("c_custkey", "s_suppkey", "similarity")
    )


# --------------------------------------------------------------------------
# Q: surrogate_key_match — surrogate-code match join (J8, mm1.py:16,67-69:
# join on constructed key last3(lastname)+last4(license)). Key assembled
# with normalize.surrogate_key (clean + negative-offset substring + concat).
# --------------------------------------------------------------------------
@query(
    "surrogate_key_match",
    """
    WITH l AS (
        SELECT c_custkey,
               RIGHT(UPPER(TRIM(c_name)), 3) || RIGHT(LPAD(CAST(c_custkey AS VARCHAR), 4, '0'), 4) AS sk
        FROM customer
    ), r AS (
        SELECT s_suppkey,
               RIGHT(UPPER(TRIM(s_name)), 3) || RIGHT(LPAD(CAST(s_suppkey AS VARCHAR), 4, '0'), 4) AS sk
        FROM supplier
    )
    SELECT l.c_custkey, r.s_suppkey, l.sk AS surrogate
    FROM l JOIN r ON l.sk = r.sk
    """,
)
def surrogate_key_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.normalize import surrogate_key, zfill

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", surrogate_key("c_name", zfill(F.col("c_custkey").cast("string"), 4)).alias("sk")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", surrogate_key("s_name", zfill(F.col("s_suppkey").cast("string"), 4)).alias("sk")
    )
    return (
        customer.join(F.broadcast(supplier), on="sk", how="inner")
        .select("c_custkey", "s_suppkey", F.col("sk").alias("surrogate"))
    )


# --------------------------------------------------------------------------
# Q: two_stage_customer_match — exact-then-fallback matcher (J9,
# unreg_presc.py:278-296): exact-key join; anti-join leftovers re-matched on
# a cleaned fallback key with an extra filter; union of both stages.
# --------------------------------------------------------------------------
@query(
    "two_stage_customer_match",
    """
    WITH l AS (
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(c_custkey AS VARCHAR) AS match_key
        FROM customer
    ), r AS (
        SELECT s_suppkey, s_nationkey, s_acctbal,
               CAST(s_suppkey AS VARCHAR) AS match_key
        FROM supplier
    ), exact AS (
        SELECT l.c_custkey, r.s_suppkey, 'exact' AS stage
        FROM l JOIN r USING (match_key)
    ), leftovers AS (
        SELECT l.* FROM l ANTI JOIN (SELECT DISTINCT match_key FROM r) rk USING (match_key)
    ), fallback AS (
        SELECT lo.c_custkey, r.s_suppkey, 'fallback' AS stage
        FROM leftovers lo JOIN r ON lo.c_nationkey = r.s_nationkey
        WHERE lo.c_acctbal > r.s_acctbal
    )
    SELECT * FROM exact UNION ALL SELECT * FROM fallback
    """,
)
def two_stage_customer_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.joins import two_stage_match

    left = load_table(spark, sf_dir, "customer").withColumn(
        "match_key", F.col("c_custkey").cast("string")
    )
    right = load_table(spark, sf_dir, "supplier").withColumn(
        "match_key", F.col("s_suppkey").cast("string")
    )
    exact = left.join(right, on="match_key", how="inner").select(
        "c_custkey", "s_suppkey", F.lit("exact").alias("stage")
    )
    leftovers = left.join(right.select("match_key").distinct(), on="match_key", how="left_anti")
    fallback = (
        leftovers.join(F.broadcast(right), leftovers["c_nationkey"] == right["s_nationkey"], "inner")
        .where(F.col("c_acctbal") > F.col("s_acctbal"))
        .select("c_custkey", "s_suppkey", F.lit("fallback").alias("stage"))
    )
    return exact.unionByName(fallback)


# --------------------------------------------------------------------------
# Q: supplier_balance_profile — describe()/summary stats (A9, techs.py:56-57)
# as explicit aggregates: exact interpolated percentiles (Spark `percentile`
# == DuckDB `quantile_cont`), sample stddev on both engines.
# --------------------------------------------------------------------------
@query(
    "supplier_balance_profile",
    """
    SELECT COUNT(s_acctbal)                          AS n,
           ROUND(AVG(s_acctbal), 4)                  AS mean,
           ROUND(STDDEV_SAMP(s_acctbal), 4)          AS stddev,
           ROUND(MIN(s_acctbal), 2)                  AS min,
           ROUND(QUANTILE_CONT(s_acctbal, 0.25), 4)  AS q25,
           ROUND(QUANTILE_CONT(s_acctbal, 0.50), 4)  AS median,
           ROUND(QUANTILE_CONT(s_acctbal, 0.75), 4)  AS q75,
           ROUND(MAX(s_acctbal), 2)                  AS max
    FROM supplier
    """,
)
def supplier_balance_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    supplier = load_table(spark, sf_dir, "supplier")
    c = F.col("s_acctbal")
    return supplier.agg(
        F.count(c).alias("n"),
        F.round(F.avg(c), 4).alias("mean"),
        F.round(F.stddev_samp(c), 4).alias("stddev"),
        F.round(F.min(c), 2).alias("min"),
        F.round(F.percentile(c, F.lit(0.25)), 4).alias("q25"),
        F.round(F.percentile(c, F.lit(0.50)), 4).alias("median"),
        F.round(F.percentile(c, F.lit(0.75)), 4).alias("q75"),
        F.round(F.max(c), 2).alias("max"),
    )


# --------------------------------------------------------------------------
# Q: segment_parts_exploded — explode_outer semantics (§2.9: Polars explode
# keeps null/empty-list rows as a null row; Spark needs explode_outer) +
# the ordinal CASE that replaces the reference's one scalar UDF (X1,
# mu_extras.py:140 num_and_dt.ordinal — pure SQL beats a UDF).
# --------------------------------------------------------------------------
@query(
    "segment_parts_exploded",
    """
    WITH base AS (
        SELECT c_custkey,
               STRING_SPLIT(NULLIF(c_mktsegment, ''), 'I') AS parts
        FROM customer
    ), exploded AS (
        SELECT c_custkey,
               UNNEST(CASE WHEN parts IS NULL OR LEN(parts) = 0
                           THEN [NULL] ELSE parts END) AS part
        FROM base
    ), numbered AS (
        SELECT c_custkey, part,
               ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY part NULLS FIRST) AS pos
        FROM exploded
    )
    SELECT c_custkey, part,
           CAST(pos AS INT) AS pos,
           CASE WHEN pos % 100 IN (11, 12, 13) THEN CAST(pos AS VARCHAR) || 'th'
                WHEN pos % 10 = 1 THEN CAST(pos AS VARCHAR) || 'st'
                WHEN pos % 10 = 2 THEN CAST(pos AS VARCHAR) || 'nd'
                WHEN pos % 10 = 3 THEN CAST(pos AS VARCHAR) || 'rd'
                ELSE CAST(pos AS VARCHAR) || 'th' END AS pos_ordinal
    FROM numbered
    """,
)
def segment_parts_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.text import ordinal_expr

    customer = load_table(spark, sf_dir, "customer")
    exploded = customer.select(
        "c_custkey",
        F.explode_outer(F.split(F.nullif("c_mktsegment", F.lit("")), "I")).alias("part"),
    )
    w = Window.partitionBy("c_custkey").orderBy(F.asc_nulls_first("part"))
    return exploded.withColumn("pos", F.row_number().over(w).cast("int")).withColumn(
        "pos_ordinal", ordinal_expr(F.col("pos"))
    )


# --------------------------------------------------------------------------
# Q: revenue_rollup — multi-level aggregation via ROLLUP (extension beyond
# the reference, which hand-computes each level; GROUP BY ROLLUP is the
# scale-correct form — one pass, partial aggregation at every level).
# --------------------------------------------------------------------------
@query(
    "revenue_rollup",
    """
    SELECT COALESCE(r_name, 'ALL') AS region_name,
           COALESCE(n_name, 'ALL') AS nation_name,
           ROUND(SUM(o_totalprice), 2) AS revenue,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "revenue",
            "n_orders",
        )
    )


# --------------------------------------------------------------------------
# Q: scorecard_summary — horizontal concat of single-row aggregates (J6,
# scorecard.py:70 pl.concat(how='horizontal') of 1-row frames): each metric
# computed independently, zipped side-by-side via broadcast crossJoin.
# --------------------------------------------------------------------------
@query(
    "scorecard_summary",
    """
    SELECT (SELECT COUNT(*) FROM customer)                                  AS n_customers,
           (SELECT COUNT(*) FROM orders)                                    AS n_orders,
           (SELECT ROUND(SUM(o_totalprice), 2) FROM orders)                 AS total_revenue,
           (SELECT ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM customer), 6)
            FROM (SELECT DISTINCT o_custkey FROM orders))                   AS active_customer_rate
    """,
)
def scorecard_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a = customer.agg(F.count(F.lit(1)).alias("n_customers"))
    b = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
    )
    c = orders.select("o_custkey").distinct().agg(F.count(F.lit(1)).alias("__active"))
    out = a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))
    return out.select(
        "n_customers",
        "n_orders",
        "total_revenue",
        F.round(F.col("__active") / F.col("n_customers"), 6).alias("active_customer_rate"),
    )


# --------------------------------------------------------------------------
# Q: registrant_hygiene_report — the §3.2 lifecycle shape (awarxe_cleanup
# main: ONE materialized source fans out to independent check functions,
# results unioned into a findings report). The base frame is cached so the
# fan-out reads it once; each check is a named filter + projection with a
# check_name literal; union by name.
# --------------------------------------------------------------------------
@query(
    "registrant_hygiene_report",
    """
    WITH base AS (
        SELECT c_custkey,
               UPPER(TRIM(c_name)) AS name,
               c_mktsegment,
               c_acctbal,
               'AB' || LPAD(CAST(c_custkey % 10000000 AS VARCHAR), 7, '0') AS dea_number
        FROM customer
    ), bad_checksum AS (
        SELECT c_custkey, 'bad_dea_checksum' AS check_name FROM base
        WHERE NOT (
            ((CAST(SUBSTRING(dea_number, 3, 1) AS BIGINT)
              + CAST(SUBSTRING(dea_number, 5, 1) AS BIGINT)
              + CAST(SUBSTRING(dea_number, 7, 1) AS BIGINT))
             + 2 * (CAST(SUBSTRING(dea_number, 4, 1) AS BIGINT)
                    + CAST(SUBSTRING(dea_number, 6, 1) AS BIGINT)
                    + CAST(SUBSTRING(dea_number, 8, 1) AS BIGINT))) % 10
            = CAST(SUBSTRING(dea_number, 9, 1) AS BIGINT)
        )
    ), missing_segment AS (
        SELECT c_custkey, 'missing_segment' AS check_name FROM base
        WHERE c_mktsegment IS NULL OR c_mktsegment = ''
    ), negative_balance AS (
        SELECT c_custkey, 'negative_balance' AS check_name FROM base
        WHERE c_acctbal < 0
    )
    SELECT * FROM bad_checksum
    UNION ALL SELECT * FROM missing_segment
    UNION ALL SELECT * FROM negative_balance
    """,
)
def registrant_hygiene_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.checksums import dea_is_valid
    from pmp_analytics_spark.functions.normalize import null_or_empty, zfill
    from pmp_analytics_spark.operators.setops import concat_by_name

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        clean_key("c_name").alias("name"),
        "c_mktsegment",
        "c_acctbal",
        F.concat(F.lit("AB"), zfill((F.col("c_custkey") % 10000000).cast("string"), 7)).alias(
            "dea_number"
        ),
    ).cache()  # one materialization feeds every check (awarxe_cleanup.py:337-347)
    bad_checksum = base.where(~dea_is_valid("dea_number")).select(
        "c_custkey", F.lit("bad_dea_checksum").alias("check_name")
    )
    missing_segment = base.where(null_or_empty("c_mktsegment")).select(
        "c_custkey", F.lit("missing_segment").alias("check_name")
    )
    negative_balance = base.where(F.col("c_acctbal") < 0).select(
        "c_custkey", F.lit("negative_balance").alias("check_name")
    )
    return concat_by_name(bad_checksum, missing_segment, negative_balance)


# --------------------------------------------------------------------------
# Q: activity_extract — the parameterized filtered-extract shape (S7,
# activity_request.py:225-230: per-DEA Tableau reads with server-side
# filters). Here the filter dict is ordinary .where() on the parquet scan
# — Catalyst pushes supplier key + date range down to the reader
# (asserted in tests/test_plans.py).
# --------------------------------------------------------------------------
_EXTRACT_SUPPKEY = 7
_EXTRACT_START = "1995-01-01"
_EXTRACT_END = "1997-12-31"


@query(
    "activity_extract",
    f"""
    SELECT l_orderkey AS order_id,
           l_linenumber AS line_no,
           CAST(l_shipdate AS DATE) AS ship_date,
           l_quantity AS quantity,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_returnflag AS return_flag
    FROM lineitem
    WHERE l_suppkey = {_EXTRACT_SUPPKEY}
      AND CAST(l_shipdate AS DATE) BETWEEN DATE '{_EXTRACT_START}' AND DATE '{_EXTRACT_END}'
    """,
)
def activity_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return activity_extract_for(spark, sf_dir, _EXTRACT_SUPPKEY, _EXTRACT_START, _EXTRACT_END)


def activity_extract_for(
    spark: SparkSession, sf_dir: str, suppkey: int, start: str, end: str
) -> DataFrame:
    """Parameterized extract: the caller supplies the key + date range
    (the reference pulls them out of request PDFs, activity_request.py:
    61-122 — parameter *sourcing* is driver-side either way; the engine
    surface is the filtered scan + projection)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_suppkey") == suppkey)
            & F.col("l_shipdate").cast("date").between(F.lit(start).cast("date"), F.lit(end).cast("date"))
        )
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_linenumber").alias("line_no"),
            F.col("l_shipdate").cast("date").alias("ship_date"),
            F.col("l_quantity").alias("quantity"),
            # no per-row ROUND: a round-half tie resolves differently in
            # Spark (exact-decimal HALF_UP) vs DuckDB (scaled-double); the
            # raw product is bit-identical across engines (same op order)
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
            F.col("l_returnflag").alias("return_flag"),
        )
    )


# --------------------------------------------------------------------------
# Q: degree_board_inference — the §2.9 composite "degree inference from
# trailing name token" (unreg_presc.py:149-174): regex-clean the name,
# take the last whitespace token, exclude veterinary degrees via
# multi-substring match (F8 contains_any), prefix-filter (F9
# starts_with), then broadcast-join the degree→board mapping. Degree
# tokens are synthesized deterministically from the key so the pipeline
# is fully oracle-checkable.
# --------------------------------------------------------------------------
_DEGREE_BOARDS = [
    ("MD", "MEDICAL BOARD"),
    ("D.O.", "OSTEOPATHIC BOARD"),
    ("NP", "NURSING BOARD"),
    ("PA", "PA BOARD"),
    ("DVM", "VETERINARY BOARD"),
]


@query(
    "degree_board_inference",
    """
    WITH named AS (
        SELECT c_custkey,
               UPPER(TRIM(c_name)) || ' ' ||
               (['MD', 'D.O.', 'NP', 'PA', 'DVM'])[CAST(c_custkey % 5 AS INT) + 1] AS name_full
        FROM customer
    ), cleaned AS (
        SELECT c_custkey, name_full,
               REGEXP_REPLACE(name_full, '[().]', '', 'g') AS name_clean
        FROM named
        WHERE STARTS_WITH(UPPER(TRIM(name_full)), 'CUSTOMER')
    ), tokened AS (
        SELECT c_custkey, name_clean,
               LIST_EXTRACT(STRING_SPLIT_REGEX(name_clean, '\\s+'), -1) AS degree
        FROM cleaned
        WHERE NOT (name_clean LIKE '%DVM%' OR name_clean LIKE '%VMD%')
    ), boards(degree, board) AS (
        VALUES ('MD', 'MEDICAL BOARD'), ('DO', 'OSTEOPATHIC BOARD'),
               ('NP', 'NURSING BOARD'), ('PA', 'PA BOARD'), ('DVM', 'VETERINARY BOARD')
    )
    SELECT t.c_custkey, t.degree, b.board
    FROM tokened t LEFT JOIN boards b ON t.degree = b.degree
    """,
)
def degree_board_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.functions.normalize import last_token, strip_punct

    customer = load_table(spark, sf_dir, "customer")
    degrees = F.array(*[F.lit(d) for d, _ in _DEGREE_BOARDS])
    named = customer.select(
        "c_custkey",
        F.concat(
            clean_key("c_name"), F.lit(" "), F.element_at(degrees, (F.col("c_custkey") % 5).cast("int") + 1)
        ).alias("name_full"),
    )
    cleaned = named.where(F.startswith(clean_key("name_full"), F.lit("CUSTOMER"))).select(
        "c_custkey", strip_punct("name_full").alias("name_clean")
    )
    # F8 multi-substring exclusion (reference: contains_any(['DVM','VMD']))
    tokened = cleaned.where(~F.col("name_clean").rlike("DVM|VMD")).select(
        "c_custkey", last_token("name_clean").alias("degree")
    )
    from pmp_analytics_spark.sources.local import local_df

    boards = local_df(
        load_table(spark, sf_dir, "region").sparkSession,
        [(d.replace(".", ""), b) for d, b in _DEGREE_BOARDS],
        "degree string, board string",
    )
    return tokened.join(F.broadcast(boards), on="degree", how="left").select(
        "c_custkey", "degree", "board"
    )


# --------------------------------------------------------------------------
# Q: csv_allstring_roundtrip — the S1 source discipline end-to-end inside
# the registry: write a CSV extract (K1), scan it back with the explicit
# all-String schema (infer_schema=False semantics — no inference pass),
# cast LATE with lenient try_cast, aggregate. The oracle computes the
# same result from the parquet table directly, so the whole
# write→scan→cast path must be lossless.
# --------------------------------------------------------------------------
@query(
    "csv_allstring_roundtrip",
    """
    SELECT CAST(s_nationkey AS BIGINT) AS nation_key,
           COUNT(*) AS n_suppliers,
           ROUND(SUM(s_acctbal), 2) AS total_balance,
           CAST(SUM(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
    FROM supplier
    GROUP BY s_nationkey
    """,
)
def csv_allstring_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.functions.normalize import str_to_int
    from pmp_analytics_spark.sources.reader import read_csv_strings
    from pmp_analytics_spark.sources.writers import write_csv_single

    supplier = load_table(spark, sf_dir, "supplier")
    path = memo.extract(
        spark,
        "pmp_csv_roundtrip",
        [os.path.join(sf_dir, "supplier.parquet")],
        lambda p: write_csv_single(supplier, p),
    )
    raw = read_csv_strings(spark, path)  # every column arrives as String
    return (
        raw.select(
            str_to_int("s_nationkey").alias("nation_key"),
            F.col("s_acctbal").try_cast("double").alias("bal"),
        )
        .groupBy("nation_key")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("bal"), 2).alias("total_balance"),
            F.sum(F.when(F.col("bal") < 0, 1).otherwise(0)).alias("n_negative"),
        )
    )


# --------------------------------------------------------------------------
# Q: orc_pushdown_roundtrip — the second built-in columnar format as a
# first-class source/sink: write an ORC extract (typed, unlike the
# all-string CSV path), scan it back with a selective filter + 2-column
# projection that must reach the ORC reader as PushedFilters/ReadSchema
# (the same pruning contract the parquet scans are plan-gated on —
# pinned for ORC in tests/test_plans.py), aggregate. The oracle computes
# the identical result from the parquet table, so write -> scan ->
# pushdown -> aggregate is lossless end-to-end.
# --------------------------------------------------------------------------
@query(
    "orc_pushdown_roundtrip",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_quantity > 45
    GROUP BY l_returnflag
    """,
)
def orc_pushdown_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    # one extract per version of the lineitem files: repeat calls read
    # it back instead of each writing a corpus-sized ORC copy
    path = memo.extract(
        spark, "pmp_lineitem_orc", [os.path.join(sf_dir, "lineitem.parquet")], li.write.orc
    )
    back = spark.read.orc(path)
    return (
        back.where(F.col("l_quantity") > 45)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.floor("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


# --------------------------------------------------------------------------
# Q: avro_roundtrip — the third columnar/row interchange format as a
# first-class source/sink. pyspark 4.1.2 offline ships NO spark-avro
# datasource module, so sources/avro_bridge.py implements the public
# Avro OCF spec in pure stdlib: a DISTRIBUTED writer (one part file per
# partition, raw-deflate blocks) and a DISTRIBUTED reader (schema
# sniffed from one header on the driver, files decoded in an Arrow
# mapInPandas pass over the file list — per-file parallelism, the same
# split unit a native reader uses). The loop exercises the date logical
# type (epoch-days int), zigzag varints, strings, and doubles; the
# oracle computes the identical aggregate from the parquet table, so
# write -> decode -> filter -> aggregate is lossless end-to-end. No
# reader pushdown (documented bridge trade — deployments with the
# spark-avro jar use the native reader; COVERAGE.md §Avro).
# --------------------------------------------------------------------------
@query(
    "avro_roundtrip",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS sum_price,
           MIN(CAST(o_orderdate AS DATE)) AS first_date,
           MAX(CAST(o_orderdate AS DATE)) AS last_date
    FROM orders
    WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
    GROUP BY o_orderpriority
    """,
)
def avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pmp_analytics_spark.sources.avro_bridge import read_avro, write_avro

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
        "o_orderpriority",
    )
    path = memo.extract(
        spark,
        "pmp_orders_avro",
        [os.path.join(sf_dir, "orders.parquet")],
        lambda p: write_avro(orders, p, codec="deflate"),
    )
    # columns= exercises the reader's materialization pruning: the
    # row-major stream is still walked, but only the three fields the
    # aggregate needs become python objects / Arrow columns.
    back = read_avro(
        spark, path, columns=["o_totalprice", "o_orderdate", "o_orderpriority"]
    )
    return (
        back.where(F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
    )


# --------------------------------------------------------------------------
# Q: supplier_name_edit_join — edit-distance similarity self-join on
# supplier names (operators/joins.py::edit_distance_join): the
# entity-resolution primitive beside the Jaro-Winkler blocked join (X2)
# and the exact-Jaccard prefix join. Lossless Ed-Join-family blocking —
# rarest-(k*q+1) q-gram prefixes under a global (freq, gram) order must
# intersect for any pair within distance k — then length pruning and a
# JVM levenshtein verify on candidates only. The oracle brute-forces
# every pair with DuckDB's LEVENSHTEIN, so any blocking recall loss is
# a hash mismatch, not a silent miss.
# --------------------------------------------------------------------------
@query(
    "supplier_name_edit_join",
    """
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(LEVENSHTEIN(a.s_name, b.s_name) AS BIGINT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE ABS(LENGTH(a.s_name) - LENGTH(b.s_name)) <= 2
      AND LEVENSHTEIN(a.s_name, b.s_name) <= 2
    """,
)
def supplier_name_edit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pmp_analytics_spark.operators.joins import edit_distance_join

    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return edit_distance_join(sup, "s_name", "s_suppkey", max_dist=2, q=2)


# --------------------------------------------------------------------------
# Q: shipping_priority — TPC-H Q3 shape: selective filters on both fact
# sides, 3-way join (dim broadcast, fact-fact on the join key), group on
# (order, date, priority), revenue top-K via TakeOrderedAndProject.
# --------------------------------------------------------------------------
@query(
    "shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND CAST(o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l_shipdate AS DATE) > DATE '1995-03-15'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").cast("date") > F.lit("1995-03-15").cast("date")
    )
    return (
        lineitem.join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(customer), orders["o_custkey"] == customer["c_custkey"])
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("order_date"), "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q: event_props_stats — JSON column parsing (extension; the reference has
# no JSON surface): typed from_json on the props payload, then per-type
# stats on the extracted field. Schema-on-read with an explicit struct —
# never schema inference over a 100 TB JSON column.
# --------------------------------------------------------------------------
@query(
    "event_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(props->>'k' AS BIGINT)) AS k_min,
           MAX(CAST(props->>'k' AS BIGINT)) AS k_max,
           CAST(SUM(CASE WHEN props->>'k' IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
    FROM events
    GROUP BY event_type
    """,
)
def event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    events = load_table(spark, sf_dir, "events")
    parsed = events.withColumn(
        "__p", F.from_json("props", StructType([StructField("k", LongType())]))
    )
    k = F.col("__p.k")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).alias("k_sum"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
        F.sum(F.when(k.isNull(), 1).otherwise(0)).alias("n_missing"),
    )


# --------------------------------------------------------------------------
# Q: sliding_event_rollup — sliding event-time windows (2h window, 1h
# slide): each event lands in two windows. The oracle reproduces the
# window assignment by unioning both bucket alignments — time_bucket(1h)
# and time_bucket(1h) - 1h — which is exactly Spark's window expansion.
# --------------------------------------------------------------------------
@query(
    "sliding_event_rollup",
    """
    WITH expanded AS (
        SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS window_start, event_type, value FROM events
        UNION ALL
        SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR, event_type, value FROM events
    )
    SELECT EPOCH_US(window_start) AS window_start_us,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS value_sum
    FROM expanded
    GROUP BY window_start, event_type
    """,
)
def sliding_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("value_sum"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )
