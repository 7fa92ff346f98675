"""Bucketing for co-located fact-fact joins — the 100 TB shuffle killer.

Dimension joins broadcast; fact-fact joins (lineitem ⋈ orders) shuffle
both sides on the key EVERY query. Bucketing pays that shuffle once at
write time: both tables bucketed by the join key join with ZERO Exchange
in the plan. This test proves the engine's bucketed-join path end-to-end:
write both sides bucketed, join, assert the plan has no shuffle, and the
result matches the plain join.
"""

from __future__ import annotations

import re

import pytest

from pmp_analytics_spark.plans.audit import physical_plan
from pmp_analytics_spark.sources.reader import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    # saveAsTable writes under the session's spark-warehouse dir (static
    # conf — cannot be pointed at a tmpdir post-startup); tables dropped
    # on teardown.
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders")
    (
        li.write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        orders.withColumnRenamed("o_orderkey", "l_orderkey")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("ord_bucketed")
    )
    yield "li_bucketed", "ord_bucketed"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    li_t, ord_t = bucketed_tables
    joined = spark.table(li_t).join(spark.table(ord_t), on="l_orderkey")
    plan = physical_plan(joined)
    shuffles = re.findall(r"^\(\d+\)\s+Exchange", plan, re.MULTILINE)
    assert not shuffles, f"bucketed join must not shuffle:\n{plan}"

    # same answer as the plain (shuffling) join
    li = load_table(spark, SF, "lineitem")
    orders = load_table(spark, SF, "orders").withColumnRenamed("o_orderkey", "l_orderkey")
    expected = li.join(orders, on="l_orderkey").count()
    assert joined.count() == expected
    assert expected > 0


def test_bucketed_snapshots_colocate_the_cdc_join(spark):
    """snapshot_delta's scale claim, pinned: two snapshot versions
    bucketed on the key full-outer join with ZERO exchange — repeated
    diffing of a 100 TB keyed table pays the shuffle once at write
    time."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.diff import snapshot_delta

    spark.sql("DROP TABLE IF EXISTS snap_old")
    spark.sql("DROP TABLE IF EXISTS snap_new")
    old = spark.createDataFrame(
        [(k, f"s{k % 4}", k * 2) for k in range(50)], ["k", "status", "v"]
    )
    new = spark.createDataFrame(
        [(k, f"s{k % 4}", k * 2 + (k % 9 == 0)) for k in range(2, 53)],
        ["k", "status", "v"],
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        old.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("snap_old")
        new.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("snap_new")
        delta = snapshot_delta(
            spark.table("snap_old"), spark.table("snap_new"), ["k"]
        )
        plan = physical_plan(delta)
        assert "SortMergeJoin" in plan and "FullOuter" in plan
        assert len(re.findall(r"[+:]- Exchange \(", plan)) == 0, plan
        want = sorted(
            map(tuple, snapshot_delta(old, new, ["k"]).collect()), key=str
        )
        assert sorted(map(tuple, delta.collect()), key=str) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql("DROP TABLE IF EXISTS snap_old")
        spark.sql("DROP TABLE IF EXISTS snap_new")
