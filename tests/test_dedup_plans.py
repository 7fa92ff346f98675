"""The hot dedup builders (MinHash signatures, band keys, bucket pair
expansion, SimHash, the bit-band rows of SimHash and pHash) are built as
one SQL expression each instead of a Column-DSL tree: one gateway call
instead of one per Column node. Their plans must not move. Each case's
canonicalized optimized plan and output schema equal those of the
Column-DSL formulation, recorded in ``dedup_plans.json`` from the commit
before the rewrite."""

from __future__ import annotations

import json
import pathlib
import re

import pytest

from pmp_analytics_spark.functions.text import simhash64
from pmp_analytics_spark.operators.dedup import (
    _bucket_pairs,
    band_key_frame,
    minhash_signatures,
    simhash_pairs,
)
from pmp_analytics_spark.operators.phash import phash_band_rows

GOLDEN = json.loads(pathlib.Path(__file__).with_name("dedup_plans.json").read_text())


def _docs(spark):
    # the exchange keeps ensure_parallelism from adding a core-count repartition
    return (
        spark.range(0, 6, 1, 1)
        .selectExpr("id AS doc_id", "concat('the quick brown fox ', id % 2) AS text")
        .repartition(2)
    )


def _keyed(spark):
    return spark.range(0, 8, 1, 1).selectExpr("id AS doc_id", "id % 2 AS band_id", "id % 3 AS band_key")


CASES = {
    "minhash_signatures": lambda spark: minhash_signatures(
        spark.range(0, 8, 1, 1).selectExpr("id % 3 AS doc_id", "id * 7919 AS __h"), "doc_id", 16
    ),
    "band_key_frame": lambda spark: band_key_frame(
        spark.range(0, 3, 1, 1).selectExpr("id AS doc_id", "sequence(id, id + 15) AS __sig"),
        "doc_id",
        16,
        4,
    ),
    "bucket_pairs": lambda spark: _bucket_pairs(_keyed(spark), "doc_id", ["band_id", "band_key"]),
    "simhash64": lambda spark: _docs(spark).select("doc_id", simhash64("text", 4).alias("__sim")),
    "phash_band_rows": lambda spark: phash_band_rows(
        spark.range(0, 3, 1, 1).selectExpr("id AS doc_id", "id * 1234567 AS phash"), "doc_id"
    ),
    "simhash_pairs": lambda spark: simhash_pairs(_docs(spark), "text", "doc_id"),
}


def canonical_plan(df) -> str:
    """The canonicalized optimized plan. A cached subtree prints its
    physical plan uncanonicalized, so lambda variables are numbered by
    first appearance, and expression and exchange plan ids are dropped."""
    plan = df._jdf.queryExecution().optimizedPlan().canonicalized().toString()
    names: dict[str, int] = {}
    plan = re.sub(r"lambda \w+#\d+", lambda m: f"lambda v{names.setdefault(m.group(0), len(names))}", plan)
    return re.sub(r"(#|plan_id=)\d+", r"\1", plan)


def test_every_case_has_a_recorded_plan():
    assert sorted(CASES) == sorted(GOLDEN)


@pytest.mark.parametrize("name", sorted(CASES))
def test_dedup_builder_plan_is_unchanged(spark, name):
    spark.catalog.clearCache()
    try:
        df = CASES[name](spark)
        assert df.schema.simpleString() == GOLDEN[name]["schema"]
        assert canonical_plan(df) == GOLDEN[name]["plan"]
    finally:
        spark.catalog.clearCache()
