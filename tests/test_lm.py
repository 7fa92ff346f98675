"""The n-gram language-model family (queries/pretrain.py): every LM query
against its DuckDB oracle, compared the way the correctness gate compares
them (tools/check_oracle.py's typed cell normalization), and the stream
LM queries holding no per-call state in the session once they return."""

from __future__ import annotations

import os

import pytest

from pmp_analytics_spark.queries import all_oracles, all_queries
from tools.check_oracle import dtype_mismatches, duck_conn, frame_key

SF = "/root/testdata/sf0.001"

LM_QUERIES = [
    "docs_bigram_lm",
    "docs_bigram_kneser_ney",
    "docs_perplexity_kn",
    "docs_perplexity_buckets",
    "docs_trigram_kneser_ney",
    "docs_perplexity_kn3",
    "docs_trigram_lm_cdc",
    "streaming_trigram_lm",
    "streaming_lm_pointintime",
    "docs_5gram_kneser_ney",
    "docs_perplexity_kn5",
]


@pytest.mark.parametrize("name", LM_QUERIES)
def test_lm_query_matches_oracle(spark, name):
    df = all_queries()[name](spark, SF)
    scols = df.columns
    stypes = [f.dataType.simpleString() for f in df.schema.fields]
    srows = [tuple(r) for r in df.collect()]
    con = duck_conn(SF)
    rel = con.sql(all_oracles({name})[name])
    drows = rel.fetchall()
    assert srows, name
    assert dtype_mismatches(scols, stypes, list(rel.columns), list(rel.types)) == []
    assert frame_key(scols, srows) == frame_key(list(rel.columns), drows)


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


def _files(root) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)


@pytest.mark.parametrize(
    "name", ["streaming_trigram_lm", "streaming_lm_pointintime", "streaming_dedup_components"]
)
def test_stream_query_repeat_leaves_nothing_behind(spark, tmp_path, monkeypatch, name):
    """A repeat call adds no CacheManager entry (nothing is cached over a
    per-call state) and no file under the temp dir (the stream's work dir
    goes once its small result is checkpointed)."""
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    run = all_queries()[name]
    first = sorted(tuple(r) for r in run(spark, SF).collect())
    entries, files = _cache_entries(spark), _files(tmp_path)
    assert sorted(tuple(r) for r in run(spark, SF).collect()) == first
    assert _cache_entries(spark) == entries
    assert _files(tmp_path) == files
