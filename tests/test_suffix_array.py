"""Brute-force equivalence for the distributed suffix array and the
exact duplicate-substring extraction (operators/suffix_array.py) on a
fixture with embedded byte-level copies: a 60-char passage shared by two
docs at different offsets, an internal tandem repeat, an exactly
duplicated document pair, and short/empty docs below every threshold."""

from __future__ import annotations

import pytest

PASSAGE = "the quick brown fox jumps over the lazy dog while it rains!!"
assert len(PASSAGE) == 60

DOCS = [
    (1, "intro text here. " + PASSAGE + " and some trailing words."),
    (2, "completely different opening -- " + PASSAGE + " closing bit."),
    (3, "abcdefghij" * 7),  # internal tandem repeat, period 10
    (4, "this document is an exact duplicate of the next one, verbatim."),
    (5, "this document is an exact duplicate of the next one, verbatim."),
    (6, "short"),
    (7, "no duplicated fifty-character run appears in this sentence at all?"),
]


def _brute_sa(docs):
    sufs = [
        (text[p:], d, p + 1)
        for d, text in docs
        for p in range(len(text))
    ]
    sufs.sort()
    return {(d, p): i + 1 for i, (_, d, p) in enumerate(sufs)}


def _brute_dup_positions(docs, T):
    from collections import Counter

    grams = Counter(
        text[p : p + T]
        for _, text in docs
        for p in range(len(text) - T + 1)
    )
    return {
        (d, p + 1)
        for d, text in docs
        for p in range(len(text) - T + 1)
        if grams[text[p : p + T]] >= 2
    }


def _brute_spans(docs, T):
    spans = set()
    by_doc: dict[int, list[int]] = {}
    for d, p in sorted(_brute_dup_positions(docs, T)):
        by_doc.setdefault(d, []).append(p)
    for d, ps in by_doc.items():
        s = e = None
        for p in ps:
            if s is None:
                s, e = p, p + T - 1
            elif p <= e + 1:
                e = max(e, p + T - 1)
            else:
                spans.add((d, s, e))
                s, e = p, p + T - 1
        spans.add((d, s, e))
    return spans


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_suffix_array_matches_sorted_suffixes(spark, docs_df):
    from pmp_analytics_spark.operators.suffix_array import suffix_array

    got = {
        (r.doc_id, r.pos): r.sa_rank
        for r in suffix_array(docs_df).collect()
    }
    assert got == _brute_sa(DOCS)


def test_suffix_array_paths_agree(spark, docs_df, monkeypatch):
    """Direct-tail (the module constants), pure prefix doubling (the
    path past 2^31 positions, reached here with the tail switched off),
    and a doubling+tail hybrid must produce the identical array."""
    from pmp_analytics_spark.operators import suffix_array as sa

    small = docs_df.where("doc_id in (3, 4, 5, 6)")
    want = {
        (r.doc_id, r.pos): r.sa_rank
        for r in sa.suffix_array(small).collect()
    }
    for seed, tail in (
        (1, 0),  # pure doubling
        (4, 16),  # doubling then tail
    ):
        monkeypatch.setattr(sa, "_SEED_LEVEL", seed)
        monkeypatch.setattr(sa, "_TAIL_MAX_CHARS", tail)
        got = {
            (r.doc_id, r.pos): r.sa_rank
            for r in sa.suffix_array(small).collect()
        }
        assert got == want, (seed, tail)


@pytest.mark.parametrize("T", [10, 50])
def test_duplicate_positions_exact(spark, docs_df, T):
    from pmp_analytics_spark.operators.suffix_array import duplicate_positions

    got = {
        (r.doc_id, r.pos)
        for r in duplicate_positions(docs_df, T).collect()
    }
    assert got == _brute_dup_positions(DOCS, T)
    if T == 50:
        # the shared passage marks docs 1+2, the verbatim pair 4+5;
        # the tandem repeat (len 70, period 10) also has dup 50-grams
        assert {d for d, _ in got} == {1, 2, 3, 4, 5}


def test_duplicate_positions_exact_past_128(spark):
    """min_len > 128 takes the same overlapping-window test (L = 75 for
    min_len 150): a 160-char passage over a-t planted in two docs (one
    copy with a changed char near its end), a doc repeating itself, a
    doc sharing exactly 150 chars of it, and a doc too short to hold
    a gram."""
    from pmp_analytics_spark.operators.suffix_array import duplicate_positions

    long = "".join(chr(97 + (i * 7 + i // 20) % 20) for i in range(160))
    docs = [
        (1, "head " + long + " tail"),
        (2, long[:155] + "#" + long[156:] + " other"),
        (3, long + long),
        (4, "x" * 20 + long[5:155] + "y" * 20),
        (5, long[:100]),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for T, holders in ((150, {1, 2, 3, 4}), (151, {1, 2, 3})):
        got = {(r.doc_id, r.pos) for r in duplicate_positions(df, T).collect()}
        want = _brute_dup_positions(docs, T)
        assert got == want, T
        assert {d for d, _ in want} == holders, T


def test_duplicate_spans_merge_maximal(spark, docs_df):
    from pmp_analytics_spark.operators.suffix_array import duplicate_spans

    T = 50
    got = {
        (r.doc_id, r.s, r.e) for r in duplicate_spans(docs_df, T).collect()
    }
    assert got == _brute_spans(DOCS, T)
    # entire duplicated docs 4/5 are one wall-to-wall span each
    n4 = len(DOCS[3][1])
    assert (4, 1, n4) in got and (5, 1, n4) in got


def test_empty_and_degenerate_inputs(spark):
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        seed_positions,
        suffix_array,
    )

    empty = spark.createDataFrame(
        [(1, ""), (2, "x")], "doc_id long, text string"
    )
    sa = suffix_array(empty).collect()
    assert [(r.doc_id, r.pos, r.sa_rank) for r in sa] == [(2, 1, 1)]
    assert duplicate_spans(empty, 5).count() == 0
    with pytest.raises(ValueError):
        seed_positions(empty, "doc_id", "text", 0)


def _spans_set(df):
    return {(r.doc_id, r.s, r.e) for r in df.collect()}


def test_substring_index_and_spans_refresh_match_recompute(spark):
    """CDC maintenance of the exact substring index + span table: the
    refreshed pair must be row-identical to a full rebuild over the new
    corpus, across a delta that adds, removes, AND changes docs —
    including count-boundary flips in both directions (a duplicated
    passage whose twin is removed: 2 -> 1; a new doc duplicating an
    existing unique passage: 1 -> 2)."""
    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        substring_index_build,
        substring_index_refresh,
        substring_spans_refresh,
    )

    T = 20
    pass_a = "alpha beta gamma delta epsilon zeta"  # shared by 1 and 2
    pass_b = "unique passage that will gain a twin"
    old_docs = [
        (1, "start " + pass_a + " end one"),
        (2, "other " + pass_a + " tail"),
        (3, pass_b + " only here for now"),
        (4, "totally unrelated text without repeats"),
    ]
    new_docs = [
        (1, "start " + pass_a + " end one"),
        # 2 removed -> pass_a flips 2->1: doc 1's span must VANISH
        (3, pass_b + " only here for now"),
        (4, "totally unrelated text without repeats CHANGED!!"),
        (5, "fresh doc with " + pass_b + " inside"),  # pass_b flips 1->2
        (6, "fresh doc with repeated half repeated half inside!!!"),
    ]
    old = spark.createDataFrame(old_docs, "doc_id long, text string")
    new = spark.createDataFrame(new_docs, "doc_id long, text string")

    index0 = substring_index_build(old, T).localCheckpoint(eager=True)
    spans0 = duplicate_spans(old, T).localCheckpoint(eager=True)
    # sanity on the old state: the shared passage is a dup, pass_b isn't
    assert {d for d, _, _ in _spans_set(spans0)} == {1, 2}

    delta = snapshot_delta(old, new, ["doc_id"])
    index1 = substring_index_refresh(index0, delta, T).localCheckpoint(
        eager=True
    )
    want_index = {
        (r.gram, r.doc_id, r.occ)
        for r in substring_index_build(new, T).collect()
    }
    got_index = {(r.gram, r.doc_id, r.occ) for r in index1.collect()}
    assert got_index == want_index

    spans1 = substring_spans_refresh(
        index0, index1, spans0, delta, new, T
    )
    assert _spans_set(spans1) == _spans_set(duplicate_spans(new, T))
    # and the flips actually happened: doc 1 lost its span (2->1),
    # docs 3+5 gained theirs (1->2)
    docs_with = {d for d, _, _ in _spans_set(spans1)}
    assert 1 not in docs_with and {3, 5} <= docs_with


def test_substring_refresh_empty_delta_is_identity(spark):
    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        substring_index_build,
        substring_index_refresh,
        substring_spans_refresh,
    )

    T = 15
    docs = spark.createDataFrame(
        [(1, "same passage here same passage here"), (2, "nothing shared")],
        "doc_id long, text string",
    )
    index0 = substring_index_build(docs, T).localCheckpoint(eager=True)
    spans0 = duplicate_spans(docs, T).localCheckpoint(eager=True)
    delta = snapshot_delta(docs, docs, ["doc_id"])
    index1 = substring_index_refresh(index0, delta, T)
    spans1 = substring_spans_refresh(index0, index1, spans0, delta, docs, T)
    assert {(r.gram, r.doc_id, r.occ) for r in index1.collect()} == {
        (r.gram, r.doc_id, r.occ) for r in index0.collect()
    }
    assert _spans_set(spans1) == _spans_set(spans0)


def _run_substream(spark, work, old, slices, T):
    import os

    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        substring_index_build,
    )
    from pmp_analytics_spark.sources.writers import publish_versioned, read_latest
    from pmp_analytics_spark.streaming.substring import (
        cdc_substring_dedup_stream,
    )

    docs_root = f"{work}/docs"
    index_root = f"{work}/index"
    spans_root = f"{work}/spans"
    feed = f"{work}/feed"
    publish_versioned(old.coalesce(1), docs_root)
    publish_versioned(substring_index_build(old, T).coalesce(1), index_root)
    publish_versioned(duplicate_spans(old, T).coalesce(1), spans_root)
    for df in slices:
        df.coalesce(1).write.mode("append").parquet(feed)
    schema = spark.read.parquet(feed).schema
    cdc_substring_dedup_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed),
        docs_root,
        index_root,
        spans_root,
        T,
        checkpoint_dir=f"{work}/ckpt",
    )
    return (
        read_latest(spark, docs_root),
        read_latest(spark, index_root),
        read_latest(spark, spans_root),
    )


def test_substring_stream_multibatch_equals_rebuild(spark, tmp_path):
    """The three-root streaming loop: any slicing of the doc changefeed
    into micro-batches must land on the same final (docs, index, spans)
    triple as the full rebuild over the new corpus."""
    from pyspark.sql import functions as F

    from pmp_analytics_spark.operators.diff import snapshot_delta
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        substring_index_build,
    )

    T = 20
    pass_a = "alpha beta gamma delta epsilon zeta"
    pass_b = "unique passage that will gain a twin"
    old = spark.createDataFrame(
        [
            (1, "start " + pass_a + " end one"),
            (2, "other " + pass_a + " tail"),
            (3, pass_b + " only here for now"),
            (4, "totally unrelated text without repeats"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "start " + pass_a + " end one"),
            (3, pass_b + " only here for now"),
            (4, "totally unrelated text without repeats CHANGED!!"),
            (5, "fresh doc with " + pass_b + " inside"),
            (6, "fresh doc with repeated half repeated half inside!!!"),
        ],
        "doc_id long, text string",
    )
    delta = snapshot_delta(old, new, ["doc_id"]).localCheckpoint(eager=True)
    for tag, slices in (
        ("one", [delta]),
        ("three", [delta.where(F.col("doc_id") % 3 == b) for b in range(3)]),
    ):
        docs1, index1, spans1 = _run_substream(
            spark, f"{tmp_path}/{tag}", old, slices, T
        )
        assert {tuple(r) for r in docs1.collect()} == {
            tuple(r) for r in new.collect()
        }, tag
        assert {
            (r.gram, r.doc_id, r.occ) for r in index1.collect()
        } == {
            (r.gram, r.doc_id, r.occ)
            for r in substring_index_build(new, T).collect()
        }, tag
        assert _spans_set(spans1) == _spans_set(duplicate_spans(new, T)), tag


def test_substring_stream_crash_between_publishes(spark, tmp_path):
    """Docs + index publishes of batch 0 committed, spans publish
    didn't: the replay must skip both applies (no double eviction /
    re-insert) and complete the span refresh against the index's
    PRE-batch version via the store's time travel."""
    from pmp_analytics_spark.operators.diff import (
        apply_snapshot_delta,
        snapshot_delta,
    )
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        substring_index_build,
        substring_index_refresh,
    )
    from pmp_analytics_spark.sources.writers import (
        latest_marker,
        publish_versioned,
        read_latest,
    )
    from pmp_analytics_spark.streaming.substring import (
        cdc_substring_dedup_stream,
    )

    T = 15
    old = spark.createDataFrame(
        [(1, "shared passage one here"), (2, "shared passage one here!")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "shared passage one here"), (3, "now a different dup text"),
         (4, "now a different dup text?")],
        "doc_id long, text string",
    )
    work = f"{tmp_path}/crash"
    docs_root, index_root, spans_root = (
        f"{work}/docs", f"{work}/index", f"{work}/spans",
    )
    delta = snapshot_delta(old, new, ["doc_id"]).localCheckpoint(eager=True)
    publish_versioned(old.coalesce(1), docs_root)
    index0 = substring_index_build(old, T)
    publish_versioned(index0.coalesce(1), index_root)
    publish_versioned(duplicate_spans(old, T).coalesce(1), spans_root)
    # simulate: docs + index publishes of batch 0 committed, spans not
    publish_versioned(
        apply_snapshot_delta(read_latest(spark, docs_root), delta, ["doc_id"])
        .coalesce(1),
        docs_root, marker="batch:0",
    )
    publish_versioned(
        substring_index_refresh(read_latest(spark, index_root), delta, T)
        .coalesce(1),
        index_root, marker="batch:0",
    )
    feed = f"{work}/feed"
    delta.coalesce(1).write.parquet(feed)
    schema = spark.read.parquet(feed).schema
    cdc_substring_dedup_stream(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed),
        docs_root, index_root, spans_root, T,
        checkpoint_dir=f"{work}/ckpt",
    )
    assert latest_marker(spark, docs_root) == "batch:0"
    assert latest_marker(spark, index_root) == "batch:0"
    assert _spans_set(read_latest(spark, spans_root)) == _spans_set(
        duplicate_spans(new, T)
    )
    assert {
        (r.gram, r.doc_id, r.occ)
        for r in read_latest(spark, index_root).collect()
    } == {
        (r.gram, r.doc_id, r.occ)
        for r in substring_index_build(new, T).collect()
    }


def test_duplicate_spans_from_index_matches_operator(spark, docs_df):
    """The index-derived span bootstrap must be row-identical to the
    from-scratch operator at several thresholds."""
    from pmp_analytics_spark.operators.suffix_array import (
        duplicate_spans,
        duplicate_spans_from_index,
        substring_index_build,
    )

    for T in (10, 50):
        index = substring_index_build(docs_df, T)
        got = duplicate_spans_from_index(index, docs_df, T)
        assert _spans_set(got) == _spans_set(duplicate_spans(docs_df, T)), T
