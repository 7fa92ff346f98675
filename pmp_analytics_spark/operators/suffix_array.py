"""Distributed suffix-array construction (prefix doubling) and EXACT
duplicate-substring extraction.

The exact-substring half of Lee et al. 2022 ("Deduplicating Training
Data Makes Language Models Better"): find every substring of length >=
``min_len`` that occurs more than once anywhere in the corpus, and merge
the hits into maximal per-document spans. The repo's hashed-8-gram
screen (queries/pretrain.py::docs_dup_spans) approximates this at token
granularity; this operator is the character-exact method — no hash
collisions, no tokenization alignment, byte-for-byte semantics.

Three exact mechanisms:

- DIRECT DUPLICATE TEST (``duplicate_positions``, any min_len): two
  length-L windows at offsets 0 and ``min_len - L`` cover [0, min_len)
  exactly for ANY L in [ceil(min_len/2), min_len], so a position's
  min_len-gram identity is the PAIR of its two L-gram identities. Each
  L-gram identity is its minimal occurrence
  ``min(struct(doc_id, pos)) over (partition by gram)`` — equality-
  exact, deterministic, computed by ONE hash-partitioned window (no
  join-back, no ranking exchange, no iteration); the pair then groups
  and counts. Four position-sized shuffles total, zero actions. Rows
  carry one L-character gram each, so width grows with min_len (Lee et
  al.'s regime is min_len <= 128); there is no doubling fallback.
- PREFIX DOUBLING (``suffix_array``'s rounds, Manber–Myers): rank at
  level L is an order-embedding of the suffix's first L characters
  (end-bounded, so a proper-prefix suffix ranks strictly smaller);
  L -> 2L via the pair ``(rank[p], rank[p+L])`` fetched by a
  partition-local ``lead`` per document (documents are small and
  numerous — the repo's standard window key; no self-join, no global
  window). While dense ranks fit 31 bits the pair packs into ONE
  BIGINT ``rank * 2^31 + rank2`` (a pure window op), and only every
  other round pays a dense re-rank (distinct + the distributed
  total-order ranking of operators/prefix_sum.py::global_row_number —
  range exchange + broadcast offsets, never a single-reducer window);
  at >= 2^31 positions the classic re-rank-every-round path takes
  over. Rounds localCheckpoint eagerly: global_row_number evaluates
  its input twice, so an unmaterialized chain would re-run the whole
  prefix per round.
- DIRECT TAIL (``suffix_array``): once the UNRESOLVED remainder of
  every suffix fits ``_TAIL_MAX_CHARS``, one round finishes the sort —
  groups still tied at level L fetch ``substring(text, pos + L)`` and
  order within the group by that literal remainder (rank() keeps
  truly-equal suffixes tied). Resolved singletons never fetch
  anything. This makes short-document corpora a seed-rank + one-tail
  computation; petabyte-wide documents keep doubling until the
  remainder is bounded, and at >= 2^31 positions (where the tail's
  packed embedding no longer fits) doubling runs to the end.

Scale: every frame is position-sized, shuffles are integer- or
short-gram-keyed; nothing is ever collected (the one 1-row max-length
aggregate drives loop control). The doubling rounds are the published
distributed-suffix-array recipe (Flick & Aluru 2015, MPI; re-expressed
as DataFrame rounds); the gram-pair direct test is the overlapping-
windows identity that makes the duplicate query EQUIVALENT to exact
(non-hashed) min_len-gram grouping — which is what the DuckDB oracle
replays independently. Reference analog: none (the reference has no
substring surface); north-star extension per VERDICT r7 #1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pmp_analytics_spark.operators.prefix_sum import global_row_number

__all__ = [
    "duplicate_positions",
    "duplicate_spans",
    "duplicate_spans_from_index",
    "seed_positions",
    "substring_index_build",
    "substring_index_refresh",
    "substring_spans_refresh",
    "suffix_array",
]

_PACK = 2**31  # pair-packing multiplier: dense ranks must fit 31 bits
_SEED_LEVEL = 16  # suffix_array's seed-gram width, in characters
_TAIL_MAX_CHARS = 4096  # longest unresolved remainder the direct tail sorts


def seed_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_level: int = 8,
) -> DataFrame:
    """One row per character position: ``(doc_id, pos, doc_len, rank)``
    with ``rank`` = dense order-embedding of the suffix's first
    ``seed_level`` characters (1-based ``pos``; end-bounded substrings,
    so string comparison IS suffix-prefix comparison)."""
    if seed_level < 1:
        raise ValueError("seed_positions: seed_level must be >= 1")
    pos = _positions(docs, id_col, text_col).select(
        "doc_id",
        "doc_len",
        "pos",
        F.expr(f"substring(__t, pos, {int(seed_level)})").alias("__g"),
    )
    grams = pos.select("__g").distinct()
    ranked = global_row_number(grams, [F.asc("__g")], out_col="__r")
    return pos.join(ranked, "__g").select(
        "doc_id", "doc_len", "pos", F.col("__r").alias("rank")
    )


def _positions(
    docs: DataFrame, id_col: str, text_col: str, widen: bool = True
) -> DataFrame:
    """(doc_id, doc_len, pos, __t): one row per 1-based char position,
    text carried for same-select substring extraction only.

    ``widen=False`` skips the input repartition: the CDC/streaming
    refresh paths call this on DELTA-BOUNDED frames (a micro-batch, a
    snapshot delta) whose partitioning the delta machinery already
    chose — fanning a tiny delta to the core count adds an exchange per
    refresh for no parallelism gain (measured +1.4-1.6 s on the
    substring CDC/streaming pair at sf0.1). Corpus-path callers keep
    the widen, which is a no-op once the scan has that many splits."""
    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    narrow = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")
    )
    # the per-char position explode is the expensive fan-out — repartition
    # the narrow (id, text) input up to the core count first (no-op once
    # the scan is already split)
    return (
        (ensure_parallelism(narrow) if widen else narrow)
        .where(F.length("__t") > 0)
        .select(
            "doc_id",
            F.length("__t").cast("long").alias("doc_len"),
            F.explode(F.sequence(F.lit(1), F.length("__t"))).alias("pos"),
            "__t",
        )
        .select(
            "doc_id", "doc_len", F.col("pos").cast("long").alias("pos"), "__t"
        )
    )


def _double(cur: DataFrame, level: int) -> DataFrame:
    """One classic prefix-doubling round (level -> 2*level) with a dense
    re-rank of the pair — the any-scale path (no bound on rank values,
    at the cost of a distinct + total-order ranking + join per round)."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    paired = cur.withColumn(
        "__r2", F.coalesce(F.lead("rank", level).over(w), F.lit(0))
    )
    keys = paired.select("rank", "__r2").distinct()
    ranked = global_row_number(
        keys, [F.asc("rank"), F.asc("__r2")], out_col="__nr"
    )
    return paired.join(ranked, ["rank", "__r2"]).select(
        "doc_id", "doc_len", "pos", F.col("__nr").alias("rank")
    )


def _pack(cur: DataFrame, level: int) -> DataFrame:
    """One PACKED doubling round: when current ranks are dense and
    < 2^31, the pair (rank[p], rank[p+level]) embeds order-faithfully
    into one BIGINT ``rank * 2^31 + rank2`` (multiplier > any rank2, so
    lexicographic pair order IS integer order; 0 = past-end stays the
    minimum). A round is then ONE partition-local window — no distinct,
    no ranking exchange, no join."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    r2 = F.coalesce(F.lead("rank", level).over(w), F.lit(0))
    return cur.withColumn("rank", F.col("rank") * F.lit(_PACK) + r2)


def _densify(cur: DataFrame) -> DataFrame:
    """Re-rank current (possibly packed) rank values densely without
    advancing the level — restores 31-bit packability."""
    keys = cur.select("rank").distinct()
    ranked = global_row_number(keys, [F.asc("rank")], out_col="__nr")
    return cur.join(ranked, "rank").select(
        "doc_id", "doc_len", "pos", F.col("__nr").alias("rank")
    )


def suffix_array(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rank_col: str = "sa_rank",
) -> DataFrame:
    """The full suffix array: ``(doc_id, pos, sa_rank)`` where sa_rank
    is the 1-based position of suffix ``text[pos:]`` in the sorted
    order of ALL suffixes of ALL documents (end-bounded string order;
    EQUAL suffixes — duplicated docs — tie-break by (doc_id, pos)).

    Doubles from ``_SEED_LEVEL`` until the unresolved remainder fits
    ``_TAIL_MAX_CHARS`` (then ONE direct-tail round finishes — see
    module docstring), every rank is unique, or the level covers the
    longest document (duplicate suffixes never separate, so the
    level/tail bound — not the distinctness probe — is the loop
    guarantee)."""
    src = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t"))
        .where(F.length("__t") > 0)
    )
    cur = seed_positions(src, "doc_id", "__t", _SEED_LEVEL)
    max_len = cur.agg(F.max("doc_len")).collect()[0][0]
    if max_len is None:
        return cur.select(
            "doc_id", "pos", F.col("rank").cast("long").alias(rank_col)
        )
    cur = cur.localCheckpoint(eager=True)
    n = cur.count()
    small = n < _PACK
    packable = small
    level = _SEED_LEVEL
    # the tail round's rank*2^31+subrank embedding needs dense 31-bit
    # ranks AND 31-bit group sizes — both guaranteed only when small
    tail_at = _TAIL_MAX_CHARS if small else 0
    while level < max_len and (tail_at == 0 or max_len - level > tail_at):
        if small and not packable:
            cur = _densify(cur).localCheckpoint(eager=True)
            packable = True
            continue  # level unchanged — no distinctness probe
        if small:
            cur = _pack(cur, level).localCheckpoint(eager=True)
            packable = False
        else:
            cur = _double(cur, level).localCheckpoint(eager=True)
        level *= 2
        if cur.select("rank").distinct().count() == n:
            level = max_len  # fully resolved: skip tail
            break
    if level < max_len:
        if not packable:
            cur = _densify(cur).localCheckpoint(eager=True)
        grp = Window.partitionBy("rank")
        sized = cur.withColumn("__gs", F.count(F.lit(1)).over(grp))
        solo = sized.where(F.col("__gs") == 1).select(
            "doc_id", "pos", (F.col("rank") * _PACK + 1).alias("rank")
        )
        multi = (
            sized.where(F.col("__gs") >= 2)
            .join(src, "doc_id")
            .withColumn("__rest", F.expr(f"substring(__t, pos + {level})"))
            .withColumn(
                "__sub",
                F.rank().over(
                    Window.partitionBy("rank").orderBy("__rest")
                ),
            )
            .select(
                "doc_id", "pos", (F.col("rank") * _PACK + F.col("__sub")).alias("rank")
            )
        )
        cur = solo.unionByName(multi)
    return global_row_number(
        cur,
        [F.asc("rank"), F.asc("doc_id"), F.asc("pos")],
        out_col=rank_col,
    ).select("doc_id", "pos", F.col(rank_col).cast("long").alias(rank_col))


def duplicate_positions(
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positions whose ``min_len``-character substring occurs >= 2 times
    corpus-wide: ``(doc_id, doc_len, pos)``. Exact for any ``min_len`` —
    equivalent to grouping the literal min_len-grams, via the
    overlapping-windows pair at level L = ceil(min_len/2): each L-gram's
    identity is its minimal corpus occurrence, one hash-window; no
    joins, no rounds."""
    if min_len < 1:
        raise ValueError("duplicate_positions: min_len must be >= 1")
    lvl = (min_len + 1) // 2
    ranked = _positions(docs, id_col, text_col).select(
        "doc_id",
        "doc_len",
        "pos",
        F.expr(f"substring(__t, pos, {int(lvl)})").alias("__g"),
    )
    ranked = ranked.withColumn(
        "rank", F.min(F.struct("doc_id", "pos")).over(Window.partitionBy("__g"))
    ).drop("__g")
    w = Window.partitionBy("doc_id").orderBy("pos")
    paired = ranked.withColumn(
        "__rb", F.lead("rank", min_len - lvl, None).over(w)
    ).where(F.col("pos") + min_len - 1 <= F.col("doc_len"))
    grp = Window.partitionBy("rank", "__rb")
    return (
        paired.withColumn("__c", F.count(F.lit(1)).over(grp))
        .where(F.col("__c") >= 2)
        .select("doc_id", "doc_len", "pos")
    )


def _merge_spans(dup: DataFrame, len_col: str, s: str = "s0", e: str = "e0") -> DataFrame:
    """Merge each document's ``[s, e]`` intervals while they overlap or
    touch (running-max islands): ``(doc_id, len_col, span_id, s, e)``,
    one row per maximal span."""
    prev = Window.partitionBy("doc_id").orderBy(s).rowsBetween(Window.unboundedPreceding, -1)
    upto = Window.partitionBy("doc_id").orderBy(s).rowsBetween(Window.unboundedPreceding, 0)
    reach = F.max(e).over(prev)
    flagged = dup.withColumn(
        "new_span",
        F.when(reach.isNull() | (F.col(s) > reach + 1), F.lit(1)).otherwise(F.lit(0)),
    )
    return (
        flagged.withColumn("span_id", F.sum("new_span").over(upto))
        .groupBy("doc_id", len_col, "span_id")
        .agg(F.min(s).alias("s"), F.max(e).alias("e"))
    )


def _hit_spans(hits: DataFrame, min_len: int) -> DataFrame:
    """Maximal spans of duplicated positions ``(doc_id, doc_len, pos)``:
    each hit covers ``[pos, pos + min_len - 1]``, merged by
    ``_merge_spans``."""
    return _merge_spans(
        hits.select(
            "doc_id",
            "doc_len",
            F.col("pos").alias("s0"),
            (F.col("pos") + min_len - 1).alias("e0"),
        ),
        "doc_len",
    )


def _gram_positions(
    docs: DataFrame, min_len: int, id_col: str, text_col: str, widen: bool = True
) -> DataFrame:
    """(doc_id, doc_len, pos, gram): each position whose ``min_len``-gram
    fits in its document, with that literal gram."""
    return (
        _positions(docs, id_col, text_col, widen=widen)
        .where(F.col("pos") + min_len - 1 <= F.col("doc_len"))
        .select(
            "doc_id",
            "doc_len",
            "pos",
            F.expr(f"substring(__t, pos, {int(min_len)})").alias("gram"),
        )
    )


def _dup_grams(index: DataFrame) -> DataFrame:
    """The grams of a substring index whose corpus-wide count is >= 2."""
    return (
        index.groupBy("gram")
        .agg(F.sum("occ").alias("__c"))
        .where(F.col("__c") >= 2)
        .select("gram")
    )


def duplicate_spans(
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal per-document duplicated spans: merge every duplicated
    position's ``[pos, pos + min_len - 1]`` interval while overlapping
    or adjacent (running-max islands per doc — the same merge the
    hashed-gram screen uses, here over EXACT hits). Returns
    ``(doc_id, doc_len, span_id, s, e)`` with 1-based inclusive
    character bounds."""
    return _hit_spans(duplicate_positions(docs, min_len, id_col, text_col), min_len)


def substring_index_build(
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    widen: bool = True,
) -> DataFrame:
    """The exact substring-dedup INDEX: ``(gram, doc_id, occ)`` — every
    literal ``min_len``-character gram with its per-document occurrence
    count. Corpus-wide gram count = SUM(occ) over the gram; a gram is
    duplicated iff that sum >= 2 (including twice within one doc — the
    Lee et al. rule the batch operator implements). Literal grams keep
    the index EXACT (no hash collisions, the family's contract); the
    min_len-x row width is the price of never re-deriving — the same
    store-the-key posture as the LSH band store, with the same
    production note (a deployment that accepts 128-bit-hash exactness
    halves the width; the maintenance algebra is identical)."""
    return (
        _gram_positions(docs, min_len, id_col, text_col, widen)
        .groupBy("gram", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )


def substring_index_refresh(
    index: DataFrame,
    delta: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CDC maintenance of the substring index under a ``snapshot_delta``
    over the documents table (compare column: the text), on the shared
    ``diff.cdc_index_refresh`` skeleton: removed/changed docs evict their
    gram rows via one delta-bounded anti-join (the index is never
    shuffled); added/changed docs re-shingle ONLY their own new text. The
    corpus is never re-scanned; the refreshed index is row-identical to a
    fresh ``substring_index_build`` over the new corpus (the declared
    query's oracle and the pytest pin)."""
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    # widen=False: the fresh side is delta-bounded by construction —
    # see _positions
    return cdc_index_refresh(
        index,
        delta,
        id_col,
        text_col,
        lambda fresh: substring_index_build(
            fresh, min_len, id_col, text_col, widen=False
        ),
    )


def substring_spans_refresh(
    index_old: DataFrame,
    index_new: DataFrame,
    spans_old: DataFrame,
    delta: DataFrame,
    docs_new: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CDC maintenance of the duplicate-SPAN table: recompute spans ONLY
    for documents whose duplicate structure can have changed —

    - docs added or changed by the delta, and
    - docs containing a gram whose corpus-wide duplicated STATUS
      (count >= 2) flipped: the delta's own grams (touched via eviction
      or insertion) are the only candidates; ONE delta-bounded
      semi-joined aggregation of the OLD index gives their old counts,
      the new counts derive from the delta algebra
      (new = old - evicted + fresh — the refreshed index is never
      re-aggregated corpus-wide), and docs holding a flipped gram are
      one semi-join of the new index.

    Affected docs re-shingle from their CURRENT text and their
    positions join the new counts of exactly the grams those docs
    contain; the islands merge is the batch operator's. Every step is
    O(delta + affected), the corpus is never re-scanned, and the result
    is row-identical to ``duplicate_spans`` over the new corpus (pinned
    in tests incl. count-boundary flips in BOTH directions)."""
    touched_docs = delta.where(
        F.col("change_type").isin("removed", "changed")
    ).select(id_col)
    fresh_ids = delta.where(
        F.col("change_type").isin("added", "changed")
    ).select(id_col)
    # grams whose corpus count can have moved: those of evicted index
    # rows + those of the fresh docs' index rows (read back from the
    # refreshed index rather than re-shingling the delta a second time)
    evicted = index_old.join(F.broadcast(touched_docs), id_col, "leftsemi")
    fresh = index_new.join(F.broadcast(fresh_ids), id_col, "leftsemi")
    touched_grams = (
        evicted.select("gram").unionByName(fresh.select("gram")).distinct()
    )
    # ONE corpus-count pass (old index); the new counts derive from the
    # delta algebra new = old - evicted + fresh, so the refreshed index
    # is never re-aggregated corpus-wide
    cnt_old = (
        index_old.join(F.broadcast(touched_grams), "gram", "leftsemi")
        .groupBy("gram")
        .agg(F.sum("occ").alias("__c"))
    )
    shift = (
        evicted.select("gram", (-F.col("occ")).alias("__d"))
        .unionByName(fresh.select("gram", F.col("occ").alias("__d")))
        .groupBy("gram")
        .agg(F.sum("__d").alias("__d"))
    )
    both = cnt_old.join(shift, "gram", "full").select(
        "gram",
        F.coalesce(F.col("__c"), F.lit(0)).alias("__c"),
        (
            F.coalesce(F.col("__c"), F.lit(0))
            + F.coalesce(F.col("__d"), F.lit(0))
        ).alias("__c2"),
    )
    flipped = both.where(
        (F.col("__c") >= 2) != (F.col("__c2") >= 2)
    ).select("gram")
    affected = (
        index_new.join(F.broadcast(flipped), "gram", "leftsemi")
        .select(id_col)
        .unionByName(fresh_ids)
        .distinct()
    )
    # recompute spans for affected docs against the NEW corpus counts of
    # exactly the grams those docs contain
    aff_docs = docs_new.join(F.broadcast(affected), id_col, "leftsemi")
    # widen=False: affected docs are delta-bounded — see _positions
    aff_pos = _gram_positions(aff_docs, min_len, id_col, text_col, widen=False)
    aff_grams = aff_pos.select("gram").distinct()
    dup_grams = _dup_grams(
        index_new.join(F.broadcast(aff_grams), "gram", "leftsemi")
    )
    spans_aff = _hit_spans(aff_pos.join(dup_grams, "gram"), min_len)
    # eviction set = recomputed docs PLUS removed/changed docs (a
    # removed doc has no rows to recompute but its old spans must go)
    evict = affected.unionByName(touched_docs).distinct()
    kept_spans = spans_old.join(F.broadcast(evict), id_col, "left_anti")
    return kept_spans.unionByName(spans_aff)


def duplicate_spans_from_index(
    index: DataFrame,
    docs: DataFrame,
    min_len: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``duplicate_spans`` when the substring INDEX already exists (the
    CDC bootstrap path): duplicated grams come from one aggregation of
    the index, only the docs that HOLD one re-shingle for positions,
    and their positions match the dup-gram set — cost proportional to
    the duplicate density instead of the corpus (vs the from-scratch
    operator's all-positions windows). Row-identical to
    ``duplicate_spans`` by construction (pinned in tests)."""
    dup_grams = _dup_grams(index)
    holder_ids = (
        index.join(dup_grams, "gram", "leftsemi").select(id_col).distinct()
    )
    cand = docs.join(holder_ids, id_col, "leftsemi")
    pos = _gram_positions(cand, min_len, id_col, text_col)
    return _hit_spans(pos.join(dup_grams, "gram"), min_len)
