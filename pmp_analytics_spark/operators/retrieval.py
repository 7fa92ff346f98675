"""Lexical retrieval: BM25 scoring and reciprocal-rank fusion.

The missing half of a retrieval stack next to the ANN family
(``similarity_search``): BM25 is the lexical baseline every hybrid
search pairs with dense vectors, and RRF is the standard way to fuse
the two ranked lists without score calibration (Cormack et al. 2009 —
1/(k + rank) sums are scale-free, so a cosine in [-1,1] and an
unbounded BM25 fuse without normalization).

Scale shape of ``bm25_topk``:

- document stats (term frequency, doc length, document frequency) are
  plain aggregate trees over the exploded token stream — map-side
  partial aggregation, one shuffle each, computed once per corpus and
  reusable across query batches;
- document frequency is computed AFTER a semi-join onto the query term
  universe — df for the whole vocabulary is never materialized;
- query term sets are broadcast; scoring joins the tf stream on the
  term (the posting-list join), aggregates per (query, doc), and
  top-k cuts with the same two-window pre-cut the ANN operators use
  (partition-local cut first, so no per-query single-reducer hotspot).

``bm25_topk_wand`` is the impact-ordered successor for extreme scale:
per-term score upper bounds (the max-score/WAND family — Broder et al.
2003, Turtle & Flood's max-score) turn top-k into a two-pass prune:

1. a PROBE pass fully scores only the docs matching each query's
   ``_M_PROBE`` highest-impact terms — its k-th best score is a valid
   lower bound θ on the final k-th best (probe docs ⊆ final candidates);
2. terms are impact-ordered per query; a maximal low-impact suffix whose
   upper bounds sum below θ is NON-ESSENTIAL — any doc matching only
   non-essential terms is bounded by that sum and cannot enter the
   top-k, so the scoring aggregation runs only over docs matching an
   essential term.

Output is bit-identical to ``bm25_topk`` (pruning uses a 1e-6 margin
under θ so the 6-decimal rounding of the final score cannot resurrect a
pruned doc into a tie). In this batch formulation the win is that the
per-(query, doc) scoring aggregation and its shuffle see only surviving
postings; on a term-partitioned impact-ordered index the same essential-
term set prunes the SCAN too (partition pruning on term), which is the
100 TB deployment shape. ``wand_posting_counts`` measures the pruning
rate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bm25_topk(
    doc_tokens: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    token_col: str = "token",
    query_id: str = "query_id",
) -> DataFrame:
    """Top-k documents per query by BM25.

    ``doc_tokens``: one row per token OCCURRENCE (id_col, token_col) —
    the exploded corpus stream. ``query_terms``: DISTINCT (query_id,
    token_col) rows (query-side weights are the standard bag-of-one
    each). Returns (query_id, id_col, bm25, rank), rank 1..k per query
    ordered by rounded score desc with id tie-break. The query_id == doc
    id row (self-retrieval) is dropped before ranking.
    """
    *_, postings = _bm25_base(
        doc_tokens, query_terms, k1, b, id_col, token_col, query_id
    )
    scored = postings.groupBy(query_id, id_col).agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )
    scored = scored.where(F.col(query_id) != F.col(id_col))
    # Two-window top-k: partition-local pre-cut, then the bounded global
    # window (same exactness argument as similarity_search.brute_force).
    return _topk_cut(scored, k, query_id, id_col)


def _bm25_base(doc_tokens, query_terms, k1, b, id_col, token_col, query_id):
    """Shared BM25 machinery: (tf, dl, corpus, broadcast terms, df_t,
    scores, postings). ``scores`` is the QUERY-INDEPENDENT per-(doc,
    token) contrib frame over the query-term universe — the single place
    the BM25 formula exists; ``postings`` fans it out per query. Both
    rankers aggregate exactly this contrib column, and the WAND upper
    bounds aggregate ``scores`` (pre-fan-out, so the bound pass costs
    df-bounded rows, not queries x df), so the three cannot drift."""
    tf = doc_tokens.groupBy(id_col, token_col).agg(
        F.count(F.lit(1)).alias("tf")
    )
    dl = doc_tokens.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = F.broadcast(query_terms.select(query_id, token_col).distinct())
    df_t = (
        tf.join(terms.select(token_col).distinct(), token_col, "left_semi")
        .groupBy(token_col)
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    contrib = (idf * F.col("tf") * (k1 + 1.0) / denom).alias("contrib")
    scores = (
        tf.join(F.broadcast(df_t), token_col)
        .join(dl, id_col)
        .crossJoin(F.broadcast(corpus))
        .select(id_col, token_col, contrib)
    )
    postings = scores.join(terms, token_col).select(
        query_id, id_col, token_col, "contrib"
    )
    return tf, dl, corpus, terms, df_t, scores, postings


def _topk_cut(scored, k, query_id, id_col):
    """Two-window top-k (partition-local pre-cut, then the bounded global
    window) on the rounded score — shared by both rankers."""
    pre = Window.partitionBy(F.spark_partition_id(), query_id).orderBy(
        F.desc("bm25"), F.asc(id_col)
    )
    final = Window.partitionBy(query_id).orderBy(F.desc("bm25"), F.asc(id_col))
    return (
        scored.withColumn("__p", F.row_number().over(pre))
        .where(F.col("__p") <= k)
        .drop("__p")
        .withColumn("rank", F.row_number().over(final))
        .where(F.col("rank") <= k)
    )


def bm25_topk_wand(
    doc_tokens: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    token_col: str = "token",
    query_id: str = "query_id",
) -> DataFrame:
    """``bm25_topk`` (self-retrieval excluded, its default) with
    max-score/WAND-style candidate pruning — identical output (same
    schema, same scores, same tie-breaks), but
    the scoring aggregation touches only docs that can still make the
    top-k. See the module docstring for the two-pass scheme; the probe
    pass and final pass both aggregate ``_bm25_base``'s contrib column,
    so correctness does not depend on re-deriving the formula."""
    postings, cand, _, _ = _wand_candidates(
        doc_tokens, query_terms, k, k1, b, id_col, token_col, query_id,
        _M_PROBE,
    )
    scored = (
        postings.join(cand, [query_id, id_col], "left_semi")
        .groupBy(query_id, id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("bm25"))
        .where(F.col(query_id) != F.col(id_col))
    )
    return _topk_cut(scored, k, query_id, id_col)


_M_PROBE = 2
"""Highest-impact terms per query that the WAND probe pass scores."""


def _wand_candidates(
    doc_tokens, query_terms, k, k1, b, id_col, token_col, query_id, m_probe
):
    """(postings-with-contrib, surviving candidate (query, doc) set,
    terms, df_t) — the shared core of ``bm25_topk_wand`` and the pruning
    measurement."""
    tf, dl, corpus, terms, df_t, scores, postings = _bm25_base(
        doc_tokens, query_terms, k1, b, id_col, token_col, query_id
    )
    # Per-term score upper bound over the corpus (query-term universe
    # only): max contrib any single posting of the term can add —
    # aggregated from the SAME query-independent contrib frame the
    # rankers' postings fan out from, so a future formula change cannot
    # silently break the bound, and the bound pass costs df-bounded
    # rows (not queries x df: the x10 soak measured the fanned-out
    # variant at ~3x the plain ranker's shuffle).
    ub_t = scores.groupBy(token_col).agg(F.max("contrib").alias("ub"))
    # Impact-order each query's terms; suffix_from(i) = Σ ub from term i
    # to the end — the best score a doc whose highest-impact match is
    # term i could possibly reach.
    wq = Window.partitionBy(query_id).orderBy(F.desc("ub"), F.asc(token_col))
    qt = (
        terms.join(F.broadcast(ub_t), token_col)
        .withColumn("pos", F.row_number().over(wq))
        .withColumn(
            "cum",
            F.sum("ub").over(wq.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "total",
            F.sum("ub").over(
                Window.partitionBy(query_id).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .withColumn("suffix_from", F.col("total") - F.col("cum") + F.col("ub"))
    )

    def _cands(term_set: DataFrame) -> DataFrame:
        c = tf.join(
            term_set.select(query_id, token_col).hint("broadcast"), token_col
        ).select(query_id, id_col)
        return c.where(F.col(query_id) != F.col(id_col)).distinct()

    # Probe pass: full scores for docs matching the m highest-impact
    # terms; the k-th best is θ (a subset's k-th best never exceeds the
    # final set's, so θ is a valid pruning floor).
    cand_probe = _cands(qt.where(F.col("pos") <= m_probe))
    scored_probe = postings.join(
        cand_probe, [query_id, id_col], "left_semi"
    ).groupBy(query_id, id_col).agg(F.sum("contrib").alias("s"))
    wkth = Window.partitionBy(query_id).orderBy(F.desc("s"), F.asc(id_col))
    theta = (
        scored_probe.withColumn("__r", F.row_number().over(wkth))
        .where(F.col("__r") == k)
        .select(query_id, F.col("s").alias("theta"))
    )

    # Essential terms: everything outside the maximal low-impact suffix
    # that sums (strictly, with a 1e-6 rounding margin) below θ. Queries
    # with fewer than k probe docs have no θ row → every term essential.
    essential = (
        qt.join(theta.hint("broadcast"), query_id, "left")
        .where(
            F.col("theta").isNull()
            | (F.col("suffix_from") >= F.col("theta") - F.lit(1e-6))
        )
        .select(query_id, token_col)
    )
    return postings, _cands(essential), terms, df_t


def wand_posting_counts(
    doc_tokens: DataFrame,
    query_terms: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    token_col: str = "token",
    query_id: str = "query_id",
    m_probe: int = _M_PROBE,
) -> dict:
    """Pruning-rate measurement: posting rows the plain ranker's scoring
    aggregation processes (Σ over (query, term) of df) vs the rows the
    WAND prune lets through to its aggregation (the surviving candidate
    set's postings — the same set ``bm25_topk_wand`` scores). The full
    count is an aggregate over the tiny df table, so no corpus scan is
    spent measuring the savings."""
    postings, cand, terms, df_t = _wand_candidates(
        doc_tokens, query_terms, k, k1, b, id_col, token_col, query_id,
        m_probe,
    )
    # sum('df') over an empty join (no query term in the corpus) is
    # NULL, not 0 — coalesce before the int().
    full = (
        terms.join(F.broadcast(df_t), token_col).agg(F.sum("df")).first()[0]
    )
    survived = postings.join(
        cand, [query_id, id_col], "left_semi"
    ).count()
    return {"full_postings": int(full or 0), "surviving_postings": int(survived)}


def rrf_fuse(
    ranked_lists: list[DataFrame],
    k: int = 5,
    rrf_k: int = 60,
    query_id: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion: each input carries (query_id, id_col,
    rank_col); a candidate's fused score sums 1/(rrf_k + rank) over the
    lists that retrieved it (absent = contributes 0 — the union shape).
    Returns the fused top-k per query with deterministic id tie-break.

    Inputs are top-k lists (bounded per query), so the union + one
    aggregate + one bounded window is O(q · Σk) — fusion never touches
    corpus-sized data."""
    tagged = [
        df.select(
            query_id,
            F.col(id_col).alias("__id"),
            (1.0 / (F.lit(rrf_k) + F.col(rank_col))).alias("__c"),
        )
        for df in ranked_lists
    ]
    allc = tagged[0]
    for t in tagged[1:]:
        allc = allc.unionByName(t)
    fused = allc.groupBy(query_id, "__id").agg(
        F.round(F.sum("__c"), 6).alias("rrf_score")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("rrf_score"), F.asc("__id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumnRenamed("__id", id_col)
    )


def passage_occurrences(
    docs: DataFrame,
    id_col: str,
    toks: Column,
    width: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Token occurrences of overlapping passage windows: one row per
    (id_col, pidx, token) with ``pidx`` the 0-based window index at the
    given stride. The retrieval unit real RAG pipelines index is the
    PASSAGE, not the document — long documents dilute BM25's length
    normalization and bury the matching span; fixed windows with 50%
    overlap (width 2x stride) keep every span fully inside at least one
    window. Pure JVM map-side fan-out (sequence + slice + two explodes,
    no shuffle, no Python); the tail emits short windows rather than
    dropping trailing tokens, and BM25's dl normalization absorbs the
    short-window bias."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    pas = docs.select(
        F.col(id_col),
        F.explode(starts).alias("__start"),
        toks.alias("__toks"),
    ).select(
        id_col,
        (((F.col("__start") - 1) / stride).cast("long")).alias("pidx"),
        F.explode(F.slice(F.col("__toks"), F.col("__start"), width)).alias(
            "token"
        ),
    )
    return pas


def bm25_index_build(
    docs: DataFrame,
    tok: Column,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Materialize the persistable BM25 index pair from a corpus:
    ``postings`` (id, token, tf, dl — pure per-document rows) and
    ``df`` (token, df — the cross-document statistic). ``tok`` is the
    tokenizer expression over the corpus' text column."""
    occ = docs.select(F.col(id_col), F.explode(tok).alias("token"))
    tf = occ.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    dl = occ.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    postings = tf.join(dl, id_col)
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return postings, df


def bm25_index_refresh(
    postings: DataFrame,
    df: DataFrame,
    delta: DataFrame,
    tok_fn,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """CDC maintenance of the BM25 lexical index — the fourth member of
    the index-maintenance family (LSH bands, IVF cells, PQ codes): a
    production retrieval index follows its corpus without re-tokenizing
    it.  Two movements, both O(delta):

    - ``postings`` rows are per-document pure functions of the text, so
      they ride the shared evict-touched / recompute-fresh skeleton
      (diff.cdc_index_refresh): removed/changed ids evict via one
      delta-bounded anti-join, added/changed docs re-tokenize ONLY
      their own text.
    - ``df`` is CROSS-document, so eviction alone can't fix it: the
      decrement side comes from the EVICTED posting rows (a broadcast
      semi-join against the touched ids — delta-bounded, never a corpus
      scan) and the increment side from the fresh docs' distinct
      tokens; the merged count drops to zero exactly when a token's
      last document leaves, and the row leaves with it.

    Both outputs are bit-identical to a fresh ``bm25_index_build`` on
    the new corpus (the declared query's oracle states that rebuild),
    because tf/dl are per-doc functions and df is an additive count.
    ``tok_fn`` maps a text column to its token-array column.
    """
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    def recompute(fresh: DataFrame) -> DataFrame:
        p, _ = bm25_index_build(fresh, tok_fn(F.col(text_col)), id_col)
        return p

    postings2 = cdc_index_refresh(postings, delta, id_col, text_col, recompute)

    touched = delta.where(
        F.col("change_type").isin("removed", "changed")
    ).select(id_col)
    rem = (
        postings.join(F.broadcast(touched), id_col, "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("rem"))
    )
    fresh = delta.where(F.col("change_type").isin("added", "changed")).select(
        F.col(id_col), F.col(f"new_{text_col}").alias(text_col)
    )
    add = (
        fresh.select(F.col(id_col), F.explode(tok_fn(F.col(text_col))).alias("token"))
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("add"))
    )
    df2 = (
        df.join(rem, "token", "full_outer")
        .join(add, "token", "full_outer")
        .select(
            "token",
            (
                F.coalesce(F.col("df"), F.lit(0))
                - F.coalesce(F.col("rem"), F.lit(0))
                + F.coalesce(F.col("add"), F.lit(0))
            ).alias("df"),
        )
        .where(F.col("df") > 0)
    )
    return postings2, df2
