"""Embedding similarity search (extension surface, north star).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed variant
as the 100 TB scale path. Embeddings are ``array<float>`` columns.

Scale design:
- Query set is small (user-supplied) → broadcast it; the corpus is scanned
  once, each task scores its partition against all broadcast queries, and
  top-k is a two-window cut: a partition-local row_number ≤ k on
  (spark_partition_id, query) first, so the final per-query window reads
  O(partitions·q·k) rows instead of funneling every scored row of a query
  into one reducer (see ``brute_force_topk``; ``matmul_topk`` does the
  local cut inside the Arrow batch instead).
- Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM-side, no Python.
  (At very high dims a vectorized numpy pandas_udf wins on constant factors;
  the built-in HOF path keeps whole-stage codegen and zero serde, which
  benchmarked faster at d=64.)
- The LSH variant hashes vectors into sign-buckets over fixed random
  hyperplanes (seeded, engine-independent via md5-derived coefficients is
  overkill — we use deterministic literal planes), joins on bucket, and
  scores only colliding pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pmp_analytics_spark import memo


def _md5_sample_rows(df: DataFrame, corpus_id: str, corpus_vec: str, n: int) -> list:
    """Driver-collect the deterministic md5-ordered quantizer training
    sample (bounded: ``n`` rows). The md5 order is a total order over
    distinct ids, so the sample is independent of partitioning/cluster
    size — callers may pass the corpus pre- or post-repartition
    interchangeably.

    The embedding family fits several quantizers (IVF coarse, PQ
    codebooks, IVF-PQ residual books) from the SAME sample of the SAME
    corpus, so the sample is memoized in ``memo`` per (session, analyzed
    plan semanticHash, cols, n) and the files the frame reads: without
    it every fit pays its own TakeOrdered pass over the corpus. At
    deployment the sample/fit is computed once at index-build time and
    persisted with the index."""
    projected = df.select(corpus_id, corpus_vec)
    plan_hash = projected._jdf.queryExecution().analyzed().semanticHash()
    return memo.get(
        df.sparkSession,
        "md5_sample_rows",
        (plan_hash, corpus_id, corpus_vec, int(n)),
        projected.inputFiles(),
        lambda: projected.orderBy(F.md5(F.col(corpus_id).cast("string"))).limit(n).collect(),
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk_per_query(
    scored: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    sim_name: str,
) -> DataFrame:
    """Two-window exact top-k cut over a (query_id, corpus_id, sim) score
    stream: a pre-cut keyed by (spark_partition_id, query) bounds what
    the per-query window receives to O(partitions·q·k) rows — without
    it, the final window funnels every scored row of a query into that
    query's single reducer. Exact: both windows use the same (score
    desc, corpus id asc) total order, so a locally-cut row can never be
    in the global top-k."""
    order = [F.desc(sim_name), F.asc(corpus_id)]
    w_local = Window.partitionBy("__pid", query_id).orderBy(*order)
    pre = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(w_local))
        .where(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
    )
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, sim_name, "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    sim_name: str = "cosine_sim",
    exclude_self: bool = False,
    pair_filter: Column | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine similarity.
    ``exclude_self`` drops corpus_id == query_id rows BEFORE ranking
    (retrieval evaluation shape — the trivial self-match neither fills a
    rank slot nor shifts the others); ``pair_filter`` is an arbitrary
    per-(corpus, query)-pair predicate applied at the same point, over
    any columns of either side (``hard_negative_topk``'s label
    mismatch) — one definition of the scoring/rounding/tie-break
    convention serves every filtered variant.

    ``queries`` is broadcast; scoring is map-side over the corpus scan.
    The top-k cut happens in TWO windows so no reducer ever sees the
    full score matrix:

    1. a pre-cut keyed by ``(spark_partition_id, query_id)`` — its
       exchange spreads the n·q scored rows UNIFORMLY (every scan
       partition contributes its own key group), and only the local
       top-k per (partition, query) survives;
    2. the global per-query window then receives O(partitions·q·k)
       rows — without the pre-cut it would funnel all n scored rows of
       each query into that query's single reducer, the classic top-k
       hotspot at scale.

    The pre-cut is EXACT (unlike ``matmul_topk``'s margin heuristic):
    both windows order by the same rounded score with the same corpus-id
    tie-break, so a row cut locally can never belong to the global top-k.
    """
    paired = corpus.crossJoin(F.broadcast(queries))
    if pair_filter is not None:
        paired = paired.where(pair_filter)
    scored = paired.select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(cosine(F.col(corpus_vec), F.col(query_vec)), 6).alias(sim_name),
    )
    if exclude_self:
        scored = scored.where(F.col(corpus_id) != F.col(query_id))
    return _topk_per_query(scored, k, query_id, corpus_id, sim_name)


def hard_negative_topk(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    label_col: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
    sim_name: str = "cosine_sim",
) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive / embedding-model training
    (the DPR / SimCSE / E5 data-prep step): per anchor, the top-k
    most-similar corpus vectors whose label DIFFERS from the anchor's —
    the negatives nearest the decision boundary, which carry most of the
    contrastive gradient. Same execution shape as ``brute_force_topk``
    (anchors broadcast, corpus scanned once, exact two-window top-k cut
    so no reducer sees a full score column); the label-mismatch filter
    lands BEFORE ranking, map-side on the scan. Rows with NULL labels on
    either side are excluded (``!=`` is null-rejecting — an unlabeled
    vector is not a certified negative). At IVF/PQ scale the same filter
    composes into those scorers' candidate stages; this exact form is
    the baseline and the evaluator.
    """
    return brute_force_topk(
        corpus,
        anchors,
        k=k,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        query_id=query_id,
        query_vec=query_vec,
        sim_name=sim_name,
        pair_filter=F.col(label_col) != F.col(query_label),
    )


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_sim: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    sim_name: str = "cosine_sim",
) -> DataFrame:
    """All corpus vectors within a cosine RADIUS of each query (threshold-
    based, vs top-k's rank-based cut) — the dedup/recall-audit companion to
    ``brute_force_topk``. Same scale shape: queries broadcast, one corpus
    scan, but no per-query heap — the filter is a map-side predicate, so
    the output (not the corpus) is the only thing that moves."""
    return (
        corpus.crossJoin(F.broadcast(queries))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(cosine(F.col(corpus_vec), F.col(query_vec)), 6).alias(sim_name),
        )
        .where(F.col(sim_name) >= min_sim)
    )


_BATCH_MARGIN = 16
"""Extra rows each Arrow batch keeps past k in ``matmul_topk``."""


def matmul_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    sim_name: str = "cosine_sim",
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy matrix products (mapInPandas).

    The alternative physical strategy to ``brute_force_topk``'s HOF path:
    normalize the (small, broadcast) query matrix once on the driver, then
    each Arrow batch of corpus vectors scores as ONE (n×d)·(d×q) BLAS
    call and emits only its per-query partial top-(k+_BATCH_MARGIN) — the
    shuffle into the final global window carries O(partitions·q·k) rows,
    never the full n·q score matrix. At high dims the BLAS constant
    factor wins over per-element HOF evaluation; at d≈64 they tie (see
    module docstring) — this operator exists so both strategies are
    available and measured.

    ``_BATCH_MARGIN`` guards the pruning: batch-local selection is by raw
    float64 scores while the global cut is by the 6-decimal rounded score
    with id tie-break, so a boundary row is only dropped if > margin
    batch-mates share its rounded score. Ties that wide don't occur in
    real embedding data (and would make ANY top-k id-arbitrary).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, qm))
    keep = k + _BATCH_MARGIN

    def score(batches):
        q_ids, q_mat = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            c = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ q_mat.T  # (n, q)
            kk = min(keep, sims.shape[0])
            part = np.argpartition(-sims, kk - 1, axis=0)[:kk]  # (kk, q)
            out_q, out_id, out_s = [], [], []
            for j in range(sims.shape[1]):
                rows = part[:, j]
                out_q.append(np.full(kk, q_ids[j]))
                out_id.append(ids[rows])
                out_s.append(np.round(sims[rows, j], 6))
            yield pd.DataFrame(
                {
                    query_id: np.concatenate(out_q),
                    corpus_id: np.concatenate(out_id),
                    sim_name: np.concatenate(out_s),
                }
            )

    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score, schema=f"{query_id} long, {corpus_id} long, {sim_name} double"
    )
    w = Window.partitionBy(query_id).orderBy(F.desc(sim_name), F.asc(corpus_id))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, sim_name, "rank")
    )


def _bucket_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id: concatenated signs of dot(vec, plane) for fixed
    hyperplanes. Deterministic literals → reproducible across runs."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, F.array(*[F.lit(p) for p in plane]), lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def make_planes(dim: int, n_planes: int = 8, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-based, no numpy RNG
    state) — importable by tests for reproducibility."""
    planes = []
    state = seed
    for _ in range(n_planes):
        plane = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            plane.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(plane)
    return planes


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    sim_name: str = "cosine_sim",
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    sign-LSH bucket. Recall < 1.0 by design; at 100 TB this replaces the
    full corpus scan per query with a bucket-pruned one (multi-probe and
    band-OR variants are the standard recall knobs)."""
    planes = make_planes(dim, n_planes)
    c = corpus.withColumn("__bucket", _bucket_signature(F.col(corpus_vec), planes))
    q = queries.withColumn("__bucket", _bucket_signature(F.col(query_vec), planes))
    scored = c.join(F.broadcast(q), on="__bucket").select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(cosine(F.col(corpus_vec), F.col(query_vec)), 6).alias(sim_name),
    )
    return _topk_per_query(scored, k, query_id, corpus_id, sim_name)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    sim_name: str = "cosine_sim",
    seed: int = 42,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse k-means quantizer trained on
    a bounded sample, then exact cosine rescoring inside the ``nprobe``
    nearest cells.

    The 100 TB shape: the centroid table is tiny (n_centroids × dim) and
    broadcast everywhere; the corpus is scanned once to assign cells
    (in practice pre-assigned and PARTITIONED BY cell on disk, so a query
    touches nprobe partitions instead of the full corpus — partition
    pruning does the skipping); candidates are scored exactly. Recall is
    tunable via nprobe (nprobe = n_centroids degenerates to brute force).

    The quantizer is a seeded numpy Lloyd's on a DRIVER-COLLECTED sample
    (md5-ordered → engine- and cluster-size-independent): standard IVF
    practice is a bounded training set (nobody k-means the full corpus),
    so the fit is O(sample) on the driver — replacing an MLlib fit that
    launched ~a dozen Spark jobs of pure fixed overhead for the same
    bounded sample. Cell assignment is one Arrow-batched argmin matmul
    per corpus batch (distributed, the only corpus-sized step).
    """
    spark = corpus.sparkSession
    assigned, cents = kmeans_assign(corpus, n_centroids, corpus_id, corpus_vec, seed)

    from pmp_analytics_spark.sources.local import local_df

    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    cent_df = local_df(spark, centroids, "__cell bigint, __centroid array<double>")

    # nprobe nearest cells per query (centroids broadcast; tiny cross)
    q_cells = (
        queries.crossJoin(F.broadcast(cent_df))
        .withColumn("__dist", F.sqrt(
            F.aggregate(
                F.zip_with(F.col(query_vec), F.col("__centroid"), lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ))
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("__dist"), F.asc("__cell"))
    probes = (
        q_cells.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= nprobe)
        .select(query_id, query_vec, "__cell")
    )

    scored = assigned.join(F.broadcast(probes), on="__cell").select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(cosine(F.col(corpus_vec), F.col(query_vec)), 6).alias(sim_name),
    )
    return _topk_per_query(scored, k, query_id, corpus_id, sim_name)


def kmeans_assign(
    corpus: DataFrame,
    n_centroids: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
):
    """(id, vec, __cell) cluster assignment of a vector corpus + the
    fitted centroid ndarray — the shared front half of ``ivf_topk`` and
    ``semantic_neardup``. The quantizer is a seeded numpy Lloyd's on a
    DRIVER-COLLECTED md5-ordered sample (bounded, engine-independent —
    the SQL-replay oracles refit it bit-identically); assignment is one
    Arrow-batched argmin matmul per corpus batch, the only corpus-sized
    step, with the tiny centroid matrix broadcast."""
    import numpy as np

    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    dense = ensure_parallelism(corpus.select(corpus_id, corpus_vec))
    # Sample from the un-widened projection so the memo key matches the
    # other fits over the same corpus (md5 is a total order over
    # distinct ids — identical rows either way).
    sample_rows = _md5_sample_rows(
        corpus, corpus_id, corpus_vec, max(2000, 20 * n_centroids)
    )
    train = np.array([list(r[1]) for r in sample_rows], dtype=np.float64)
    cents = _kmeans_fit(train, n_centroids, seed)
    return assign_cells(dense, cents, corpus_id, corpus_vec), cents


def assign_cells(
    df: DataFrame,
    cents,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """(id, vec, __cell) argmin-cell assignment of ``df``'s vectors to a
    FIXED centroid ndarray — the back half of ``kmeans_assign``, exposed
    for maintenance paths that must assign NEW vectors to an EXISTING
    quantizer (the production ANN posture: the quantizer retrains
    rarely; assignments stay continuously current). One Arrow-batched
    argmin matmul per batch with the tiny centroid matrix broadcast;
    ties break to the lowest cell (numpy argmin), the same convention
    the SQL-replay oracles encode as ``ORDER BY distance, cell``."""
    import numpy as np
    import pandas as pd

    bc = df.sparkSession.sparkContext.broadcast(np.asarray(cents, dtype=np.float64))

    def assign(batches):
        c = bc.value
        c2 = (c**2).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            d2 = (m**2).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (m @ c.T)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    corpus_vec: pdf[corpus_vec],
                    "__cell": d2.argmin(axis=1).astype(np.int64),
                }
            )

    in_types = dict(df.dtypes)
    return df.mapInPandas(
        assign,
        schema=(
            f"`{corpus_id}` {in_types[corpus_id]}, "
            f"`{corpus_vec}` {in_types[corpus_vec]}, __cell long"
        ),
    )


def ivf_index_refresh(
    index: DataFrame,
    delta: DataFrame,
    cents,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """CDC maintenance of the IVF assignment table (id, cell) under a
    FIXED quantizer: removed/changed ids evict their rows via one
    delta-bounded anti-join; added/changed vectors are argmin-assigned
    to the existing centroids — the corpus is never re-scored. The
    embedding-side sibling of ``dedup.lsh_index_refresh``: cell
    assignment is a pure per-vector function of (vector, centroids), so
    the refreshed table is bit-identical to a fresh assignment pass
    over the new corpus (the declared query's oracle). Quantizer DRIFT
    (enough churn that the old centroids stop fitting) is a retrain —
    by design a rare full rebuild, not this operator's job. The
    evict/recompute skeleton is ``diff.cdc_index_refresh`` (shared with
    the LSH-band and PQ-code refreshes).
    """
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    def assign(fresh: DataFrame) -> DataFrame:
        return assign_cells(fresh, cents, corpus_id, corpus_vec).select(
            corpus_id, F.col("__cell").alias("cell")
        )

    return cdc_index_refresh(index, delta, corpus_id, corpus_vec, assign)


def semantic_neardup(
    corpus: DataFrame,
    threshold: float,
    n_clusters: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-shaped semantic near-duplicate pairs: k-means cluster
    the embedding space, then exact cosine over pairs WITHIN each
    cluster only (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023). Returns
    (id_a < id_b, cosine_sim ≥ threshold).

    This is the 100 TB counterpart to the bounded brute-force
    ``embedding_neardup_exact`` slice: all-pairs cosine is quadratic in
    the corpus, but semantic duplicates are by definition CLOSE in
    embedding space, so restricting pairs to the same coarse cell keeps
    ~(corpus/k)² per cell instead of corpus² — one shuffle on the cell
    id, cluster-local joins, nothing corpus-quadratic. Recall < 1 by
    design (a pair straddling a cell boundary is missed — the standard
    SemDeDup trade; raise k for smaller, purer cells or lower k for
    recall). Cell population is ~corpus/k by construction of k-means on
    a uniform sample; a pathological cluster (one dense semantic mass)
    concentrates pairs, which AQE's skew handling splits at join time.
    """
    assigned, _ = kmeans_assign(corpus, n_clusters, corpus_id, corpus_vec, seed)
    a = assigned.select(
        F.col("__cell"), F.col(corpus_id).alias("id_a"), F.col(corpus_vec).alias("__va")
    )
    b = assigned.select(
        F.col("__cell"), F.col(corpus_id).alias("id_b"), F.col(corpus_vec).alias("__vb")
    )
    return (
        a.join(b, on="__cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


_KMEANS_ITERS = 8


def _kmeans_fit(sample, k: int, seed: int):
    """Seeded k-means++ init + ``_KMEANS_ITERS`` Lloyd's iterations over
    a numpy sample. Deterministic for a fixed (sample, k, seed); empty
    cells keep their previous centroid (standard degenerate-cell
    handling)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    centers = [sample[rng.randint(len(sample))]]
    for _ in range(k - 1):
        d2 = np.min(
            [((sample - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        total = d2.sum()
        if total <= 0:
            centers.append(sample[rng.randint(len(sample))])
            continue
        centers.append(sample[rng.choice(len(sample), p=d2 / total)])
    cents = np.array(centers, dtype=np.float64)
    for _ in range(_KMEANS_ITERS):
        d2 = (
            (sample**2).sum(axis=1)[:, None]
            + (cents**2).sum(axis=1)[None, :]
            - 2.0 * (sample @ cents.T)
        )
        labels = d2.argmin(axis=1)
        for j in range(k):
            pts = sample[labels == j]
            if len(pts):
                cents[j] = pts.mean(axis=0)
    return cents


def label_affinity(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group vectorized scoring via ``applyInPandas`` (grouped-map):
    each label group arrives as one pandas frame; affinity = cosine of
    each vector to its group centroid, computed with one numpy matmul per
    group. The grouped-map path is the right shape when per-group math is
    genuinely matrix-like (centroid + batched dot products) — a per-row
    HOF would recompute the centroid per row or need a separate join.

    Scale: one shuffle on the label; group size bounds task memory (a
    label's vectors must fit one task — for unbounded groups switch to
    the two-pass join form: centroid agg + broadcast join + per-row dot).
    """
    import numpy as np
    import pandas as pd

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        centroid = m.mean(axis=0)
        c_norm = np.linalg.norm(centroid)
        norms = np.linalg.norm(m, axis=1)
        denom = norms * c_norm
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = np.where(denom > 0, (m @ centroid) / denom, 0.0)
        return pd.DataFrame(
            {
                label_col: pdf[label_col],
                id_col: pdf[id_col],
                "affinity": np.round(sims, 6),
            }
        )

    # Output schema derives from the input dtypes: any label/id type the
    # caller uses (string labels, int ids, ...) passes through unchanged.
    in_types = dict(emb.dtypes)
    out_schema = (
        f"`{label_col}` {in_types[label_col]}, "
        f"`{id_col}` {in_types[id_col]}, affinity double"
    )
    return emb.groupBy(label_col).applyInPandas(score, schema=out_schema)


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze, Schmid — "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011): split each D-dim vector into m
# subvectors, k-means each subspace to k_codes centroids, store each
# vector as m small codes, and answer queries by Asymmetric Distance
# Computation (ADC) — per query, a tiny (m × k_codes) table of exact
# subspace distances, then each corpus vector costs m table
# lookups instead of D multiplies. The memory story is the point at 100 TB: a 64-dim
# float vector (256 B) compresses to m=8 one-byte codes, so the code
# table for a trillion vectors fits where the raw vectors never could.
# ---------------------------------------------------------------------------


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k_codes: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
):
    """Per-subspace codebooks as an (m, k_codes, D/m) ndarray, fitted by
    the repo's seeded ``_kmeans_fit`` on the md5-ordered driver sample —
    the same bounded, engine-independent training protocol as
    ``kmeans_assign``, so the SQL-replay oracle refits bit-identically.
    Subspace j uses seed+j (independent codebooks, still deterministic)."""
    import numpy as np

    sample_rows = _md5_sample_rows(
        corpus, corpus_id, corpus_vec, max(2000, 20 * k_codes)
    )
    train = np.array([list(r[1]) for r in sample_rows], dtype=np.float64)
    d = train.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    return np.stack(
        [
            _kmeans_fit(train[:, j * sub : (j + 1) * sub], k_codes, seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    corpus: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """(id, __codes) code frame: per subspace, the argmin-distance
    codebook entry — one Arrow-batched argmin matmul per subspace per
    batch (the only corpus-sized step; the codebook broadcast is
    m*k_codes*sub doubles, trivially small). Ties break to the lowest
    code on both engines (numpy argmin = first minimum; the oracle
    orders by (dist, code))."""
    import numpy as np
    import pandas as pd

    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    m, _, sub = codebooks.shape
    dense = ensure_parallelism(corpus.select(corpus_id, corpus_vec))
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    def enc(batches):
        cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                xj = x[:, j * sub : (j + 1) * sub]
                c = cb[j]
                d2 = (
                    (xj**2).sum(axis=1)[:, None]
                    + (c**2).sum(axis=1)[None, :]
                    - 2.0 * (xj @ c.T)
                )
                codes[:, j] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {corpus_id: pdf[corpus_id], "__codes": [list(map(int, r)) for r in codes]}
            )

    in_types = dict(dense.dtypes)
    return dense.mapInPandas(
        enc, schema=f"`{corpus_id}` {in_types[corpus_id]}, __codes array<int>"
    )


def _adc_table(vec_col: str, codebooks) -> Column:
    """The per-query (m x k_codes) exact subspace-squared-L2 table of
    column ``vec_col`` against a literal codebook ndarray — built as ONE
    parsed SQL string (composing it from ~10k pyspark Column calls
    measured ~4 s of pure py4j round-trips; the parsed form is
    milliseconds and plan-identical). Left-to-right fold matches the
    DuckDB replay's LIST_SUM-over-ascending-series."""
    m, k_codes, sub = codebooks.shape
    cb_sql = "array(%s)" % ", ".join(
        "array(%s)" % ", ".join(
            "array(%s)" % ", ".join(f"{float(x)!r}D" for x in codebooks[j][c])
            for c in range(k_codes)
        )
        for j in range(m)
    )
    return F.expr(
        f"""transform({cb_sql}, (row, j) -> transform(row, cv ->
              aggregate(
                  zip_with(slice(`{vec_col}`, j * {sub} + 1, {sub}), cv,
                           (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
                  0.0D, (acc, x) -> acc + x)))"""
    )


def _adc_lookup() -> Column:
    """m table lookups summed in code order — the ADC score of a __codes
    row against a per-query __tbl table (code+1: 1-based element_at).
    Built lazily: F.expr needs an active session."""
    return F.expr(
        """round(aggregate(
               zip_with(__codes, __tbl, (c, t) -> element_at(t, c + 1)),
               0.0D, (acc, x) -> acc + x), 6)"""
    )


def pq_topk(
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    dist_name: str = "adc_dist",
) -> DataFrame:
    """ADC top-k over a PQ code frame: build each query's (m × k_codes)
    exact subspace-distance table JVM-side (HOF arithmetic on the
    literal codebook — no Python in the per-query path), broadcast the
    tables, and score each corpus code row with m array lookups
    (``element_at``) summed in code order. Two-window ascending top-k
    cut, same hotspot-free shape as ``brute_force_topk``.

    The table and ADC expressions are built as ONE parsed SQL string
    each (``F.expr``): composing them from ~10k pyspark Column calls
    measured ~4 s of pure py4j round-trips at build time; the parsed
    form is milliseconds and plan-identical.

    Distances are ADC approximations (query-to-centroid, not
    query-to-vector): ranking quality vs exact cosine is asserted in
    tests; the operator's contract is the Jégou ADC semantics, not
    exact retrieval."""
    tables = queries.select(
        F.col(query_id), _adc_table(query_vec, codebooks).alias("__tbl")
    )
    adc = _adc_lookup()
    scored = codes.crossJoin(F.broadcast(tables)).select(
        F.col(query_id), F.col(corpus_id), adc.alias(dist_name)
    )
    order = [F.asc(dist_name), F.asc(corpus_id)]
    w_local = Window.partitionBy("__pid", query_id).orderBy(*order)
    pre = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(w_local))
        .where(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
    )
    w = Window.partitionBy(query_id).orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, dist_name, "rank")
    )


def pq_codes_refresh(
    codes: DataFrame,
    delta: DataFrame,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """CDC maintenance of the PQ code table (id, __codes) under FIXED
    codebooks — the third index-maintenance sibling (LSH bands, IVF
    cells, PQ codes): removed/changed ids evict their code rows via a
    delta-bounded anti-join; added/changed vectors are re-encoded with
    ``pq_encode`` against the existing codebooks — the compressed
    corpus representation follows the corpus without ever re-encoding
    it. Codes are pure per-vector functions of (vector, codebooks), so
    the refreshed table is bit-identical to a fresh encode pass over
    the new corpus. Codebook drift is a rare retrain + full re-encode,
    by design outside this operator. The evict/recompute skeleton is
    ``diff.cdc_index_refresh`` (shared with the LSH-band and IVF-cell
    refreshes).
    """
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    return cdc_index_refresh(
        codes,
        delta,
        corpus_id,
        corpus_vec,
        lambda fresh: pq_encode(fresh, codebooks, corpus_id, corpus_vec),
    )


def ivfpq_train(
    corpus: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    k_codes: int = 16,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    seed: int = 42,
):
    """(cents, codebooks) for the composed IVF-PQ index: the coarse
    k-means quantizer AND per-subspace codebooks fitted on the
    RESIDUALS ``x - cent[cell(x)]`` of the same sample — the
    FAISS-standard ``IVFx,PQy`` production shape (Jégou et al., TPAMI
    2011 §IV): residuals concentrate near zero regardless of which cell
    a vector lives in, so one shared residual codebook quantizes far
    more precisely than PQ on raw coordinates at the same bit budget.

    Same bounded, engine-independent training protocol as
    ``kmeans_assign``/``pq_train`` (md5-ordered driver sample, seeded
    numpy Lloyd's, subspace j at seed+j), so the SQL-replay oracle
    refits bit-identically."""
    import numpy as np

    sample_rows = _md5_sample_rows(
        corpus, corpus_id, corpus_vec, max(2000, 20 * max(n_centroids, k_codes))
    )
    train = np.array([list(r[1]) for r in sample_rows], dtype=np.float64)
    d = train.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible into {m} subspaces")
    sub = d // m
    cents = _kmeans_fit(train, n_centroids, seed)
    d2 = (
        (train**2).sum(axis=1)[:, None]
        + (cents**2).sum(axis=1)[None, :]
        - 2.0 * (train @ cents.T)
    )
    resid = train - cents[d2.argmin(axis=1)]
    books = np.stack(
        [
            _kmeans_fit(resid[:, j * sub : (j + 1) * sub], k_codes, seed + j)
            for j in range(m)
        ]
    )
    return cents, books


def ivfpq_encode(
    corpus: DataFrame,
    cents,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """(id, __cell, __codes): argmin cell assignment, residual against
    the cell centroid, and per-subspace residual codes — ONE fused
    Arrow-batched pass over the corpus (vs assign + join + encode: the
    residual is a per-row intermediate that never needs to exist
    outside the batch). Ties break to the lowest cell/code (numpy
    argmin = first minimum), the convention the SQL replay orders by
    ``(distance, cell)`` / ``(d2, code)``."""
    import numpy as np
    import pandas as pd

    from pmp_analytics_spark.operators.partitioning import ensure_parallelism

    m, _, sub = codebooks.shape
    dense = ensure_parallelism(corpus.select(corpus_id, corpus_vec))
    bc = corpus.sparkSession.sparkContext.broadcast(
        (np.asarray(cents, dtype=np.float64), np.asarray(codebooks, dtype=np.float64))
    )

    def enc(batches):
        c, cb = bc.value
        c2 = (c**2).sum(axis=1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[corpus_vec].tolist(), dtype=np.float64)
            d2 = (x**2).sum(axis=1)[:, None] + c2[None, :] - 2.0 * (x @ c.T)
            cell = d2.argmin(axis=1)
            r = x - c[cell]
            codes = np.empty((len(x), m), dtype=np.int32)
            for j in range(m):
                rj = r[:, j * sub : (j + 1) * sub]
                e = cb[j]
                s2 = (
                    (rj**2).sum(axis=1)[:, None]
                    + (e**2).sum(axis=1)[None, :]
                    - 2.0 * (rj @ e.T)
                )
                codes[:, j] = s2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    corpus_id: pdf[corpus_id],
                    "__cell": cell.astype(np.int64),
                    "__codes": [list(map(int, row)) for row in codes],
                }
            )

    in_types = dict(dense.dtypes)
    return dense.mapInPandas(
        enc,
        schema=f"`{corpus_id}` {in_types[corpus_id]}, __cell long, __codes array<int>",
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    k: int = 10,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    dist_name: str = "adc_dist",
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ top-k: probe the ``nprobe`` nearest cells per query, score
    ONLY those cells' code rows by residual ADC — each (query, probed
    cell) pair builds its exact (m x k_codes) table against the
    RESIDUAL query ``q - cent[cell]`` (JVM HOF arithmetic on the
    literal codebook; no Python in the per-query path), broadcast, and
    every candidate costs m array lookups.

    The 100 TB posture combines both parents': the corpus is touched by
    exactly one fused assign+encode pass (and in production the code
    table is PARTITIONED BY cell, so a query reads nprobe partitions of
    m-byte codes — neither the raw vectors nor the other cells); the
    broadcast is nq x nprobe small tables. Recall tunes via nprobe and
    k_codes independently; ADC distances are the Jégou approximation
    (asserted against exact cosine recall in tests, like ``pq_topk``)."""
    spark = corpus.sparkSession
    cents, books = ivfpq_train(
        corpus, n_centroids, m, k_codes, corpus_id, corpus_vec, seed
    )
    codes = ivfpq_encode(corpus, cents, books, corpus_id, corpus_vec)

    from pmp_analytics_spark.sources.local import local_df

    cent_df = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "__cell bigint, __centroid array<double>",
    )
    q_cells = queries.crossJoin(F.broadcast(cent_df)).withColumn(
        "__dist",
        F.aggregate(
            F.zip_with(
                F.col(query_vec),
                F.col("__centroid"),
                lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    w = Window.partitionBy(query_id).orderBy(F.asc("__dist"), F.asc("__cell"))
    probes = (
        q_cells.withColumn("__rank", F.row_number().over(w))
        .where(F.col("__rank") <= nprobe)
        .withColumn(
            "__qres",
            F.zip_with(
                F.col(query_vec),
                F.col("__centroid"),
                lambda a, b: a.cast("double") - b,
            ),
        )
        .select(query_id, "__cell", "__qres")
    )
    tables = probes.select(
        query_id, "__cell", _adc_table("__qres", books).alias("__tbl")
    )
    scored = codes.join(F.broadcast(tables), on="__cell").select(
        F.col(query_id), F.col(corpus_id), _adc_lookup().alias(dist_name)
    )
    order = [F.asc(dist_name), F.asc(corpus_id)]
    w_local = Window.partitionBy("__pid", query_id).orderBy(*order)
    pre = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__lrank", F.row_number().over(w_local))
        .where(F.col("__lrank") <= k)
        .drop("__pid", "__lrank")
    )
    w2 = Window.partitionBy(query_id).orderBy(*order)
    return (
        pre.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id, corpus_id, dist_name, "rank")
    )


def ndcg_weights(k: int) -> tuple[list[float], float]:
    """(per-rank DCG weights 1/log2(rank+1) for ranks 1..k, ideal DCG) —
    computed ONCE in Python and embedded as literals on BOTH engines of
    the oracle compare, so no cross-engine log2 ulp can enter the
    metric terms."""
    import math

    w = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    return w, sum(w)


def index_eval(
    truth: DataFrame,
    methods: dict[str, DataFrame],
    k: int,
    n_queries: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Retrieval-quality harness: grade each method's ranked candidate
    list against the exact ground truth (``brute_force_topk``) with the
    three standard ANN metrics, averaged over the query set —
    (method, recall_at_k, mrr, ndcg):

    - recall@k: |candidates ∩ truth| / k;
    - MRR: 1 / rank of the first true neighbor retrieved (0 if none);
    - nDCG@k: binary-relevance DCG with literal 1/log2(rank+1) weights,
      normalized by the ideal DCG of a full-truth list.

    Queries a method returns NOTHING for (an empty LSH bucket) score 0
    on every metric — the mean divides by ``n_queries``, not by the
    rows present. Inputs are (query, id, rank) frames; the truth join
    is broadcast (nq x k rows); everything is exact JVM arithmetic, so
    the whole evaluation replays in SQL — index tuning gets a
    measurable, oracle-checked target."""
    w, idcg = ndcg_weights(k)
    t = F.broadcast(
        truth.select(F.col(query_id), F.col(corpus_id), F.lit(1).alias("__rel"))
    )
    cand = None
    for name, df in methods.items():
        part = df.select(
            F.lit(name).alias("method"),
            F.col(query_id),
            F.col(corpus_id),
            F.col("rank").cast("int").alias("rank"),
        )
        cand = part if cand is None else cand.unionByName(part)
    hits = cand.join(t, [query_id, corpus_id], "left").select(
        "method",
        query_id,
        "rank",
        F.coalesce(F.col("__rel"), F.lit(0)).alias("rel"),
    )
    warr = F.array(*[F.lit(float(x)) for x in w])
    per_q = hits.groupBy("method", query_id).agg(
        (F.sum("rel") * 1.0 / k).alias("recall"),
        F.coalesce(
            1.0 / F.min(F.when(F.col("rel") == 1, F.col("rank"))), F.lit(0.0)
        ).alias("mrr"),
        (
            F.sum(F.col("rel") * F.element_at(warr, F.col("rank"))) / idcg
        ).alias("ndcg"),
    )
    return per_q.groupBy("method").agg(
        F.round(F.sum("recall") / n_queries, 6).alias("recall_at_k"),
        F.round(F.sum("mrr") / n_queries, 6).alias("mrr"),
        F.round(F.sum("ndcg") / n_queries, 6).alias("ndcg"),
    )


def ivfpq_codes_refresh(
    index: DataFrame,
    delta: DataFrame,
    cents,
    codebooks,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """CDC maintenance of the composed IVF-PQ index table
    (id, __cell, __codes) under a FIXED coarse quantizer + residual
    codebooks — the fourth index-maintenance sibling (LSH bands, IVF
    cells, PQ codes): removed/changed ids evict their rows via one
    delta-bounded anti-join; added/changed vectors re-run the fused
    assign+residual+encode pass against the existing quantizers. Cell
    and codes are pure per-vector functions of (vector, cents, books),
    so the refreshed table is bit-identical to a fresh ``ivfpq_encode``
    over the new corpus (the declared query's oracle). Quantizer drift
    is a rare retrain + full re-encode, outside this operator, as for
    the other three. Skeleton: ``diff.cdc_index_refresh``."""
    from pmp_analytics_spark.operators.diff import cdc_index_refresh

    return cdc_index_refresh(
        index,
        delta,
        corpus_id,
        corpus_vec,
        lambda fresh: ivfpq_encode(
            fresh, cents, codebooks, corpus_id, corpus_vec
        ),
    )
