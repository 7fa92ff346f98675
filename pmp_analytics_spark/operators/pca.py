"""PCA over an embedding column — fit-small, project-everywhere.

The dimensionality-reduction step of an embedding pipeline (whitening,
index shrinking, visualization): fit the top-r principal components once,
then project every vector.

Execution shape (the 100 TB story):

- FIT is driver-side numpy over the repo's standard bounded md5-ordered
  sample (the same engine-independent training protocol as
  ``similarity_search.train_quantizer``): one TakeOrdered collect of ``sample_n`` rows,
  then an exact d x d eigendecomposition — d is the embedding width
  (64 here), so the fit is O(sample_n * d^2) regardless of corpus size.
- PROJECTION is a pure map-side JVM fold: the (d x r) component matrix
  and the mean vector are folded into the plan as literals, each output
  coordinate is one left-to-right ``aggregate`` over the vector — zero
  shuffle, zero Python, whole-stage-codegen friendly. The SQL oracle
  replays the identical fold (LIST_SUM over an ascending GENERATE_SERIES)
  on the identical literals, so coordinates are engine-exact.
- Eigenvector SIGN is canonicalized (the entry with the largest absolute
  value is made positive) — eigh's sign choice is arbitrary, and an
  uncanonicalized fit would be un-replayable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _pca_fit_arrays(vecs, r: int):
    """Pure-numpy PCA fit shared by the Spark path and the SQL-oracle
    snapshot so both sides are bit-identical by construction.

    ``vecs`` is the md5-ordered training sample as a float64 (n, d)
    array. Returns (mu, W, lam, total_var): the mean vector, the (d, r)
    component matrix (columns = components, sign-canonicalized), the top
    r eigenvalues descending, and the total variance (sum of ALL
    eigenvalues — the denominator of explained-variance ratios)."""
    import numpy as np

    X = np.asarray(vecs, dtype=np.float64)
    mu = X.mean(axis=0)
    Xc = X - mu
    C = (Xc.T @ Xc) / X.shape[0]
    w, V = np.linalg.eigh(C)  # ascending eigenvalues
    if w.sum() <= 0.0:
        # all sampled vectors identical: no principal directions, and a
        # 0/0 var_ratio would otherwise render as a `nan` SQL literal
        # that fails far from the cause
        raise ValueError("PCA fit sample has zero variance")
    order = np.argsort(w)[::-1][:r]
    lam = w[order]
    W = V[:, order]
    for c in range(W.shape[1]):  # canonical sign: largest-|entry| positive
        j = int(np.argmax(np.abs(W[:, c])))
        if W[j, c] < 0:
            W[:, c] = -W[:, c]
    return mu, W, lam, float(w.sum())


def pca_fit(
    corpus: DataFrame,
    r: int = 4,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    sample_n: int = 2000,
):
    """Fit via the bounded md5-ordered Spark sample (TakeOrdered — never
    a full sort) and the shared numpy fit. Returns (mu, W, lam,
    total_var) as in ``_pca_fit_arrays``."""
    from pmp_analytics_spark.operators.similarity_search import _md5_sample_rows

    rows = _md5_sample_rows(corpus, corpus_id, corpus_vec, sample_n)
    return _pca_fit_arrays([list(row[1]) for row in rows], r)


def _arr_sql(xs) -> str:
    return "array(" + ", ".join(repr(float(x)) for x in xs) + ")"


def pca_project_long(
    corpus: DataFrame,
    mu,
    W,
    lam,
    total_var: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Long-format projection: (id, comp, eigenvalue, var_ratio, coord)
    with comp 1-based. One map-side selectExpr — the component matrix
    rides the plan as literals (d*r doubles), each coordinate is a
    left-to-right aggregate fold, and the r rows per vector come from a
    single ``stack`` (no explode-shuffle, no Python). Expression built
    as ONE parsed SQL string: composing d*r element_at calls through
    py4j costs seconds of round-trips per query build (see PERFORMANCE.md
    on the PQ table build); ``expr`` is milliseconds and plan-identical."""
    d, r = len(mu), W.shape[1]
    coords = []
    for c in range(r):
        wc = _arr_sql(W[:, c])
        coords.append(
            f"aggregate(sequence(1, {d}), cast(0.0 as double), (acc, i) -> "
            f"acc + element_at(__vc, i) * element_at({wc}, i))"
        )
    # float(...) before repr: numpy 2.x scalars repr as 'np.float64(x)',
    # which would not parse as SQL
    stack_args = ", ".join(
        f"cast({c + 1} as bigint), cast({float(lam[c])!r} as double), "
        f"cast({float(lam[c] / total_var)!r} as double), ({coords[c]})"
        for c in range(r)
    )
    # center ONCE (zip_with against a single mean literal), then fold
    # only the component arrays — inlining the mean into each of the r
    # folds would re-subtract it per component, r-plying both the plan
    # text and the per-row work; (v[i]-mu[i]) then *w is the identical
    # double sequence, so the oracle mirrors the same two-step shape
    return corpus.select(
        F.col(corpus_id),
        F.col(corpus_vec).cast("array<double>").alias("__v"),
    ).selectExpr(
        corpus_id,
        f"zip_with(__v, {_arr_sql(mu)}, (a, b) -> a - b) AS __vc",
    ).selectExpr(
        corpus_id,
        f"stack({r}, {stack_args}) AS (comp, eigenvalue, var_ratio, coord)",
    )
