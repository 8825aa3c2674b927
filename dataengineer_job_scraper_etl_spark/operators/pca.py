"""Distributed PCA top-component via one-pass Gram + power iteration.

The scalable shape (same as Spark MLlib's ``RowMatrix.
computeGramianMatrix`` / ``computePrincipalComponents``, which
tree-aggregates per-partition outer-product partials): each Arrow
batch contributes a d x d partial Gram ``X^T X`` computed by numpy
(the one place Python belongs — BLAS flops on a dense block), emitted
as (i, j, partial) triplets whose count is d(d+1)/2 PER BATCH
regardless of batch row count. Spark then sums the triplets — a
shuffle of n_batches x d^2/2 tiny rows, nothing proportional to the
corpus — and the driver holds exactly one d x d covariance matrix
(d=64 -> 32 KiB, a bounded collect like k-means' k centroids).

Power iteration then runs DRIVER-SIDE on the d x d matrix (64 x 64 —
iterating distributedly would be absurd), with every iterate
quantized to ``round_decimals`` via an EXPLICIT half-up rule
``floor(x * 10^d + 0.5) / 10^d`` that DuckDB replays verbatim —
unlike Python's banker's round(), this has one cross-engine tie rule
(the mode seam ADVICE r6 flagged on the k-means quantizer). The
fixed-iteration quantized trajectory is therefore bit-identical on
both engines, so the ORACLE CAN HASH-CHECK THE WHOLE ALGORITHM, not
just a variance floor: same Gram (order-independent up to ~1e-12
summation drift, absorbed by the 5e-7 half-step with a ~5x10^5
margin — same analysis as _kmeans_rounds), same covariance
quantization, same 8 matrix-vector products.

Reference scope: the reference repo (366-LoC Polars ETL) has no
linear algebra; this extends the LLM-curation block (SURVEY §2.10+) —
PCA whitening/projection is the standard precursor to OPQ/IVF index
builds and embedding-drift monitoring over training corpora.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.vector_math import as_double
from dataengineer_job_scraper_etl_spark.operators import index_store


def half_up(x: float, decimals: int) -> float:
    """floor(x * 10^d + 0.5) / 10^d — the explicit quantization rule
    shared with the SQL oracle (one tie rule on both engines)."""
    q = 10.0**decimals
    return math.floor(x * q + 0.5) / q


def gram_triplets(
    vectors: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """Upper-triangle Gram partials: one (i, j, g) triplet per batch
    per (i <= j) pair, plus (i, -1, s_i) column-sum rows and a single
    (-1, -1, n) count row per batch — everything the driver needs for
    the covariance in ONE corpus pass. Lazy; callers aggregate with
    groupBy(i, j).sum and collect d(d+1)/2 + d + 1 rows."""

    def part(batches):
        import numpy as np
        import pandas as pd

        iu0, iu1 = np.triu_indices(dim)
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            G = X.T @ X
            s = X.sum(axis=0)
            yield pd.DataFrame(
                {
                    # 1-based dims to match SQL range(1, dim+1)
                    "i": np.concatenate(
                        [iu0 + 1, np.arange(1, dim + 1), [-1]]
                    ),
                    "j": np.concatenate(
                        [iu1 + 1, np.full(dim, -1), [-1]]
                    ),
                    "g": np.concatenate(
                        [G[iu0, iu1], s, [float(len(X))]]
                    ),
                }
            )

    return (
        vectors.select(
            as_double(F.col(vec_col)).alias(vec_col)
        )
        .mapInPandas(part, "i int, j int, g double")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


def _power_iterate(
    cov: list[list[float]], dim: int, n_iter: int, dec: int
) -> tuple[list[float], float]:
    """n_iter quantized power-iteration rounds from 1/sqrt(dim):
    (loadings, quantized eigenvalue)."""
    v = [1.0 / math.sqrt(dim)] * dim
    lam = 0.0
    for _ in range(n_iter):
        w = [sum(cov[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        lam = math.sqrt(sum(x * x for x in w))
        if lam == 0.0:
            # Degenerate C v = 0 (zero covariance / deflated to
            # nothing). The SQL oracle replay runs all n_iter rounds
            # unconditionally and would divide by sqrt(0) -> NULL,
            # so silently keeping the previous iterate here would
            # reach the driver as a cross-engine hash mismatch
            # (ADVICE r7). Refuse loudly instead: an all-identical-
            # vectors corpus has no principal direction to learn.
            raise ValueError(
                "power iteration hit a zero covariance (C v = 0): "
                "the input has no variance along the current "
                "deflation — the oracle replay cannot mirror this "
                "degenerate branch, so it is rejected rather than "
                "hashed inconsistently"
            )
        v = [half_up(x / lam, dec) for x in w]
    return v, half_up(lam, dec)


def pca_top_components(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    n_components: int = 1,
    n_iter: int = 8,
    round_decimals: int = 6,
) -> tuple[int, list[float], list[list[float]], list[float]]:
    """(n, means, loadings_per_component, eigvals): top principal
    components of the MEAN-CENTERED vector column by quantized power
    iteration + HOTELLING DEFLATION — after each component converges,
    the covariance is deflated ``C <- quantize(C - lam * v v^T)``
    (lam and v both already quantized, so the deflated matrix is made
    of engine-shared doubles and the NEXT component's trajectory
    replays bit-identically too). The start vector 1/sqrt(dim) must be
    exactly representable for the oracle replay: dim=64 gives 0.125, a
    dyadic rational, bit-identical as a literal in both engines
    (asserted below for other dims).

    Means are quantized BEFORE the covariance uses them: the raw
    column sum carries ~1e-13 summation-order drift vs the oracle's
    sum(e[i]) while the half-step is 5e-7 (~5x10^6 margin), and a
    quantized mean makes m_i*m_j bit-identical on both engines — so
    the only drift entering the covariance is G/n's, absorbed by the
    covariance quantization with the same margin.

    Train once / serve many: the result is stored in ``index_store``
    under the frame's fingerprint and every parameter above."""
    return index_store.get_or_train(
        "pca",
        index_store.fingerprint(vectors),
        (vec_col, dim, n_components, n_iter, round_decimals),
        lambda: train_top_components(
            vectors, vec_col, dim, n_components, n_iter, round_decimals
        ),
    )


def train_top_components(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    n_components: int,
    n_iter: int,
    dec: int,
) -> tuple[int, list[float], list[list[float]], list[float]]:
    """``pca_top_components`` without the store — for callers that
    memoize a larger artifact around it (the PC1 drift monitor)."""
    v0 = 1.0 / math.sqrt(dim)
    assert v0 == half_up(v0, dec), (
        f"start vector {v0} not exact at {dec} decimals; pick a dim "
        "whose 1/sqrt(dim) is dyadic (powers of 4) or seed the oracle "
        "with the quantized literal instead"
    )
    rows = gram_triplets(vectors, vec_col, dim).collect()
    g = {(r["i"], r["j"]): r["g"] for r in rows}
    n = int(g[(-1, -1)])
    m = [half_up(g[(i, -1)] / n, dec) for i in range(1, dim + 1)]
    cov = [
        [
            half_up(
                g[(min(i, j) + 1, max(i, j) + 1)] / n - m[i] * m[j],
                dec,
            )
            for j in range(dim)
        ]
        for i in range(dim)
    ]
    comps: list[list[float]] = []
    lams: list[float] = []
    for _ in range(n_components):
        v, lam = _power_iterate(cov, dim, n_iter, dec)
        comps.append(v)
        lams.append(lam)
        cov = [
            [
                half_up(cov[i][j] - lam * v[i] * v[j], dec)
                for j in range(dim)
            ]
            for i in range(dim)
        ]
    return (n, m, comps, lams)


def pca_top_component(
    vectors: DataFrame,
    vec_col: str,
    dim: int,
    n_iter: int = 8,
    round_decimals: int = 6,
) -> tuple[int, list[float], list[float], float]:
    """(n, means, loadings, eigval): the n_components=1 case."""
    n, m, comps, lams = pca_top_components(
        vectors, vec_col, dim, 1, n_iter, round_decimals
    )
    return n, m, comps[0], lams[0]
