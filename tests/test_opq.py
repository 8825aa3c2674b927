"""OPQ pre-rotation (operators/opq.py): the mechanism contracts the
recall entries rest on — the learned transform is orthogonal (metric-
preserving), decorrelates the corpus, balances per-subspace variance,
is stored under the training frame's fingerprint, and the rotate stage
reproduces a driver-side matmul exactly."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.operators import index_store
from dataengineer_job_scraper_etl_spark.operators.opq import (
    _eig_alloc,
    opq_rotate,
    opq_train,
    pq_rerank_topk,
)

DIM = 8
M = 4


def _emb(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def _corr_data(n=240, seed=3):
    """Correlated, anisotropic rows — the input class OPQ exists for."""
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        base = [rng.gauss(0, 1) for _ in range(DIM)]
        # mix: each dim leaks into the next, decaying scales
        row = [
            0.9 ** j * (base[j] + 0.8 * base[(j + 1) % DIM])
            for j in range(DIM)
        ]
        rows.append(row)
    return rows


def test_rotation_is_orthogonal_and_norm_preserving(spark):
    mat = _corr_data()
    R = np.array(opq_train(_emb(spark, mat), "embedding", DIM, m=M))
    # R rows are the output directions; R R^T ~ I up to the documented
    # ~1e-6 entry quantization
    resid = np.abs(R @ R.T - np.eye(DIM)).max()
    assert resid < 1e-4, resid
    X = np.array(mat)
    Xr = X @ R.T
    assert np.allclose(
        np.linalg.norm(Xr, axis=1), np.linalg.norm(X, axis=1), atol=1e-3
    )


def test_rotation_decorrelates_and_balances_subspace_variance(spark):
    mat = _corr_data()
    R = np.array(opq_train(_emb(spark, mat), "embedding", DIM, m=M))
    X = np.array(mat)
    Xr = X @ R.T

    def offdiag_energy(Y):
        C = Y.T @ Y / len(Y)
        return float(np.abs(C - np.diag(np.diag(C))).sum())

    assert offdiag_energy(Xr) < 0.05 * offdiag_energy(X)
    # eigenvalue allocation: per-subspace variance PRODUCTS are closer
    # to balanced than the identity (unrotated) split
    d_sub = DIM // M

    def spread(Y):
        v = Y.var(axis=0)
        logs = [
            float(np.log(v[j * d_sub : (j + 1) * d_sub]).sum())
            for j in range(M)
        ]
        return max(logs) - min(logs)

    assert spread(Xr) <= spread(X) + 1e-9


def test_eig_alloc_balances_products():
    vals = [2.0 ** (-i) for i in range(DIM)]
    perm = _eig_alloc(vals, M)
    assert sorted(perm) == list(range(DIM))
    d_sub = DIM // M
    logs = [
        sum(math.log(vals[i]) for i in perm[j * d_sub : (j + 1) * d_sub])
        for j in range(M)
    ]
    # greedy balance: spread strictly below the sorted-order split's
    sorted_logs = [
        sum(math.log(vals[i]) for i in range(j * d_sub, (j + 1) * d_sub))
        for j in range(M)
    ]
    assert max(logs) - min(logs) < max(sorted_logs) - min(sorted_logs)


def test_opq_rotate_matches_numpy_and_keeps_columns(spark):
    mat = _corr_data(n=40)
    df = _emb(spark, mat)
    R = opq_train(df, "embedding", DIM, m=M)
    out = opq_rotate(df, R, "embedding", "rot").orderBy("vec_id")
    got = np.array([r["rot"] for r in out.collect()])
    want = np.array(mat) @ np.array(R).T
    assert np.allclose(got, want, atol=1e-6)
    assert out.columns == ["vec_id", "embedding", "rot"]


def test_rotation_cache_is_keyed_and_cleared(spark):
    mat = _corr_data(n=60)
    df = _emb(spark, mat)
    index_store.clear()
    first = opq_train(df, "embedding", DIM, m=M)
    # store hit on the same frame: same object, no second Gram pass
    assert opq_train(df, "embedding", DIM, m=M) is first
    # a DIFFERENT frame is a different key: it trains its own rotation
    # instead of being served the first frame's
    other = _emb(spark, _corr_data(n=60, seed=11))
    again = opq_train(other, "embedding", DIM, m=M)
    assert again is not first and again != first
    # clear() drops everything; retraining reproduces the values
    index_store.clear()
    retrained = opq_train(df, "embedding", DIM, m=M)
    assert retrained is not first and retrained == first
    index_store.clear()


def test_opq_train_rejects_indivisible_m(spark):
    """ADVICE r8: a non-divisible m must fail fast with a clear error
    BEFORE the corpus Gram pass, not die inside the eigenvalue
    allocation after paying the full scan."""
    df = _emb(spark, _corr_data(n=4))
    with pytest.raises(ValueError, match="not divisible"):
        opq_train(df, "embedding", DIM, m=3)


def test_opq_beats_plain_pq_on_correlated_data(spark):
    """The gain contract's mechanism on data where theory predicts it
    plainly: correlated anisotropic rows, equal code budget."""
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    mat = _corr_data(n=240, seed=5)
    df = _emb(spark, mat)
    q = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    exact = brute_force_topk(df, q, k=5)
    ex: dict[int, set] = {}
    for r in exact.collect():
        ex.setdefault(r["qid"], set()).add(r["vec_id"])
    R = opq_train(df, "embedding", DIM, m=M)

    def hits(rot):
        top = pq_rerank_topk(
            df, q, DIM, k=5, m=M, k_codes=8, shortlist=20, rotation=rot
        )
        got: dict[int, set] = {}
        for r in top.collect():
            got.setdefault(r["qid"], set()).add(r["vec_id"])
        return sum(len(got.get(k, set()) & v) for k, v in ex.items())

    assert hits(R) >= hits(None)
