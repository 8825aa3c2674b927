"""Distributed PCA operator tests (operators/pca.py).

The oracle entry (queries/pca.py::vec_pca_pc1_scores) pins cross-engine
hash equality of the full quantized trajectory; these tests pin the
operator contracts the oracle can't see: the bounded-partials shape of
the Gram pass (triplet count independent of row count), exact agreement
with a single-process numpy replay of the same quantized iteration
(i.e. the DISTRIBUTED assembly adds nothing beyond absorbed drift),
direction correctness on a fixture with a planted dominant axis, the
explicit half-up tie rule, and the train-once cache.
"""

from __future__ import annotations

import math

import numpy as np

from dataengineer_job_scraper_etl_spark.operators import index_store
from dataengineer_job_scraper_etl_spark.operators.pca import (
    gram_triplets,
    half_up,
    pca_top_component,
)

DIM = 4


def _emb(spark, mat):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )


def _numpy_replay(mat, n_iter=8, dec=6):
    """Single-process replay of the exact quantized algorithm."""
    X = np.asarray(mat, dtype=np.float64)
    n = len(X)
    m = [half_up(s / n, dec) for s in X.sum(axis=0)]
    d = X.shape[1]
    G = X.T @ X
    cov = [
        [half_up(G[i][j] / n - m[i] * m[j], dec) for j in range(d)]
        for i in range(d)
    ]
    v = [1.0 / math.sqrt(d)] * d
    lam = 0.0
    for _ in range(n_iter):
        w = [sum(cov[i][j] * v[j] for j in range(d)) for i in range(d)]
        lam = math.sqrt(sum(x * x for x in w))
        if lam == 0.0:
            break
        v = [half_up(x / lam, dec) for x in w]
    return n, m, v, half_up(lam, dec)


def test_gram_triplet_count_is_row_count_independent(spark):
    # d(d+1)/2 upper-triangle cells + d column sums + 1 count row,
    # whatever the corpus size — the bounded-collect contract.
    expected = DIM * (DIM + 1) // 2 + DIM + 1
    for n_rows in (3, 57):
        mat = [[(i * 7 + j) % 5 - 2.0 for j in range(DIM)] for i in range(n_rows)]
        rows = gram_triplets(_emb(spark, mat), "embedding", DIM).collect()
        assert len(rows) == expected


def test_matches_single_process_numpy_replay(spark):
    # 57 rows spread over several partitions: the distributed partial
    # Gram assembly must land on the same post-quantization trajectory
    # as one numpy pass (drift below the half-step, by construction).
    rng_free = [
        [math.sin(i * 1.7 + j) * (1 + j % 3) for j in range(DIM)]
        for i in range(57)
    ]
    df = _emb(spark, rng_free).repartition(8)
    got = pca_top_component(df, "embedding", DIM)
    want = _numpy_replay(rng_free)
    assert got[0] == want[0]
    assert got[1] == want[1]  # quantized means: exact equality
    assert got[2] == want[2]  # quantized loadings: exact equality
    assert got[3] == want[3]


def test_recovers_planted_dominant_direction(spark):
    # Variance planted on axis 2 dominates 20:1 -> PC1 aligns with it.
    mat = [[0.01 * (i % 3), 0.0, 10.0 * (1 if i % 2 else -1), 0.02] for i in range(40)]
    _, _, v, lam = pca_top_component(_emb(spark, mat), "embedding", DIM)
    axis = max(range(DIM), key=lambda j: abs(v[j]))
    assert axis == 2
    assert abs(v[2]) > 0.99
    assert lam > 50.0  # var of +-10 column = 100


def test_half_up_is_one_tie_rule_both_signs():
    # Explicit floor(x*q + 0.5)/q: a half always moves toward +inf —
    # unlike Python round()'s banker's mode (the ADVICE r6 seam).
    # Halves must be binary-exact to exercise the tie rule (decimal
    # strings like 0.0000025 don't sit on the boundary in float64).
    assert half_up(2.5, 0) == 3.0
    assert half_up(3.5, 0) == 4.0
    assert half_up(-2.5, 0) == -2.0  # toward +inf, one rule both signs
    assert round(2.5) == 2  # the banker's trap being designed out
    assert round(3.5) == 4
    # Non-tie values at 6 decimals quantize as expected.
    assert half_up(0.1234564, 6) == 0.123456
    assert half_up(0.1234567, 6) == 0.123457


def _write_embeddings(spark, tmp_path, rows):
    d = str(tmp_path / "fix")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


def test_psi_flags_planted_shift_and_not_same_distribution(spark, tmp_path):
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        vec_pc1_drift_psi,
    )

    def vec(base, i):
        v = [0.0] * 64
        v[0] = base + (i % 17) * 0.05  # spread along the dominant axis
        v[1] = (i % 5) * 0.01
        return v

    # Same distribution in both slices (vec_id%10>=8 is the "current"
    # slice): PSI ~ 0. The slices interleave the same generator.
    same = [(i, vec(0.0, i)) for i in range(300)]
    d = _write_embeddings(spark, tmp_path / "a", same)
    rows = vec_pc1_drift_psi(spark, d).collect()
    assert len(rows) == 10
    assert sum(r["n_ref"] for r in rows) == 240
    assert sum(r["n_cur"] for r in rows) == 60
    psi_same = sum(r["psi_contrib_ppm"] for r in rows) / 1e6
    assert psi_same < 0.1  # "no meaningful shift" band

    # Current slice shifted two spread-widths along the axis: every
    # current row lands in the top buckets -> PSI far past the 0.25
    # "significant shift" convention.
    shifted = [
        (i, vec(2.0 if i % 10 >= 8 else 0.0, i)) for i in range(300)
    ]
    d2 = _write_embeddings(spark, tmp_path / "b", shifted)
    rows2 = vec_pc1_drift_psi(spark, d2).collect()
    psi_shift = sum(r["psi_contrib_ppm"] for r in rows2) / 1e6
    assert psi_shift > 0.25
    assert psi_shift > 10 * psi_same


def test_cache_serves_and_is_keyed(spark):
    from dataengineer_job_scraper_etl_spark.operators.pca import (
        pca_top_components,
    )

    # NB: not an identity matrix — its (1,1,1,1) direction is a null
    # eigenvector equal to the power-iteration start vector, which now
    # (correctly) raises as degenerate; plant variance along x0 instead.
    mat = [[float(3 * i + j == 0) + i for j in range(DIM)] for i in range(DIM)]
    df = _emb(spark, mat)
    index_store.clear()
    first = pca_top_components(df, "embedding", DIM, 1)
    # Served from the store: same object for the same frame and params.
    assert pca_top_components(df, "embedding", DIM, 1) is first
    # A DIFFERENT frame is a different key: it is trained, not served
    # the first frame's components.
    other = _emb(spark, [row[::-1] for row in mat])
    again = pca_top_components(other, "embedding", DIM, 1)
    assert again is not first and again != first
    # A different component count or iteration budget is a DIFFERENT
    # slot too, and n_iter changes the quantized trajectory.
    assert pca_top_components(df, "embedding", DIM, 2) is not first
    fewer = pca_top_components(df, "embedding", DIM, 1, n_iter=1)
    assert fewer[2] != first[2]
    assert len(index_store._STORE) == 4
    index_store.clear()


def test_deflation_recovers_second_axis(spark):
    from dataengineer_job_scraper_etl_spark.operators.pca import (
        pca_top_components,
    )

    # Variance 100 on axis 2, variance ~25 on axis 1: PC1 -> axis 2,
    # PC2 (after deflation) -> axis 1, near-orthogonal loadings.
    mat = []
    for i in range(48):
        v = [0.0] * DIM
        v[2] = 10.0 * (1 if i % 2 else -1)
        v[1] = 5.0 * (1 if (i // 2) % 2 else -1)
        v[3] = 0.01 * (i % 3)
        mat.append(v)
    _, _, comps, lams = pca_top_components(
        _emb(spark, mat), "embedding", DIM, n_components=2
    )
    assert max(range(DIM), key=lambda j: abs(comps[0][j])) == 2
    assert max(range(DIM), key=lambda j: abs(comps[1][j])) == 1
    assert lams[0] > lams[1] > 10.0
    assert abs(sum(a * b for a, b in zip(comps[0], comps[1]))) < 1e-3


def test_trajectory_invariant_to_partitioning(spark):
    # The whole hash contract rests on this: the per-batch Gram
    # partials sum in an arbitrary order that CHANGES with the
    # partitioning, and the quantization half-step must absorb that
    # drift. Three very different partitionings must land on
    # bit-identical quantized means/loadings/eigenvalues.
    mat = [
        [math.sin(i * 2.3 + j * 0.7) * (1 + (i + j) % 4) for j in range(DIM)]
        for i in range(201)
    ]
    results = []
    for nparts in (1, 7, 32):
        df = _emb(spark, mat).repartition(nparts)
        results.append(pca_top_component(df, "embedding", DIM))
    assert results[0] == results[1] == results[2]


def test_half_up_rule_is_engine_shared_property():
    """The explicit floor(x*1e6 + 0.5)/1e6 rule must produce the SAME
    double in DuckDB as in Python for arbitrary inputs — this is the
    entire cross-engine hash contract of the PCA/PSI family, so pin it
    property-style (batched: one DuckDB query per example set)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=20, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1, max_size=200,
        )
    )
    def check(xs):
        con = duckdb.connect()
        got = con.execute(
            "SELECT floor(x * 1000000 + 0.5) / 1000000 "
            "FROM (SELECT unnest(?) AS x)",
            [xs],
        ).fetchall()
        for x, (y,) in zip(xs, got):
            assert half_up(x, 6) == y, (x, half_up(x, 6), y)

    check()


def test_zero_covariance_raises_instead_of_hash_mismatch(spark):
    """ADVICE r7: the SQL oracle replays all n_iter rounds and would
    divide by sqrt(0) on an all-identical-vectors corpus, so the
    engine must refuse the degenerate input loudly rather than
    silently keeping the previous iterate (a cross-engine hash
    mismatch waiting to happen)."""
    import pytest

    same = _emb(spark, [[1.0, 2.0, 3.0, 4.0]] * 12)
    with pytest.raises(ValueError, match="zero covariance"):
        pca_top_component(same, "embedding", DIM)
