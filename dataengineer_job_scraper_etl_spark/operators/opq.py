"""OPQ-style pre-rotation for product quantization (the FAISS
``OPQMatrix`` / ``IndexPreTransform`` shape, parametric variant).

Plain PQ (operators/similarity.py:pq_train) quantizes the vector in
its ORIGINAL coordinate split, so correlated dimensions land in
different subquantizers and per-subspace variance is whatever the
layout happens to give. Parametric OPQ (Ge et al., "Optimized Product
Quantization", CVPR 2013, §4 — the non-iterative variant FAISS calls
OPQMatrix with niter=0) fixes both with ONE orthogonal transform
learned from data:

1. eigendecompose the corpus second moment (decorrelates dimensions),
2. permute the eigenvectors by GREEDY EIGENVALUE ALLOCATION so every
   m-subspace gets a balanced variance product (the free-choice step
   plain PCA ordering gets wrong: concentrating variance into the
   first subspace starves the rest),
3. rotate corpus and queries by the resulting orthogonal matrix
   before pq_train / pq_encode / ADC. Distances are preserved
   (orthogonality), so the ADC shortlist contract and the exact
   cosine rerank are unchanged.

Scale shape: the second moment comes from operators/pca.py's
``gram_triplets`` — one corpus pass, d(d+1)/2 partials per Arrow
batch, a 64x64 driver-side collect (32 KiB) — and the rotation is
applied in a ``mapInPandas`` matmul (BLAS on dense Arrow batches, the
same "one place Python belongs" as the Gram stage; batch-linear, no
shuffle). Train-once / serve-many: rotations, codebooks and encoded
corpora live in ``operators/index_store`` under the corpus
fingerprint, like every other trained index artifact.

Honest measured claim (PLANS.md r8): on the driver fixture — random,
near-isotropic embeddings — OPQ at the serving operating point
(m=8, k_codes=64, shortlist=200, exact rerank) recovers at least as
many of the exact top-10 as plain PQ at every rung, measured
in-engine with the fixed allocation: 48/48 at sf0.001, 50/47 at
sf0.01, 44/39 at sf0.1, 31/27 at sf1 (opq/plain total hits over 5
queries). At starved budgets (k=16, shortlist=50) rotation does NOT
pay on isotropic data — the classic OPQ gain needs
correlated/anisotropic inputs and a near-high-rate code budget. Both
paths are pinned by recall-floor entries; the gain entry asserts
OPQ >= plain PQ in total recovered hits.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.operators import index_store
from dataengineer_job_scraper_etl_spark.operators.pca import (
    gram_triplets,
    half_up,
)
from dataengineer_job_scraper_etl_spark.operators.similarity import (
    pq_codebooks,
    pq_encode,
    pq_topk_adc,
    rerank_topk,
)
from dataengineer_job_scraper_etl_spark.session import ensure_min_parallelism


def _eig_alloc(eigvals: list[float], m: int) -> list[int]:
    """Greedy eigenvalue allocation (Ge et al. §4.2): assign eigendims
    (descending) to the m buckets, each capped at dim/m slots, always
    to the bucket with the smallest current log-variance product —
    balances per-subspace variance products, which high-rate
    quantization theory says equalizes per-subquantizer distortion."""
    d = len(eigvals)
    cap = d // m
    order = sorted(range(d), key=lambda i: (-eigvals[i], i))
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i in order:
        open_b = [b for b in range(m) if len(buckets[b]) < cap]
        # Prefer EMPTY buckets: an empty bucket's log-product (0.0) is
        # not comparable to a filled one's — with eigenvalues < 1 every
        # assignment lowers a bucket's log, so a bare min-log rule
        # would pile the whole spectrum into one bucket (the sorted
        # contiguous split, i.e. no allocation at all). Emptiness
        # first gives each subspace one large eigendim, then the
        # smallest-product rule tops the weakest bucket up.
        j = min(open_b, key=lambda b: (len(buckets[b]) > 0, logs[b], b))
        buckets[j].append(i)
        logs[j] += math.log(max(eigvals[i], 1e-12))
    return [i for b in buckets for i in b]


def opq_train(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    round_decimals: int = 6,
) -> list[list[float]]:
    """Learn the OPQ rotation: ``dim`` output columns (each a
    dim-length unit vector), eigenvectors of the corpus second moment
    permuted by eigenvalue allocation. Output j of the rotated vector
    is dot(x, R[j]); subspace s spans outputs [s*dim/m, (s+1)*dim/m).

    Determinism: the second moment is quantized to ``round_decimals``
    BEFORE eigh (bit-stable input across partitionings — same margin
    analysis as pca_top_components), so the eigenbasis is a pure
    function of the quantized matrix; np.linalg.eigh is deterministic
    for a fixed input on a fixed BLAS build (the container pins one).
    Entries of R are half_up-quantized too, costing ~1e-6 orthogonality
    residual — immaterial for ANN, pinned by tests/test_opq.py.

    Stored in ``index_store`` under the corpus fingerprint and
    (vec_col, dim, m, round_decimals)."""
    if dim % m != 0:
        # fail BEFORE the corpus Gram pass; without this the greedy
        # allocation dies with an opaque "min() arg is an empty
        # sequence" after paying the full scan (ADVICE r8)
        raise ValueError(f"dim={dim} not divisible by m={m}")
    return index_store.get_or_train(
        "opq_rotation",
        index_store.fingerprint(corpus),
        (vec_col, dim, m, round_decimals),
        lambda: _train_rotation(corpus, vec_col, dim, m, round_decimals),
    )


def _train_rotation(
    corpus: DataFrame, vec_col: str, dim: int, m: int, dec: int
) -> list[list[float]]:
    import numpy as np

    rows = gram_triplets(corpus, vec_col, dim).collect()
    g = {(r["i"], r["j"]): r["g"] for r in rows}
    n = int(g[(-1, -1)])
    mom = np.array(
        [
            [
                half_up(
                    g[(min(i, j) + 1, max(i, j) + 1)] / n, dec
                )
                for j in range(dim)
            ]
            for i in range(dim)
        ]
    )
    eigvals, eigvecs = np.linalg.eigh(mom)
    perm = _eig_alloc([float(x) for x in eigvals], m)
    # eigh returns ascending eigenvalues; _eig_alloc indexes them as
    # given, so pass the raw list and let it sort.
    return [
        [half_up(float(eigvecs[r, c]), dec) for r in range(dim)]
        for c in perm
    ]


def opq_rotate(
    df: DataFrame,
    rotation: list[list[float]],
    vec_col: str,
    out_col: str,
) -> DataFrame:
    """Append ``out_col`` = rotation @ vec (array<double>): a
    mapInPandas dense matmul — Arrow-batched BLAS, batch-linear cost,
    no shuffle; the original column is preserved for the exact
    rerank."""
    import numpy as np

    R = np.array(rotation, dtype=np.float64)  # (dim_out, dim_in)

    def rot(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            pdf[out_col] = list(X @ R.T)
            yield pdf

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StructField,
        StructType,
    )

    # NB: StructType.add mutates in place — and df.schema is cached on
    # the DataFrame, so .add on it would corrupt df.columns.
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()), True)]
    )
    return df.mapInPandas(rot, schema)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
    m: int = 8,
    k_codes: int = 64,
    n_iter: int = 2,
    shortlist: int = 200,
    seed: int = 42,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """Whole-corpus PQ ADC shortlist + exact cosine rerank — the
    IVF-free serving path (what FAISS calls IndexPQ, or
    IndexPreTransform(OPQMatrix, IndexPQ) when ``rotation`` is set).
    Shares ivfpq_topk's parameters and rerank contract so the plain
    and OPQ paths differ ONLY by the orthogonal pre-transform —
    the controlled comparison ann_opq_vs_pq_gain pins.

    Codebooks and the ENCODED corpus (FAISS add() output) are index
    artifacts stored under the corpus fingerprint (plus the rotation,
    when set), so repeated calls measure the serve path — query
    rotate + ADC + rerank — not a per-call retrain and re-encode."""
    fp = index_store.fingerprint(corpus)
    corpus = ensure_min_parallelism(corpus).localCheckpoint(eager=False)
    code_col, qcode_col = vec_col, qvec_col
    cc, qq = corpus, queries
    rot_key = None
    if rotation is not None:
        code_col, qcode_col = "__rot", "__qrot"
        cc = opq_rotate(corpus, rotation, vec_col, code_col)
        qq = opq_rotate(queries, rotation, qvec_col, qcode_col)
        rot_key = (vec_col, tuple(map(tuple, rotation)))
    books = pq_codebooks(
        fp,
        ensure_min_parallelism(cc.select(code_col)).localCheckpoint(
            eager=False
        ),
        code_col, dim, m, k_codes, n_iter, seed, rot_key,
    )
    coded = index_store.get_or_train(
        "pq_coded",
        fp,
        (id_col, code_col, dim, m, k_codes, n_iter, seed, rot_key),
        lambda: pq_encode(cc, books, vec_col=code_col)
        .select(id_col, "pq_codes")
        .localCheckpoint(eager=False),
    )
    short = pq_topk_adc(
        coded,
        qq.select(qid_col, F.col(qcode_col).alias(qcode_col)),
        books,
        id_col=id_col,
        qid_col=qid_col,
        qvec_col=qcode_col,
        k=shortlist,
    ).select(qid_col, id_col)
    # exact rerank on the ORIGINAL vectors (rotation preserves the
    # metric, but reranking raw keeps the two paths' rerank identical)
    return rerank_topk(
        short, corpus, queries, id_col, vec_col, qid_col, qvec_col, k
    )
