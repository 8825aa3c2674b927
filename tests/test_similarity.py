"""ANN operators: brute-force top-k agrees with a NumPy oracle;
LSH/IVF find planted near-neighbors (recall bound) and never return
rank > k; kmeans-lite is deterministic.
"""

from __future__ import annotations

import ast
import re

import numpy as np
import pytest

from dataengineer_job_scraper_etl_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    kmeans_lite,
    rhp_lsh_topk,
)

DIM = 16


def _clustered_vectors(n=120, n_clusters=4, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 5.0, (n_clusters, DIM))
    vecs = []
    for i in range(n):
        c = centers[i % n_clusters]
        vecs.append((i, (c + rng.normal(0, 0.3, DIM)).astype(float).tolist()))
    return vecs


def _frames(spark, vecs, n_queries=3):
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(i, v) for i, v in vecs[:n_queries]], "qid long, qe array<double>"
    )
    return corpus, queries


def _numpy_topk(vecs, qid, k):
    mat = np.array([v for _, v in vecs])
    q = mat[qid]
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(vecs)), key=lambda i: (-sims[i], i))
    return [i for i in order[:k]]


def test_brute_force_topk_matches_numpy(spark):
    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    got = brute_force_topk(corpus, queries, k=5).collect()
    by_q: dict = {}
    for r in sorted(got, key=lambda r: (r["qid"], r["rnk"])):
        by_q.setdefault(r["qid"], []).append(r["vec_id"])
    for qid in by_q:
        assert by_q[qid] == _numpy_topk(vecs, qid, 5)


def test_rhp_lsh_recall_on_clusters(spark):
    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    exact = {q: set(_numpy_topk(vecs, q, 5)) for q in range(3)}
    got = rhp_lsh_topk(corpus, queries, dim=DIM, k=5).collect()
    assert all(r["rnk"] <= 5 for r in got)
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    # with tight clusters, bucket collisions must recover most of the
    # true top-5 (same-cluster vectors hash to the same sign pattern)
    recalls = [len(by_q.get(q, set()) & exact[q]) / 5 for q in range(3)]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_recall_on_clusters(spark):
    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    exact = {q: set(_numpy_topk(vecs, q, 5)) for q in range(3)}
    got = ivf_topk(corpus, queries, dim=DIM, k=5, n_clusters=4, n_probe=2).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    recalls = [len(by_q.get(q, set()) & exact[q]) / 5 for q in range(3)]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_centroid_cache_hit_is_identical(spark):
    """Train-once/probe-many: a second call on the same corpus must
    skip the Lloyd rounds AND return bit-identical results (training
    is seeded-deterministic, so serving stored centroids cannot change
    any answer)."""
    from dataengineer_job_scraper_etl_spark.operators import (
        index_store,
        similarity,
    )

    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    index_store.clear()
    cold = ivf_topk(
        corpus, queries, dim=DIM, k=5, n_clusters=4, n_probe=2
    ).collect()
    assert len(index_store._STORE) == 1
    cached = next(iter(index_store._STORE.values()))
    # poison-pill the trainer: a store hit must never retrain
    orig = similarity._kmeans_rounds
    similarity._kmeans_rounds = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("cache hit retrained")
    )
    try:
        warm = ivf_topk(
            corpus, queries, dim=DIM, k=5, n_clusters=4, n_probe=2
        ).collect()
    finally:
        similarity._kmeans_rounds = orig
        index_store.clear()
    assert sorted(map(str, warm)) == sorted(map(str, cold))
    assert cached  # trained centroids were actually stored


def test_kmeans_lite_deterministic(spark):
    vecs = _clustered_vectors()
    corpus, _ = _frames(spark, vecs)
    a = kmeans_lite(corpus, "embedding", DIM, n_clusters=4, n_iter=2).collect()
    b = kmeans_lite(corpus, "embedding", DIM, n_clusters=4, n_iter=2).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def test_pq_encode_and_adc_topk(spark):
    """Product quantization: codebooks train deterministically, codes
    are valid, the relational ADC distance equals the NumPy lookup-table
    sum computed from the SAME codebooks and codes, and ADC top-k
    recovers most of the exact top-5 on clustered data."""
    from dataengineer_job_scraper_etl_spark.operators import index_store
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        pq_encode,
        pq_topk_adc,
        pq_train,
    )

    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    books = pq_train(corpus, "embedding", DIM, m=4, k=8, n_iter=2)
    index_store.clear()  # train twice, not a store hit vs itself
    books2 = pq_train(corpus, "embedding", DIM, m=4, k=8, n_iter=2)
    assert books2 is not books
    assert books == books2  # seeded training is deterministic
    assert len(books) == 4 and all(len(b) == 8 for b in books)

    coded = pq_encode(corpus, books)
    rows = {r["vec_id"]: list(r["pq_codes"]) for r in coded.collect()}
    assert all(
        len(c) == 4 and all(0 <= x < 8 for x in c) for c in rows.values()
    )

    got = pq_topk_adc(coded, queries, books, k=5).collect()
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)

    # exact ADC recomputation from the same artifacts, in NumPy
    d_sub = DIM // 4
    book_arr = {
        (j, code): np.array(sub)
        for j, book in enumerate(books)
        for code, sub in book
    }
    mat = {i: np.array(v) for i, v in vecs}
    for qid, qrows in by_q.items():
        q = mat[qid]
        for r in qrows:
            expect = sum(
                float(
                    np.sum(
                        (
                            q[j * d_sub:(j + 1) * d_sub]
                            - book_arr[(j, rows[r["vec_id"]][j])]
                        )
                        ** 2
                    )
                )
                for j in range(4)
            )
            assert r["adc_d2"] == pytest.approx(expect, rel=1e-9)

    # PQ is a COARSE quantizer: same-cluster vectors collapse to nearly
    # identical codes, so the contract is (a) ADC top-k stays inside
    # the query's true cluster, and (b) the real serving pattern —
    # ADC shortlist then exact rerank — recovers the exact top-5.
    for qid, qrows in by_q.items():
        assert all(r["vec_id"] % 4 == qid % 4 for r in qrows), qrows

    shortlist = pq_topk_adc(coded, queries, books, k=30).collect()
    short_ids: dict = {}
    for r in shortlist:
        short_ids.setdefault(r["qid"], set()).add(r["vec_id"])
    exact = {qn: set(_numpy_topk(vecs, qn, 5)) for qn in range(3)}
    recalls = [
        len(short_ids.get(qn, set()) & exact[qn]) / 5 for qn in range(3)
    ]
    assert sum(recalls) / len(recalls) >= 0.8


def test_ivfpq_topk_recall_after_rerank(spark):
    """The composed IVF-PQ serving plan (probe lists -> ADC shortlist
    -> exact rerank): recall vs exact cosine top-5 must match the
    plain-IVF floor — the PQ compression layer must not cost recall
    once the shortlist is reranked exactly."""
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    got = ivfpq_topk(
        corpus, queries, dim=DIM, k=5,
        n_clusters=4, n_probe=2, m=4, k_codes=8, shortlist=25,
    ).collect()
    assert all(r["rnk"] <= 5 for r in got)
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["qid"], set()).add(r["vec_id"])
    exact = {qn: set(_numpy_topk(vecs, qn, 5)) for qn in range(3)}
    recalls = [len(by_q.get(qn, set()) & exact[qn]) / 5 for qn in range(3)]
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivfpq_cache_hit_runs_zero_lloyd_rounds(spark):
    """Train-once/probe-many for IVF-PQ (round-4 gap: ivfpq_topk
    retrained coarse centroids + m codebooks per call): a second call
    on the same corpus must be served from the store and never invoke
    the trainer — and return bit-identical results (seeded
    determinism)."""
    from dataengineer_job_scraper_etl_spark.operators import (
        index_store,
        similarity,
    )
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)
    index_store.clear()
    kw = dict(
        dim=DIM, k=5, n_clusters=4, n_probe=2, m=4, k_codes=8,
        shortlist=10,
    )
    cold = ivfpq_topk(corpus, queries, **kw).collect()
    # centroids, codebooks and the encoded corpus, all under ONE
    # fingerprint (taken before the operator's own checkpoint)
    assert sorted(k[0] for k in index_store._STORE) == [
        "ivf_centroids", "ivfpq_coded", "pq_codebooks",
    ]
    assert len({k[2] for k in index_store._STORE}) == 1
    orig = similarity._kmeans_rounds
    orig_encode = similarity.pq_encode
    similarity._kmeans_rounds = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("cache hit retrained")
    )
    # the encoded corpus is an index artifact too (FAISS add()): a
    # warm call must not re-encode either
    similarity.pq_encode = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("cache hit re-encoded the corpus")
    )
    try:
        warm = ivfpq_topk(corpus, queries, **kw).collect()
    finally:
        similarity._kmeans_rounds = orig
        similarity.pq_encode = orig_encode
    assert sorted(map(str, warm)) == sorted(map(str, cold))
    # coarse centroids share plain IVF's store key: a warmed IVF-PQ
    # index also serves ivf_topk without retraining
    similarity._kmeans_rounds = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("ivf probe after ivfpq warm-up retrained")
    )
    try:
        ivf_topk(
            corpus, queries, dim=DIM, k=5, n_clusters=4, n_probe=2
        ).collect()
    finally:
        similarity._kmeans_rounds = orig
        index_store.clear()


def test_embedding_neardup_lsh_pairs_finds_parallel_copies(spark):
    """SemDeDup-style embedding near-dup: a positively-scaled copy has
    identical sign bits in every table (collision guaranteed, cosine
    exactly ~1), random other vectors stay below threshold."""
    import random as _r
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        embedding_neardup_lsh_pairs,
    )

    rng = _r.Random(7)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(DIM)]) for i in range(30)]
    vecs += [(100 + i, [1.5 * x for x in vecs[i][1]]) for i in range(5)]
    corpus = spark.createDataFrame(
        vecs, f"vec_id long, embedding array<double>"
    )
    pairs = embedding_neardup_lsh_pairs(
        corpus, dim=DIM, threshold=0.99
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert {(i, 100 + i) for i in range(5)} <= got
    # nothing else at 0.99 among 30 random gaussians
    assert all(a % 100 == b % 100 for a, b in got)


def test_rhp_lsh_rejects_unimplemented_multiprobe_depth(spark):
    """multiprobe depths > 1 are not implemented; silently delivering
    distance-1 recall for a deeper request was the trap."""
    import pytest
    from pyspark.sql import functions as F

    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        rhp_lsh_topk,
    )

    e = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("embedding"),
    )
    q = e.select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    with pytest.raises(ValueError, match="multiprobe"):
        rhp_lsh_topk(e, q, dim=2, k=1, multiprobe=2)


def test_ann_serving_contract_flags_each_violation(spark):
    """The r13 ANN serving contract (VERDICT r12 ask #2) must be
    FALSIFIABLE flag by flag: starting from the exact top-10 (every
    flag TRUE), each corruption — rank-order swap, dishonest score,
    duplicated result id, off-corpus result set — flips exactly its
    own flag for the corrupted query."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        dot,
        l2_norm,
    )
    from dataengineer_job_scraper_etl_spark.queries.neardup import (
        _ann_serving_contract,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import (
        vec_cosine_topk,
    )

    sf_dir = "/root/testdata/sf0.001"
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corp = e.select("vec_id", vd.alias("__cv"))
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), vd.alias("__qv")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("__cos"), F.asc("vec_id"))
    base = (
        vec_cosine_topk(spark, sf_dir)
        .select("qid", "vec_id")
        .join(corp, "vec_id")
        .join(qv, "qid")
        .select(
            "qid",
            "vec_id",
            (
                dot(F.col("__cv"), F.col("__qv"))
                / (l2_norm(F.col("__cv")) * l2_norm(F.col("__qv")))
            ).alias("__cos"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .select("qid", "vec_id", F.col("__cos").alias("cos_sim"), "rnk")
        .localCheckpoint(eager=False)
    )

    def flags(ann, qid):
        rows = {
            r["qid"]: r
            for r in _ann_serving_contract(spark, sf_dir, ann, 2).collect()
        }
        return rows[qid]

    clean = flags(base, 0)
    assert (
        clean["n_results"] == 10
        and clean["n_distinct_ids"] == 10
        and clean["rnk_contiguous"]
        and clean["order_ok"]
        and clean["scores_exact"]
        and clean["recall_ok"]
    )

    # (a) swap ranks 1 and 2 for qid 0 -> order_ok flips there only
    swapped = base.withColumn(
        "rnk",
        F.when(
            (F.col("qid") == 0) & (F.col("rnk") == 1), F.lit(2)
        ).when(
            (F.col("qid") == 0) & (F.col("rnk") == 2), F.lit(1)
        ).otherwise(F.col("rnk")),
    )
    assert not flags(swapped, 0)["order_ok"]
    assert flags(swapped, 1)["order_ok"]

    # (b) dishonest score -> scores_exact flips (order left intact by
    # bumping rank 1, keeping it the max)
    dishonest = base.withColumn(
        "cos_sim",
        F.when(
            (F.col("qid") == 1) & (F.col("rnk") == 1),
            F.col("cos_sim") + 0.01,
        ).otherwise(F.col("cos_sim")),
    )
    assert not flags(dishonest, 1)["scores_exact"]
    assert flags(dishonest, 0)["scores_exact"]

    # (c) duplicate result id -> n_distinct_ids drops
    rnk1 = base.filter((F.col("qid") == 2) & (F.col("rnk") == 1)).select(
        "qid", "vec_id", "cos_sim"
    )
    dup = base.filter(
        ~((F.col("qid") == 2) & (F.col("rnk") == 10))
    ).unionByName(rnk1.withColumn("rnk", F.lit(10)))
    got = flags(dup, 2)
    assert got["n_results"] == 10 and got["n_distinct_ids"] == 9

    # (d) replace qid 3's results with ranks 11-20 of the exact order
    # (valid ids, honest scores, proper ranks — ONLY recall fails)
    w_all = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    deep = (
        qv.join(corp, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                dot(F.col("__cv"), F.col("__qv"))
                / (l2_norm(F.col("__cv")) * l2_norm(F.col("__qv")))
            ).alias("cos_sim"),
        )
        .withColumn("__r", F.row_number().over(w_all))
        .filter((F.col("qid") == 3) & F.col("__r").between(11, 20))
        .select("qid", "vec_id", "cos_sim", (F.col("__r") - 10).alias("rnk"))
    )
    shifted = base.filter(F.col("qid") != 3).unionByName(deep)
    got = flags(shifted, 3)
    assert not got["recall_ok"]
    assert got["order_ok"] and got["scores_exact"] and got["rnk_contiguous"]


def test_full_probe_reduces_ivf_paths_to_their_list_free_twins(spark):
    """Probing every list leaves the shared probe stage nothing to
    prune: IVF must then rank exactly like brute force, and IVF-PQ
    exactly like whole-corpus PQ (same codebooks, ADC and rerank)."""
    from dataengineer_job_scraper_etl_spark.operators.opq import (
        pq_rerank_topk,
    )
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    vecs = _clustered_vectors()
    corpus, queries = _frames(spark, vecs)

    def ranked(df):
        return sorted((r["qid"], r["vec_id"], r["rnk"]) for r in df.collect())

    assert ranked(
        ivf_topk(corpus, queries, dim=DIM, k=5, n_clusters=4, n_probe=4)
    ) == ranked(brute_force_topk(corpus, queries, k=5))
    pq = dict(dim=DIM, k=5, m=4, k_codes=8, shortlist=25, seed=42)
    assert ranked(
        ivfpq_topk(corpus, queries, n_clusters=4, n_probe=4, **pq)
    ) == ranked(pq_rerank_topk(corpus, queries, **pq))


def _is_sq_diff_zip(n) -> bool:
    """``zip_with(a, b, lambda x, y: (x - y) * (x - y))``."""
    if not (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "zip_with"
        and len(n.args) == 3
        and isinstance(n.args[2], ast.Lambda)
    ):
        return False
    body = n.args[2].body
    return (
        isinstance(body, ast.BinOp)
        and isinstance(body.op, ast.Mult)
        and isinstance(body.left, ast.BinOp)
        and isinstance(body.left.op, ast.Sub)
        and ast.dump(body.left) == ast.dump(body.right)
    )


def _is_double_cast_transform(n) -> bool:
    """``transform(col, lambda x: x.cast("double"))``."""
    if not (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "transform"
        and len(n.args) == 2
        and isinstance(n.args[1], ast.Lambda)
    ):
        return False
    body = n.args[1].body
    return (
        isinstance(body, ast.Call)
        and isinstance(body.func, ast.Attribute)
        and body.func.attr == "cast"
        and isinstance(body.func.value, ast.Name)
        and body.func.value.id == n.args[1].args.args[0].arg
        and [getattr(a, "value", None) for a in body.args] == ["double"]
    )


def _is_literal_centroids(n) -> bool:
    """A SQL literal of (cluster_id, centroid) structs."""
    return (
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and re.search(r"'cluster_id'.*'centroid'", n.value) is not None
    )


@pytest.mark.parametrize(
    "spelling",
    [_is_sq_diff_zip, _is_double_cast_transform, _is_literal_centroids],
    ids=["sq_diff_zip", "double_cast", "literal_centroids"],
)
def test_vector_math_is_spelled_only_in_vector_math(package_sites, spelling):
    """No package source outside functions/vector_math.py spells these;
    every site calls as_double / sq_dist / ranked_centroids."""
    found = {
        s for s in package_sites(spelling)
        if s[0] != "functions/vector_math.py"
    }
    assert found == set()


def test_no_module_imports_private_similarity_names(package_sites):
    """The ANN stages other modules compose are public; the operator's
    underscore names stay its own."""
    assert package_sites(
        lambda n: isinstance(n, ast.ImportFrom)
        and (n.module or "").endswith("operators.similarity")
        and any(a.name.startswith("_") for a in n.names)
    ) == set()
