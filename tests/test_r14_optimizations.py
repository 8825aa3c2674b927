"""Equivalence pins for the round-14 optimization rewrites.

Same discipline as tests/test_r13_optimizations.py: each rewrite must
be VALUE-IDENTICAL to the formulation it replaced, pinned here against
the ORIGINAL formulation inlined VERBATIM from the pre-r14 code —
including edge rows the fixtures may not exercise — so a future edit
that reintroduces a subtle difference fails with a readable diff, not
as an opaque oracle-hash mismatch three layers up.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.strings import ws_tokens
from dataengineer_job_scraper_etl_spark.queries.lm import (
    train_bigram_lm,
    transitions,
)

# Edge battery: empty text, whitespace runs, null, 1/2-token docs,
# repeated tokens (singleton contexts), duplicated docs (count > 1).
_EDGE_ROWS = [
    (1, "one two three four five"),
    (2, "a b"),
    (3, ""),
    (4, None),
    (5, "x  y \t z  w"),
    (6, "a a a a a"),
    (7, "solo"),
    (8, "  leading and trailing  "),
    (9, "a b"),  # duplicate doc: bigram counts must exceed 1
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(_EDGE_ROWS, "doc_id int, text string")


@pytest.fixture(scope="module")
def real_docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(300)
    )


def _train_bigram_lm_pre_r14(reference, text_col="text"):
    """Pre-r14 train_bigram_lm VERBATIM: two corpus-scale explode
    passes over the checkpointed tokenized reference — one for unigram
    counts, one for bigram transitions (the formulation the fused
    single-pass NULL-prev-headed groupBy replaced)."""
    ref_tok = reference.select(
        ws_tokens(F.col(text_col)).alias("t")
    ).localCheckpoint(eager=False)
    uni = (
        ref_tok.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("c_uni"))
    )
    stats = uni.agg(
        F.sum("c_uni").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    ref_tr = transitions(ref_tok, [])
    big = ref_tr.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).cast("double").alias("c_big")
    )
    ctx = big.groupBy("prev").agg(F.sum("c_big").alias("c_ctx"))
    probs = big.join(ctx, "prev").select(
        "prev", "cur", (F.col("c_big") / F.col("c_ctx")).alias("p_big")
    )
    return probs, uni, stats


def _rows(df, *key):
    return sorted(
        tuple(r) for r in df.select(*df.columns).collect()
    ) if not key else sorted(tuple(r) for r in df.collect())


def _assert_model_equal(old_model, new_model):
    """probs/uni/stats tables must match EXACTLY (counts are
    integer-exact doubles; p_big divides the same two values so it is
    bit-identical — no tolerance)."""
    for old, new in zip(old_model, new_model):
        o, n = _rows(old), _rows(new)
        assert o == n, f"model table diverged:\nold={o[:10]}\nnew={n[:10]}"


def test_fused_bigram_lm_training_matches_original_edges(edge_docs):
    _assert_model_equal(
        _train_bigram_lm_pre_r14(edge_docs),
        train_bigram_lm(edge_docs),
    )


def test_fused_bigram_lm_training_matches_original_corpus(real_docs):
    _assert_model_equal(
        _train_bigram_lm_pre_r14(real_docs),
        train_bigram_lm(real_docs),
    )


def test_fused_bigram_lm_training_empty_reference(spark):
    empty = spark.createDataFrame([], "doc_id int, text string")
    old = _train_bigram_lm_pre_r14(empty)
    new = train_bigram_lm(empty)
    # probs/uni empty on both; stats must agree on the degenerate
    # (n=NULL, v=0) row that interp_prob's coalesce contract documents
    assert _rows(old[0]) == _rows(new[0]) == []
    assert _rows(old[1]) == _rows(new[1]) == []
    assert _rows(old[2]) == _rows(new[2])


def _connected_components_pre_r14(edges, src="src", dst="dst", max_iter=10):
    """Pre-r14 connected_components VERBATIM: identity-label init +
    a full neighbor round 1 (the formulation the fused
    groupBy-least init replaced)."""
    from dataengineer_job_scraper_etl_spark.operators.components import (
        _PLAIN_ROUNDS,
    )

    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    doubling = False
    for rnd in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("nbr_min", F.col("component")),
                ).alias("c1"),
                F.col("component").alias("c_prev"),
            )
            .localCheckpoint(eager=False)
        )
        if doubling:
            ptr = stepped.select(
                F.col("node").alias("p_node"), F.col("c1").alias("p_c")
            )
            new_labels = (
                stepped.join(ptr, stepped["c1"] == ptr["p_node"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("c1"), F.coalesce("p_c", F.col("c1"))
                    ).alias("component"),
                    (
                        F.least(F.col("c1"), F.coalesce("p_c", F.col("c1")))
                        != F.col("c_prev")
                    ).alias("__changed"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            new_labels = stepped.select(
                "node",
                F.col("c1").alias("component"),
                (F.col("c1") != F.col("c_prev")).alias("__changed"),
            )
        changed = new_labels.filter(F.col("__changed")).limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            return labels
        if rnd + 1 >= _PLAIN_ROUNDS:
            doubling = True
    raise RuntimeError("did not converge")


_CC_GRAPHS = {
    "single_edge": [(1, 2)],
    "self_loop_only": [(3, 3)],
    "clique": [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)],
    "chain_12": [(i, i + 1) for i in range(12)],
    "two_components": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
    "star": [(5, i) for i in range(6, 12)],
    "dup_edges": [(1, 2), (2, 1), (1, 2)],
}


@pytest.mark.parametrize("name", sorted(_CC_GRAPHS))
def test_cc_fused_init_matches_original(spark, name):
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame(_CC_GRAPHS[name], "src long, dst long")
    old = sorted(
        tuple(r)
        for r in _connected_components_pre_r14(edges).collect()
    )
    new = sorted(tuple(r) for r in connected_components(edges).collect())
    assert new == old


def test_cc_fused_init_empty_and_budget(spark):
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).collect() == []
    # budget parity: a 12-node chain converges within the default
    # budget (doubling) but must still RAISE when max_iter is too
    # small for its propagation distance — same contract as pre-r14
    chain = spark.createDataFrame(_CC_GRAPHS["chain_12"], "src long, dst long")
    with pytest.raises(RuntimeError):
        connected_components(chain, max_iter=2)
    with pytest.raises(RuntimeError):
        _connected_components_pre_r14(chain, max_iter=2)


@pytest.mark.parametrize("n_buckets", [4, 10])
def test_rank_exact_edges_n_matches_count_plus_edges(spark, n_buckets):
    """The fused one-action (edges, n) helper must return exactly the
    edges of the original count()-then-edges pair, including under
    heavy ties (the integer form cum*b >= k*n must keep the ceil-rule
    tie semantics) and when n is not divisible by n_buckets."""
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        rank_exact_edges,
        rank_exact_edges_n,
    )

    vals = [1.0] * 7 + [2.0] * 3 + [5.5] * 12 + [7.25] * 1 + [9.0] * 4
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id int, pc1 double"
    )
    n = df.count()
    old = rank_exact_edges(df, "pc1", n_buckets, n)
    new_edges, new_n = rank_exact_edges_n(df, "pc1", n_buckets)
    assert new_n == n
    assert new_edges == old


def test_fused_bigram_lm_scoring_unchanged(spark, edge_docs):
    """End-to-end: bigram_neg_logprob over the edge battery must score
    identically with the fused training (covers the join keys, the
    OOV floor, and the <2-token drop rule)."""
    from dataengineer_job_scraper_etl_spark.queries.lm import (
        bigram_neg_logprob,
    )

    ref = edge_docs.filter(F.col("doc_id") % 2 == 0)
    new = bigram_neg_logprob(edge_docs, reference=ref)
    old_model = _train_bigram_lm_pre_r14(ref)
    old = bigram_neg_logprob(edge_docs, reference=ref, model=old_model)
    assert _rows(new) == _rows(old)


# ---------------------------------------------------------------------------
# Single-F.expr rewrites of the wide Column-API builders (r14 session 2):
# pc1_score_expr / bucket_expr / the k-means per-dim mean aggregate were
# rebuilt as one SQL string each (the Column-API loops issued hundreds of
# py4j roundtrips per call — driver time on par with the entries' job
# time). The SQL form must be VALUE-identical, not just close: the
# monitor/kmeans trajectories are hash-pinned by the oracle.


def _pc1_score_expr_pre_r14(m, v):
    """Pre-r14 pc1_score_expr VERBATIM (Column-API reduce)."""
    from functools import reduce
    from operator import add

    from dataengineer_job_scraper_etl_spark.queries.pca import _Q, DIM

    emb = F.col("embedding")
    raw = reduce(
        add,
        [
            (emb[j].cast("double") - F.lit(m[j])) * F.lit(v[j])
            for j in range(DIM)
        ],
    )
    return F.floor(raw * F.lit(float(_Q)) + F.lit(0.5)) / F.lit(float(_Q))


def _bucket_expr_pre_r14(edges, col="pc1"):
    """Pre-r14 bucket_expr VERBATIM (when/otherwise reduce)."""
    from functools import reduce
    from operator import add

    return reduce(
        add,
        [F.when(F.col(col) > F.lit(ek), 1).otherwise(0) for ek in edges],
    ) + F.lit(1)


def test_pc1_score_and_bucket_expr_match_column_api(spark, sf_dir):
    """The SQL-string pc1_score_expr / bucket_expr must score and
    bucket the real embedding fixture bit-identically to the verbatim
    Column-API formulations (floats ride as repr literals — exact
    Double.parseDouble round-trip)."""
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        bucket_expr,
        frozen_pc1_monitor,
        pc1_score_expr,
    )

    m, v, edges, _ = frozen_pc1_monitor(spark, sf_dir)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    both = e.select(
        "vec_id",
        pc1_score_expr(m, v).alias("new_pc1"),
        _pc1_score_expr_pre_r14(m, v).alias("old_pc1"),
    ).select(
        "vec_id",
        "new_pc1",
        "old_pc1",
        bucket_expr(edges, "new_pc1").alias("new_b"),
        _bucket_expr_pre_r14(edges, "old_pc1").alias("old_b"),
    )
    bad = both.filter(
        (F.col("new_pc1") != F.col("old_pc1"))
        | (F.col("new_b") != F.col("old_b"))
    ).count()
    assert bad == 0
    # NULL score: both formulations must land in bucket 1
    nulls = spark.sql("SELECT CAST(NULL AS DOUBLE) AS pc1").select(
        bucket_expr(edges).alias("new_b"),
        _bucket_expr_pre_r14(edges).alias("old_b"),
    ).collect()[0]
    assert nulls["new_b"] == nulls["old_b"] == 1


def test_kmeans_expr_agg_matches_column_api(spark, sf_dir):
    """_kmeans_rounds' F.expr per-dim means must train the identical
    centroid trajectory as the verbatim Column-API aggregate (same
    doubles in, same partial-agg shape, 6-decimal quantization)."""
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        as_double,
    )
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        _kmeans_rounds,
        assign_to_centroid,
        kmeans_corpus_init,
    )

    e = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(300)
    )
    dim, k = 64, 4
    cents = kmeans_corpus_init(e, "vec_id", "embedding", dim, k, n_iter=2)

    # verbatim pre-r14 rounds (Column-API wide agg)
    init = (
        e.select(F.col("vec_id"), as_double(F.col("embedding")).alias("v"))
        .orderBy(F.col("vec_id"))
        .limit(k)
        .collect()
    )
    old_cents = [(cid, list(r["v"])) for cid, r in enumerate(init)]
    staged = e.localCheckpoint(eager=False)
    for _ in range(2):
        assigned = assign_to_centroid(staged, old_cents, "embedding")
        vec = as_double(F.col("embedding"))
        new = assigned.groupBy("cluster_id").agg(
            *[F.avg(F.element_at(vec, i + 1)).alias(f"m{i}") for i in range(dim)]
        )
        got = {
            r["cluster_id"]: [round(r[f"m{i}"], 6) for i in range(dim)]
            for r in new.collect()
        }
        old_cents = [(cid, got.get(cid, v0)) for cid, v0 in old_cents]
    assert cents == old_cents
