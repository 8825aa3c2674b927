"""Partition-count invariance: the catalog's answers must not depend
on HOW the work is parallelized — the property that makes a result
computed on local[4] the same result a 1000-executor cluster returns.

The oracle harness (tools/check.py, the driver) catches
nondeterminism only at one fixed partitioning; this test re-executes a
representative slice of the catalog under a different
``spark.sql.shuffle.partitions`` (a RUNTIME conf, so the same session
re-plans every shuffle width) and requires bit-identical sorted
results. The slice is chosen for order-sensitivity risk — global
top-k with tie-breaks, windows, hash sampling, floating-point aggs,
iterative dedup clustering, ANN probing — i.e. exactly the shapes
where a sloppy formulation (limit without a total order, float
summation leaking into emitted values) would diverge across
partitionings."""

from __future__ import annotations

import math

import pytest

# order-sensitive shapes; each must carry its own total order / rounding
ENTRIES = [
    "topk_expensive_orders",            # global top-k, tie-break
    "window_top3_orders_per_customer",  # per-key rank
    "docs_weighted_sample_es",          # hashed-key top-k sample
    "docs_mixture_sample_contract",     # md5-threshold sampling + anti-join
    "docs_quality_budget_selection",    # running-sum cutoff per source
    "docs_dedup_clusters",              # iterative label propagation
    "tpch_q1_pricing_summary",          # rounded float aggregates
    "text_bpe_top_pairs",               # weighted pair argmax order
    "bloom_semi_prune_orders",          # driver-built broadcast bitmap
    "vec_cosine_topk",                  # float similarity top-k
    # round-7 additions with order-sensitivity risk (the PCA training
    # itself is separately proven partition-invariant in
    # tests/test_pca.py::test_trajectory_invariant_to_partitioning —
    # entry-level reruns hit the train-once cache by design):
    "vec_hard_negative_mining",         # quantized-sim rank, pair join
    "vec_pca_grid_sample",              # rank-exact edges + hash-rank
    "events_value_ks_drift",            # cross-multiplied CDF max
    "events_time_weighted_value",       # window lead + integer TWAP
    # round-12 additions with order-sensitivity risk:
    "docs_topic_balanced_sample",       # per-topic hash-rank quota
    "events_user_markov2_anomaly",      # lag windows + ppm back-off
    # round-13 additions with order-sensitivity risk:
    "neardup_minhash_lsh",              # banding candidates + exact ppm
    "lineitem_copurchase_lift_salted",  # triangle replication pair join
    "docs_exact_substring_verified",    # two gaps-and-islands passes
    "ann_ivfpq_topk",                   # probe + ADC + rerank contract
    # round-13 session-2 additions (both top-k over float scores):
    "ann_dim_truncation_tradeoff",      # sliced-cosine ladder top-k
    "retrieval_mlt_eval_metrics",       # integer-DCG over ranked join
    "vec_knn_clustering_coefficient",   # kNN edge top-k + wedge joins
    "events_cuped_ab_adjustment",       # float chain off integer moments
]


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _fingerprint(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(_norm(r[c]) for c in cols) for r in df.collect()
    )


@pytest.mark.parametrize("name", ENTRIES)
def test_result_is_invariant_to_shuffle_partitioning(spark, sf_dir, name):
    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    q = all_queries()[name]
    key = "spark.sql.shuffle.partitions"
    base = spark.conf.get(key)
    try:
        a = _fingerprint(q.spark_fn(spark, sf_dir))
        spark.conf.set(key, "13")
        b = _fingerprint(q.spark_fn(spark, sf_dir))
    finally:
        spark.conf.set(key, base)
    assert a == b, f"{name}: result depends on shuffle partitioning"
