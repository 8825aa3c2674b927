"""Topic-balanced sampling (queries/topicsample.py): per-topic quota
semantics, the map-side-pruned quota window, and composition with the
hashed-TF k-means stratum source."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import all_queries
from dataengineer_job_scraper_etl_spark.queries.topicsample import (
    _QUOTA,
    topic_balanced_quota,
)


def test_per_topic_counts_hit_quota_or_stratum_size(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.topics import (
        docs_hashtf_kmeans_topics,
    )

    strata = {
        r.topic: r.n
        for r in docs_hashtf_kmeans_topics(spark, sf_dir)
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = {
        r.topic: r.n
        for r in all_queries()["docs_topic_balanced_sample"]
        .spark_fn(spark, sf_dir)
        .groupBy("topic")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {t: min(_QUOTA, n) for t, n in strata.items()}


def test_sample_rank_is_dense_from_one(spark, sf_dir):
    out = (
        all_queries()["docs_topic_balanced_sample"]
        .spark_fn(spark, sf_dir)
        .groupBy("topic")
        .agg(
            F.min("sample_rank").alias("lo"),
            F.max("sample_rank").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    for r in out:
        assert (r.lo, r.hi) == (1, r.n)
        assert r.hi <= _QUOTA


def test_quota_under_skew(spark):
    """A SKEWED planted stratum set: one 500-doc topic (far above the
    quota) and one 5-doc topic (below it — nothing may drop). Each
    topic keeps its first ``min(quota, n)`` docs by (md5 digits 17-20,
    doc_id), ranked densely from 1."""
    assigned = spark.createDataFrame(
        [(i, 0) for i in range(500)] + [(1000 + i, 1) for i in range(5)],
        "doc_id long, topic long",
    )
    got = sorted(
        (r.topic, r.sample_rank, r.doc_id)
        for r in topic_balanced_quota(assigned).collect()
    )
    counts = {t: sum(1 for g in got if g[0] == t) for t in (0, 1)}
    assert counts == {0: _QUOTA, 1: 5}

    def key(i):
        return hashlib.md5(str(i).encode()).hexdigest()[16:20], i

    want = []
    for t, ids in ((0, range(500)), (1, range(1000, 1005))):
        ranked = sorted(ids, key=key)[:_QUOTA]
        want += [(t, r, i) for r, i in enumerate(ranked, start=1)]
    assert got == sorted(want)


def test_quota_is_pruned_below_the_topic_exchange(
    spark, sf_dir, topk_prune_problems
):
    """The quota is one window over topic: Catalyst's Partial
    WindowGroupLimit keeps each partition's top-quota per topic below
    the topic exchange, so no stratum reaches one task whole."""
    df = all_queries()["docs_topic_balanced_sample"].spark_fn(spark, sf_dir)
    assert not topk_prune_problems(df)
