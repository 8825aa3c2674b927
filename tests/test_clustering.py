"""k-means (data-derived init) + SemDeDup operator tests.

The oracle entries (queries/clustering.py) pin cross-engine hash
equality; these tests pin the OPERATOR contracts the oracle can't see:
planted-duplicate pruning, determinism across invocations, the
lowest-id-anchor rule, empty-cluster centroid carry-over, and the plan
shape (the pair pass must be an equi-join on cluster_id — never a
cartesian over the corpus).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.operators.similarity import (
    assign_to_centroid,
    kmeans_corpus_init,
    semdedup_centroid_survivors,
    semdedup_incremental_status,
    semdedup_survivors,
)

DIM = 4


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def planted(spark):
    """Two tight groups far apart, plus an exact duplicate pair inside
    group A (ids 3 and 7) and a near-duplicate pair in group B (ids 12
    and 15)."""
    a = [1.0, 0.0, 0.0, 0.0]
    b = [0.0, 0.0, 1.0, 0.0]
    rows = [
        (3, a),
        (7, a),  # exact dup of 3 (cos = 1.0) -> dropped (higher id)
        (5, [0.9, 0.1, 0.0, 0.0]),  # cos(5,3) ~ 0.994 < tau -> kept
        (12, b),
        (15, [0.02, 0.0, 0.999, 0.0]),  # cos ~ 0.9996 > tau -> dropped
        (20, [0.0, 1.0, 0.0, 0.0]),  # isolated direction
    ]
    return _emb(spark, rows)


def test_semdedup_drops_higher_id_of_planted_dups(planted):
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup_survivors(
            planted, "vec_id", "embedding", DIM, n_clusters=2, tau=0.995
        ).collect()
    }
    assert len(out) == 6  # one row per input, kept flag either way
    assert out[3] == 1 and out[7] == 0  # lowest id anchors the group
    assert out[12] == 1 and out[15] == 0
    assert out[5] == 1 and out[20] == 1  # below tau / isolated survive


def test_semdedup_same_cluster_only(spark):
    """A near-dup pair STRADDLING the cluster boundary is NOT pruned
    (the documented SemDeDup miss mode): ids 5 and 6 have cosine
    ~0.996 > tau but sit just either side of the A/B boundary, so each
    lands in its own cluster and both survive."""
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),  # init seed / anchor A
            (1, [0.0, 1.0, 0.0, 0.0]),  # init seed / anchor B
            (2, [0.95, 0.05, 0.0, 0.0]),  # anchor A
            (3, [0.05, 0.95, 0.0, 0.0]),  # anchor B
            (5, [0.74, 0.67, 0.0, 0.0]),  # boundary, A side
            (6, [0.67, 0.74, 0.0, 0.0]),  # boundary, B side
        ],
    )
    res = semdedup_survivors(
        df, "vec_id", "embedding", DIM, n_clusters=2, tau=0.9
    ).collect()
    out = {r["vec_id"]: r for r in res}
    assert out[5]["cluster_id"] != out[6]["cluster_id"]  # straddle
    assert out[5]["kept"] == 1 and out[6]["kept"] == 1  # miss mode
    # while genuinely intra-cluster near-dups were pruned as usual
    assert out[2]["kept"] == 0 and out[3]["kept"] == 0


def test_kmeans_corpus_init_deterministic(planted):
    c1 = kmeans_corpus_init(planted, "vec_id", "embedding", DIM, 2)
    c2 = kmeans_corpus_init(planted, "vec_id", "embedding", DIM, 2)
    assert c1 == c2
    assert [cid for cid, _ in c1] == [0, 1]
    assert all(len(v) == DIM for _, v in c1)
    # quantization contract: every coordinate is round(x, 6)-stable
    assert all(x == round(x, 6) for _, v in c1 for x in v)


def test_kmeans_corpus_init_is_cache_free_frozen_callers_use_store(planted):
    """kmeans_corpus_init itself never memoizes (batch callers pay
    their own training); frozen-index callers wrap it in the store,
    where the same frame hits and clear() forces a retrain."""
    from dataengineer_job_scraper_etl_spark.operators import index_store

    d = kmeans_corpus_init(planted, "vec_id", "embedding", DIM, 2)
    e = kmeans_corpus_init(planted, "vec_id", "embedding", DIM, 2)
    assert d is not e and d == e

    def frozen():
        return index_store.get_or_train(
            "kmeans_corpus_init",
            index_store.fingerprint(planted),
            ("vec_id", "embedding", DIM, 2, 2),
            lambda: kmeans_corpus_init(planted, "vec_id", "embedding", DIM, 2),
        )

    index_store.clear()
    a = frozen()
    assert frozen() is a  # hit, not retrain
    index_store.clear()
    c = frozen()
    assert c is not a and c == a  # retrained to the same values
    index_store.clear()


def test_kmeans_empty_cluster_keeps_init_position(spark):
    """If a cluster loses all members in a round, its centroid must
    carry over (not NaN / not dropped): one far outlier seeds cluster
    1 but everything assigns to cluster 0's side after round 1."""
    df = _emb(
        spark,
        [
            (0, [0.0, 0.0, 0.0, 0.0]),
            (1, [10.0, 10.0, 10.0, 10.0]),
            (2, [0.1, 0.0, 0.0, 0.0]),
            (3, [0.0, 0.1, 0.0, 0.0]),
        ],
    )
    cents = kmeans_corpus_init(df, "vec_id", "embedding", DIM, 2, n_iter=3)
    assert len(cents) == 2
    assert all(all(x == x for x in v) for _, v in cents)  # no NaN
    # every row still assignable
    assert assign_to_centroid(df, cents, "embedding").count() == 4


def test_semdedup_pair_pass_is_equi_join_not_cartesian(planted):
    plan = semdedup_survivors(
        planted, "vec_id", "embedding", DIM, n_clusters=2, tau=0.9
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_centroid_keeps_farthest_member(spark):
    """Paper rule: a 3-member near-dup component keeps the member
    FARTHEST from its cluster centroid. Group centroid ~[0.93, 0.07]:
    id 6 ([0.8, 0.2]) is clearly the outlier -> kept; ids 0, 4
    dropped."""
    df = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),  # init seed, cluster A
            (1, [0.0, 0.0, 1.0, 0.0]),  # init seed, cluster B
            (4, [0.99, 0.01, 0.0, 0.0]),  # near dup of 0
            (6, [0.8, 0.2, 0.0, 0.0]),  # near dup, farthest out
            (9, [0.0, 0.0, 0.99, 0.1]),  # near dup of 1
        ],
    )
    out = {
        r["vec_id"]: r
        for r in semdedup_centroid_survivors(
            df, "vec_id", "embedding", DIM, n_clusters=2, tau=0.95
        ).collect()
    }
    assert len(out) == 5  # every row present exactly once
    assert out[6]["kept"] == 1 and out[0]["kept"] == 0 and out[4]["kept"] == 0
    # cluster B's 2-member group keeps exactly one (symmetric pair —
    # which one is a quantization detail; the oracle pins it)
    assert out[1]["kept"] + out[9]["kept"] == 1


def test_semdedup_centroid_untouched_rows_survive(planted):
    """Rows in no near-dup pair are all kept, and per-component
    exactly one survivor emerges."""
    out = semdedup_centroid_survivors(
        planted, "vec_id", "embedding", DIM, n_clusters=2, tau=0.995
    ).collect()
    kept = {r["vec_id"]: r["kept"] for r in out}
    assert len(kept) == 6
    assert kept[5] == 1 and kept[20] == 1  # untouched
    assert kept[3] + kept[7] == 1  # exact-dup pair: one survivor
    assert kept[12] + kept[15] == 1


def test_semdedup_incremental_statuses(spark):
    """Planted batch classification against a frozen index: a near-dup
    of the existing corpus -> dup_existing (and it wins over a
    simultaneous batch match); a pair new to the corpus -> lower id
    unique, higher id dup_batch; a novel direction -> unique."""
    existing = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),  # seeds cluster 0
            (1, [0.0, 0.0, 1.0, 0.0]),  # seeds cluster 1
            (2, [0.95, 0.05, 0.0, 0.0]),
        ],
    )
    batch = _emb(
        spark,
        [
            (10, [1.0, 0.01, 0.0, 0.0]),  # ~dup of existing 0
            (11, [1.0, 0.012, 0.0, 0.0]),  # dup of existing AND of 10
            (20, [0.0, 0.2, 0.95, 0.0]),  # new to corpus, anchor
            (21, [0.0, 0.21, 0.95, 0.0]),  # dup of 20 only
            (30, [0.0, 0.9, 0.0, 0.44]),  # novel direction
        ],
    )
    out = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental_status(
            existing, batch, "vec_id", "embedding", DIM, 2, tau=0.99
        ).collect()
    }
    assert out[10] == "dup_existing"
    assert out[11] == "dup_existing"  # precedence over dup_batch
    assert out[20] == "unique" and out[21] == "dup_batch"
    assert out[30] == "unique"
    assert len(out) == 5  # statuses for the batch only


def test_streaming_semdedup_ingest_classifies_planted_dups(spark, sf_dir):
    """The streaming twin drains its 2-batch queue and the planted
    copies (re-keyed +2000000) all come back dup_existing; genuine
    batch rows appear exactly once with a valid status."""
    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _stage_vec_ingest_dir,  # staged queue is fixture plumbing
    )
    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    _stage_vec_ingest_dir(spark, sf_dir)
    out = all_queries()["streaming_semdedup_ingest"].spark_fn(
        spark, sf_dir
    ).collect()
    assert out, "stream drained no rows"
    assert {r["status"] for r in out} <= {"dup_existing", "new"}
    # planted copies exist at every sf -> dup_existing must occur
    assert any(r["status"] == "dup_existing" for r in out)
    total = sum(r["n_vecs"] for r in out)
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_batch = e.filter(F.col("vec_id") % 10 >= 8).count()
    n_planted = e.filter(
        (F.col("vec_id") % 10 < 8) & (F.col("vec_id") % 25 == 3)
    ).count()
    assert total == n_batch + n_planted


def test_semdedup_kept_partition_counts(spark, sf_dir):
    """Fixture-scale smoke: every vec_id appears exactly once and the
    kept flag is 0/1 — the survivors plus dropped partition the corpus."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup_survivors(e, "vec_id", "embedding", 64, 8, tau=0.4)
    total = e.count()
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("d"),
        F.min("kept").alias("lo"),
        F.max("kept").alias("hi"),
    ).collect()[0]
    assert agg["n"] == total and agg["d"] == total
    assert 0 <= agg["lo"] <= agg["hi"] <= 1


# --- occupancy sizing + hot-cluster pre-split (VERDICT r6 ask #4) ----


def test_semdedup_n_clusters_sizing_rule():
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        semdedup_n_clusters,
    )

    assert semdedup_n_clusters(0) == 2  # floor
    assert semdedup_n_clusters(256, 256) == 2  # floor still binds
    assert semdedup_n_clusters(257, 256) == 2
    assert semdedup_n_clusters(1024, 256) == 4
    assert semdedup_n_clusters(1025, 256) == 5  # ceil, not round
    assert semdedup_n_clusters(10**9, 256) == 3906250
    with pytest.raises(ValueError):
        semdedup_n_clusters(-1)
    with pytest.raises(ValueError):
        semdedup_n_clusters(10, 0)


def test_semdedup_auto_k_from_corpus_count(planted):
    """n_clusters=None derives k via the sizing rule (6 rows /
    target_occupancy 3 -> k=2) and the result still partitions the
    input with the planted survivorship."""
    out = {
        r["vec_id"]: r["kept"]
        for r in semdedup_survivors(
            planted,
            "vec_id",
            "embedding",
            DIM,
            n_clusters=None,
            tau=0.995,
            target_occupancy=3,
        ).collect()
    }
    assert len(out) == 6
    assert out[3] == 1 and out[7] == 0


@pytest.fixture(scope="module")
def skewed_blob(spark):
    """An adversarial dense blob k-means CANNOT split (60 near-
    identical vectors all nearest the same centroid) plus two far
    rows: one cluster ends up with ~60 members regardless of k."""
    rows = [(1, [0.0, 0.0, 1.0, 0.0]), (2, [0.0, 0.0, 0.9, 0.1])]
    rows += [
        (10 + i, [1.0, 1e-4 * i, 0.0, 0.0]) for i in range(60)
    ]
    return _emb(spark, rows)


def test_presplit_matches_plain_on_skewed_blob(skewed_blob):
    """The pre-split pair pass is pair-semantics-identical: same
    survivors as the plain cluster self-join on a fixture where the
    hot cluster genuinely splits (occupancy ~60 >> max_occupancy 8,
    s = 8 groups)."""
    plain = sorted(
        semdedup_survivors(
            skewed_blob, "vec_id", "embedding", DIM, 2, tau=0.9
        ).collect()
    )
    split = sorted(
        semdedup_survivors(
            skewed_blob,
            "vec_id",
            "embedding",
            DIM,
            2,
            tau=0.9,
            max_occupancy=8,
        ).collect()
    )
    assert plain == split
    # the blob collapses to its lowest id; far rows survive
    kept = {r["vec_id"] for r in plain if r["kept"] == 1}
    assert 10 in kept and not any(v in kept for v in range(11, 70))


def test_presplit_bounds_per_task_pair_count(spark, skewed_blob):
    """Pin the scale contract: with max_occupancy=8 the hot cluster's
    pair work spreads over group-pair tasks, and NO task holds more
    than ~max_occupancy^2 candidate pairs (hash-imbalance slack 4x),
    vs C(60,2)=1770 for the single-task plain join. Reconstructs the
    task layout with the same xxhash64 grouping the operator uses."""
    max_occ = 8
    assigned = semdedup_survivors(
        skewed_blob, "vec_id", "embedding", DIM, 2, tau=0.9
    ).select("vec_id", "cluster_id")
    occ = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    g = (
        assigned.join(F.broadcast(occ), "cluster_id")
        .withColumn(
            "s", F.ceil(F.col("occ") / F.lit(max_occ)).cast("int")
        )
        .withColumn(
            "g", F.pmod(F.xxhash64(F.col("vec_id")), F.col("s")).cast("int")
        )
    )
    sizes = {
        (r["cluster_id"], r["g"]): r["n"]
        for r in g.groupBy("cluster_id", "g")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    svals = {
        r["cluster_id"]: r["s"]
        for r in g.select("cluster_id", "s").distinct().collect()
    }
    worst = 0
    for cid, s in svals.items():
        for g1 in range(s):
            for g2 in range(g1, s):
                n1 = sizes.get((cid, g1), 0)
                n2 = sizes.get((cid, g2), 0)
                pairs = n1 * (n1 - 1) // 2 if g1 == g2 else n1 * n2
                worst = max(worst, pairs)
    assert max(r["occ"] for r in occ.collect()) >= 55  # skew is real
    assert worst <= 4 * max_occ * max_occ  # bounded per task
