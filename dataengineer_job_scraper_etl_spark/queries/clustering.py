"""Semantic clustering + SemDeDup over the ``embeddings`` fixture
(north-star LLM-curation extension, SURVEY §2.15).

Two oracle-checked entries built on ``operators/similarity.py``'s
data-derived-init k-means (``kmeans_corpus_init``): because init =
the k lowest-id vectors and every centroid update is quantized to 6
decimals, BOTH engines replay the identical Lloyd trajectory — the
clustering itself is hash-checked, not just a recall floor. This is
the missing piece next to the recall-floor ANN entries: those prove
the index finds neighbors; these prove the distributed Lloyd loop
computes exactly the clustering it claims.

``vec_semdedup_survivors`` is SemDeDup (Abbas et al., 2023,
arXiv:2303.09540): embedding-space dedup where the cluster bound —
never the corpus — limits the quadratic cosine pass. The oracle
replays init + 2 Lloyd rounds + the within-cluster prune as unrolled
CTEs over the same parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.vector_math import (
    as_double,
    sq_dist,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.similarity import (
    assign_to_centroid,
    kmeans_corpus_init,
    semdedup_survivors,
)
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

DIM = 64
N_CLUSTERS = 8
N_ITER = 2
TAU = 0.4  # same "near" regime as vec_neardup_cosine_pairs

# Shared oracle scaffold: data-derived init (k lowest vec_ids), then
# n_iter=2 unrolled Lloyd rounds. Every centroid coordinate is
# round(avg, 6) — matching kmeans_corpus_init's quantization — so the
# trajectory is bit-identical across engines (order-dependent mean
# drift reaches ~1e-12 for million-member clusters; the 5e-7
# half-step leaves a ~5x10^5 margin where 9 decimals would leave only
# ~500x). Assignment tie-break is (SQUARED distance, cluster_id) on
# both sides — the oracle computes the raw d2 sum (list_sum over
# squared element diffs), not list_distance: sqrt is monotone (order-
# preserving) but NOT tie-preserving — it can collapse two distinct
# d2 doubles to one value and engage the cid tie-break in DuckDB only
# (ADVICE r6). Both engines now order by the identical quantity, so
# tie SETS match, not just order. _KMEANS_BODY
# carries no WITH so the component-based entry can prepend
# WITH RECURSIVE (DuckDB wants the keyword once, up front); the
# ``where`` parameter restricts the TRAINING set (incremental entry
# trains on the existing corpus only — frozen index).


def _kmeans_body(where: str = "") -> str:
    return f"""
emb AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings{where}),
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c
  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {N_CLUSTERS})),
a0 AS (
  SELECT vec_id, e, cid FROM (
    SELECT emb.vec_id, emb.e, init.cid,
           row_number() OVER (PARTITION BY emb.vec_id
             ORDER BY list_sum(list_transform(list_zip(emb.e, init.c), x -> (x[1]-x[2])**2)), init.cid) AS rn
    FROM emb CROSS JOIN init) WHERE rn = 1),
c1 AS (
  SELECT init.cid, coalesce(mm.c, init.c) AS c
  FROM init LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, round(avg(e[i]), 6) AS m
      FROM a0, range(1, {DIM + 1}) r(i) GROUP BY cid, i) GROUP BY cid) mm
  ON init.cid = mm.cid),
a1 AS (
  SELECT vec_id, e, cid FROM (
    SELECT emb.vec_id, emb.e, c1.cid,
           row_number() OVER (PARTITION BY emb.vec_id
             ORDER BY list_sum(list_transform(list_zip(emb.e, c1.c), x -> (x[1]-x[2])**2)), c1.cid) AS rn
    FROM emb CROSS JOIN c1) WHERE rn = 1),
c2 AS (
  SELECT c1.cid, coalesce(mm.c, c1.c) AS c
  FROM c1 LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, round(avg(e[i]), 6) AS m
      FROM a1, range(1, {DIM + 1}) r(i) GROUP BY cid, i) GROUP BY cid) mm
  ON c1.cid = mm.cid),
a2 AS (
  SELECT vec_id, e, cid FROM (
    SELECT emb.vec_id, emb.e, c2.cid,
           row_number() OVER (PARTITION BY emb.vec_id
             ORDER BY list_sum(list_transform(list_zip(emb.e, c2.c), x -> (x[1]-x[2])**2)), c2.cid) AS rn
    FROM emb CROSS JOIN c2) WHERE rn = 1)
"""


_KMEANS_BODY = _kmeans_body()
_KMEANS_CTES = "WITH " + _KMEANS_BODY

# The pair predicate mirrors the Spark operators EXACTLY: vectors are
# L2-normalized first (sqrt of the same sequential sum of squares,
# nullif-guarded so an all-zero vector propagates NULL and never
# matches — same as normalize_assigned), then a single dot product is
# compared to tau — not list_cosine_similarity, whose different op
# order could flip a pair sitting within an ulp of the threshold
# between engines.


def _normalized_cte(src: str, name: str) -> str:
    return f""",
{name} AS (
  SELECT vec_id, cid,
         list_transform(e, x -> x / nullif(sqrt(list_inner_product(e, e)), 0))
           AS ne
  FROM {src})
"""


_NORMALIZED_CTE = _normalized_cte("a2", "a2n")


@register(
    "vec_kmeans_profile",
    _KMEANS_CTES
    + """
SELECT a2.cid AS cluster_id, count(*) AS n_members,
       round(avg(list_distance(a2.e, c2.c)), 6) AS avg_dist
FROM a2 JOIN c2 ON a2.cid = c2.cid
GROUP BY a2.cid
""",
    doc="Distributed Lloyd k-means (k=8, 2 rounds, data-derived init, "
    "6-decimal centroid quantization) hash-checked end to end: the "
    "oracle replays the identical trajectory as unrolled CTEs. Per "
    "round: literal-centroid argmin (no join) + ONE shuffle of "
    "k x dim partial means; init collect is k rows. Profile = cluster "
    "size + mean member distance to the final centroid.",
)
def vec_kmeans_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_corpus_init(
        e, "vec_id", "embedding", DIM, N_CLUSTERS, n_iter=N_ITER
    )
    assigned = assign_to_centroid(e, cents, "embedding")
    cdf = F.broadcast(
        spark.createDataFrame(cents, "cluster_id int, centroid array<double>")
    )
    d2 = sq_dist(as_double(F.col("embedding")), F.col("centroid"))
    return (
        assigned.join(cdf, on="cluster_id")
        .select("cluster_id", F.sqrt(d2).alias("dist"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("dist"), 6).alias("avg_dist"),
        )
    )


@register(
    "vec_semdedup_survivors",
    _KMEANS_CTES
    + _NORMALIZED_CTE
    + f""",
pairs AS (
  SELECT b.vec_id
  FROM a2n a JOIN a2n b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.ne, b.ne) > {TAU}
  GROUP BY b.vec_id)
SELECT a2.vec_id, a2.cid AS cluster_id,
       CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM a2 LEFT JOIN pairs p ON a2.vec_id = p.vec_id
""",
    doc="SemDeDup (arXiv:2303.09540): k-means the embedding space, "
    "then drop any row with a LOWER-id same-cluster neighbor above "
    f"cosine {TAU}. The quadratic pass is bounded per cluster — the "
    "corpus is never all-pairs — and the whole pipeline (init, Lloyd "
    "rounds, prune) is replayed by the oracle, so survivorship is "
    "hash-exact, not a recall floor. Cross-cluster near-dups are "
    "unpruned by design (the documented SemDeDup miss mode).",
)
def vec_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return semdedup_survivors(
        e, "vec_id", "embedding", DIM, N_CLUSTERS, n_iter=N_ITER, tau=TAU
    )


@register(
    "vec_semdedup_presplit",
    _KMEANS_CTES
    + _NORMALIZED_CTE
    + f""",
pairs AS (
  SELECT b.vec_id
  FROM a2n a JOIN a2n b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.ne, b.ne) > {TAU}
  GROUP BY b.vec_id)
SELECT a2.vec_id, a2.cid AS cluster_id,
       CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM a2 LEFT JOIN pairs p ON a2.vec_id = p.vec_id
""",
    doc="SemDeDup with the hot-cluster PRE-SPLIT pair pass "
    "(operators/similarity.py:_presplit_dropped, VERDICT r6 ask #4): "
    "clusters over max_occupancy=40 are hashed into s groups and the "
    "pair join runs per (cluster, group-pair) task with triangle-join "
    "replication — per-task pair work bounded by ~max_occupancy^2 "
    "under ANY skew. The oracle is IDENTICAL to "
    "vec_semdedup_survivors' (the plain within-cluster pair set): "
    "hash equality here IS the proof that the split examines exactly "
    "the same pairs — cross-group pairs in their (min,max) task, "
    "same-group pairs only in (g,g), none dropped, none doubled. At "
    "the fixture scale (500 rows, k=8, mean occupancy ~62) several "
    "clusters exceed the bound, so the split path genuinely engages.",
)
def vec_semdedup_presplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return semdedup_survivors(
        e,
        "vec_id",
        "embedding",
        DIM,
        N_CLUSTERS,
        n_iter=N_ITER,
        tau=TAU,
        max_occupancy=40,
    )


@register(
    "vec_semdedup_centroid_survivors",
    "WITH RECURSIVE "
    + _KMEANS_BODY
    + _NORMALIZED_CTE
    + f""",
pairs AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM a2n a JOIN a2n b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE list_inner_product(a.ne, b.ne) > {TAU}),
edges AS (SELECT src AS a, dst AS b FROM pairs
          UNION SELECT dst, src FROM pairs),
reach(node, r) AS (
  -- seed ONLY local minima (nodes smaller than every neighbor): the
  -- component minimum is necessarily a local minimum and reaches
  -- every member, so min(r) per node is UNCHANGED, while the closure
  -- state drops from sum(|comp|^2) to sum(|comp| x |local minima|) —
  -- the tiled-corpus chain components at sf1 blew the full-seed
  -- closure to 41M rows / ~160 s (round-8 profile; this seeding
  -- brings the oracle back inside the sf1 rotation budget)
  SELECT a, a FROM (SELECT a FROM edges GROUP BY a HAVING a < min(b))
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
gm AS (
  SELECT a2.vec_id, a2.cid, comp.component,
         round(list_distance(a2.e, c2.c), 9) AS cdist
  FROM a2 JOIN comp ON a2.vec_id = comp.node
  JOIN c2 ON a2.cid = c2.cid),
ranked AS (
  SELECT vec_id, cid, row_number() OVER (
      PARTITION BY component ORDER BY cdist DESC, vec_id ASC) AS rn
  FROM gm)
SELECT vec_id, cid AS cluster_id,
       CASE WHEN rn = 1 THEN 1 ELSE 0 END AS kept
FROM ranked
UNION ALL
SELECT a2.vec_id, a2.cid AS cluster_id, 1 AS kept
FROM a2 LEFT JOIN comp ON a2.vec_id = comp.node WHERE comp.node IS NULL
""",
    doc="Paper-faithful SemDeDup: near-dup groups = connected "
    "components of the within-cluster cosine graph (iterative label "
    "propagation over the PAIR set only); each group keeps the member "
    "FARTHEST from its cluster centroid (the paper's "
    "lowest-centroid-similarity rule; 9-decimal distance quantization "
    "pins the ranking cross-engine, ties to lowest id). Oracle "
    "replays the full chain — Lloyd rounds, pair graph, recursive "
    "reachability, survivor ranking — as one RECURSIVE CTE.",
)
def vec_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        semdedup_centroid_survivors,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    return semdedup_centroid_survivors(
        e, "vec_id", "embedding", DIM, N_CLUSTERS, n_iter=N_ITER, tau=TAU
    )


_BALANCED_PER_CLUSTER = 25


@register(
    "vec_cluster_balanced_sample",
    _KMEANS_CTES
    + f""",
ranked AS (
  SELECT cid, vec_id, row_number() OVER (
    PARTITION BY cid ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
  FROM a2)
SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(vec_id) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= {_BALANCED_PER_CLUSTER} GROUP BY cid
""",
    doc=f"Cluster-balanced selection: up to {_BALANCED_PER_CLUSTER} "
    "rows per LEARNED k-means cluster — exact-n whenever a cluster's "
    "occupancy allows (a cluster with fewer members yields all of "
    "them; ADVICE r6) — strata from the embedding space, not a "
    "static column (the curation move behind cluster-balanced data "
    "mixes), chosen by the same md5 hash-rank trick as "
    "docs_balanced_eval_sample so membership is deterministic, "
    "engine-portable, and count-pinned where fractional sampleBy "
    "can't pin counts. One window per cluster over (cluster_id, "
    "vec_id) pairs only; id_checksum pins membership.",
)
def vec_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_corpus_init(
        e, "vec_id", "embedding", DIM, N_CLUSTERS, n_iter=N_ITER
    )
    assigned = assign_to_centroid(e, cents, "embedding")
    return (
        grouped_topk(
            assigned.select("cluster_id", "vec_id"), ["cluster_id"],
            [F.md5(F.col("vec_id").cast("string")), "vec_id"],
            _BALANCED_PER_CLUSTER, rank_col="rn",
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("vec_id").cast("bigint").alias("id_checksum"),
        )
    )


# Incremental split: ~80% of rows (by id residue — sf-independent,
# engine-portable) are the already-ingested corpus; the rest arrive as
# the new batch. The cluster index is trained on EXISTING ONLY.
_EXISTING_WHERE = " WHERE vec_id % 10 < 8"
_BATCH_PRED = "vec_id % 10 >= 8"


@register(
    "vec_semdedup_incremental",
    "WITH "
    + _kmeans_body(_EXISTING_WHERE)
    + _normalized_cte("a2", "a2n")
    + f""",
nb AS (
  SELECT vec_id, e FROM (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
  WHERE {_BATCH_PRED}),
ab AS (
  SELECT vec_id, e, cid FROM (
    SELECT nb.vec_id, nb.e, c2.cid,
           row_number() OVER (PARTITION BY nb.vec_id
             ORDER BY list_distance(nb.e, c2.c), c2.cid) AS rn
    FROM nb CROSS JOIN c2) WHERE rn = 1)
"""
    + _normalized_cte("ab", "abn")
    + f""",
hit_ex AS (
  SELECT b.vec_id FROM abn b JOIN a2n x ON b.cid = x.cid
  WHERE list_inner_product(b.ne, x.ne) > {TAU}
  GROUP BY b.vec_id),
hit_b AS (
  SELECT b.vec_id FROM abn b JOIN abn p
    ON b.cid = p.cid AND p.vec_id < b.vec_id
  WHERE list_inner_product(b.ne, p.ne) > {TAU}
  GROUP BY b.vec_id)
SELECT abn.vec_id, abn.cid AS cluster_id,
       CASE WHEN hx.vec_id IS NOT NULL THEN 'dup_existing'
            WHEN hb.vec_id IS NOT NULL THEN 'dup_batch'
            ELSE 'unique' END AS status
FROM abn LEFT JOIN hit_ex hx ON abn.vec_id = hx.vec_id
         LEFT JOIN hit_b hb ON abn.vec_id = hb.vec_id
""",
    doc="Incremental SemDeDup ingest: the cluster index is FROZEN "
    "(trained on the existing ~80% of the corpus only); each arriving "
    "row is argmin-assigned and compared against same-cluster rows "
    "only — dup_existing / dup_batch (lower-id anchor within the "
    "batch) / unique. Per-batch cost is |batch| x cluster occupancy, "
    "never corpus-quadratic — the production streaming-ingest shape "
    "for semantic dedup, mirroring dedup.py's digest-based "
    "incremental_ingest_status.",
)
def vec_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        semdedup_incremental_status,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    existing = e.filter(F.col("vec_id") % 10 < 8)
    batch = e.filter(F.col("vec_id") % 10 >= 8)
    return semdedup_incremental_status(
        existing, batch, "vec_id", "embedding", DIM, N_CLUSTERS,
        n_iter=N_ITER, tau=TAU,
    )


@register(
    "vec_centroid_outlier_flags",
    _KMEANS_CTES
    + """,
d AS MATERIALIZED (
  SELECT a2.vec_id, a2.cid,
         floor(sqrt(list_sum(list_transform(list_zip(a2.e, c2.c),
                x -> (x[1]-x[2])**2))) * 1000000 + 0.5) / 1000000 AS dq
  FROM a2 JOIN c2 ON a2.cid = c2.cid),
st AS (
  SELECT cid,
         floor((avg(dq) + 2 * stddev(dq)) * 1000000 + 0.5) / 1000000
           AS thr
  FROM d GROUP BY cid)
SELECT d.vec_id, d.cid AS cluster_id,
       CASE WHEN d.dq > st.thr THEN 1 ELSE 0 END AS is_outlier
FROM d JOIN st ON d.cid = st.cid
""",
    doc="Embedding-space outlier pruning (the CLIP-filtering-style "
    "'drop far-from-centroid noise' curation op): each vector's "
    "distance to its learned k-means centroid is quantized, per-"
    "cluster mean + 2*stddev_samp forms the flag threshold (also "
    "quantized, so the compare is between engine-shared doubles; a "
    "singleton cluster has NULL stddev -> NULL threshold -> never "
    "flagged, on both engines). Stats are one combiner-friendly "
    "groupBy over (cluster, dist) pairs; the k-row stats frame "
    "broadcasts back — no second shuffle of the corpus.",
)
def vec_centroid_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_corpus_init(
        e, "vec_id", "embedding", DIM, N_CLUSTERS, n_iter=N_ITER
    )
    assigned = assign_to_centroid(e, cents, "embedding")
    cdf = F.broadcast(
        spark.createDataFrame(cents, "cluster_id int, centroid array<double>")
    )
    q = F.lit(1000000.0)
    dq = F.floor(
        F.sqrt(sq_dist(as_double(F.col("embedding")), F.col("centroid")))
        * q
        + F.lit(0.5)
    ) / q
    d = assigned.join(cdf, on="cluster_id").select(
        "vec_id", "cluster_id", dq.alias("dq")
    )
    st = d.groupBy("cluster_id").agg(
        (
            F.floor(
                (F.avg("dq") + 2 * F.stddev_samp("dq")) * q + F.lit(0.5)
            )
            / q
        ).alias("thr")
    )
    return d.join(F.broadcast(st), on="cluster_id").select(
        "vec_id",
        "cluster_id",
        F.when(F.col("dq") > F.col("thr"), 1).otherwise(0).alias(
            "is_outlier"
        ),
    )


_TAU_HN = TAU  # same "near" regime: close in space, wrong in label


@register(
    "vec_hard_negative_mining",
    _KMEANS_CTES
    + _NORMALIZED_CTE
    + f""",
lab AS (SELECT vec_id, label FROM embeddings),
hn AS (
  SELECT a.vec_id AS anchor, b.vec_id AS neg,
         floor(list_inner_product(a.ne, b.ne) * 1000000 + 0.5)
           / 1000000 AS sim_q
  FROM a2n a JOIN a2n b
    ON a.cid = b.cid AND a.vec_id != b.vec_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lb ON lb.vec_id = b.vec_id
  WHERE la.label != lb.label),
ranked AS (
  SELECT anchor, neg, sim_q, row_number() OVER (
    PARTITION BY anchor ORDER BY sim_q DESC, neg ASC) AS rn
  FROM hn WHERE sim_q > {_TAU_HN})
SELECT anchor AS vec_id, neg AS hard_neg_id, sim_q
FROM ranked WHERE rn = 1
""",
    doc="Contrastive hard-negative mining: for every anchor, the most "
    f"similar SAME-CLUSTER vector of a DIFFERENT label above cosine "
    f"{_TAU_HN} — close in embedding space, wrong in class: the pair "
    "a contrastive/metric-learning run wants most. The quadratic pass "
    "is bounded per k-means cluster exactly like SemDeDup (never "
    "corpus all-pairs); ranking is on the QUANTIZED similarity with "
    "lowest-id tie-break, so the winner set is engine-portable. "
    "Cross-cluster hard negatives are missed by design — the same "
    "documented trade as SemDeDup's miss mode.",
)
def vec_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.functions.vector_math import dot
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        normalize_assigned,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    cents = kmeans_corpus_init(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        DIM, N_CLUSTERS, n_iter=N_ITER,
    )
    nv = normalize_assigned(
        e.select("vec_id", "embedding"), cents, "vec_id", "embedding"
    ).join(e.select("vec_id", "label"), on="vec_id")
    a = nv.select(
        F.col("vec_id").alias("anchor"),
        F.col("cluster_id").alias("a_cid"),
        F.col("nv").alias("a_nv"),
        F.col("label").alias("a_label"),
    )
    b = nv.select(
        F.col("vec_id").alias("neg"),
        F.col("cluster_id").alias("b_cid"),
        F.col("nv").alias("b_nv"),
        F.col("label").alias("b_label"),
    )
    q = F.lit(1000000.0)
    sim_q = F.floor(dot(F.col("a_nv"), F.col("b_nv")) * q + F.lit(0.5)) / q
    pairs = (
        a.join(
            b,
            (F.col("a_cid") == F.col("b_cid"))
            & (F.col("anchor") != F.col("neg"))
            & (F.col("a_label") != F.col("b_label")),
        )
        .select("anchor", "neg", sim_q.alias("sim_q"))
        .filter(F.col("sim_q") > F.lit(_TAU_HN))
    )
    return (
        grouped_topk(
            pairs, ["anchor"], [F.col("sim_q").desc(), F.col("neg").asc()],
            1, rank_col="rn",
        )
        .select(
            F.col("anchor").alias("vec_id"),
            F.col("neg").alias("hard_neg_id"),
            "sim_q",
        )
    )


@register(
    "vec_cluster_label_purity",
    _KMEANS_CTES
    + """,
lab AS (SELECT vec_id, label FROM embeddings),
cl AS (
  SELECT a2.cid, lab.label, count(*) AS n
  FROM a2 JOIN lab ON a2.vec_id = lab.vec_id
  GROUP BY a2.cid, lab.label),
tot AS (SELECT cid, CAST(sum(n) AS BIGINT) AS n_members FROM cl GROUP BY cid),
win AS (
  SELECT cid, label AS majority_label, n AS n_majority
  FROM (SELECT cid, label, n, row_number() OVER (
          PARTITION BY cid ORDER BY n DESC, label ASC) AS rn
        FROM cl) WHERE rn = 1)
SELECT win.cid AS cluster_id, tot.n_members,
       CAST(win.majority_label AS BIGINT) AS majority_label,
       CAST(win.n_majority AS BIGINT) AS n_majority,
       CAST(win.n_majority * 1000000 // tot.n_members AS BIGINT)
         AS purity_ppm
FROM win JOIN tot ON win.cid = tot.cid
""",
    doc="Clustering-quality audit: per k-means cluster, the majority "
    "ground-truth label (ties to lowest label id) and its share in "
    "integer ppm — the standard purity metric for eyeballing whether "
    "the learned clusters track the label structure (and hence "
    "whether SemDeDup/balanced-sample strata are meaningful). "
    "INTEGER-EXACT end to end: counts, a deterministic argmax, and an "
    "integer division — zero float drift in the hash. One "
    "(cluster, label) count groupBy (bounded by k x |labels|) plus "
    "k-row windows; the corpus shuffles once.",
)
def vec_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    cents = kmeans_corpus_init(
        e.select("vec_id", "embedding"), "vec_id", "embedding",
        DIM, N_CLUSTERS, n_iter=N_ITER,
    )
    assigned = assign_to_centroid(
        e.select("vec_id", "embedding", "label"), cents, "embedding"
    )
    cl = assigned.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cl.groupBy("cluster_id").agg(
        F.sum("n").cast("bigint").alias("n_members")
    )
    win = (
        grouped_topk(
            cl, ["cluster_id"], [F.col("n").desc(), F.col("label").asc()],
            1, rank_col="rn",
        )
        .select(
            "cluster_id",
            F.col("label").cast("bigint").alias("majority_label"),
            F.col("n").cast("bigint").alias("n_majority"),
        )
    )
    return win.join(F.broadcast(tot), on="cluster_id").select(
        "cluster_id",
        "n_members",
        "majority_label",
        "n_majority",
        F.expr("CAST(n_majority * 1000000L div n_members AS BIGINT)").alias(
            "purity_ppm"
        ),
    )
