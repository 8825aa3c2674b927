"""Hybrid retrieval with reciprocal-rank fusion over ``documents`` +
``embeddings`` (LLM-curation extension, SURVEY §2.10/§2.19).

Production corpus-curation search is hybrid: a lexical ranker (BM25)
and a dense ranker (embedding cosine) each produce a bounded top-DEPTH
list, fused by reciprocal-rank fusion (Cormack et al. 2009):

    rrf(d) = sum over lists of 1 / (K + rank_in_list(d)),  K = 60

with absent-from-list contributing 0. RRF is THE standard fusion in
retrieval-backed dataset curation (and in every hybrid search engine)
because it needs no score calibration between rankers — only ranks.

The engine composes two already-oracle-checked components: the BM25
index/scorer (operators/ranking.py, entry text_bm25_ranking) and the
brute-force cosine ranker (queries/vectors.py, entry vec_cosine_topk);
documents and embeddings align on doc_id == vec_id (TESTDATA.md).

Scale shape (the 100 TB story): each ranker reduces the corpus to a
DEPTH-row list via orderBy().limit() — Spark plans TakeOrdered, a
per-partition partial top-k plus a DEPTH-row merge, never a global
sort. Rank assignment and the fusion join then run on two DEPTH-row
frames — driver-trivial at any corpus size. The dense side broadcasts
one query vector; at production scale it swaps for the IVF/OPQ index
(operators/similarity.py) with identical downstream fusion — the
bounded-list interface is exactly why RRF composes with ANN.

Determinism: ranks are assigned over the ppm-QUANTIZED scores (ties
broken by id), so rank order is hash-stable across engines; the RRF
arithmetic is IEEE division of small integers (exact-rounded,
engine-independent) summed over two terms, then ppm-floored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.vector_math import (
    as_double,
    cosine,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.text import (
    _BM25_B,
    _BM25_K1,
    BM25_QUERY_TERMS,
    _bm25_oracle_sql,
)

RRF_K = 60
DEPTH = 50  # per-ranker candidate-list length
TOP_N = 20  # fused rows returned
QUERY_VEC_ID = 0  # the dense query: embeddings row vec_id = 0

# --- SQ8 ANN (scalar-quantized serve path) ---------------------------
SQ8_N_QUERY = 5  # queries are vec_id < 5 (the vec_cosine_topk contract)
SQ8_SHORTLIST = 50
SQ8_K = 10
SQ8_CLIP_P = "0.999"  # corpus clip percentile, rendered as a literal


def _rrf_oracle_sql() -> str:
    bm25 = _bm25_oracle_sql(BM25_QUERY_TERMS, _BM25_K1, _BM25_B)
    return f"""
WITH bm_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
           AS rank_bm25
  FROM ({bm25}) bm
  ORDER BY rank_bm25 LIMIT {DEPTH}),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
       WHERE vec_id = {QUERY_VEC_ID}),
vec_scored AS (
  SELECT e.vec_id AS doc_id,
         CAST(round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), qv.qe)
                    * 1e6) AS BIGINT) AS cos_ppm
  FROM embeddings e CROSS JOIN qv
  WHERE e.vec_id <> {QUERY_VEC_ID}),
vec_ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos_ppm DESC, doc_id ASC) AS INT)
           AS rank_vec
  FROM vec_scored
  ORDER BY rank_vec LIMIT {DEPTH}),
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         coalesce(b.rank_bm25, 0) AS rank_bm25,
         coalesce(v.rank_vec, 0) AS rank_vec,
         (CASE WHEN b.rank_bm25 IS NOT NULL
               THEN 1.0 / ({RRF_K} + b.rank_bm25) ELSE 0.0 END)
         + (CASE WHEN v.rank_vec IS NOT NULL
                 THEN 1.0 / ({RRF_K} + v.rank_vec) ELSE 0.0 END) AS rrf
  FROM bm_ranked b FULL OUTER JOIN vec_ranked v ON v.doc_id = b.doc_id)
SELECT doc_id, rank_bm25, rank_vec,
       CAST(round(rrf * 1e6) AS BIGINT) AS rrf_ppm,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT)
         AS fused_rank
FROM fused
ORDER BY fused_rank LIMIT {TOP_N}
"""


_SQ8_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cal AS (SELECT quantile_cont(abs(x), {SQ8_CLIP_P}) AS clip
        FROM (SELECT unnest(e) AS x FROM v)),
corpus AS (
  SELECT vec_id, e,
         list_transform(e, x -> floor(greatest(least(x, clip), -clip)
                                      * 127.0 / clip) * clip / 127.0) AS dq
  FROM v CROSS JOIN cal),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {SQ8_N_QUERY}),
scored AS (
  SELECT q.qid, c.vec_id,
         CAST(round(list_cosine_similarity(q.qe, c.dq) * 1e6) AS BIGINT)
           AS approx_ppm,
         CAST(round(list_cosine_similarity(q.qe, c.e) * 1e6) AS BIGINT)
           AS exact_ppm
  FROM q CROSS JOIN corpus c WHERE c.vec_id <> q.qid),
short AS (
  SELECT qid, vec_id, exact_ppm,
         row_number() OVER (PARTITION BY qid
                            ORDER BY approx_ppm DESC, vec_id ASC) AS r
  FROM scored),
rerank AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY exact_ppm DESC, vec_id ASC) AS rr
    FROM short WHERE r <= {SQ8_SHORTLIST}) WHERE rr <= {SQ8_K}),
exact10 AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY exact_ppm DESC, vec_id ASC) AS re
    FROM scored) WHERE re <= {SQ8_K})
SELECT e.qid,
       CAST(count(r.vec_id) AS BIGINT) AS n_hits,
       CAST(count(r.vec_id) * 1000000 // {SQ8_K} AS BIGINT) AS recall_ppm
FROM exact10 e LEFT JOIN rerank r USING (qid, vec_id)
GROUP BY e.qid
"""


@register(
    "ann_recall_sq8",
    _SQ8_ORACLE,
    doc="Scalar-quantized (SQ8) ANN serve path with a FULLY "
    "oracle-checked recall contract — the storage-shrink tier below "
    "PQ/OPQ: corpus-calibrated int8 codes (the "
    "vec_quantize_int8_calibrated clip scale — p99.9 of |component|, "
    "floor to [-127,127], so 64 bytes/vector instead of 256), "
    "shortlist top-50 per query by asymmetric cosine against the "
    "DEQUANTIZED codes, exact-cosine rerank to top-10, recall vs the "
    "exact top-10. Unlike PQ/OPQ there is no trained codebook — the "
    "whole path is closed-form, so the oracle replays quantization, "
    "shortlist, rerank, and recall bit-identically (rankings over "
    "ppm-quantized scores with id tiebreaks). At 100 TB the SQ8 scan "
    "composes under IVF exactly like the PQ ADC pass; the exact "
    "brute-force side exists only because the CONTRACT measures "
    "recall against it.",
)
def ann_recall_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    ed = as_double(F.col("embedding"))
    v = emb.select("vec_id", ed.alias("e"))
    cal = v.select(F.explode("e").alias("x")).agg(
        F.expr(f"percentile(abs(x), {SQ8_CLIP_P})").alias("clip")
    )
    clip = F.col("clip")
    deq = F.transform(
        F.col("e"),
        lambda x: F.floor(F.least(F.greatest(x, -clip), clip) * 127.0 / clip)
        * clip
        / 127.0,
    )
    corpus = v.crossJoin(F.broadcast(cal)).select(
        "vec_id", "e", deq.alias("dq")
    )
    q = v.filter(F.col("vec_id") < SQ8_N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("dq")) * 1e6, 0)
            .cast("bigint")
            .alias("approx_ppm"),
            F.round(cosine(F.col("qe"), F.col("e")) * 1e6, 0)
            .cast("bigint")
            .alias("exact_ppm"),
        )
    )
    # one corpus pass feeds shortlist, rerank, AND the exact baseline
    scored = scored.localCheckpoint(eager=False)
    short = grouped_topk(
        scored, ["qid"], [F.desc("approx_ppm"), F.asc("vec_id")], SQ8_SHORTLIST
    ).drop("rnk")
    rerank = grouped_topk(
        short, ["qid"], [F.desc("exact_ppm"), F.asc("vec_id")], SQ8_K
    ).select("qid", "vec_id")
    exact10 = grouped_topk(
        scored, ["qid"], [F.desc("exact_ppm"), F.asc("vec_id")], SQ8_K
    ).select("qid", "vec_id")
    hits = exact10.join(rerank, ["qid", "vec_id"], "left_semi")
    n_hits = hits.groupBy("qid").agg(F.count(F.lit(1)).alias("h"))
    return (
        exact10.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .join(n_hits, "qid", "left")
        .select(
            "qid",
            F.coalesce(F.col("h"), F.lit(0)).cast("bigint").alias("n_hits"),
            (
                F.coalesce(F.col("h"), F.lit(0)).cast("bigint")
                * 1_000_000
                / F.lit(SQ8_K)
            )
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


# Scalar-quantizer resolution ladder: max code magnitude per level
# (127 = int8, 7 = int4, 1 = ternary int2). Rendered as literals in
# both engine texts.
SQ_LEVELS = (127, 7, 1)
_SQ_TRADEOFF_POOL = SQ8_N_QUERY * SQ8_K  # 5 queries x top-10 = 50


def _sq_tradeoff_oracle() -> str:
    per_level = "\nUNION ALL\n".join(
        f"""
SELECT {lvl} AS q_levels,
       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // {_SQ_TRADEOFF_POOL} AS BIGINT) AS recall_ppm
FROM ex e LEFT JOIN (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY a{lvl} DESC, vec_id ASC) AS r
    FROM scored) WHERE r <= {SQ8_K}) a USING (qid, vec_id)"""
        for lvl in SQ_LEVELS
    )
    dq_cols = ",\n         ".join(
        f"list_transform(e, x -> floor(greatest(least(x, clip), -clip)"
        f" * {lvl}.0 / clip) * clip / {lvl}.0) AS dq{lvl}"
        for lvl in SQ_LEVELS
    )
    a_cols = ",\n         ".join(
        f"CAST(round(list_cosine_similarity(q.qe, c.dq{lvl}) * 1e6) AS BIGINT)"
        f" AS a{lvl}"
        for lvl in SQ_LEVELS
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
cal AS (SELECT quantile_cont(abs(x), {SQ8_CLIP_P}) AS clip
        FROM (SELECT unnest(e) AS x FROM v)),
corpus AS (
  SELECT vec_id, e,
         {dq_cols}
  FROM v CROSS JOIN cal),
q AS (SELECT vec_id AS qid, e AS qe FROM v WHERE vec_id < {SQ8_N_QUERY}),
scored AS (
  SELECT q.qid, c.vec_id,
         CAST(round(list_cosine_similarity(q.qe, c.e) * 1e6) AS BIGINT)
           AS exact_ppm,
         {a_cols}
  FROM q CROSS JOIN corpus c WHERE c.vec_id <> q.qid),
ex AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY exact_ppm DESC, vec_id ASC) AS r
    FROM scored) WHERE r <= {SQ8_K})
{per_level}
"""


@register(
    "ann_sq_bits_tradeoff",
    _sq_tradeoff_oracle(),
    doc="The scalar-quantization resolution ladder, hash-checked: "
    "recall@10 (NO rerank slack — shortlist == k, so the quantizer's "
    "raw ranking fidelity is what's measured) at int8 (127 levels), "
    "int4 (7), and ternary (1) codes under the shared corpus-"
    "calibrated clip. Measured gradient on this fixture: 50/44/22 of "
    "50 at sf0.01, 48/36/11 at sf0.1 — the storage-sizing curve a "
    "100 TB embedding tier is provisioned from (int8 is near-"
    "lossless, int4 loses ~20-30%, ternary halves recall). One "
    "corpus pass computes all three dequantized views; the three "
    "rankings share it via localCheckpoint.",
)
def ann_sq_bits_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    ed = as_double(F.col("embedding"))
    v = emb.select("vec_id", ed.alias("e"))
    cal = v.select(F.explode("e").alias("x")).agg(
        F.expr(f"percentile(abs(x), {SQ8_CLIP_P})").alias("clip")
    )
    clip = F.col("clip")

    def deq(lvl: int):
        l = F.lit(float(lvl))
        return F.transform(
            F.col("e"),
            lambda x: F.floor(F.least(F.greatest(x, -clip), clip) * l / clip)
            * clip
            / l,
        )

    corpus = v.crossJoin(F.broadcast(cal)).select(
        "vec_id", "e", *[deq(lvl).alias(f"dq{lvl}") for lvl in SQ_LEVELS]
    )
    q = v.filter(F.col("vec_id") < SQ8_N_QUERY).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("e")) * 1e6, 0)
            .cast("bigint")
            .alias("exact_ppm"),
            *[
                F.round(cosine(F.col("qe"), F.col(f"dq{lvl}")) * 1e6, 0)
                .cast("bigint")
                .alias(f"a{lvl}")
                for lvl in SQ_LEVELS
            ],
        )
    ).localCheckpoint(eager=False)
    exact10 = grouped_topk(
        scored, ["qid"], [F.desc("exact_ppm"), F.asc("vec_id")], SQ8_K
    ).select("qid", "vec_id")

    out = None
    for lvl in SQ_LEVELS:
        approx10 = grouped_topk(
            scored, ["qid"], [F.desc(f"a{lvl}"), F.asc("vec_id")], SQ8_K
        ).select("qid", "vec_id")
        hits = exact10.join(approx10, ["qid", "vec_id"], "left_semi").agg(
            F.count(F.lit(1)).alias("h")
        )
        row = hits.select(
            F.lit(lvl).cast("bigint").alias("q_levels"),
            F.col("h").cast("bigint").alias("n_hits"),
            F.floor(F.col("h") * 1_000_000 / F.lit(_SQ_TRADEOFF_POOL))
            .cast("bigint")
            .alias("recall_ppm"),
        )
        out = row if out is None else out.unionAll(row)
    return out


def _ranked_topk(scored: DataFrame, score_col: str, rank_name: str) -> DataFrame:
    """Bounded top-DEPTH list with deterministic ranks: TakeOrdered
    (orderBy + limit — per-partition partial top-k, no global sort)
    reduces to DEPTH rows, then row_number runs on the tiny frame.
    The window's constant partition key makes the single-task
    collapse EXPLICIT and bounded: the frame is <= DEPTH rows by
    construction (post-limit), so this is the constant-bounded
    exception to the no-unpartitioned-window rule (the
    operators/prefix.py offsets-pass argument, with DEPTH standing in
    for the partition count)."""
    top = scored.orderBy(F.desc(score_col), F.asc("doc_id")).limit(DEPTH)
    w = Window.partitionBy(F.lit(0)).orderBy(
        F.desc(score_col), F.asc("doc_id")
    )
    return top.select(
        "doc_id", F.row_number().over(w).cast("int").alias(rank_name)
    )


@register(
    "retrieval_hybrid_rrf",
    _rrf_oracle_sql(),
    doc="Hybrid lexical+dense retrieval fused by reciprocal-rank "
    "fusion (K=60): BM25 top-50 (operators/ranking.py index) and "
    "cosine top-50 vs the vec_id=0 query embedding, each reduced via "
    "TakeOrdered and ranked on ppm-quantized scores, full-outer-joined "
    "and scored 1/(K+rank) per list (absent = 0). Returns the fused "
    "top-20 with both source ranks — the standard no-calibration "
    "fusion for retrieval-backed corpus curation.",
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.ranking import bm25_scores

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    bm = bm25_scores(docs, BM25_QUERY_TERMS, k1=_BM25_K1, b=_BM25_B).select(
        "doc_id",
        F.round(F.col("bm25") * 1e6, 0).cast("bigint").alias("bm25_ppm"),
    )
    bm_ranked = _ranked_topk(bm, "bm25_ppm", "rank_bm25")

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    qe = as_double(F.col("qe"))
    ee = as_double(F.col("embedding"))
    vec_scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine(ee, qe) * 1e6, 0).cast("bigint").alias("cos_ppm"),
        )
    )
    vec_ranked = _ranked_topk(vec_scored, "cos_ppm", "rank_vec")

    rb, rv = F.col("rank_bm25"), F.col("rank_vec")
    fused = (
        bm_ranked.join(vec_ranked, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce(rb, F.lit(0)).alias("rank_bm25"),
            F.coalesce(rv, F.lit(0)).alias("rank_vec"),
            (
                F.when(rb.isNotNull(), F.lit(1.0) / (F.lit(RRF_K) + rb))
                .otherwise(F.lit(0.0))
                + F.when(rv.isNotNull(), F.lit(1.0) / (F.lit(RRF_K) + rv))
                .otherwise(F.lit(0.0))
            ).alias("rrf"),
        )
    )
    # fused is <= 2*DEPTH rows (union of two bounded lists) — the same
    # constant-bounded single-task window as _ranked_topk.
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.select(
            "doc_id",
            "rank_bm25",
            "rank_vec",
            F.round(F.col("rrf") * 1e6, 0).cast("bigint").alias("rrf_ppm"),
            F.row_number().over(w).cast("int").alias("fused_rank"),
        )
        .orderBy("fused_rank")
        .limit(TOP_N)
    )
