"""Graded retrieval-quality evaluation (nDCG@10 / MRR / hits@10) of a
query-by-document lexical ranker against a dense gold standard.

A corpus-curation retrieval stack needs an EVAL harness, not just
rankers: given graded relevance judgments, score each system list with
the standard graded metrics. The catalog's ANN entries pin recall
floors; nothing yet computes nDCG/MRR — the numbers a retrieval tier
is actually tuned against. This entry closes that gap with a fully
deterministic, cross-engine-hashable instance:

- **Queries** are the five alignment documents (doc_id < 5; doc_id ==
  vec_id per TESTDATA.md) — query-by-document, the "more like this"
  operation dataset curation uses to expand a seed set.
- **System** = MLT-BM25: Okapi scoring (operators/ranking.py's exact
  formula, same k1/b as text_bm25_ranking) where the query terms are
  the query document's own tokens weighted by their query-side tf
  (the qtf factor of the full Robertson formulation with k3 -> inf).
  Unlike bm25_scores' bounded-literal-term shape, MLT terms are
  data-dependent, so this takes the explode/postings formulation:
  one corpus tokenize scan -> (doc, term, tf) postings, broadcast
  term-df + 1-row stats, broadcast 5-query term profile, partial-agg
  the per-(query, doc) score. At 100 TB the postings frame shuffles
  once on (qid, doc_id) — vocabulary and query side never grow with
  the corpus.
- **Gold** = the exact dense cosine top-20 per query (the
  vec_cosine_topk device), graded 3/2/1 by rank band (1-5 / 6-10 /
  11-20) — pooled-judgment grading, so lexical-vs-dense agreement is
  what the metrics measure (genuinely non-degenerate: the two rankers
  order differently).

Determinism (the device that makes graded float metrics hashable):
every per-term BM25 contribution is quantized to ppb BIGINT *before*
the per-document sum, so the group-by sum is exact integer arithmetic
on both engines (a raw double sum would be summation-order-dependent
across partitionings); the DCG discounts 1/log2(r+1) are TEN LITERAL
ppb constants rendered into both the Spark plan and the oracle SQL
from the same Python tuple (no cross-engine transcendental calls);
gains 2^rel - 1 are exact small ints. dcg_ppb is therefore an exact
BIGINT, and the only float steps left are the final
dcg/idcg * 1e6 and 1e6/rank divisions — identical op order on both
engines, ppm-rounded half-up.

IDCG@10 is a CONSTANT: gold always carries exactly 20 docs graded
five 3s, five 2s, ten 1s, so the ideal top-10 gain vector is fixed
(7 x5, 3 x5) — the corpus only needs > 20 embeddings, true at every
fixture rung.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.text import (
    _BM25_B,
    _BM25_K1,
)

N_QUERY_DOCS = 5  # doc_id < 5, aligned with the dense qids (vec_id < 5)
SYS_K = 10  # system list depth the metrics are computed at
GOLD_DEPTH = 20  # dense gold pool size per query
# graded relevance by gold rank band: 1-5 -> 3, 6-10 -> 2, 11-20 -> 1
# (pooled-judgment grading); gain(rel) = 2^rel - 1
_GAIN = {3: 7, 2: 3, 1: 1}
# DCG rank discounts 1/log2(r+1), r = 1..10, as ppb literals — the
# SINGLE source both engines render from (no runtime log2 anywhere)
DISCOUNT_PPB = tuple(
    round(1e9 / math.log2(r + 1)) for r in range(1, SYS_K + 1)
)
# ideal top-10 of the fixed gold grade multiset {3 x5, 2 x5, 1 x10}
IDCG_PPB = sum(7 * DISCOUNT_PPB[i] for i in range(5)) + sum(
    3 * DISCOUNT_PPB[i] for i in range(5, 10)
)

def _mlt_eval_oracle() -> str:
    discounts = ", ".join(str(d) for d in DISCOUNT_PPB)
    return f"""
WITH toks AS (
  SELECT doc_id, {ws_tokens_sql('text')} AS t FROM documents),
tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
  GROUP BY doc_id, dl, term),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(len(t)) AS avgdl
  FROM toks),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
q AS (SELECT doc_id AS qid, term, tf AS tf_q
      FROM tf WHERE doc_id < {N_QUERY_DOCS}),
w AS (
  SELECT q.qid, c.doc_id,
         CAST(round(q.tf_q
           * ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (c.tf * ({_BM25_K1} + 1))
           / (c.tf + {_BM25_K1}
              * (1 - {_BM25_B} + {_BM25_B} * c.dl / s.avgdl))
           * 1e9) AS BIGINT) AS w_ppb
  FROM q
  JOIN tf c ON c.term = q.term AND c.doc_id <> q.qid
  JOIN df ON df.term = q.term
  CROSS JOIN stats s),
score AS (
  SELECT qid, doc_id, sum(w_ppb) AS score_ppb FROM w GROUP BY qid, doc_id),
sys10 AS (
  SELECT qid, doc_id, rnk FROM (
    SELECT qid, doc_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score_ppb DESC, doc_id ASC) AS rnk
    FROM score)
  WHERE rnk <= {SYS_K}),
gold AS (
  SELECT qid, vec_id,
         CASE WHEN grnk <= 5 THEN 3 WHEN grnk <= 10 THEN 2 ELSE 1 END AS rel
  FROM (
    SELECT qv.vec_id AS qid, e.vec_id,
           row_number() OVER (
             PARTITION BY qv.vec_id
             ORDER BY list_cosine_similarity(
                        CAST(qv.embedding AS DOUBLE[]),
                        CAST(e.embedding AS DOUBLE[])) DESC,
                      e.vec_id ASC) AS grnk
    FROM embeddings qv CROSS JOIN embeddings e
    WHERE qv.vec_id < {N_QUERY_DOCS} AND e.vec_id <> qv.vec_id)
  WHERE grnk <= {GOLD_DEPTH}),
joined AS (
  SELECT s.qid, s.rnk, coalesce(g.rel, 0) AS rel
  FROM sys10 s LEFT JOIN gold g
    ON g.qid = s.qid AND g.vec_id = s.doc_id),
m AS (
  SELECT qid,
         sum(CAST(CASE rel WHEN 3 THEN 7 WHEN 2 THEN 3 WHEN 1 THEN 1
              ELSE 0 END AS BIGINT) * ([{discounts}][rnk])) AS dcg_ppb,
         min(CASE WHEN rel >= 1 THEN rnk END) AS first_rel,
         sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS hits
  FROM joined GROUP BY qid)
SELECT qid,
       CAST(round(CAST(dcg_ppb AS DOUBLE) / {IDCG_PPB} * 1e6) AS BIGINT)
         AS ndcg10_ppm,
       CAST(coalesce(round(1e6 / first_rel), 0) AS BIGINT) AS mrr_ppm,
       CAST(hits AS BIGINT) AS hits_at10,
       CAST(dcg_ppb AS BIGINT) AS dcg_ppb
FROM m
"""


def graded_metrics(judged: DataFrame) -> DataFrame:
    """Per-query graded metrics from a judged system list.

    ``judged``: (qid, rnk, rel) with rnk = 1..SYS_K contiguous and rel
    the graded relevance (0 = not in gold). Returns one row per qid:
    ndcg10_ppm, mrr_ppm, hits_at10, dcg_ppb. Pure integer DCG (ppb
    discounts x 2^rel - 1 gains) so the aggregate is
    summation-order-free; see module docstring for the op-order
    contract the ppm roundings follow."""
    discount = F.element_at(
        F.array(*[F.lit(d) for d in DISCOUNT_PPB]), F.col("rnk")
    )
    gain = (
        F.when(F.col("rel") == 3, F.lit(7))
        .when(F.col("rel") == 2, F.lit(3))
        .when(F.col("rel") == 1, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    m = judged.groupBy("qid").agg(
        F.sum(gain * discount).alias("dcg_ppb"),
        F.min(
            F.when(F.col("rel") >= 1, F.col("rnk"))
        ).alias("first_rel"),
        F.sum((F.col("rel") >= 1).cast("long")).alias("hits"),
    )
    return m.select(
        "qid",
        F.round(
            F.col("dcg_ppb").cast("double") / F.lit(IDCG_PPB) * 1e6, 0
        )
        .cast("bigint")
        .alias("ndcg10_ppm"),
        F.coalesce(
            F.round(F.lit(1e6) / F.col("first_rel"), 0), F.lit(0.0)
        )
        .cast("bigint")
        .alias("mrr_ppm"),
        F.col("hits").cast("bigint").alias("hits_at10"),
        F.col("dcg_ppb").cast("bigint").alias("dcg_ppb"),
    )


def mlt_bm25_scores(
    docs: DataFrame, n_query_docs: int = N_QUERY_DOCS
) -> DataFrame:
    """(qid, doc_id, score_ppb): query-by-document Okapi BM25 where
    each query is a document's own tf profile (qtf-weighted, k3 ->
    inf). Postings formulation — data-dependent term sets rule out
    bm25_scores' bounded-column shape; see module docstring for the
    scale/broadcast layout. score_ppb is an exact integer (per-term
    ppb quantization BEFORE the sum)."""

    base = docs.select(
        "doc_id", ws_tokens(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)
    # the postings frame feeds THREE consumers (scoring probe, term-df
    # aggregate, the query-profile filter) — materialize it like the
    # bm25 index or each consumer re-runs the explode + groupBy
    tf = (
        base.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    stats = base.select(F.size("toks").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = tf.filter(F.col("doc_id") < n_query_docs).select(
        F.col("doc_id").alias("qid"),
        F.col("term"),
        F.col("tf").alias("tf_q"),
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    saturated = (F.col("tf") * (_BM25_K1 + 1)) / (
        F.col("tf")
        + _BM25_K1
        * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    w = (
        tf.join(F.broadcast(qterms), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            F.round(F.col("tf_q") * idf * saturated * 1e9, 0)
            .cast("long")
            .alias("w_ppb"),
        )
    )
    return w.groupBy("qid", "doc_id").agg(
        F.sum("w_ppb").alias("score_ppb")
    )


@register(
    "retrieval_mlt_eval_metrics",
    _mlt_eval_oracle(),
    doc="Graded IR eval harness: nDCG@10, MRR and hits@10 of the "
    "MLT-BM25 query-by-document ranker (5 seed docs, qtf-weighted "
    "Okapi over one postings scan) against the dense exact-cosine "
    "top-20 gold graded 3/2/1 by rank band. DCG is exact integer "
    "arithmetic (literal ppb discounts shared with the oracle, "
    "per-term ppb quantization before every sum) so the driver hash "
    "pins the full metric surface, not floors. One corpus tokenize "
    "scan; the postings aggregate and the per-(qid, doc_id) score "
    "aggregate are the two corpus-scale shuffles; query profile, "
    "term-df and stats frames broadcast — no JOIN scales with the "
    "corpus.",
)
def retrieval_mlt_eval_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        as_double,
        cosine,
    )
    from dataengineer_job_scraper_etl_spark.operators.topk import (
        grouped_topk,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    score = mlt_bm25_scores(docs)
    sys10 = grouped_topk(
        score, ["qid"], [F.desc("score_ppb"), F.asc("doc_id")], SYS_K
    ).select("qid", "doc_id", "rnk")

    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < N_QUERY_DOCS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    qe = as_double(F.col("qe"))
    ee = as_double(F.col("embedding"))
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(qe, ee).alias("sim"))
    )
    gold = grouped_topk(
        scored,
        ["qid"],
        [F.desc("sim"), F.asc("vec_id")],
        GOLD_DEPTH,
        rank_col="grnk",
    ).select(
        "qid",
        "vec_id",
        F.when(F.col("grnk") <= 5, F.lit(3))
        .when(F.col("grnk") <= 10, F.lit(2))
        .otherwise(F.lit(1))
        .alias("rel"),
    )
    judged = (
        sys10.join(
            F.broadcast(gold),
            (sys10.qid == gold.qid) & (sys10.doc_id == gold.vec_id),
            "left",
        )
        .select(
            sys10.qid,
            "rnk",
            F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
        )
    )
    return graded_metrics(judged)
