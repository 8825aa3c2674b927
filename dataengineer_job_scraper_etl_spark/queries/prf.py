"""Pseudo-relevance-feedback query expansion over ``documents``
(retrieval extension, SURVEY §2.10/§2.20).

Rocchio/RM-style PRF — the classic two-pass retrieval loop: run the
query, mine expansion terms from the top feedback documents, rerun
the expanded query. The interesting engineering is that the second
pass's query is DATA-DEPENDENT: the static-column BM25 of
operators/ranking.py (one tf column per literal term) cannot express
it, so the second pass uses the JOIN formulation — query terms live
in a (bounded) term TABLE, postings join against it, per-term scores
sum per doc. That join-based BM25 is exactly the shape a dynamic /
programmatic query workload needs at scale: the posting explode runs
once, the term table broadcasts, and nothing corpus-sized ever sits
on the build side.

Expansion selection (RM1-lite with an idf reweight): from the
first-pass top-FB_DOCS documents, each candidate term scores
sum_d tf(t,d)/dl(d) * ln(N/df_corpus(t)) — relevance-model mass times
rarity — original query terms excluded, top FB_TERMS kept with
term-string tiebreaks. On this synthetic corpus the picked terms are
generic (the vocabulary is ~30 words, all high-df); the entry pins
the MACHINERY deterministically — production swaps the corpus, not
the plan. Both passes, the term mining, and the final fusion replay
in DuckDB SQL, so the hash pins the expansion choice itself.

Scale shape (the 100 TB story): pass 1 is the static-column BM25
(one tokenize scan, 1-row stats broadcast, TakeOrdered top-10);
term mining runs on 10 bounded docs joined against the vocabulary-
sized df table; pass 2 explodes tokens ONCE into postings and
broadcast-joins the <= |query|+FB_TERMS term table; final ranking is
another TakeOrdered. No global sorts, no UDFs, two corpus scans
total (one per pass — the pass-2 rescore cannot reuse pass 1's
per-literal-term columns precisely because the terms are not known
until pass 1 finishes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
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
    BM25_QUERY_TERMS,
    _bm25_oracle_sql,
)

FB_DOCS = 10  # feedback depth: top-10 first-pass docs
FB_TERMS = 5  # expansion terms mined
PRF_TOP_N = 20  # final rows returned

def _prf_oracle_sql() -> str:
    bm25 = _bm25_oracle_sql(BM25_QUERY_TERMS, _BM25_K1, _BM25_B)
    orig_list = ", ".join(
        f"('{t}')" for t in sorted({t.lower() for t in BM25_QUERY_TERMS})
    )
    return f"""
WITH first_pass AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY bm25_ppm DESC, doc_id ASC) AS INT)
           AS rank_first
  FROM ({bm25}) bm
  ORDER BY rank_first LIMIT {FB_DOCS}),
tok AS (
  SELECT doc_id, {ws_tokens_sql('text')} AS toks FROM documents),
posting AS (
  SELECT doc_id, unnest(toks) AS term, len(toks) AS dl
  FROM tok),
ptf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, any_value(dl) AS dl
  FROM posting WHERE term <> '' GROUP BY doc_id, term),
cstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(dl) AS avgdl
  FROM (SELECT doc_id, any_value(dl) AS dl FROM ptf GROUP BY doc_id)),
cdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM ptf GROUP BY term),
orig(term) AS (VALUES {orig_list}),
mined AS (
  SELECT p.term,
         -- quantize-then-sum: per-row tf/dl rounds to ppm BIGINT
         -- before the cross-row sum, so the relevance mass is an
         -- exact integer under any partitioning; the idf reweight is
         -- one double multiply of that exact integer
         CAST(round(sum(CAST(round(p.tf * 1e6 / p.dl) AS BIGINT))
                    * ln((SELECT n_docs FROM cstats) * 1.0 / c.df))
              AS BIGINT) AS w_ppm
  FROM ptf p
  JOIN first_pass f ON p.doc_id = f.doc_id
  JOIN cdf c ON p.term = c.term
  WHERE p.term NOT IN (SELECT term FROM orig)
  GROUP BY p.term, c.df),
expansion AS (
  SELECT term FROM mined
  ORDER BY w_ppm DESC, term ASC LIMIT {FB_TERMS}),
query2 AS (
  SELECT term FROM orig UNION SELECT term FROM expansion),
scored2 AS (
  SELECT p.doc_id,
         -- per-term score quantized to ppm BEFORE the per-doc sum
         -- (same order-independence device as the mined weights)
         sum(CAST(round(
             ln(1 + (s.n_docs - c.df + 0.5) / (c.df + 0.5))
             * (p.tf * ({_BM25_K1} + 1))
             / (p.tf + {_BM25_K1}
                * (1 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
             * 1e6) AS BIGINT)) AS bm25_ppm
  FROM ptf p
  JOIN query2 q ON p.term = q.term
  JOIN cdf c ON p.term = c.term
  CROSS JOIN cstats s
  GROUP BY p.doc_id)
SELECT s.doc_id,
       CAST(s.bm25_ppm AS BIGINT) AS bm25_ppm,
       CAST(row_number() OVER (ORDER BY s.bm25_ppm DESC,
                               s.doc_id ASC) AS INT) AS rank_expanded,
       CAST(coalesce(f.rank_first, 0) AS INT) AS rank_first
FROM scored2 s
LEFT JOIN first_pass f ON s.doc_id = f.doc_id
ORDER BY rank_expanded LIMIT {PRF_TOP_N}
"""


@register(
    "retrieval_prf_expansion",
    _prf_oracle_sql(),
    doc="Pseudo-relevance-feedback expansion (Rocchio/RM-lite): BM25 "
    "first pass -> top-10 feedback docs -> expansion terms by "
    "sum(tf/dl)*ln(N/df) (original terms excluded, top-5, ppm-"
    "quantized weights with term tiebreaks) -> second-pass BM25 in "
    "the JOIN formulation (the term table is data-dependent, so "
    "per-literal-term columns cannot express it) -> final top-20 "
    "with both ranks. The whole loop — both passes AND the mined "
    "term choice — replays in SQL, so the hash pins the expansion "
    "itself.",
)
def retrieval_prf_expansion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.ranking import (
        bm25_scores,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # pass 1: static-column BM25 (terms are literals), bounded top-10
    bm = bm25_scores(docs, BM25_QUERY_TERMS, k1=_BM25_K1, b=_BM25_B).select(
        "doc_id",
        F.round(F.col("bm25") * 1e6, 0).cast("bigint").alias("bm25_ppm"),
    )
    w1 = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("bm25_ppm"), F.asc("doc_id")
    )
    # Staged (r13 optimization): first_pass feeds the feedback-doc
    # mining join AND the final rank join — without the checkpoint
    # each consumer re-ran the ENTIRE pass-1 corpus BM25 (10 rows
    # materialized; the bound is FB_DOCS).
    first_pass = (
        bm.orderBy(F.desc("bm25_ppm"), F.asc("doc_id"))
        .limit(FB_DOCS)
        .select("doc_id", F.row_number().over(w1).cast("int")
                .alias("rank_first"))
        .localCheckpoint(eager=False)
    )

    # shared posting index for mining + pass 2 (ONE tokenize scan)
    tokd = docs.select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    posting = tokd.select(
        "doc_id", F.explode("toks").alias("term"), F.size("toks").alias("dl")
    ).filter(F.col("term") != "")
    ptf = posting.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    ).localCheckpoint(eager=False)
    # cstats (1 row) and cdf (vocabulary-sized) each feed the mining
    # pass AND pass 2 — staged once so each consumer reads the
    # materialized rows instead of re-aggregating the posting index
    # (r13 optimization; ptf itself was already checkpointed).
    cstats = (
        ptf.groupBy("doc_id").agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
        .localCheckpoint(eager=False)
    )
    cdf = (
        ptf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint(eager=False)
    )

    orig = sorted({t.lower() for t in BM25_QUERY_TERMS})
    mined = (
        ptf.join(F.broadcast(first_pass.select("doc_id")), "doc_id")
        .filter(~F.col("term").isin(orig))
        .join(cdf, "term")
        .crossJoin(F.broadcast(cstats))
        .groupBy("term")
        .agg(
            # quantize-then-sum (the catalog's order-independence
            # device): per-row tf/dl rounds to a ppm BIGINT before the
            # cross-row sum; the idf reweight is one double multiply
            # of the exact integer mass
            F.round(
                F.sum(
                    F.round(F.col("tf") * 1e6 / F.col("dl"), 0)
                    .cast("bigint")
                )
                * F.log(F.first("n_docs") / F.first("df")),
                0,
            )
            .cast("bigint")
            .alias("w_ppm")
        )
    )
    expansion = mined.orderBy(F.desc("w_ppm"), F.asc("term")).limit(
        FB_TERMS
    ).select("term")
    query2 = expansion.unionByName(
        spark.createDataFrame([(t,) for t in orig], "term string")
    ).distinct()

    # pass 2: join-formulation BM25 against the dynamic term table
    term_score = (
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        * (F.col("tf") * (_BM25_K1 + 1))
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored2 = (
        ptf.join(F.broadcast(query2), "term")
        .join(cdf, "term")
        .crossJoin(F.broadcast(cstats))
        .groupBy("doc_id")
        # per-term ppm quantization BEFORE the per-doc sum: the score
        # is an exact integer under any partial-aggregation order
        .agg(
            F.sum(F.round(term_score * 1e6, 0).cast("bigint"))
            .cast("bigint")
            .alias("bm25_ppm")
        )
    )
    w2 = Window.partitionBy(F.lit(0)).orderBy(
        F.desc("bm25_ppm"), F.asc("doc_id")
    )
    return (
        scored2.orderBy(F.desc("bm25_ppm"), F.asc("doc_id"))
        .limit(PRF_TOP_N)
        .select(
            "doc_id",
            "bm25_ppm",
            F.row_number().over(w2).cast("int").alias("rank_expanded"),
        )
        .join(first_pass, "doc_id", "left")
        .select(
            "doc_id",
            "bm25_ppm",
            "rank_expanded",
            F.coalesce(F.col("rank_first"), F.lit(0)).cast("int")
            .alias("rank_first"),
        )
    )
