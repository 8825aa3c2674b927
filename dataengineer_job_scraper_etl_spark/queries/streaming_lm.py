"""Always-on perplexity scoring: the streaming serve twin of the
CCNet bigram-LM filter (queries/lm.py) — arriving documents scored
per micro-batch against a FROZEN reference-trained model and bucketed
by FROZEN per-source cutoffs (LLM-curation extension, SURVEY
§2.10/§2.19).

This is the production serving shape: the model (Zipf-bounded
distinct-bigram conditional MLE + unigram table + 2 scalar stats) is
trained ONCE on the corpus's reference slice; an always-on intake
stream scores each arriving doc with two stream-static LEFT joins
(broadcast here; a bucketed digest-keyed model table at real scale)
and assigns head/middle/tail by comparing against the corpus's FROZEN
tercile cutoffs — never re-ranking the corpus per batch, exactly the
frozen-monitor discipline of streaming_pc1_drift_monitor. The model's
(n, v) smoothing constants ride the streamed plan as literals (the
frozen tuple device of serve_and_maybe_retrain).

The streamed plan is STATELESS append (tokenize -> transitions ->
two static left joins -> per-transition -ln p into the memory sink),
so the micro-batch planner and the per-batch static joins sit inside
the verified path; the per-doc mean + bucket comparison run
post-drain (doc-keyed, batch-proportional). Docs with < 2 tokens
have no transitions and drop — both engines, inner semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.lm import (
    REF_MOD,
    _LAM_BIGRAM,
    _LAM_UNIGRAM,
    _N_BUCKETS,
    _OOV_HALF,
    bigram_neg_logprob,
    interp_prob,
    train_bigram_lm,
    transitions,
)
from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
    _DOCS_STREAM_SCHEMA,
    _drain,
)
from dataengineer_job_scraper_etl_spark.session import evaluate_once
from dataengineer_job_scraper_etl_spark.staging import (
    stage_once,
    write_ordered_batches,
)

# corpus = doc_id % 10 < 8 (frozen side; its % REF_MOD == 0 slice
# trains the LM); arriving = % 10 >= 8, staged as 2 micro-batches
_CORPUS_MOD, _CORPUS_LT = 10, 8


def _stage_lmserve_dir(spark: SparkSession, sf_dir: str) -> str:
    """A 2-file queue of ARRIVING documents (doc_id % 10 >= 8 of the
    fixture, split even/odd across micro-batches). Shared staging
    protocol (staging.py)."""
    src = os.path.join(sf_dir, "documents.parquet")

    def build(staged: str) -> None:
        d = (
            read_parquet(spark, src)
            .filter(F.col("doc_id") % _CORPUS_MOD >= _CORPUS_LT)
            .select("doc_id", "source", "text")
        )
        write_ordered_batches(
            staged,
            [d.filter(F.col("doc_id") % 2 == 0),
             d.filter(F.col("doc_id") % 2 == 1)],
        )

    return stage_once(src, "lmserve", build)


def _lm_serve_oracle() -> str:
    score = (
        f"{_LAM_BIGRAM} * coalesce(p.p_big, 0.0)"
        f" + {_LAM_UNIGRAM} * ((coalesce(u.c_uni, 0.0) + {_OOV_HALF})"
        f" / (coalesce(stats.n, 0.0) + {_OOV_HALF} * (stats.v + 1.0)))"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         {ws_tokens_sql('text')} AS t
  FROM documents),
co AS (SELECT doc_id, source, t FROM tok
       WHERE doc_id % {_CORPUS_MOD} < {_CORPUS_LT}),
ba AS (SELECT doc_id, source, t FROM tok
       WHERE doc_id % {_CORPUS_MOD} >= {_CORPUS_LT}),
ref AS (SELECT t FROM co WHERE doc_id % {REF_MOD} = 0),
uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c_uni
        FROM (SELECT unnest(t) AS tok FROM ref) GROUP BY tok),
stats AS (SELECT CAST(sum(c_uni) AS DOUBLE) AS n,
                 CAST(count(*) AS DOUBLE) AS v FROM uni),
ref_tr AS (
  SELECT pc.prev AS prev, pc.cur AS cur
  FROM (SELECT unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM ref WHERE len(t) >= 2)),
big AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS c_big
        FROM ref_tr GROUP BY prev, cur),
ctx AS (SELECT prev, CAST(sum(c_big) AS DOUBLE) AS c_ctx
        FROM big GROUP BY prev),
probs AS (SELECT b.prev, b.cur, b.c_big / x.c_ctx AS p_big
          FROM big b JOIN ctx x ON x.prev = b.prev),
co_tr AS (
  SELECT doc_id, pc.prev AS prev, pc.cur AS cur
  FROM (SELECT doc_id,
               unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM co WHERE len(t) >= 2)),
co_scored AS (
  SELECT tr.doc_id, round(avg(-ln({score})), 6) AS s
  FROM co_tr tr
  LEFT JOIN probs p ON p.prev = tr.prev AND p.cur = tr.cur
  LEFT JOIN uni u ON u.tok = tr.cur
  CROSS JOIN stats
  GROUP BY tr.doc_id),
co_b AS (
  SELECT c.source, sc.s,
         ntile({_N_BUCKETS}) OVER (PARTITION BY c.source
                                   ORDER BY sc.s, sc.doc_id) AS b
  FROM co_scored sc JOIN co c USING (doc_id)),
cuts AS (
  SELECT source,
         max(CASE WHEN b = 1 THEN s END) AS c1,
         max(CASE WHEN b = 2 THEN s END) AS c2
  FROM co_b GROUP BY source),
ba_tr AS (
  SELECT doc_id, source, pc.prev AS prev, pc.cur AS cur
  FROM (SELECT doc_id, source,
               unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM ba WHERE len(t) >= 2)),
ba_scored AS (
  SELECT tr.doc_id, tr.source,
         CAST(count(*) AS BIGINT) AS n_transitions,
         round(avg(-ln({score})), 6) AS avg_neg_logprob
  FROM ba_tr tr
  LEFT JOIN probs p ON p.prev = tr.prev AND p.cur = tr.cur
  LEFT JOIN uni u ON u.tok = tr.cur
  CROSS JOIN stats
  GROUP BY tr.doc_id, tr.source)
SELECT b.doc_id, b.source, b.n_transitions, b.avg_neg_logprob,
       CAST(CASE WHEN b.avg_neg_logprob <= k.c1 THEN 1
                 WHEN b.avg_neg_logprob <= k.c2 THEN 2
                 ELSE 3 END AS INT) AS ppl_bucket
FROM ba_scored b LEFT JOIN cuts k USING (source)
"""


@register(
    "streaming_bigram_ppl_ingest",
    _lm_serve_oracle(),
    doc="ALWAYS-ON perplexity scoring: arriving docs scored per "
    "micro-batch against the frozen reference-trained bigram LM via "
    "two stream-static LEFT joins (model tables broadcast; smoothing "
    "constants as frozen literals in the streamed plan) and bucketed "
    "by the corpus's FROZEN per-source tercile cutoffs — the serving "
    "twin of docs_bigram_perplexity, never re-ranking the corpus per "
    "batch. Streamed plan is STATELESS append into the memory sink "
    "(per-transition -ln p); the doc mean + cutoff comparison run "
    "post-drain, batch-proportional. Sources absent from the corpus "
    "fall to bucket 3 (no cutoffs -> nothing is provably fluent).",
)
def streaming_bigram_ppl_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    corpus = docs.filter(F.col("doc_id") % _CORPUS_MOD < _CORPUS_LT)
    ref = corpus.filter(F.col("doc_id") % REF_MOD == 0)

    # frozen model: tables broadcast into the stream, scalars as
    # literals (bounded collect: ONE row). stats is re-derived from the
    # CHECKPOINTED uni (same expressions as train_bigram_lm's) so the
    # collect below materializes the checkpoint instead of re-running
    # the training chain beside it.
    probs, uni, _stats = train_bigram_lm(ref)
    probs = probs.localCheckpoint(eager=False)
    uni = uni.localCheckpoint(eager=False)
    stats = uni.agg(
        F.sum("c_uni").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    n_v = stats.collect()[0]
    n = float(n_v["n"] if n_v["n"] is not None else 0.0)
    v = float(n_v["v"])

    # frozen per-source cutoffs from the corpus's own scored ranking.
    # The model is passed IN (r13 optimization): bigram_neg_logprob
    # would otherwise re-train the identical LM — one full duplicate
    # reference tokenize + bigram/unigram count chain per run.
    corpus_scored = bigram_neg_logprob(
        corpus, model=(probs, uni, stats)
    ).join(corpus.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("avg_neg_logprob", "doc_id")
    co_b = corpus_scored.withColumn("b", F.ntile(_N_BUCKETS).over(w))
    cuts = co_b.groupBy("source").agg(
        F.max(F.when(F.col("b") == 1, F.col("avg_neg_logprob"))).alias("c1"),
        F.max(F.when(F.col("b") == 2, F.col("avg_neg_logprob"))).alias("c2"),
    )

    # the streamed plan: tokenize -> transitions -> static left joins
    # -> per-transition -ln p, append mode
    d = _stage_lmserve_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    # Generate barrier (session.evaluate_once): on this STREAMING
    # frame (no checkpoint possible) the plain alias form collapsed
    # into transitions()' pair expression, where ``t`` appears four
    # times — four tokenize passes per row. Measured on the batch twin
    # of this exact projection: 0.4-0.7 s -> 0.2-0.3 s per pass, 0 row
    # diffs.
    tokd = stream.select(
        "doc_id",
        "source",
        evaluate_once(ws_tokens(F.col("text"))).alias("t"),
    )
    tr = transitions(tokd, ["doc_id", "source"])
    scored_rows = (
        tr.join(F.broadcast(probs), ["prev", "cur"], "left")
        .join(F.broadcast(uni.withColumnRenamed("tok", "cur")), "cur", "left")
        .select(
            "doc_id",
            "source",
            (-F.log(interp_prob(n, v))).alias("nlp"),
        )
    )
    rows = _drain(scored_rows, spark, output_mode="append")

    scored = rows.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.round(F.avg("nlp"), 6).alias("avg_neg_logprob"),
    )
    s = F.col("avg_neg_logprob")
    return scored.join(F.broadcast(cuts), "source", "left").select(
        "doc_id",
        "source",
        "n_transitions",
        "avg_neg_logprob",
        F.when(s <= F.col("c1"), 1)
        .when(s <= F.col("c2"), 2)
        .otherwise(3)
        .cast("int")
        .alias("ppl_bucket"),
    )
