"""Text topic bucketing: k-means over hashed-TF document vectors
(LLM-curation extension, SURVEY §2.10/§2.20).

The embedding-side clustering family (queries/clustering.py) assumes a
vector column already exists; a curation pipeline often needs topic
buckets BEFORE any model runs — for mixture construction, per-topic
budgets, or topic-stratified eval splits. This entry composes the two
proven pieces end to end on TEXT: the hashed bag-of-words featurizer
(one md5 nibble per token → 16 buckets, the feature-hashing trick from
docs_chunk_hashtf_retrieval) with L2 normalization, then the
data-derived quantized-Lloyd k-means (operators/similarity.py::
kmeans_corpus_init — init at the k lowest doc_ids, every mean
quantized to 1e-6, assignment tie-break on (squared distance,
cluster_id)), whose full trajectory the oracle replays in SQL exactly
as clustering.py's scaffold does (cited: _kmeans_body — this module
parameterizes the same unrolled-round structure for 16-dim doc
vectors, k=4, 2 rounds).

Scale shape: featurization is a codegen projection (no Python, no
shuffle); each Lloyd round is one shuffle of k x dim partial means;
assignment is a per-row argmin over the literal centroid set. At
100 TB the featurizer slot is where a real embedding model plugs in
and the same clustering runs unchanged — exactly the SemDeDup
pipeline's topology. doc_id < 300 bounds the oracle's unrolled
cross joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_split,
    ws_split_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.session import evaluate_once

_DIM = 16
_K = 4
_DOC_BOUND = 300

def _lloyd_sql() -> str:
    """Unrolled 2-round quantized Lloyd over the ``emb`` CTE —
    clustering.py::_kmeans_body's structure, parameterized for
    {_DIM}-dim doc vectors and k={_K} (same init rule, same
    round(avg, 6) quantization, same (d2, cid) tie-break)."""
    d2 = "list_sum(list_transform(list_zip(emb.e, {c}.c), x -> (x[1]-x[2])**2))"

    def assign(name: str, cents: str) -> str:
        return f"""
{name} AS (
  SELECT vec_id, e, cid FROM (
    SELECT emb.vec_id, emb.e, {cents}.cid,
           row_number() OVER (PARTITION BY emb.vec_id
             ORDER BY {d2.format(c=cents)}, {cents}.cid) AS rn
    FROM emb CROSS JOIN {cents}) WHERE rn = 1)"""

    def update(name: str, prev_c: str, prev_a: str) -> str:
        return f"""
{name} AS (
  SELECT {prev_c}.cid, coalesce(mm.c, {prev_c}.c) AS c
  FROM {prev_c} LEFT JOIN (
    SELECT cid, list(m ORDER BY i) AS c FROM (
      SELECT cid, i, round(avg(e[i]), 6) AS m
      FROM {prev_a}, range(1, {_DIM + 1}) r(i) GROUP BY cid, i)
    GROUP BY cid) mm
  ON {prev_c}.cid = mm.cid)"""

    return f"""
init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, e AS c
  FROM (SELECT vec_id, e FROM emb ORDER BY vec_id LIMIT {_K})),
{assign("a0", "init")},
{update("c1", "init", "a0")},
{assign("a1", "c1")},
{update("c2", "c1", "a1")},
{assign("a2", "c2")}"""


def _hashtf_emb_sql(src: str, out: str) -> str:
    """The hashed-TF featurization chain in SQL, parameterized so the
    streaming twin (queries/topicstream.py) can featurize its incoming
    slice with the IDENTICAL formulation: (doc_id, text) relation
    ``src`` -> L2-normalized {_DIM}-dim unit vectors ``out``
    (vec_id, e); zero-norm docs excluded."""
    return f"""
{out}_tok AS (
  SELECT doc_id, {ws_split_sql('text')} AS t FROM {src}),
{out}_cnt AS (
  SELECT doc_id,
         position(substring(md5(tk), 1, 1) IN '0123456789abcdef') - 1 AS bk,
         count(*) AS c
  FROM (SELECT doc_id, unnest(t) AS tk FROM {out}_tok WHERE len(t) > 0)
  WHERE tk <> '' GROUP BY ALL),
{out}_vec AS (
  SELECT d.doc_id,
         list(CAST(coalesce({out}_cnt.c, 0) AS DOUBLE) ORDER BY r.i) AS v
  FROM (SELECT DISTINCT doc_id FROM {out}_cnt) d
  CROSS JOIN range(0, {_DIM}) r(i)
  LEFT JOIN {out}_cnt ON {out}_cnt.doc_id = d.doc_id AND {out}_cnt.bk = r.i
  GROUP BY d.doc_id),
{out} AS (
  SELECT doc_id AS vec_id,
         list_transform(v, x -> x / nullif(sqrt(list_inner_product(v, v)), 0))
           AS e
  FROM {out}_vec
  WHERE sqrt(list_inner_product(v, v)) > 0)"""


_TOPICS_ORACLE = f"""
WITH src AS (
  SELECT doc_id, text FROM documents WHERE doc_id < {_DOC_BOUND}),
{_hashtf_emb_sql("src", "emb")},
{_lloyd_sql()}
SELECT vec_id AS doc_id, CAST(cid AS BIGINT) AS topic
FROM a2
"""


@register(
    "docs_hashtf_kmeans_topics",
    _TOPICS_ORACLE,
    doc="Topic bucketing on TEXT, no embedding model required: hashed "
    "bag-of-words featurization (one md5 nibble per token -> 16 "
    "buckets, codegen projection) -> L2 normalization -> the "
    "data-derived quantized-Lloyd k-means (k=4, 2 rounds, means "
    "quantized to 1e-6, (d2, cid) tie-break), full trajectory "
    "SQL-replayed like the clustering.py scaffold. The featurizer "
    "slot is where a real embedding model plugs in; the clustering "
    "and its oracle run unchanged. doc_id < 300 bounds the oracle.",
)
def docs_hashtf_kmeans_topics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.similarity import (
        assign_to_centroid,
        kmeans_corpus_init,
    )

    d = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < _DOC_BOUND)
        .select("doc_id", "text")
    )
    emb = hashtf_unit_embeddings(d).localCheckpoint(
        eager=False
    )  # Lloyd rounds + final assignment
    cents = kmeans_corpus_init(
        emb, id_col="doc_id", vec_col="e", dim=_DIM, n_clusters=_K,
        n_iter=2,
    )
    return assign_to_centroid(emb, cents, "e").select(
        "doc_id", F.col("cluster_id").cast("bigint").alias("topic")
    )


def hashtf_unit_embeddings(d: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, e): the hashed bag-of-words
    featurizer (one md5 nibble per token -> {_DIM} buckets) with L2
    normalization — stateless and shuffle-free (streaming-safe, so the
    streaming twin runs it per micro-batch unchanged), staged as THREE
    projection segments separated by Generate barriers
    (``session.evaluate_once``; see the barrier comment below) rather
    than one collapsed projection. Token-less and zero-norm docs drop."""
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        dot,
    )

    bucket = lambda tk: (  # noqa: E731 - one md5 nibble, 0..15
        F.conv(F.substring(F.md5(tk), 1, 1), 16, 10).cast("int")
    )
    split = d.select(
        "doc_id",
        ws_split(F.col("text")).alias("t"),
    ).filter(F.size("t") > 0)
    toks = F.filter(F.col("t"), lambda tk: tk != "")
    bks = F.transform(toks, bucket)
    # ONE pass over the token array (r13 optimization, guide §1.2):
    # the old transform(sequence(0..15), i -> size(filter(bks, b==i)))
    # re-evaluated ``bks`` — one md5 per token — once PER BUCKET,
    # because Catalyst does not hoist loop-invariant subexpressions
    # out of lambda bodies (the same hazard operators/dedup.py
    # documents for shingles). The aggregate form evaluates ``bks``
    # once and folds each token into its bucket with 16 comparisons;
    # counts are small-integer-valued doubles either way, so the
    # vectors (and every downstream hash) are identical. Measured 3.5s
    # -> 0.9s for the bare featurizer over sf0.1 documents. Still a
    # pure projection — no shuffle, no rdd access — so the streaming
    # twin can keep running it per micro-batch unchanged.
    vec = F.aggregate(
        bks,
        F.array_repeat(F.lit(0.0), _DIM),
        lambda acc, b: F.transform(
            acc,
            lambda x, i: x
            + F.when(b == i, F.lit(1.0)).otherwise(F.lit(0.0)),
        ),
    )
    # Generate barriers (session.evaluate_once). Without them, any
    # consumer that cannot checkpoint this frame — the STREAMING twin
    # above all — collapses the whole chain into one projection where
    # the aggregate fold re-evaluates inside the norm lambda (per
    # element), the zero-norm filter, and the caller's
    # argmin-per-centroid lambda: ~25 featurizer evaluations per row.
    # Three barriers (after the histogram, after the norm, after the
    # unit vector) pin each stage to one evaluation. Measured on the
    # full sf0.1 featurize+argmin chain: ~3.0 s -> ~1.0 s (0 row diffs).
    base = split.select("doc_id", evaluate_once(vec).alias("v")).withColumn(
        "__norm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    base = base.select(
        "doc_id", evaluate_once(F.struct("v", "__norm")).alias("s")
    ).select(
        "doc_id", F.col("s.v").alias("v"), F.col("s.__norm").alias("__norm")
    )
    return (
        base.filter(F.col("__norm") > 0)
        .select(
            "doc_id",
            F.transform(
                F.col("v"), lambda x: x / F.col("__norm")
            ).alias("e"),
        )
        .select("doc_id", evaluate_once("e").alias("e"))
    )
