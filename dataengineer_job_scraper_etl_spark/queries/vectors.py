"""Similarity search over the ``embeddings`` fixture (north star,
SURVEY §2.10): brute-force cosine top-k as the correctness baseline,
LSH-bucketed candidate generation as the 100 TB path (operators/
similarity.py; rows-only checked because hash families are
engine-specific).

The dot product / norms are pure ``zip_with`` + ``aggregate`` built-in
higher-order functions — JVM-side, no Python boundary, codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.vector_math import (
    as_double,
    cosine,
    dot,
    l2_norm,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet

N_QUERY_VECS = 5  # queries are vec_id < 5; bounds the oracle's work
TOP_K = 10


@register(
    "vec_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
scored AS (
  SELECT q.qid, e.vec_id,
         round(list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])), 6)
           AS cos_sim,
         row_number() OVER (
           PARTITION BY q.qid
           ORDER BY list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[]))
                      DESC, e.vec_id ASC
         ) AS rnk
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.qid)
SELECT qid, vec_id, cos_sim, rnk FROM scored WHERE rnk <= {TOP_K}
""",
    doc="Brute-force cosine top-k: tiny query side broadcast against "
    "the corpus, ranked per query. The corpus is never shuffled — only "
    "(qid, vec_id, sim) rows move, and at scale the per-query top-k "
    "can be pushed into a partial TakeOrdered per partition.",
)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    q = (
        e.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    )
    # Cast float arrays to double BEFORE the arithmetic so both engines
    # accumulate in float64 (DuckDB list_cosine_similarity promotes).
    qe = as_double(F.col("qe"))
    ee = as_double(F.col("embedding"))
    # Per-side norms hoisted out of the pair loop (r13 optimization,
    # the graphrank device): dot/(qn*en) is the bit-identical cosine
    # with each norm folded once per row instead of once per pair.
    q2 = q.withColumn("__qn", l2_norm(qe))
    e2 = e.withColumn("__en", l2_norm(ee))
    scored = (
        F.broadcast(q2)
        .crossJoin(e2)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (dot(qe, ee) / (F.col("__qn") * F.col("__en"))).alias("sim"),
        )
    )
    # grouped top-k (operators/topk.py): Catalyst prunes each input
    # partition to its top-k per qid before the qid shuffle.
    from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

    return grouped_topk(
        scored, ["qid"], [F.desc("sim"), F.asc("vec_id")], TOP_K
    ).select("qid", "vec_id", F.round("sim", 6).alias("cos_sim"), "rnk")


@register(
    "vec_label_centroid_norms",
    """
WITH per_dim AS (
  SELECT label, i, avg(embedding[i]) AS c
  FROM embeddings, range(1, 65) r(i)
  GROUP BY label, i)
SELECT label, round(sqrt(sum(c * c)), 6) AS centroid_norm
FROM per_dim GROUP BY label
""",
    doc="Per-label centroid (the IVF coarse-quantizer build step): "
    "elementwise mean via zip_with partial sums, then L2 norm. "
    "Aggregates arrays JVM-side; one shuffle on label.",
)
def vec_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet")
    ed = as_double(F.col("embedding"))
    # posexplode -> per-(label, dim) partial means: fully distributed,
    # no per-group vector materialization (collect_list would hold all
    # group vectors in one aggregation buffer — wrong shape at scale).
    per_dim = (
        e.select("label", F.posexplode(ed).alias("i", "x"))
        # oracle's range(1,65) is 1-based
        .select("label", (F.col("i") + 1).alias("i"), "x")
        .groupBy("label", "i")
        .agg(F.avg("x").alias("c"))
    )
    return per_dim.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm")
    )


@register(
    "vec_neardup_cosine_pairs",
    """
WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
             FROM embeddings WHERE vec_id < 500)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
FROM sub a JOIN sub b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.4
""",
    doc="Embedding-cosine near-dup pairs above a threshold on a bounded "
    "slice (exact formulation; the fixture embeddings are random so 0.4 "
    "is the 'near' regime. The LSH-bucketed scale path is "
    "operators/similarity.py, rows-only checked).",
)
def vec_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 500
    )
    a = e.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea")
    )
    b = e.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb")
    )
    ea = as_double(F.col("ea"))
    eb = as_double(F.col("eb"))
    sim = cosine(ea, eb)
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim_raw", sim)
        .filter(F.col("cos_sim_raw") > 0.4)
        .select("id_a", "id_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )


@register(
    "vec_quantize_int8_stats",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 500),
scaled AS (
  SELECT vec_id,
         list_max(list_transform(e, x -> abs(x))) AS maxabs,
         e
  FROM v)
SELECT vec_id,
       round(maxabs, 6) AS scale,
       CAST(list_sum(list_transform(e, x -> abs(floor(x * 127.0 / maxabs))))
            AS BIGINT) AS l1_quantized
FROM scaled WHERE maxabs > 0
""",
    doc="Int8 scalar quantization of embeddings (the storage-shrink "
    "step before ANN serving): per-vector max-abs scale, floor to "
    "[-127,127]. floor (not round) on both sides — engines disagree "
    "on .5 rounding modes, floor never does. Output is the per-vector "
    "L1 checksum of the quantized codes: array cells are not "
    "canonicalizer-hashable, the checksum pins every code value.",
)
def vec_quantize_int8_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 500
    )
    ed = as_double(F.col("embedding"))
    maxabs = F.array_max(F.transform(ed, lambda x: F.abs(x)))
    df = e.select("vec_id", ed.alias("e"), maxabs.alias("maxabs")).filter(
        F.col("maxabs") > 0
    )
    code = lambda x: F.abs(F.floor(x * 127.0 / F.col("maxabs")))  # noqa: E731
    l1 = F.aggregate(
        F.transform(F.col("e"), code), F.lit(0.0), lambda a, v: a + v
    )
    return df.select(
        "vec_id",
        F.round("maxabs", 6).alias("scale"),
        l1.cast("bigint").alias("l1_quantized"),
    )


@register(
    "vec_quantize_int8_calibrated",
    """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < 500),
cal AS (
  SELECT quantile_cont(abs(x), 0.999) AS clip
  FROM (SELECT unnest(e) AS x FROM v)),
q AS (
  SELECT vec_id,
         round(clip, 6) AS clip_scale,
         len(list_filter(e, x -> abs(x) > clip)) AS n_clipped,
         list_sum(list_transform(e,
           x -> abs(floor(greatest(least(x, clip), -clip) * 127.0 / clip))))
           AS l1
  FROM v CROSS JOIN cal)
SELECT vec_id, clip_scale,
       CAST(n_clipped AS INTEGER) AS n_clipped,
       CAST(l1 AS BIGINT) AS l1_quantized
FROM q
""",
    doc="CORPUS-calibrated int8 quantization — the production "
    "counterpart of vec_quantize_int8_stats' per-vector absmax: one "
    "shared scale from the exact p99.9 of |component| over the whole "
    "corpus (outliers clip instead of stretching the scale and "
    "crushing everyone else's resolution). Two-job shape: the "
    "calibration agg reduces all components to ONE row, broadcast "
    "back into the per-vector quantize projection; at 100 TB swap the "
    "exact percentile for approx_percentile (same plan shape — the "
    "swap is documented, not needed at test SF). n_clipped makes the "
    "calibration trade-off visible per vector; l1 pins every code; "
    "floor (not round) avoids engine .5-mode disagreement; percentile "
    "interpolation parity with quantile_cont is pinned by "
    "events_value_percentiles.",
)
def vec_quantize_int8_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 500
    )
    ed = as_double(F.col("embedding"))
    v = e.select("vec_id", ed.alias("e"))
    cal = v.select(F.explode("e").alias("x")).agg(
        F.expr("percentile(abs(x), 0.999)").alias("clip")
    )
    clip = F.col("clip")
    clamped = lambda x: F.least(F.greatest(x, -clip), clip)  # noqa: E731
    code = lambda x: F.abs(F.floor(clamped(x) * 127.0 / clip))  # noqa: E731
    l1 = F.aggregate(
        F.transform(F.col("e"), code), F.lit(0.0), lambda a, c: a + c
    )
    n_clipped = F.size(F.filter(F.col("e"), lambda x: F.abs(x) > clip))
    return v.crossJoin(F.broadcast(cal)).select(
        "vec_id",
        F.round(clip, 6).alias("clip_scale"),
        n_clipped.cast("int").alias("n_clipped"),
        l1.cast("bigint").alias("l1_quantized"),
    )
