"""Shingle-containment near-dup detection over ``documents``
(LLM-curation extension, SURVEY §2.10/§2.20).

Symmetric Jaccard (docs_near_dup_jaccard, queries/text.py) misses the
most common real-corpus duplication shape: INCLUSION — a quote, an
excerpt, a syndicated fragment embedded in a larger page. An excerpt
that is 30% of its source has Jaccard ~0.3 (far under any near-dup
bar) but containment C(A→B) = |S_A ∩ S_B| / |S_A| = 1.0. Broder's
resemblance/containment pair (1997) treats them as co-equal signals;
this entry computes both per ordered candidate pair so the gap is
visible in the output.

Fixture: for doc_id % 20 == 0 (doc_id < 150), an EXCERPT doc (tokens
11..40 of the raw space-split text, id + 2,000,000) is planted; its
trigram set is a subset of its source's, so the planted pairs surface
at containment 1.0 while their Jaccard sits near the excerpt/source
length ratio. Documents are synthetic single-spaced lowercase text, so
both engines split on a literal single space (no regex normalization
needed — parity is exact by construction).

Scale shape (the 100 TB story): inverted-index candidate generation,
never a doc×doc cross join — explode to DISTINCT (doc, 3-gram
shingle) postings, prune shingles with document frequency > 10 BEFORE
the self-join (the standard stopword-shingle drop: posting lists stay
bounded, no hot join key — containment is then defined over the
pruned sets consistently on both engines), self-join on shingle,
per-ordered-pair count, two size joins. The ordered-pair join
(a.doc_id <> b.doc_id, not <) yields both directions of each pair in
one pass — containment is asymmetric, both directions are the output.
At 100 TB the exact posting self-join becomes the re-score stage
behind MinHash-LSH banding (operators/dedup.py), exactly like the
Jaccard path; the df-prune bound is what keeps that re-score
candidate-proportional. doc_id < 150 bounds the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import ngrams
from dataengineer_job_scraper_etl_spark.io import read_parquet

_DOC_BOUND = 150
_EXCERPT_MOD = 20
_EXCERPT_ID_OFFSET = 2_000_000
_EXCERPT_FROM, _EXCERPT_LEN = 11, 30  # tokens 11..40
_MAX_DF = 10
_THRESHOLD = 0.8

_CONTAINMENT_CTES = f"""base AS (
  SELECT doc_id, string_split(text, ' ') AS t
  FROM documents WHERE doc_id < {_DOC_BOUND}),
exc AS (
  SELECT doc_id + {_EXCERPT_ID_OFFSET} AS doc_id,
         list_slice(t, {_EXCERPT_FROM},
                    {_EXCERPT_FROM + _EXCERPT_LEN - 1}) AS t
  FROM base WHERE doc_id % {_EXCERPT_MOD} = 0),
tok AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM tok WHERE len(t) >= 3),
df AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING count(*) <= {_MAX_DF}),
kept AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN df USING (shingle)),
sz AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM kept a JOIN kept b
    ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id)"""

_CONTAINMENT_ORACLE = f"""
WITH {_CONTAINMENT_CTES}
SELECT i.doc_a, i.doc_b,
       round(i.i * 1.0 / sa.n, 6) AS containment,
       round(i.i * 1.0 / (sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.doc_a = sa.doc_id
JOIN sz sb ON i.doc_b = sb.doc_id
WHERE i.i * 1.0 / sa.n >= {_THRESHOLD}
"""


def _corpus_with_excerpts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id < 150 token arrays plus planted excerpt docs."""
    base = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < _DOC_BOUND)
        .select("doc_id", F.split("text", " ").alias("t"))
    )
    exc = base.filter(F.col("doc_id") % _EXCERPT_MOD == 0).select(
        (F.col("doc_id") + _EXCERPT_ID_OFFSET).alias("doc_id"),
        F.slice("t", _EXCERPT_FROM, _EXCERPT_LEN).alias("t"),
    )
    return base.unionByName(exc)


def _containment_frames(spark: SparkSession, sf_dir: str):
    """(tok, sizes, inter): per-doc pruned shingle-set sizes and the
    ordered-pair intersection counts the containment family shares."""
    tok = _corpus_with_excerpts(spark, sf_dir)
    sh = (
        tok.select("doc_id", F.explode(ngrams(F.col("t"), 3)).alias("shingle"))
        .dropDuplicates(["doc_id", "shingle"])
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _MAX_DF)
        .select("shingle")
    )
    # the pruned posting list feeds three consumers (sizes + both join
    # sides): materialize once (the operators/ranking.py device)
    kept = sh.join(rare, "shingle", "left_semi").localCheckpoint(eager=False)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    return tok, sizes, inter


@register(
    "docs_shingle_containment",
    _CONTAINMENT_ORACLE,
    doc="Broder containment C(A->B) = |S_A n S_B| / |S_A| over "
    "3-gram shingle sets, alongside Jaccard for the same ordered "
    "pair — surfaces EXCERPT-style duplication (planted: tokens "
    "11..40 of every doc_id % 20 == 0 doc) that symmetric Jaccard "
    "scores ~0.3 and misses. Inverted-index candidates with a "
    "df <= 10 stopword-shingle prune before the self-join (posting "
    "lists bounded, no hot key); at 100 TB this is the exact "
    "re-score stage behind LSH banding, kept candidate-proportional "
    "by the same prune.",
)
def docs_shingle_containment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    _, sizes, inter = _containment_frames(spark, sf_dir)
    containment = F.col("i") / F.col("sa.n")
    jaccard = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(containment >= _THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(containment, 6).alias("containment"),
            F.round(jaccard, 6).alias("jaccard"),
        )
    )


# --- containment-driven dedup: drop the contained, keep the container --

_DEDUP_THRESHOLD = 0.95

_CONTAINMENT_DEDUP_ORACLE = f"""
WITH {_CONTAINMENT_CTES},
dom AS (
  SELECT i.doc_a AS doc_id, min(i.doc_b) AS dominated_by
  FROM inter i
  JOIN sz sa ON i.doc_a = sa.doc_id
  JOIN sz sb ON i.doc_b = sb.doc_id
  WHERE i.i * 1.0 / sa.n >= {_DEDUP_THRESHOLD}
    AND (sb.n > sa.n OR (sb.n = sa.n AND i.doc_b < i.doc_a))
  GROUP BY i.doc_a)
SELECT t.doc_id,
       d.dominated_by IS NOT NULL AS is_dropped,
       d.dominated_by
FROM (SELECT doc_id FROM tok) t
LEFT JOIN dom d ON t.doc_id = d.doc_id
"""


@register(
    "docs_containment_dedup",
    _CONTAINMENT_DEDUP_ORACLE,
    doc="The dedup POLICY containment enables and symmetric Jaccard "
    "cannot: a doc is DROPPED when >= 95% of its pruned shingle set "
    "is contained in a STRICTLY LARGER doc's (ties break to the "
    "smaller doc_id) — the excerpt dies, the container survives, "
    "and near-misses keep both. Unlike cluster-canonical dedup "
    "(docs_dedup_canonical) this needs no connected components: "
    "domination is a per-edge decision, one agg over the "
    "already-bounded containment pairs. dominated_by = the smallest "
    "dominating doc_id (the audit trail a 100 TB erasure pass "
    "propagates).",
)
def docs_containment_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tok, sizes, inter = _containment_frames(spark, sf_dir)
    dom = (
        inter.join(
            sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id")
        )
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(
            (F.col("i") / F.col("sa.n") >= _DEDUP_THRESHOLD)
            & (
                (F.col("sb.n") > F.col("sa.n"))
                | (
                    (F.col("sb.n") == F.col("sa.n"))
                    & (F.col("doc_b") < F.col("doc_a"))
                )
            )
        )
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("dominated_by"))
    )
    return tok.select("doc_id").join(dom, "doc_id", "left").select(
        "doc_id",
        F.col("dominated_by").isNotNull().alias("is_dropped"),
        "dominated_by",
    )
