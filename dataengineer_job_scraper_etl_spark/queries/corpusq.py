"""Catalog entries for the composed pre-training corpus pipeline
(plans/corpus.py) — the proof that gate -> exact dedup -> near-dup
clusters -> canonical -> mixture -> split -> pack assemble correctly
as ONE plan, not just as individually-checked stages.

Also hosts the incremental-ingestion entry (docs_incremental_ingest).

Two pipeline renderings:
- ``corpus_pipeline_survivors``: oracle-checked end state. The
  near-dup stage runs with the EXACT n-gram Jaccard pair generator
  (injected via ``pair_fn``) so every stage is SQL-expressible; the
  DuckDB twin is one CTE chain composing the already-proven oracle
  formulations (gate from docs_pretrain_filter, dedup from
  docs_exact_dedup, pairs/components from docs_dedup_clusters,
  canonical from docs_dedup_canonical, mixture from
  docs_mixture_sample_contract, split from docs_train_val_test_split,
  pack from docs_pack_sequences). doc_id < 500 bounds the recursive
  oracle; context_tokens=128 makes shard boundaries actually advance
  at that size.
- ``corpus_pipeline_full``: the production rendering over the whole
  documents table with the MinHash+LSH candidate generator VERIFIED
  by exact 3-gram Jaccard (operators/dedup.minhash_verified_pairs) —
  oracle-bearing since r13 (VERDICT r12 ask #2): the verify step
  makes the pair relation an exact set property, so the full-corpus
  composition is hash-checked end to end against an unbounded CTE
  chain; it doubles as the bench's end-to-end timing entry at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    normalize_ws_lower,
    ws_norm_sql,
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet

# NB: plans.corpus imports queries.sampling, whose parent package
# imports this module — import it lazily inside the entries to break
# the cycle.

# Same contract as queries/text.py's Jaccard battery: distinct-token
# 1-gram Jaccard, document-frequency-pruned posting lists (no hot join
# key), threshold 0.8.
from dataengineer_job_scraper_etl_spark.queries.text import (
    JACCARD_MAX_DF as _PAIR_MAX_DF,  # same contract BY CONSTRUCTION now
)
_PAIR_THRESHOLD = 0.8

# Unequal on purpose: equal weights over equal-sized sources would
# make the mixture stage a no-op. With ~11-15 canonicals per source at
# doc_id < 500 / sf0.01, src1 binds (rate ~1.0) and the others
# downsample per their weight ratios.
_PIPE_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_PIPE_CONTEXT = 128


def exact_jaccard_pair_fn(df: DataFrame) -> DataFrame:
    """(id_a, id_b) near-dup pairs by exact distinct-token Jaccard —
    the SQL-expressible pair generator the oracle entry injects. Same
    inverted-index + df-pruning shape as queries/text._jaccard_pairs,
    over an arbitrary (doc_id, text) frame."""
    toks = ws_tokens(F.col("text"))
    posting = df.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("term")
    )
    tdf = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = posting.join(
        tdf.filter(F.col("df") <= _PAIR_MAX_DF).select("term"),
        "term",
        "left_semi",
    )
    a, b = kept.alias("a"), kept.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac = F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .filter(jac >= _PAIR_THRESHOLD)
        .select("id_a", "id_b")
    )


_NIB5_8 = (
    "(position(substring(md5(CAST(doc_id AS VARCHAR)), 5, 1) in '0123456789abcdef') - 1) * 4096"
    " + (position(substring(md5(CAST(doc_id AS VARCHAR)), 6, 1) in '0123456789abcdef') - 1) * 256"
    " + (position(substring(md5(CAST(doc_id AS VARCHAR)), 7, 1) in '0123456789abcdef') - 1) * 16"
    " + (position(substring(md5(CAST(doc_id AS VARCHAR)), 8, 1) in '0123456789abcdef') - 1)"
)

_PIPE_ORACLE = f"""
WITH RECURSIVE
sig AS (
  SELECT doc_id, source, len(toks) AS n_toks,
         len(list_distinct(toks)) AS d_toks,
         md5(norm) AS fp, list_distinct(toks) AS dtoks
  FROM (SELECT doc_id, source,
               {ws_tokens_sql('text')} AS toks,
               {ws_norm_sql('text')} AS norm
        FROM documents WHERE doc_id < 500)),
gated AS (
  SELECT * FROM sig
  WHERE n_toks >= 20 AND n_toks <= 90
    AND (d_toks * 1000000) // n_toks >= 400000),
keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY fp),
exact AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
posting AS (SELECT doc_id, unnest(dtoks) AS term FROM exact),
tdf AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
kept AS (SELECT p.doc_id, p.term FROM posting p
         JOIN tdf USING (term) WHERE tdf.df <= {_PAIR_MAX_DF}),
pair_inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
pairs AS (
  SELECT id_a, id_b FROM pair_inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= {_PAIR_THRESHOLD}),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
clustered AS (
  SELECT e.doc_id, e.source, e.n_toks,
         coalesce(c.component, e.doc_id) AS cluster
  FROM exact e LEFT JOIN comp c ON e.doc_id = c.node),
canonical AS (
  SELECT doc_id, source, n_toks FROM (
    SELECT *, first_value(doc_id) OVER (
        PARTITION BY cluster ORDER BY n_toks DESC, doc_id ASC) AS keep_doc
    FROM clustered)
  WHERE doc_id = keep_doc),
counts AS (SELECT source, count(*) AS n FROM canonical GROUP BY source),
wts AS (SELECT * FROM (VALUES
  ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)) w(source, w)),
tot AS (SELECT min(n / w) AS total FROM counts JOIN wts USING (source)),
rates AS (
  SELECT source, least(1.0, w * (SELECT total FROM tot) / n) AS r
  FROM counts JOIN wts USING (source)),
sampled AS (
  SELECT c.doc_id, c.source, c.n_toks
  FROM canonical c JOIN rates USING (source)
  WHERE {_NIB5_8} < CAST(round(r * 65536) AS BIGINT)),
labeled AS (
  SELECT doc_id, source, n_toks,
         CASE WHEN b < 12 THEN 'train' WHEN b < 14 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT *,
               position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        in '0123456789abcdef') - 1 AS b
        FROM sampled))
SELECT doc_id, source, split,
       CAST(floor(coalesce(sum(n_toks) OVER (
           PARTITION BY source, split ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {_PIPE_CONTEXT}.0) AS BIGINT) AS shard_id,
       CAST(n_toks AS BIGINT) AS n_toks
FROM labeled
"""


@register(
    "corpus_pipeline_survivors",
    _PIPE_ORACLE,
    doc="The COMPOSED pre-training corpus pipeline's end state "
    "(plans/corpus.py:build_pretraining_corpus): quality gate -> "
    "exact dedup -> near-dup clusters -> canonical survivor -> "
    "training mixture (unequal weights, rates derived from survivor "
    "counts) -> leakage-free split -> sequence packing, as one lazy "
    "plan. Near-dup pairs via the injected exact-Jaccard generator "
    "so the DuckDB twin (recursive CTE chain) checks every stage "
    "composition, not just each stage alone. The production MinHash "
    "path is corpus_pipeline_full + the planted-recall entries.",
)
def corpus_pipeline_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        build_pretraining_corpus,
    )

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "source", "text")
    )
    out = build_pretraining_corpus(
        docs,
        mixture_weights=_PIPE_WEIGHTS,
        context_tokens=_PIPE_CONTEXT,
        pair_fn=exact_jaccard_pair_fn,
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )


# Full-table oracle for corpus_pipeline_full (VERDICT r12 ask #2):
# the same gate -> exact dedup -> near-dup clusters -> canonical ->
# mixture -> split -> pack chain as _PIPE_ORACLE, UNBOUNDED (whole
# documents table), with the near-dup pair set being the EXACT 3-gram
# shingle Jaccard >= 0.5 relation — the first-principles recomputation
# of what the Spark side's MinHash candidates + exact re-score
# produce (operators/dedup.minhash_verified_pairs). Recursion stays
# cheap: the reach CTE walks only the near-dup edge set (fixture
# near-dup density, never corpus-quadratic), and the shingle postings
# join is the same shape the neardup_minhash_lsh oracle runs.
_EQ_WTS = ", ".join(f"('src{i}', 0.05)" for i in range(20))

_PIPE_FULL_ORACLE = f"""
WITH RECURSIVE
sig AS (
  SELECT doc_id, source, toks, len(toks) AS n_toks,
         len(list_distinct(toks)) AS d_toks, md5(norm) AS fp
  FROM (SELECT doc_id, source,
               {ws_tokens_sql('text')} AS toks,
               {ws_norm_sql('text')} AS norm
        FROM documents)),
gated AS (
  SELECT * FROM sig
  WHERE n_toks >= 20 AND n_toks <= 90
    AND (d_toks * 1000000) // n_toks >= 400000),
keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY fp),
exact AS (SELECT g.* FROM gated g JOIN keep USING (doc_id)),
shg AS (
  SELECT DISTINCT doc_id, s FROM (
    SELECT doc_id, array_to_string(list_slice(toks, i, i + 2), ' ') AS s
    FROM (SELECT doc_id, toks,
                 unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS i
          FROM exact))),
ssz AS (SELECT doc_id, count(*) AS n FROM shg GROUP BY doc_id),
pinter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
  FROM shg a JOIN shg b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM pinter
  JOIN ssz sa ON sa.doc_id = id_a
  JOIN ssz sb ON sb.doc_id = id_b
  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.5),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.node),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
clustered AS (
  SELECT e.doc_id, e.source, e.n_toks,
         coalesce(c.component, e.doc_id) AS cluster
  FROM exact e LEFT JOIN comp c ON e.doc_id = c.node),
canonical AS (
  SELECT doc_id, source, n_toks FROM (
    SELECT *, first_value(doc_id) OVER (
        PARTITION BY cluster ORDER BY n_toks DESC, doc_id ASC) AS keep_doc
    FROM clustered)
  WHERE doc_id = keep_doc),
counts AS (SELECT source, count(*) AS n FROM canonical GROUP BY source),
wts AS (SELECT * FROM (VALUES
  {_EQ_WTS}) w(source, w)),
tot AS (SELECT min(n / w) AS total FROM counts JOIN wts USING (source)),
rates AS (
  SELECT source, least(1.0, w * (SELECT total FROM tot) / n) AS r
  FROM counts JOIN wts USING (source)),
sampled AS (
  SELECT c.doc_id, c.source, c.n_toks
  FROM canonical c JOIN rates USING (source)
  WHERE {_NIB5_8} < CAST(round(r * 65536) AS BIGINT)),
labeled AS (
  SELECT doc_id, source, n_toks,
         CASE WHEN b < 12 THEN 'train' WHEN b < 14 THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT *,
               position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                        in '0123456789abcdef') - 1 AS b
        FROM sampled))
SELECT doc_id, source, split,
       CAST(floor(coalesce(sum(n_toks) OVER (
           PARTITION BY source, split ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / 2048.0) AS BIGINT) AS shard_id,
       CAST(n_toks AS BIGINT) AS n_toks
FROM labeled
"""


@register(
    "corpus_pipeline_full",
    _PIPE_FULL_ORACLE,
    doc="The composed pipeline over the ENTIRE documents table with "
    "the production MinHash+LSH near-dup path and an all-sources "
    "mixture — the end-to-end timing entry (bench). Oracle-bearing "
    "since r13 (VERDICT r12 ask #2): the near-dup stage now runs "
    "candidate->verify (MinHash banding proposes, exact 3-gram "
    "Jaccard >= 0.5 disposes — operators/dedup.minhash_verified_"
    "pairs, re-scoring only the candidate set), so the pair relation "
    "is an exact set property and the WHOLE full-corpus composition "
    "is hash-checked against the unbounded CTE chain above — gate, "
    "digest dedup, LSH recall on this corpus, cluster canonicals, "
    "the 20-source equal-weight mixture rates, split, and packing "
    "all cross the driver's hash, at full scale rather than the "
    "doc_id < 500 window of corpus_pipeline_survivors.",
)
def corpus_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.dedup import (
        minhash_verified_pairs,
    )
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        build_pretraining_corpus,
    )

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    weights = {f"src{i}": 0.05 for i in range(20)}

    def verified_pair_fn(exact: DataFrame) -> DataFrame:
        return minhash_verified_pairs(
            exact, "doc_id", "text", shingle_n=3, threshold=0.5
        ).select("id_a", "id_b")

    out = build_pretraining_corpus(
        docs, mixture_weights=weights, pair_fn=verified_pair_fn
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )


# --- all-source mixture contract (VERDICT r6 ask #3) -----------------
# corpus_pipeline_full is rows-only by design (engine-specific LSH),
# which left the ALL-SOURCE mixture composition without a hash
# contract: corpus_pipeline_survivors proves the chain with a 4-source
# weight map. This entry re-runs the SAME proven recursive-CTE chain
# with the full 20-source dimension and deliberately unequal weights
# (w_i = i+1, unnormalized — mixture_rates is scale-invariant in w),
# so every source's rate derivation, the scarcest-source total, and
# the per-source downsampling all cross the hash check. doc_id < 500
# is the ENTIRE table at the driver's sf0.01 audit scale (500 rows,
# 25/source), so this is the full-corpus mixture, bounded only at
# larger rungs for recursion cost.
_ALLSRC_WEIGHTS = {f"src{i}": float(i + 1) for i in range(20)}

_ALLSRC_VALUES = ", ".join(
    f"('src{i}', {float(i + 1)})" for i in range(20)
)

_PIPE_ORACLE_ALLSRC = _PIPE_ORACLE.replace(
    """wts AS (SELECT * FROM (VALUES
  ('src0', 0.4), ('src1', 0.3), ('src2', 0.2), ('src3', 0.1)) w(source, w)),""",
    f"""wts AS (SELECT * FROM (VALUES
  {_ALLSRC_VALUES}) w(source, w)),""",
)
assert _PIPE_ORACLE_ALLSRC != _PIPE_ORACLE  # replace() must have hit


@register(
    "corpus_pipeline_allsource_mixture",
    _PIPE_ORACLE_ALLSRC,
    doc="The composed pipeline with the ALL-SOURCE mixture: the same "
    "gate -> exact dedup -> near-dup clusters -> canonical -> mixture "
    "-> split -> pack chain as corpus_pipeline_survivors, but the "
    "mixture stage runs over all 20 sources with deliberately unequal "
    "weights (w_i = i+1), so every per-source keep rate — scarcest-"
    "source total, least(1.0, ...) clamp, 16-bit md5-window sampler — "
    "is derived and hash-checked for the full source dimension. This "
    "closes the gap VERDICT r6 #3 named: corpus_pipeline_full's "
    "all-source composition now has an oracle-checked twin (the LSH "
    "pair generator remains the only engine-specific swap, contracted "
    "separately by the planted-recall entries).",
)
def corpus_pipeline_allsource_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        build_pretraining_corpus,
    )

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "source", "text")
    )
    out = build_pretraining_corpus(
        docs,
        mixture_weights=_ALLSRC_WEIGHTS,
        context_tokens=_PIPE_CONTEXT,
        pair_fn=exact_jaccard_pair_fn,
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )


def exact_jaccard_cross_pairs(batch: DataFrame, index: DataFrame) -> DataFrame:
    """(id_a = batch doc, id_b = index doc) pairs with exact
    distinct-token Jaccard >= 0.8 — the SQL-expressible cross-side
    pair generator for incremental ingest. Posting lists and document
    frequencies are computed over the two-sided union (so pruning is
    identical to what a combined corpus would see); only cross-side
    pairs are scored."""
    toks = ws_tokens(F.col("text"))
    tagged = (
        batch.select("doc_id", "text").withColumn("__side", F.lit("b"))
        .unionByName(
            index.select("doc_id", "text").withColumn("__side", F.lit("i"))
        )
    )
    # posting feeds tdf AND the df-prune semi-join; kept feeds THREE
    # consumers (a-side, b-side, sizes) — materialize both or every
    # consumer re-runs the two-table scan + explode chain (the plan
    # carried 28 index scans before these checkpoints)
    posting = tagged.select(
        "doc_id", "__side", F.explode(F.array_distinct(toks)).alias("term")
    ).localCheckpoint(eager=False)
    tdf = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = posting.join(
        tdf.filter(F.col("df") <= _PAIR_MAX_DF).select("term"),
        "term",
        "left_semi",
    ).localCheckpoint(eager=False)
    a = kept.filter(F.col("__side") == "b").alias("a")
    b = kept.filter(F.col("__side") == "i").alias("b")
    inter = (
        a.join(b, F.col("a.term") == F.col("b.term"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    jac = F.col("inter") / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter"))
    return (
        inter.join(sizes.alias("sa"), F.col("id_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("id_b") == F.col("sb.doc_id"))
        .filter(jac >= _PAIR_THRESHOLD)
        .select("id_a", "id_b")
    )


_INGEST_ORACLE = f"""
WITH idx AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 400 AND doc_id < 500
  UNION ALL
  SELECT doc_id + 10000, text FROM idx WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 20000,
         'XX ' || array_to_string(string_split(text, ' ')[2:], ' ')
  FROM idx WHERE doc_id % 9 = 0),
ifp AS (SELECT DISTINCT md5({ws_norm_sql('text')}) AS fp
        FROM idx),
exact AS (
  SELECT b.doc_id FROM batch b
  JOIN ifp ON md5({ws_norm_sql('b.text')}) = ifp.fp),
tagged AS (
  SELECT doc_id, text, 'b' AS side FROM batch
  UNION ALL SELECT doc_id, text, 'i' FROM idx),
posting AS (
  SELECT doc_id, side, unnest(list_distinct(
    {ws_tokens_sql('text')})) AS term
  FROM tagged),
tdf AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
kept AS (SELECT p.doc_id, p.side, p.term FROM posting p
         JOIN tdf USING (term) WHERE tdf.df <= {_PAIR_MAX_DF}),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
  FROM kept a JOIN kept b ON a.term = b.term
  WHERE a.side = 'b' AND b.side = 'i'
  GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
near AS (
  SELECT DISTINCT id_a AS doc_id FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n * 1.0 / (sa.sz + sb.sz - n) >= {_PAIR_THRESHOLD})
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN (SELECT DISTINCT doc_id FROM exact) e USING (doc_id)
LEFT JOIN near nr USING (doc_id)
"""


@register(
    "docs_incremental_ingest",
    _INGEST_ORACLE,
    doc="Incremental corpus ingestion "
    "(operators/dedup.py:incremental_ingest_status): a new batch "
    "(docs 400-499 + planted exact copies of index docs %7 and "
    "planted near-copies %9) classified against the existing index "
    "(docs < 400) WITHOUT reprocessing it — exact_dup via 16-byte "
    "digest semi-join, near_dup via cross-side candidate pairs, else "
    "new. The entry injects the exact-Jaccard cross generator so all "
    "three branches are SQL-checkable; production uses the default "
    "MinHash+LSH cross-pair path (same banding economics, pytest-"
    "pinned). Precedence exact > near mirrors the pipeline stage "
    "order.",
)
def docs_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.dedup import (
        incremental_ingest_status,
    )

    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = d.filter(F.col("doc_id") < 400)
    natural = d.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 500))
    planted_exact = idx.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    rest = F.array_join(
        F.slice(F.split(F.col("text"), " "), 2, 1_000_000), " "
    )
    planted_near = idx.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.lit("XX "), rest).alias("text"),
    )
    batch = natural.unionByName(planted_exact).unionByName(planted_near)
    return incremental_ingest_status(
        batch, idx, pair_fn=exact_jaccard_cross_pairs
    )


_CARD_ORACLE = f"""
WITH sig AS (
  SELECT source,
         len(toks) AS n_toks,
         md5(norm) AS fp,
         (500 * (8 * len(toks) * least(len(toks), 100)
                 + 75 * least(length(array_to_string(toks, '')), 8 * len(toks))
                 + 600 * len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'to')))))
           // len(toks) AS q
  FROM (SELECT source,
               {ws_tokens_sql('text')} AS toks,
               {ws_norm_sql('text')} AS norm
        FROM documents))
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT fp) AS BIGINT) AS distinct_texts,
       CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs,
       CAST(sum(n_toks) AS BIGINT) AS total_tokens,
       CAST(min(n_toks) AS BIGINT) AS min_tokens,
       CAST(max(n_toks) AS BIGINT) AS max_tokens,
       CAST(sum(q) // count(*) AS BIGINT) AS avg_quality_millionths
FROM sig GROUP BY source
"""


@register(
    "corpus_dataset_card",
    _CARD_ORACLE,
    doc="Per-source dataset card — the governance summary a pipeline "
    "publishes with every corpus snapshot: doc and distinct-text "
    "counts (their gap = exact-dup volume), token totals and range, "
    "and mean quality (text_quality_score's integer-exact formulation, "
    "averaged with integer division so no doubles cross engines). ONE "
    "scan of documents: tokens, digest, and quality computed in the "
    "same projection, then a single partial-agg groupBy(source).",
)
def corpus_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.text import (
        LANG_STOPWORDS,
    )

    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    toks = ws_tokens(F.col("text"))
    norm = normalize_ws_lower(F.col("text"))
    n = F.size(toks).cast("long")
    l_chars = F.length(F.array_join(toks, "")).cast("long")
    k = F.size(
        F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"]))
    ).cast("long")
    qnum = (
        F.lit(500)
        * (
            F.lit(8) * n * F.least(n, F.lit(100))
            + F.lit(75) * F.least(l_chars, F.lit(8) * n)
            + F.lit(600) * k
        )
    ).cast("long")
    sig = d.select(
        "source",
        n.alias("__n"),
        F.md5(norm).alias("__fp"),
        qnum.alias("__qnum"),
    ).withColumn("__q", F.expr("__qnum div __n"))
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("__fp").alias("distinct_texts"),
        (F.count(F.lit(1)) - F.countDistinct("__fp"))
        .cast("bigint")
        .alias("dup_docs"),
        F.sum("__n").cast("bigint").alias("total_tokens"),
        F.min("__n").cast("bigint").alias("min_tokens"),
        F.max("__n").cast("bigint").alias("max_tokens"),
        F.expr("sum(__q) div count(1)").cast("bigint")
        .alias("avg_quality_millionths"),
    )


# The stripped variant's oracle: the SAME CTE chain as _PIPE_ORACLE,
# fed from a `cleaned` prefix that (a) PLANTS a 4-token chrome prefix
# on every even doc_id (the fixture corpus has no natural boilerplate:
# max natural span DF is ~6%, below the 20% bar) and (b) applies the
# boilerplate-span strip (queries/spans.py semantics: 2-token spans,
# DF over the same bounded frame the Spark side receives — the chrome
# lands at DF 50% and is stripped; payload spans stay below the bar).
# `cleaned` is MATERIALIZED: the chain ends in a recursive CTE
# (`reach`), and DuckDB otherwise inlines the whole strip pipeline
# into every recursion step (measured 27 s -> ~2 s).
_CHROME = "cookie banner accept all"  # 4 tokens = exactly 2 spans
_PLANTED_SQL = f"CASE WHEN doc_id % 2 = 0 THEN '{_CHROME} ' || text ELSE text END"

_PIPE_ORACLE_STRIPPED = _PIPE_ORACLE.replace(
    "WITH RECURSIVE\nsig AS (",
    f"""WITH RECURSIVE
sbase AS (
  SELECT doc_id, source,
         {ws_tokens_sql(_PLANTED_SQL)} AS t
  FROM documents WHERE doc_id < 500),
sspans AS (
  SELECT doc_id, CAST(floor((i - 1) / 2) AS BIGINT) AS pos,
         string_agg(w, ' ' ORDER BY i) AS span
  FROM (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
        FROM sbase)
  GROUP BY doc_id, floor((i - 1) / 2)),
sdf AS (SELECT span, count(DISTINCT doc_id) AS df FROM sspans GROUP BY span),
snd AS (SELECT count(*) AS n_docs FROM sbase),
sboiler AS (SELECT span FROM sdf, snd WHERE df * 5 >= n_docs * 1),
skept AS (SELECT * FROM sspans WHERE span NOT IN (SELECT span FROM sboiler)),
cleaned AS MATERIALIZED (
  SELECT b.doc_id, b.source, coalesce(r.cleaned, '') AS text
  FROM sbase b LEFT JOIN (
    SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS cleaned
    FROM skept GROUP BY doc_id) r USING (doc_id)),
sig AS (""",
).replace(
    """        FROM documents WHERE doc_id < 500)),
gated AS (""",
    """        FROM cleaned)),
gated AS (""",
)


@register(
    "corpus_pipeline_survivors_stripped",
    _PIPE_ORACLE_STRIPPED,
    doc="The composed pipeline WITH the C4 boilerplate-span strip as "
    "stage 0.5 (build_pretraining_corpus(strip_boilerplate=True)): a "
    "4-token chrome prefix is planted on every even doc_id (DF 50% — "
    "the fixture has no natural boilerplate), and the strip must "
    "remove EXACTLY it, corpus-relative over the bounded frame, before "
    "gate -> dedup -> clusters -> canonical -> mixture -> split -> "
    "pack run on the cleaned text. Both the Spark plan and the "
    "recursive-CTE oracle carry the injection + strip end to end, so "
    "hash equality pins DF-over-the-right-frame, span alignment "
    "(chrome = exactly 2 spans, payload segmentation unshifted), and "
    "post-strip token counts through the whole composition.",
)
def corpus_pipeline_survivors_stripped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        build_pretraining_corpus,
    )

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit(_CHROME + " "), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out = build_pretraining_corpus(
        docs,
        mixture_weights=_PIPE_WEIGHTS,
        context_tokens=_PIPE_CONTEXT,
        strip_boilerplate=True,
        pair_fn=exact_jaccard_pair_fn,
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )


# --- snapshot diff ---------------------------------------------------
# Corpus-versioning primitive: what changed between two snapshots of a
# 100 TB table. The scalable answer is a full-outer hash-join of
# 16-byte DIGESTS keyed by doc_id — text never travels, never
# compares; each side contributes (id, source, md5(text)) and the join
# classifies added / removed / modified / unchanged in one shuffle.
# The "next" snapshot here is DERIVED deterministically from the same
# fixture on both engines: doc_id % 13 == 0 rows deleted, doc_id % 7
# == 3 rows edited (a marker suffix), and doc_id % 17 == 0 rows cloned
# as new docs under doc_id + 1000000.

_DIFF_ORACLE = """
WITH a AS (
  SELECT doc_id, source, md5(text) AS dg FROM documents),
b AS (
  SELECT doc_id, source, md5(CASE WHEN doc_id % 7 = 3 THEN text || ' [v2]'
                                  ELSE text END) AS dg
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 1000000, source, md5(text) FROM documents
  WHERE doc_id % 17 = 0),
d AS (
  SELECT coalesce(a.source, b.source) AS source,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.dg <> b.dg THEN 'modified'
              ELSE 'unchanged' END AS change,
         coalesce(a.doc_id, b.doc_id) AS id
  FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT source, change,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(id) AS BIGINT) AS id_checksum
FROM d GROUP BY source, change
"""


@register(
    "docs_snapshot_diff",
    _DIFF_ORACLE,
    doc="Snapshot diff — the corpus-versioning primitive: classify "
    "every doc across two snapshots as added/removed/modified/"
    "unchanged from ONE full-outer join of (doc_id, md5 digest) "
    "frames; text is digested at the scan and never shuffled or "
    "compared. The second snapshot is derived deterministically "
    "(delete %13, edit %7==3, clone %17 under shifted ids) so both "
    "engines build identical inputs; id_checksum pins exact "
    "per-(source, change) membership. At 100 TB this is the audit "
    "that runs between pipeline releases: one digest shuffle, "
    "counts out.",
)
def docs_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    a = d.select("doc_id", "source", F.md5("text").alias("dg"))
    edited = F.when(
        F.col("doc_id") % 7 == 3, F.concat(F.col("text"), F.lit(" [v2]"))
    ).otherwise(F.col("text"))
    b = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select("doc_id", "source", F.md5(edited).alias("dg"))
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                "source",
                F.md5("text").alias("dg"),
            )
        )
    )
    j = a.alias("a").join(
        b.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer"
    )
    change = (
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.dg") != F.col("b.dg"), "modified")
        .otherwise("unchanged")
    )
    return (
        j.select(
            F.coalesce(F.col("a.source"), F.col("b.source")).alias("source"),
            change.alias("change"),
            F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("id"),
        )
        .groupBy("source", "change")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("id").cast("bigint").alias("id_checksum"),
        )
    )


# --- decontaminated pipeline composition -----------------------------
# The decontamination stage (queries/spans.py::decontaminate_text)
# composed INTO the pipeline, proven the same way as the stripped
# variant: the oracle prepends the eval-digest -> covered-runs -> trim
# CTE chain and feeds the cleaned text into the UNCHANGED gate ->
# dedup -> cluster -> mixture -> split -> pack chain. Eval set =
# doc_id % 37 == 0 (the docs_decontaminate_trim convention); train =
# the complement. `decon_docs` is MATERIALIZED for the same recursive-
# CTE-inlining reason as the stripped variant's `cleaned`.

_PIPE_ORACLE_DECON = _PIPE_ORACLE.replace(
    "WITH RECURSIVE\nsig AS (",
    f"""WITH RECURSIVE
d_tok AS (
  SELECT doc_id, source,
         {ws_tokens_sql('text')} AS t
  FROM documents WHERE doc_id < 500),
d_ev AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, pos + 1, pos + 8), ' ')) AS h
  FROM (SELECT t, unnest(range(0, greatest(len(t) - 7, 0))) AS pos
        FROM d_tok WHERE doc_id % 37 = 0)),
d_tr AS (SELECT doc_id, source, t FROM d_tok WHERE doc_id % 37 <> 0),
d_sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + 8), ' ')) AS h
  FROM (SELECT doc_id, t, unnest(range(0, greatest(len(t) - 7, 0))) AS pos
        FROM d_tr)),
d_cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + 8)) AS cp
        FROM d_sh s JOIN d_ev USING (h))),
d_isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM d_cov),
d_runs AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e
  FROM d_isl GROUP BY doc_id, g HAVING count(*) >= 8),
d_rm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
         FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM d_runs)),
d_pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
          FROM (SELECT doc_id, unnest(t) AS w,
                       generate_subscripts(t, 1) AS i
                FROM d_tr)),
d_kept AS (
  SELECT d_pos.doc_id, d_pos.p, d_pos.w
  FROM d_pos LEFT JOIN d_rm
    ON d_pos.doc_id = d_rm.doc_id AND d_pos.p = d_rm.cp
  WHERE d_rm.cp IS NULL),
decon_docs AS MATERIALIZED (
  SELECT t.doc_id, t.source, coalesce(r.cleaned, '') AS text
  FROM d_tr t LEFT JOIN (
    SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
    FROM d_kept GROUP BY doc_id) r USING (doc_id)),
sig AS (""",
).replace(
    """        FROM documents WHERE doc_id < 500)),
gated AS (""",
    """        FROM decon_docs)),
gated AS (""",
)


@register(
    "corpus_pipeline_decontaminated",
    _PIPE_ORACLE_DECON,
    doc="The composed pipeline WITH the eval-set decontamination stage "
    "(build_pretraining_corpus(decontaminate_against=...)): benchmark "
    "slice (doc_id % 37 == 0) indexed to 8-gram digests, training "
    "docs trimmed of every verbatim overlap run, THEN the unchanged "
    "gate -> exact dedup -> near-dup canonical -> mixture -> split -> "
    "pack chain — decontamination must run before the gate measures "
    "token counts and before digests/shingles are taken, or a "
    "contaminated doc can survive as its cluster's canonical. Oracle "
    "= the decon CTE chain feeding the same recursive-CTE pipeline "
    "twin, so the STAGE COMPOSITION is hash-checked end to end (the "
    "corpus_pipeline_survivors pattern).",
)
def corpus_pipeline_decontaminated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        build_pretraining_corpus,
    )

    docs = (
        read_parquet(spark, f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "source", "text")
    )
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    tr = docs.filter(F.col("doc_id") % 37 != 0)
    out = build_pretraining_corpus(
        tr,
        mixture_weights=_PIPE_WEIGHTS,
        context_tokens=_PIPE_CONTEXT,
        decontaminate_against=ev,
        pair_fn=exact_jaccard_pair_fn,
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )


# A second fixed plant for the INTAKE entry's decontamination leg: a
# 12-token suffix shared by eval docs and SOME arriving docs
# (doc_id%20==18 — disjoint from the ExactSubstr plant's %20 in {8,19}
# and the exact-copy plant's %20==9), guaranteeing the decon trim
# fires inside the composed path at every sf.
_P2 = (
    "zjcobalt zjdrift zjepoch zjflint zjgale zjharbor zjiris zjjade "
    "zjkarst zjlotus zjmesa zjnorth"
)


def _intake_oracle() -> str:
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        DECON_SHINGLE,
        EXSUB_MIN_RUN,
        EXSUB_SHINGLE,
        PLANT,
        PLANT_PRED,
    )

    k = EXSUB_SHINGLE
    assert DECON_SHINGLE == k
    return f"""
WITH raw0 AS (
  SELECT doc_id,
         CASE WHEN {PLANT_PRED} THEN text || ' {PLANT}'
              ELSE text END AS text
  FROM documents),
raw AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0 OR doc_id % 20 = 18
              THEN text || ' {_P2}' ELSE text END AS text
  FROM raw0),
ev AS (SELECT doc_id, text FROM raw WHERE doc_id % 37 = 0),
co AS (SELECT doc_id, text FROM raw
       WHERE doc_id % 37 <> 0 AND doc_id % 10 < 8),
ba0 AS (SELECT doc_id, text FROM raw
        WHERE doc_id % 37 <> 0 AND doc_id % 10 >= 8),
ba AS (
  SELECT b.doc_id,
         CASE WHEN b.doc_id % 40 = 9 AND c.text IS NOT NULL
              THEN c.text
              WHEN b.doc_id % 40 = 29 AND c.text IS NOT NULL
              THEN 'xxnear ' ||
                   array_to_string(string_split(c.text, ' ')[2:], ' ')
              ELSE b.text END AS text
  FROM ba0 b LEFT JOIN co c ON c.doc_id = b.doc_id - 9),
bnorm AS (SELECT doc_id, {ws_norm_sql('text')} AS ntext FROM ba),
cofp AS (SELECT DISTINCT md5({ws_norm_sql('text')}) AS fp FROM co),
exact AS (SELECT doc_id FROM bnorm
          WHERE md5(ntext) IN (SELECT fp FROM cofp)),
surv0 AS (SELECT doc_id, ntext FROM bnorm
          WHERE doc_id NOT IN (SELECT doc_id FROM exact)),
tagged AS (
  SELECT doc_id, ntext AS text, 'b' AS side FROM surv0
  UNION ALL SELECT doc_id, {ws_norm_sql('text')} AS text, 'i' FROM co),
posting AS (
  SELECT doc_id, side,
         unnest(list_distinct(string_split(text, ' '))) AS term
  FROM tagged),
tdf2 AS (SELECT term, count(*) AS df FROM posting GROUP BY term),
kept2 AS (SELECT p.doc_id, p.side, p.term FROM posting p
          JOIN tdf2 USING (term) WHERE tdf2.df <= {_PAIR_MAX_DF}),
inter2 AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
  FROM kept2 a JOIN kept2 b ON a.term = b.term
  WHERE a.side = 'b' AND b.side = 'i'
  GROUP BY 1, 2),
sizes2 AS (SELECT doc_id, count(*) AS sz FROM kept2 GROUP BY doc_id),
near AS (
  SELECT DISTINCT id_a AS doc_id FROM inter2
  JOIN sizes2 sa ON sa.doc_id = id_a
  JOIN sizes2 sb ON sb.doc_id = id_b
  WHERE n * 1.0 / (sa.sz + sb.sz - n) >= {_PAIR_THRESHOLD}),
surv AS (SELECT doc_id, string_split(ntext, ' ') AS t FROM surv0
         WHERE doc_id NOT IN (SELECT doc_id FROM near)),
evidx AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, pos + 1, pos + {k}), ' ')) AS h
  FROM (SELECT t, unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS pos
        FROM (SELECT {ws_tokens_sql('text')} AS t FROM ev))),
dsh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {k}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS pos
        FROM surv)),
dcov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {k})) AS cp
        FROM dsh s JOIN evidx USING (h))),
disl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM dcov),
druns AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM disl GROUP BY doc_id, g HAVING count(*) >= {k}),
drm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
        FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM druns)),
dpos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
         FROM (SELECT doc_id, unnest(t) AS w,
                      generate_subscripts(t, 1) AS i
               FROM surv)),
dkept AS (
  SELECT dpos.doc_id, dpos.p, dpos.w
  FROM dpos LEFT JOIN drm ON dpos.doc_id = drm.doc_id AND dpos.p = drm.cp
  WHERE drm.cp IS NULL),
d1 AS (
  SELECT s.doc_id,
         coalesce(r.cleaned, '') AS text,
         CAST(coalesce(rm.removed, 0) AS BIGINT) AS removed_decon
  FROM surv s
  LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
             FROM dkept GROUP BY doc_id) r USING (doc_id)
  LEFT JOIN (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed
             FROM druns GROUP BY doc_id) rm USING (doc_id)),
d1t AS (SELECT doc_id, string_split(text, ' ') AS t, removed_decon
        FROM d1),
coidx AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, pos + 1, pos + {k}), ' ')) AS h
  FROM (SELECT t, unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS pos
        FROM (SELECT {ws_tokens_sql('text')} AS t FROM co))),
xsh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {k}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {k} + 1, 0))) AS pos
        FROM d1t)),
xdup AS (
  SELECT h FROM xsh GROUP BY h
  HAVING count(*) >= 2 OR max(CASE WHEN h IN (SELECT h FROM coidx)
                                   THEN 1 ELSE 0 END) = 1),
xcov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {k})) AS cp
        FROM xsh s JOIN xdup USING (h))),
xisl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM xcov),
xruns AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM xisl GROUP BY doc_id, g HAVING count(*) >= {EXSUB_MIN_RUN}),
xrm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
        FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM xruns)),
xpos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
         FROM (SELECT doc_id, unnest(t) AS w,
                      generate_subscripts(t, 1) AS i
               FROM d1t)),
xkept AS (
  SELECT xpos.doc_id, xpos.p, xpos.w
  FROM xpos LEFT JOIN xrm ON xpos.doc_id = xrm.doc_id AND xpos.p = xrm.cp
  WHERE xrm.cp IS NULL),
d2 AS (
  SELECT s.doc_id,
         coalesce(r.cleaned, '') AS text,
         s.removed_decon,
         CAST(coalesce(rm.removed, 0) AS BIGINT) AS removed_exsub
  FROM d1t s
  LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
             FROM xkept GROUP BY doc_id) r USING (doc_id)
  LEFT JOIN (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed
             FROM xruns GROUP BY doc_id) rm USING (doc_id)),
gs AS (
  SELECT doc_id, text, removed_decon, removed_exsub,
         CAST(len(t) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(t)) AS BIGINT) AS d_toks
  FROM (SELECT *, string_split(text, ' ') AS t FROM d2))
SELECT b.doc_id AS doc_id, 'exact_dup' AS status,
       CAST(0 AS BIGINT) AS removed_decon,
       CAST(0 AS BIGINT) AS removed_exsub,
       CAST(len(string_split(b.ntext, ' ')) AS BIGINT) AS n_toks,
       md5(b.ntext) AS cleaned_md5
FROM bnorm b WHERE b.doc_id IN (SELECT doc_id FROM exact)
UNION ALL
SELECT s.doc_id, 'near_dup',
       CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(len(string_split(s.ntext, ' ')) AS BIGINT),
       md5(s.ntext)
FROM surv0 s WHERE s.doc_id IN (SELECT doc_id FROM near)
UNION ALL
SELECT gs.doc_id,
       CASE WHEN NOT (n_toks >= 20 AND n_toks <= 90
                      AND d_toks * 1000000 // n_toks >= 400000)
            THEN 'gated_out' ELSE 'new' END,
       removed_decon, removed_exsub, n_toks, md5(text)
FROM gs
"""


@register(
    "corpus_pipeline_intake",
    _intake_oracle(),
    doc="The corpus pipeline's NIGHTLY-INTAKE rendering "
    "(plans/corpus.py::incremental_intake): the engine's incremental "
    "layers composed in production stage order against a FROZEN "
    "corpus — exact-dup digest classify (cheapest first) -> near-dup "
    "classify on the RAW normalized remainder (exact Jaccard injected "
    "for SQL-checkability; production swaps MinHash+LSH cross pairs) "
    "-> eval-set decontamination trim -> ExactSubstr ingest trim "
    "against the corpus shingle index -> quality gate on the CLEANED "
    "text. Dedup runs BEFORE the trims deliberately: ExactSubstr "
    "removes exactly the cross-corpus shared content, so a trimmed "
    "near-duplicate would no longer look like one — and a discarded "
    "doc should never pay the trim stages. Four plants guarantee "
    "every branch fires at every sf: exact copies of corpus docs "
    "(doc_id%40==9), drop-first-token near copies (%40==29), a "
    "24-token corpus-shared suffix (%20 in {8,19} — ExactSubstr), a "
    "12-token eval-shared suffix (%20==18 — decon). cleaned_md5 pins "
    "exact per-doc trimmed reassembly THROUGH the composition, so "
    "stage ORDER is hash-checked, not just each stage alone. "
    "Batch-proportional: per-batch work touches batch rows + "
    "materialized-once digest indexes; corpus text is read for index "
    "construction only. Scale note (defense in depth, measured): the "
    "INJECTED Jaccard generator's df<=100 posting prune starves "
    "near-dup candidates above sf0.01 on this templated fixture "
    "(production's MinHash path has no df cap — pytest-pinned on the "
    "planted copies); the missed near-copies are then neutralized "
    "DOWNSTREAM anyway — ExactSubstr trims their shared body to "
    "nothing and the gate drops them — so a starved candidate "
    "generator degrades to gated_out, never to corpus pollution.",
)
def corpus_pipeline_intake(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.plans.corpus import (
        incremental_intake,
    )
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        planted_docs,
    )

    p2pred = (F.col("doc_id") % 37 == 0) | (F.col("doc_id") % 20 == 18)
    raw = planted_docs(spark, sf_dir).select(
        "doc_id",
        F.when(p2pred, F.concat(F.col("text"), F.lit(" " + _P2)))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    ev = raw.filter(F.col("doc_id") % 37 == 0)
    co = raw.filter(
        (F.col("doc_id") % 37 != 0) & (F.col("doc_id") % 10 < 8)
    )
    ba0 = raw.filter(
        (F.col("doc_id") % 37 != 0) & (F.col("doc_id") % 10 >= 8)
    )
    copy_src = co.select(
        (F.col("doc_id") + 9).alias("doc_id"), F.col("text").alias("__copy")
    )
    near_text = F.concat(
        F.lit("xxnear "),
        F.array_join(
            F.slice(F.split(F.col("__copy"), " "), 2, 1_000_000), " "
        ),
    )
    ba = ba0.join(copy_src, "doc_id", "left").select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 40 == 9) & F.col("__copy").isNotNull(),
            F.col("__copy"),
        )
        .when(
            (F.col("doc_id") % 40 == 29) & F.col("__copy").isNotNull(),
            near_text,
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = incremental_intake(ba, co, ev, pair_fn=exact_jaccard_cross_pairs)
    return out.select(
        "doc_id",
        "status",
        "removed_decon",
        "removed_exsub",
        "n_toks",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )
