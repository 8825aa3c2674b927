"""The composed pretraining pipeline WITH the CCNet perplexity
filter (LLM-curation extension, SURVEY §2.10/§2.19) — the bigram-LM
stage of queries/lm.py wired into plans/corpus.build_pretraining_corpus
as ``ppl_keep_buckets``, oracle-checked end to end.

Stage order is the substantive claim, hash-pinned here:
gate -> exact dedup -> near-dup canonical -> **LM train on the
reference slice of the canonicals (doc_id % REF_MOD == 0) + score
every canonical + drop each source's tail tercile** -> mixture ->
split -> pack. The LM trains AFTER dedup on purpose (duplicated
content skews n-gram counts) and on a reference SLICE on purpose
(self-training rewards token-unique gibberish — the singleton-context
degeneracy measured and documented in queries/lm.py), and the tail
drop runs BEFORE the mixture so junk docs don't consume mixture
budget. Defined in its own module so the v2 rotation recipe
doesn't mark every corpusq.py entry source-changed (the lm.py /
retrieval.py precedent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.corpusq import (
    _PIPE_CONTEXT,
    _PIPE_ORACLE,
    _PIPE_WEIGHTS,
    exact_jaccard_pair_fn,
)
from dataengineer_job_scraper_etl_spark.queries.lm import REF_MOD

PPL_KEEP_BUCKETS = 2  # CCNet head+middle; the tail tercile drops

# The oracle = the UNCHANGED recursive-CTE pipeline twin with (a) sig
# carrying its token array through, (b) the lm_* chain — the exact
# queries/lm.py arithmetic retargeted at the canonical survivors —
# spliced in before the mixture, and (c) counts/sampling reading from
# ppl_kept instead of canonical. Same .replace() device as the
# stripped/decontaminated variants; the asserts prove every splice hit.
_LM_CHAIN = f"""lm_tok AS (
  SELECT c.doc_id, c.source, c.n_toks, s.toks AS t
  FROM canonical c JOIN sig s USING (doc_id)),
lm_ref AS (SELECT doc_id, t FROM lm_tok WHERE doc_id % {REF_MOD} = 0),
lm_uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c_uni
           FROM (SELECT unnest(t) AS tok FROM lm_ref) GROUP BY tok),
lm_stats AS (SELECT CAST(sum(c_uni) AS DOUBLE) AS n,
                    CAST(count(*) AS DOUBLE) AS v FROM lm_uni),
lm_ref_tr AS (
  SELECT pc.prev AS prev, pc.cur AS cur
  FROM (SELECT unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM lm_ref WHERE len(t) >= 2)),
lm_big AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS c_big
           FROM lm_ref_tr GROUP BY prev, cur),
lm_ctx AS (SELECT prev, CAST(sum(c_big) AS DOUBLE) AS c_ctx
           FROM lm_big GROUP BY prev),
lm_probs AS (
  SELECT b.prev, b.cur, b.c_big / x.c_ctx AS p_big
  FROM lm_big b JOIN lm_ctx x ON x.prev = b.prev),
lm_tr AS (
  SELECT doc_id, pc.prev AS prev, pc.cur AS cur
  FROM (SELECT doc_id,
               unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM lm_tok WHERE len(t) >= 2)),
lm_scored AS (
  SELECT lm_tr.doc_id,
         round(avg(-ln(
           0.7 * coalesce(p.p_big, 0.0)
           + 0.3 * ((coalesce(u.c_uni, 0.0) + 0.5)
                    / (coalesce(lm_stats.n, 0.0) + 0.5 * (lm_stats.v + 1.0)))
         )), 6) AS nlp
  FROM lm_tr
  LEFT JOIN lm_probs p ON p.prev = lm_tr.prev AND p.cur = lm_tr.cur
  LEFT JOIN lm_uni u ON u.tok = lm_tr.cur
  CROSS JOIN lm_stats
  GROUP BY lm_tr.doc_id),
ppl_kept AS (
  SELECT doc_id, source, n_toks FROM (
    SELECT t.doc_id, t.source, t.n_toks,
           ntile(3) OVER (PARTITION BY t.source
                          ORDER BY s.nlp, t.doc_id) AS b
    FROM lm_tok t JOIN lm_scored s USING (doc_id))
  WHERE b <= {PPL_KEEP_BUCKETS}),
counts AS (SELECT source, count(*) AS n FROM ppl_kept GROUP BY source),"""

_PIPE_ORACLE_PPL = _PIPE_ORACLE.replace(
    "md5(norm) AS fp, list_distinct(toks) AS dtoks",
    "md5(norm) AS fp, list_distinct(toks) AS dtoks, toks",
).replace(
    "counts AS (SELECT source, count(*) AS n FROM canonical GROUP BY source),",
    _LM_CHAIN,
).replace(
    "FROM canonical c JOIN rates USING (source)",
    "FROM ppl_kept c JOIN rates USING (source)",
)
assert _PIPE_ORACLE_PPL.count("lm_probs") == 2  # splice hit
assert "FROM ppl_kept c JOIN rates" in _PIPE_ORACLE_PPL
assert "dtoks, toks" in _PIPE_ORACLE_PPL


@register(
    "corpus_pipeline_ppl_filtered",
    _PIPE_ORACLE_PPL,
    doc="The composed pipeline WITH the CCNet perplexity filter "
    "(build_pretraining_corpus(ppl_keep_buckets=2)): gate -> exact "
    "dedup -> near-dup canonical -> bigram LM trained on the "
    "REFERENCE SLICE of the canonicals (doc_id % 5 == 0) scores "
    "every survivor and each source's tail tercile drops -> mixture "
    "-> split -> pack. The oracle splices the exact queries/lm.py "
    "arithmetic (incl. the OOV floor) into the recursive-CTE "
    "pipeline twin, so the STAGE ORDER (LM after dedup, reference "
    "slice, drop before mixture) is hash-checked end to end, not "
    "just asserted in prose.",
)
def corpus_pipeline_ppl_filtered(
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
        mixture_weights=_PIPE_WEIGHTS,
        context_tokens=_PIPE_CONTEXT,
        pair_fn=exact_jaccard_pair_fn,
        ppl_keep_buckets=PPL_KEEP_BUCKETS,
    )
    return out.select(
        "doc_id",
        "source",
        "split",
        F.col("shard_id").cast("bigint").alias("shard_id"),
        F.col("n_toks").cast("bigint").alias("n_toks"),
    )
