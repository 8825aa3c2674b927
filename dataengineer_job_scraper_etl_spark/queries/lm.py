"""CCNet-style language-model perplexity filtering over ``documents``
(LLM-curation extension, SURVEY §2.10/§2.19).

CCNet (Wenzek et al. 2020) and its descendants (LLaMA, RedPajama,
FineWeb) bucket web documents into head/middle/tail by the perplexity
of a small n-gram LM trained on a CURATED REFERENCE corpus (Wikipedia
in the paper) and keep the fluent head. The engine's rendering is the
KenLM-analog re-expressed as DataFrame aggregates, with a
deterministic reference slice standing in for Wikipedia (reference
parity note: the reference repo,
lalelisealstad/dataengineer-job-scraper-etl, has no LM stage; this
extends its transform battery toward the training-data brief, like
the quality classifier in queries/quality_model.py).

THE REFERENCE CORPUS MATTERS — measured, not assumed: the first cut
trained the LM on the scored corpus itself, and a doc made of
never-seen-elsewhere tokens scored as maximally fluent, because an
MLE bigram with a singleton context is deterministic (a word seen
once is "always" followed by the same word — p saturates at the
interpolation weight, ~-ln(0.7) per transition), so token-unique
gibberish beat real text into the head bucket. Training on a
held-out-by-convention subset (doc_id % 5 == 0 — a SUBSET of the
scored corpus, not a disjoint corpus) makes gibberish OUTSIDE the
slice OOV (its probability collapses to the smoothed unigram floor);
docs INSIDE the reference slice still partially self-score, which is
deterministic and oracle-matched — production swaps in a genuinely
external curated corpus, exactly why CCNet scores Common Crawl with
a Wikipedia-trained model rather than a self-trained one.

Model: interpolated bigram LM trained on the reference slice
(doc_id % 5 == 0 — the curated-corpus stand-in), scoring EVERY doc:

    p(cur | prev) = 0.7 * c(prev,cur)/c(prev,*)           [0 if unseen]
                  + 0.3 * (c(cur) + 0.5)/(N + 0.5*(V+1))  [OOV-smoothed]

with MLE counts from the whitespace-token contract
(functions/strings.ws_tokens — the catalog-wide tokenizer). The
context denominator c(prev,*) is the TRANSITION count (sum of bigram
counts sharing the prefix), so seen rows sum to 1 over the observed
continuations; the unigram back-off carries add-half smoothing over
V+1 outcomes (the +1 is the OOV bucket) so unseen tokens get a
strictly positive floor both engines compute identically. Doc score =
mean negative log-probability over its transitions (docs with fewer
than 2 tokens have no transitions and drop out of the scored set on
BOTH engines — inner-join semantics on the transition stream).

Scale shape (the 100 TB story): the trained model is the reference
slice's distinct-bigram table — Zipf-bounded, orders of magnitude
smaller than the token stream — built by ONE groupBy over the
reference transitions, with context totals a vocab-scale groupBy OVER
THE MODEL. Scoring is two token-scale LEFT joins (transitions against
the model on the (prev,cur) key, tokens against the unigram table —
hash-partitioned, AQE-broadcastable when the model is small) plus a
1-row stats broadcast. The tokenize scan runs once (localCheckpoint
shared by branches, the operators/ranking.py device). The final
head/middle/tail split is PER SOURCE — the CCNet unit (per
language/snapshot, Wenzek et al. §4.3) — over doc-scale rows; at
extreme per-source scale the ntile swaps for approx_percentile
cutoffs (the docs_quality_terciles escape hatch).

Float parity: counts are integer-exact on both engines and cast to
double; the interpolation/smoothing constants are the exact literals
0.7 / 0.3 / 0.5 in both texts (never computed as 1 - lam, which would
print 0.30000000000000004 into the SQL); ln parity is proven by the
PSI entries; the order-sensitive avg is absorbed by the 1e-6 rounding
(the text_unigram_logprob precedent, green since r4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.session import evaluate_once

# Rendered as EXACT decimal literals in both engine texts.
_LAM_BIGRAM = "0.7"
_LAM_UNIGRAM = "0.3"
_OOV_HALF = "0.5"
_N_BUCKETS = 3
REF_MOD = 5  # reference slice: doc_id % REF_MOD == 0

_BIGRAM_PPL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
ref_tok AS (SELECT doc_id, t FROM tok WHERE doc_id % {REF_MOD} = 0),
uni AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c_uni
        FROM (SELECT unnest(t) AS tok FROM ref_tok) GROUP BY tok),
stats AS (SELECT CAST(sum(c_uni) AS DOUBLE) AS n,
                 CAST(count(*) AS DOUBLE) AS v FROM uni),
ref_tr AS (
  SELECT pc.prev AS prev, pc.cur AS cur
  FROM (SELECT unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM ref_tok WHERE len(t) >= 2)),
big AS (SELECT prev, cur, CAST(count(*) AS DOUBLE) AS c_big
        FROM ref_tr GROUP BY prev, cur),
ctx AS (SELECT prev, CAST(sum(c_big) AS DOUBLE) AS c_ctx
        FROM big GROUP BY prev),
probs AS (
  SELECT b.prev, b.cur, b.c_big / x.c_ctx AS p_big
  FROM big b JOIN ctx x ON x.prev = b.prev),
tr AS (
  SELECT doc_id, pc.prev AS prev, pc.cur AS cur
  FROM (SELECT doc_id,
               unnest(list_transform(range(2, len(t) + 1),
                      i -> struct_pack(prev := t[i - 1], cur := t[i]))) AS pc
        FROM tok WHERE len(t) >= 2)),
scored AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_transitions,
         round(avg(-ln(
           {_LAM_BIGRAM} * coalesce(p.p_big, 0.0)
           + {_LAM_UNIGRAM} * ((coalesce(u.c_uni, 0.0) + {_OOV_HALF})
                               / (coalesce(stats.n, 0.0) + {_OOV_HALF} * (stats.v + 1.0)))
         )), 6) AS avg_neg_logprob
  FROM tr
  LEFT JOIN probs p ON p.prev = tr.prev AND p.cur = tr.cur
  LEFT JOIN uni u ON u.tok = tr.cur
  CROSS JOIN stats
  GROUP BY tr.doc_id)
SELECT s.doc_id, d.source, s.n_transitions, s.avg_neg_logprob,
       CAST(ntile({_N_BUCKETS}) OVER (PARTITION BY d.source
                 ORDER BY s.avg_neg_logprob, s.doc_id) AS INT)
         AS ppl_bucket
FROM scored s JOIN documents d ON d.doc_id = s.doc_id
"""


def _pair_arr():
    """Adjacent-token struct array. Built in its OWN select and
    exploded in the next one — a non-generator expression in the same
    select as a generator re-evaluates per generated row (the text.py
    dup-bigram lesson).

    Pairs via zip_with of two SHIFTED SLICES (r13 optimization, the
    operators/dedup.shingles device): the old transform(sequence(2,
    size(t)), i -> struct(element_at(t, i-1), element_at(t, i)))
    referenced ``t`` INSIDE the lambda, and Catalyst does not CSE
    across lambda boundaries — on a STREAMING frame, where the
    tokenized column cannot be checkpoint-materialized, CollapseProject
    inlines the whole regexp+split tokenization into the lambda and
    re-runs it once PER TRANSITION (measured: 2.2 s of each
    streaming_bigram_ppl_ingest micro-batch at sf0.1, ~40 us x 53k
    transitions; the batch callers checkpoint ``t`` first and were
    shielded). Here ``t`` appears only at top level (two slices + the
    size), evaluated once per row. Pair i of the zip is
    (t[i], t[i+1]) — identical structs in identical order to the old
    index walk; the < 2-token guard is unchanged."""
    tcol = F.col("t")
    n_pairs = F.size(tcol) - F.lit(1)
    return F.when(
        F.size(tcol) >= 2,
        F.zip_with(
            F.slice(tcol, 1, n_pairs),
            F.slice(tcol, 2, n_pairs),
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def transitions(frame: DataFrame, cols: list[str]) -> DataFrame:
    """(cols..., prev, cur) transition stream of a tokenized frame
    carrying the token array as column ``t``. Stateless — safe on
    streaming frames."""
    return (
        frame.select(*cols, _pair_arr().alias("pcs"))
        .select(*cols, F.explode("pcs").alias("pc"))
        .select(
            *cols,
            F.col("pc.prev").alias("prev"),
            F.col("pc.cur").alias("cur"),
        )
    )


def _headed_pair_arr():
    """Like ``_pair_arr`` but with a NULL-prev HEAD element per token
    position: element i of the zip is (t[i-1], t[i]) with t[0]'s prev
    NULL — one struct per TOKEN, not per transition. Grouping these
    rows by (prev, cur) yields the bigram counts (prev IS NOT NULL
    rows) AND, summed over prev per cur, the unigram counts — the
    single corpus pass train_bigram_lm fuses its two explode passes
    into (r14 optimization). NULL can never collide with a real token:
    split() yields no NULLs (empty text tokenizes to [''], a distinct
    non-NULL value). Same zip-of-slices top-level shape as _pair_arr
    (no tokenize reference inside a lambda)."""
    tcol = F.col("t")
    n = F.size(tcol)
    prev_arr = F.concat(
        F.array(F.lit(None).cast("string")),
        F.slice(tcol, 1, F.greatest(n - F.lit(1), F.lit(0))),
    )
    return F.when(
        n >= 1,
        F.zip_with(
            prev_arr,
            tcol,
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))


def train_bigram_lm(
    reference: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(probs, uni, stats): the frozen model tables — the REFERENCE
    slice's distinct-bigram conditional MLE (prev, cur, p_big), the
    unigram counts (tok, c_uni), and a 1-row (n, v) stats frame.

    ONE corpus-scale pass (r14 optimization, fusing the former
    unigram-explode + transition-explode pair): each token position
    emits one (prev-or-NULL, cur) row via _headed_pair_arr, grouped
    once at token scale. The grouped table is Zipf-bounded (distinct
    bigrams + V head rows) and is the ONLY materialization — the
    former token-array checkpoint is gone. Unigram counts re-aggregate
    the MODEL table by cur (every token occurrence is a ``cur``
    exactly once, head rows included), so c_uni/n/v are value-
    identical to the two-pass formulation (pinned in
    tests/test_r14_optimizations.py); bigram counts are the
    prev-IS-NOT-NULL rows. The tokenize rides behind a Generate
    barrier (``session.evaluate_once``) so the zip's CodegenFallback
    subtree reads ``t`` as a stored attribute instead of re-running
    the regexp tokenization per reference."""
    ref_tok = reference.select(
        evaluate_once(ws_tokens(F.col(text_col))).alias("t")
    )
    pc = (
        ref_tok.select(_headed_pair_arr().alias("pcs"))
        .select(F.explode("pcs").alias("pc"))
        .select(
            F.col("pc.prev").alias("prev"), F.col("pc.cur").alias("cur")
        )
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
        .localCheckpoint(eager=False)
    )
    uni = pc.groupBy(F.col("cur").alias("tok")).agg(
        F.sum("c").alias("c_uni")
    )
    stats = uni.agg(
        F.sum("c_uni").alias("n"),
        F.count(F.lit(1)).cast("double").alias("v"),
    )
    big = pc.filter(F.col("prev").isNotNull()).select(
        "prev", "cur", F.col("c").alias("c_big")
    )
    ctx = big.groupBy("prev").agg(F.sum("c_big").alias("c_ctx"))
    probs = big.join(ctx, "prev").select(
        "prev", "cur", (F.col("c_big") / F.col("c_ctx")).alias("p_big")
    )
    return probs, uni, stats


def interp_prob(n, v):
    """The interpolated, OOV-smoothed probability of a transition row
    carrying LEFT-joined ``p_big`` and ``c_uni`` columns. ``n``/``v``
    are Columns (batch: from the broadcast stats frame) or literal
    floats (streaming: frozen-model constants) — same arithmetic
    either way, matching the SQL twin token for token. ``n`` is
    null-coalesced to 0: an EMPTY reference (sum over no rows is NULL
    on both engines) then degrades to the deterministic all-OOV floor
    p = 0.3 * (0.5/0.5) instead of NULL scores, whose ordering the
    engines disagree on (Spark sorts NULLS FIRST asc, DuckDB LAST) —
    the ntile downstream would silently diverge."""
    lam_b = F.lit(float(_LAM_BIGRAM))
    lam_u = F.lit(float(_LAM_UNIGRAM))
    half = F.lit(float(_OOV_HALF))
    n = n if isinstance(n, Column) else F.lit(float(n))
    v = v if isinstance(v, Column) else F.lit(float(v))
    return lam_b * F.coalesce(F.col("p_big"), F.lit(0.0)) + lam_u * (
        (F.coalesce(F.col("c_uni"), F.lit(0.0)) + half)
        / (F.coalesce(n, F.lit(0.0)) + half * (v + F.lit(1.0)))
    )


def bigram_neg_logprob(
    base: DataFrame,
    reference: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    model: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """(id, n_transitions, avg_neg_logprob): train the interpolated
    bigram LM on ``reference`` and score every doc of ``base`` — the
    reusable core of docs_bigram_perplexity, also composed into
    plans/corpus.build_pretraining_corpus(ppl_keep_buckets=...).

    ``reference=None`` self-trains on ``base`` — ONLY appropriate when
    base is already curated: self-training rewards token-unique
    gibberish (singleton contexts make MLE transitions deterministic,
    see the module docstring) — pass a curated slice for filtering.
    Docs with < 2 tokens have no transitions and DROP (inner-join
    semantics) — compose after a min-length gate. avg_neg_logprob is
    1e-6-rounded, so downstream ordering on it is hash-stable.

    ``model=(probs, uni, stats)`` skips training and scores against an
    ALREADY-TRAINED model (the train_bigram_lm tuple): a caller that
    also needs the model tables themselves (the streaming serve twin
    broadcasts them into its micro-batch plan) would otherwise pay the
    whole reference tokenize + count chain twice — once for its own
    tables and once inside this function (r13 optimization; the two
    trainings were plan-identical, so scores are unchanged)."""
    if model is not None:
        probs, uni, stats = model
    else:
        if reference is None:
            reference = base
        probs, uni, stats = train_bigram_lm(reference, text_col)
    # Generate barrier instead of a checkpoint (r14 optimization): the
    # tokenized frame feeds exactly ONE consumer (the transition
    # stream), so a localCheckpoint would materialize the whole
    # token-array corpus just to keep ``t`` out of _pair_arr's
    # CodegenFallback zip (4 references: 4 tokenize passes per row).
    tokd = base.select(
        F.col(id_col).alias("doc_id"),
        evaluate_once(ws_tokens(F.col(text_col))).alias("t"),
    )

    # Scoring: two token-scale LEFT joins (transitions x model on the
    # bigram key; tokens x unigram table), then a doc-keyed aggregate.
    # Unseen pairs fall to 0 bigram mass; unseen tokens to the
    # add-half OOV floor — identical expressions in the SQL twin.
    tr = transitions(tokd, ["doc_id"])
    p = interp_prob(F.col("n"), F.col("v"))
    return (
        tr.join(probs, ["prev", "cur"], "left")
        .join(uni.withColumnRenamed("tok", "cur"), "cur", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.round(F.avg(-F.log(p)), 6).alias("avg_neg_logprob"),
        )
        .withColumnRenamed("doc_id", id_col)
    )


@register(
    "docs_bigram_perplexity",
    _BIGRAM_PPL_ORACLE,
    doc="CCNet-style perplexity filter: train an interpolated bigram "
    "LM on the deterministic reference slice (doc_id % 5 == 0 — the "
    "curated-corpus stand-in; training on the scored corpus itself "
    "rewards token-unique gibberish, see queries/lm.py), score EVERY "
    "doc as mean negative log-probability of its transitions with "
    "unseen pairs at 0 bigram mass and OOV tokens on an add-half "
    "unigram floor, bucket head/middle/tail by exact PER-SOURCE "
    "terciles (the CCNet unit). The hashed contract covers the LM "
    "arithmetic, the OOV handling, the scoring joins, and the bucket "
    "assignment.",
)
def docs_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    ref = d.filter(F.col("doc_id") % REF_MOD == 0)
    scored = bigram_neg_logprob(d, reference=ref)
    # Exact PER-SOURCE terciles (the CCNet per-language unit; windows
    # parallelize across sources — at extreme per-source scale the
    # window swaps for approx_percentile cutoffs, the
    # docs_quality_terciles escape hatch).
    scored = scored.join(d.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("avg_neg_logprob", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "n_transitions",
        "avg_neg_logprob",
        F.ntile(_N_BUCKETS).over(w).cast("int").alias("ppl_bucket"),
    )
