"""ExactSubstr with suffix-array-faithful run verification.

queries/spans.py's ``exact_substring_trim`` marks positions covered by
repeated 8-token shingles and deletes maximal covered runs >= 16 — a
documented shingle-cover APPROXIMATION of Lee et al. 2022's semantics
("delete every maximal substring of length >= 16 occurring >= 2
times"). Its failure mode: a run ASSEMBLED from different duplicated
shingles over-trims — doc X borrowing 8 tokens from doc Y immediately
followed by 8 tokens from doc Z has 16 contiguous covered positions,
yet NO 16-token substring of X occurs anywhere twice.

The exactness refinement here verifies each candidate run's full
digest chain against the corpus index before trimming, as the verdict
prescribed, via the min_run-gram identity that makes the check both
exact and bounded:

    a position lies inside a >= 16-token substring occurring >= 2
    times  <=>  it is covered by a repeated 16-gram.

(=>: every 16-gram inside a repeated longer substring occurs wherever
the substring does; <=: a repeated 16-gram IS such a substring.)

So phase 1 runs the cheap 8-shingle pass to get candidate runs (a
provable SUPERSET: every 8-shingle inside a repeated 16-gram is
itself repeated, so all 16 of its positions are covered and land in
one candidate run of length >= 16), and phase 2 enumerates 16-gram
digests ONLY inside candidate runs — the "one extra bounded semi-join
on run boundaries": the corpus is never re-shingled at width 16,
because every occurrence of a REPEATED 16-gram provably lies inside
candidate runs, so counting restricted to them equals the global
count wherever the count reaches 2. Both phases are compositions of
the ExactSubstr stages in queries/spans.py (shingle_digests ->
covered_positions -> covered_runs), and repeated-16-gram coverage
feeds the same trim_runs (resulting runs are >= 16 automatically).

The entry emits BOTH removal counts, so the approximation's over-trim
is visible inside the hash-checked output: the fixture plants (a) the
true cross-doc duplicate suffix spans.PLANT (removed by BOTH chains,
identically) and (b) a per-doc composite borrow A_i B_i qx B_i A_i on
doc_id % 30 == 1 — A_i and B_i are doc-unique 8-token phrases each
occurring twice WITHIN the doc, so the approximation sees two
16-position covered runs and trims 32 tokens, while no 16-gram
repeats (A_i B_i occurs once; B_i A_i occurs once) and the verified
chain correctly trims 0.

Sibling queries-module imports are function-local (the hopstream
rule: a module-level import here would re-register later modules'
entries at this position, shifting all_queries()'s stable order); the
module-level constants below are asserted equal to spans' inside the
entry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import ws_tokens_sql

_K = 8        # phase-1 candidate shingle width (== spans.EXSUB_SHINGLE)
_MIN_RUN = 16  # removal threshold / phase-2 gram width (== EXSUB_MIN_RUN)

# must stay equal to spans.PLANT / spans.PLANT_PRED (asserted in the
# entry): the true-duplicate plant shared with docs_exact_substring_*.
_PLANT = (
    "xqalpha xqbravo xqcedar xqdelta xqember xqfalcon xqgrove xqhollow "
    "xqindigo xqjasper xqkestrel xqlumen xqmarrow xqnimbus xqonyx "
    "xqpetal xqquartz xqrustle xqsable xqtundra xqumber xqvortex "
    "xqwillow xqzephyr"
)
_PLANT_PRED = "(doc_id % 40 = 0 OR doc_id % 20 = 8 OR doc_id % 20 = 19)"

# doc-unique 8-token phrases for the composite borrow; disjoint from
# _PLANT_PRED (doc_id % 30 = 1 is odd-or-even-incompatible with every
# plant class mod 20/40 — no doc carries both suffixes).
_COMP_PRED = "doc_id % 30 = 1"
_A_SQL = (
    "array_to_string(list_transform(range(1, 9), "
    "j -> 'qa' || CAST(doc_id AS VARCHAR) || 'w' || CAST(j AS VARCHAR)), ' ')"
)
_B_SQL = (
    "array_to_string(list_transform(range(1, 9), "
    "j -> 'qb' || CAST(doc_id AS VARCHAR) || 'w' || CAST(j AS VARCHAR)), ' ')"
)

def _chain_sql(width: int, prefix: str, min_run: int) -> str:
    """One coverage chain: sliding ``width``-gram digests -> count>=2
    -> covered positions -> maximal runs >= min_run."""
    return f"""
{prefix}sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {width}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {width} + 1, 0))) AS pos
        FROM tok)),
{prefix}dup AS (SELECT h FROM {prefix}sh GROUP BY h HAVING count(*) >= 2),
{prefix}cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {width})) AS cp
        FROM {prefix}sh s JOIN {prefix}dup USING (h))),
{prefix}isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM {prefix}cov),
{prefix}runs AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM {prefix}isl GROUP BY doc_id, g HAVING count(*) >= {min_run})"""


_VERIFIED_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN {_PLANT_PRED} THEN text || ' {_PLANT}'
               ELSE text END)
         || (CASE WHEN {_COMP_PRED}
                  THEN ' ' || {_A_SQL} || ' ' || {_B_SQL} || ' qx '
                       || {_B_SQL} || ' ' || {_A_SQL}
                  ELSE '' END) AS text
  FROM documents),
tok AS (SELECT doc_id, {ws_tokens_sql('text')} AS t FROM raw),
{_chain_sql(_K, "a", _MIN_RUN)},
{_chain_sql(_MIN_RUN, "x", _MIN_RUN)},
rem8 AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed_approx
         FROM aruns GROUP BY doc_id),
rm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
       FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM xruns)),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
        FROM (SELECT doc_id, unnest(t) AS w,
                     generate_subscripts(t, 1) AS i
              FROM tok)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.w
  FROM pos LEFT JOIN rm ON pos.doc_id = rm.doc_id AND pos.p = rm.cp
  WHERE rm.cp IS NULL),
reasm AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
          FROM kept GROUP BY doc_id),
rem16 AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed_exact
          FROM xruns GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM tok)
SELECT t.doc_id AS doc_id, t.n_toks AS n_toks,
       CAST(coalesce(rem8.removed_approx, 0) AS BIGINT) AS removed_approx,
       CAST(coalesce(rem16.removed_exact, 0) AS BIGINT) AS removed_exact,
       md5(coalesce(reasm.cleaned, '')) AS cleaned_md5
FROM tot t
LEFT JOIN rem8 USING (doc_id)
LEFT JOIN rem16 USING (doc_id)
LEFT JOIN reasm USING (doc_id)
"""


def exact_substring_trim_verified(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = _K,
    min_run: int = _MIN_RUN,
) -> DataFrame:
    """(id, text) -> (doc_id, n_toks, removed_approx, removed_exact,
    cleaned) under EXACT Lee-et-al semantics, with the verification
    pass bounded to phase-1 candidate runs (module docstring has the
    completeness proof).

    Plan shape at 100 TB: phase 1 is exact_substring_trim's shape
    verbatim (digests travel, per-doc windows); phase 2 re-shingles
    ONLY the candidate-run text — the per-doc run list joins back to
    the token arrays, 16-gram start positions are enumerated
    array-side inside [s, e - 16 + 1], and the second count shuffle
    moves candidate-run digests only (duplicate-density-bounded, a
    tiny fraction of the corpus), followed by one more per-doc
    gaps-and-islands. removed_approx (what the shingle-cover
    approximation WOULD delete) falls out of phase 1 for free."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        covered_positions,
        covered_runs,
        repeated_digests,
        shingle_digests,
        tok_base,
        trim_runs,
    )

    # phase 1, phase 2 and the trim all scan it; fanned out before
    # tokenize (see spans.tok_base)
    base = tok_base(docs, id_col, text_col)
    # sh feeds the repeat count AND the coverage join: one shingle pass
    # instead of two
    sh = shingle_digests(base, k).localCheckpoint(eager=False)
    cov = covered_positions(sh.join(repeated_digests(sh), "h"), k)
    # cand feeds approx AND the phase-2 run list — without the
    # checkpoint each consumer re-ran the whole phase-1 chain (coverage
    # join + per-doc window) from the sh checkpoint; the run set is
    # duplicate-density-bounded, tiny.
    cand = covered_runs(cov, min_run).localCheckpoint(eager=False)
    approx = cand.groupBy("doc_id").agg(
        F.sum("len").cast("long").alias("removed_approx")
    )
    # phase 2: min_run-gram digests inside candidate runs only
    runl = cand.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("cruns")
    )
    grams = (
        base.join(runl, "doc_id")
        .select("doc_id", "t", F.explode("cruns").alias("r"))
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.col("r.s"), F.col("r.e") - min_run + 1)
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(
                F.array_join(
                    F.slice(F.col("t"), F.col("pos") + 1, min_run), " "
                )
            ).alias("h"),
        )
        # grams feeds the phase-2 repeat count AND the verified
        # coverage join — one candidate-gram pass instead of two
        .localCheckpoint(eager=False)
    )
    cov16 = covered_positions(
        grams.join(repeated_digests(grams), "h"), min_run
    )
    out = trim_runs(base, covered_runs(cov16, min_run))
    return out.join(approx, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("removed_approx"), F.lit(0))
        .cast("long")
        .alias("removed_approx"),
        F.col("removed_toks").alias("removed_exact"),
        "cleaned",
    )


@register(
    "docs_exact_substring_verified",
    _VERIFIED_ORACLE,
    doc="ExactSubstr with suffix-array-faithful run verification: "
    "candidate runs from the 8-shingle cover "
    "are verified via repeated-16-gram coverage — provably equal to "
    "Lee et al.'s 'delete every maximal >= 16-token substring "
    "occurring >= 2 times', with the verify pass bounded to "
    "candidate-run text. The hash-checked output carries BOTH "
    "removal counts, so the approximation's over-trim is visible in "
    "the driver's evidence: the planted per-doc composite borrow "
    "(A_i B_i qx B_i A_i, doc_id % 30 == 1) shows removed_approx = "
    "32 vs removed_exact = 0, while the true cross-doc duplicate "
    "suffix (spans.PLANT) is removed identically by both chains. "
    "cleaned_md5 pins the exact-semantics reassembly per doc.",
)
def docs_exact_substring_verified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries import spans as _sp

    # the shared-fixture constants must not drift from spans'
    assert _K == _sp.EXSUB_SHINGLE and _MIN_RUN == _sp.EXSUB_MIN_RUN
    assert _PLANT == _sp.PLANT and _PLANT_PRED == _sp.PLANT_PRED

    d = _sp.planted_docs(spark, sf_dir)
    comp = F.concat_ws(
        " ",
        *[F.concat(F.lit("qa"), F.col("doc_id").cast("string"),
                   F.lit(f"w{j}")) for j in range(1, 9)],
        *[F.concat(F.lit("qb"), F.col("doc_id").cast("string"),
                   F.lit(f"w{j}")) for j in range(1, 9)],
        F.lit("qx"),
        *[F.concat(F.lit("qb"), F.col("doc_id").cast("string"),
                   F.lit(f"w{j}")) for j in range(1, 9)],
        *[F.concat(F.lit("qa"), F.col("doc_id").cast("string"),
                   F.lit(f"w{j}")) for j in range(1, 9)],
    )
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 30 == 1, F.concat(F.col("text"), F.lit(" "), comp)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = exact_substring_trim_verified(planted)
    return out.select(
        "doc_id",
        "n_toks",
        "removed_approx",
        "removed_exact",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )
