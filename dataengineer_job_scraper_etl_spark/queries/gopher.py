"""Gopher quality rules over ``documents`` (Rae et al. 2021, table
A1 — the rule battery MassiveWeb was filtered with; LLM-curation
extension, SURVEY §2.10/§2.19).

The seven structural rules (the repetition rules live in
text_repetition_signals / docs_repeated_ngram_coverage):

1. word count in [50, 100_000]
2. mean word length in [3, 10] characters
3. symbol-to-word ratio (# and ellipsis) <= 0.1
4. <= 10% of lines start with a bullet
5. <= 30% of lines end with an ellipsis
6. >= 80% of words contain at least one alphabetic character
7. >= 2 of the 8 Gopher stopwords present (the, be, to, of, and,
   that, have, with)

All metrics are INTEGER-EXACT ppm (``x * 1_000_000 // n`` — floor
division, no float boundary ambiguity), and the per-rule verdicts
plus the conjunction are part of the hashed contract. The fixture
corpus is clean single-line text, so rule-violating structure is
SEEDED deterministically from doc_id on both engines (the
text_pii_redaction device): a stopword-bearing sentence on
doc_id%2==0 (the synthetic vocabulary is stopword-poor — without it
rule 7 fails ~80% of docs and the conjunction never passes), bullet
lines on %3==0, ellipsis lines on %5==0, symbol runs on %7==0,
digit-only words on %11==0 — every rule AND the overall keep verdict
provably fire both ways at every sf.

Scale shape: one narrow per-row projection — string ops only, no
shuffle, no UDF, whole-stage codegen end to end; the gate composes
with the corpus pipeline exactly like the diversity gate it
complements.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet

_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_Q = 1_000_000

# thresholds (paper values), in ppm / counts
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MWL_PPM, MAX_MWL_PPM = 3 * _Q, 10 * _Q
MAX_SYMBOL_PPM = 100_000
MAX_BULLET_PPM = 100_000
MAX_ELLIPSIS_PPM = 300_000
MIN_ALPHA_PPM = 800_000
MIN_STOPWORDS = 2

_NL = "chr(10)"
_SEED_SQL = f"""text
  || CASE WHEN doc_id % 2 = 0
          THEN ' the results have been consistent with that of the cohort'
          ELSE '' END
  || CASE WHEN doc_id % 3 = 0
          THEN {_NL} || '• seeded bullet item' || {_NL} || '- another listed item'
          ELSE '' END
  || CASE WHEN doc_id % 5 = 0
          THEN {_NL} || 'to be continued…' || {_NL} || 'trailing teaser...'
          ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' ### #hash ###' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' 1234 5678 9012 3456' ELSE '' END"""

_STOP_SQL = " + ".join(
    f"(CASE WHEN list_contains(toks, '{s}') THEN 1 ELSE 0 END)"
    for s in _STOPS
)

_GOPHER_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id, {_SEED_SQL} AS s
  FROM documents),
parts AS (
  SELECT doc_id,
         {ws_tokens_sql('s')}
           AS toks,
         string_split(s, {_NL}) AS lines,
         CAST(len(regexp_extract_all(s, '[#…]')) AS BIGINT) AS n_sym
  FROM seeded),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
           AS sum_wlen,
         n_sym,
         CAST(len(list_filter(lines,
              l -> trim(l) LIKE '•%' OR trim(l) LIKE '- %')) AS BIGINT)
           AS n_bullet,
         CAST(len(list_filter(lines,
              l -> trim(l) LIKE '%…' OR trim(l) LIKE '%...')) AS BIGINT)
           AS n_ellipsis,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
              AS BIGINT) AS n_alpha,
         CAST({_STOP_SQL} AS BIGINT) AS n_stopwords
  FROM parts),
r AS (
  SELECT doc_id, n_words,
         CAST(sum_wlen * {_Q} // n_words AS BIGINT) AS mean_wlen_ppm,
         CAST(n_sym * {_Q} // n_words AS BIGINT) AS symbol_ppm,
         CAST(n_bullet * {_Q} // n_lines AS BIGINT) AS bullet_line_ppm,
         CAST(n_ellipsis * {_Q} // n_lines AS BIGINT) AS ellipsis_line_ppm,
         CAST(n_alpha * {_Q} // n_words AS BIGINT) AS alpha_word_ppm,
         n_stopwords
  FROM m)
SELECT doc_id, n_words, mean_wlen_ppm, symbol_ppm, bullet_line_ppm,
       ellipsis_line_ppm, alpha_word_ppm, n_stopwords,
       CAST(CASE WHEN n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS}
                  AND mean_wlen_ppm BETWEEN {MIN_MWL_PPM} AND {MAX_MWL_PPM}
                  AND symbol_ppm <= {MAX_SYMBOL_PPM}
                  AND bullet_line_ppm <= {MAX_BULLET_PPM}
                  AND ellipsis_line_ppm <= {MAX_ELLIPSIS_PPM}
                  AND alpha_word_ppm >= {MIN_ALPHA_PPM}
                  AND n_stopwords >= {MIN_STOPWORDS}
             THEN 1 ELSE 0 END AS INT) AS keep
FROM r
"""


@register(
    "docs_gopher_quality_rules",
    _GOPHER_ORACLE,
    doc="The Gopher structural quality-rule battery (Rae et al. 2021 "
    "A1): word-count bounds, mean word length, symbol ratio, bullet "
    "and ellipsis line fractions, alphabetic-word fraction, stopword "
    "presence — per-rule INTEGER-ppm metrics plus the conjunction "
    "verdict, all hash-checked. Rule-violating structure is seeded "
    "deterministically from doc_id on both engines so every rule "
    "provably fires both ways. One narrow codegen projection: no "
    "shuffle, no UDF.",
)
def docs_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    did = F.col("doc_id")
    blank = F.lit("")
    seeded = F.concat(
        F.col("text"),
        F.when(
            did % 2 == 0,
            F.lit(" the results have been consistent with that of the cohort"),
        ).otherwise(blank),
        F.when(
            did % 3 == 0,
            F.lit("\n• seeded bullet item\n- another listed item"),
        ).otherwise(blank),
        F.when(
            did % 5 == 0,
            F.lit("\nto be continued…\ntrailing teaser..."),
        ).otherwise(blank),
        F.when(did % 7 == 0, F.lit(" ### #hash ###")).otherwise(blank),
        F.when(did % 11 == 0, F.lit(" 1234 5678 9012 3456")).otherwise(blank),
    )
    parts = d.select("doc_id", seeded.alias("s")).select(
        "doc_id",
        ws_tokens(F.col("s")).alias("toks"),
        F.split(F.col("s"), "\n").alias("lines"),
        F.size(F.regexp_extract_all(F.col("s"), F.lit("[#…]"), F.lit(0)))
        .cast("bigint")
        .alias("n_sym"),
    )
    toks, lines = F.col("toks"), F.col("lines")
    trimmed = lambda l: F.trim(l)  # noqa: E731
    m = parts.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("sum_wlen"),
        "n_sym",
        F.size(
            F.filter(
                lines,
                lambda l: trimmed(l).startswith("•")
                | trimmed(l).startswith("- "),
            )
        ).cast("bigint").alias("n_bullet"),
        F.size(
            F.filter(
                lines,
                lambda l: trimmed(l).endswith("…") | trimmed(l).endswith("..."),
            )
        ).cast("bigint").alias("n_ellipsis"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
        .cast("bigint")
        .alias("n_alpha"),
        sum(
            (
                F.when(F.array_contains(toks, s), 1).otherwise(0)
                for s in _STOPS
            ),
            F.lit(0),
        ).cast("bigint").alias("n_stopwords"),
    )
    ppm = lambda num, den: F.expr(f"{num} * {_Q} DIV {den}").cast("bigint")  # noqa: E731
    r = m.select(
        "doc_id",
        "n_words",
        ppm("sum_wlen", "n_words").alias("mean_wlen_ppm"),
        ppm("n_sym", "n_words").alias("symbol_ppm"),
        ppm("n_bullet", "n_lines").alias("bullet_line_ppm"),
        ppm("n_ellipsis", "n_lines").alias("ellipsis_line_ppm"),
        ppm("n_alpha", "n_words").alias("alpha_word_ppm"),
        "n_stopwords",
    )
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_wlen_ppm").between(MIN_MWL_PPM, MAX_MWL_PPM)
        & (F.col("symbol_ppm") <= MAX_SYMBOL_PPM)
        & (F.col("bullet_line_ppm") <= MAX_BULLET_PPM)
        & (F.col("ellipsis_line_ppm") <= MAX_ELLIPSIS_PPM)
        & (F.col("alpha_word_ppm") >= MIN_ALPHA_PPM)
        & (F.col("n_stopwords") >= MIN_STOPWORDS)
    )
    return r.select("*", keep.cast("int").alias("keep"))
