"""Tokenizer-training entries (operators/bpe.py).

The iterative merge LOOP is differential-tested against the
single-process reference implementation (tests/test_bpe.py — n-round
merge tables must be identical), because n rounds of greedy argmax
don't reduce to one SQL statement. What IS oracle-checked here is the
loop's corpus-facing stage: the distinct-word reduction and the
weighted adjacent-pair count that every round consumes — i.e. the part
whose correctness depends on distributed execution (partial aggs,
array-side pair windows), not on the driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import ws_tokens_sql
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.bpe import (
    pair_counts,
    word_counts,
    word_symbols,
)

_TOP = 30

_PAIRS_ORACLE = f"""
WITH words AS (
  SELECT unnest({ws_tokens_sql('text')}) AS word
  FROM documents),
wc AS (
  SELECT word, count(*) AS c FROM words WHERE word <> '' GROUP BY word),
syms AS (
  SELECT word, c, list_append(string_split(word, ''), '</w>') AS s FROM wc),
pairs AS (
  SELECT s[i] || ' ' || s[i + 1] AS pair, c
  FROM syms, LATERAL (SELECT unnest(range(1, len(s))) AS i))
SELECT pair, CAST(sum(c) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT {_TOP}
"""


@register(
    "text_bpe_top_pairs",
    _PAIRS_ORACLE,
    doc="BPE training round 1, oracle-checked: corpus -> distinct-word "
    "frequency table (the ONE corpus-sized pass of tokenizer "
    "training — the Sennrich reduction) -> character+'</w>' symbol "
    "arrays -> adjacent-pair counts weighted by word frequency, top "
    f"{_TOP} by (count desc, pair asc) — exactly the argmax order the "
    "merge loop consumes, so a hash match here pins the statistics "
    "every learned merge derives from. Plan: pairs are built "
    "array-side (zip_with over two slices — no per-symbol corpus "
    "explode); both aggs partial; the top-k is TakeOrderedAndProject, "
    "never a full sort. The merge loop itself is differential-tested "
    "in tests/test_bpe.py.",
)
def text_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    vocab = word_symbols(word_counts(docs))
    return (
        pair_counts(vocab)
        .select("pair", F.col("pair_count").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(_TOP)
    )
