"""Unit tests for the round-3 text-quality operators: n-gram
contamination, repetition signals, and unigram cross-entropy — on tiny
planted frames where every expected value is hand-computable (the
oracle-differential check covers the fixture-scale behavior)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


class TestTrigrams:
    def test_short_docs_yield_empty_not_descending_sequence(self, spark):
        # sequence(1, n) DESCENDS for n < 1 — the guard must catch
        # 0-, 1- and 2-token docs.
        from dataengineer_job_scraper_etl_spark.functions.strings import (
            ngrams,
            ws_tokens,
        )

        df = _docs_df(spark, ["", "one", "one two", "one two three four"])
        got = {
            r["doc_id"]: r["g"]
            for r in df.select("doc_id", ws_tokens(F.col("text")).alias("t"))
            .select("doc_id", ngrams(F.col("t"), 3).alias("g"))
            .collect()
        }
        assert got[1] == []
        assert got[2] == []
        assert got[3] == ["one two three", "two three four"]


class TestContamination:
    def test_planted_overlap_rates(self, spark, tmp_path):
        # doc 0-4 = benchmark; doc 5 copies doc 0 exactly (rate 1.0),
        # doc 6 shares no trigram (rate 0.0).
        from dataengineer_job_scraper_etl_spark.queries.text import (
            docs_contamination,
        )

        bench_text = "alpha beta gamma delta epsilon"
        rows = [bench_text] * 5 + [bench_text, "zeta eta theta iota kappa"]
        df = _docs_df(spark, rows)
        path = str(tmp_path / "documents.parquet")
        df.write.parquet(path)
        got = {
            r["doc_id"]: r
            for r in docs_contamination(spark, str(tmp_path)).collect()
        }
        assert got[5]["contamination_rate"] == 1.0
        assert got[5]["n_grams"] == 3
        assert got[6]["contamination_rate"] == 0.0


class TestRepetitionSignals:
    def test_hand_computed_doc(self, spark, tmp_path):
        from dataengineer_job_scraper_etl_spark.queries.text import (
            text_repetition_signals,
        )

        # "a a a b": 4 tokens, 2 distinct, top token 3/4;
        # bigrams [a a, a a, a b]: 3 total, 2 distinct -> dup rate 1/3.
        df = _docs_df(spark, ["a a a b"])
        path = str(tmp_path / "documents.parquet")
        df.write.parquet(path)
        row = text_repetition_signals(spark, str(tmp_path)).collect()[0]
        assert row["n_tokens"] == 4
        assert row["n_distinct"] == 2
        assert row["distinct_ratio"] == 0.5
        assert row["top_token_frac"] == 0.75
        assert row["dup_bigram_rate"] == round(1 - 2 / 3, 6)


class TestUnigramLogprob:
    def test_uniform_corpus_entropy(self, spark, tmp_path):
        from dataengineer_job_scraper_etl_spark.queries.text import (
            text_unigram_logprob,
        )

        # Two docs, four equally-frequent tokens -> every token has
        # p = 1/4, so both docs score exactly ln(4).
        df = _docs_df(spark, ["a b", "c d"])
        path = str(tmp_path / "documents.parquet")
        df.write.parquet(path)
        rows = text_unigram_logprob(spark, str(tmp_path)).collect()
        assert len(rows) == 2
        for r in rows:
            assert r["avg_neg_logprob"] == pytest.approx(
                round(math.log(4), 6), abs=1e-6
            )

    def test_rare_tokens_score_higher(self, spark, tmp_path):
        from dataengineer_job_scraper_etl_spark.queries.text import (
            text_unigram_logprob,
        )

        df = _docs_df(spark, ["common common common common", "common rare"])
        path = str(tmp_path / "documents.parquet")
        df.write.parquet(path)
        got = {
            r["doc_id"]: r["avg_neg_logprob"]
            for r in text_unigram_logprob(spark, str(tmp_path)).collect()
        }
        assert got[1] > got[0]


def test_quality_terciles_bucket_sizes_balanced(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.text import (
        docs_quality_terciles,
    )

    rows = docs_quality_terciles(spark, sf_dir).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r["source"], []).append(r)
    for source, bs in by_source.items():
        sizes = {r["bucket"]: r["n_docs"] for r in bs}
        assert set(sizes) <= {1, 2, 3}
        # ntile balance: sizes differ by at most 1
        assert max(sizes.values()) - min(sizes.values()) <= 1
        # head bucket's worst score >= tail bucket's best score
        qmin = {r["bucket"]: r["q_min"] for r in bs}
        qmax = {r["bucket"]: r["q_max"] for r in bs}
        if 1 in qmin and 3 in qmax:
            assert qmin[1] >= qmax[3]
