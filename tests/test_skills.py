"""U2/U3/J2 — skill matcher: tokenization goldens + three-variant
equality (native expression vs n-gram broadcast join vs trie pandas
UDF must be equal by construction; asserted here, not assumed).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import PATTERNS_PATH
from dataengineer_job_scraper_etl_spark.io import load_jsonl_driver_side
from dataengineer_job_scraper_etl_spark.operators.skills import (
    _TokenTrie,
    extract_skills_native,
    extract_skills_ngram_join,
    extract_skills_udf,
    match_text_patterns,
    normalize_text_py,
    phrases_from_patterns,
    text_matches_oracle_sql,
    text_phrases_from_patterns,
)

PHRASES = ["power bi", "python", "spark", "apache spark", "sql", "node js", "c++"]

CASES = [
    # spaCy-parity tokenization: punctuation is a token boundary
    ("experience with Python, Spark.", ["python", "spark"]),
    ("Python/SQL skills", ["python", "sql"]),
    ("(Python) and [Spark]!", ["python", "spark"]),
    # multi-token phrase across punctuation-free text
    ("knows Power BI well", ["power bi"]),
    # longest+subset phrases both reported
    ("uses Apache Spark daily", ["apache spark", "spark"]),
    # phrase with punctuation in dictionary form ('node.js' -> 'node js')
    ("built on Node.js runtime", ["node js"]),
    # '+' is NOT a boundary: c++ stays one token
    ("c++ developer", ["c++"]),
    ("plain c is not c++", ["c++"]),  # 'c' alone not in dict; c++ is
    # no partial-token matches
    ("pythonic sparks", []),
    ("", []),
]


@pytest.mark.parametrize("text,expected", CASES)
def test_native_tokenization_golden(spark, text, expected):
    df = spark.createDataFrame([(text,)], "description string")
    got = df.select(
        extract_skills_native(F.col("description"), sorted(PHRASES)).alias("s")
    ).first()["s"]
    assert got == sorted(expected)


@pytest.mark.parametrize("text,expected", CASES)
def test_trie_matches_golden(text, expected):
    trie = _TokenTrie(sorted(PHRASES))
    assert trie.match(text) == sorted(expected)


def test_c_plus_plus_token_check():
    # "plain c is not c++" DOES contain token 'c++' -> would match if
    # 'c++' present; the CASES entry above relies on exact-token logic.
    assert "c++" in normalize_text_py("plain c is not c++").split()


def _corpus(spark):
    rows = [(str(i), t) for i, (t, _) in enumerate(CASES)] + [
        ("n1", None),
        ("n2", "Power BI, Apache Spark; SQL & Python."),
    ]
    return spark.createDataFrame(rows, "jobid string, description string")


def test_three_variants_equal_small(spark):
    phrases = sorted(PHRASES)
    df = _corpus(spark)
    native = {
        r["jobid"]: r["s"]
        for r in df.select(
            "jobid", extract_skills_native(F.col("description"), phrases).alias("s")
        ).collect()
    }
    ngram = {
        r["jobid"]: r["skills"]
        for r in extract_skills_ngram_join(
            spark, df, "description", "jobid", phrases
        ).collect()
    }
    udf = {
        r["jobid"]: r["skills"]
        for r in extract_skills_udf(spark, df, "description", phrases).collect()
    }
    assert native == ngram == udf
    assert native["n1"] is None  # null text -> null skills in all three
    assert native["n2"] == ["apache spark", "power bi", "python", "spark", "sql"]


def test_three_variants_equal_full_dictionary(spark, sf_dir):
    """UDF-vs-native equality at the full 2,412-pattern dictionary over
    real fixture-derived postings (the SURVEY §5.2 equality test)."""
    from dataengineer_job_scraper_etl_spark.plans.jobs import derive_postings

    phrases = phrases_from_patterns(load_jsonl_driver_side(PATTERNS_PATH))
    assert len(phrases) >= 2000  # reference scale (2,412-line asset)
    p = (
        derive_postings(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        )
        .na.drop(subset=["description"])
        .limit(60)
    )
    native = {
        r["jobid"]: r["s"]
        for r in p.select(
            "jobid", extract_skills_native(F.col("description"), phrases).alias("s")
        ).collect()
    }
    ngram = {
        r["jobid"]: r["skills"]
        for r in extract_skills_ngram_join(
            spark, p, "description", "jobid", phrases
        ).collect()
    }
    udf = {
        r["jobid"]: r["skills"]
        for r in extract_skills_udf(spark, p, "description", phrases).collect()
    }
    assert native == ngram == udf


def test_phrases_normalized_like_text():
    patterns = [
        {"label": "SKILL", "pattern": [{"LOWER": "Node.js"}]},
        {"label": "SKILL", "pattern": [{"LOWER": "power"}, {"LOWER": "bi"}]},
        {"label": "SKILL", "pattern": [{"TEXT": "C++"}]},
    ]
    # TEXT rows belong to the case-sensitive stratum, not the LOWER one.
    assert phrases_from_patterns(patterns) == ["node js", "power bi"]
    assert text_phrases_from_patterns(patterns) == ["C++"]


# ----------------------------------------------------------- TEXT stratum

TEXT_PHRASES = [".NET", "API", "C#", "ASP.NET", "C++", "R"]
LOWER_FOR_CS = ["python", "net income"]

CS_CASES = [
    # verbatim case+punct forms fire
    ("We ship .NET and C# services", [".net", "c#"]),
    ("Strong API design in Python", ["api", "python"]),
    # lowercase forms do NOT fire TEXT patterns
    ("api development with python", ["python"]),
    ("c++ and .net experience", []),
    # '.NET' never fires on 'net income' (and vice versa the LOWER
    # phrase 'net income' still matches case-insensitively)
    ("Net income reporting; NET Income review", ["net income"]),
    # '.NET' does not fire inside 'ASP.NET'; ASP.NET fires itself
    ("ASP.NET backend developer", ["asp.net"]),
    # boundary punctuation adjacent to the token is fine
    ("knows R, C++; uses (API)", ["api", "c++", "r"]),
    # TEXT 'R'/'C++' do not fire inside other tokens
    ("Ruby and C++11 and R&D", []),
    ("", []),
]


@pytest.mark.parametrize("text,expected", CS_CASES)
def test_case_sensitive_native_golden(spark, text, expected):
    df = spark.createDataFrame([(text,)], "description string")
    got = df.select(
        extract_skills_native(
            F.col("description"), sorted(LOWER_FOR_CS), sorted(TEXT_PHRASES)
        ).alias("s")
    ).first()["s"]
    assert got == sorted(expected)


def test_case_sensitive_three_variants_equal(spark):
    rows = [(str(i), t) for i, (t, _) in enumerate(CS_CASES)] + [("n1", None)]
    df = spark.createDataFrame(rows, "jobid string, description string")
    lower, text = sorted(LOWER_FOR_CS), sorted(TEXT_PHRASES)
    native = {
        r["jobid"]: r["s"]
        for r in df.select(
            "jobid",
            extract_skills_native(F.col("description"), lower, text).alias("s"),
        ).collect()
    }
    ngram = {
        r["jobid"]: r["skills"]
        for r in extract_skills_ngram_join(
            spark, df, "description", "jobid", lower, text_phrases=text
        ).collect()
    }
    udf = {
        r["jobid"]: r["skills"]
        for r in extract_skills_udf(
            spark, df, "description", lower, text_phrases=text
        ).collect()
    }
    assert native == ngram == udf
    assert native["n1"] is None
    for i, (_, expected) in enumerate(CS_CASES):
        assert native[str(i)] == sorted(expected), CS_CASES[i]


# Vertical tab is whitespace in Java's \s but not in RE2's; NBSP is
# whitespace in neither engine.
WS_TEXT_CASES = [
    ("uses Power\x0bBI daily", ["power bi"]),
    ("\x0bPower BI\x0b", ["power bi"]),
    ("Power\x0b\x0bBI.", ["power bi"]),
    ("Power BI", ["power bi"]),
    ("Power\xa0BI", []),
    ("\xa0Power BI\xa0", []),
]


def test_text_stratum_whitespace_agrees_across_spark_duckdb_python(spark):
    """The TEXT-stratum regex fires on the same texts in Spark rlike,
    the DuckDB oracle (RE2) and the Python UDF path: vertical tab
    between or around the words matches, NBSP does not."""
    import duckdb

    phrases = ["Power BI"]
    rows = [(str(i), t) for i, (t, _) in enumerate(WS_TEXT_CASES)]
    df = spark.createDataFrame(rows, "jobid string, description string")
    sp = {
        r["jobid"]: r["s"]
        for r in df.select(
            "jobid", match_text_patterns(F.col("description"), phrases).alias("s")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (jobid VARCHAR, description VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dd = dict(
        con.execute(
            f"SELECT jobid, {text_matches_oracle_sql('description', phrases)} FROM t"
        ).fetchall()
    )
    udf = {
        r["jobid"]: r["skills"]
        for r in extract_skills_udf(
            spark, df, "description", [], text_phrases=phrases
        ).collect()
    }
    want = {str(i): e for i, (_, e) in enumerate(WS_TEXT_CASES)}
    assert sp == want
    assert dd == want
    assert udf == want


def test_asset_has_reference_scale_text_stratum():
    """The regenerated asset mirrors the reference's stratum sizes:
    2,412 rows total with a 52-row TEXT stratum
    (reference assets/skills_no_en.jsonl)."""
    rows = load_jsonl_driver_side(PATTERNS_PATH)
    assert len(rows) == 2412
    n_text = sum(
        1 for r in rows if any("TEXT" in t for t in r.get("pattern", []))
    )
    assert n_text == 52
    tx = text_phrases_from_patterns(rows)
    assert ".NET" in tx and "C#" in tx and "API" in tx
