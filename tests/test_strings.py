"""C4/F3/C7 — string scalar semantics (SURVEY §2.7, §2.4)."""

from __future__ import annotations

import ast
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.strings import (
    ddmmyyyy,
    jobid_from_urn,
    ngrams,
    normalize_ws_lower,
    not_containing,
    ws_collapse,
    ws_collapse_py,
    ws_collapse_sql,
    ws_norm_sql,
    ws_split,
    ws_split_py,
    ws_split_sql,
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.operators.skills import (
    _TokenTrie,
    extract_skills_ngram_join,
    extract_skills_udf,
)


def test_jobid_from_urn(spark):
    df = spark.createDataFrame(
        [("urn:li:jobPosting:123456",), ("plain",), (None,)], "urn string"
    )
    got = [r["id"] for r in df.select(jobid_from_urn(F.col("urn")).alias("id")).collect()]
    assert got == ["123456", "plain", None]


def test_not_containing_drops_nulls(spark):
    # pandas `== False` drops null titles (NaN == False -> False);
    # Spark ~rlike yields null for null input and filter drops it —
    # assert the alignment, don't assume it (reference etl/job_scrape.py:63).
    df = spark.createDataFrame(
        [("Software Engineer",), ("Data Engineer",), (None,)], "title string"
    )
    kept = [
        r["title"]
        for r in df.filter(not_containing(F.col("title"), "Software")).collect()
    ]
    assert kept == ["Data Engineer"]


def test_ddmmyyyy_shape(spark):
    got = spark.range(1).select(ddmmyyyy().alias("d")).first()["d"]
    assert len(got) == 8 and got.isdigit()


# --- the whitespace contract: one home, three engines -------------------

# Every ASCII whitespace char (Java's and re.ASCII's \s), then the
# characters Unicode-aware code would also treat as whitespace but
# Spark and DuckDB do not: NBSP, NEL, FS, LINE SEPARATOR, IDEOGRAPHIC
# SPACE.
_ASCII_WS = [" ", "\t", "\n", "\x0b", "\x0c", "\r"]
_OTHER_WS = ["\xa0", "\x85", "\x1c", "\u2028", "\u3000"]
_WS_INPUTS = (
    [f"Ab{c}Cd" for c in _ASCII_WS + _OTHER_WS]
    + [f"{c}{c}Ab{c}{c}Cd{c}" for c in _ASCII_WS + _OTHER_WS]
    + ["  lead", "trail  ", " \t\x0b\x0c\r\n ", "a \xa0 b", "\xa0x\xa0", "", None]
)


def _spark_ws(spark):
    df = spark.createDataFrame(list(enumerate(_WS_INPUTS)), "id int, text string")
    t = F.col("text")
    rows = df.select(
        "id",
        ws_collapse(t).alias("collapse"),
        ws_split(t).alias("split"),
        normalize_ws_lower(t).alias("norm"),
        ws_tokens(t).alias("tokens"),
    ).collect()
    return {r["id"]: (r["collapse"], r["split"], r["norm"], r["tokens"]) for r in rows}


def _duckdb_ws():
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(_WS_INPUTS)))
    rows = con.execute(
        f"SELECT id, {ws_collapse_sql('text')}, {ws_split_sql('text')}, "
        f"{ws_norm_sql('text')}, {ws_tokens_sql('text')} FROM t"
    ).fetchall()
    return {r[0]: tuple(r[1:]) for r in rows}


def test_whitespace_twins_agree_across_spark_duckdb_python(spark):
    """The Spark helpers, their DuckDB twins and the Python twins
    collapse, trim and split the same characters: exactly Java's \\s
    set, never NBSP or the other Unicode-only spaces."""
    sp, dd = _spark_ws(spark), _duckdb_ws()
    for i, s in enumerate(_WS_INPUTS):
        assert dd[i] == sp[i], (repr(s), dd[i], sp[i])
        if s is not None:
            assert (ws_collapse_py(s), ws_split_py(s)) == sp[i][:2], repr(s)
    # the contract itself, pinned on a few inputs
    assert sp[_WS_INPUTS.index("Ab\x0bCd")][3] == ["ab", "cd"]
    assert sp[_WS_INPUTS.index("Ab\xa0Cd")][3] == ["ab\xa0cd"]
    assert sp[_WS_INPUTS.index("")][1] == [""]
    assert sp[_WS_INPUTS.index(None)] == (None, None, None, None)


def test_trie_matches_native_ngram_on_nbsp_description(spark):
    """The pandas-UDF path (trie for LOWER phrases, Python regex for TEXT
    phrases) and the native n-gram join find the same skills on text
    carrying NBSP (BeautifulSoup ``get_text`` keeps it): NBSP is part of
    a token, not a boundary, in all of them."""
    phrases = sorted(["python", "spark", "apache spark", "power bi"])
    text_phrases = ["Power BI"]  # case-sensitive TEXT stratum (regex path)
    texts = [
        "Python\xa0Spark and Power\xa0BI",
        "apache\xa0spark,\xa0python",
        "Apache Spark\x0bPython",
        "Power BI\xa0dashboards",
    ]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "jobid string, description string"
    )
    native = {
        r["jobid"]: r["skills"]
        for r in extract_skills_ngram_join(
            spark, df, "description", "jobid", phrases, text_phrases=text_phrases
        ).collect()
    }
    udf = {
        r["jobid"]: r["skills"]
        for r in extract_skills_udf(
            spark, df, "description", phrases, text_phrases=text_phrases
        ).collect()
    }
    trie = _TokenTrie(phrases)
    for i, t in enumerate(texts):
        assert trie.match(t) == native[str(i)], repr(t)
    assert udf == native
    assert native["0"] == [] and native["2"] == ["apache spark", "python", "spark"]


# Whitespace-run regexes outside functions/strings.py: (module,
# enclosing function) -> why it is not the shared contract.
_WS_RUN_ALLOWED: dict[tuple[str, str], str] = {}
_WS_RUN_RE = re.compile(r"\\s\+|\[\\s[^\]]*\]\+")


def test_whitespace_is_spelled_only_in_strings_module(package_sites):
    """No whitespace-run regex (Spark, SQL or Python) outside
    functions/strings.py, except the named allowlist."""
    found = package_sites(
        lambda n: isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and bool(_WS_RUN_RE.search(n.value))
    )
    found = {s for s in found if s[0] != "functions/strings.py"}
    assert found == set(_WS_RUN_ALLOWED)


def test_generate_barrier_is_spelled_only_in_its_helper(package_sites):
    """A single-element ``F.explode(F.array(x))`` appears only in
    session.evaluate_once."""

    def is_barrier(n):
        return (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "explode"
            and len(n.args) == 1
            and isinstance(n.args[0], ast.Call)
            and isinstance(n.args[0].func, ast.Attribute)
            and n.args[0].func.attr == "array"
            and len(n.args[0].args) == 1
            and not isinstance(n.args[0].args[0], ast.Starred)
        )

    assert package_sites(is_barrier) == {("session.py", "evaluate_once")}


def _ngrams_py(toks, n):
    """Python reference: every sliding n-token window, space-joined."""
    toks = toks or []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("n", [2, 3, 8])
def test_ngrams_matches_python_reference(spark, n):
    """NULL, [''] and arrays of n-1, n and n+1 tokens: ``ngrams`` gives
    the Python windows, empty below n tokens (never the descending
    ``sequence`` phantoms)."""
    cases = [None, [""]] + [
        [f"w{j}" for j in range(m)] for m in (n - 1, n, n + 1)
    ]
    df = spark.createDataFrame(
        list(enumerate(cases)), "i int, t array<string>"
    )
    got = {
        r["i"]: r["g"]
        for r in df.select("i", ngrams(F.col("t"), n).alias("g")).collect()
    }
    assert got == {i: _ngrams_py(t, n) for i, t in enumerate(cases)}
