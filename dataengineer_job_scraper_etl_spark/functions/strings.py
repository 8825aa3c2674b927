r"""String scalar ops (SURVEY §2.7 C4-C9, §2.4 F3).

All native expressions; each documents the reference semantics it
preserves.

The only module that knows what whitespace is: collapse runs to one
space, trim spaces, split on single spaces, each with a Spark, a
DuckDB and a Python twin. Spark (Java) ``\s`` is ``[ \t\n\x0B\f\r]``.
RE2 ``\s`` lacks ``\x0B``, hence ``[\s\v]+``; one-argument DuckDB
``trim`` also strips NBSP, U+2000-U+200A and U+3000, hence ``trim(x,
' ')``. Python uses ``re.ASCII`` and names the space in strip/split:
Unicode ``\s``, ``str.strip()`` and ``str.split()`` also match NBSP,
``\x85``, ``\x1c``-``\x1f``, U+2028 and U+3000, which neither engine does.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS_RUN_PY = re.compile(r"\s+", re.ASCII)

# Java's ``\s`` spelled out as a regex character-class body, so one
# pattern string means the same set in Java, RE2 (whose ``\s`` lacks
# ``\x0B``) and Python ``re`` (whose Unicode ``\s`` adds NBSP).
WS_CLASS = " \\t\\n\\x0B\\f\\r"


def jobid_from_urn(urn: Column) -> Column:
    """C4 — ``data_entity_urn.split(':')[-1]`` (reference main.py:100,
    etl/job_scrape.py:47): last segment of the LinkedIn entity URN.
    ``try_element_at`` keeps null-on-missing under ANSI mode."""
    return F.try_element_at(F.split(urn, ":"), F.lit(-1))


def not_containing(col: Column, pattern: str) -> Column:
    """F3 — the reference's only filter operator
    (etl/job_scrape.py:63): ``df[df['title'].str.contains("Software")
    == False]``. pandas ``== False`` also drops null titles (NaN ==
    False -> False); Spark ``~rlike`` yields null for null input, which
    ``filter`` drops too — semantics align, and we document rather than
    "fix" the null-drop."""
    return ~col.rlike(pattern)


def ws_collapse(col: Column) -> Column:
    """Collapse whitespace runs to one space and trim (C5/C6)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def ws_split(col: Column) -> Column:
    """``ws_collapse`` split on single spaces."""
    return F.split(ws_collapse(col), " ")


def normalize_ws_lower(col: Column) -> Column:
    """Dedup/fingerprint normalization: lowercased ``ws_collapse``."""
    return ws_collapse(F.lower(col))


def ws_tokens(col: Column) -> Column:
    """THE corpus-wide tokenization contract: lowercased ``ws_split``."""
    return ws_split(F.lower(col))


def ngrams(toks: Column, n: int) -> Column:
    """Positional sliding ``n``-grams of the token array ``toks``, each
    joined by one space; empty when ``toks`` is NULL or has fewer than
    ``n`` tokens (``sequence(1, m)`` descends for ``m < 1``).

    Pass a token COLUMN projected in its own select, not a tokenizer
    expression: Catalyst does no common-subexpression elimination
    inside lambdas, so an inline tokenizer re-runs once per window."""
    n_g = F.size(toks) - F.lit(n - 1)
    win = F.transform(
        F.sequence(F.lit(1), n_g),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(n_g >= 1, win).otherwise(F.array().cast("array<string>"))


def ws_collapse_sql(expr: str) -> str:
    """DuckDB twin of ``ws_collapse`` over the SQL text ``expr``."""
    return f"trim(regexp_replace({expr}, '[\\s\\v]+', ' ', 'g'), ' ')"


def ws_split_sql(expr: str) -> str:
    """DuckDB twin of ``ws_split``."""
    return f"string_split({ws_collapse_sql(expr)}, ' ')"


def ws_norm_sql(expr: str) -> str:
    """DuckDB twin of ``normalize_ws_lower``."""
    return ws_collapse_sql(f"lower({expr})")


def ws_tokens_sql(expr: str) -> str:
    """DuckDB twin of ``ws_tokens``."""
    return ws_split_sql(f"lower({expr})")


def ws_collapse_py(s: str) -> str:
    """Python twin of ``ws_collapse``, for worker code."""
    return _WS_RUN_PY.sub(" ", s).strip(" ")


def ws_split_py(s: str) -> list[str]:
    """Python twin of ``ws_split``."""
    return ws_collapse_py(s).split(" ")


def ddmmyyyy(col: Column | None = None) -> Column:
    """C7 — the reference's file-naming date format
    (``strftime('%d%m%Y')``, main.py:19)."""
    return F.date_format(col if col is not None else F.current_date(), "ddMMyyyy")
