"""U2/U3 + J2 — skill extraction: match a broadcast pattern dictionary
against document text, emit a deduped array of matched skills.

Reference semantics (main.py:132-139, etl/transform.py:26-49): a spaCy
EntityRuler holds ~2.4k token-sequence patterns
(assets/skills_no_en.jsonl shape); each description yields the set of
matched patterns, lowercased and deduped (``list(set(...))``,
main.py:139). The reference's own Spark variant already chose
``pandas_udf(ArrayType(StringType()))`` + Arrow for this step
(etl/transform.py:46-49) — we keep that design and harden it.

Canonical matching semantics (engine + oracle agree on this):
a pattern phrase matches a document iff its tokens appear as a
contiguous subsequence of the whitespace-tokenized, lowercased text.
Output = sorted distinct matched phrases (array_sort replaces the
reference's nondeterministic set() ordering — SURVEY §7 risk register).

The dictionary has TWO strata, mirroring spaCy EntityRuler attribute
semantics (main.py:132-133; reference assets/skills_no_en.jsonl has
2,360 {"LOWER": ...} rows + 52 {"TEXT": ...} rows):

- LOWER patterns match case-INsensitively and are normalized with the
  punctuation-as-boundary rules below (both sides of the match).
- TEXT patterns match case-SENSITIVELY with intra-token punctuation
  preserved (".NET", "C++", "C#", "API"): the raw, un-lowered text is
  searched for the verbatim phrase bounded by separator characters,
  so ".NET" does NOT match "net income" and "API" does NOT match
  "api". Matched entity text is lowercased on OUTPUT only — the
  reference emits ``ent.text.lower()`` (main.py:139).

Three implementations, equal by construction (tested against each
other in tests/test_skills.py):

1. ``extract_skills_native`` — pure Catalyst expression: filter a
   broadcast array literal of phrases by substring containment on the
   normalized text. Zero shuffle, zero Python, codegen'd; this is the
   oracle-checkable formulation but costs O(|dict| x |text|) per row.
2. ``extract_skills_ngram_join`` — explode token n-grams, broadcast-
   hash-join against the phrase table, collect_set per doc. All JVM,
   O(tokens) per row regardless of dictionary size.
3. ``extract_skills_udf`` — Arrow-batched pandas UDF running a token
   trie (Aho-Corasick-lite) built ONCE per Python worker from a
   broadcast variable; O(tokens) per document. This is where a real
   spaCy pipeline would slot in (import-gated; not in this image).

Benchmark at the full 2,412-pattern dictionary, sf0.1 postings
(4,167 rows, local[32], 2026-08: this round's variant decision):
native contains 152.1 s; ngram join 2.4 s; trie pandas_udf 0.4 s
(after worker warmup; cold ~3 s). DECISION: the transform pipeline and
flagship query use the ngram join (fast, Python-free, dictionary-size-
independent, and the shape that survives 100 TB); the native
expression stays as the oracle-twin demo on the bounded
``jobs_skills`` entry; the trie UDF is kept as the spaCy slot-in and
equality-tested against both.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineer_job_scraper_etl_spark.functions.strings import (
    WS_CLASS,
    ngrams,
    ws_collapse,
    ws_collapse_py,
    ws_collapse_sql,
    ws_split,
)

DEFAULT_PATTERNS_PATH = "assets/skill_patterns.jsonl"

# Separator punctuation treated as a token boundary — mirrors the
# reference's spaCy tokenization, where "Python, Spark." yields the
# tokens [python, ",", spark, "."] and so matches the patterns
# `python` and `spark` (main.py:132-139, etl/transform.py:37-43).
# Chars that occur INSIDE real skill tokens are deliberately NOT split:
# '+' (c++), '#' (c#), '&', '_' (snake_case libs). '.', '-', '/' ARE
# split, so ".net" / "scikit-learn" / "ci/cd" normalize to
# "net" / "scikit learn" / "ci cd" on both the text and the phrase
# side, keeping matching consistent. The same class string feeds Java
# regex (Spark), RE2 (DuckDB), and Python re.
PUNCT_CLASS = "[,.;:!?()\\[\\]{}<>\"'`/\\\\|=*^%$@~-]"
_PUNCT_RE = re.compile(PUNCT_CLASS)


def normalize_text_py(text: str) -> str:
    """Driver/worker-side twin of ``_normalized`` (unpadded): lower,
    punctuation -> space, collapse whitespace, trim."""
    return ws_collapse_py(_PUNCT_RE.sub(" ", text.lower()))


def phrases_from_patterns(patterns: list[dict]) -> list[str]:
    """JSONL pattern rows -> the case-INSENSITIVE (LOWER) stratum:
    lowercase space-joined phrases, normalized with the SAME
    punctuation rules as the text side so e.g. the pattern "node.js"
    and the text "Node.js" both become "node js". Mirrors how the
    reference's EntityRuler consumes {"LOWER": ...} rows
    (main.py:132-133). Rows containing any {"TEXT": ...} token belong
    to the case-sensitive stratum -> ``text_phrases_from_patterns``.
    """
    out = []
    for row in patterns:
        toks = row.get("pattern", [])
        if any("TEXT" in tok for tok in toks):
            continue
        phrase = normalize_text_py(
            " ".join(str(tok.get("LOWER") or "").lower() for tok in toks)
        )
        if phrase:
            out.append(phrase)
    return sorted(set(out))


def text_phrases_from_patterns(patterns: list[dict]) -> list[str]:
    """JSONL pattern rows -> the case-SENSITIVE (TEXT) stratum:
    verbatim token phrases, case and punctuation preserved (".NET",
    "C++", "API"). spaCy matches {"TEXT": tok} against the exact token
    text (EntityRuler, main.py:132-133).

    A row mixing TEXT and LOWER tokens (none exist in the reference
    asset) is conservatively treated as all-TEXT — matching it
    case-sensitively can under-match, but dropping it (or lowering the
    TEXT tokens) would mis-match; documented divergence."""
    out = []
    for row in patterns:
        toks = row.get("pattern", [])
        if not toks or not any("TEXT" in tok for tok in toks):
            continue
        phrase = ws_collapse_py(
            " ".join(str(tok.get("TEXT") or tok.get("LOWER") or "") for tok in toks)
        )
        if phrase:
            out.append(phrase)
    return sorted(set(out))


# ---------------------------------------------------------------------
# Case-sensitive (TEXT) channel. A TEXT phrase matches iff it occurs
# verbatim in the RAW text bounded by separator characters: the same
# boundary class on the left (minus '.', so ".NET" never fires inside
# "ASP.NET") and on the right (including '.', so "API." at sentence
# end matches — spaCy splits the trailing period into its own token).
# '+', '#', '&', '_' are NOT boundaries (same rule as PUNCT_CLASS), so
# the TEXT pattern "C" does not fire inside "C++"/"C#". The regex uses
# only alternation + character classes — no lookaround — so the SAME
# pattern string runs identically on Java regex (Spark rlike), RE2
# (DuckDB regexp_matches), and Python re (the UDF variant). Whitespace
# is strings.WS_CLASS, never ``\s``: RE2's ``\s`` lacks ``\x0B``.
# ---------------------------------------------------------------------

TEXT_LEFT_BOUND = "(^|[" + WS_CLASS + "\"'\\(\\[\\{<,;:!\\?])"
TEXT_RIGHT_BOUND = "($|[" + WS_CLASS + "\"'\\)\\]\\}>,\\.;:!\\?])"


def _escape_regex_token(tok: str) -> str:
    # Backslash-escape every non-alphanumeric char (Java rejects
    # backslash before unassigned ALPHABETIC escapes only; punctuation
    # escapes are literal in Java, RE2, and Python alike).
    return "".join(
        c if (c.isalnum() or c == "_") else "\\" + c for c in tok
    )


def text_pattern_regex(phrase: str) -> str:
    """Search regex (no anchors beyond the boundary groups) for one
    case-sensitive TEXT phrase; engine-portable (see block comment)."""
    gap = "(?:[" + WS_CLASS + "]+)"
    body = gap.join(_escape_regex_token(t) for t in phrase.split(" "))
    return TEXT_LEFT_BOUND + body + TEXT_RIGHT_BOUND


def match_text_patterns(text: Column, text_phrases: list[str]) -> Column:
    """Array of OUTPUT-lowercased TEXT-stratum phrases whose verbatim,
    case-sensitive form occurs in ``text`` (empty array on no match or
    null text — the caller owns null-text semantics). Pure codegen'd
    expression: one rlike per phrase, dictionary shipped as plan
    literals (the TEXT stratum is bounded small — 52 rows in the
    reference — so this never needs the n-gram join treatment)."""
    if not text_phrases:
        return F.array().cast(T.ArrayType(T.StringType()))
    hits = F.array(
        *[
            F.when(text.rlike(text_pattern_regex(p)), F.lit(p.lower()))
            for p in text_phrases
        ]
    )
    return F.filter(hits, lambda x: x.isNotNull())


def text_matches_oracle_sql(text_expr: str, text_phrases: list[str]) -> str:
    """DuckDB twin of ``match_text_patterns`` (RE2 runs the identical
    pattern strings)."""
    if not text_phrases:
        return "CAST([] AS VARCHAR[])"
    cases = ", ".join(
        "CASE WHEN regexp_matches({t}, '{rx}') THEN '{out}' END".format(
            t=text_expr,
            rx=text_pattern_regex(p).replace("'", "''"),
            out=p.lower().replace("'", "''"),
        )
        for p in text_phrases
    )
    return f"list_filter([{cases}], x -> x IS NOT NULL)"


def _normalized(text: Column) -> Column:
    # lowercase + punctuation->space + collapse whitespace, padded so
    # every token boundary is a single space — makes phrase containment
    # == token-subsequence, including tokens followed by punctuation.
    depunct = F.regexp_replace(F.lower(text), PUNCT_CLASS, " ")
    return F.concat(F.lit(" "), ws_collapse(depunct), F.lit(" "))


def extract_skills_native(
    text: Column, phrases: list[str], text_phrases: list[str] = ()
) -> Column:
    """Pure-expression formulation: the phrase dictionary is a literal
    array (Catalyst constant, shipped with the plan — the broadcast of
    a small dim without a join). Each row evaluates `contains` per
    LOWER phrase + one rlike per TEXT phrase inside codegen; no
    shuffle, no Python worker.

    Null text -> null skills (matches reference: rows with null
    description are dropped before this runs, main.py:152)."""
    padded = _normalized(text)
    arr = F.filter(
        F.array(*[F.lit(p) for p in phrases]),
        lambda p: padded.contains(F.concat(F.lit(" "), p, F.lit(" "))),
    )
    if text_phrases:
        arr = F.concat(arr, match_text_patterns(text, list(text_phrases)))
    return F.when(text.isNotNull(), F.array_sort(F.array_distinct(arr)))


def skills_oracle_padded_sql(text_expr: str) -> str:
    """SQL for the padded, punctuation-normalized text — the LOWER
    stratum's per-row haystack. Emit this ONCE in an inner projection
    and pass the column name to ``skills_oracle_sql`` as
    ``padded_expr``: DuckDB does not common-subexpression-eliminate a
    lambda body, so inlining this recomputes two regexp_replaces per
    phrase per row — measured ~30 min per full-corpus entry at sf1 vs
    seconds with the projection materialized."""
    punct_sql = PUNCT_CLASS.replace("'", "''")
    depunct = f"regexp_replace(lower({text_expr}), '{punct_sql}', ' ', 'g')"
    return f"(' ' || {ws_collapse_sql(depunct)} || ' ')"


def skills_oracle_sql(
    text_expr: str,
    phrases: list[str],
    text_phrases: list[str] = (),
    padded_expr: str | None = None,
) -> str:
    """DuckDB scalar expression computing the same sorted skill list
    (same punctuation-as-boundary normalization as ``_normalized`` for
    the LOWER stratum; identical regex strings for the TEXT stratum).

    ``padded_expr``: name of a column already holding
    ``skills_oracle_padded_sql(text_expr)`` — REQUIRED for unbounded
    corpora (see that function's docstring); omitted, the padding is
    inlined (fine for bounded subsets only)."""
    quoted = ", ".join("'" + p.replace("'", "''") + "'" for p in phrases)
    padded = padded_expr or skills_oracle_padded_sql(text_expr)
    lower_list = (
        f"list_filter([{quoted}], p -> contains({padded}, ' ' || p || ' '))"
    )
    if text_phrases:
        merged = (
            f"list_concat({lower_list}, "
            f"{text_matches_oracle_sql(text_expr, list(text_phrases))})"
        )
    else:
        merged = lower_list
    return (
        f"CASE WHEN {text_expr} IS NOT NULL THEN "
        f"list_sort(list_distinct({merged})) END"
    )


def skill_match_pairs(
    spark: SparkSession,
    df: DataFrame,
    text_col: str,
    carry_cols: list[str],
    phrases: list[str],
    distinct: bool = True,
    text_phrases: list[str] = (),
) -> DataFrame:
    """Core of the relational matcher: (carry_cols..., phrase) rows,
    one per DISTINCT matched phrase per document (``distinct=False``
    skips that shuffle for consumers whose own aggregation dedups —
    e.g. a downstream ``collect_set``).

    Explodes token n-grams (one n per distinct phrase length),
    broadcast-hash-joins them against the phrase table, dedups on
    (first carry col, phrase). O(tokens x n_lengths) per row —
    independent of dictionary size; the phrase table broadcasts; the
    only shuffle is the dedup of MATCHED pairs (sparse).

    The case-sensitive TEXT stratum (bounded small — 52 rows in the
    reference) rides along as a per-row codegen'd rlike channel
    unioned below the same dedup: no extra shuffle, no join."""
    lens = sorted({len(p.split(" ")) for p in phrases})
    phrase_df = spark.createDataFrame([(p,) for p in phrases], "phrase string")
    depunct = F.regexp_replace(F.lower(F.col(text_col)), PUNCT_CLASS, " ")
    toks = ws_split(depunct)

    grams = df.select(*carry_cols, toks.alias("__toks")).select(
        *carry_cols,
        F.explode(
            F.flatten(F.array(*[ngrams(F.col("__toks"), n) for n in lens]))
        ).alias("gram"),
    )
    joined = grams.join(
        F.broadcast(phrase_df), grams["gram"] == phrase_df["phrase"]
    ).select(*carry_cols, "phrase")
    if text_phrases:
        text_pairs = df.select(
            *carry_cols,
            F.explode(
                match_text_patterns(F.col(text_col), list(text_phrases))
            ).alias("phrase"),
        )
        joined = joined.unionByName(text_pairs)
    if distinct:
        joined = joined.dropDuplicates([carry_cols[0], "phrase"])
    return joined


def extract_skills_ngram_join(
    spark: SparkSession,
    df: DataFrame,
    text_col: str,
    key_col: str,
    phrases: list[str],
    out_col: str = "skills",
    text_phrases: list[str] = (),
) -> DataFrame:
    """J2 as a *relational* plan: ``skill_match_pairs`` + collect_set
    per document + enrichment join back onto ``df``. Zero Python in
    the hot path; the 2,412-contains-per-row cost of the literal
    formulation becomes ~5 hash probes per token (benchmark in the
    module docstring). This is the formulation to run at 100 TB.

    Output equals extract_skills_native / the trie UDF by construction
    (same normalization, same contiguous-token-match semantics):
    sorted distinct matched phrases; null text -> null, no match -> [].
    """
    # distinct=False: the collect_set below dedups per document anyway,
    # so the pair-level dropDuplicates would be a pure extra shuffle.
    matched = skill_match_pairs(
        spark, df, text_col, [key_col], phrases, distinct=False,
        text_phrases=text_phrases,
    )
    agg = matched.groupBy(key_col).agg(
        F.array_sort(F.collect_set("phrase")).alias("__matched")
    )
    return (
        df.join(agg, key_col, "left")
        .withColumn(
            out_col,
            F.when(
                F.col(text_col).isNotNull(),
                F.coalesce(
                    F.col("__matched"), F.array().cast(T.ArrayType(T.StringType()))
                ),
            ),
        )
        .drop("__matched")
    )


class _TokenTrie:
    """Token-sequence matcher: trie over phrase tokens, one pass over
    the document tokens with all active partial matches advanced per
    token. Equivalent output to the native formulation."""

    __slots__ = ("root",)

    def __init__(self, phrases: list[str]):
        self.root: dict = {}
        for phrase in phrases:
            node = self.root
            for tok in phrase.split(" "):
                node = node.setdefault(tok, {})
            node[""] = phrase  # terminal

    def match(self, text: str) -> list[str]:
        toks = normalize_text_py(text).split(" ")
        found: set[str] = set()
        active: list[dict] = []
        for tok in toks:
            nxt = []
            for node in active:
                child = node.get(tok)
                if child is not None:
                    nxt.append(child)
                    if "" in child:
                        found.add(child[""])
            child = self.root.get(tok)
            if child is not None:
                nxt.append(child)
                if "" in child:
                    found.add(child[""])
            active = nxt
        return sorted(found)


class _TextRegexMatcher:
    """Case-sensitive TEXT-stratum matcher for the Python path: the
    SAME engine-portable pattern strings as the Spark/DuckDB channels,
    compiled once per worker."""

    __slots__ = ("compiled",)

    def __init__(self, text_phrases: list[str]):
        self.compiled = [
            (re.compile(text_pattern_regex(p)), p.lower())
            for p in text_phrases
        ]

    def match(self, text: str) -> set[str]:
        return {low for rx, low in self.compiled if rx.search(text)}


def make_skills_udf(
    spark: SparkSession, phrases: list[str], text_phrases: list[str] = ()
):
    """Build the pandas UDF with the dictionary as a Spark broadcast
    variable (pickled once per executor, not per task closure). The
    trie (LOWER stratum) + compiled regex list (TEXT stratum) are
    constructed lazily on first batch in each Python worker — the
    'load the model once per worker' rule the reference applies to
    its spaCy pipeline (etl/transform.py:23-27)."""
    bc = spark.sparkContext.broadcast((list(phrases), list(text_phrases)))
    state: dict = {}

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def skills_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        matchers = state.get("m")
        if matchers is None:
            lower, text = bc.value
            matchers = state["m"] = (
                _TokenTrie(lower), _TextRegexMatcher(text)
            )
        trie, txt = matchers

        def _one(s):
            if not isinstance(s, str):
                return None
            return sorted(set(trie.match(s)) | txt.match(s))

        for batch in it:
            yield batch.map(_one)

    return skills_udf


def extract_skills_udf(
    spark: SparkSession, df: DataFrame, text_col: str, phrases: list[str],
    out_col: str = "skills", text_phrases: list[str] = (),
) -> DataFrame:
    """U2/U3 assembled: df + sorted distinct skills array column."""
    udf = make_skills_udf(spark, phrases, text_phrases)
    return df.withColumn(out_col, udf(F.col(text_col)))
