"""Global boilerplate-span removal (queries/spans.py): planted
boilerplate must be stripped from every doc, rare spans must survive,
ordering and counts must be exact."""

from __future__ import annotations

import ast

from dataengineer_job_scraper_etl_spark.queries.spans import (
    remove_boilerplate_spans,
    span_array,
)
from pyspark.sql import functions as F


def test_span_array_chunks_in_order(spark):
    df = spark.createDataFrame([("a b c d e",)], "text string")
    got = df.select(
        span_array(F.split(F.col("text"), " ")).alias("s")
    ).collect()[0]["s"]
    assert got == ["a b", "c d", "e"]  # last span short, order kept


def test_planted_boilerplate_stripped_everywhere(spark):
    # "cookie banner" span in 8/10 docs (DF 80% >= 20%); the unique
    # payload spans differ per doc and must survive in order.
    rows = []
    for i in range(10):
        payload = f"u{i}a u{i}b u{i}c u{i}d"
        text = (
            f"cookie banner {payload}" if i < 8 else payload
        )
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(docs).collect()
    }
    assert len(out) == 10
    for i in range(10):
        r = out[i]
        assert r["cleaned"] == f"u{i}a u{i}b u{i}c u{i}d"
        assert r["n_kept"] == 2
        assert r["n_spans"] == (3 if i < 8 else 2)


def test_all_boilerplate_doc_becomes_empty(spark):
    rows = [(i, "nav bar") for i in range(5)] + [(5, "real content here x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_spans(docs).collect()}
    for i in range(5):
        assert out[i]["cleaned"] == ""
        assert out[i]["n_kept"] == 0
        assert out[i]["n_spans"] == 1
    assert out[5]["cleaned"] == "real content here x"


def test_below_threshold_spans_survive(spark):
    # span in 1/10 docs (10% < 20%): not boilerplate
    rows = [(0, "rare pair w0 w1")] + [
        (i, f"x{i} y{i} z{i} q{i}") for i in range(1, 10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in remove_boilerplate_spans(docs).collect()}
    assert out[0]["cleaned"] == "rare pair w0 w1"


def test_repeated_ngram_coverage_planted(spark):
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        repeated_ngram_coverage,
    )

    # the 4-gram "dup a b c" occurs in docs 0 and 1 (covered); all
    # other shingles are unique. doc 2 shares nothing. doc 3 is too
    # short for any 4-gram.
    rows = [
        (0, "dup a b c x0 y0 z0 w0"),
        (1, "p1 q1 dup a b c r1"),
        (2, "m2 n2 o2 p2 q2"),
        (3, "one two"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repeated_ngram_coverage(docs).collect()}
    # doc 0: positions 0-3 covered out of 8 tokens
    assert out[0]["covered_toks"] == 4 and out[0]["n_toks"] == 8
    assert out[0]["coverage_ppm"] == 500_000
    # doc 1: positions 2-5 covered out of 7
    assert out[1]["covered_toks"] == 4 and out[1]["n_toks"] == 7
    assert out[2]["covered_toks"] == 0 and out[2]["coverage_ppm"] == 0
    assert out[3]["covered_toks"] == 0 and out[3]["n_toks"] == 2


def test_repeated_ngram_coverage_overlapping_shingles_union(spark):
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        repeated_ngram_coverage,
    )

    # "a b c d e" appears twice -> shingles (a b c d) and (b c d e)
    # both repeat; doc coverage is the UNION of their positions (5
    # tokens), not the sum (8).
    rows = [(0, "a b c d e x0"), (1, "y1 a b c d e")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repeated_ngram_coverage(docs).collect()}
    assert out[0]["covered_toks"] == 5
    assert out[1]["covered_toks"] == 5


# --- ExactSubstr trim (Lee et al. 2022 removal half) ---


def _exsub(spark, rows, k=4, min_run=8):
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        exact_substring_trim,
    )

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        r["doc_id"]: r
        for r in exact_substring_trim(docs, k=k, min_run=min_run).collect()
    }


def test_planted_cross_doc_run_removed_from_every_occurrence(spark):
    """A 10-token passage shared by two docs (>= min_run=8) must be
    deleted from BOTH; each doc's unique surroundings survive in
    order."""
    dup = " ".join(f"d{i}" for i in range(10))
    rows = [
        (0, f"a0 a1 a2 {dup} z0 z1"),
        (1, f"b0 {dup} y0 y1 y2 y3"),
        (2, "c0 c1 c2 c3 c4 c5 c6 c7 c8 c9"),
    ]
    out = _exsub(spark, rows)
    assert out[0]["cleaned"] == "a0 a1 a2 z0 z1"
    assert out[0]["removed_toks"] == 10
    assert out[0]["n_toks"] == 15
    assert out[1]["cleaned"] == "b0 y0 y1 y2 y3"
    assert out[1]["removed_toks"] == 10
    assert out[2]["cleaned"] == rows[2][1]  # untouched
    assert out[2]["removed_toks"] == 0


def test_short_repeats_survive_the_min_run_threshold(spark):
    """Repetition shorter than min_run is left in place: a shared
    4-token phrase (= one duplicated shingle, run length 4 < 8) is
    kept in both docs."""
    rows = [
        (0, "p0 p1 p2 p3 a0 a1 a2 a3 a4"),
        (1, "b0 b1 b2 b3 b4 p0 p1 p2 p3"),
    ]
    out = _exsub(spark, rows)
    assert out[0]["cleaned"] == rows[0][1]
    assert out[1]["cleaned"] == rows[1][1]
    assert out[0]["removed_toks"] == 0 and out[1]["removed_toks"] == 0


def test_within_doc_repetition_counts_as_duplication(spark):
    """ExactSubstr counts OCCURRENCES, not documents: a doc repeating
    its own 8-token block back-to-back forms one duplicated covered
    run spanning both copies, and the whole run is removed."""
    block = " ".join(f"r{i}" for i in range(8))
    rows = [(0, f"{block} {block} tail0 tail1")]
    out = _exsub(spark, rows)
    assert out[0]["cleaned"] == "tail0 tail1"
    assert out[0]["removed_toks"] == 16


def test_whole_doc_duplicate_becomes_empty(spark):
    dup = " ".join(f"w{i}" for i in range(12))
    out = _exsub(spark, [(0, dup), (1, dup)])
    assert out[0]["cleaned"] == "" and out[1]["cleaned"] == ""
    assert out[0]["removed_toks"] == 12
    assert out[0]["n_toks"] == 12


from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402


def _exsub_reference(docs, k, min_run):
    """Pure-Python replay of exact_substring_trim's semantics."""
    from collections import Counter

    toks = {i: t.split(" ") for i, t in docs}
    counts = Counter()
    for t in toks.values():
        for p in range(len(t) - k + 1):
            counts[" ".join(t[p : p + k])] += 1
    out = {}
    for i, t in toks.items():
        covered = set()
        for p in range(len(t) - k + 1):
            if counts[" ".join(t[p : p + k])] >= 2:
                covered.update(range(p, p + k))
        # maximal runs of covered positions, keep only >= min_run
        remove = set()
        run = []
        for p in range(len(t) + 1):
            if p in covered:
                run.append(p)
            else:
                if len(run) >= min_run:
                    remove.update(run)
                run = []
        kept = [w for j, w in enumerate(t) if j not in remove]
        out[i] = (len(t), len(remove), " ".join(kept))
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny alphabet -> heavy accidental repetition, the worst
            # case for run assembly/merging
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=1,
            max_size=30,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_exsub_property_matches_python_reference(spark, docs):
    """Differential property: arbitrary small docs over a 4-letter
    alphabet (maximal accidental shingle collisions, overlapping and
    merging runs, within- and cross-doc repeats) — the operator's
    (n_toks, removed_toks, cleaned) must equal a pure-Python replay
    with k=3, min_run=4."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        exact_substring_trim,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_toks"], r["removed_toks"], r["cleaned"])
        for r in exact_substring_trim(df, k=3, min_run=4).collect()
    }
    want = _exsub_reference(rows, k=3, min_run=4)
    assert got == want


def test_decontaminate_removes_eval_overlap_only(spark):
    """Planted contamination: a training doc quoting an 8-token eval
    passage verbatim loses exactly that passage (from every quoting
    doc); training docs sharing text only with EACH OTHER are
    untouched (decontamination is against the eval set, not
    self-dedup); eval-set docs are not in the output."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        decontaminate_trim,
    )

    ev_passage = " ".join(f"e{i}" for i in range(8))
    shared_train = " ".join(f"s{i}" for i in range(10))
    train = [
        (0, f"a0 a1 {ev_passage} a2 a3"),       # quotes the benchmark
        (1, f"b0 {ev_passage}"),                # quotes it too
        (2, f"c0 c1 {shared_train}"),           # train-train overlap
        (3, f"{shared_train} d0"),              # train-train overlap
    ]
    ev = [(100, f"x0 x1 {ev_passage} x2")]
    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(ev, "doc_id long, text string")
    out = {r["doc_id"]: r for r in decontaminate_trim(tdf, edf).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0]["cleaned"] == "a0 a1 a2 a3"
    assert out[0]["removed_toks"] == 8
    assert out[1]["cleaned"] == "b0"
    assert out[2]["cleaned"] == train[2][1]   # train-train kept
    assert out[3]["cleaned"] == train[3][1]
    assert out[2]["removed_toks"] == 0


def test_decontaminate_merges_adjacent_collisions(spark):
    """Two eval shingles overlapping in one training doc merge into a
    single maximal run: a 12-token quote of an eval doc (5 colliding
    8-grams) removes all 12 positions as ONE run."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        decontaminate_trim,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    tdf = spark.createDataFrame(
        [(0, f"h0 h1 {quote} h2")], "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(9, f"z0 {quote} z1")], "doc_id long, text string"
    )
    out = decontaminate_trim(tdf, edf).collect()[0]
    assert out["cleaned"] == "h0 h1 h2"
    assert out["removed_toks"] == 12


# ---------------------------------------------------------------- ingest


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]),
            min_size=1,
            max_size=30,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_ingest_equals_full_recount_restricted_to_batch(spark, docs):
    """The equivalence the ingest path rests on: trimming the batch
    against the frozen corpus digest index (+ batch-internal >=2 rule)
    must be BIT-IDENTICAL to running the full corpus-wide
    exact_substring_trim over corpus UNION batch and reading only the
    batch rows — count_total >= 2 <=> corpus >= 1 OR batch >= 2."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        exact_substring_index,
        exact_substring_ingest_trim,
        exact_substring_trim,
    )

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    corpus_rows = [r for r in rows if r[0] % 2 == 0]
    batch_rows = [r for r in rows if r[0] % 2 == 1]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    full = spark.createDataFrame(rows, "doc_id long, text string")

    idx = exact_substring_index(corpus, k=3)
    got = {
        r["doc_id"]: (r["n_toks"], r["removed_toks"], r["cleaned"])
        for r in exact_substring_ingest_trim(
            batch, idx, k=3, min_run=4
        ).collect()
    }
    want = {
        r["doc_id"]: (r["n_toks"], r["removed_toks"], r["cleaned"])
        for r in exact_substring_trim(full, k=3, min_run=4).collect()
        if r["doc_id"] % 2 == 1
    }
    assert got == want


def test_ingest_index_only_rule_skips_batch_internal_repeats(spark):
    """The streaming twin's stage composition, on a batch frame: index
    hits -> covered_positions -> covered_runs -> trim_runs. A run
    repeated only WITHIN the batch survives; a run hitting the corpus
    index is still trimmed."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        covered_positions,
        covered_runs,
        exact_substring_index,
        tok_base,
        trim_runs,
    )
    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        exsub_index_hits,
    )

    shared = " ".join(f"s{i}" for i in range(6))   # in corpus AND batch
    batch_only = " ".join(f"b{i}" for i in range(6))  # repeats in batch
    corpus = spark.createDataFrame(
        [(0, shared)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, f"{shared} x1 {batch_only}"), (2, f"{batch_only} y1")],
        "doc_id long, text string",
    )
    idx = exact_substring_index(corpus, k=3)
    cov = covered_positions(exsub_index_hits(batch, idx, 3), 3)
    base = tok_base(batch, "doc_id", "text")
    out = {
        r["doc_id"]: r
        for r in trim_runs(base, covered_runs(cov, 3)).collect()
    }
    # doc 1: the shared prefix (6 toks) trimmed, batch_only kept
    assert out[1]["removed_toks"] == 6
    assert out[1]["cleaned"] == f"x1 {batch_only}"
    # doc 2: pure batch-internal repeat -> untouched under index-only
    assert out[2]["removed_toks"] == 0
    assert out[2]["cleaned"] == f"{batch_only} y1"


def test_covered_runs_splits_on_gaps_and_drops_short_runs(spark):
    """Gaps-and-islands: a one-position gap splits two runs; a run of
    min_run - 1 positions is dropped and one of exactly min_run kept."""
    from dataengineer_job_scraper_etl_spark.queries.spans import covered_runs

    cov = [(0, p) for p in (0, 1, 2, 3, 5, 6, 7, 8, 9)] + [
        (1, p) for p in (0, 1, 2, 10, 11, 12, 13)
    ]
    df = spark.createDataFrame(cov, "doc_id long, cp long")
    got = {tuple(r) for r in covered_runs(df, 4).collect()}
    assert got == {(0, 0, 3, 4), (0, 5, 9, 5), (1, 10, 13, 4)}


def test_verified_trim_keeps_composite_borrow_removes_true_dup(spark):
    """The over-trim fixture, hand-built: doc 1
    borrows 8 tokens from doc 2 immediately followed by 8 tokens from
    doc 3 — the shingle-cover approximation sees one 16-position
    covered run and trims it, but NO 16-token substring of doc 1
    occurs twice, so the verified chain must keep all of doc 1. A
    true 24-token cross-doc duplicate (docs 4/5) is trimmed by BOTH
    chains identically."""
    from dataengineer_job_scraper_etl_spark.queries.exsubverify import (
        exact_substring_trim_verified,
    )

    a = " ".join(f"a{j}" for j in range(8))   # borrowed from doc 2
    b = " ".join(f"b{j}" for j in range(8))   # borrowed from doc 3
    dup = " ".join(f"d{j}" for j in range(24))  # true duplicate run
    pad = lambda p, n: " ".join(f"{p}{j}" for j in range(n))  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, f"{pad('x', 20)} {a} {b} {pad('y', 20)}"),
            (2, f"{pad('u', 20)} {a}"),
            (3, f"{b} {pad('v', 20)}"),
            (4, f"{pad('m', 20)} {dup}"),
            (5, f"{pad('n', 20)} {dup}"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in exact_substring_trim_verified(df).collect()
    }
    # doc 1: approximation would trim the 16 assembled positions;
    # exact semantics keep everything
    assert got[1]["removed_approx"] == 16
    assert got[1]["removed_exact"] == 0
    assert got[1]["cleaned"].split(" ")[20:36] == (a + " " + b).split(" ")
    # docs 2/3: each borrowed phrase alone is an 8-token covered run,
    # below min_run — neither chain trims
    assert got[2]["removed_approx"] == 0 and got[2]["removed_exact"] == 0
    assert got[3]["removed_approx"] == 0 and got[3]["removed_exact"] == 0
    # docs 4/5: the genuine 24-token duplicate goes in BOTH chains,
    # from every occurrence
    for d in (4, 5):
        assert got[d]["removed_approx"] == 24
        assert got[d]["removed_exact"] == 24
        assert "d0" not in got[d]["cleaned"]


# --- one shingle contract: guards


def _calls(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _is_gram_window(n):
    """``F.transform(F.sequence(...), lambda: ...)`` whose body joins
    slice/element_at picks: a hand-built n-gram window."""
    if not (_calls(n, "transform") and len(n.args) == 2):
        return False
    seq, fn = n.args
    if not (_calls(seq, "sequence") and isinstance(fn, ast.Lambda)):
        return False
    body = list(ast.walk(fn.body))
    return any(
        _calls(c, "slice") or _calls(c, "element_at") for c in body
    ) and any(_calls(c, "array_join") or _calls(c, "concat_ws") for c in body)


# gram windows outside functions/strings.ngrams: (module, enclosing
# function) -> why the site is not a sliding word n-gram
_GRAM_WINDOW_ALLOWED = {
    ("operators/dedup.py", "banded_sketch"): "slices a MinHash signature "
    "into LSH bands of hash values, not tokens",
    ("queries/spans.py", "span_array"): "non-overlapping spans (stride = "
    "width, last span short), not a sliding window",
}


def test_word_ngrams_are_built_only_by_ngrams(package_sites):
    found = package_sites(_is_gram_window)
    assert found - {("functions/strings.py", "ngrams")} == set(
        _GRAM_WINDOW_ALLOWED
    )


def test_no_module_imports_private_spans_names(package_sites):
    """The ExactSubstr stages and the planted fixture other modules
    compose are public; spans' underscore names stay its own."""
    assert package_sites(
        lambda n: isinstance(n, ast.ImportFrom)
        and (n.module or "").endswith("queries.spans")
        and any(a.name.startswith("_") for a in n.names)
    ) == set()


def _lambdas(plan: str):
    """The text of every ``lambdafunction(...)`` in a plan string."""
    out, i = [], plan.find("lambdafunction(")
    while i >= 0:
        depth, j = 0, i + len("lambdafunction")
        for j in range(j, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            if depth == 0:
                break
        out.append(plan[i : j + 1])
        i = plan.find("lambdafunction(", j)
    return out


def test_no_tokenizer_runs_inside_an_ngram_lambda(spark, sf_dir):
    """Catalyst does no CSE inside lambdas: a tokenizer inlined into a
    window lambda re-runs once per window. No optimized plan of an
    ``ngrams`` caller carries regexp_replace inside a lambdafunction;
    the streaming ExactSubstr twin is checked through the same
    exsub_index_hits select on a batch read."""
    import os

    from dataengineer_job_scraper_etl_spark.catalog import all_queries
    from dataengineer_job_scraper_etl_spark.io import read_parquet
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        EXSUB_SHINGLE,
        exact_substring_index,
    )
    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        exsub_index_hits,
    )

    qs = all_queries()
    frames = {
        name: qs[name].spark_fn(spark, sf_dir)
        for name in (
            "jobs_skills",
            "docs_contamination_ngram",
            "text_repetition_signals",
            "docs_shingle_containment",
            "docs_repeated_ngram_coverage",
            "docs_exact_substring_trim",
            "docs_decontaminate_trim",
            "docs_exact_substring_ingest",
            "docs_exact_substring_verified",
        )
    }
    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    frames["streaming_exact_substring_ingest"] = exsub_index_hits(
        docs, exact_substring_index(docs), EXSUB_SHINGLE
    )
    bad = {
        name: lam
        for name, df in frames.items()
        for lam in _lambdas(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        if "regexp_replace" in lam
    }
    assert not bad, bad
