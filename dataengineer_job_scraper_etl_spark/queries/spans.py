"""Corpus-wide repeated-text operators (north-star LLM-pipeline ops,
SURVEY §2.10; the reference has no analogue): C4-style boilerplate-span
removal, repeated n-gram coverage, and the ExactSubstr family (Lee et
al. 2022) — self-dedup trim, eval-set decontamination, and incremental
ingest against a frozen digest index.

The ExactSubstr family composes four public stages over the staged
token frame ``tok_base`` -> (doc_id, t):

1. ``shingle_digests(base, k)`` -> (doc_id, pos, h): the md5 of every
   sliding k-token shingle (``strings.ngrams``) at its start position;
2. ``covered_positions(matched, k)`` -> distinct (doc_id, cp): the
   token positions the matched shingles cover;
3. ``covered_runs(cov, min_run)`` -> (doc_id, s, e, len): maximal
   covered runs of at least ``min_run`` positions (gaps-and-islands);
4. ``trim_runs(base, runs)`` -> (doc_id, n_toks, removed_toks,
   cleaned): the runs deleted array-side and the survivors rejoined.

Each operator differs only in which digests count as matched: repeated
within the corpus, present in an eval index, or present in a frozen
corpus index. ``queries/exsubverify.py`` and the streaming twin in
``queries/streaming_queries.py`` compose the same stages.

Boilerplate removal is the C4/RefinedWeb "repeated line" rule
re-expressed for a corpus without line structure: spans that appear
across a large fraction of documents are boilerplate (headers, cookie
banners, navigation chrome) and are stripped from every document,
preserving the order of what remains.

C4 removes any LINE occurring >= 3 times in the corpus; that absolute
threshold is scale-dependent (at 100 TB every 3-word span repeats), so
this operator uses DOCUMENT FREQUENCY: a span is boilerplate iff it
occurs in >= 20% of documents. The fixture corpus has no newlines, so
"span" = non-overlapping window of SPAN_TOKENS tokens — the same
explode / global-count / strip / reassemble machinery as line dedup,
with the span derivation swapped.

Scale shape (the reason this survives 100 TB):
- span arrays are derived ARRAY-SIDE (transform over sequence), so the
  only wide stages are (1) the span document-frequency aggregate
  (shuffles (span, doc_id) pairs — partial-aggregated map-side) and
  (2) the per-doc reassembly groupBy.
- the boilerplate set is provably SMALL: spans with DF >= p*N number
  at most avg_spans_per_doc / p (sum of DFs is bounded by total
  per-doc distinct spans), so it broadcasts — the strip is a
  broadcast anti-join, never a shuffle of the corpus against itself.
- no UDFs anywhere; everything is whole-stage-codegen built-ins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ngrams,
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.queries.text import _docs
from dataengineer_job_scraper_etl_spark.session import ensure_min_parallelism


# Fan-out sizing for the tokenize front half: a blanket fan-out to
# defaultParallelism put 32 tasks of ~20 KB behind every span
# checkpoint, and the scheduling overhead across the many small
# downstream stages ate the win on some entries
# (docs_exact_substring_verified +0.7 s). Sizing the target with input
# bytes keeps ~10 tasks at fixture scale (interleaved 3-way A/B full32
# / 64k / no-fanout: 64 KB/partition fastest or tied on 5 of 6 span
# entries) while an unsplittable multi-GB input still clamps to full
# cluster width — the no-op-at-scale property is unchanged.
_TOK_BYTES_PER_PART = 64 * 1024


def tok_base(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, t): the tokenized, checkpoint-staged base frame every
    span operator fans out from — with the (id, text) projection
    round-robined up to min(cluster parallelism, input_bytes /
    _TOK_BYTES_PER_PART) BEFORE tokenize. A small parquet fixture
    scans as ONE partition and the lazy localCheckpoint freezes that
    layout, so the tokenize + shingle + md5 front half of every span
    operator ran on one task (measured: a 1-task 3.7 s CPU stage
    inside docs_exact_substring_verified's broadcast build). No-op at
    real scale — never repartitions down; the exchange moves raw
    (id, text) rows once, before the expensive expressions."""
    src = ensure_min_parallelism(
        docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")
        ),
        bytes_per_partition=_TOK_BYTES_PER_PART,
    )
    return src.select(
        "doc_id", ws_tokens(F.col("__text")).alias("t")
    ).localCheckpoint(eager=False)


# --- The ExactSubstr stages (module docstring). Every one is
# partition-local or shuffles digests and positions, never k-token
# strings or corpus text.


def shingle_digests(base: DataFrame, k: int) -> DataFrame:
    """(doc_id, t) -> (doc_id, pos, h): the 16-byte md5 of every
    sliding k-token shingle at its 0-based start position, so digests,
    not k-token strings, travel through the count and join shuffles."""
    return base.select(
        "doc_id",
        F.posexplode(ngrams(F.col("t"), k)).alias("pos", "shingle"),
    ).select("doc_id", "pos", F.md5(F.col("shingle")).alias("h"))


def covered_positions(matched: DataFrame, k: int) -> DataFrame:
    """Matched k-shingles (doc_id, pos, ...) -> distinct (doc_id, cp):
    every token position they cover, expanded array-side."""
    return matched.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + k - 1)).alias(
            "cp"
        ),
    ).distinct()


def covered_runs(cov: DataFrame, min_run: int) -> DataFrame:
    """(doc_id, cp) -> (doc_id, s, e, len): the maximal runs of covered
    positions at least ``min_run`` long, by gaps-and-islands under a
    PER-DOC window (partition-bounded, never the unpartitioned kind)."""
    w = Window.partitionBy("doc_id").orderBy("cp")
    return (
        cov.withColumn("g", F.col("cp") - F.row_number().over(w))
        .groupBy("doc_id", "g")
        .agg(
            F.min("cp").alias("s"),
            F.max("cp").alias("e"),
            F.count(F.lit(1)).alias("len"),
        )
        .filter(F.col("len") >= min_run)
        .select("doc_id", "s", "e", "len")
    )


def trim_runs(base: DataFrame, runs: DataFrame) -> DataFrame:
    """(doc_id, t) + runs (doc_id, s, e, len) -> (doc_id, n_toks,
    removed_toks, cleaned): each doc's runs are deleted by an
    array-side filter against its own (s, e) list and the survivors
    rejoined by one space — the corpus text is never exploded for
    reassembly."""
    per_doc = runs.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("runs"),
        F.sum("len").cast("long").alias("removed_toks"),
    )
    keep = F.filter(
        F.col("t"),
        lambda tok, i: ~F.exists(
            F.col("runs"), lambda r: (r["s"] <= i) & (i <= r["e"])
        ),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.size("t").cast("long").alias("n_toks"),
        F.coalesce(F.col("removed_toks"), F.lit(0))
        .cast("long")
        .alias("removed_toks"),
        F.when(F.col("runs").isNull(), F.array_join(F.col("t"), " "))
        .otherwise(F.array_join(keep, " "))
        .alias("cleaned"),
    )


def repeated_digests(sh: DataFrame, min_count: int = 2) -> DataFrame:
    """Distinct digests ``h`` occurring >= ``min_count`` times in a
    digest frame: the self-dedup match rule (counts partial-aggregated
    map-side)."""
    return (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )


def _digest_index(toks: DataFrame, k: int) -> DataFrame:
    """Token frame (t) -> its distinct k-shingle digests ``h``."""
    return (
        toks.select(F.explode(ngrams(F.col("t"), k)).alias("shingle"))
        .select(F.md5(F.col("shingle")).alias("h"))
        .distinct()
    )


SPAN_TOKENS = 2
# boilerplate iff document frequency * DF_DENOM >= n_docs * DF_NUM
# (i.e. DF >= 20% of the corpus) — integer arithmetic, no float ratio.
DF_NUM, DF_DENOM = 1, 5


def span_array(toks):
    """Non-overlapping SPAN_TOKENS-token spans of a token array, as an
    array<string> in document order (last span may be shorter).

    Empty/NULL guard (the hazard ``strings.ngrams`` also guards):
    for a ZERO-length token array, sequence(0, n_spans-1) would be
    sequence(0, -1), whose default step DESCENDS and emits [0, -1] —
    two phantom '' spans that inflate n_kept and can even become
    corpus-wide "boilerplate". Unreachable via ws_tokens (which yields
    [''] for empty text, size 1), but this is a public helper."""
    n_spans = F.ceil(F.size(toks) / F.lit(SPAN_TOKENS)).cast("int")
    return F.when(n_spans <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda i: F.array_join(
                F.slice(toks, i * SPAN_TOKENS + 1, SPAN_TOKENS), " "
            ),
        )
    )


def remove_boilerplate_spans(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) -> (id, n_spans, n_kept, cleaned): strip every span
    whose document frequency reaches DF_NUM/DF_DENOM of the corpus and
    reassemble the survivors in original order ('' if everything was
    boilerplate). Two shuffles; boilerplate set broadcast."""
    # base feeds the span explode AND the totals projection; ex feeds
    # the DF count AND the strip join — staged once each (the
    # materialization the pass-1 comment below describes).
    base = tok_base(docs, id_col, text_col)
    ex = base.select(
        "doc_id", F.posexplode(span_array(F.col("t"))).alias("pos", "span")
    ).localCheckpoint(eager=False)
    n_docs = docs.select(
        F.count(F.lit(1)).cast("long").alias("__n_docs")
    )
    # Pass 1 over the corpus: global span document frequencies. (Global
    # dedup is irreducibly two-pass — nothing can be stripped before
    # the counts exist; a production pipeline materializes this side.)
    boiler = (
        ex.groupBy("span")
        .agg(F.countDistinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * DF_DENOM >= F.col("__n_docs") * DF_NUM)
        .select("span")
    )
    # Pass 2: strip + reassemble. Per-doc span totals come from the
    # token array directly (ceil(|t| / span)) — NOT a third explode.
    kept = ex.join(F.broadcast(boiler), "span", "left_anti")
    reasm = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("span")))
                ),
                lambda s: s.getField("span"),
            ),
            " ",
        ).alias("cleaned"),
    )
    totals = base.select(
        "doc_id",
        F.ceil(F.size(F.col("t")) / F.lit(SPAN_TOKENS))
        .cast("long")
        .alias("n_spans"),
    )
    return (
        totals.join(reasm, "doc_id", "left")
        .select(
            "doc_id",
            "n_spans",
            F.coalesce(F.col("n_kept"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned"),
        )
    )


def strip_boilerplate_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Text-in/text-out boilerplate strip (docs that were ALL
    boilerplate keep ''); dedup semantics are unchanged while
    boilerplate no longer defeats them. See ``_replace_text``."""
    return _replace_text(
        docs,
        remove_boilerplate_spans(docs, id_col=id_col, text_col=text_col),
        id_col,
        text_col,
    )


def _replace_text(
    docs: DataFrame, trimmed: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Text-in/text-out form of a trim for pipeline composition:
    ``text_col`` becomes ``trimmed``'s ``cleaned`` column and the other
    columns pass through. The output text is the NORMALIZED reassembly
    (lowercased, whitespace-collapsed) — exactly what the downstream
    gate / digest / shingle stages would compute anyway."""
    cleaned = trimmed.select(F.col("doc_id").alias(id_col), F.col("cleaned"))
    return (
        docs.drop(text_col)
        .join(cleaned, id_col)
        .withColumnRenamed("cleaned", text_col)
    )


_SPANS_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
spans AS (
  SELECT doc_id,
         CAST(floor((i - 1) / {SPAN_TOKENS}) AS BIGINT) AS pos,
         string_agg(w, ' ' ORDER BY i) AS span
  FROM (SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS i
        FROM tok)
  GROUP BY doc_id, floor((i - 1) / {SPAN_TOKENS})),
df AS (SELECT span, count(DISTINCT doc_id) AS df FROM spans GROUP BY span),
nd AS (SELECT count(*) AS n_docs FROM documents),
boiler AS (SELECT span FROM df, nd WHERE df * {DF_DENOM} >= n_docs * {DF_NUM}),
kept AS (SELECT * FROM spans WHERE span NOT IN (SELECT span FROM boiler)),
reasm AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(span, ' ' ORDER BY pos) AS cleaned
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id)
SELECT t.doc_id AS doc_id,
       CAST(t.n_spans AS BIGINT) AS n_spans,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       md5(coalesce(r.cleaned, '')) AS cleaned_md5
FROM tot t LEFT JOIN reasm r USING (doc_id)
"""


@register(
    "docs_remove_boilerplate_spans",
    _SPANS_ORACLE,
    doc="C4-style global boilerplate removal over 2-token spans: strip "
    "every span present in >= 20% of documents (document-frequency "
    "threshold — the scale-invariant form of C4's 'line repeated >= 3 "
    "times' rule) and reassemble each document in original span order. "
    "cleaned_md5 pins the EXACT reassembled text per doc, so span "
    "derivation, the DF threshold, the strip, and the ordering are all "
    "hash-checked. Plan (measured): 3 hash exchanges (span-DF "
    "two-phase distinct, per-doc reassembly), every join broadcast "
    "(the boilerplate set is bounded by avg_spans_per_doc / 0.2), "
    "zero shuffle joins, zero UDFs. A production run would stage the "
    "exploded spans once between the count pass and the strip pass "
    "(cf. plans/corpus.py) — global dedup is irreducibly two-pass.",
)
def docs_remove_boilerplate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = remove_boilerplate_spans(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_spans",
        "n_kept",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )


# --- Cross-doc repeated-substring coverage (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better"): the
# dedup signal there is "how much of this document lies inside a
# substring that also occurs elsewhere in the corpus". Re-expressed
# over token shingles: every SLIDING n-gram occurring >= MIN_COUNT
# times corpus-wide marks its n token positions as covered; a doc's
# coverage fraction is |covered positions| / |tokens|. High-coverage
# docs are cut or trimmed before training.

NGRAM = 4
MIN_COUNT = 2


def repeated_ngram_coverage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, text) -> (doc_id, n_toks, covered_toks, coverage_ppm):
    fraction of each doc's token positions lying inside an NGRAM-token
    shingle that occurs >= MIN_COUNT times corpus-wide. Two corpus
    passes (count shingle digests, then mark coverage) — the
    irreducible global-dedup shape; the repeated-digest set joins by
    shuffle (it is corpus-sized in the worst case, NOT broadcast) and
    position expansion is array-side."""
    # base feeds shingles + totals, sh feeds the repeat count + the
    # coverage join — staged once each, as in exact_substring_trim.
    base = tok_base(docs, id_col, text_col)
    sh = shingle_digests(base, NGRAM).localCheckpoint(eager=False)
    covered = (
        covered_positions(sh.join(repeated_digests(sh, MIN_COUNT), "h"), NGRAM)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("covered_toks"))
    )
    totals = base.select(
        "doc_id", F.size(F.col("t")).cast("long").alias("n_toks")
    )
    return totals.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_toks",
        F.coalesce(F.col("covered_toks"), F.lit(0))
        .cast("long")
        .alias("covered_toks"),
        F.expr(
            "CAST(coalesce(covered_toks, 0) * 1000000 DIV n_toks AS BIGINT)"
        ).alias("coverage_ppm"),
    )


_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         array_to_string(list_slice(t, pos + 1, pos + {NGRAM}), ' ') AS shingle
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - {NGRAM} + 1)) AS pos
        FROM tok)),
rep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= {MIN_COUNT}),
cov AS (
  SELECT doc_id, count(DISTINCT cp) AS covered_toks
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {NGRAM})) AS cp
        FROM sh s JOIN rep USING (shingle))
  GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM tok)
SELECT t.doc_id, t.n_toks,
       CAST(coalesce(c.covered_toks, 0) AS BIGINT) AS covered_toks,
       CAST(coalesce(c.covered_toks, 0) * 1000000 // t.n_toks AS BIGINT)
         AS coverage_ppm
FROM tot t LEFT JOIN cov c USING (doc_id)
"""


@register(
    "docs_repeated_ngram_coverage",
    _COVERAGE_ORACLE,
    doc="Cross-doc repeated-substring coverage (the Lee et al. 2022 "
    "dedup signal): mark every token position inside a sliding 4-gram "
    "that occurs >= 2 times corpus-wide, and report per-doc covered "
    "tokens + coverage in ppm (integer-exact). Two corpus passes "
    "(global shingle counts, then coverage marking); the repeated set "
    "joins by shuffle — corpus-sized worst case, never assumed "
    "broadcastable; position expansion is array-side JVM.",
)
def docs_repeated_ngram_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return repeated_ngram_coverage(_docs(spark, sf_dir))


# --- ExactSubstr dedup (Lee et al. 2022, the REMOVAL half): delete
# every maximal run of >= EXSUB_MIN_RUN token positions that lies
# inside verbatim cross-corpus repetition, from EVERY occurrence, and
# reassemble the survivors. The paper builds a corpus-wide suffix
# array; that is a single sequential data structure — the scalable
# re-expression is shingle granularity: a token position is
# "duplicated" iff some sliding EXSUB_SHINGLE-gram covering it occurs
# >= 2 times corpus-wide (hashed to 16 bytes before the shuffle).
# Every true duplicated run of >= EXSUB_SHINGLE tokens is found
# (any such run contains a duplicated shingle at every offset); runs
# assembled from DIFFERENT duplicated shingles can merge — shingle
# cover is the standard distributed approximation of suffix-array
# ExactSubstr. MIN_RUN is 16 here (fixture docs average ~54 tokens);
# production uses the paper's 50.

EXSUB_SHINGLE = 8
EXSUB_MIN_RUN = 16


def exact_substring_trim(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = EXSUB_SHINGLE,
    min_run: int = EXSUB_MIN_RUN,
) -> DataFrame:
    """(id, text) -> (doc_id, n_toks, removed_toks, cleaned).

    Shape (the 100 TB story):
    1. shingle-hash pass: ``shingle_digests`` -> occurrence counts
       (partial-aggregated map-side), repeated set = count>=2. The
       repeated set joins back by SHUFFLE (corpus-sized worst case,
       like repeated_ngram_coverage — never assumed broadcast).
    2. ``covered_positions`` -> ``covered_runs``.
    3. ``trim_runs``: the per-doc run list (a handful of (s,e) structs)
       joins back onto the docs and the removal is ARRAY-SIDE — unlike
       the boilerplate operator, whose strip set is global, not
       per-doc.
    Two corpus passes — the irreducible global-dedup shape; the
    shingle side is materialized between them.
    """
    # base feeds the shingle explode AND the final trim join, sh feeds
    # the repeat count AND the coverage join: without the checkpoints
    # each consumer re-ran the full tokenize (+ shingle explode + md5)
    # from the source scan.
    base = tok_base(docs, id_col, text_col)
    sh = shingle_digests(base, k).localCheckpoint(eager=False)
    cov = covered_positions(sh.join(repeated_digests(sh), "h"), k)
    return trim_runs(base, covered_runs(cov, min_run))


# Eval-set decontamination: the ExactSubstr machinery pointed at a
# BENCHMARK corpus instead of at self-duplication. GPT-3 removed 13-gram
# collisions with its eval sets; Llama-style pipelines use shorter
# shingles. Any training-doc position covered by a shingle that occurs
# VERBATIM in the eval set is contaminated; maximal contaminated runs
# are cut (min_run = k: a single colliding shingle is already k
# covered positions, so every collision is removed — the paper
# semantics — while adjacent collisions merge into one run).
DECON_SHINGLE = 8


def decontaminate_trim(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DECON_SHINGLE,
    min_run: int | None = None,
) -> DataFrame:
    """(train, eval) -> (doc_id, n_toks, removed_toks, cleaned) for
    TRAIN docs with every verbatim eval overlap (>= k tokens) deleted.

    Scale shape: eval shingles are md5'd to 16 bytes and DISTINCT'd
    (the eval-digest index a production pipeline materializes once per
    benchmark release); the train side joins against it by digest —
    semi-join semantics, eval side grouped first so AQE may broadcast
    a small benchmark but a corpus-sized one still shuffles safely.
    Coverage, runs and trim are the shared stages."""
    if min_run is None:
        min_run = k
    # base feeds the shingle explode AND the trim join — staged once
    # (the digest frame has a single consumer here).
    base = tok_base(train_docs, id_col, text_col)
    eval_idx = _digest_index(
        eval_docs.select(ws_tokens(F.col(text_col)).alias("t")), k
    )
    hits = shingle_digests(base, k).join(eval_idx, "h", "left_semi")
    return trim_runs(base, covered_runs(covered_positions(hits, k), min_run))


def exact_substring_index(
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = EXSUB_SHINGLE,
) -> DataFrame:
    """The frozen ExactSubstr digest index over an EXISTING corpus:
    every distinct sliding k-shingle digest (16-byte md5), one column
    ``h``. Materialized ONCE per corpus (the same move as
    ``decontaminate_trim``'s eval index): a shingle arriving later that
    already occurs >= 1 time in the corpus is by definition repeated
    corpus-wide, so ingest never re-counts the corpus. Digest-only (16
    bytes per distinct shingle, never k-token strings); at scale this
    is stored BUCKETED by ``h`` so the per-batch semi-join co-locates
    against it — only the batch side shuffles, batch-proportionally."""
    # fanned out before tokenize (the tok_base device): the
    # corpus-scale tokenize + shingle + md5 of the index build ran on
    # the scan's partition count — one task on a small fixture
    return _digest_index(
        ensure_min_parallelism(
            corpus_docs.select(F.col(text_col).alias("__text"))
        ).select(ws_tokens(F.col("__text")).alias("t")),
        k,
    )


def exact_substring_ingest_trim(
    batch_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = EXSUB_SHINGLE,
    min_run: int = EXSUB_MIN_RUN,
) -> DataFrame:
    """Incremental ExactSubstr: trim an ARRIVING batch against a frozen
    corpus digest index, batch-proportional — the nightly-ingest
    rendering of ``exact_substring_trim`` (every other dedup layer
    already had one: digest / MinHash / SemDeDup).

    A batch position is duplicated iff its shingle digest is in the
    corpus index (corpus >= 1 + batch >= 1 = repeated) OR occurs >= 2
    times within the batch itself — which is EXACTLY the full
    corpus-wide recount rule restricted to batch docs, since
    count_total >= 2 <=> corpus_count >= 1 OR batch_count >= 2. The
    equivalence makes the cheap ingest path bit-identical to what a
    full re-run would delete from the new docs (hypothesis test in
    tests/test_spans.py), without ever touching corpus text again.

    Cost shape: shingle/count/join work is |batch|-proportional; the
    index side is scanned, not reshuffled, when stored bucketed by
    ``h`` (see exact_substring_index). The streaming twin
    (``streaming_exact_substring_ingest``) applies the index-only rule
    with the same stages: intra-batch repetition stays in this batch
    operator."""
    # base feeds shingles + the trim join, sh feeds the dup rule + the
    # coverage join: one tokenize and one shingle pass per batch
    # instead of two of each.
    base = tok_base(batch_docs, id_col, text_col)
    sh = shingle_digests(base, k).localCheckpoint(eager=False)
    idx = index.select("h").withColumn("__in_corpus", F.lit(True))
    dup = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .join(idx, "h", "left")
        .filter((F.col("c") >= 2) | F.col("__in_corpus").isNotNull())
        .select("h")
    )
    cov = covered_positions(sh.join(dup, "h", "left_semi"), k)
    return trim_runs(base, covered_runs(cov, min_run))


def decontaminate_text(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = DECON_SHINGLE,
) -> DataFrame:
    """Text-in/text-out decontamination (see ``_replace_text``)."""
    return _replace_text(
        docs,
        decontaminate_trim(
            docs, eval_docs, id_col=id_col, text_col=text_col, k=k
        ),
        id_col,
        text_col,
    )


_EXSUB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {EXSUB_SHINGLE}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {EXSUB_SHINGLE} + 1, 0))) AS pos
        FROM tok)),
rep AS (SELECT h FROM sh GROUP BY h HAVING count(*) >= 2),
cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {EXSUB_SHINGLE})) AS cp
        FROM sh s JOIN rep USING (h))),
isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM cov),
runs AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM isl GROUP BY doc_id, g HAVING count(*) >= {EXSUB_MIN_RUN}),
rm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
       FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM runs)),
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
rem AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed_toks
        FROM runs GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM tok)
SELECT t.doc_id AS doc_id, t.n_toks AS n_toks,
       CAST(coalesce(rem.removed_toks, 0) AS BIGINT) AS removed_toks,
       md5(coalesce(reasm.cleaned, '')) AS cleaned_md5
FROM tot t
LEFT JOIN rem USING (doc_id)
LEFT JOIN reasm USING (doc_id)
"""


@register(
    "docs_exact_substring_trim",
    _EXSUB_ORACLE,
    doc="ExactSubstr dedup (Lee et al. 2022's removal half; the engine "
    "already had the NearDup half and the coverage SIGNAL): delete "
    "every maximal token run >= 16 long lying inside cross-corpus "
    "verbatim repetition (8-token shingle granularity, every "
    "occurrence removed), reassemble survivors in order. cleaned_md5 "
    "pins the EXACT per-doc reassembly: shingle hashing, the "
    "count>=2 rule, gaps-and-islands run assembly, the min-run "
    "threshold, and the array-side trim are all hash-checked. "
    "Digests (16-byte md5) travel through the count shuffle, not "
    "k-token strings; runs are found with a PER-DOC window; the trim "
    "never explodes the corpus — a per-doc (s,e) run list joins back "
    "and filter(t, (tok,i) -> ...) drops positions JVM-side.",
)
def docs_exact_substring_trim(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    out = exact_substring_trim(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_toks",
        "removed_toks",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )


# Planted cross-batch duplicated run for the ingest entry: a fixed
# 24-token suffix (>= EXSUB_MIN_RUN) appended to SOME corpus docs
# (doc_id%40==0) and SOME arriving docs (doc_id%20 in {8,19} — one even,
# one odd, so BOTH staged micro-batches of the streaming twin carry
# hits), guaranteeing the cross-corpus removal path executes at every
# sf regardless of the fixture's natural duplication.
PLANT = (
    "xqalpha xqbravo xqcedar xqdelta xqember xqfalcon xqgrove xqhollow "
    "xqindigo xqjasper xqkestrel xqlumen xqmarrow xqnimbus xqonyx "
    "xqpetal xqquartz xqrustle xqsable xqtundra xqumber xqvortex "
    "xqwillow xqzephyr"
)
PLANT_PRED = "(doc_id % 40 = 0 OR doc_id % 20 = 8 OR doc_id % 20 = 19)"


def planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents fixture with PLANT appended where PLANT_PRED
    holds: the shared input of the ExactSubstr ingest, verified,
    streaming and corpus-intake entries."""
    pred = (
        (F.col("doc_id") % 40 == 0)
        | (F.col("doc_id") % 20 == 8)
        | (F.col("doc_id") % 20 == 19)
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.when(pred, F.concat(F.col("text"), F.lit(" " + PLANT)))
        .otherwise(F.col("text"))
        .alias("text"),
    )


_EXSUB_INGEST_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         CASE WHEN {PLANT_PRED} THEN text || ' {PLANT}'
              ELSE text END AS text
  FROM documents),
tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM raw),
co AS (SELECT doc_id, t FROM tok WHERE doc_id % 10 < 8),
ba AS (SELECT doc_id, t FROM tok WHERE doc_id % 10 >= 8),
idx AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, pos + 1, pos + {EXSUB_SHINGLE}), ' ')) AS h
  FROM (SELECT t, unnest(range(0, greatest(len(t) - {EXSUB_SHINGLE} + 1, 0))) AS pos
        FROM co)),
sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {EXSUB_SHINGLE}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {EXSUB_SHINGLE} + 1, 0))) AS pos
        FROM ba)),
dup AS (
  SELECT h FROM sh GROUP BY h
  HAVING count(*) >= 2 OR max(CASE WHEN h IN (SELECT h FROM idx)
                                   THEN 1 ELSE 0 END) = 1),
cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {EXSUB_SHINGLE})) AS cp
        FROM sh s JOIN dup USING (h))),
isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM cov),
runs AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM isl GROUP BY doc_id, g HAVING count(*) >= {EXSUB_MIN_RUN}),
rm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
       FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM runs)),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
        FROM (SELECT doc_id, unnest(t) AS w,
                     generate_subscripts(t, 1) AS i
              FROM ba)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.w
  FROM pos LEFT JOIN rm ON pos.doc_id = rm.doc_id AND pos.p = rm.cp
  WHERE rm.cp IS NULL),
reasm AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
          FROM kept GROUP BY doc_id),
rem AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed_toks
        FROM runs GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM ba)
SELECT t.doc_id AS doc_id, t.n_toks AS n_toks,
       CAST(coalesce(rem.removed_toks, 0) AS BIGINT) AS removed_toks,
       md5(coalesce(reasm.cleaned, '')) AS cleaned_md5
FROM tot t
LEFT JOIN rem USING (doc_id)
LEFT JOIN reasm USING (doc_id)
"""


@register(
    "docs_exact_substring_ingest",
    _EXSUB_INGEST_ORACLE,
    doc="Incremental ExactSubstr ingest: an "
    "arriving batch (doc_id%10>=8, with a planted 24-token suffix "
    "shared with corpus docs so cross-batch duplicated runs provably "
    "exist) is trimmed against the FROZEN digest index of the "
    "existing corpus (doc_id%10<8) — batch-proportional, the corpus "
    "text is never re-read. The rule 'position duplicated iff its "
    "shingle digest is in the corpus index OR repeats >= 2x within "
    "the batch' is EXACTLY the full corpus-wide recount restricted "
    "to batch docs (count_total >= 2 <=> corpus >= 1 OR batch >= 2), "
    "so the cheap path is bit-identical to a full re-run's verdict on "
    "the new docs; cleaned_md5 pins exact per-doc reassembly. Index = "
    "distinct 16-byte digests, stored bucketed by digest at scale so "
    "per-batch joins co-locate; coverage, runs and trim are the shared "
    "stages covered_positions -> covered_runs -> trim_runs.",
)
def docs_exact_substring_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = planted_docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    idx = exact_substring_index(corpus)
    out = exact_substring_ingest_trim(batch, idx)
    return out.select(
        "doc_id",
        "n_toks",
        "removed_toks",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )


_DECON_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         {ws_tokens_sql('text')} AS t
  FROM documents),
ev AS (
  SELECT DISTINCT
         md5(array_to_string(list_slice(t, pos + 1, pos + {DECON_SHINGLE}), ' ')) AS h
  FROM (SELECT t, unnest(range(0, greatest(len(t) - {DECON_SHINGLE} + 1, 0))) AS pos
        FROM tok WHERE doc_id % 37 = 0)),
tr AS (SELECT doc_id, t FROM tok WHERE doc_id % 37 <> 0),
sh AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         md5(array_to_string(list_slice(t, pos + 1, pos + {DECON_SHINGLE}), ' ')) AS h
  FROM (SELECT doc_id, t,
               unnest(range(0, greatest(len(t) - {DECON_SHINGLE} + 1, 0))) AS pos
        FROM tr)),
cov AS (
  SELECT DISTINCT doc_id, cp
  FROM (SELECT s.doc_id, unnest(range(s.pos, s.pos + {DECON_SHINGLE})) AS cp
        FROM sh s JOIN ev USING (h))),
isl AS (
  SELECT doc_id, cp,
         cp - row_number() OVER (PARTITION BY doc_id ORDER BY cp) AS g
  FROM cov),
runs AS (
  SELECT doc_id, min(cp) AS s, max(cp) AS e, count(*) AS len
  FROM isl GROUP BY doc_id, g HAVING count(*) >= {DECON_SHINGLE}),
rm AS (SELECT doc_id, CAST(cp AS BIGINT) AS cp
       FROM (SELECT doc_id, unnest(range(s, e + 1)) AS cp FROM runs)),
pos AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS p, w
        FROM (SELECT doc_id, unnest(t) AS w,
                     generate_subscripts(t, 1) AS i
              FROM tr)),
kept AS (
  SELECT pos.doc_id, pos.p, pos.w
  FROM pos LEFT JOIN rm ON pos.doc_id = rm.doc_id AND pos.p = rm.cp
  WHERE rm.cp IS NULL),
reasm AS (SELECT doc_id, string_agg(w, ' ' ORDER BY p) AS cleaned
          FROM kept GROUP BY doc_id),
rem AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS removed_toks
        FROM runs GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks FROM tr)
SELECT t.doc_id AS doc_id, t.n_toks AS n_toks,
       CAST(coalesce(rem.removed_toks, 0) AS BIGINT) AS removed_toks,
       md5(coalesce(reasm.cleaned, '')) AS cleaned_md5
FROM tot t
LEFT JOIN rem USING (doc_id)
LEFT JOIN reasm USING (doc_id)
"""


@register(
    "docs_decontaminate_trim",
    _DECON_ORACLE,
    doc="Eval-set decontamination (the GPT-3 13-gram rule's shape at "
    "8-gram granularity): every training-doc position covered by an "
    "8-token shingle occurring VERBATIM in the held-out benchmark "
    "slice (doc_id % 37 == 0 stands in for the eval corpus) is "
    "contaminated; maximal contaminated runs are deleted from the "
    "training text and survivors reassemble in order. cleaned_md5 "
    "pins exact reassembly. The eval digest index (16-byte md5, "
    "DISTINCT) is what production materializes once per benchmark "
    "release; the train side semi-joins it by digest (small benchmark "
    "-> AQE broadcast, corpus-sized -> safe shuffle); run assembly + "
    "trim are the shared ExactSubstr stages (covered_positions -> "
    "covered_runs -> trim_runs).",
)
def docs_decontaminate_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    ev = d.filter(F.col("doc_id") % 37 == 0)
    tr = d.filter(F.col("doc_id") % 37 != 0)
    out = decontaminate_trim(tr, ev)
    return out.select(
        "doc_id",
        "n_toks",
        "removed_toks",
        F.md5(F.col("cleaned")).alias("cleaned_md5"),
    )
