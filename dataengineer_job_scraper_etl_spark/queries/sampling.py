"""Sampling / dataset-splitting operators (training-pipeline staples).

Deterministic hash-based splitting is THE way to partition a corpus at
scale: stateless per-row predicate (no shuffle, no RNG state, stable
across reruns and engines), so membership never flips between runs.
md5's hex string is identical in Spark and DuckDB, which makes the
whole family fully oracle-checkable — unlike seeded RNG sampling
(sample()/sampleBy()), whose engine-specific generators get a
tolerance CONTRACT instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Assign each row a deterministic split label from the first hex
    nibble of md5(key): 16 buckets, allocated per ``splits`` = list of
    (label, n_buckets) summing to 16. Default 12/2/2 = 75/12.5/12.5
    train/val/test. Same key -> same split, forever, on any engine."""
    splits = splits or [("train", 12), ("val", 2), ("test", 2)]
    assert sum(n for _, n in splits) == 16
    # hex nibble -> 0..15 without numeric parsing: position in the
    # lowercase hex alphabet (both engines emit lowercase hex)
    bucket = F.expr(
        f"position(substring(md5(cast({key_col} as string)), 1, 1) "
        f"in '0123456789abcdef') - 1"
    )
    expr = None
    lo = 0
    for label, n in splits:
        cond = (bucket >= lo) & (bucket < lo + n)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
        lo += n
    return df.withColumn("split", expr)


def kfold_assign(
    df: DataFrame, key_col: str, k: int, fold_col: str = "fold"
) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: fold =
    md5-bucket(key) mod k, from hex digits 21-28 (disjoint from
    hash_split's digit 1, the mixture sampler's 5-8, and the uniform
    sampler's 9-16 — the same decorrelation discipline, so folding
    composes with any of them). Stateless per-row predicate: fold i's
    train set is a filter, no shuffle, membership stable forever."""
    if not 1 < k <= 4096:
        raise ValueError("k must be in (1, 4096]")
    bucket = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 21, 8), 16, 10
    ).cast("long")
    return df.withColumn(fold_col, (bucket % k).cast("int"))


def _nibble_bucket_sql(key: str, offset: int) -> str:
    """DuckDB 32-bit bucket from 8 md5 hex digits at ``offset`` —
    the ONE generator behind every nibble-arithmetic oracle here
    (kfold at 21, uniform at 9); DuckDB has no conv()."""
    terms = " + ".join(
        f"(position(substring(md5(CAST({key} AS VARCHAR)), {offset + i}, 1) "
        f"in '0123456789abcdef') - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


def _kfold_bucket_sql(key: str) -> str:
    return _nibble_bucket_sql(key, 21)


_KFOLD_K = 5


@register(
    "docs_kfold_assignment",
    f"""
SELECT CAST({_kfold_bucket_sql("doc_id")} % {_KFOLD_K} AS INTEGER) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM documents GROUP BY fold
""",
    doc=f"Deterministic {_KFOLD_K}-fold CV assignment (kfold_assign): "
    "fold = md5-bucket(doc_id) mod k from hex digits 21-28 — "
    "decorrelated from the split/mixture/uniform hash windows so all "
    "four compose. id_checksum pins EXACT per-fold membership; "
    "stateless per-row predicate, no shuffle, rerun- and "
    "engine-stable (the leakage-free folding a model-selection "
    "pipeline needs).",
)
def docs_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return (
        kfold_assign(d, "doc_id", _KFOLD_K)
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


def mixture_rates(
    counts: dict[str, int], weights: dict[str, float]
) -> dict[str, float]:
    """Per-source keep rates that realize a target mixture: scale the
    total corpus to the largest T with weight_s * T <= count_s for
    every weighted source (the scarcest source is kept whole, the
    abundant ones are downsampled). Driver-side arithmetic over one
    row per source — the bounded 'dimension' of a mixture job."""
    limiting = [
        counts.get(s, 0) / w for s, w in weights.items() if w > 0
    ]
    if not limiting or min(limiting) == 0:
        raise ValueError("a weighted source has no rows")
    total = min(limiting)
    return {
        s: min(1.0, w * total / counts[s])
        for s, w in weights.items()
        if w > 0
    }


def mixture_weights_temperature(
    counts: dict[str, int], alpha: float
) -> dict[str, float]:
    """Temperature-scaled mixture weights (the mT5/XLM-R sampling
    trick): target share of source s is (n_s/N)^alpha renormalized.
    alpha=1 reproduces the natural distribution (no rebalancing);
    alpha=0 is uniform (every source equal); the usual 0.2-0.7 range
    boosts small sources without letting them dominate. Feed the
    result to mixture_rates to get per-source keep rates."""
    if not 0 <= alpha <= 1:
        raise ValueError("alpha must be in [0, 1]")
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("empty corpus")
    powed = {s: (n / total) ** alpha for s, n in counts.items() if n > 0}
    z = sum(powed.values())
    return {s: p / z for s, p in powed.items()}


def deterministic_source_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Training-mixture sampler: keep a row iff its md5 bucket (16 bits
    from hex digits 5-8 of md5(key)) falls below its source's rate
    threshold. Stateless per-row predicate — no shuffle, no RNG state,
    rerun- and engine-stable — and THRESHOLD sampling, so samples are
    NESTED: raising a source's rate only ADDS rows, never swaps them
    (the property that keeps ablation runs comparable). Sources
    without a rate are dropped (weight 0).

    Digits 5-8 (not 1-4) are deliberate: ``hash_split`` derives the
    train/val/test label from hex digit 1 of the SAME md5(key), and a
    sampler bucket that includes that digit correlates the two — any
    source sampled at rate <= 0.75 would land entirely in 'train'
    (bucket < r*65536 constrains the top nibble). Disjoint digit
    ranges of one md5 are independent for splitting purposes, so a
    downsampled source still spreads 12/2/2 across splits
    (tests/test_mixture.py::test_downsampled_source_fills_all_splits)."""
    if not rates:
        raise ValueError(
            "deterministic_source_sample: empty rates dict (every "
            "source would be dropped; pass at least one source rate)"
        )
    bucket = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 5, 4), 16, 10
    ).cast("long")
    expr = None
    for s, r in sorted(rates.items()):
        cond = (F.col(source_col) == s) & (bucket < int(round(r * 65536)))
        expr = cond if expr is None else expr | cond
    return df.filter(expr)


@register(
    "docs_train_val_test_split",
    """
WITH tagged AS (
  SELECT doc_id,
         CASE
           WHEN b < 12 THEN 'train'
           WHEN b < 14 THEN 'val'
           ELSE 'test'
         END AS split
  FROM (
    SELECT doc_id,
           position(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                    in '0123456789abcdef') - 1 AS b
    FROM documents))
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM tagged GROUP BY split
""",
    doc="Deterministic 75/12.5/12.5 train/val/test split of documents "
    "from the first md5 hex nibble of doc_id: stateless, shuffle-free, "
    "rerun-stable. The id_checksum pins EXACT membership per split on "
    "both engines — the property that matters for leakage-free "
    "training splits.",
)
def docs_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    return (
        hash_split(d, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


@register(
    "lineitem_deterministic_sample",
    """
SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(l_orderkey) AS BIGINT) AS key_checksum,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS price_checksum
FROM lineitem
WHERE substring(md5(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR)), 1, 1)
      IN ('0', '1', '2')
""",
    doc="Deterministic ~18.75% sample (3 of 16 md5 nibbles) of "
    "lineitem keyed by (orderkey, linenumber): per-row predicate, "
    "pushable, no shuffle, no RNG state — the reproducible-sample "
    "primitive for data audits. Checksums pin exact membership.",
)
def lineitem_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    key = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string")
    keep = F.substring(F.md5(key), 1, 1).isin("0", "1", "2")
    return l.filter(keep).agg(
        F.count("*").alias("n_sampled"),
        F.sum("l_orderkey").alias("key_checksum"),
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double").alias("price_checksum"),
    )


@register(
    "events_sampleby_fraction_contract",
    """
SELECT event_type, TRUE AS frac_ok
FROM events GROUP BY event_type
""",
    doc="Native seeded sampleBy (stratified RNG sampling) under a "
    "tolerance CONTRACT: each stratum's realized sampling fraction "
    "must sit within +-40% relative of the requested 0.2 (seeded -> "
    "deterministic per engine; the RNG stream itself is engine-"
    "specific, so the oracle asserts the contract, not the rows).",
)
def events_sampleby_fraction_contract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.events import _events

    e = _events(spark, sf_dir)
    fractions = {
        t: 0.2
        for t in ["click", "view", "purchase", "signup", "error"]
    }
    sampled = e.sampleBy("event_type", fractions, seed=42)
    totals = e.groupBy("event_type").agg(F.count("*").alias("n_total"))
    got = sampled.groupBy("event_type").agg(F.count("*").alias("n_sampled"))
    frac = F.col("n_sampled") / F.col("n_total")
    return (
        totals.join(got, "event_type", "left")
        .select(
            "event_type",
            ((frac >= 0.12) & (frac <= 0.28)).alias("frac_ok"),
        )
    )


# Thresholds for the mixture contract entry: int(round(rate * 65536)),
# full rate and half rate per covered source. Part of the entry's
# contract (the oracle carries the same literals).
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}

_MIX_ORACLE = """
WITH nib AS (
  SELECT doc_id, source,
         (position(substring(md5(CAST(doc_id AS VARCHAR)), 5, 1) in '0123456789abcdef') - 1) * 4096
       + (position(substring(md5(CAST(doc_id AS VARCHAR)), 6, 1) in '0123456789abcdef') - 1) * 256
       + (position(substring(md5(CAST(doc_id AS VARCHAR)), 7, 1) in '0123456789abcdef') - 1) * 16
       + (position(substring(md5(CAST(doc_id AS VARCHAR)), 8, 1) in '0123456789abcdef') - 1) AS bucket
  FROM documents
  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
thr AS (SELECT * FROM (VALUES
  ('src0', 65536, 32768), ('src1', 32768, 16384),
  ('src2', 16384, 8192), ('src3', 8192, 4096)) t(source, t_full, t_half))
SELECT nib.source AS source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN bucket < t_full THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN bucket < t_half THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_half,
       CAST(sum(CASE WHEN bucket < t_full THEN doc_id ELSE 0 END) AS BIGINT) AS id_checksum,
       CAST(sum(CASE WHEN bucket < t_half AND bucket >= t_full THEN 1 ELSE 0 END) AS BIGINT) = 0 AS nested_ok
FROM nib JOIN thr USING (source)
GROUP BY nib.source
"""


@register(
    "docs_mixture_sample_contract",
    _MIX_ORACLE,
    doc="Training-mixture sampler contract, oracle-checked end to end: "
    "four sources sampled at rates 1/0.5/0.25/0.125 AND at half those "
    "rates. id_checksum pins EXACT kept-set membership per source (the "
    "md5-threshold predicate is engine-portable), and nested_ok is "
    "computed on the Spark side as a REAL anti-join of the half-rate "
    "sample against the full-rate sample — proving threshold samples "
    "nest (ablation comparability), not just that counts line up. "
    "Buckets come from md5 hex digits 5-8, decorrelated from "
    "hash_split's digit 1 (see deterministic_source_sample).",
)
def docs_mixture_sample_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    half = {s: r / 2 for s, r in _MIX_RATES.items()}
    kept = deterministic_source_sample(d, _MIX_RATES)
    kept_half = deterministic_source_sample(d, half)
    totals = (
        d.filter(F.col("source").isin(list(_MIX_RATES)))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    k = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("id_checksum"),
    )
    kh = kept_half.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept_half")
    )
    escaped = (
        kept_half.join(kept.select("doc_id"), "doc_id", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("__n_escaped"))
    )
    return (
        totals.join(k, "source", "left")
        .join(kh, "source", "left")
        .join(escaped, "source", "left")
        .select(
            "source",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("n_kept_half"), F.lit(0))
            .cast("bigint")
            .alias("n_kept_half"),
            F.coalesce(F.col("id_checksum"), F.lit(0))
            .cast("bigint")
            .alias("id_checksum"),
            (F.coalesce(F.col("__n_escaped"), F.lit(0)) == 0).alias("nested_ok"),
        )
    )


def select_by_token_budget(
    df: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
    quality_col: str = "quality_millionths",
    tok_col: str = "n_toks",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware data selection under a per-source token budget —
    the curation step real pipelines run where the mixture sampler is
    hash-random: rank each source's docs by (quality desc, id asc) and
    keep the prefix whose PRECEDING selected tokens are still under
    budget (the doc that crosses the line is kept, so budgets are met,
    not undershot; deterministic because the order key is total).

    One window per source: the per-source sort is the semantics (a
    budget is a global property of the source's ranking). At 100 TB
    per-source groups are the unit of parallelism; if one source
    dwarfs the rest, pre-aggregate a quality histogram to find the
    cutoff score and turn the window into a filter."""
    w = (
        Window.partitionBy(source_col)
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum(tok_col).over(w), F.lit(0))
    return (
        df.withColumn("__off", off)
        .filter(F.col("__off") < budget_tokens)
        .drop("__off")
    )


_BUDGET_TOKENS = 1000


def _budget_oracle() -> str:
    from dataengineer_job_scraper_etl_spark.queries.text import _QUALITY_SQL

    return f"""
WITH q AS ({_QUALITY_SQL}),
base AS (
  SELECT d.doc_id, d.source,
         len({ws_tokens_sql('d.text')}) AS n_toks,
         q.quality_millionths
  FROM documents d JOIN q USING (doc_id)),
sel AS (
  SELECT * FROM (
    SELECT *, coalesce(sum(n_toks) OVER (
        PARTITION BY source
        ORDER BY quality_millionths DESC, doc_id ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
    FROM base)
  WHERE off < {_BUDGET_TOKENS})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(n_toks) AS BIGINT) AS tokens_selected,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM sel GROUP BY source
"""


@register(
    "docs_quality_budget_selection",
    None,  # oracle assigned below: needs the lazy _QUALITY_SQL import
    doc="Quality-aware budget selection (select_by_token_budget): per "
    "source, rank docs by the integer-exact quality score "
    "(text_quality_score's formulation) and keep the best prefix "
    "whose cumulative tokens reach a 1000-token budget. id_checksum "
    "pins EXACT membership — the greedy order, tie-breaks, and "
    "boundary-crossing rule all hash-checked per source.",
)
def docs_quality_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.text import (
        text_quality_score,
    )

    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    q = text_quality_score(spark, sf_dir)
    base = d.select(
        "doc_id",
        "source",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("n_toks"),
    ).join(q, "doc_id")
    sel = select_by_token_budget(base, _BUDGET_TOKENS)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("n_toks").cast("bigint").alias("tokens_selected"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


def _hashed_uniform(key_col, offset: int = 9):
    """Deterministic uniform in (0,1) from 8 md5 hex digits of the key
    (digits ``offset``..offset+7 — 9-16 by default, decorrelated from
    hash_split's digit 1 and the mixture sampler's digits 5-8). The
    +0.5 keeps u strictly inside (0,1) so ln(u) and ln(-ln(u)) are
    finite; (b+0.5)/2^32 is exact in a double, so both engines compute
    bit-identical u."""
    b = F.conv(
        F.substring(F.md5(key_col.cast("string")), offset, 8), 16, 10
    ).cast("double")
    return (b + F.lit(0.5)) / F.lit(4294967296.0)


def _uniform_sql(key: str, offset: int = 9) -> str:
    """DuckDB twin of _hashed_uniform: the shared nibble bucket,
    scaled into (0,1)."""
    return f"({_nibble_bucket_sql(key, offset)} + 0.5) / 4294967296.0"


def weighted_sample_without_replacement(
    df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Efraimidis-Spirakis A-ES: each row draws key = ln(u)/w with a
    DETERMINISTIC hashed uniform; the k largest keys are an exact
    weighted sample without replacement (P(first pick = i) = w_i/Σw,
    then renormalized — the classic distributed one-pass WOR). Global
    top-k by key is TakeOrderedAndProject: per-partition heaps merged
    on the driver, never a full sort. Rerun-stable, engine-portable
    (ties broken by key_col; float ranking flips need two keys within
    an ulp AT the rank-k boundary — probability ~1e-14)."""
    u = _hashed_uniform(F.col(key_col))
    key = F.log(u) / F.col(weight_col)
    return (
        df.withColumn("__es_key", key)
        .orderBy(F.desc("__es_key"), F.asc(key_col))
        .limit(k)
        .drop("__es_key")
    )


_ES_K = 100

_ES_ORACLE = f"""
WITH w AS (
  SELECT doc_id,
         CAST(len({ws_tokens_sql('text')}) AS BIGINT) AS w_toks,
         {_uniform_sql("doc_id")} AS u
  FROM documents)
SELECT doc_id, w_toks
FROM w
ORDER BY ln(u) / w_toks DESC, doc_id ASC
LIMIT {_ES_K}
"""


@register(
    "docs_weighted_sample_es",
    _ES_ORACLE,
    doc="Exact weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirakis): 100 docs drawn with probability proportional to token "
    "count via key = ln(u)/w over a hashed uniform (md5 digits 9-16 — "
    "decorrelated from the split and mixture hashes), top-k by key. "
    "One pass, no RNG state, rerun- and engine-stable; the global "
    "top-k is per-partition heaps + driver merge (TakeOrderedAnd"
    "Project), never a full sort. Hash-checks EXACT membership of the "
    "sample on both engines.",
)
def docs_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("long").alias("w_toks"),
    )
    return weighted_sample_without_replacement(
        d, _ES_K, weight_col="w_toks"
    ).select("doc_id", "w_toks")


_DSIR_K = 100
_DSIR_TARGET_SOURCE = "src0"


def dsir_importance_topk(
    docs: DataFrame,
    target_filter,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-shaped data selection (Xie et al. 2023): importance weight
    each document by how much more likely its tokens are under a
    TARGET unigram LM (fit on the rows matching ``target_filter``)
    than under the RAW corpus LM, then draw a top-k sample with the
    Gumbel-top-k trick — key = score + Gumbel(hashed u), which samples
    with probability proportional to exp(score) = the importance
    weight, deterministically.

    Both LMs are add-1-smoothed over the SHARED corpus vocabulary, so
    target-OOV tokens are penalized, not crashed. Scale shape: the two
    LMs are vocab-sized aggregates of one exploded pass (broadcastable
    — AQE decides), scoring is explode -> broadcast join -> per-doc
    sum, and the final top-k never global-sorts."""

    flat = docs.select(
        F.col(id_col).alias("doc_id"),
        target_filter.alias("__is_tgt"),
        F.explode(ws_tokens(F.col(text_col))).alias("tok"),
    )
    lm = flat.groupBy("tok").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.col("__is_tgt").cast("long")).alias("c_tgt"),
    )
    totals = lm.agg(
        F.sum("c_raw").cast("double").alias("__n_raw"),
        F.sum("c_tgt").cast("double").alias("__n_tgt"),
        F.count(F.lit(1)).cast("double").alias("__v"),
    )
    log_ratio = F.log(
        (F.col("c_tgt") + 1) / (F.col("__n_tgt") + F.col("__v"))
    ) - F.log((F.col("c_raw") + 1) / (F.col("__n_raw") + F.col("__v")))
    scored = (
        flat.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(F.sum(log_ratio).alias("imp_score"))
    )
    u = _hashed_uniform(F.col("doc_id"))
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("__key", F.col("imp_score") + gumbel)
        .orderBy(F.desc("__key"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", F.round("imp_score", 6).alias("imp_score"))
    )


_DSIR_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, source = '{_DSIR_TARGET_SOURCE}' AS is_tgt,
         {ws_tokens_sql('text')} AS t
  FROM documents),
flat AS (SELECT doc_id, is_tgt, unnest(t) AS tok FROM tok),
lm AS (
  SELECT tok, count(*) AS c_raw,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
  FROM flat GROUP BY tok),
tot AS (
  SELECT CAST(sum(c_raw) AS DOUBLE) AS n_raw,
         CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
         CAST(count(*) AS DOUBLE) AS v
  FROM lm),
scored AS (
  SELECT f.doc_id,
         sum(ln((lm.c_tgt + 1) / (tot.n_tgt + tot.v))
           - ln((lm.c_raw + 1) / (tot.n_raw + tot.v))) AS imp_score
  FROM flat f JOIN lm USING (tok) CROSS JOIN tot
  GROUP BY f.doc_id),
keyed AS (
  SELECT doc_id, imp_score,
         imp_score + (-ln(-ln({_uniform_sql("doc_id")}))) AS key
  FROM scored)
SELECT doc_id, round(imp_score, 6) AS imp_score
FROM keyed
ORDER BY key DESC, doc_id ASC
LIMIT {_DSIR_K}
"""


@register(
    "docs_dsir_importance_topk",
    _DSIR_ORACLE,
    doc="DSIR-shaped importance resampling toward a target domain: "
    "fit add-1-smoothed unigram LMs on the target source (src0) and "
    "the raw corpus from ONE exploded pass, score each doc by its "
    "summed token log-likelihood ratio, and draw 100 docs via the "
    "deterministic Gumbel-top-k trick (key = score + Gumbel(hashed "
    "u)) — sampling with probability proportional to the importance "
    "weight, no RNG state. Hash-checks exact sample membership AND "
    "the rounded scores on both engines.",
)
def docs_dsir_importance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    return dsir_importance_topk(
        d, F.col("source") == _DSIR_TARGET_SOURCE, _DSIR_K
    )


# Late-bound oracle: _QUALITY_SQL lives in queries.text, imported
# lazily to keep module load order cycle-free.
from dataengineer_job_scraper_etl_spark import catalog as _catalog  # noqa: E402

_catalog._REGISTRY["docs_quality_budget_selection"].oracle = _budget_oracle()


_BALANCED_N = 10


@register(
    "docs_balanced_eval_sample",
    f"""
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= {_BALANCED_N}
GROUP BY source
""",
    doc=f"Balanced eval-set construction: EXACTLY {_BALANCED_N} docs "
    "per source (not a fraction — eval sets need fixed per-stratum "
    "counts), chosen by ranking each stratum on md5(doc_id) — a "
    "deterministic, engine-portable 'random' order, so membership is "
    "rerun-stable and hash-checkable (seeded RNG sampling is neither "
    "across engines). One ranking window per source partition over "
    "(source, doc_id) pairs only; at 100 TB the hash-rank trick also "
    "beats sampleBy for exact-n semantics, which fractional sampling "
    "cannot guarantee. id_checksum pins exact membership per stratum.",
)
def docs_balanced_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "source", "doc_id"
    )
    return (
        grouped_topk(
            d, ["source"], [F.md5(F.col("doc_id").cast("string")), "doc_id"],
            _BALANCED_N, rank_col="rn",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


# --- training order + token budget (round 7) -------------------------

_ORDER_SEED = "epoch0"
_ORDER_SHARDS = 8


@register(
    "docs_training_order",
    f"""
WITH keyed AS (
  SELECT doc_id,
         md5('{_ORDER_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents),
sharded AS (
  SELECT doc_id, k,
         ((position(substring(k, 1, 1) in '0123456789abcdef') - 1) * 16
          + position(substring(k, 2, 1) in '0123456789abcdef') - 1)
           % {_ORDER_SHARDS} AS shard_id
  FROM keyed)
SELECT doc_id, shard_id,
       CAST(row_number() OVER (
         PARTITION BY shard_id ORDER BY k, doc_id) AS BIGINT)
         AS pos_in_shard
FROM sharded
""",
    doc="Deterministic seeded TRAINING ORDER — the epoch-shuffle a "
    "pretraining data loader consumes: every doc gets a shard and an "
    "intra-shard position from md5(seed:doc_id) alone, so the "
    "'random' order is rerun-stable, engine-portable, and re-seedable "
    "per epoch (change the seed literal, get an independent "
    "permutation). Scale shape: shard assignment is a stateless "
    "projection (first two hash nibbles mod n_shards -> statistically "
    "balanced shards); position is a row_number window PARTITIONED BY "
    "shard — parallel across shards, never a single global sort (a "
    "Window.orderBy with no partition would collapse 100 TB onto one "
    "task; hash-sharding is how real loaders parallelize the epoch "
    "order). Hash equality pins the ENTIRE permutation, not a sample.",
)
def docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet").select("doc_id")
    k = F.md5(
        F.concat(F.lit(_ORDER_SEED + ":"), F.col("doc_id").cast("string"))
    )
    nib = (
        "(position(substring(__k, 1, 1) in '0123456789abcdef') - 1) * 16"
        " + position(substring(__k, 2, 1) in '0123456789abcdef') - 1"
    )
    sharded = d.withColumn("__k", k).withColumn(
        "shard_id", F.expr(f"({nib}) % {_ORDER_SHARDS}")
    )
    w = Window.partitionBy("shard_id").orderBy("__k", "doc_id")
    return sharded.select(
        "doc_id",
        "shard_id",
        F.row_number().over(w).cast("bigint").alias("pos_in_shard"),
    )


_CLIP_BUDGET = 48  # tokens; the fixture's docs run ~20-90 tokens


@register(
    "docs_token_budget_clip",
    f"""
WITH sig AS (
  SELECT source,
         len({ws_tokens_sql('text')}) AS n
  FROM documents)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n > {_CLIP_BUDGET} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped,
       CAST(sum(n) AS BIGINT) AS tokens_raw,
       CAST(sum(least(n, {_CLIP_BUDGET})) AS BIGINT) AS tokens_kept,
       CAST(sum(n - least(n, {_CLIP_BUDGET})) AS BIGINT) AS tokens_dropped
FROM sig GROUP BY source
""",
    doc="Per-source context-budget clipping audit: clip every doc at "
    f"{_CLIP_BUDGET} tokens (the max-sequence-length truncation every "
    "tokenized pretraining pipeline applies) and account for exactly "
    "how many tokens each source loses — the number that decides "
    "whether truncation or packing is eating a source's long-form "
    "data. ONE scan, token counts and clip arithmetic in the same "
    "projection, one partial-agg groupBy(source); the text column "
    "never shuffles.",
)
def docs_token_budget_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    n = F.size(ws_tokens(F.col("text"))).cast("long")
    kept = F.least(n, F.lit(_CLIP_BUDGET))
    sig = d.select(
        "source",
        n.alias("__n"),
        kept.alias("__kept"),
        (n > _CLIP_BUDGET).cast("long").alias("__clipped"),
    )
    return sig.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__clipped").cast("bigint").alias("n_clipped"),
        F.sum("__n").cast("bigint").alias("tokens_raw"),
        F.sum("__kept").cast("bigint").alias("tokens_kept"),
        (F.sum("__n") - F.sum("__kept")).cast("bigint").alias("tokens_dropped"),
    )
