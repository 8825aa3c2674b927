"""LLM-training-pipeline operators beyond the round-2 battery
(north-star §2.10 family): BPE-ish subword token counting, a
composite pre-train quality gate, sequence packing into fixed-size
training shards, an approximate-percentile tolerance contract, a
range (interval) join, a multi-stage conversion funnel, and a
continuous-aggregate style rollup that re-aggregates coarse windows
from fine-window partials.

Scale notes per query are on each entry; the common themes:
- per-doc signals are single-pass array expressions (no explode
  unless a join needs rows), so nothing shuffles full text;
- the range join keys on user_id first (equi component bounds the
  pair space), the range predicate prunes inside each key;
- the packing window partitions by source — running offsets are
  sequential WITHIN a shard-producing partition only, which is how
  a real tokenizer-sharder parallelizes (one writer per source/day).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    ws_split,
    ws_split_py,
    ws_split_sql,
    ws_tokens,
    ws_tokens_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.events import _events

# BPE-ish pre-tokenizer: letter runs, single digits, single
# non-alnum marks — the classic GPT-2-style split shape (letters
# glued, digits separate, punctuation separate). Same pattern text
# feeds Java regex (Spark) and DuckDB's RE2.
BPE_SPLIT = "[a-z]+|[0-9]|[^a-z0-9\\s]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/documents.parquet")


@register(
    "text_bpe_token_count",
    f"""
WITH tok AS (
  SELECT source,
         len(regexp_extract_all(lower(text), '{BPE_SPLIT}')) AS n_pieces,
         len({ws_tokens_sql('text')}) AS n_words
  FROM documents)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_pieces) AS BIGINT) AS total_pieces,
       round(avg(n_pieces), 4) AS avg_pieces,
       CAST(sum(n_pieces) * 1000000 // sum(n_words) AS BIGINT)
         AS pieces_per_word_ppm
FROM tok GROUP BY source
""",
    doc="Token counting with a BPE-ish pre-tokenizer regex (letter "
    "runs / single digits / punctuation marks — the GPT-2 split "
    "shape) next to the whitespace count: per-source totals and the "
    "subword-inflation ratio in ppm (integer-exact). Single "
    "projection + one partial-agg shuffle; the regex runs once per "
    "row inside codegen, no explode.",
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    pieces = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_SPLIT), F.lit(0))
    )
    words = F.size(ws_tokens(F.col("text")))
    return (
        d.select("source", pieces.alias("n_pieces"), words.alias("n_words"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_pieces").cast("bigint").alias("total_pieces"),
            F.round(F.avg("n_pieces"), 4).alias("avg_pieces"),
            # integer division on BOTH sides ('div' / '//'): the prior
            # double-division + cast diverged at sf1 — Spark's
            # double->bigint cast truncates while DuckDB's rounds, an
            # off-by-one on every group whose ratio fraction >= .5
            F.expr("(sum(n_pieces) * 1000000) div sum(n_words)")
            .cast("bigint")
            .alias("pieces_per_word_ppm"),
        )
    )


@register(
    "docs_pretrain_filter",
    f"""
WITH sig AS (
  SELECT doc_id,
         len({ws_tokens_sql('text')}) AS n_toks,
         len(list_distinct({ws_tokens_sql('text')})) AS d_toks
  FROM documents)
SELECT doc_id,
       CASE WHEN n_toks < 20 THEN 'too_short'
            WHEN n_toks > 90 THEN 'too_long'
            WHEN d_toks * 1000000 // n_toks < 400000 THEN 'low_diversity'
            ELSE 'kept' END AS verdict
FROM sig
""",
    doc="Composite pre-train quality gate (the filter stage of an LLM "
    "data pipeline): length band + distinct-token diversity floor, "
    "first-failing-rule verdict per document. All signals are "
    "integer-exact (counts and ppm ratios via integer division) so "
    "the cross-engine hash can't hit float ties. Pure per-row map — "
    "no shuffle at all; at 100 TB this is a narrow scan-and-filter.",
)
def docs_pretrain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    toks = ws_tokens(F.col("text"))
    sig = d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("d_toks"),
    )
    ratio = F.expr("d_toks * 1000000 div n_toks")
    return sig.select(
        "doc_id",
        F.when(F.col("n_toks") < 20, F.lit("too_short"))
        .when(F.col("n_toks") > 90, F.lit("too_long"))
        .when(ratio < 400000, F.lit("low_diversity"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )


@register(
    "docs_pack_sequences",
    f"""
WITH tok AS (
  SELECT source, doc_id, len({ws_tokens_sql('text')}) AS n_toks
  FROM documents),
off AS (
  SELECT source, n_toks,
         coalesce(sum(n_toks) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM tok)
SELECT source, CAST(off // 2048 AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS shard_tokens
FROM off GROUP BY source, shard_id
""",
    doc="Sequence packing for training shards: docs are laid out in "
    "doc_id order within each source, each doc starts at the running "
    "token offset of its predecessors, and shard_id = offset div "
    "2048 (the context-window budget). Partitioning the running sum "
    "by source is the scale design: offsets are only sequential "
    "within one shard-writer's slice, sources pack in parallel. One "
    "window shuffle on source + one partial-agg shuffle.",
)
def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    tok = d.select(
        "source", "doc_id", F.size(ws_tokens(F.col("text"))).alias("n_toks")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tok.select(
        "source",
        "n_toks",
        F.coalesce(F.sum("n_toks").over(w), F.lit(0)).alias("off"),
    )
    return (
        off.withColumn("shard_id", F.expr("off div 2048"))
        .groupBy("source", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("shard_tokens"),
        )
    )


@register(
    "agg_approx_percentile_tol",
    """
WITH s AS (
  SELECT approx_quantile(value, 0.5) AS a50,
         approx_quantile(value, 0.9) AS a90,
         approx_quantile(value, 0.99) AS a99,
         quantile_cont(value, 0.5) AS e50,
         quantile_cont(value, 0.9) AS e90,
         quantile_cont(value, 0.99) AS e99
  FROM events)
SELECT abs(a50 - e50) <= 0.05 * abs(e50) AS p50_within_tol,
       abs(a90 - e90) <= 0.05 * abs(e90) AS p90_within_tol,
       abs(a99 - e99) <= 0.05 * abs(e99) AS p99_within_tol
FROM s
""",
    doc="Approximate-percentile sketch contract (same formulation as "
    "agg_approx_distinct_tol): each engine runs its OWN sketch "
    "(Spark GK percentile_approx, DuckDB t-digest) against its own "
    "exact percentile, and the oracle-checked claim is the 5% "
    "relative-error bound — the cross-engine-comparable property of "
    "a mergeable quantile sketch. Both aggregates are single-pass "
    "with bounded state per partition.",
)
def agg_approx_percentile_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    agg = e.agg(
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("a"),
        F.percentile("value", [0.5, 0.9, 0.99]).alias("x"),
    )
    def within(i: int):
        a, x = F.col("a")[i], F.col("x")[i]
        return F.abs(a - x) <= 0.05 * F.abs(x)
    return agg.select(
        within(0).alias("p50_within_tol"),
        within(1).alias("p90_within_tol"),
        within(2).alias("p99_within_tol"),
    )


@register(
    "events_purchase_views_within_15m",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type FROM events)
SELECT p.event_id, count(v.event_id) AS n_views_15m
FROM ev p
LEFT JOIN ev v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts >= p.ts - INTERVAL 15 MINUTE AND v.ts <= p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id
""",
    doc="Range (interval) join: for every purchase, how many views "
    "the same user made in the trailing 15 minutes. The equi "
    "component (user_id) bounds the pair space — the join shuffles "
    "both sides on user_id once and the range predicate prunes "
    "within each key group, so cost scales with per-user activity, "
    "never corpus x corpus. The as-of join (operators/asof.py) picks "
    "ONE row per probe; this keeps ALL rows in the interval.",
)
def events_purchase_views_within_15m(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _events(spark, sf_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("v_id"),
    )
    joined = p.join(
        v,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 15 MINUTES"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("v_id").alias("n_views_15m")
    )


@register(
    "events_funnel_conversion",
    """
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
            FROM events),
v AS (SELECT user_id, min(ts) AS t_view FROM ev
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, min(e.ts) AS t_click
      FROM ev e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t_view
      GROUP BY e.user_id),
p AS (SELECT e.user_id, min(e.ts) AS t_purchase
      FROM ev e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
      GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS users_viewed,
       (SELECT count(*) FROM c) AS users_clicked_after_view,
       (SELECT count(*) FROM p) AS users_purchased_after_click
""",
    doc="Multi-stage conversion funnel (view -> click after first "
    "view -> purchase after first qualifying click) in ONE scan: "
    "the stage anchors are chained unordered windows over user_id, "
    "so all three stages reuse a single Exchange (vs the naive "
    "3-filtered-aggregates-plus-joins plan, which costs 13); the "
    "per-user collapse rides the same partitioning and only the "
    "final 1-row count shuffles again.",
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).select("ts", "user_id", "event_type")
    w = Window.partitionBy("user_id")
    staged = (
        e.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") >= F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") >= F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count("t_view").alias("users_viewed"),
        F.count("t_click").alias("users_clicked_after_view"),
        F.count("t_purchase").alias("users_purchased_after_click"),
    )


CHUNK_SIZE, CHUNK_STRIDE = 32, 24


@register(
    "docs_chunk_sliding_udtf",
    f"""
WITH s AS (
  SELECT doc_id,
         {ws_split_sql('text')} AS t
  FROM documents)
SELECT doc_id,
       unnest(list_transform(range(0, len(t), {CHUNK_STRIDE}),
              (st, i) -> struct_pack(
                chunk_no := CAST(i - 1 AS INT),
                chunk := array_to_string(
                  list_slice(t, st + 1, st + {CHUNK_SIZE}), ' '))),
              recursive := true)
FROM s
""",
    doc="Sliding-window document chunking (RAG / context-window prep): "
    f"each doc yields {CHUNK_SIZE}-token chunks at stride "
    f"{CHUNK_STRIDE} (8-token overlap). Implemented as a Python UDTF "
    "(lateral table function, the one-row-to-N-rows UDF shape) and "
    "hash-checked against a pure-SQL oracle — evidence for the UDTF "
    "execution path itself, like the trie-UDF and grouped-map "
    "entries. Chunking is per-row work: the UDTF is narrow (no "
    "shuffle), and at 100 TB the same generator form runs inside the "
    "scan stage. The all-JVM twin is posexplode over a slice "
    "transform (used by the gram matcher); the UDTF form is for "
    "chunkers with real tokenizer logic that SQL can't express.",
)
def docs_chunk_sliding_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_no int, chunk string")
    class ChunkDoc:
        def eval(self, doc_id, text):  # noqa: ANN001
            # a NULL text has no chunks (the oracle's string_split is
            # NULL and unnests to nothing); '' is one empty chunk
            if text is None:
                return
            toks = ws_split_py(text)
            for i, start in enumerate(
                range(0, len(toks), CHUNK_STRIDE)
            ):
                yield (
                    doc_id,
                    i,
                    " ".join(toks[start : start + CHUNK_SIZE]),
                )

    spark.udtf.register("chunk_doc_sliding", ChunkDoc)
    _docs(spark, sf_dir).createOrReplaceTempView("__chunk_docs_src")
    return spark.sql(
        "SELECT c.doc_id, c.chunk_no, c.chunk "
        "FROM __chunk_docs_src AS d, "
        "LATERAL chunk_doc_sliding(d.doc_id, d.text) AS c"
    )


# Per-user z-score, integer-exact formulation shared by the native
# window entry and the applyInPandas twin below. With integer cents
# c = round(value*100), n = count, S = sum(c), SS = sum(c^2):
#   z = (v - mean) / stddev_pop = (c*n - S) / sqrt(n*SS - S^2)
# Everything left of the sqrt is exact int64 arithmetic; sqrt and the
# final division are single correctly-rounded IEEE ops, so both
# engines (and pandas) produce bit-identical doubles — no summation-
# order ulp ties (the failure mode that bit the quality score). The
# score is emitted as floor(z * 1e4) in BIGINT: engines disagree on
# round() for doubles (Spark rounds the exact BigDecimal expansion,
# DuckDB/numpy round the z*1e4 double, half-even), but floor of the
# identical double is truncation — bit-deterministic everywhere.
_ZSCORE_SQL = """
WITH ev AS (
  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
st AS (
  SELECT event_id, c,
         count(*) OVER w AS n,
         sum(c) OVER w AS s,
         sum(c * c) OVER w AS ss
  FROM ev WINDOW w AS (PARTITION BY user_id))
SELECT event_id,
       CASE WHEN n * ss - s * s > 0
            THEN CAST(floor((c * n - s) / sqrt(n * ss - s * s) * 10000)
                      AS BIGINT) END AS z_e4
FROM st
"""


@register(
    "events_user_zscore",
    _ZSCORE_SQL,
    doc="Per-user z-score normalization of event values: one window "
    "shuffle on user_id, no join. The moments are integer-exact "
    "(cents, sum, sum-of-squares) so the score is deterministic to "
    "the bit across engines; constant-valued users get null (zero "
    "variance). At scale this is the standard per-group feature "
    "normalization pass.",
)
def events_user_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    c = F.round(F.col("value") * 100).cast("bigint")
    st = e.select("event_id", "user_id", c.alias("c")).select(
        "event_id",
        "c",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("c").over(w).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("ss"),
    )
    var = F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    z = (F.col("c") * F.col("n") - F.col("s")) / F.sqrt(var)
    return st.select(
        "event_id",
        F.when(var > 0, F.floor(z * 10000).cast("bigint")).alias("z_e4"),
    )


@register(
    "events_user_zscore_grouped_udf",
    _ZSCORE_SQL,
    doc="The SAME z-score computed through GroupedData.applyInPandas "
    "(grouped-map Arrow UDF): each user's rows arrive as one pandas "
    "frame, moments are exact int64 sums, and the hash-check against "
    "the SQL oracle verifies the grouped-map PYTHON path end-to-end "
    "— the same evidence pattern as the trie-UDF skills entry. The "
    "native window twin (events_user_zscore) is the hot-path "
    "formulation; this one exists for operators that genuinely need "
    "per-group imperative logic and documents its exchange cost "
    "(full shuffle of the group payload to Python workers).",
)
def events_user_zscore_grouped_udf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import numpy as np
    import pandas as pd

    def z_per_user(pdf: pd.DataFrame) -> pd.DataFrame:
        c = pdf["c"].to_numpy(dtype="int64")
        n = np.int64(len(c))
        s = c.sum()
        ss = (c * c).sum()
        var = n * ss - s * s
        if var > 0:
            z = np.floor((c * n - s) / np.sqrt(var) * 10000)
            z_e4 = pd.array(z, dtype="Int64")
        else:
            z_e4 = pd.array([None] * len(c), dtype="Int64")
        return pd.DataFrame({"event_id": pdf["event_id"], "z_e4": z_e4})

    e = _events(spark, sf_dir)
    c = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.select("event_id", "user_id", c.alias("c"))
        .groupBy("user_id")
        .applyInPandas(z_per_user, "event_id long, z_e4 long")
    )


@register(
    "events_user_daily_gapfill",
    """
WITH ev AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events),
daily AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         count(*) AS n_events, sum(c) AS day_cents
  FROM ev GROUP BY 1, 2),
b AS (SELECT date_trunc('day', min(ts)) AS d0,
             date_trunc('day', max(ts)) AS d1 FROM ev),
days AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         FROM b),
spine AS (SELECT u.user_id, days.day
          FROM (SELECT DISTINCT user_id FROM ev) u, days)
SELECT s.user_id, s.day,
       CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
       CAST(last_value(d.day_cents IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS locf_day_cents
FROM spine s
LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
""",
    doc="Time-series gap-fill with LOCF (last observation carried "
    "forward): the dense (user x day) spine comes from exploding the "
    "global day range against the distinct-user dim, inactive days "
    "left-join to null and inherit the user's last active day's "
    "cents. The spine IS the output size (unavoidable for gap-fill) "
    "and builds partition-parallel; bounds travel as a broadcast "
    "1-row frame, not a driver collect. Sums are integer cents. One "
    "join + one window, both keyed on user_id.",
)
def events_user_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    c = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"), c.alias("c"))
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("c").alias("day_cents"),
        )
    )
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY")
                )
            ).alias("day"),
        )
    )
    filled = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return filled.select(
        "user_id",
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).cast("bigint").alias("n_events"),
        F.last("day_cents", ignorenulls=True).over(w).alias("locf_day_cents"),
    )


@register(
    "agg_freq_items_contract",
    """
WITH tot AS (SELECT count(*) AS n FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_exact_frequent,
       true AS sketch_covers_exact
FROM (SELECT event_type FROM events
      GROUP BY event_type
      HAVING count(*) >= 0.15 * (SELECT n FROM tot))
""",
    doc="Frequent-items sketch contract: Spark's freqItems "
    "(Karp-Papadimitriou-Shenker single-pass sketch) guarantees every "
    "item above the support threshold appears in its result (with "
    "false positives allowed) — so the oracle-checkable claim is "
    "that the EXACT frequent set (computed relationally) is a subset "
    "of the sketch output, plus the exact set's size. Same contract "
    "shape as the approx-distinct and approx-percentile entries. "
    "ONE lazy plan: Spark 4's df.stat.freqItems compiles to the "
    "collect_frequent_items aggregate expression (lazy — no job at "
    "build time, unlike the eager RDD-aggregate implementation of "
    "Spark 3), and the 1-row sketch result rides into the contract as "
    "a broadcast side. Nothing is collected to Python; the whole "
    "entry is a single job (pinned by test_pipeline_ops).",
)
def agg_freq_items_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    # lazy: compiles to a collect_frequent_items aggregate in the plan
    sketch = e.stat.freqItems(["event_type"], 0.15)
    total = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    exact = total.crossJoin(
        F.broadcast(e.agg(F.count(F.lit(1)).alias("tot")))
    ).filter(F.col("n") >= 0.15 * F.col("tot"))
    return exact.crossJoin(F.broadcast(sketch)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact_frequent"),
        F.every(
            F.array_contains(
                F.col("event_type_freqItems"), F.col("event_type")
            )
        ).alias("sketch_covers_exact"),
    )


@register(
    "events_hourly_daily_rollup",
    """
WITH ev AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM ev GROUP BY 1
""",
    doc="Continuous-aggregate rollup: daily totals are re-aggregated "
    "FROM hourly partials (sum of sums / sum of counts), the "
    "hypertable-rollup pattern where coarse windows never rescan raw "
    "rows. The oracle aggregates raw -> daily directly; equality "
    "holds because count/sum are decomposable. Values sum as integer "
    "cents so double summation order can't flip the hash. Two "
    "partial-agg shuffles (hour, then day), both tiny after map-side "
    "combine.",
)
def events_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    hourly = (
        e.select(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
    )
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour")).alias("day"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


HASHTF_DIM = 16  # one md5 hex nibble -> bucket, engine-portable
RETRIEVAL_TOPK = 5
N_QUERY_DOCS = 5


@register(
    "docs_chunk_hashtf_retrieval",
    f"""
WITH s AS (
  SELECT doc_id,
         {ws_split_sql('text')} AS t
  FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(range(0, len(t), {CHUNK_STRIDE}),
                (st, i) -> struct_pack(
                  chunk_no := CAST(i - 1 AS INT),
                  toks := list_slice(t, st + 1, st + {CHUNK_SIZE}))),
                recursive := true)
  FROM s),
cnt AS (
  SELECT doc_id, chunk_no,
         position(substring(md5(tk), 1, 1) IN '0123456789abcdef') - 1 AS bk,
         count(*) AS c
  FROM (SELECT doc_id, chunk_no, unnest(toks) AS tk FROM chunks)
  GROUP BY ALL),
vec AS (
  SELECT ch.doc_id, ch.chunk_no,
         list(CAST(coalesce(cnt.c, 0) AS DOUBLE) ORDER BY r.i) AS v
  FROM (SELECT DISTINCT doc_id, chunk_no FROM chunks) ch
  CROSS JOIN range(0, {HASHTF_DIM}) r(i)
  LEFT JOIN cnt ON cnt.doc_id = ch.doc_id AND cnt.chunk_no = ch.chunk_no
              AND cnt.bk = r.i
  GROUP BY ch.doc_id, ch.chunk_no),
nvec AS (
  SELECT doc_id, chunk_no,
         list_transform(v, x -> x / nullif(sqrt(list_inner_product(v, v)), 0))
           AS nv
  FROM vec),
q AS (
  SELECT doc_id AS q_doc, nv AS qn FROM nvec
  WHERE chunk_no = 0 AND doc_id < {N_QUERY_DOCS}),
scored AS (
  SELECT q.q_doc, c.doc_id, c.chunk_no,
         round(list_inner_product(q.qn, c.nv), 6) AS cos_sim,
         row_number() OVER (PARTITION BY q.q_doc
           ORDER BY list_inner_product(q.qn, c.nv) DESC,
                    c.doc_id ASC, c.chunk_no ASC) AS rnk
  FROM q CROSS JOIN nvec c
  WHERE c.doc_id <> q.q_doc AND list_inner_product(q.qn, c.nv) IS NOT NULL)
SELECT q_doc, doc_id, chunk_no, cos_sim, rnk
FROM scored WHERE rnk <= {RETRIEVAL_TOPK}
""",
    doc="End-to-end retrieval-index build, composed entirely from "
    "proven pieces and hash-checked as ONE query: sliding-window "
    f"chunking (all-JVM posexplode twin of the UDTF entry) -> hashed "
    f"bag-of-words featurization ({HASHTF_DIM} buckets via one md5 "
    "nibble per token — the feature-hashing trick, engine-portable "
    "like the sampling entries) -> L2 normalization (staged once, "
    "nullif zero-guard) -> brute-force cosine top-"
    f"{RETRIEVAL_TOPK} chunks per query chunk (grouped top-k pruned "
    "map-side, no single-task sort; queries broadcast, corpus never "
    "shuffles). The ANN entries swap the last stage for IVF/LSH at "
    "scale; the featurizer slot is where a real embedding model "
    "plugs in (same schema contract as operators/multimodal.py's "
    "injected decoder).",
)
def docs_chunk_hashtf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        dot,
        l2_norm,
    )
    from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

    d = _docs(spark, sf_dir)
    toks = ws_split(F.col("text"))
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(F.col("t")) - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    chunks = (
        d.select("doc_id", toks.alias("t"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts,
                    lambda st: F.slice(F.col("t"), st + 1, CHUNK_SIZE),
                )
            ).alias("chunk_no", "ctoks"),
        )
    )
    bucket = lambda tk: (  # noqa: E731 - one md5 nibble, 0..15
        F.conv(F.substring(F.md5(tk), 1, 1), 16, 10).cast("int")
    )
    bks = F.transform(F.col("ctoks"), bucket)
    # Single-pass bucket histogram (r13 optimization): the old
    # transform(sequence(0..15), i -> size(filter(bks, b==i)))
    # re-evaluated ``bks`` — one md5 per chunk token — once per
    # bucket (no CSE across lambda boundaries; see
    # topics.hashtf_unit_embeddings for the measured 4x). Counts are
    # identical small-integer doubles, so vectors and hashes are
    # unchanged.
    vec = F.aggregate(
        bks,
        F.array_repeat(F.lit(0.0), HASHTF_DIM),
        lambda acc, b: F.transform(
            acc,
            lambda x, i: x
            + F.when(b == i, F.lit(1.0)).otherwise(F.lit(0.0)),
        ),
    )
    # Stage vectors + norm once (same checkpoint pattern as SemDeDup:
    # the scoring join reads nv per pair, and deriving it beside the
    # norm fold would inline the fold per element).
    base = (
        chunks.select(
            "doc_id",
            "chunk_no",
            vec.alias("v"),
        )
        .withColumn("vnorm", F.nullif(l2_norm(F.col("v")), F.lit(0.0)))
        .localCheckpoint(eager=False)
    )
    nvec = base.select(
        "doc_id",
        "chunk_no",
        F.transform(F.col("v"), lambda x: x / F.col("vnorm")).alias("nv"),
    )
    q = (
        nvec.filter((F.col("chunk_no") == 0) & (F.col("doc_id") < N_QUERY_DOCS))
        .select(F.col("doc_id").alias("q_doc"), F.col("nv").alias("qn"))
    )
    scored = (
        F.broadcast(q)
        .crossJoin(nvec)
        .filter(F.col("doc_id") != F.col("q_doc"))
        .select(
            "q_doc",
            "doc_id",
            "chunk_no",
            dot(F.col("qn"), F.col("nv")).alias("sim"),
        )
        .filter(F.col("sim").isNotNull())
    )
    return grouped_topk(
        scored,
        ["q_doc"],
        [F.desc("sim"), F.asc("doc_id"), F.asc("chunk_no")],
        RETRIEVAL_TOPK,
    ).select(
        "q_doc",
        "doc_id",
        "chunk_no",
        F.round("sim", 6).alias("cos_sim"),
        "rnk",
    )
