"""Event-stream analytics over the ``events`` fixture (SURVEY §2.9,
§2.10): JSON extraction, tumbling windows, sessionization, latest-per-
key dedup. These are the batch formulations; streaming/ runs the same
logic as Structured Streaming with watermarks.

Scale notes: every query here shuffles at most once, on the natural
key (event_type / user_id); sessionization uses one window shuffle on
user_id and arithmetic instead of a self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source adapter: the events parquet stores ``ts`` as
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright
    (PARQUET_TYPE_ILLEGAL). Read nanos as long (legacy conf, runtime-
    settable) and truncate to microseconds — Spark's native timestamp
    precision, matching what any µs consumer (incl. Python datetime on
    the DuckDB oracle side) observes. ``div`` is integer division: a
    double roundtrip would lose precision on 1.7e18-scale nanos."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


@register(
    "events_json_extract",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM ev GROUP BY event_type
""",
    doc="JSON column handling (SURVEY §2.10): get_json_object on "
    "events.props; schema-on-read stays a scan-side projection.",
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@register(
    "events_from_json_typed",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM ev
""",
    doc="from_json with declared schema -> typed struct projection.",
)
def events_from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    schema = T.StructType([T.StructField("k", T.LongType())])
    parsed = F.from_json("props", schema)
    return e.select("event_id", parsed.getField("k").alias("k"))


@register(
    "events_tumbling_hourly",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total_value
FROM ev
GROUP BY 1, 2
""",
    doc="Tumbling 1h window agg (F.window == date_trunc for aligned "
    "tumbling windows); the batch twin of the streaming job.",
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = F.window("ts", "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w").getField("start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@register(
    "events_sessionization",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > 1800000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM ev),
sessions AS (
  SELECT user_id,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, session_id, count(*) AS n_events
FROM sessions GROUP BY user_id, session_id
""",
    doc="Sessionization: lag-gap > 30min -> running sum session ids -> "
    "per-session event counts. One shuffle on user_id, reused by both "
    "window functions and the final agg (same partition key). Gap is "
    "compared at microsecond precision on BOTH sides (unix_micros vs "
    "epoch_us) so a sub-second gap straddling the 30-minute boundary "
    "classifies identically; the running-sum window carries the "
    "event_id tiebreak on both sides for tied timestamps.",
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros only accepts TIMESTAMP (LTZ); the fixture parquet stores
    # timestamp[us] with no timezone, which Spark 4 reads as TIMESTAMP_NTZ.
    # Cast first: no-op for LTZ input, and offset-free under the UTC
    # session timezone for NTZ input. DEPENDENCY: session.py pins
    # spark.sql.session.timeZone=UTC; under a non-UTC session supplied by
    # an external harness, the NTZ->LTZ cast shifts by that zone's offset
    # and a gap straddling a DST transition could classify differently
    # than the DuckDB epoch_us oracle (gaps are offset-invariant except
    # across an offset CHANGE). UTC (fixed offset) closes the edge.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > 30 * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        e.withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "events_asof_purchase_view",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
purchases AS (SELECT * FROM ev WHERE event_type = 'purchase'),
views AS (SELECT * FROM ev WHERE event_type = 'view')
SELECT p.event_id, p.user_id, p.ts,
       (SELECT v.event_id FROM views v
        WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_event_id,
       (SELECT round(v.value, 2) FROM views v
        WHERE v.user_id = p.user_id AND v.ts <= p.ts
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_value
FROM purchases p
""",
    doc="As-of (point-in-time) join: each purchase joined to the "
    "latest at-or-before view of the same user — the attribution "
    "shape. Engine side is operators/asof.asof_join (union + ordered "
    "window: ONE shuffle on user_id, no pair materialization); the "
    "oracle is the correlated argmax subquery. Ties on (user, ts) "
    "break by max event_id on both sides.",
)
def events_asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.asof import asof_join

    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", F.round("value", 2).alias("value")
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        right_cols=["event_id", "value"],
        suffix="_v",
        right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_id_v").alias("view_event_id"),
        F.col("value_v").alias("view_value"),
    )


@register(
    "events_latest_per_user",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
SELECT user_id, event_id, event_type, ts FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM ev)
WHERE rn = 1
""",
    doc="Keyed dedup-to-latest (CDC compaction shape): row_number over "
    "(key, ts desc) = 1.",
)
def events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return grouped_topk(
        e, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1, rank_col="rn"
    ).select("user_id", "event_id", "event_type", "ts")


@register(
    "events_type_value_stats",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
SELECT event_type,
       round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(value) AS avg_v,
       round(stddev_samp(value), 4) AS sd_v,
       count(DISTINCT user_id) AS n_users
FROM ev GROUP BY event_type
""",
    doc="Multi-aggregate profile incl. exact distinct per group.",
)
def events_type_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            / F.count("value")
        ).alias("avg_v"),
        F.round(F.stddev_samp("value"), 4).alias("sd_v"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "events_scd2_user_history",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events),
typed AS (SELECT * FROM ev WHERE event_type = 'signup')
SELECT user_id, event_id, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM typed
""",
    doc="SCD-Type-2 history build (dimension versioning): each change "
    "row gets [valid_from, valid_to) from its successor via lead(); "
    "open-ended current row flagged. One shuffle on the business key; "
    "the standard snapshot-merge pattern without a table format.",
)
def events_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir).filter(F.col("event_type") == "signup")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@register(
    "events_value_histogram",
    """
WITH ev AS (SELECT value FROM events)
SELECT CASE WHEN value < 0.0 THEN 0
            WHEN value >= 100.0 THEN 21
            ELSE CAST(floor(value / 5.0) AS BIGINT) + 1 END AS bucket,
       count(*) AS n,
       round(min(value), 2) AS lo, round(max(value), 2) AS hi
FROM ev GROUP BY bucket
""",
    doc="Equi-width histogram via width_bucket(0,100,20) incl. the "
    "below/above overflow buckets 0 and 21; DuckDB has no "
    "width_bucket, so the oracle mirrors its exact floor arithmetic. "
    "A single partial agg keyed by <=22 buckets.",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    b = F.width_bucket("value", F.lit(0.0), F.lit(100.0), F.lit(20))
    return e.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


# ---------------------------------------------------------------- merge


def merge_upsert(
    base: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Relational MERGE (last-writer-wins upsert): rows in ``updates``
    replace same-key rows in ``base``; new keys are appended. One
    anti-join shuffle on the key + a union — the DataFrame rendering
    of Delta/Iceberg MERGE for environments without a table format.
    At 100 TB prefer a real table format (file-level pruning +
    transactional swap); semantics here are identical.

    Both inputs must share a schema; updates must be key-unique
    (dedupe upstream — this operator does not arbitrate intra-batch
    conflicts)."""
    return base.join(updates, key_cols, "left_anti").unionByName(updates)


@register(
    "events_merge_upsert",
    """
WITH base AS (
  SELECT event_id, round(value, 2) AS value, 'base' AS src
  FROM events WHERE event_id % 3 <> 0),
u AS (
  SELECT event_id, round(value, 2) AS value, 'upd' AS src
  FROM events WHERE event_id % 5 = 0)
SELECT event_id, value, src FROM base
WHERE event_id NOT IN (SELECT event_id FROM u)
UNION ALL
SELECT event_id, value, src FROM u
""",
    doc="MERGE/upsert semantics as anti-join + union (merge_upsert "
    "operator): an update batch replaces matching snapshot keys and "
    "inserts new ones. The src column proves provenance: every "
    "overlapping key must come out tagged 'upd'. Oracle is the "
    "NOT IN + UNION ALL rendering.",
)
def events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    base = e.filter(F.col("event_id") % 3 != 0).select(
        "event_id", F.round("value", 2).alias("value"), F.lit("base").alias("src")
    )
    updates = e.filter(F.col("event_id") % 5 == 0).select(
        "event_id", F.round("value", 2).alias("value"), F.lit("upd").alias("src")
    )
    return merge_upsert(base, updates, ["event_id"])


@register(
    "events_value_ewma",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value FROM events),
framed AS (
  SELECT user_id, event_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS l
  FROM ev)
SELECT user_id, event_id,
       round(list_reduce(list_transform(l, (x, i) -> x * 0.5 ** (len(l) - i)),
                         (a, b) -> a + b)
             / (2.0 - 0.5 ** (len(l) - 1)), 6) AS ewma
FROM framed
""",
    doc="Exponentially-weighted moving average per user (time-series "
    "feature engineering): decay 0.5 over the trailing 8 events, "
    "normalized by the finite-window weight sum. Expressed as ONE "
    "window pass (collect the frame) + per-row higher-order-function "
    "arithmetic — no self-join, no UDF, one shuffle on user_id. "
    "Weights are powers of 0.5 (exact mantissa shifts) and both "
    "engines fold the frame list left-to-right, so the doubles agree "
    "bit-for-bit before rounding.",
)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    framed = e.select(
        "user_id", "event_id", F.collect_list("value").over(w).alias("l")
    )
    n = F.size(F.col("l"))
    weighted = F.transform(
        F.col("l"), lambda x, i: x * F.pow(F.lit(0.5), n - 1 - i)
    )
    num = F.aggregate(weighted, F.lit(0.0), lambda a, b: a + b)
    ewma = F.round(num / (F.lit(2.0) - F.pow(F.lit(0.5), n - 1)), 6)
    return framed.select("user_id", "event_id", ewma.alias("ewma"))


@register(
    "events_value_mad_outliers",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props FROM events)
, med AS (
  SELECT event_type, median(value) AS med
  FROM ev GROUP BY event_type),
mad AS (
  SELECT e.event_type, m.med, median(abs(e.value - m.med)) AS mad
  FROM ev e JOIN med m USING (event_type)
  GROUP BY e.event_type, m.med)
SELECT e.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(m.med, 6) AS med, round(m.mad, 6) AS mad
FROM ev e JOIN mad m USING (event_type)
GROUP BY e.event_type, m.med, m.mad
""",
    doc="Robust outlier detection per event_type: median absolute "
    "deviation with the 1.4826 normal-consistency factor, flagging "
    "|v - median| > 3 sigma-equivalents — the robust alternative to "
    "the z-score entry (one wild value cannot move the MAD the way it "
    "moves a standard deviation). Exact medians on both engines "
    "(interpolation parity already pinned by "
    "events_value_percentiles); outlier counts are integer-exact. "
    "Two grouped passes + one broadcastable per-type stats join — "
    "group-local, no corpus-wide sort.",
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.median(F.abs(F.col("value") - F.col("med"))).alias("mad")
    )
    scored = e.join(F.broadcast(mad), "event_type")
    is_out = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return scored.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(is_out.cast("long")).alias("n_outliers"),
    ).select(
        "event_type",
        "n",
        "n_outliers",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
    )


# Hour index relative to the corpus epoch (2024-01-01 UTC, an exact
# hour boundary, so floor((t-t0)/3600) == hour-boundary counting and
# both engines agree); keeping x small (hundreds) is also what keeps
# the integer moment sums far from overflow at any SF.
_TREND_EPOCH0 = 1704067200


@register(
    "events_value_trend_regression",
    """
WITH ev AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01', CAST(ts AS TIMESTAMP)) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM ev GROUP BY event_type)
SELECT event_type, n,
       CAST(round(1e6 * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)) AS BIGINT)
         AS slope_ppm,
       CAST(round(1e6 * (CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                      / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0)) AS BIGINT)
         AS intercept_ppm
FROM m
""",
    doc="Per-type least-squares trend line (value-cents vs hours since "
    "the corpus epoch) from ONE partial-aggregated pass: the five "
    "moment sums (n, Σx, Σy, Σxy, Σx²) are EXACT integers — cents and "
    "hour indexes, no float accumulation — so the map-side combine is "
    "bit-deterministic under any partitioning, and only the final "
    "closed-form slope/intercept touches doubles (identical one-shot "
    "IEEE expressions on both engines; emitted as ppm integers). The "
    "100 TB regression recipe: moments shuffle as 5 longs per group, "
    "never rows. Keeping x epoch-relative (hundreds, not 1e9 epoch "
    "seconds) keeps Σx² far from int64 overflow at any SF.",
)
def events_value_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    x = F.floor(
        (F.unix_timestamp(F.col("ts")) - F.lit(_TREND_EPOCH0)) / 3600
    ).cast("long")
    y = F.round(F.col("value") * 100).cast("long")
    m = (
        e.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum("y").cast("bigint").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
    )
    nd, sxd, syd = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    # den == 0 (all events of a type in one hour) would be NaN/Inf here
    # but a CAST error in DuckDB — both engines emit NULL instead.
    den = F.nullif(nd * sxxd - sxd * sxd, F.lit(0.0))
    slope = F.round(F.lit(1e6) * (nd * sxyd - sxd * syd) / den).cast("bigint")
    intercept = F.round(
        F.lit(1e6) * (syd * sxxd - sxd * sxyd) / den
    ).cast("bigint")
    return m.select(
        "event_type",
        "n",
        slope.alias("slope_ppm"),
        intercept.alias("intercept_ppm"),
    )


@register(
    "events_value_shape_robust",
    """
WITH oct AS (
  SELECT event_type,
         quantile_cont(value, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS e
  FROM events GROUP BY event_type)
SELECT event_type,
       CAST(round(1e6 * (e[6] + e[2] - 2 * e[4]) / (e[6] - e[2])) AS BIGINT)
         AS bowley_skew_ppm,
       CAST(round(1e6 * ((e[7] - e[5]) + (e[3] - e[1])) / (e[6] - e[2])) AS BIGINT)
         AS moors_kurtosis_ppm
FROM oct
""",
    doc="Robust distribution-shape profile per event type: Bowley "
    "(quartile) skewness and Moors (octile) kurtosis from EXACT "
    "percentiles — the outlier-proof twins of moment skew/kurtosis, "
    "whose raw x^3/x^4 sums both overflow int64 and lose exactness in "
    "doubles (why the moment trick that powers the trend entry stops "
    "at order 2). One percentile agg per group, seven octiles out; "
    "ppm-integer outputs; interpolation parity with quantile_cont is "
    "pinned by events_value_percentiles. The 100 TB swap is "
    "approx_percentile with the same plan shape.",
)
def events_value_shape_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    oct_ = e.groupBy("event_type").agg(
        F.expr(
            "percentile(value, array(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875))"
        ).alias("e")
    )
    q = lambda i: F.col("e")[i - 1]  # noqa: E731 — 1-based like the SQL
    bowley = F.round(
        F.lit(1e6) * (q(6) + q(2) - 2 * q(4)) / (q(6) - q(2))
    ).cast("bigint")
    moors = F.round(
        F.lit(1e6) * ((q(7) - q(5)) + (q(3) - q(1))) / (q(6) - q(2))
    ).cast("bigint")
    return oct_.select(
        "event_type",
        bowley.alias("bowley_skew_ppm"),
        moors.alias("moors_kurtosis_ppm"),
    )


_EQUIDEPTH_BUCKETS = 8


@register(
    "events_value_equidepth_histogram",
    f"""
WITH cut AS (
  SELECT quantile_cont(value, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS c
  FROM events),
b AS (
  SELECT CASE
           WHEN value < c[1] THEN 0 WHEN value < c[2] THEN 1
           WHEN value < c[3] THEN 2 WHEN value < c[4] THEN 3
           WHEN value < c[5] THEN 4 WHEN value < c[6] THEN 5
           WHEN value < c[7] THEN 6 ELSE 7
         END AS bucket,
         value
  FROM events CROSS JOIN cut)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n,
       round(min(value), 2) AS lo,
       round(max(value), 2) AS hi,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_total
FROM b GROUP BY bucket
""",
    doc=f"Equi-depth (equal-frequency) histogram of event values in "
    f"{_EQUIDEPTH_BUCKETS} buckets — the ANALYZE-style statistic an "
    "optimizer or drift monitor wants, built the scalable way: ONE "
    "percentile aggregate produces the 7 cutpoints (a 1-row broadcast), "
    "then ONE bucketing pass with a codegen'd CASE — no global sort, "
    "no window, unlike the ntile formulation (which total-orders the "
    "corpus). Strict-< bucket edges on both engines; counts, rounded "
    "bucket ranges, and an exact cents checksum per bucket. The 100 TB "
    "swap is approx_percentile cutpoints, same two-pass shape.",
)
def events_value_equidepth_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _events(spark, sf_dir)
    probs = [i / _EQUIDEPTH_BUCKETS for i in range(1, _EQUIDEPTH_BUCKETS)]
    cuts = e.agg(
        F.expr(
            f"percentile(value, array({', '.join(str(p) for p in probs)}))"
        ).alias("c")
    )
    v = F.col("value")
    bucket = F.lit(_EQUIDEPTH_BUCKETS - 1)
    for i in range(_EQUIDEPTH_BUCKETS - 2, -1, -1):
        bucket = F.when(v < F.col("c")[i], i).otherwise(bucket)
    return (
        e.crossJoin(F.broadcast(cuts))
        .select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
            F.sum(F.round(v * 100).cast("bigint")).cast("bigint").alias("cents_total"),
        )
    )


@register(
    "events_purchase_cohort_retention",
    """
WITH cohort AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
cells AS (
  SELECT DISTINCT c.cohort_date, c.user_id,
         CAST(floor(date_diff('day', c.cohort_date, a.d) / 7.0) AS INTEGER)
           AS week_offset
  FROM cohort c JOIN activity a USING (user_id)
  WHERE a.d >= c.cohort_date)
SELECT CAST(cohort_date AS VARCHAR) AS cohort_day, week_offset,
       CAST(count(*) AS BIGINT) AS n_active_users,
       CAST(sum(user_id) AS BIGINT) AS user_checksum
FROM cells GROUP BY cohort_date, week_offset
""",
    doc="Cohort retention — the product-analytics staple: users "
    "cohorted by FIRST-PURCHASE day, then counted as retained in each "
    "week-offset where they show ANY activity. Three-shuffle shape, "
    "all on user_id (per-user min, distinct activity days, the "
    "cohort-activity join co-partitions for free), then one cell "
    "dedup + rollup; no window, no self-join over raw events. "
    "user_checksum pins exact per-cell membership. At 100 TB the "
    "cohort frame is users-sized (broadcastable for most products) "
    "and activity compacts to user-days before the join.",
)
def events_purchase_cohort_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = _events(spark, sf_dir)
    cohort = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("cohort_date"))
    )
    activity = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    cells = (
        cohort.join(activity, "user_id")
        .filter(F.col("d") >= F.col("cohort_date"))
        .select(
            "cohort_date",
            "user_id",
            F.floor(F.datediff("d", "cohort_date") / 7.0)
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        cells.groupBy("cohort_date", "week_offset")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_active_users"),
            F.sum("user_id").cast("bigint").alias("user_checksum"),
        )
        # string, not DATE: the driver canonicalizes via pandas, where
        # Spark dates stay `object` but DuckDB dates become
        # datetime64 and stringify with a time suffix (the hazard
        # tools/dtype_audit.py flagged on the DATE-typed draft)
        .select(
            F.date_format("cohort_date", "yyyy-MM-dd").alias("cohort_day"),
            "week_offset",
            "n_active_users",
            "user_checksum",
        )
    )


@register(
    "events_hourly_cusum_shift",
    """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         count(*) AS n
  FROM events GROUP BY event_type, h),
tot AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY event_type),
dev AS (
  SELECT h.event_type, h.h,
         sum(h.n * t.n_hours - t.total) OVER (
           PARTITION BY h.event_type ORDER BY h.h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
  FROM hourly h JOIN tot t USING (event_type))
SELECT event_type,
       CAST(max(abs(cusum)) AS BIGINT) AS max_abs_cusum,
       CAST(min(CASE WHEN abs(cusum) = m THEN epoch(h) END) AS BIGINT)
         AS shift_epoch
FROM (SELECT *, max(abs(cusum)) OVER (PARTITION BY event_type) AS m
      FROM dev)
GROUP BY event_type
""",
    doc="CUSUM change-point detection over hourly event rates — the "
    "drift/shift monitor a pipeline runs on its own telemetry: per "
    "type, the running sum of deviations from the mean rate peaks at "
    "the most likely change point. INTEGER-EXACT throughout: the "
    "deviation is scaled to (n*n_hours - total) so no rational mean "
    "ever touches a float — cusum, its max, and the argmax hour "
    "(earliest on ties, emitted as epoch seconds) are all exact "
    "longs on both engines. Shape: one hourly rollup, a 2-row-ish "
    "broadcast join of per-type totals, ONE ordered window per type "
    "partition — the 100 TB telemetry volume is already crushed to "
    "type x hour before any window runs.",
)
def events_hourly_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = hourly.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (
        hourly.join(F.broadcast(tot), "event_type")
        .withColumn(
            "cusum",
            F.sum(
                F.col("n") * F.col("n_hours") - F.col("total")
            ).over(w),
        )
    )
    m = Window.partitionBy("event_type")
    peaked = dev.withColumn("m", F.max(F.abs(F.col("cusum"))).over(m))
    return peaked.groupBy("event_type").agg(
        F.max(F.abs(F.col("cusum"))).cast("bigint").alias("max_abs_cusum"),
        F.min(
            F.when(
                F.abs(F.col("cusum")) == F.col("m"),
                F.unix_timestamp("h"),
            )
        )
        .cast("bigint")
        .alias("shift_epoch"),
    )


@register(
    "events_user_spend_gini",
    """
WITH spend AS (
  SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, user_id) AS i FROM spend),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(i * cents) AS BIGINT) AS si
  FROM ranked)
SELECT n AS n_users, s AS total_cents,
       CAST(round(1e6 * (2.0 * si - (n + 1.0) * s) / (CAST(n AS DOUBLE) * s))
            AS BIGINT) AS gini_ppm
FROM m
""",
    doc="Gini coefficient of per-user purchase spend — the inequality "
    "/ data-balance audit (same formula audits per-source token "
    "share in a training mixture): G = (2*Σ(i*x_i) - (n+1)*Σx) / "
    "(n*Σx) over ascending-sorted values. INTEGER-EXACT moments: "
    "cents and dense ranks (total order via the user_id tiebreak), "
    "so Σx and Σ(i*x) are exact longs and only the final one-shot "
    "division is floating point (ppm output). Shape: per-user agg, "
    "then the global rank comes from the TWO-STAGE PARALLEL PREFIX "
    "(operators/prefix.py: range-partition + per-partition local "
    "row numbers + broadcast per-partition offsets) — no "
    "unpartitioned window ever sees the users-sized frame — then a "
    "1-row moment agg.",
)
def events_user_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    e = _events(spark, sf_dir)
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = global_prefix(
        spend, [F.asc("cents"), F.asc("user_id")], row_number_col="i"
    ).select("cents", "i")
    m = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("si"),
    )
    nd = F.col("n").cast("double")
    gini = F.round(
        F.lit(1e6)
        * (2.0 * F.col("si") - (F.col("n") + 1.0) * F.col("s"))
        / (nd * F.col("s"))
    ).cast("bigint")
    return m.select(
        F.col("n").alias("n_users"),
        F.col("s").alias("total_cents"),
        gini.alias("gini_ppm"),
    )


@register(
    "events_value_ks_drift",
    """
WITH h AS (
  SELECT value,
         sum(CASE WHEN event_id % 10 < 8 THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN event_id % 10 >= 8 THEN 1 ELSE 0 END) AS cb
  FROM events WHERE value IS NOT NULL GROUP BY value),
n AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb FROM h),
c AS (
  SELECT CAST(sum(ca) OVER (ORDER BY value) AS BIGINT) AS cum_a,
         CAST(sum(cb) OVER (ORDER BY value) AS BIGINT) AS cum_b
  FROM h),
m AS (SELECT max(abs(cum_a * (SELECT nb FROM n)
                   - cum_b * (SELECT na FROM n))) AS mx FROM c)
SELECT na AS n_a, nb AS n_b,
       CAST(CAST((SELECT mx FROM m) AS HUGEINT) * 1000000
            // (CAST(na AS HUGEINT) * nb) AS BIGINT)
         AS ks_ppm
FROM n
""",
    doc="Two-sample Kolmogorov-Smirnov drift statistic between the "
    "baseline slice (event_id%10<8) and the arriving slice, over "
    "event values: D = max |F_a(x) - F_b(x)| across the merged "
    "empirical CDFs. The whole computation is INTEGER-EXACT — the "
    "max runs over |cum_a*n_b - cum_b*n_a| (cross-multiplied counts, "
    "no float CDFs), and ks_ppm = that max scaled by 1e6 in "
    "DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) and integer-divided by "
    "n_a*n_b — the 128-bit scaling step means the int64 bound is set "
    "by the cross-products alone: cum_a*n_b <= n_a*n_b <= 9.2e18, "
    "safe to ~3e9 rows per balanced slice (ADVICE r7: the previous "
    "all-int64 formulation silently wrapped at mx*1e6 > 9.2e18, "
    "~3e6 rows). One combiner-friendly per-value histogram groupBy, "
    "then the CDFs come from the TWO-STAGE PARALLEL PREFIX "
    "(operators/prefix.py — no unpartitioned window over the "
    "histogram), the slice totals fold back in via broadcast "
    "crossJoins (no mid-plan collect — the histogram materializes "
    "once and the events scan never re-runs), and a 1-row max.",
)
def events_value_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    in_a = (F.col("event_id") % 10 < 8).cast("long")
    h = e.groupBy("value").agg(
        F.sum(in_a).alias("ca"),
        F.sum(1 - in_a).alias("cb"),
    )
    pref = global_prefix(
        h, [F.asc("value")], sums={"cum_a": "ca", "cum_b": "cb"}
    )
    # totals from the prefixed (checkpointed) frame — never from h,
    # whose lineage would re-scan events
    n_df = pref.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    mx_df = (
        pref.crossJoin(F.broadcast(n_df))
        .agg(
            F.max(
                F.abs(
                    F.col("cum_a") * F.col("nb")
                    - F.col("cum_b") * F.col("na")
                )
            ).alias("mx")
        )
    )
    return (
        n_df.crossJoin(F.broadcast(mx_df))
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.expr(
                "CAST(CAST(mx AS DECIMAL(38,0)) * 1000000"
                " div (CAST(na AS DECIMAL(19,0)) * nb) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


@register(
    "events_time_weighted_value",
    """
WITH seq AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(ts) // 1000 AS ms,
         lead(epoch_us(ts) // 1000) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS nxt_ms
  FROM events),
iv AS (
  SELECT user_id, cents, nxt_ms - ms AS dur_ms
  FROM seq WHERE nxt_ms IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(dur_ms) AS BIGINT) AS total_ms,
       CAST(sum(cents * dur_ms) AS BIGINT) AS weighted_cents_ms,
       CAST(CASE WHEN sum(dur_ms) > 0
                 THEN sum(cents * dur_ms) // sum(dur_ms) END
            AS BIGINT) AS twap_cents
FROM iv GROUP BY user_id
""",
    doc="Time-weighted average value per user over IRREGULARLY spaced "
    "events (the TWAP/metering statistic uniform averages get wrong): "
    "each value holds until the user's next event, so it is weighted "
    "by that interval; the final open-ended event carries no weight. "
    "INTEGER-EXACT: cents x exact epoch-millisecond durations "
    "(epoch_us // 1000 on both engines — no double epochs), integer "
    "division for the TWAP, NULL for users whose events all share one "
    "timestamp. One window partitioned by user (parallel across "
    "users, no global sort) + one groupBy. int64 bound: "
    "sum(cents x dur_ms) per user overflows around 9e18 — ~1e6 "
    "intervals of $1k values spanning years each; for wider spans "
    "drop to dur_s or per-user DECIMAL accumulation.",
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    # unix_micros only accepts TIMESTAMP (LTZ); the NTZ fixture column
    # is cast first — durations are offset-invariant, same idiom (and
    # caveat) as events_sessionization's gap computation above.
    ms = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ms.alias("ms"),
        F.lead(ms).over(w).alias("nxt_ms"),
    )
    iv = seq.filter(F.col("nxt_ms").isNotNull()).select(
        "user_id", "cents", (F.col("nxt_ms") - F.col("ms")).alias("dur_ms")
    )
    return (
        iv.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
            F.sum("dur_ms").cast("bigint").alias("total_ms"),
            F.sum(F.col("cents") * F.col("dur_ms"))
            .cast("bigint")
            .alias("weighted_cents_ms"),
        )
        .select(
            "user_id",
            "n_intervals",
            "total_ms",
            "weighted_cents_ms",
            F.expr(
                "CAST(CASE WHEN total_ms > 0 THEN"
                " weighted_cents_ms div total_ms END AS BIGINT)"
            ).alias("twap_cents"),
        )
    )


@register(
    "events_value_winsorized_stats",
    """
WITH c AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL),
hist AS (SELECT event_type, cents, count(*) AS k
         FROM c GROUP BY event_type, cents),
tot AS (SELECT event_type, CAST(sum(k) AS BIGINT) AS n
        FROM hist GROUP BY event_type),
cum AS (
  SELECT event_type, cents,
         sum(k) OVER (PARTITION BY event_type ORDER BY cents) AS cm
  FROM hist),
edges AS (
  SELECT cum.event_type,
         min(CASE WHEN cm >= (5 * n + 99) // 100 THEN cents END) AS lo,
         min(CASE WHEN cm >= (95 * n + 99) // 100 THEN cents END) AS hi
  FROM cum JOIN tot ON cum.event_type = tot.event_type
  GROUP BY cum.event_type)
SELECT c.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN c.cents < e.lo THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_low,
       CAST(sum(CASE WHEN c.cents > e.hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped_high,
       CAST(sum(least(greatest(c.cents, e.lo), e.hi)) AS BIGINT)
         AS win_cents_sum
FROM c JOIN edges e ON c.event_type = e.event_type
GROUP BY c.event_type
""",
    doc="Per-type winsorized statistics (the robust-preprocessing "
    "move before any mean-based feature): values are clamped to "
    "rank-exact per-type p5/p95 cutoffs and the clipped counts are "
    "emitted alongside the winsorized sum. INTEGER-EXACT end to end — "
    "cents histogram, cutoffs via the ceil(q*N) rank rule on a "
    "PER-TYPE partitioned prefix sum (parallel across types, no "
    "global window, no driver collect: edges stay distributed and "
    "join back as a k-row broadcast), integer clamp and sums. The "
    "same rank-edge machinery as the PSI/grid entries, here with "
    "grouped parallelism.",
)
def events_value_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    e = _events(spark, sf_dir).filter(F.col("value").isNotNull())
    c = e.select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    hist = c.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("k")
    )
    tot = hist.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "event_type", "cents", F.sum("k").over(w).alias("cm")
    ).join(tot, on="event_type")
    lo_thr = F.expr("(5 * n + 99) div 100")
    hi_thr = F.expr("(95 * n + 99) div 100")
    edges = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cm") >= lo_thr, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cm") >= hi_thr, F.col("cents"))).alias("hi"),
    )
    clamped = F.least(
        F.greatest(F.col("cents"), F.col("lo")), F.col("hi")
    )
    return (
        c.join(F.broadcast(edges), on="event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum((F.col("cents") < F.col("lo")).cast("long"))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum((F.col("cents") > F.col("hi")).cast("long"))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.sum(clamped).cast("bigint").alias("win_cents_sum"),
        )
    )


@register(
    "events_user_lorenz_curve",
    """
WITH spend AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
ranked AS (
  SELECT cents, row_number() OVER (ORDER BY cents, user_id) AS i
  FROM spend),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s FROM ranked),
cum AS (SELECT i, CAST(sum(cents) OVER (ORDER BY i) AS BIGINT) AS c
        FROM ranked)
SELECT CAST(k AS BIGINT) AS decile,
       CAST(k * (SELECT n FROM tot) // 10 AS BIGINT) AS n_bottom,
       CAST(coalesce(
              (SELECT max(c) FROM cum
               WHERE i * 10 <= k * (SELECT n FROM tot)), 0)
            * 1000000 // (SELECT s FROM tot) AS BIGINT) AS spend_ppm
FROM range(1, 11) r(k)
""",
    doc="Lorenz curve of per-user purchase spend, one point per "
    "decile: the ppm share of TOTAL spend held by the bottom "
    "floor(k*n/10) users — the curve whose area complement is "
    "events_user_spend_gini (same frame, same cents/rank machinery; "
    "the two cross-check each other). Ranks and running spend come "
    "from the two-stage parallel prefix (operators/prefix.py), the "
    "(n, total) moments fold in via a broadcast crossJoin over the "
    "prefixed frame (no collects, users-sized frame scanned once). "
    "Decile coverage is read off ARITHMETICALLY: cents are "
    "non-negative, so the running sum c is non-decreasing in i and "
    "max(c : i <= floor(k*n/10)) is exactly c AT the threshold row "
    "i = floor(k*n/10); the 10-row threshold frame broadcasts into a "
    "hash EQUI-join against the prefixed frame (one pass) and the "
    "<=10 hits broadcast back onto the decile frame — only 1-row / "
    "10-row frames ever sit on a broadcast build side (ADVICE r8: "
    "the previous i*10 <= k*n non-equi left join forced a "
    "BroadcastNestedLoopJoin building the users-sized right). "
    "INTEGER-EXACT ppm.",
)
def events_user_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.prefix import (
        global_prefix,
    )

    e = _events(spark, sf_dir)
    spend = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("bigint")
            .alias("cents")
        )
    )
    pref = global_prefix(
        spend,
        [F.asc("cents"), F.asc("user_id")],
        sums={"c": "cents"},
        row_number_col="i",
    ).select("i", "c")
    tot = pref.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("c").cast("bigint").alias("s"),  # cents >= 0: max cum = total
    )
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("decile"))
    target = ks.crossJoin(F.broadcast(tot)).select(
        "decile", "s", F.expr("decile * n div 10").alias("n_bottom")
    )
    # cents >= 0 -> c non-decreasing in i, so the decile's max running
    # sum is c at the threshold row i = floor(k*n/10) itself: broadcast
    # the 10-row threshold frame into a hash equi-join against pref
    # (one pass, no condition-bearing nested-loop join anywhere), then
    # fold the <=10 hits back onto the full decile frame.
    hits = pref.join(
        F.broadcast(target.select("decile", "n_bottom")),
        pref["i"] == F.col("n_bottom"),
        "inner",
    ).select("decile", "c")
    cov = target.join(F.broadcast(hits), "decile", "left")
    return cov.select(
        "decile",
        F.col("n_bottom").cast("bigint").alias("n_bottom"),
        F.expr(
            "CAST(coalesce(c, 0) * 1000000L div s AS BIGINT)"
        ).alias("spend_ppm"),
    )
