"""Traffic seasonality detection over ``events``
(analytics extension, SURVEY §2.10/§2.20).

Autocorrelation of the hourly event-volume series at business-relevant
lags (1 h, 24 h, 168 h): the number an anomaly monitor reads to learn
a corpus's rhythm before alerting on deviations from it. The fixture's
per-user daily pattern makes the 24-hour lag the signal.

Determinism device — EXACT INTEGER MOMENTS: the series values are
per-hour COUNTS, so every term of Pearson's r over the lag-aligned
pairs (n, Σx, Σy, Σxy, Σx², Σy²) is an exact BIGINT sum —
summation-order-independent under any partitioning — and r is ONE
closed-form double expression over those six integers, identical in
both engines (then ppm-quantized). No per-row doubles ever cross an
aggregation boundary; the PSI/anomaly quantize-then-sum rule taken to
its cleanest case.

Scale shape: one groupBy to the hour grain (the series is
time-bounded — years of hours fit anywhere), a 1-row-per-lag
self-join on hour+lag over the TINY series table, and one aggregate
per lag. The heavy work is the single event-scale hour rollup;
everything after is series-scale. Hours with zero events are absent
from the series on both engines (inner join semantics over observed
hours — documented: for sparse series, densify via sequence() first).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet

_LAGS = (1, 24, 168)


def _lag_sql(lag: int) -> str:
    return f"""
SELECT CAST({lag} AS BIGINT) AS lag_hours,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(round(
         (count(*) * sum(a.c * b.c) - sum(a.c) * sum(b.c))
         / sqrt(count(*) * sum(a.c * a.c) - sum(a.c) * sum(a.c))
         / sqrt(count(*) * sum(b.c * b.c) - sum(b.c) * sum(b.c))
         * 1e6) AS BIGINT) AS autocorr_ppm
FROM hourly a JOIN hourly b ON b.h = a.h + {lag}"""


_SEASONALITY_ORACLE = f"""
WITH hourly AS (
  SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) // 3600
         AS BIGINT) AS h,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1)
{" UNION ALL ".join(_lag_sql(lag) for lag in _LAGS)}
"""


@register(
    "events_hourly_autocorrelation",
    _SEASONALITY_ORACLE,
    doc="Seasonality detection: Pearson autocorrelation of the hourly "
    "event-volume series at lags 1/24/168 hours. Every moment "
    "(n, Sx, Sy, Sxy, Sxx, Syy) is an exact BIGINT sum over integer "
    "counts — order-independent by construction — and r is one "
    "closed-form double over the six integers, ppm-quantized. One "
    "event-scale hour rollup; the lag self-joins run on the tiny "
    "series table.",
)
def events_hourly_autocorrelation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    hourly = (
        ev.groupBy(
            F.floor(
                F.date_trunc("hour", "ts").cast("double") / 3600.0
            )
            .cast("bigint")
            .alias("h")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)  # one series, |lags| consumers
    )
    out = []
    for lag in _LAGS:
        a = hourly.alias("a")
        b = hourly.alias("b")
        joined = a.join(b, F.col("b.h") == F.col("a.h") + lag).select(
            F.col("a.c").alias("x"), F.col("b.c").alias("y")
        )
        agg = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        # try_divide: a zero-variance side (flat series) yields NULL on
        # both engines (DuckDB's x/0 is NULL; ANSI Spark would THROW —
        # found by the hypothesis differential, not the fixtures)
        r = F.try_divide(
            F.try_divide(
                F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"),
                F.sqrt(
                    F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
                ),
            ),
            F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")),
        )
        out.append(
            agg.select(
                F.lit(lag).cast("bigint").alias("lag_hours"),
                F.col("n").cast("bigint").alias("n_pairs"),
                F.round(r * 1e6, 0).cast("bigint").alias("autocorr_ppm"),
            )
        )
    return reduce(DataFrame.unionAll, out)


# --- hopping (sliding) window aggregation -------------------------------

_HOP_SIZE_H, _HOP_SLIDE_H = 2, 1

_HOPPING_ORACLE = f"""
WITH ev AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id FROM events),
w AS (
  SELECT date_trunc('hour', ts) - j.j * INTERVAL 1 HOUR AS w_start,
         ts, user_id
  FROM ev, range(0, {_HOP_SIZE_H // _HOP_SLIDE_H}) j(j))
SELECT w_start,
       w_start + INTERVAL {_HOP_SIZE_H} HOUR AS w_end,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM w GROUP BY w_start
"""


@register(
    "events_hopping_window_volume",
    _HOPPING_ORACLE,
    doc="Hopping (sliding) window aggregation — the overlapping-window "
    "operator the tumbling entries don't cover: 2-hour windows every "
    "1 hour via F.window(ts, '2 hours', '1 hour'), each event "
    "contributing to size/slide = 2 windows. Spark's epoch-aligned "
    "window starts coincide with hour truncation at this slide, so "
    "the oracle enumerates the j in [0, size/slide) window starts "
    "per event explicitly — the same explode-by-constant shape the "
    "engine executes. Counts and distinct users are exact integers.",
)
def events_hopping_window_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    return (
        ev.groupBy(
            F.window("ts", f"{_HOP_SIZE_H} hours", f"{_HOP_SLIDE_H} hour")
            .alias("w")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "n_events",
            "n_users",
        )
    )
