"""Multi-touch purchase attribution over ``events``
(analytics extension, SURVEY §2.10/§2.20).

The as-of join (events_asof_purchase_view, queries/events.py) is
LAST-touch attribution: all credit to the latest view. Real marketing
attribution splits the credit across EVERY qualifying touch — here,
each of a user's views in the 24 hours before a purchase gets

  linear credit  = 1 / n_touches                 (position-blind)
  decay credit   = w / sum(w), w = exp(-age/tau) (recent touches win)

with tau = 6 h. Determinism device (the graphrank/anomaly rule): each
raw decay weight quantizes to a ppm BIGINT before the per-purchase
normalization, so the denominator is an EXACT integer sum —
summation-order-independent under any partitioning — and the final
credit is one IEEE division of exact integers, identical in both
engines. Ages use microsecond-exact timestamp arithmetic
(timestamp→double, the interval-join lesson: unix_timestamp's
second-floor drifts vs DuckDB's fractional epoch()).

Scale shape: a user-keyed equi-join (purchases × views per user) with
the 24 h range predicate re-checked after the join — the same keyed
interval shape as events_interval_containment_join; at production
fan-outs the identical bucket decomposition drops in (the window here
is purchase-anchored, so the probe side buckets and the purchase side
explodes). One window per purchase group for the normalization sums,
over groups bounded by per-user daily activity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet

_LOOKBACK_H = 24
_TAU_S = 6 * 3600.0

_ATTRIBUTION_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
touch AS (
  SELECT p.event_id AS purchase_id, v.event_id AS view_id,
         CAST(round(exp(-(epoch(p.ts) - epoch(v.ts)) / {_TAU_S})
                    * 1e6) AS BIGINT) AS w_ppm
  FROM ev p JOIN ev v
    ON v.user_id = p.user_id
   AND v.ts < p.ts
   AND v.ts >= p.ts - INTERVAL {_LOOKBACK_H} HOUR
  WHERE p.event_type = 'purchase' AND v.event_type = 'view')
SELECT purchase_id, view_id,
       CAST(round(1e6 / count(*) OVER (PARTITION BY purchase_id))
         AS BIGINT) AS linear_credit_ppm,
       CAST(round(w_ppm * 1e6
                  / sum(w_ppm) OVER (PARTITION BY purchase_id))
         AS BIGINT) AS decay_credit_ppm
FROM touch
"""


@register(
    "events_multitouch_attribution",
    _ATTRIBUTION_ORACLE,
    doc="Multi-touch attribution: every view in the 24h before a "
    "purchase shares the credit — linear (1/n) and exponential "
    "time-decay (tau=6h, recent touches win), the complement of the "
    "as-of join's last-touch rule. Decay weights quantize to ppm "
    "BIGINTs BEFORE the per-purchase normalization (exact integer "
    "denominator, summation-order-independent); user-keyed equi-join "
    "+ range re-check, same shape as the interval-containment join "
    "(whose bucket decomposition drops in at production fan-outs).",
)
def events_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    ).localCheckpoint(eager=False)  # both join sides read it
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("vu"),
        F.col("ts").alias("vts"),
    )
    age_s = F.col("pts").cast("double") - F.col("vts").cast("double")
    touch = (
        p.join(v, F.col("vu") == F.col("pu"))
        .filter(
            (F.col("vts") < F.col("pts"))
            & (
                F.col("vts")
                >= F.col("pts") - F.expr(f"INTERVAL {_LOOKBACK_H} HOURS")
            )
        )
        .select(
            "purchase_id",
            "view_id",
            # LIBM-PARITY ASSUMPTION (ADVICE r11 #2, shared with the
            # Markov anomaly scorer): round(exp(..)*1e6) quantizes a
            # TRANSCENDENTAL to the ppm grid. JVM and DuckDB libm are
            # not correctly-rounded, so a 1-ulp divergence adjacent to
            # a .5-ppm boundary COULD flip the oracle hash; the
            # quantize-then-sum device only fixes summation order, not
            # this. If a boundary-adjacent fixture ever reds out here,
            # diagnose as quantization-tie noise first, not logic.
            F.round(F.exp(-age_s / _TAU_S) * 1e6, 0)
            .cast("bigint")
            .alias("w_ppm"),
        )
    )
    per_p = Window.partitionBy("purchase_id")
    return touch.select(
        "purchase_id",
        "view_id",
        F.round(1e6 / F.count(F.lit(1)).over(per_p), 0)
        .cast("bigint")
        .alias("linear_credit_ppm"),
        F.round(F.col("w_ppm") * 1e6 / F.sum("w_ppm").over(per_p), 0)
        .cast("bigint")
        .alias("decay_credit_ppm"),
    )


# --- streaming twin: arriving purchases vs the frozen view store -------

_STREAM_MOD, _STREAM_GE = 10, 8  # arriving purchases: event_id % 10 >= 8

_ATTRIBUTION_STREAM_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
touch AS (
  SELECT p.event_id AS purchase_id, v.event_id AS view_id,
         CAST(round(exp(-(epoch(p.ts) - epoch(v.ts)) / {_TAU_S})
                    * 1e6) AS BIGINT) AS w_ppm
  FROM ev p JOIN ev v
    ON v.user_id = p.user_id
   AND v.ts < p.ts
   AND v.ts >= p.ts - INTERVAL {_LOOKBACK_H} HOUR
  WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    AND p.event_id % {_STREAM_MOD} >= {_STREAM_GE})
SELECT purchase_id, view_id,
       CAST(round(1e6 / count(*) OVER (PARTITION BY purchase_id))
         AS BIGINT) AS linear_credit_ppm,
       CAST(round(w_ppm * 1e6
                  / sum(w_ppm) OVER (PARTITION BY purchase_id))
         AS BIGINT) AS decay_credit_ppm
FROM touch
"""


def _stage_purchase_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    import os

    from dataengineer_job_scraper_etl_spark.staging import (
        stage_once,
        write_ordered_batches,
    )

    src = os.path.join(sf_dir, "events.parquet")

    def build(staged: str) -> None:
        d = (
            read_parquet(spark, src)
            .filter(
                (F.col("event_type") == "purchase")
                & (F.col("event_id") % _STREAM_MOD >= _STREAM_GE)
            )
            .select("event_id", "ts", "user_id", "event_type", "value",
                    "props")
        )
        write_ordered_batches(
            staged,
            [d.filter(F.col("event_id") % 2 == 0),
             d.filter(F.col("event_id") % 2 == 1)],
        )

    return stage_once(src, "attrstream", build)


@register(
    "streaming_multitouch_attribution",
    _ATTRIBUTION_STREAM_ORACLE,
    doc="Multi-touch attribution ALWAYS-ON: arriving purchases "
    "stream-static join the FROZEN view store (the production shape — "
    "the view warehouse is built by the batch layer, purchases "
    "arrive), the 24h range re-checks in-stream, and the ppm decay "
    "weight computes per touch inside the streamed plan (stateless "
    "append); the per-purchase normalization runs post-drain on the "
    "batch-proportional fact set, exactly the batch entry's window. "
    "Oracle: the batch attribution SQL restricted to the arriving "
    "purchase slice.",
)
def streaming_multitouch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _drain,
    )

    views = (
        read_parquet(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("vu"),
            F.col("ts").cast("timestamp").alias("vts"),
        )
        .localCheckpoint(eager=False)
    )
    d = _stage_purchase_stream_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
            " value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    age_s = F.col("ts").cast("double") - F.col("vts").cast("double")
    facts = (
        stream.join(F.broadcast(views), stream["user_id"] == views["vu"])
        .filter(
            (F.col("vts") < F.col("ts"))
            & (
                F.col("vts")
                >= F.col("ts") - F.expr(f"INTERVAL {_LOOKBACK_H} HOURS")
            )
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "view_id",
            F.round(F.exp(-age_s / _TAU_S) * 1e6, 0)
            .cast("bigint")
            .alias("w_ppm"),
        )
    )
    drained = _drain(facts, spark, output_mode="append")
    per_p = Window.partitionBy("purchase_id")
    return drained.select(
        "purchase_id",
        "view_id",
        F.round(1e6 / F.count(F.lit(1)).over(per_p), 0)
        .cast("bigint")
        .alias("linear_credit_ppm"),
        F.round(F.col("w_ppm") * 1e6 / F.sum("w_ppm").over(per_p), 0)
        .cast("bigint")
        .alias("decay_credit_ppm"),
    )
