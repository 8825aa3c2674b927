"""Interval-containment join via bucket decomposition over ``events``
(analytics extension, SURVEY §2.10/§2.19).

The missing named join: match point events to CONTAINING time
intervals (session attribution, maintenance windows, promo windows).
Spark has no native interval join. Two failure shapes, one fix:
UNKEYED interval sets (global windows) leave
``a.join(b, (b.ts > a.start) & (b.ts < a.end))`` with no equi-key at
all, so Catalyst plans BroadcastNestedLoopJoin — a scale-killer once
the interval side outgrows broadcast; KEYED sets (this instance:
per-user windows) do equi-join on the key, but every probe meets
EVERY interval of its key before the range filter — measured at
sf0.1: 538,966 candidate pairs for a 4,487-row result (one window
per user-day x 30 days = ~120x fan-out). The fix for both is BUCKET
DECOMPOSITION: explode each interval into the fixed-width time
buckets it covers (bounded fan-out = ceil(len/width)+1 rows), map
each probe to its single bucket, equi-join on (key, bucket), then
re-check the exact range predicate. The time dimension joins the
equi-key, so only temporally-plausible pairs materialize — measured:
13,013 candidates, a 41x reduction, same result set — and for
unkeyed sets the bucket IS the equi-key that prevents the nested
loop. A probe matches each interval at most once (its one bucket
appears once per interval), so no dedup pass is needed.

Fixture instance: per (user, day), the "opening window" is the 6
hours after the user's first event of the day; probes are that
user's purchase events strictly inside the window (the defining
first event is excluded by the strict lower bound). Bucket width
1 hour -> each interval explodes to <= 7 rows. Timestamp handling
follows the catalog convention (events.py:_events): the fixture's
NTZ timestamps are cast once, offset-free under the UTC session
session.py pins — the same documented dependency every
date_trunc-bearing events entry carries. The bucket arithmetic
itself is TZ-robust to any FIXED offset (intervals and probes shift
together), and the exact range re-check compares raw timestamps. The ORACLE is the
direct range join in DuckDB — the engines must agree on the result
SET, while the bucketing stays a Spark-side physical strategy (plan
test pins: no BNLJ, no CartesianProduct; the join is an equi-join
on the bucket key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet

WINDOW_MINUTES = 360  # the 6-hour opening window
BUCKET_SECONDS = 3600  # 1-hour buckets: <= 7 buckets per interval

_INTERVAL_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
win AS (
  SELECT user_id, min(ts) AS w_start,
         min(ts) + INTERVAL {WINDOW_MINUTES} MINUTE AS w_end
  FROM ev GROUP BY user_id, date_trunc('day', ts))
SELECT p.event_id, p.user_id, p.ts, w.w_start
FROM ev p JOIN win w
  ON w.user_id = p.user_id
 AND p.ts > w.w_start AND p.ts < w.w_end
WHERE p.event_type = 'purchase'
"""


@register(
    "events_interval_containment_join",
    _INTERVAL_ORACLE,
    doc="Interval-containment join (point events -> containing time "
    "window) via bucket decomposition: intervals (per-user-day 6-hour "
    "opening windows) explode into <= 7 one-hour buckets, purchases "
    "map to their single bucket, and the range predicate re-checks "
    "after a hash equi-join on (user_id, bucket). Adding the time "
    "dimension to the join key cuts the candidate fan-out 41x at "
    "sf0.1 (538,966 -> 13,013 pairs for the same 4,487-row result), "
    "and for UNKEYED interval sets the bucket is the equi-key that "
    "prevents the BroadcastNestedLoopJoin outright. The oracle is "
    "the DIRECT range join (DuckDB), so the bucketing is pinned as "
    "pure physical strategy: same set, different plan; a probe "
    "matches each interval at most once (one bucket per probe), so "
    "no dedup pass exists to hide double-matches.",
)
def events_interval_containment_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    win = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__day"))
        .agg(F.min("ts").alias("w_start"))
        .select(
            "user_id",
            "w_start",
            (F.col("w_start") + F.expr(f"INTERVAL {WINDOW_MINUTES} MINUTES"))
            .alias("w_end"),
        )
    )
    # bucket decomposition: every bucket the interval touches
    start_b = F.floor(F.unix_timestamp("w_start") / BUCKET_SECONDS)
    end_b = F.floor(F.unix_timestamp("w_end") / BUCKET_SECONDS)
    wexp = win.select(
        "user_id",
        "w_start",
        "w_end",
        F.explode(F.sequence(start_b, end_b)).alias("bucket"),
    )
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / BUCKET_SECONDS).alias("bucket"),
    )
    return (
        probe.join(wexp, ["user_id", "bucket"])
        .filter((F.col("ts") > F.col("w_start")) & (F.col("ts") < F.col("w_end")))
        .select("event_id", "user_id", "ts", "w_start")
    )


# --- streaming twin: stream-static bucket equi-join -------------------

_STREAM_PROBE_MOD, _STREAM_PROBE_GE = 10, 8  # arriving purchases

_INTERVAL_STREAM_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
win AS (
  SELECT user_id, min(ts) AS w_start,
         min(ts) + INTERVAL {WINDOW_MINUTES} MINUTE AS w_end
  FROM ev GROUP BY user_id, date_trunc('day', ts))
SELECT p.event_id, p.user_id, p.ts, w.w_start
FROM ev p JOIN win w
  ON w.user_id = p.user_id
 AND p.ts > w.w_start AND p.ts < w.w_end
WHERE p.event_type = 'purchase'
  AND p.event_id % {_STREAM_PROBE_MOD} >= {_STREAM_PROBE_GE}
"""


def _stage_interval_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """A 2-file queue of ARRIVING purchase events (event_id % 10 >= 8,
    split even/odd). Shared staging protocol (staging.py)."""
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
                & (F.col("event_id") % _STREAM_PROBE_MOD >= _STREAM_PROBE_GE)
            )
            .select("event_id", "ts", "user_id", "event_type", "value", "props")
        )
        write_ordered_batches(
            staged,
            [d.filter(F.col("event_id") % 2 == 0),
             d.filter(F.col("event_id") % 2 == 1)],
        )

    return stage_once(src, "ivstream", build)


@register(
    "streaming_interval_containment_join",
    _INTERVAL_STREAM_ORACLE,
    doc="The interval-containment join ALWAYS-ON: arriving purchases "
    "are attributed to their containing opening window per "
    "micro-batch via the SAME bucket decomposition — probe maps to "
    "its one bucket inside the streamed plan, stream-static hash "
    "equi-join against the frozen exploded-window table (broadcast "
    "here; bucket-bucketed at scale), exact range re-check, STATELESS "
    "append into the memory sink. The frozen window table is the "
    "production shape (attribution windows are built by the batch "
    "layer and served to the stream); the oracle is the direct range "
    "join restricted to the arriving slice.",
)
def streaming_interval_containment_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    win = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__day"))
        .agg(F.min("ts").alias("w_start"))
        .select(
            "user_id",
            "w_start",
            (F.col("w_start") + F.expr(f"INTERVAL {WINDOW_MINUTES} MINUTES"))
            .alias("w_end"),
        )
    )
    start_b = F.floor(F.unix_timestamp("w_start") / BUCKET_SECONDS)
    end_b = F.floor(F.unix_timestamp("w_end") / BUCKET_SECONDS)
    wexp = win.select(
        "user_id",
        "w_start",
        "w_end",
        F.explode(F.sequence(start_b, end_b)).alias("bucket"),
    ).localCheckpoint(eager=False)

    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _drain,
    )

    d = _stage_interval_stream_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
            " value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    probe = stream.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.unix_timestamp("ts") / BUCKET_SECONDS).alias("bucket"),
    )
    joined = (
        probe.join(F.broadcast(wexp), ["user_id", "bucket"])
        .filter(
            (F.col("ts") > F.col("w_start")) & (F.col("ts") < F.col("w_end"))
        )
        .select("event_id", "user_id", "ts", "w_start")
    )
    return _drain(joined, spark, output_mode="append")


# --- multi-scale intervals: tiered bucket decomposition ----------------
#
# VERDICT r10 ask #6: the fixed 1-hour bucket width above is sized for
# the fixture's uniform 6-hour windows. Real attribution tables mix
# minute-scale and month-scale intervals, and a single width fails in
# one of two directions: a narrow width explodes long intervals into
# ceil(len/width)+1 rows (a month over 1-hour buckets = 745 rows PER
# INTERVAL), while a wide width fattens every short-interval key's
# candidate set back toward the unbucketed fan-out. The standard remedy
# is RESOLUTION TIERS: each interval lands in exactly ONE tier — the
# finest whose width keeps its explode bounded (<= _TIER_FANOUT+1
# buckets) — and explodes at that tier's width only; each probe maps to
# ONE bucket PER TIER (a constant #tiers rows), and the equi-join key
# grows a tier column, so cross-tier pairs never materialize. A probe
# still matches each interval at most once (the interval lives in one
# tier; the probe has one bucket there), so no dedup pass exists to
# hide double-matches. At 100 TB the probe-side x#tiers constant is the
# whole extra cost, and it shrinks further by exploding probes only
# into OCCUPIED tiers (a 3-row broadcast of `SELECT DISTINCT tier FROM
# intervals`) — kept static here because the fixture occupies all
# three and a broadcast cross-join would read as BNLJ to the plan lint
# that guards the real failure shape.

_TIER_WIDTHS = (900, 21600, 259200)  # 15 min / 6 h / 3 days
_TIER_FANOUT = 6  # tier = finest width with ceil(len/width) <= 6

# mixed-duration fixture rule: the per-user-day window's duration spans
# >= 2 orders of magnitude by user hash — 15 min, 6 h, or 2 days
_DUR_MINUTES_SQL = (
    "CASE user_id % 3 WHEN 0 THEN 15 WHEN 1 THEN 360 ELSE 2880 END"
)

_MULTISCALE_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
win AS (
  SELECT user_id, min(ts) AS w_start,
         min(ts) + INTERVAL ({_DUR_MINUTES_SQL}) MINUTE AS w_end
  FROM ev GROUP BY user_id, date_trunc('day', ts))
SELECT p.event_id, p.user_id, p.ts, w.w_start
FROM ev p JOIN win w
  ON w.user_id = p.user_id
 AND p.ts > w.w_start AND p.ts < w.w_end
WHERE p.event_type = 'purchase'
"""


def _tiered_windows(ev: DataFrame) -> DataFrame:
    """Per-user-day opening windows with mixed durations, each exploded
    into its ONE tier's buckets: (user_id, tier, bucket, w_start, w_end)."""
    win = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__day"))
        .agg(F.min("ts").alias("w_start"))
        .select(
            "user_id",
            "w_start",
            F.expr(
                f"w_start + make_interval(0, 0, 0, 0, 0,"
                f" {_DUR_MINUTES_SQL}, 0)"
            ).alias("w_end"),
        )
    )
    len_s = F.unix_timestamp("w_end") - F.unix_timestamp("w_start")
    tier = (
        F.when(len_s <= _TIER_WIDTHS[0] * _TIER_FANOUT, F.lit(0))
        .when(len_s <= _TIER_WIDTHS[1] * _TIER_FANOUT, F.lit(1))
        .otherwise(F.lit(2))
    )
    width = F.element_at(
        F.array(*[F.lit(w) for w in _TIER_WIDTHS]), tier + 1
    )
    return win.select(
        "user_id",
        "w_start",
        "w_end",
        tier.alias("tier"),
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("w_start") / width),
                F.floor(F.unix_timestamp("w_end") / width),
            )
        ).alias("bucket"),
    )


@register(
    "events_interval_join_multiscale",
    _MULTISCALE_ORACLE,
    doc="Interval-containment join over MIXED-DURATION intervals "
    "(15-minute, 6-hour, and 2-day per-user-day windows — a 192x "
    "length spread) via tiered bucket decomposition: each interval "
    "explodes in exactly one resolution tier (the finest of "
    "15min/6h/3d whose width bounds its explode at <= 7 buckets), "
    "each probe maps to one bucket per tier, and the hash equi-join "
    "keys on (user_id, tier, bucket) before the exact range "
    "re-check. A single fixed width either explodes long intervals "
    "(ceil(len/width) rows each) or fattens short-probe candidate "
    "sets; the tier column bounds BOTH sides by construction. The "
    "oracle is the same DIRECT range join as the uniform entry, so "
    "the tiering is pinned as pure physical strategy; the plan test "
    "forbids BNLJ/cartesian.",
)
def events_interval_join_multiscale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    wexp = _tiered_windows(ev)
    probe = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.explode(
            F.array(*[F.lit(t) for t in range(len(_TIER_WIDTHS))])
        ).alias("tier"),
    ).withColumn(
        "bucket",
        F.floor(
            F.unix_timestamp("ts")
            / F.element_at(
                F.array(*[F.lit(w) for w in _TIER_WIDTHS]),
                F.col("tier") + 1,
            )
        ),
    )
    return (
        probe.join(wexp, ["user_id", "tier", "bucket"])
        .filter(
            (F.col("ts") > F.col("w_start")) & (F.col("ts") < F.col("w_end"))
        )
        .select("event_id", "user_id", "ts", "w_start")
    )


# --- interval x interval OVERLAP join ----------------------------------
#
# The third shape in the family: both sides are INTERVALS and the
# predicate is overlap (a.start < b.end AND b.start < a.end), the
# classic "no equi-key" join (room bookings vs maintenance windows,
# promo windows vs attribution windows). Bucket decomposition extends
# from the containment case with one twist: BOTH sides explode, so an
# overlapping pair can now share SEVERAL buckets. The standard
# single-assignment rule restores exactly-once semantics without a
# distinct pass: every overlap has a well-defined first instant,
# greatest(a_start, b_start), and exactly ONE bucket contains it — a
# pair is emitted only from that bucket. (A distinct over the pair key
# would also dedup, but it costs a second full shuffle of the
# candidate set; the single-assignment filter is a codegen predicate
# on rows already joined.)

_PROMO_MINUTES = 90  # each purchase opens a 90-min follow-up window


_OVERLAP_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
win AS (
  SELECT user_id, min(ts) AS w_start,
         min(ts) + INTERVAL {WINDOW_MINUTES} MINUTE AS w_end
  FROM ev GROUP BY user_id, date_trunc('day', ts)),
promo AS (
  SELECT event_id, user_id, ts AS p_start,
         ts + INTERVAL {_PROMO_MINUTES} MINUTE AS p_end
  FROM ev WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, w.w_start, p.p_start,
       round(CAST(epoch(least(w.w_end, p.p_end))
                  - epoch(greatest(w.w_start, p.p_start)) AS DOUBLE)
             / 60.0, 6) AS overlap_minutes
FROM promo p JOIN win w
  ON w.user_id = p.user_id
 AND w.w_start < p.p_end AND p.p_start < w.w_end
"""


@register(
    "events_interval_overlap_join",
    _OVERLAP_ORACLE,
    doc="Interval OVERLAP join (interval x interval, the no-equi-key "
    "classic): per-user-day 6-hour opening windows vs 90-minute "
    "post-purchase promo windows, overlap = strict half-open "
    "intersection. Both sides bucket-decompose at 1-hour width and "
    "hash-equi-join on (user_id, bucket); because both sides explode, "
    "a pair can share several buckets, so the single-assignment rule "
    "emits each pair only from the ONE bucket containing "
    "greatest(w_start, p_start) — exactly-once without a second "
    "shuffle for distinct. Returns the overlap length in minutes; "
    "oracle is the direct range-overlap join.",
)
def events_interval_overlap_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    win = (
        ev.groupBy("user_id", F.date_trunc("day", "ts").alias("__day"))
        .agg(F.min("ts").alias("w_start"))
        .select(
            "user_id",
            "w_start",
            (F.col("w_start") + F.expr(f"INTERVAL {WINDOW_MINUTES} MINUTES"))
            .alias("w_end"),
        )
    )
    wexp = win.select(
        "user_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("w_start") / BUCKET_SECONDS),
                F.floor(F.unix_timestamp("w_end") / BUCKET_SECONDS),
            )
        ).alias("bucket"),
    )
    promo = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr(f"INTERVAL {_PROMO_MINUTES} MINUTES"))
        .alias("p_end"),
    )
    pexp = promo.select(
        "event_id",
        "user_id",
        "p_start",
        "p_end",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("p_start") / BUCKET_SECONDS),
                F.floor(F.unix_timestamp("p_end") / BUCKET_SECONDS),
            )
        ).alias("bucket"),
    )
    first_instant = F.greatest(F.col("w_start"), F.col("p_start"))
    # timestamp->double keeps microseconds (unix_timestamp truncates
    # to whole seconds and drifts from DuckDB's fractional epoch())
    overlap_min = (
        F.least(F.col("w_end"), F.col("p_end")).cast("double")
        - first_instant.cast("double")
    ) / 60.0
    return (
        pexp.join(wexp, ["user_id", "bucket"])
        .filter(
            (F.col("w_start") < F.col("p_end"))
            & (F.col("p_start") < F.col("w_end"))
            # single-assignment: only the bucket holding the overlap's
            # first instant emits the pair
            & (
                F.floor(F.unix_timestamp(first_instant) / BUCKET_SECONDS)
                == F.col("bucket")
            )
        )
        .select(
            "event_id",
            "user_id",
            "w_start",
            "p_start",
            F.round(overlap_min, 6).alias("overlap_minutes"),
        )
    )


# --- streaming twin of the multi-scale join ----------------------------

_MULTISCALE_STREAM_ORACLE = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
win AS (
  SELECT user_id, min(ts) AS w_start,
         min(ts) + INTERVAL ({_DUR_MINUTES_SQL}) MINUTE AS w_end
  FROM ev GROUP BY user_id, date_trunc('day', ts))
SELECT p.event_id, p.user_id, p.ts, w.w_start
FROM ev p JOIN win w
  ON w.user_id = p.user_id
 AND p.ts > w.w_start AND p.ts < w.w_end
WHERE p.event_type = 'purchase'
  AND p.event_id % {_STREAM_PROBE_MOD} >= {_STREAM_PROBE_GE}
"""


@register(
    "streaming_interval_join_multiscale",
    _MULTISCALE_STREAM_ORACLE,
    doc="The multi-scale (tiered) interval join ALWAYS-ON: arriving "
    "purchases explode to one bucket PER TIER inside the streamed "
    "plan (a constant x3), stream-static hash equi-join on "
    "(user_id, tier, bucket) against the frozen tier-exploded "
    "mixed-duration window table, exact range re-check, STATELESS "
    "append. Same frozen-index production shape as the uniform "
    "streaming twin; the oracle is the direct range join over the "
    "mixed durations restricted to the arriving slice.",
)
def streaming_interval_join_multiscale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"), "user_id"
    )
    wexp = _tiered_windows(ev).localCheckpoint(eager=False)

    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _drain,
    )

    d = _stage_interval_stream_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
            " value DOUBLE, props STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    probe = stream.select(
        "event_id",
        "user_id",
        "ts",
        F.explode(
            F.array(*[F.lit(t) for t in range(len(_TIER_WIDTHS))])
        ).alias("tier"),
    ).withColumn(
        "bucket",
        F.floor(
            F.unix_timestamp("ts")
            / F.element_at(
                F.array(*[F.lit(w) for w in _TIER_WIDTHS]),
                F.col("tier") + 1,
            )
        ),
    )
    joined = (
        probe.join(F.broadcast(wexp), ["user_id", "tier", "bucket"])
        .filter(
            (F.col("ts") > F.col("w_start")) & (F.col("ts") < F.col("w_end"))
        )
        .select("event_id", "user_id", "ts", "w_start")
    )
    return _drain(joined, spark, output_mode="append")
