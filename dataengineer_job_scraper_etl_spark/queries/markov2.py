"""Second-order Markov model over the ``events`` clickstream
(analytics extension, SURVEY §2.10/§2.21 — VERDICT r11 ask #6).

Session-intent models want P(next | prev2, prev1): a first-order model
cannot distinguish "B after A" from "B after C" even when what follows
B depends entirely on how the user reached it (the planted fixture in
tests/test_markov2.py is exactly such a pair — the next-step
distribution after B differs ONLY at order 2). The machinery is the
first-order family's (queries/markov.py), extended one lag: TWO lag
columns from the SAME per-user window, a |types|^3-bounded aggregate,
the same 6-decimal row normalization.

The anomaly twin adds the back-off rule a deployed scorer needs: the
model trains on the corpus slice (ts < min(ts) + 15 days — the
absolute-cutoff device shared with the streaming/IVM entries) and
scores the ARRIVING slice, where a (prev2, prev1, next) continuation
may be unseen. Score precedence is stupid-backoff without discount,
all terms corpus-trained:
    p = p2(next | prev2, prev1)   if the triple was seen,
      = p1(next | prev1)          elif the pair was seen,
      = 1 / |types|               else (the uniform floor — the lm.py
                                   OOV-floor device).
Back-offs are counted per user (n_backoff), so the output exposes how
often the order-2 context was missing — the number that tells an
operator whether the model order is earning its keep.

Scale shape (the 100 TB story): ONE event-scale shuffle total — a
single per-user window over the FULL stream yields every triple; the
train/score split is then a ts predicate on that one triple stream
(corpus rows' lags are corpus rows by chronology, so "triples whose
event predates the cutoff" IS corpus-internal training data, and an
arriving event scores against its REAL history even when that history
straddles the boundary — the production semantics, for free). Both
models and the type count are vocabulary-scale broadcasts; the scoring
joins are map-side. Surprise quantizes to ppm BIGINTs BEFORE the
per-user mean (integer sum + integer division — the graphrank
fixed-point device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.markov import (
    _SPLIT_DAYS_IN,
    _split_cutoff,
)

_TRIPLES_CTE = """
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
tr AS (
  SELECT user_id, ts,
         lag(event_type, 2) OVER w AS prev2_type,
         lag(event_type) OVER w AS prev1_type,
         event_type AS next_type
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
"""

_MARKOV2_ORACLE = f"""
{_TRIPLES_CTE}
SELECT prev2_type, prev1_type, next_type,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0
             / sum(count(*)) OVER (PARTITION BY prev2_type, prev1_type),
             6) AS p
FROM tr WHERE prev2_type IS NOT NULL
GROUP BY prev2_type, prev1_type, next_type
"""


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "ts",
        F.lag("event_type", 2).over(w).alias("prev2_type"),
        F.lag("event_type").over(w).alias("prev1_type"),
        F.col("event_type").alias("next_type"),
    )


@register(
    "events_type_markov2_transitions",
    _MARKOV2_ORACLE,
    doc="Second-order Markov transition model: P(next | prev2, prev1) "
    "from two lag columns over the SAME per-user (ts, event_id) "
    "window the first-order family uses — one event-scale shuffle, a "
    "|types|^3-bounded aggregate, row-normalized probabilities on the "
    "6-decimal grid. Distinguishes context the first-order model "
    "provably cannot (planted fixture: a state whose next-step "
    "distribution differs only at order 2).",
)
def events_type_markov2_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    counts = (
        _triples(spark, sf_dir)
        .filter(F.col("prev2_type").isNotNull())
        .groupBy("prev2_type", "prev1_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ctx = Window.partitionBy("prev2_type", "prev1_type")
    return counts.select(
        "prev2_type",
        "prev1_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(ctx), 6).alias("p"),
    )


_BACKOFF_ORACLE = f"""
{_TRIPLES_CTE},
cut AS (
  SELECT min(ts) + INTERVAL {_SPLIT_DAYS_IN} DAY AS c
  FROM (SELECT CAST(ts AS TIMESTAMP) AS ts FROM events)),
train AS (SELECT tr.* FROM tr, cut WHERE tr.ts < cut.c),
m2 AS (
  SELECT prev2_type, prev1_type, next_type,
         count(*) * 1.0
           / sum(count(*)) OVER (PARTITION BY prev2_type, prev1_type)
           AS p2
  FROM train WHERE prev2_type IS NOT NULL
  GROUP BY prev2_type, prev1_type, next_type),
m1 AS (
  SELECT prev1_type, next_type,
         count(*) * 1.0
           / sum(count(*)) OVER (PARTITION BY prev1_type) AS p1
  FROM train WHERE prev1_type IS NOT NULL
  GROUP BY prev1_type, next_type),
nt AS (
  SELECT CAST(count(DISTINCT next_type) AS BIGINT) AS k FROM train),
scored AS (
  SELECT a.user_id,
         CAST(round(-ln(coalesce(m2.p2, m1.p1, 1.0 / nt.k)) * 1e6)
              AS BIGINT) AS s_ppm,
         CASE WHEN m2.p2 IS NULL THEN 1 ELSE 0 END AS backed
  FROM tr a
  CROSS JOIN cut
  LEFT JOIN m2 ON a.prev2_type = m2.prev2_type
              AND a.prev1_type = m2.prev1_type
              AND a.next_type = m2.next_type
  LEFT JOIN m1 ON a.prev1_type = m1.prev1_type
              AND a.next_type = m1.next_type
  CROSS JOIN nt
  WHERE a.ts >= cut.c AND a.prev1_type IS NOT NULL)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_trans,
       CAST(sum(backed) AS BIGINT) AS n_backoff,
       CAST(sum(s_ppm) // count(*) AS BIGINT) AS avg_surprise_ppm
FROM scored GROUP BY user_id
"""


@register(
    "events_user_markov2_anomaly",
    _BACKOFF_ORACLE,
    doc="Held-out anomaly scoring under the second-order model WITH "
    "back-off: trains on the corpus slice (absolute min(ts)+15d "
    "cutoff), scores every arriving transition against its REAL "
    "history (boundary triples included — their lags are corpus "
    "events, exactly what a deployed scorer sees), and backs off "
    "p2 -> p1 -> uniform 1/|types| where the order-2 continuation is "
    "unseen. Emits per user: transition count, BACK-OFF count (the "
    "model-order health metric), and mean surprise in ppm (quantize-"
    "then-sum). One event-scale shuffle; both models broadcast.",
)
def events_user_markov2_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    tr = _triples(spark, sf_dir).crossJoin(
        F.broadcast(_split_cutoff(ev))
    ).localCheckpoint(eager=False)  # one window feeds train AND score

    train = tr.filter(F.col("ts") < F.col("__cutoff"))
    ctx2 = Window.partitionBy("prev2_type", "prev1_type")
    m2 = (
        train.filter(F.col("prev2_type").isNotNull())
        .groupBy("prev2_type", "prev1_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n2"))
        .select(
            "prev2_type",
            "prev1_type",
            "next_type",
            (F.col("n2") / F.sum("n2").over(ctx2)).alias("p2"),
        )
    )
    ctx1 = Window.partitionBy("prev1_type")
    m1 = (
        train.filter(F.col("prev1_type").isNotNull())
        .groupBy("prev1_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n1"))
        .select(
            "prev1_type",
            "next_type",
            (F.col("n1") / F.sum("n1").over(ctx1)).alias("p1"),
        )
    )
    # k >= 1 is guaranteed (the uniform floor 1/k never divides by
    # zero, here or in the oracle's nt CTE): train is the slice
    # ts < min(ts) + 15d, and the event AT min(ts) always lands
    # strictly inside it, so the training slice is never empty
    # (ADVICE r12 — the invariant was implicit before).
    nt = train.agg(F.countDistinct("next_type").alias("k"))

    arriving = tr.filter(
        (F.col("ts") >= F.col("__cutoff"))
        & F.col("prev1_type").isNotNull()
    )
    scored = (
        arriving.join(
            F.broadcast(m2), ["prev2_type", "prev1_type", "next_type"],
            "left",
        )
        .join(F.broadcast(m1), ["prev1_type", "next_type"], "left")
        .crossJoin(F.broadcast(nt))
        .select(
            "user_id",
            # LIBM-PARITY ASSUMPTION: same caveat as the first-order
            # scorer (markov.py) — round(-ln(p)*1e6) near a .5-ppm
            # boundary can flip on a 1-ulp libm divergence
            F.round(
                -F.log(
                    F.coalesce(
                        F.col("p2"), F.col("p1"), F.lit(1.0) / F.col("k")
                    )
                )
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("s_ppm"),
            F.col("p2").isNull().cast("int").alias("backed"),
        )
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans"),
        F.sum("backed").cast("bigint").alias("n_backoff"),
        F.expr("sum(s_ppm) div count(*)")
        .cast("bigint")
        .alias("avg_surprise_ppm"),
    )
