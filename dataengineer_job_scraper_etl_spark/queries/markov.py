"""First-order Markov transition model over the ``events`` clickstream
(analytics extension, SURVEY §2.10/§2.20).

The classic user-journey summary: P(next event type | current event
type), estimated from every consecutive pair in each user's ordered
stream. Feeds funnel diagnostics ("what follows a view?"), anomaly
scoring (improbable transitions), and session simulation — the same
per-user lag machinery as events_sessionization (queries/events.py),
re-aggregated globally. (Reference parity note: the reference repo,
lalelisealstad/dataengineer-job-scraper-etl, has no clickstream stage;
this extends the events battery like the interval-join family.)

Scale shape (the 100 TB story): ONE shuffle — the per-user window
(partitionBy user_id, the natural key: billions of short independent
sequences parallelize perfectly, no global ordering exists) — then a
groupBy on (prev_type, next_type), whose key space is |event types|²
(single digits squared here; at worst vocabulary-sized), so the agg is
map-side-combined down to almost nothing before the exchange. The
normalizing per-prev totals come from a SECOND window over the COUNTS
table (type-squared rows, not event rows) — never a rescan of the
stream. Ordering ties break on event_id (the catalog-wide convention,
events.py), so the transition stream is deterministic under any
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

_MARKOV_ORACLE = """
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
tr AS (
  SELECT lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM ev)
SELECT prev_type, next_type,
       CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 1.0
             / sum(count(*)) OVER (PARTITION BY prev_type), 6) AS p
FROM tr WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""



def _normalized_model(counts: DataFrame) -> DataFrame:
    """(prev_type, next_type, n) -> + row-normalized p, rounded to the
    catalog's 6-decimal grid — the ONE projection all three Markov
    entries share with _MARKOV_ORACLE's SELECT (a rounding tweak made
    in one place cannot desynchronize the others)."""
    per_prev = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(per_prev), 6).alias("p"),
    )


@register(
    "events_type_markov_transitions",
    _MARKOV_ORACLE,
    doc="First-order Markov transition matrix over the clickstream: "
    "per-user lag(event_type) ordered by (ts, event_id), global "
    "(prev, next) counts, and row-normalized probabilities. One "
    "event-scale shuffle (the per-user window); the count table is "
    "|types|^2 rows, so normalization is a window over a frame that "
    "fits in one partition at any corpus size.",
)
def events_type_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = trans.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    return _normalized_model(counts)


# --- streaming twin: per-user state bridges micro-batch boundaries -----
#
# The transition stream needs each event's PREDECESSOR, and in an
# always-on deployment that predecessor may have arrived in an earlier
# micro-batch — a stateless stream-static join cannot express it. The
# stateful rendering keeps one row of state per user (the last seen
# (ts, event_id, event_type)), prepends it to each batch's sorted
# per-user rows, emits the transition facts, and saves the new last
# event. The ORACLE is the exact batch SQL (not an arriving-slice
# restriction): the staged queue feeds ALL events through two
# time-ordered batches, so hash equality holds only if the state
# correctly bridges the boundary — the bridge IS the contract.
# Batches split at an ABSOLUTE cutoff — min(ts) + 15 days, computed
# from the data — so every batch-2 event follows every batch-1 event
# per user under ANY fixture date range (the first cut split on
# dayofmonth, which reverses chronology the moment a corpus crosses a
# month boundary — caught in the round-11 self-review before any
# fixture hit it); same-ts ties cannot straddle an absolute cutoff and
# sort on event_id inside a batch, exactly the batch window's tiebreak.

_SPLIT_DAYS_IN = 15  # cutoff = min(ts) + this many days


def _split_cutoff(ev: DataFrame):
    """The absolute boundary timestamp: min(ts) + _SPLIT_DAYS_IN days,
    as a 1-row broadcast (a bounded aggregate, not a driver collect)."""
    return ev.agg(
        (
            F.min("ts")
            + F.expr(f"INTERVAL {_SPLIT_DAYS_IN} DAYS")
        ).alias("__cutoff")
    )


def _stage_markov_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    import os

    from dataengineer_job_scraper_etl_spark.staging import (
        stage_once,
        write_ordered_batches,
    )

    src = os.path.join(sf_dir, "events.parquet")

    def build(staged: str) -> None:
        d = read_parquet(spark, src).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type",
        )
        cut = _split_cutoff(d)
        early = d.crossJoin(F.broadcast(cut)).filter(
            F.col("ts") < F.col("__cutoff")
        ).drop("__cutoff")
        late = d.crossJoin(F.broadcast(cut)).filter(
            F.col("ts") >= F.col("__cutoff")
        ).drop("__cutoff")
        write_ordered_batches(staged, [early, late])

    # tag names the SPLIT RULE: stage_once keys on (tag, source), not
    # the build code, so a rule change must rename the tag or cached
    # stagings from the old rule keep serving
    return stage_once(src, "mkstream_abs15", build)


@register(
    "streaming_markov_transitions",
    _MARKOV_ORACLE,
    doc="The Markov transition matrix ALWAYS-ON via a custom stateful "
    "operator (applyInPandasWithState): per-user state holds the last "
    "seen event; each micro-batch sorts its per-user rows by "
    "(ts, event_id), prepends the state, emits transition facts, and "
    "saves the new tail. The oracle is the FULL batch SQL — the two "
    "staged batches split mid-sequence (day <= 15), so the hash "
    "matches only if state bridges the micro-batch boundary. "
    "Post-drain the transition facts aggregate to the same "
    "(prev, next, n, p) table; state is one tiny row per user "
    "(RocksDB-ready), batch work is batch-proportional.",
)
def streaming_markov_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from typing import Iterator

    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import (
        GroupState,
        GroupStateTimeout,
    )

    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _drain,
    )

    out_schema = T.StructType(
        [
            T.StructField("prev_type", T.StringType()),
            T.StructField("next_type", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("last_eid", T.LongType()),
            T.StructField("last_type", T.StringType()),
        ]
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Under NoTimeout a key is only invoked WITH batch rows, so the
        # iterator is never empty (pd.concat([]) would raise; timeout
        # invocations — the empty case — are disabled for availableNow
        # drains, see running_user_totals in streaming/jobs.py).
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        types = rows["event_type"].tolist()
        first_us = int(rows["ts"].iloc[0].value // 1000)
        first_eid = int(rows["event_id"].iloc[0])
        prevs = types[:-1]
        nexts = types[1:]
        if state.exists:
            last_us, last_eid, last_type = state.get
            # ORDERING GUARD: the prepend is only correct when every
            # batch row follows the saved tail — the staged queue's
            # absolute time split guarantees it; an out-of-order file
            # pickup must fail loudly, not emit reversed transitions
            if (first_us, first_eid) <= (last_us, last_eid):
                raise ValueError(
                    f"out-of-order micro-batch for user {key[0]}: "
                    f"batch head ({first_us}, {first_eid}) <= saved "
                    f"tail ({last_us}, {last_eid})"
                )
            prevs = [last_type] + types[:-1]
            nexts = types
        state.update(
            (
                int(rows["ts"].iloc[-1].value // 1000),
                int(rows["event_id"].iloc[-1]),
                types[-1],
            )
        )
        if prevs and nexts:
            yield pd.DataFrame({"prev_type": prevs, "next_type": nexts})

    d = _stage_markov_stream_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    trans = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    facts = _drain(trans, spark, output_mode="append")
    return _normalized_model(
        facts.groupBy("prev_type", "next_type").agg(
            F.count(F.lit(1)).alias("n")
        )
    )


# --- per-user surprise under the global transition model ---------------

_ANOMALY_ORACLE = """
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
  FROM events),
tr AS (
  SELECT user_id,
         lag(event_type) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM ev),
model AS (
  SELECT prev_type, next_type,
         count(*) * 1.0
           / sum(count(*)) OVER (PARTITION BY prev_type) AS p
  FROM tr WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type),
scored AS (
  SELECT t.user_id,
         CAST(round(-ln(m.p) * 1e6) AS BIGINT) AS s_ppm
  FROM tr t JOIN model m
    ON t.prev_type = m.prev_type AND t.next_type = m.next_type)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_trans,
       CAST(sum(s_ppm) // count(*) AS BIGINT) AS avg_surprise_ppm
FROM scored GROUP BY user_id
"""


@register(
    "events_user_markov_anomaly",
    _ANOMALY_ORACLE,
    doc="Clickstream anomaly scoring: each user's mean transition "
    "surprise -ln P(next | prev) under the GLOBAL first-order model — "
    "the sequence analog of the CCNet perplexity filter (improbable "
    "journeys score high; bots and scripted flows score near the "
    "model's entropy floor). Per-transition surprise quantizes to ppm "
    "BIGINTs before the per-user mean (exact integer sum + integer "
    "division), so the aggregate is summation-order-independent — the "
    "graphrank fixed-point device. Costs ONE extra vocabulary-scale "
    "join over the transitions the model entry already computes.",
)
def events_user_markov_anomaly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).filter(F.col("prev_type").isNotNull()).localCheckpoint(eager=False)
    per_prev = Window.partitionBy("prev_type")
    model = (
        trans.groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "prev_type",
            "next_type",
            (F.col("n") / F.sum("n").over(per_prev)).alias("p"),
        )
    )
    scored = trans.join(
        F.broadcast(model), ["prev_type", "next_type"]
    ).select(
        "user_id",
        # LIBM-PARITY ASSUMPTION (ADVICE r11 #2, shared with the
        # attribution decay weights): round(-ln(p)*1e6) quantizes a
        # TRANSCENDENTAL to the ppm grid. JVM and DuckDB libm are not
        # correctly-rounded, so a 1-ulp ln() divergence adjacent to a
        # .5-ppm boundary COULD flip the oracle hash — a failure mode
        # the quantize-then-sum device does NOT cover (it only fixes
        # summation order). If a boundary-adjacent fixture ever reds
        # out here, diagnose as quantization-tie noise first.
        F.round(-F.log("p") * 1e6, 0).cast("bigint").alias("s_ppm"),
    )
    return scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans"),
        F.expr("sum(s_ppm) div count(*)").cast("bigint")
        .alias("avg_surprise_ppm"),
    )


# --- incremental model maintenance: frozen counts + arriving slice -----
#
# The batch/IVM complement of the streaming twin: a nightly job holds
# the FROZEN transition counts plus a tiny per-user TAIL index (each
# user's last corpus event — the same frozen-artifact shape as
# exact_substring_index) and folds in an arriving slice without
# re-reading the corpus. New transitions come from (a) per-user lag
# WITHIN the arriving slice and (b) the BOUNDARY pair (frozen tail ->
# the user's first arriving event) — exactly the rows a corpus rescan
# would add, so merged counts PROVABLY equal the full recount. The
# oracle is the full-corpus model SQL: hash equality pins the
# incremental composition (frozen + within + boundary), not an
# arriving-slice restriction. Work is batch-proportional: the corpus
# contributes only its counts table (|types|^2) and the user-scale
# tail index.

@register(
    "events_markov_incremental_update",
    _MARKOV_ORACLE,
    doc="Incremental maintenance of the Markov transition model: "
    "frozen corpus counts + a per-user last-event TAIL index absorb "
    "an arriving slice (within-slice lag transitions + tail->first "
    "boundary pairs) with NO corpus rescan; merged counts provably "
    "equal the full recount — the oracle IS the full-corpus model "
    "SQL, so the hash pins the incremental composition. The frozen "
    "artifacts are |types|^2 counts and one tiny row per user, the "
    "exact_substring_index shape.",
)
def events_markov_incremental_update(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type",
    )
    # corpus/arriving split at the ABSOLUTE cutoff min(ts) + 15 days
    # (shared with the streaming twin's staging — dayofmonth would
    # reverse chronology across a month boundary)
    cut = _split_cutoff(ev)
    ev = ev.crossJoin(F.broadcast(cut))
    corpus = ev.filter(F.col("ts") < F.col("__cutoff")).drop("__cutoff")
    arriving = ev.filter(F.col("ts") >= F.col("__cutoff")).drop("__cutoff")

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    # FROZEN artifacts (materialized once per refresh cycle)
    frozen_counts = (
        corpus.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tail = (
        grouped_topk(
            corpus, ["user_id"], [F.desc("ts"), F.desc("event_id")], 1,
            rank_col="__rn",
        )
        .select("user_id", F.col("event_type").alias("tail_type"))
        .localCheckpoint(eager=False)
    )

    # arriving slice: within-slice transitions ...
    within = (
        arriving.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    # ... plus the boundary pair per user with history on both sides
    first_arriving = (
        grouped_topk(
            arriving, ["user_id"], ["ts", "event_id"], 1, rank_col="__rn"
        )
        .select("user_id", F.col("event_type").alias("next_type"))
    )
    boundary = first_arriving.join(tail, "user_id").select(
        "user_id",
        F.col("tail_type").alias("prev_type"),
        "next_type",
    )
    delta = (
        within.select("prev_type", "next_type")
        .unionByName(boundary.select("prev_type", "next_type"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merged = (
        frozen_counts.unionByName(delta)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").alias("n"))
    )
    return _normalized_model(merged)
