"""RFM (recency / frequency / monetary) segmentation over ``events``
(analytics extension, SURVEY §2.10/§2.20).

The classic customer-value segmentation: per purchasing user, days
since last purchase, purchase count, and spend, each bucketed into
quartiles. The naive rendering is ``ntile(4) OVER (ORDER BY metric)``
— a GLOBAL unpartitioned sort window, the single-task collapse the
engine-wide lint (tests/test_scale_plans.py) forbids. Instead the
quartile edges come from the PSI monitor's rank-exact device
(queries/pca.py::rank_exact_edges): distinct-metric histogram →
cumulative sum over the COMPRESSED histogram (two-stage parallel
prefix) → edge_k = min metric with cum ≥ ceil(k·N/4); each user then
buckets by comparing against the three broadcast edges —
1 + Σ_k [metric > edge_k], a codegen projection. The oracle replays
the SAME rule in SQL (histogram + cumulative window + min-where), so
tie semantics are pinned, not percentile-function-dependent —
percentile_disc/ntile conventions differ between engines, the
rank-exact rule doesn't.

Determinism: all three metrics are exact integers — recency in
ppm-days from microsecond-exact timestamp arithmetic, frequency a
count, monetary the exact integer sum of per-event ppm values
(quantize-then-sum, the attribution device) — so histograms, edges,
and bucket comparisons are bit-identical across engines and
partitionings. Quartiles are ASCENDING (1 = lowest metric value):
r_q 1 = most recent, f_q/m_q 4 = most active / highest spend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet

_N_BUCKETS = 4


def _edges_sql(metric: str, k: int = _N_BUCKETS) -> str:
    """Rank-exact edge CTE body for one metric over the ``rfm`` CTE:
    yields a 1-row relation e_<metric> with columns e1..e{k-1}."""
    mins = ", ".join(
        f"min(CASE WHEN cum >= (({j} * n_total + {k - 1}) // {k})"
        f" THEN {metric} END) AS e{j}"
        for j in range(1, k)
    )
    return f"""
h_{metric} AS (
  SELECT {metric}, count(*) AS cnt FROM rfm GROUP BY {metric}),
c_{metric} AS (
  SELECT {metric}, sum(cnt) OVER (ORDER BY {metric}) AS cum
  FROM h_{metric}),
e_{metric} AS (
  SELECT {mins} FROM c_{metric} CROSS JOIN nt)"""


def _bucket_sql(metric: str, k: int = _N_BUCKETS) -> str:
    terms = " + ".join(
        f"(CASE WHEN rfm.{metric} > e_{metric}.e{j} THEN 1 ELSE 0 END)"
        for j in range(1, k)
    )
    return f"CAST(1 + {terms} AS BIGINT)"


_RFM_ORACLE = f"""
WITH ev AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
  FROM events),
mx AS (SELECT max(ts) AS now_ts FROM ev),
rfm AS (
  SELECT user_id,
         CAST(round((epoch((SELECT now_ts FROM mx)) - epoch(max(ts)))
                    / 86400.0 * 1e6) AS BIGINT) AS recency_ppm_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT)
           AS monetary_ppm
  FROM ev WHERE event_type = 'purchase' GROUP BY user_id),
nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM rfm),
{_edges_sql("recency_ppm_days")},
{_edges_sql("frequency")},
{_edges_sql("monetary_ppm")}
SELECT rfm.user_id, rfm.frequency, rfm.monetary_ppm,
       {_bucket_sql("recency_ppm_days")} AS r_q,
       {_bucket_sql("frequency")} AS f_q,
       {_bucket_sql("monetary_ppm")} AS m_q
FROM rfm
CROSS JOIN e_recency_ppm_days
CROSS JOIN e_frequency
CROSS JOIN e_monetary_ppm
"""


@register(
    "events_user_rfm_segments",
    _RFM_ORACLE,
    doc="RFM segmentation without the global ntile window: per "
    "purchasing user, recency (ppm-days since last purchase, "
    "microsecond-exact), frequency, and monetary (exact integer sum "
    "of per-event ppm values), each quartiled via the PSI monitor's "
    "rank-exact edge rule (compressed-histogram prefix sum, edge_k = "
    "min metric with cum >= ceil(k*N/4)) and a broadcast-edge "
    "comparison — a codegen projection instead of a single-task "
    "sort. The oracle replays the same rule, pinning tie semantics "
    "engine-independently. Quartiles ascending (r_q 1 = most "
    "recent; f_q/m_q 4 = best).",
)
def events_user_rfm_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        rank_exact_edges,
    )

    ev = read_parquet(spark, f"{sf_dir}/events.parquet").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value",
    )
    now_ts = ev.agg(F.max("ts").alias("now_ts"))
    rfm = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(now_ts))
        .groupBy("user_id")
        .agg(
            F.round(
                (
                    F.first("now_ts").cast("double")
                    - F.max("ts").cast("double")
                )
                / 86400.0
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("recency_ppm_days"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.round(F.col("value") * 1e6, 0).cast("bigint"))
            .cast("bigint")
            .alias("monetary_ppm"),
        )
        .localCheckpoint(eager=False)  # histograms + final projection
    )
    # bounded collects (the rank_exact_edges contract): each edge list
    # is 3 values; the first metric folds the n_total count into its
    # own edge collect (rank_exact_edges_n, r14 optimization — the
    # separate rfm.count() was a full extra pass over the checkpoint)
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        rank_exact_edges_n,
    )

    n_total = None
    cols = {}
    for metric in ("recency_ppm_days", "frequency", "monetary_ppm"):
        if n_total is None:
            edges, n_total = rank_exact_edges_n(rfm, metric, _N_BUCKETS)
        else:
            edges = rank_exact_edges(rfm, metric, _N_BUCKETS, n_total)
        bucket = F.lit(1)
        for e in edges:
            bucket = bucket + (F.col(metric) > F.lit(e)).cast("int")
        cols[metric] = bucket.cast("bigint")
    return rfm.select(
        "user_id",
        "frequency",
        "monetary_ppm",
        cols["recency_ppm_days"].alias("r_q"),
        cols["frequency"].alias("f_q"),
        cols["monetary_ppm"].alias("m_q"),
    )
