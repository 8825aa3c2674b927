"""CUPED variance-reduced A/B readout over ``events`` (analytics
extension, SURVEY §2.12-family) — the experimentation-platform
operator the catalog lacked: every large data platform pairs its
pipeline with an experiment readout, and CUPED (Controlled-experiment
Using Pre-Experiment Data; Deng, Xu, Kohavi & Walker, WSDM 2013) is
the industry-standard variance reduction — adjust each user's
in-experiment metric by their pre-period covariate:

    theta   = cov(pre, post) / var(pre)        (pooled, both arms)
    y_adj,u = y_u − theta · (x_u − mean(x))

which preserves the treatment-effect estimate (assignment is
independent of pre-period behavior) while removing the
between-user variance component correlated with history —
the variance shrinks by the factor rho² = corr(pre, post)².

Fixture rendering: arms by ``user_id % 2`` (deterministic hash
assignment), metric = per-user purchase spend in integer cents over
the experiment half (ts >= PERIOD_SPLIT), covariate = the same over
the pre-period half. Every user present in events is a subject
(missing-period users contribute exact 0 — the real CUPED convention:
absence of pre-period activity is itself a covariate value).

Determinism (the device that makes a variance estimate hashable):
per-user cents are exact BIGINTs, and ALL moment sums (Sx, Sy, Sxx,
Sxy, Syy, and the per-arm conditional sums) are exact integer
aggregates — summation-order-free by construction. theta, rho² and
the adjusted means are then a SHORT double chain over those exact
integers with the op order written identically in the oracle
(n·Sxy − Sx·Sy stays integer; one division each). Integer envelope:
cents ~ 1e5/user, Sxy ~ 1e10/user -> n·Sxy ~ 1e18 at ~1e4 users —
inside int64 for every fixture rung; a 100 TB deployment lifts the
moment sums to DECIMAL(38) (Spark and DuckDB both widen the same
way), the shape is unchanged.

Scale shape: ONE events scan (event_type filter pushed to parquet),
one user-keyed shuffle for the per-user frame, then a single 1-row
moment reduce; the two output rows are a projection of that
broadcast row. Nothing after the first aggregate scales with data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet

PERIOD_SPLIT = "2024-01-16"  # pre: ts < split; experiment: ts >= split
METRIC_EVENT = "purchase"


def _cuped_oracle() -> str:
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(user_id % 2 AS BIGINT) AS variant,
         CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '{PERIOD_SPLIT}'
              THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
           AS x,
         CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '{PERIOD_SPLIT}'
              THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
           AS y
  FROM events
  WHERE event_type = '{METRIC_EVENT}'
  GROUP BY user_id),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN x ELSE 0 END) AS BIGINT)
           AS sx0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN x ELSE 0 END) AS BIGINT)
           AS sx1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN y ELSE 0 END) AS BIGINT)
           AS sy0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN y ELSE 0 END) AS BIGINT)
           AS sy1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN x * x ELSE 0 END) AS BIGINT)
           AS sxx1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN x * y ELSE 0 END) AS BIGINT)
           AS sxy0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN x * y ELSE 0 END) AS BIGINT)
           AS sxy1,
         CAST(sum(CASE WHEN user_id % 2 = 0 THEN y * y ELSE 0 END) AS BIGINT)
           AS syy0,
         CAST(sum(CASE WHEN user_id % 2 = 1 THEN y * y ELSE 0 END) AS BIGINT)
           AS syy1
  FROM per_user),
d AS (
  SELECT *,
         n * sxy - sx * sy AS cnum,
         n * sxx - sx * sx AS cden,
         n * syy - sy * sy AS ydev
  FROM m),
t AS (
  SELECT *,
         CASE WHEN cden > 0
              THEN CAST(cnum AS DOUBLE) / cden ELSE 0.0 END AS theta,
         CASE WHEN cden > 0 AND ydev > 0
              THEN CAST(cnum AS DOUBLE) * cnum / (CAST(cden AS DOUBLE) * ydev)
              ELSE 0.0 END AS rho2
  FROM d),
s AS (
  SELECT *,
         (CAST(syy0 AS DOUBLE) - 2 * theta * sxy0
            + theta * theta * sxx0) / n0
           - (CAST(sy0 AS DOUBLE) / n0 - theta * (CAST(sx0 AS DOUBLE) / n0))
             * (CAST(sy0 AS DOUBLE) / n0 - theta * (CAST(sx0 AS DOUBLE) / n0))
           AS var0,
         (CAST(syy1 AS DOUBLE) - 2 * theta * sxy1
            + theta * theta * sxx1) / n1
           - (CAST(sy1 AS DOUBLE) / n1 - theta * (CAST(sx1 AS DOUBLE) / n1))
             * (CAST(sy1 AS DOUBLE) / n1 - theta * (CAST(sx1 AS DOUBLE) / n1))
           AS var1,
         (CAST(sy1 AS DOUBLE) / n1 - CAST(sy0 AS DOUBLE) / n0)
           - theta * (CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)
           AS lift
  FROM t),
f AS (
  SELECT *,
         1.96 * sqrt(greatest(var0, 0.0) / n0 + greatest(var1, 0.0) / n1)
           AS ci
  FROM s)
SELECT CAST(v.variant AS BIGINT) AS variant,
       CASE WHEN v.variant = 0 THEN n0 ELSE n1 END AS n_users,
       CAST(round(CAST(CASE WHEN v.variant = 0 THEN sy0 ELSE sy1 END
                       AS DOUBLE) * 1000
                  / (CASE WHEN v.variant = 0 THEN n0 ELSE n1 END))
            AS BIGINT) AS mean_post_millicents,
       CAST(round((CAST(CASE WHEN v.variant = 0 THEN sy0 ELSE sy1 END
                        AS DOUBLE)
                     / (CASE WHEN v.variant = 0 THEN n0 ELSE n1 END)
                   - theta
                     * (CAST(CASE WHEN v.variant = 0 THEN sx0 ELSE sx1 END
                             AS DOUBLE)
                          / (CASE WHEN v.variant = 0 THEN n0 ELSE n1 END)
                        - CAST(sx AS DOUBLE) / n)) * 1000)
            AS BIGINT) AS mean_adj_millicents,
       CAST(round(theta * 1e6) AS BIGINT) AS theta_ppm,
       CAST(round(rho2 * 1e6) AS BIGINT) AS var_reduction_ppm,
       CAST(round(lift * 1000) AS BIGINT) AS lift_millicents,
       CAST(round(ci * 1000) AS BIGINT) AS ci_halfwidth_millicents,
       abs(lift) > ci AS significant
FROM f CROSS JOIN (SELECT unnest([0, 1]) AS variant) v
"""


def cuped_moments(per_user: DataFrame) -> DataFrame:
    """1-row exact-integer moment frame from (user_id, variant, x, y)
    BIGINT columns — the summation-order-free core CUPED rests on."""
    is0 = F.col("variant") == 0
    return per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(is0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(~is0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(is0, F.col("x")).otherwise(0)).cast("long").alias("sx0"),
        F.sum(F.when(~is0, F.col("x")).otherwise(0)).cast("long").alias("sx1"),
        F.sum(F.when(is0, F.col("y")).otherwise(0)).cast("long").alias("sy0"),
        F.sum(F.when(~is0, F.col("y")).otherwise(0)).cast("long").alias("sy1"),
        F.sum(F.when(is0, F.col("x") * F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxx0"),
        F.sum(F.when(~is0, F.col("x") * F.col("x")).otherwise(0))
        .cast("long")
        .alias("sxx1"),
        F.sum(F.when(is0, F.col("x") * F.col("y")).otherwise(0))
        .cast("long")
        .alias("sxy0"),
        F.sum(F.when(~is0, F.col("x") * F.col("y")).otherwise(0))
        .cast("long")
        .alias("sxy1"),
        F.sum(F.when(is0, F.col("y") * F.col("y")).otherwise(0))
        .cast("long")
        .alias("syy0"),
        F.sum(F.when(~is0, F.col("y") * F.col("y")).otherwise(0))
        .cast("long")
        .alias("syy1"),
    )


def cuped_readout(per_user: DataFrame) -> DataFrame:
    """Two-row CUPED readout from the per-user frame: (variant,
    n_users, mean_post_millicents, mean_adj_millicents, theta_ppm,
    var_reduction_ppm, lift_millicents, ci_halfwidth_millicents,
    significant). The last three are the delta-method inference —
    lift = difference of adjusted means, CI halfwidth = 1.96 * SE
    with SE^2 = var_adj0/n0 + var_adj1/n1 and var_adj_v the per-arm
    population variance of y - theta*x, all derived from the same
    exact integer moments. Factored so tests can plant covariate
    structures with known answers (e.g. y = c*x exactly -> rho2 =
    1e6, zero adjusted variance, zero CI halfwidth)."""
    m = cuped_moments(per_user)
    cnum = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    cden = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ydev = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    t = m.select(
        "*",
        F.when(cden > 0, cnum.cast("double") / cden)
        .otherwise(F.lit(0.0))
        .alias("theta"),
        F.when(
            (cden > 0) & (ydev > 0),
            cnum.cast("double") * cnum / (cden.cast("double") * ydev),
        )
        .otherwise(F.lit(0.0))
        .alias("rho2"),
    )

    # delta-method inference from the same exact integer moments:
    # per-arm population variance of the CUPED-adjusted individual
    # metric y - theta*x, then SE of the adjusted-mean difference.
    # Op order mirrors the oracle CTEs term for term.
    def _var(arm: str):
        th = F.col("theta")
        mean_adj = F.col(f"sy{arm}").cast("double") / F.col(
            f"n{arm}"
        ) - th * (F.col(f"sx{arm}").cast("double") / F.col(f"n{arm}"))
        return (
            F.col(f"syy{arm}").cast("double")
            - 2 * th * F.col(f"sxy{arm}")
            + th * th * F.col(f"sxx{arm}")
        ) / F.col(f"n{arm}") - mean_adj * mean_adj

    th = F.col("theta")
    lift = (
        F.col("sy1").cast("double") / F.col("n1")
        - F.col("sy0").cast("double") / F.col("n0")
    ) - th * (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx0").cast("double") / F.col("n0")
    )
    t = t.select(
        "*", _var("0").alias("var0"), _var("1").alias("var1"),
        lift.alias("lift"),
    )
    t = t.select(
        "*",
        (
            1.96
            * F.sqrt(
                F.greatest(F.col("var0"), F.lit(0.0)) / F.col("n0")
                + F.greatest(F.col("var1"), F.lit(0.0)) / F.col("n1")
            )
        ).alias("ci"),
    )
    variants = t.crossJoin(
        F.broadcast(
            t.sparkSession.range(2).select(
                F.col("id").cast("long").alias("variant")
            )
        )
    )
    v0 = F.col("variant") == 0
    nv = F.when(v0, F.col("n0")).otherwise(F.col("n1"))
    sxv = F.when(v0, F.col("sx0")).otherwise(F.col("sx1"))
    syv = F.when(v0, F.col("sy0")).otherwise(F.col("sy1"))
    return variants.select(
        "variant",
        nv.alias("n_users"),
        F.round(syv.cast("double") * 1000 / nv, 0)
        .cast("bigint")
        .alias("mean_post_millicents"),
        F.round(
            (
                syv.cast("double") / nv
                - F.col("theta")
                * (
                    sxv.cast("double") / nv
                    - F.col("sx").cast("double") / F.col("n")
                )
            )
            * 1000,
            0,
        )
        .cast("bigint")
        .alias("mean_adj_millicents"),
        F.round(F.col("theta") * 1e6, 0).cast("bigint").alias("theta_ppm"),
        F.round(F.col("rho2") * 1e6, 0)
        .cast("bigint")
        .alias("var_reduction_ppm"),
        F.round(F.col("lift") * 1000, 0)
        .cast("bigint")
        .alias("lift_millicents"),
        F.round(F.col("ci") * 1000, 0)
        .cast("bigint")
        .alias("ci_halfwidth_millicents"),
        (F.abs(F.col("lift")) > F.col("ci")).alias("significant"),
    )


@register(
    "events_cuped_ab_adjustment",
    _cuped_oracle(),
    doc="CUPED variance-reduced A/B readout (Deng et al. 2013): arms "
    "by user_id%2, metric = per-user purchase cents in the "
    "experiment half, covariate = the pre-period half; pooled theta "
    "= cov/var and rho-squared from EXACT integer moment sums (the "
    "summation-order-free device), then per-arm raw and "
    "CUPED-adjusted means plus the delta-method lift CI (1.96 x SE "
    "of the adjusted-mean difference; per-arm adjusted variances "
    "from the same integer moments) via one pinned-op-order double "
    "chain. One "
    "pushed-filter events scan, one user shuffle, one 1-row moment "
    "reduce; the 2-row readout is a projection of that broadcast "
    "row.",
)
def events_cuped_ab_adjustment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = read_parquet(spark, f"{sf_dir}/events.parquet").filter(
        F.col("event_type") == METRIC_EVENT
    )
    cents = F.round(F.col("value") * 100, 0).cast("long")
    pre = F.col("ts") < F.lit(PERIOD_SPLIT).cast("timestamp")
    per_user = e.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(pre, cents)), F.lit(0))
        .cast("long")
        .alias("x"),
        F.coalesce(F.sum(F.when(~pre, cents)), F.lit(0))
        .cast("long")
        .alias("y"),
    ).select(
        "user_id",
        (F.col("user_id") % 2).cast("long").alias("variant"),
        "x",
        "y",
    )
    return cuped_readout(per_user)
