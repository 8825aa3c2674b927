"""Data-quality operators: column profiling (ANALYZE-shape) and
declarative constraint checks (dbt-test-shape) — the validation layer
every production pipeline runs between ingest and publish.

Both are single-pass aggregations: profiling computes all column
stats in one scan (one partial-agg shuffle of a handful of rows);
constraint checks are counts of violating rows (anti-joins for
referential integrity), unioned into one (check_name, n_violations)
report. At 100 TB each check is a pushed-filter scan or one keyed
semi/anti join — no full materialization anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.functions.strings import (
    normalize_ws_lower,
    ws_norm_sql,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format numeric column profile: one row per column with
    count / nulls / distincts / min / max. All columns profiled in a
    SINGLE aggregation pass (one job, one tiny shuffle), then pivoted
    to long form with a union of 1-row projections."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}"),
            F.countDistinct(c).alias(f"__dist_{c}"),
            F.round(F.min(F.col(c).cast("double")), 2).alias(f"__min_{c}"),
            F.round(F.max(F.col(c).cast("double")), 2).alias(f"__max_{c}"),
        ]
    wide = df.agg(*aggs)
    parts = [
        wide.select(
            F.lit(c).alias("col_name"),
            F.col(f"__n_{c}").alias("n_rows"),
            F.col(f"__null_{c}").cast("long").alias("n_null"),
            F.col(f"__dist_{c}").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dq_profile_orders",
    """
WITH w AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_tp,
         count(DISTINCT o_totalprice) AS dist_tp,
         round(min(CAST(o_totalprice AS DOUBLE)), 2) AS min_tp,
         round(max(CAST(o_totalprice AS DOUBLE)), 2) AS max_tp,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ck,
         count(DISTINCT o_custkey) AS dist_ck,
         round(min(CAST(o_custkey AS DOUBLE)), 2) AS min_ck,
         round(max(CAST(o_custkey AS DOUBLE)), 2) AS max_ck
  FROM orders)
SELECT 'o_totalprice' AS col_name, n AS n_rows, null_tp AS n_null,
       dist_tp AS n_distinct, min_tp AS min_value, max_tp AS max_value FROM w
UNION ALL
SELECT 'o_custkey', n, null_ck, dist_ck, min_ck, max_ck FROM w
""",
    doc="Column profiling (ANALYZE shape): count/null/distinct/min/max "
    "for orders columns, ALL computed in one aggregation pass — the "
    "ingest-side stats a catalog or optimizer wants, with one scan.",
)
def dq_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    return profile_columns(o, ["o_totalprice", "o_custkey"])


@register(
    "dq_constraint_checks",
    """
SELECT 'orders_pk_unique' AS check_name,
       CAST((SELECT count(*) FROM (
          SELECT o_orderkey FROM orders GROUP BY o_orderkey
          HAVING count(*) > 1)) AS BIGINT) AS n_violations
UNION ALL
SELECT 'lineitem_fk_orders',
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
UNION ALL
SELECT 'lineitem_quantity_positive',
       CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT)
UNION ALL
SELECT 'orders_totalprice_nonnegative',
       CAST((SELECT count(*) FROM orders WHERE o_totalprice < 0) AS BIGINT)
""",
    doc="Declarative constraint checks (dbt-test shape): primary-key "
    "uniqueness, lineitem->orders referential integrity (anti-join), "
    "and range assertions, unioned into one (check, n_violations) "
    "report. The fixture satisfies all four (all zeros) — and the "
    "oracle proves the CHECKS agree, not just the happy counts.",
)
def dq_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    l = read_parquet(spark, f"{sf_dir}/lineitem.parquet")

    dup_pk = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    orphans = (
        l.join(o, l.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_violations"))
    )
    bad_qty = l.filter(F.col("l_quantity") <= 0).agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    neg_price = o.filter(F.col("o_totalprice") < 0).agg(
        F.count(F.lit(1)).alias("n_violations")
    )

    def tag(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("check_name"), F.col("n_violations")
        )

    return (
        tag(dup_pk, "orders_pk_unique")
        .unionByName(tag(orphans, "lineitem_fk_orders"))
        .unionByName(tag(bad_qty, "lineitem_quantity_positive"))
        .unionByName(tag(neg_price, "orders_totalprice_nonnegative"))
    )


@register(
    "orders_incremental_rollup_refresh",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY o_orderpriority
""",
    doc="Incremental view maintenance: the Spark side maintains the "
    "per-priority rollup as BASE STATE (the already-ingested "
    "o_orderkey%10<9 slice, aggregated once) REFRESHED by a delta "
    "batch (the remaining 10%) through the count/sum combine algebra "
    "— union the state with the delta's partial aggregate and re-sum. "
    "The ORACLE is the full recompute over all orders, so hash "
    "equality IS the proof that the delta-refresh algebra produces "
    "exactly the from-scratch answer (the correctness contract of "
    "every streaming/MERGE rollup). Refresh cost is delta-"
    "proportional: the base slice aggregates once into k rows and "
    "only those k rows re-enter the combine.",
)
def orders_incremental_rollup_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    o = read_parquet(spark, f"{sf_dir}/orders.parquet")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(cents).cast("bigint").alias("total_cents"),
        )

    base_state = agg(o.filter(F.col("o_orderkey") % 10 < 9))
    delta = agg(o.filter(F.col("o_orderkey") % 10 >= 9))
    return (
        base_state.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("total_cents").cast("bigint").alias("total_cents"),
        )
    )


@register(
    "docs_erasure_propagation",
    f"""
WITH dels AS (SELECT doc_id FROM documents WHERE doc_id % 97 = 0),
docs2 AS (
  SELECT d.* FROM documents d LEFT JOIN dels ON d.doc_id = dels.doc_id
  WHERE dels.doc_id IS NULL),
idx AS (
  SELECT md5({ws_norm_sql('text')}) AS f,
         doc_id
  FROM documents),
idx2 AS (
  SELECT i.* FROM idx i LEFT JOIN dels ON i.doc_id = dels.doc_id
  WHERE dels.doc_id IS NULL)
SELECT CAST((SELECT count(*) FROM dels) AS BIGINT) AS n_requests,
       CAST((SELECT count(*) FROM docs2) AS BIGINT) AS docs_left,
       CAST((SELECT count(*) FROM docs2 JOIN dels
             ON docs2.doc_id = dels.doc_id) AS BIGINT) AS docs_residual,
       CAST((SELECT count(*) FROM idx2) AS BIGINT) AS index_left,
       CAST((SELECT count(*) FROM idx2 JOIN dels
             ON idx2.doc_id = dels.doc_id) AS BIGINT) AS index_residual
""",
    doc="Right-to-be-forgotten propagation: a deletion list "
    "(doc_id%97=0 stands in for the request queue) is erased from the "
    "primary table AND the derived digest index by broadcast "
    "anti-joins, and the entry EMITS its own audit — residual counts "
    "of deleted ids in every surviving artifact (must be 0) next to "
    "the surviving sizes. The production shape: erasure is an "
    "anti-join (never a rewrite-time filter someone forgets), derived "
    "artifacts are co-erased in the same transaction, and the audit "
    "is computed from the erased outputs, not assumed. At 100 TB the "
    "deletion list broadcasts (requests are small) and each anti-join "
    "is one pushed-filter scan.",
)
def docs_erasure_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    dels = d.filter(F.col("doc_id") % 97 == 0).select("doc_id")
    docs2 = d.join(F.broadcast(dels), "doc_id", "left_anti")
    norm = normalize_ws_lower(F.col("text"))
    idx = d.select(F.md5(norm).alias("f"), "doc_id")
    idx2 = idx.join(F.broadcast(dels), "doc_id", "left_anti")

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("bigint").alias(name))

    return (
        cnt(dels, "n_requests")
        .crossJoin(cnt(docs2, "docs_left"))
        .crossJoin(
            cnt(
                docs2.join(F.broadcast(dels), "doc_id", "left_semi"),
                "docs_residual",
            )
        )
        .crossJoin(cnt(idx2, "index_left"))
        .crossJoin(
            cnt(
                idx2.join(F.broadcast(dels), "doc_id", "left_semi"),
                "index_residual",
            )
        )
    )
