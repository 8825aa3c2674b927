"""TPC-H battery completion: Q2, Q11, Q12, Q16, Q17, Q20, Q21
(adapted) — with these the catalog covers all 22 TPC-H query shapes.

The fixture schema is TPC-H-ish, not TPC-H: there is no partsupp
table and lineitem lacks commitdate/receiptdate/shipmode. Each query
here keeps the REFERENCE SHAPE of its TPC-H namesake (correlated min
subquery, global scalar threshold, conditional-sum CASE, NOT-IN
exclusion + distinct count, correlated avg, chained semi-joins,
exists/not-exists self-join) with predicates adapted to the fixture's
columns; the adaptation is stated per-query.

partsupp is DERIVED deterministically from lineitem on both engines:
``ps_supplycost = min(l_extendedprice)`` is an exact column value
(bit-identical across engines — safe for the equality predicates Q2
needs), and ``ps_availqty = sum(l_quantity)`` sums integral doubles
(exact for any summation order), cast to bigint.

Scale notes (100 TB posture):
- the derived ps is one map-side-combined groupBy of the fact table;
  at scale it would be a materialized/bucketed table — derivation here
  keeps the fixture self-contained.
- every dimension join (part/supplier/nation/region) is broadcast;
  only fact-fact operations shuffle, always on the join/group key.
- Q21's EXISTS / NOT EXISTS pair is rewritten as ONE window pass over
  the order key (collect_set cardinalities) instead of two non-equi
  self-joins of lineitem — the oracle keeps the textbook correlated
  EXISTS form, so the differential check proves the rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


_PS_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost,
         CAST(sum(l_quantity) AS BIGINT) AS ps_availqty
  FROM lineitem GROUP BY 1, 2
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see module docstring)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min("l_extendedprice").alias("ps_supplycost"),
            F.sum("l_quantity").cast("bigint").alias("ps_availqty"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    f"""
WITH ps AS ({_PS_SQL}),
eur AS (
  SELECT ps_partkey, ps_suppkey, ps_supplycost, s_acctbal, s_name, n_name
  FROM ps
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  JOIN region   ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE')
SELECT e1.s_acctbal, e1.s_name, e1.n_name, p.p_partkey, p.p_name,
       e1.ps_suppkey, e1.ps_supplycost
FROM eur e1 JOIN part p ON p.p_partkey = e1.ps_partkey
WHERE p.p_size <= 15 AND p.p_type = 'ECONOMY'
  AND e1.ps_supplycost = (SELECT min(e2.ps_supplycost) FROM eur e2
                          WHERE e2.ps_partkey = e1.ps_partkey)
ORDER BY e1.s_acctbal DESC, e1.n_name, e1.s_name, p.p_partkey, e1.ps_suppkey
LIMIT 100
""",
    doc="TPC-H Q2 shape (min-cost supplier per part in a region): the "
    "correlated min subquery becomes a window min over ps_partkey + "
    "equality filter — one shuffle on ps_partkey, no decorrelated "
    "re-join. supplier/nation/region/part all broadcast. Fully "
    "tiebroken ORDER BY so LIMIT 100 is deterministic across engines. "
    "Predicates adapted: p_type = 'ECONOMY', p_size <= 15 (fixture "
    "has no 'BRASS' types).",
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY")
    )
    eur = (
        ps.join(F.broadcast(s), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eur.withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "ps_suppkey", "ps_supplycost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "ps_suppkey"
        )
        .limit(100)
    )


@register(
    "tpch_q11_important_stock",
    f"""
WITH ps AS ({_PS_SQL}),
val AS (
  SELECT ps_partkey,
         round(sum(ps_supplycost * ps_availqty), 2) AS stock_value
  FROM ps
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
  GROUP BY ps_partkey)
SELECT ps_partkey, stock_value
FROM val
WHERE stock_value > (SELECT 1.5 * avg(stock_value) FROM val)
""",
    doc="TPC-H Q11 shape (group-HAVING against a global scalar "
    "threshold): the uncorrelated scalar subquery travels as a "
    "broadcast 1-row frame (crossJoin), never a driver collect. "
    "Threshold adapted to 1.5x the mean per-part stock value so the "
    "predicate is scale-invariant (the original's 0.0001/SF fraction "
    "is meaningless at a fixture's part counts).",
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin([f"NATION_{i}" for i in range(5)])
    )
    val = (
        ps.join(F.broadcast(s), F.col("s_suppkey") == F.col("ps_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("ps_partkey")
        .agg(
            F.round(
                F.sum(F.col("ps_supplycost") * F.col("ps_availqty")), 2
            ).alias("stock_value")
        )
    )
    thresh = val.agg((F.avg("stock_value") * 1.5).alias("__thresh"))
    return (
        val.crossJoin(F.broadcast(thresh))
        .filter(F.col("stock_value") > F.col("__thresh"))
        .select("ps_partkey", "stock_value")
    )


@register(
    "tpch_q12_late_shipment_priority",
    """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q12 shape (conditional-sum CASE split by priority over "
    "a fact-fact join): one shuffle join on the order key, then a "
    "map-side-combined 2-key agg. 'Late' adapted to shipdate >= "
    "orderdate + 60 days (fixture has no shipmode/commitdate/"
    "receiptdate); grouped by returnflag+linestatus instead of "
    "shipmode.",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0))
            .cast("bigint")
            .alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0))
            .cast("bigint")
            .alias("low_line_count"),
        )
    )


@register(
    "tpch_q16_supplier_part_variety",
    f"""
WITH ps AS ({_PS_SQL})
SELECT p_brand, p_type, p_size,
       count(DISTINCT ps_suppkey) AS supplier_cnt
FROM ps JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
""",
    doc="TPC-H Q16 shape (supplier variety per part attribute with a "
    "NOT-IN supplier exclusion): the NOT IN becomes a broadcast "
    "left_anti join (the excluded set is tiny), part is broadcast, "
    "then a 3-key distinct-count agg — Spark plans "
    "partial-distinct-then-count, shuffling only (keys, suppkey). "
    "Exclusion adapted: negative account balance stands in for the "
    "'%Customer%Complaints%' comment regex (fixture has no comments).",
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        ps.join(
            F.broadcast(bad_supp),
            F.col("ps_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(p), F.col("p_partkey") == F.col("ps_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
                      WHERE l2.l_partkey = l.l_partkey)
""",
    doc="TPC-H Q17 shape (correlated per-part average quantity "
    "threshold): the correlated avg decorrelates into one "
    "map-side-combined groupBy(l_partkey) over lineitem joined back "
    "on the part key — both sides of that join shuffle once on "
    "l_partkey; part is broadcast. l_quantity is integral, so both "
    "engines' avg is an exact-sum division and the 0.2x threshold "
    "compares identically. p_container predicate dropped (absent); "
    "brand filter kept.",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("__qty_thresh")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(per_part, F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly")
        )
    )


@register(
    "tpch_q20_excess_stock_suppliers",
    f"""
WITH ps AS ({_PS_SQL})
SELECT s_name, n_name
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
  AND s_suppkey IN (
    SELECT ps_partkey_supp.ps_suppkey FROM ps ps_partkey_supp
    WHERE ps_partkey_supp.ps_partkey IN
          (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND ps_partkey_supp.ps_availqty >
          (SELECT 0.5 * sum(l_quantity) FROM lineitem
           WHERE l_partkey = ps_partkey_supp.ps_partkey
             AND l_suppkey = ps_partkey_supp.ps_suppkey
             AND l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate <  TIMESTAMP '1997-01-01'))
ORDER BY s_name
""",
    doc="TPC-H Q20 shape (chained IN-subqueries: suppliers holding "
    "excess stock of name-matched parts): both INs become left_semi "
    "joins; the correlated one-year demand sum decorrelates into a "
    "filtered groupBy on (partkey, suppkey) inner-joined back (inner "
    "join = the NULL-excluding semantics of the correlated "
    "comparison). Part-name filter broadcast; the only shuffles are "
    "the two (part,supp)-key aggs. 'forest%' -> 'small%' (fixture "
    "part names).",
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = _partsupp(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin([f"NATION_{i}" for i in range(5)])
    )
    year_demand = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("__dk"), F.col("l_suppkey").alias("__ds")
        )
        .agg((F.sum("l_quantity") * 0.5).alias("__half_demand"))
    )
    excess = (
        ps.join(
            F.broadcast(p.select("p_partkey")),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            year_demand,
            (F.col("ps_partkey") == F.col("__dk"))
            & (F.col("ps_suppkey") == F.col("__ds")),
        )
        .filter(F.col("ps_availqty") > F.col("__half_demand"))
        .select("ps_suppkey")
    )
    return (
        s.join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@register(
    "tpch_q21_waiting_suppliers",
    """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders     ON o_orderkey = l1.l_orderkey
JOIN nation     ON n_nationkey = s_nationkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= o_orderdate + INTERVAL 90 DAY)
  AND n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    doc="TPC-H Q21 shape (suppliers who alone kept a multi-supplier "
    "order waiting — EXISTS + NOT EXISTS self-joins). Spark rewrite: "
    "ONE window pass over l_orderkey computing "
    "size(collect_set(suppkey)) and size(collect_set(late suppkey)); "
    "a row qualifies iff it is late, >=2 suppliers touched the order, "
    "and exactly 1 supplier (necessarily this one) was late — "
    "equivalent to the two correlated quantifiers but with a single "
    "shuffle instead of two non-equi self-joins of the fact table. "
    "The oracle keeps the textbook EXISTS form, so the differential "
    "check proves the rewrite. 'Late' adapted to shipdate >= "
    "orderdate + 90 days.",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin([f"NATION_{i}" for i in range(5)])
    )
    late = F.col("l_shipdate") >= F.col("o_orderdate") + F.expr(
        "INTERVAL 90 DAYS"
    )
    w = Window.partitionBy("l_orderkey")
    lo = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("__late", late)
        .withColumn("__n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "__n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("__late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
    )
    dim = s.join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
    return (
        lo.filter(
            F.col("__late")
            & (F.col("__n_supp") >= 2)
            & (F.col("__n_late_supp") == 1)
        )
        .join(F.broadcast(dim), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )
