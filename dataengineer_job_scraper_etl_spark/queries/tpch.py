"""Star-schema analytics (SURVEY §2.10 + §7 stage 3): joins (broadcast
+ shuffle), aggregations, windows, rollup/cube, top-k, set ops — the
relational surface the reference's downstream dashboard implies, at
engine quality.

Scale notes (100 TB posture, local-verified via .explain):
- dimension tables (region/nation/supplier/part/customer) are
  broadcast — no shuffle on the fact side for those joins; AQE would
  pick this anyway at runtime, we make it explicit.
- aggregates are partial (map-side combine) by construction — groupBy
  on low-cardinality keys shuffles only (key, partial) rows.
- money/quantity sums are ORDER-INDEPENDENT exact: per-row
  DECIMAL(30,6) quantization + exact decimal sum + one final cast
  (see _xsum) — round(sum(double)) flips rounding boundaries under
  summation-order drift at sf1 (caught by the round-6 sweep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def _xsum(x):
    """Order-independent exact sum of a money/quantity double, emitted
    as DOUBLE: per-row quantization to DECIMAL(30,6) recovers the
    exact <=6-dp decimal value (the double is within ~1e-11 of it,
    identically on both engines, never at a grid half-point), the
    decimal sum is exact under any partitioning, and only one final
    cast touches doubles. The round-6 sf1 sweep caught the prior
    round(sum(double), 2) formulation flipping a 2-dp boundary under
    6M-row summation-order drift (q1 sum_charge). SQL twin:
    CAST(CAST(sum(CAST(x AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE).

    The VARCHAR hop in the twin is load-bearing: once the scale-6
    scaled integer exceeds 2^53 (sums past ~9e9), DuckDB's direct
    decimal->double cast double-rounds (int128 -> double, then /1e6:
    two roundings), while Spark's Decimal.toDouble goes through
    BigDecimal.doubleValue, which is correctly rounded; the two can
    land on ADJACENT doubles (sf1 q1 sum_charge: 43579985256.93967 vs
    ...674). A string parse is correctly rounded too, so with the hop
    both engines emit the bit-identical nearest double of the same
    exact decimal at any magnitude.

    Emit the result UNROUNDED: with the hop both engines produce
    bit-identical doubles, so rounding adds nothing — and a coarse
    final round is actively harmful, because exact sums routinely
    land ON decimal half-points where Spark (shortest-string HALF_UP)
    and DuckDB (binary-value round) disagree (.865 -> .87 vs .86;
    measured on q7/q9 at sf1). Round only to absorb nondeterminism;
    there is none left here."""
    c = F.col(x) if isinstance(x, str) else x
    return F.sum(c.cast("decimal(30,6)")).cast("double")


def _xavg(x):
    """Exact-sum / non-null-count average (same rationale as _xsum;
    count twin keeps avg's null semantics)."""
    c = F.col(x) if isinstance(x, str) else x
    return _xsum(c) / F.count(c)



@register(
    "tpch_q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)                                   AS sum_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)                              AS sum_base_price,
       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)           AS sum_disc_price,
       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)
                                                                   AS sum_charge,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(l_quantity)                                   AS avg_qty,
       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(l_extendedprice)                              AS avg_price,
       CAST(CAST(sum(CAST(l_discount AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / count(l_discount)                                   AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H Q1 shape: scan -> filter(pushed to parquet) -> partial agg "
    "-> 2-key groupBy. 8 aggregates in one pass.",
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _xsum("l_quantity").alias("sum_qty"),
            _xsum("l_extendedprice").alias("sum_base_price"),
            _xsum(disc_price).alias("sum_disc_price"),
            _xsum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            _xavg("l_quantity").alias("avg_qty"),
            _xavg("l_extendedprice").alias("avg_price"),
            _xavg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    """
SELECT o.o_orderkey, CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
""",
    doc="TPC-H Q3 shape: selective dim filter -> join -> agg -> top-k. "
    "customer is broadcast; only orders><lineitem shuffles on o_orderkey.",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_region_revenue",
    """
SELECT n.n_name, CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, n_name ASC
""",
    doc="TPC-H Q5 shape: 5-way star join; all dims broadcast, single "
    "shuffle join orders><lineitem.",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    dim = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dim), o.o_custkey == dim.c_custkey)
        .groupBy("n_name")
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@register(
    "join_semi_customers_with_orders",
    """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Left-semi join (EXISTS decorrelation is free in Catalyst).",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti_customers_without_urgent_orders",
    """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
""",
    doc="Left-anti join (predicate chosen so the result is non-empty at "
    "every sf — every customer has *some* order in the fixture).",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "window_top3_orders_per_customer",
    """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders)
WHERE rn <= 3
""",
    doc="Top-k per group via ranking window; deterministic tiebreak on "
    "o_orderkey. One shuffle on the partition key.",
)
def window_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return grouped_topk(
        o, ["o_custkey"], [F.desc("o_totalprice"), F.asc("o_orderkey")], 3,
        rank_col="rn",
    ).select("o_custkey", "o_orderkey", "o_totalprice", "rn")


@register(
    "window_order_gap_days",
    """
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey),
                 o_orderdate) AS gap_days
FROM orders
""",
    doc="lag() analytics: days since the customer's previous order.",
)
def window_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.to_date("o_orderdate"), F.to_date(prev)).alias("gap_days"),
    )


@register(
    "rollup_order_totals",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total, count(*) AS n
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
    doc="ROLLUP grouping sets (SURVEY §2.10).",
)
def rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        _xsum("o_totalprice").alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "cube_lineitem_flags",
    """
SELECT l_returnflag, l_linestatus,
       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty, count(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    doc="CUBE grouping sets.",
)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        _xsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "topk_expensive_orders",
    """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
""",
    doc="Global top-k: TakeOrderedAndProject, no full sort at scale.",
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    ).limit(25)


@register(
    "agg_distinct_counts",
    """
SELECT count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderpriority) AS n_priorities,
       count(*) AS n_orders
FROM orders
""",
    doc="Exact distinct aggregation (expand + two-phase agg in Spark).",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "pivot_status_by_priority",
    """
SELECT o_orderpriority,
       coalesce(CAST(CAST(sum(CAST(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE), 0) AS F,
       coalesce(CAST(CAST(sum(CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE), 0) AS O,
       coalesce(CAST(CAST(sum(CAST(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE), 0) AS P
FROM orders GROUP BY o_orderpriority
""",
    doc="Pivot with explicit value list (no extra distinct-values job).",
)
def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.coalesce(_xsum("o_totalprice"), F.lit(0.0)))
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("F"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("O"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("P"),
    )


@register(
    "agg_approx_distinct_tol",
    """
SELECT abs(approx_count_distinct(o_custkey) - count(DISTINCT o_custkey)) * 1.0
         / count(DISTINCT o_custkey) < 0.1 AS custkey_within_tol,
       approx_count_distinct(o_orderpriority) = count(DISTINCT o_orderpriority)
         AS priority_exact_small
FROM orders
""",
    doc="approx_count_distinct (SURVEY §2.10): each engine runs its OWN "
    "HLL sketch (Spark HLL++, DuckDB HyperLogLog — raw estimates are "
    "not comparable across engines), so the oracle-checked contract is "
    "the relative-error bound: estimate within 10% of the exact count "
    "(measured ~1% on this data), and exact agreement in the "
    "small-cardinality regime where both sketches degenerate to exact.",
)
def agg_approx_distinct_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.approx_count_distinct("o_custkey").alias("ac"),
        F.countDistinct("o_custkey").alias("ec"),
        F.approx_count_distinct("o_orderpriority").alias("ap"),
        F.countDistinct("o_orderpriority").alias("ep"),
    )
    return agg.select(
        (
            F.abs(F.col("ac") - F.col("ec")) / F.col("ec") < 0.1
        ).alias("custkey_within_tol"),
        (F.col("ap") == F.col("ep")).alias("priority_exact_small"),
    )


@register(
    "tpch_q4_order_priority_exists",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""",
    doc="TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join "
    "on the fact key (Catalyst decorrelates; no row multiplication "
    "from multi-match lineitems), then a low-cardinality agg. "
    "Predicate adapted to this fixture's columns (no l_commitdate).",
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_forecast_revenue",
    """
SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
""",
    doc="TPC-H Q6 shape: highly selective conjunctive filter -> global "
    "agg. All three predicates reach the parquet scan (PushedFilters); "
    "the agg is a single partial+final pass with no groupBy shuffle "
    "(one exchange of one partial row per partition).",
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            _xsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "tpch_q13_customer_order_distribution",
    """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey)
GROUP BY c_count
""",
    doc="TPC-H Q13 shape: left outer join with a join-side predicate "
    "(kept in the ON clause — moving it to WHERE would change outer "
    "semantics), per-customer count incl. zero, then the distribution "
    "agg. Two shuffles total (join key, then tiny c_count agg).",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left_outer",
        )
        .groupBy(c["c_custkey"])
        .agg(F.count(o["o_orderkey"]).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "set_intersect_customers",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
    doc="INTERSECT set op: customers with both a finished and an open "
    "order. Spark plans a left-semi aggregate join (distinct both "
    "sides, hash-join on the full row) — one shuffle per side on the "
    "set key.",
)
def set_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(op)


@register(
    "set_except_customers",
    """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
""",
    doc="EXCEPT set op: customers with finished orders and no open "
    "ones (left-anti aggregate join).",
)
def set_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    op = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(op)  # subtract == EXCEPT DISTINCT


@register(
    "unpivot_lineitem_measures",
    """
SELECT l_orderkey, l_linenumber, measure, round(val, 2) AS val
FROM (
  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
  FROM lineitem WHERE l_orderkey < 100
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
  FROM lineitem WHERE l_orderkey < 100)
""",
    doc="Unpivot/melt (wide -> long): df.unpivot is a single Expand "
    "node — one pass over the input emitting 3 rows per input row, no "
    "join, no shuffle; the oracle mirrors with UNION ALL arms.",
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_tax"],
        "measure",
        "val",
    )
    return out.withColumn("val", F.round("val", 2))


@register(
    "events_value_percentiles",
    """
WITH ev AS (SELECT event_type, value FROM events)
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM ev GROUP BY event_type
""",
    doc="Exact interpolated percentiles per group: Spark percentile() "
    "== DuckDB quantile_cont (both linear interpolation). Exact "
    "percentile is a full-sort-per-group aggregate — at 100 TB swap "
    "in approx_percentile (t-digest, mergeable partial aggs) and "
    "widen the tolerance check like agg_approx_distinct_tol.",
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.events import _events

    e = _events(spark, sf_dir)
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9D)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99D)"), 4).alias("p99"),
    )


@register(
    "grouping_sets_orders",
    """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="GROUPING SETS (the general form of rollup/cube): one Expand "
    "node emits a row per set per input row, then a single partial+ "
    "final agg — not three scans. SQL API surface (spark.sql).",
)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "window_rolling_30day_spend",
    """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate
         RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS spend_30d
FROM orders WHERE o_custkey < 200
""",
    doc="RANGE-frame window with a time interval (rolling 30-day spend "
    "per customer): value-based frame bounds, not row counts — ties on "
    "o_orderdate share a frame, so the result is order-insensitive and "
    "oracle-safe. One shuffle on o_custkey.",
)
def window_rolling_30day_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v2")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate
                 RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS spend_30d
        FROM orders_v2 WHERE o_custkey < 200
        """
    )


# ----------------------------------------------------------------------
# Round-3 battery: the remaining TPC-H shapes expressible over the
# fixture schema (no partsupp / shipmode / comment columns exist, so
# Q2/Q11/Q12/Q16/Q20 have no faithful rendering; Q9/Q19/Q22 are
# adapted and say so). Same conventions: dims broadcast, doubles
# rounded in-query on both engines, count-sums cast to BIGINT.


@register(
    "tpch_q7_volume_shipping",
    """
SELECT supp_nation, cust_nation, l_year, CAST(CAST(sum(CAST(volume AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
""",
    doc="TPC-H Q7: bilateral trade volume between two nations by year. "
    "supplier/customer/nation all broadcast; lineitem><orders is the "
    "only shuffle join.",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_xsum("volume").alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    """
SELECT o_year,
       CAST(CAST(sum(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(CAST(volume AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
  JOIN region r   ON n1.n_regionkey = r.r_regionkey
  JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
""",
    doc="TPC-H Q8: one nation's share of ECONOMY-part revenue sold "
    "into ASIA, by order year. 7-way star join, every dim broadcast, "
    "one fact shuffle.",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            (
                _xsum(
                    F.when(F.col("supp_nation") == "NATION_1", F.col("volume"))
                    .otherwise(F.lit(0.0))
                )
                / _xsum("volume")
            ).alias("mkt_share")
        )
    )


@register(
    "tpch_q9_product_profit",
    """
SELECT nation, o_year, CAST(CAST(sum(CAST(amount AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE p.p_type = 'STANDARD'
) profit
GROUP BY nation, o_year
""",
    doc="TPC-H Q9 (adapted: fixture has no partsupp, so profit = "
    "revenue without ps_supplycost): STANDARD-part revenue per "
    "supplier nation per order year.",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_xsum("amount").alias("sum_profit"))
    )


@register(
    "tpch_q10_returned_items",
    """
SELECT c.c_custkey, c.c_name,
       CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue,
       round(c.c_acctbal, 2) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1995-10-01'
  AND o.o_orderdate <  TIMESTAMP '1996-01-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    doc="TPC-H Q10: top-20 customers by revenue lost to returns in a "
    "quarter. Pushed filters on both fact inputs; nation broadcast.",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14_promo_revenue",
    """
SELECT 100.00 * CAST(CAST(sum(CAST(CASE WHEN p.p_type = 'PROMO'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS promo_revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
  AND l.l_shipdate <  TIMESTAMP '1995-10-01'
""",
    doc="TPC-H Q14: PROMO parts' share of one month's revenue. part "
    "broadcast, shipdate filter pushed to the scan, single global agg.",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * _xsum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / _xsum(rev)
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15_top_supplier",
    """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    doc="TPC-H Q15: supplier(s) with the quarter's max revenue. The "
    "max travels as a broadcast 1-row frame (same single-job pattern "
    "as TF-IDF's corpus size) — no driver-side collect, no global "
    "window sort.",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q18_large_orders",
    """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 2) AS o_totalprice,
       CAST(CAST(sum(CAST(l.l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 300)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100
""",
    doc="TPC-H Q18: customers with orders above 300 total quantity. "
    "The HAVING subquery is a semi-join against a pre-aggregated "
    "lineitem — map-side partial aggs on both branches, customer "
    "broadcast.",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_xsum("l_quantity").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q19_discounted_revenue",
    """
SELECT CAST(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#5'  AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
""",
    doc="TPC-H Q19 (adapted: fixture has no shipmode/shipinstruct): "
    "OR-of-ANDs brand/size/quantity predicates across the broadcast "
    "part join — the disjunctive-predicate join shape.",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#15")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#5")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            _xsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register(
    "tpch_q22_global_sales_opportunity",
    """
WITH pos AS (SELECT CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE)
                    / count(c_acctbal) AS a
             FROM customer WHERE c_acctbal > 0.0)
SELECT n.n_name AS cntry, CAST(count(*) AS BIGINT) AS numcust,
       CAST(CAST(sum(CAST(c.c_acctbal AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_nationkey IN (1, 3, 5, 7, 9)
  AND c.c_acctbal > (SELECT a FROM pos)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
""",
    doc="TPC-H Q22 (adapted: nation subset stands in for the phone "
    "country codes the fixture lacks, and 'no urgent orders' for 'no "
    "orders' so the fixture yields a non-empty answer): above-average-"
    "balance customers with no urgent orders. Scalar avg broadcast, "
    "anti-join against the filtered orders.",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 3, 5, 7, 9)
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    n = _t(spark, sf_dir, "nation")
    # exact-sum avg: the threshold comparison below must not drift
    # (a boundary customer flipping membership is a row-set change,
    # not just a rounded-digit change)
    avg_bal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .agg(_xavg("c_acctbal").alias("__avg_bal"))
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(o, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _xsum("c_acctbal").alias("totacctbal"),
        )
    )


@register(
    "window_ntile_customer_quartiles",
    """
SELECT o_orderkey, o_custkey,
       ntile(4) OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS quartile
FROM orders
""",
    doc="ntile window: per-customer spend quartiles. Partition-local "
    "ranking — one shuffle on o_custkey, no global sort.",
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey", "o_custkey", F.ntile(4).over(w).alias("quartile")
    )


@register(
    "window_percentrank_event_values",
    """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
""",
    doc="percent_rank + cume_dist windows over event values per type "
    "(deterministic via the event_id tiebreak). One shuffle on "
    "event_type.",
)
def window_percentrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.queries.events import _events

    e = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.asc("value"), F.asc("event_id"))
    return e.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )
