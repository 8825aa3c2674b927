"""Join-optimization / join-variant entries:

- the explicit Bloom runtime filter (operators/bloomjoin.py)
  exercised end to end against its exact semi-join, with the
  one-sided-error contract oracle-checked. Every hash is an md5
  window, so DuckDB replays the identical filter — the bit positions,
  the bitmap membership, the false-positive set — and the driver
  hash-check covers the whole construction, not just row counts;
- the blocked fuzzy self-join (operators/fuzzyjoin.py) — the
  entity-resolution candidate/verify shape with Spark's levenshtein
  as verifier, which DuckDB implements identically, so the pair set
  is hash-checked exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.bloomjoin import (
    _OFFSETS,
    bloom_pass_flag,
    bloom_pos_sql,
    build_bloom_bitmap,
)

# Entry contract literals: 4096-bit filter (128 longs, 32 bits each,
# broadcast in the predicate), build side = BUILDING-segment customers. At sf0.01
# that's ~300 keys -> ~900 of 4096 bits set -> per-probe FP rate
# ~(900/4096)^3 ~ 1%: small enough to show real pruning, large
# enough that the false-positive rows the oracle must reproduce
# actually occur.
_M_BITS = 4096
_SEGMENT = "BUILDING"


def _bloom_oracle() -> str:
    p = [bloom_pos_sql("o_custkey", off, _M_BITS) for off in _OFFSETS]
    b = [bloom_pos_sql("c_custkey", off, _M_BITS) for off in _OFFSETS]
    return f"""
WITH build AS (
  SELECT DISTINCT c_custkey FROM customer
  WHERE c_mktsegment = '{_SEGMENT}'),
bpos AS (
  SELECT DISTINCT pos FROM (
    SELECT {b[0]} AS pos FROM build
    UNION ALL SELECT {b[1]} FROM build
    UNION ALL SELECT {b[2]} FROM build)),
flags AS (
  SELECT o_orderpriority, o_orderkey,
         o_custkey IN (SELECT c_custkey FROM build) AS is_exact,
         ({p[0]} IN (SELECT pos FROM bpos)
          AND {p[1]} IN (SELECT pos FROM bpos)
          AND {p[2]} IN (SELECT pos FROM bpos)) AS bloom_pass
  FROM orders)
SELECT o_orderpriority,
       CAST(sum(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(sum(CASE WHEN bloom_pass THEN o_orderkey ELSE 0 END) AS BIGINT)
         AS key_checksum,
       CAST(sum(CASE WHEN is_exact AND NOT bloom_pass THEN 1 ELSE 0 END)
         AS BIGINT) = 0 AS no_false_negatives
FROM flags GROUP BY o_orderpriority
"""


@register(
    "bloom_semi_prune_orders",
    _bloom_oracle(),
    doc="Explicit Bloom runtime filter (operators/bloomjoin.py): a "
    "4096-bit / 3-hash filter built from BUILDING-segment customer "
    "keys prunes the orders scan BEFORE any join. Per priority the "
    "entry emits the exact semi-join count, the bloom-pass count "
    "(exact + false positives), a checksum pinning the EXACT "
    "bloom-pass membership — md5-window hashing makes the filter "
    "engine-portable, so DuckDB reproduces the same false positives "
    "bit for bit — and no_false_negatives, the one-sided-error "
    "contract computed from the real flags, not assumed. Plan: the "
    "filter is a 128-long array literal (32 bits per long) folded "
    "into one codegen'd "
    "predicate (no join, no shuffle for the pruning itself); the "
    "is_exact flag is a broadcast left join against the ~300-key dim. "
    "At 100 TB this is the pre-shuffle kill that makes selective "
    "star joins cheap; the build-side collect is bounded by "
    "min(3*|build|, m) positions — filter-sized, never data-sized.",
)
def bloom_semi_prune_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    build = (
        cust.filter(F.col("c_mktsegment") == _SEGMENT)
        .select("c_custkey")
        .distinct()
    )
    bitmap = build_bloom_bitmap(build, "c_custkey", _M_BITS)
    flags = orders.join(
        F.broadcast(build.withColumn("__b", F.lit(1))),
        orders["o_custkey"] == build["c_custkey"],
        "left",
    ).select(
        "o_orderpriority",
        "o_orderkey",
        F.col("__b").isNotNull().alias("is_exact"),
        bloom_pass_flag(F.col("o_custkey"), bitmap, _M_BITS).alias(
            "bloom_pass"
        ),
    )
    return flags.groupBy("o_orderpriority").agg(
        F.sum(F.col("is_exact").cast("long")).cast("bigint").alias("n_exact"),
        F.sum(F.col("bloom_pass").cast("long"))
        .cast("bigint")
        .alias("n_bloom_pass"),
        F.sum(F.when(F.col("bloom_pass"), F.col("o_orderkey")).otherwise(0))
        .cast("bigint")
        .alias("key_checksum"),
        (
            F.sum(
                (F.col("is_exact") & ~F.col("bloom_pass")).cast("long")
            )
            == 0
        ).alias("no_false_negatives"),
    )


# The oracle is the bounded all-pairs formulation over DISTINCT names
# (the definition); the Spark side must reproduce it through the
# linear symmetric-delete blocking — completeness of the deletion
# neighborhood for dist <= 1 is exactly what hash equality proves.
_FUZZY_ORACLE = """
WITH n AS (
  SELECT p_name, count(*) AS cnt FROM part GROUP BY p_name),
pairs AS (
  SELECT a.p_name AS name_a, b.p_name AS name_b,
         levenshtein(a.p_name, b.p_name) AS dist,
         a.cnt * b.cnt AS n_part_pairs
  FROM n a JOIN n b ON a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= 1)
SELECT name_a, name_b,
       CAST(dist AS INTEGER) AS dist,
       CAST(n_part_pairs AS BIGINT) AS n_part_pairs
FROM pairs
"""


@register(
    "part_fuzzy_name_pairs",
    _FUZZY_ORACLE,
    doc="Entity-resolution fuzzy matching at the scalable formulation "
    "(operators/fuzzyjoin.py::symdelete_pairs): distinct part names "
    "within Levenshtein distance 1, found via symmetric-delete "
    "blocking — candidates only where two names share a 1-deletion "
    "variant (provably complete for dist <= 1), so candidate "
    "generation is LINEAR in distinct values where naive key-equality "
    "blocking is quadratic in block size (measured 46 s at sf0.1 for "
    "the noun-blocked variant vs ~1 s here: 64 distinct names in "
    "domain-sized blocks). ER runs on the DISTINCT-name frame — the "
    "row-level pair multiplicity is cnt_a*cnt_b, carried "
    "arithmetically (n_part_pairs), never materialized. The oracle is "
    "the bounded all-pairs definition; hash equality proves the "
    "blocking loses nothing.",
)
def part_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.operators.fuzzyjoin import (
        symdelete_pairs,
    )

    part = read_parquet(spark, f"{sf_dir}/part.parquet")
    counts = part.groupBy("p_name").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = symdelete_pairs(part, "p_name")
    return (
        pairs.join(
            counts.withColumnRenamed("p_name", "text_a").withColumnRenamed(
                "cnt", "cnt_a"
            ),
            "text_a",
        )
        .join(
            counts.withColumnRenamed("p_name", "text_b").withColumnRenamed(
                "cnt", "cnt_b"
            ),
            "text_b",
        )
        .select(
            F.col("text_a").alias("name_a"),
            F.col("text_b").alias("name_b"),
            F.col("dist").cast("int").alias("dist"),
            (F.col("cnt_a") * F.col("cnt_b"))
            .cast("bigint")
            .alias("n_part_pairs"),
        )
    )
