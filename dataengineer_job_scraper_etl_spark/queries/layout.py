"""Physical-layout operators: Z-order locality buckets.

Demonstrates (and oracle-checks) the Morton-key arithmetic behind
``operators.zorder.write_zordered``: bucketing lineitem by the top
bits of a 2-D Z-curve over (l_orderkey, l_partkey) yields buckets
whose per-dimension min/max spans are BOTH much narrower than the full
key domain — exactly the property parquet zone maps exploit to prune
scans filtered on either column. The whole query is integer shift/and
arithmetic: one shuffle (the bucket groupBy), no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.zorder import (
    zorder_key,
    zorder_key_sql,
)

# 16 bits per dimension -> 32-bit Morton key. SCALE LIMIT (known,
# accepted for this oracle entry): keys above 65535 wrap under the
# mask, so at sf>=0.1 (lineitem l_orderkey reaches ~600k) distant key
# ranges alias into the same Z-bucket — the cross-engine hash still
# matches exactly (both engines wrap identically), but the per-bucket
# min/max "narrow span" property this entry demonstrates degrades.
# The PRODUCTION path does not share the limit: write_zordered
# (operators/zorder.py) derives bits from the actual key domain by
# default. This query keeps a FIXED width because the oracle SQL
# embeds the literal and the point is the arithmetic contract.
_ZBITS = 16
_BUCKET_SHIFT = 22  # top 10 bits -> up to 1024 Z-range buckets


@register(
    "lineitem_zorder_locality",
    f"""
WITH keyed AS (
  SELECT l_orderkey, l_partkey,
         ({zorder_key_sql(["l_orderkey", "l_partkey"], _ZBITS)}) AS zval
  FROM lineitem)
SELECT zval >> {_BUCKET_SHIFT} AS z_bucket,
       count(*) AS n,
       min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
       min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
FROM keyed GROUP BY 1
""",
    doc="Z-order layout buckets: Morton-interleave (l_orderkey, "
    "l_partkey) 16 bits each, bucket by the key's top bits, and report "
    "per-bucket row counts + per-dimension min/max spans. The narrow "
    "spans on BOTH dimensions are what makes a Z-ordered file layout "
    "prunable on either filter column (Delta/Iceberg OPTIMIZE ZORDER "
    "shape). Pure integer bit arithmetic — exact cross-engine.",
)
def lineitem_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    keyed = li.select(
        "l_orderkey",
        "l_partkey",
        zorder_key(["l_orderkey", "l_partkey"], _ZBITS).alias("zval"),
    )
    return (
        keyed.withColumn("z_bucket", F.shiftright("zval", _BUCKET_SHIFT))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
        )
    )
