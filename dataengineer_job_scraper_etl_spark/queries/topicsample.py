"""Topic-balanced sampling: equal per-topic quotas over the hashed-TF
k-means buckets (LLM-curation extension, SURVEY §2.10/§2.20).

The curation step after topic bucketing: a pretraining mixture (or an
eval set) wants each topic represented by AT MOST a fixed quota, so a
dominant topic cannot swamp the sample — the per-topic complement of
corpus_pipeline_allsource_mixture's per-SOURCE rates. Composes
docs_hashtf_kmeans_topics (queries/topics.py) verbatim as the stratum
source; within each topic the quota is filled by DETERMINISTIC hash
rank — md5 hex digits 17-20 of doc_id, a window disjoint from every
other sampling device (split uses digit 1, the mixture sampler 5-8,
the uniform sampler 9-16, k-fold 21-28), so balancing composes with
any of them without correlation. Rank ties (4 hex digits = 65,536
values; a 300-doc corpus already has ~50% birthday-collision odds)
break on doc_id, making membership total-ordered and stable forever.

Built and verified hash-green in round 11, reverted to protect the
last r6 audit-drain slot (PLANS.md r11 wrap); re-landed per VERDICT
r11 ask #3. The quota is one ``grouped_topk`` window over topic, which
Catalyst prunes map-side (operators/topk.py), so no stratum reaches a
single task whole.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk
from dataengineer_job_scraper_etl_spark.queries.topics import (
    _TOPICS_ORACLE,
    docs_hashtf_kmeans_topics,
)

_QUOTA = 30  # docs kept per topic

_BALANCED_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, topic FROM ({_TOPICS_ORACLE}) q),
ranked AS (
  SELECT doc_id, topic,
         row_number() OVER (
           PARTITION BY topic
           ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 17, 4),
                    doc_id) AS rn
  FROM assigned)
SELECT doc_id, CAST(topic AS BIGINT) AS topic,
       CAST(rn AS BIGINT) AS sample_rank
FROM ranked WHERE rn <= {_QUOTA}
"""


def topic_balanced_quota(
    assigned: DataFrame, quota: int = _QUOTA
) -> DataFrame:
    """(doc_id, topic) -> the per-topic top-``quota`` rows by the
    deterministic hash rank (doc_id tiebreak)."""
    rank_key = F.substring(F.md5(F.col("doc_id").cast("string")), 17, 4)
    return grouped_topk(
        assigned, ["topic"], [rank_key, "doc_id"], quota,
        rank_col="sample_rank",
    ).select(
        "doc_id",
        F.col("topic").cast("bigint").alias("topic"),
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
    )


@register(
    "docs_topic_balanced_sample",
    _BALANCED_ORACLE,
    doc="Topic-balanced sampling (VERDICT r11 ask #3 re-land): at most "
    "30 docs per hashed-TF k-means topic, filled by deterministic "
    "md5-digit-17-20 rank with doc_id tiebreak — stratum source is "
    "docs_hashtf_kmeans_topics verbatim, the hash window is disjoint "
    "from every other sampling device, and the quota is one grouped "
    "top-k window that Catalyst prunes map-side.",
)
def docs_topic_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return topic_balanced_quota(docs_hashtf_kmeans_topics(spark, sf_dir))
