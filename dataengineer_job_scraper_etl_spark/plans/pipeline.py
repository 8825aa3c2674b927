"""EP1/EP3->EP2 assembled (SURVEY §3): the fused scrape -> transform ->
partitioned-parquet pipeline, with the two-stage bronze/silver layout
kept as optional checkpoints (the reference's extracted/ -> transformed/
GCS handoff, etl/job_scrape.py:80 <-> etl/transform.py:31-34).
"""

from __future__ import annotations

import urllib.parse
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.io import (
    read_parquet,
    write_if_nonempty,
    write_parquet_partitioned,
)
from dataengineer_job_scraper_etl_spark.plans.jobs import transform_postings
from dataengineer_job_scraper_etl_spark.sources.scrape import (
    Fetcher,
    scrape_postings,
    seed_frame,
)


@dataclass
class PipelineResult:
    wrote_bronze: bool
    wrote_silver: bool
    silver: DataFrame


def job_title_from_message(message: Mapping) -> str | None:
    """F4/EP1 — the reference's Pub/Sub message guard chain
    (main.py:54-65): abort (None) when the 'data' key is absent; read
    attributes.job_title and URL-decode it (C9, main.py:61); abort when
    the attribute is missing.

    The reference has a known bug here — ``job_title_found`` is only
    assigned on the success path (main.py:62) but read unconditionally
    (main.py:69), raising NameError when the attribute is absent.
    Deliberately NOT replicated (SURVEY §3): missing attribute is a
    clean abort."""
    if "data" not in message:
        return None
    attributes = message.get("attributes")
    if not isinstance(attributes, Mapping):
        return None
    job_title = attributes.get("job_title")
    if job_title is None:
        return None
    return urllib.parse.unquote(job_title)


def run_from_message(
    spark: SparkSession,
    message: Mapping,
    fetcher: Fetcher,
    phrases: list[str],
    silver_path: str,
    **kwargs,
) -> PipelineResult | None:
    """EP1 entry shape: ``main(pubsub_message, ...)`` -> guard chain ->
    one pipeline run for the decoded title; None = aborted on guard
    (the reference logs and returns, main.py:56-60)."""
    title = job_title_from_message(message)
    if title is None:
        return None
    return run_pipeline(spark, [title], fetcher, phrases, silver_path, **kwargs)


def run_pipeline(
    spark: SparkSession,
    job_titles: list[str],
    fetcher: Fetcher,
    phrases: list[str],
    silver_path: str,
    bronze_path: str | None = None,
    concurrency: int | None = None,
    per_request_delay: float = 0.0,
    text_phrases: list[str] = (),
) -> PipelineResult:
    """Extract -> Transform -> Load, the reference's EP1 shape
    (main.py:39-190) on Spark:

    - extract: scrape source (mapInPandas fan-out, politeness bounded
      by ``concurrency`` partitions)
    - bronze (optional): raw postings parquet partitioned by job_type —
      the reference's extracted/ CSV stage as a real checkpoint
    - transform: filter-first null drop, native pay/seniority, skill
      match, date stamp (plans/jobs.transform_postings)
    - load: parquet partitioned by (job_type, ingest_date) with dynamic
      partition overwrite -> idempotent nightly re-runs; empty scrape
      -> no write at all (K4, main.py:129,189-190).
    """
    seeds = seed_frame(spark, job_titles)
    raw = scrape_postings(
        seeds,
        fetcher,
        per_request_delay=per_request_delay,
        concurrency=concurrency,
    )

    wrote_bronze = False
    if bronze_path is not None:
        wrote_bronze = write_if_nonempty(
            raw,
            write_parquet_partitioned,
            bronze_path,
            partition_cols=("job_type",),
        )
        if wrote_bronze:
            # re-read the checkpoint so transform consumes the persisted
            # bronze (EP3->EP2 staging), not a re-scrape.
            raw = read_parquet(spark, bronze_path)

    silver = transform_postings(raw, phrases, text_phrases).withColumn(
        "ingest_date", F.date_format(F.current_date(), "yyyy-MM-dd")
    )
    wrote_silver = write_if_nonempty(
        silver,
        write_parquet_partitioned,
        silver_path,
        partition_cols=("job_type", "ingest_date"),
    )
    return PipelineResult(wrote_bronze, wrote_silver, silver)
