"""Sink-path + observability entries: put the driver's hash signal on
the WRITE side and on in-flight metrics.

The sinks themselves (io.py: partitioned parquet + dynamic overwrite,
CSV, ORC, JSON, compaction; streaming/jobs.py: foreachBatch) are
pytest-covered; these entries close the loop through the driver gate
by writing the events table through the REAL sinks (batch partitioned
writer; the streaming foreachBatch writer), reading the landed data
back, and hash-comparing aggregates against the oracle's view of the
ORIGINAL — any loss in a write path (partition-column encoding/
inference, value fidelity, dropped or duplicated rows across the
micro-batch boundary) flips the hash. events_observe_metrics does the
same for the Observation API: metrics collected as a side effect of
the consuming action must equal an independent aggregation.

Writes are staged once per fixture fingerprint into the temp root
(same crash-safe rename-publish protocol as the streaming queue
stage), so repeated driver runs don't rewrite.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import (
    read_parquet,
    write_parquet_partitioned,
)
from dataengineer_job_scraper_etl_spark.queries.events import _events
from dataengineer_job_scraper_etl_spark.staging import stage_once


def _staged_sink_dir(spark: SparkSession, sf_dir: str) -> str:
    """Partitioned-parquet sink output via the SHARED staging protocol
    (staging.py: fingerprint-keyed, rename-published)."""
    return stage_once(
        os.path.join(sf_dir, "events.parquet"),
        "sinkrt",
        lambda staged: write_parquet_partitioned(
            _events(spark, sf_dir), staged, partition_cols=("event_type",)
        ),
    )


@register(
    "io_partitioned_sink_roundtrip",
    """
WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
                   event_type, value FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_checksum,
       CAST(sum(user_id) AS BIGINT) AS user_checksum,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS value_sum,
       min(ts) AS ts_min, max(ts) AS ts_max
FROM ev GROUP BY event_type
""",
    doc="Partitioned parquet sink round-trip, hash-checked: events "
    "written through io.write_parquet_partitioned (real partition "
    "columns, the layout that gives downstream readers partition "
    "pruning), read back, and aggregated per event_type — checksums "
    "over ids/users/values/timestamp range pin that the write path "
    "loses nothing and the partition column survives directory "
    "encoding + read-back inference. The oracle aggregates the "
    "ORIGINAL table, so equality spans the whole write->read loop.",
)
def io_partitioned_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = _staged_sink_dir(spark, sf_dir)
    back = read_parquet(spark, root)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.sum("user_id").cast("long").alias("user_checksum"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("value_sum"),
        F.min("ts").alias("ts_min"),
        F.max("ts").alias("ts_max"),
    )


@register(
    "events_observe_metrics",
    """
WITH ev AS (SELECT event_id, user_id, event_type, value FROM events)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN value < 0 THEN 1 END) AS BIGINT) AS n_negative,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS value_sum,
       CAST(max(user_id) AS BIGINT) AS user_id_max
FROM ev
""",
    doc="In-flight data-quality metrics via the Observation API "
    "(df.observe): row count, negative-value count, value sum, and "
    "key-range max are collected AS A SIDE EFFECT of the same "
    "action that consumes the frame — at 100 TB this is how a "
    "pipeline audits what it just wrote without paying a second "
    "scan. The observed metrics are returned as the entry's result "
    "and hash-checked against the oracle's independent aggregation, "
    "proving the observation path reports the same numbers a real "
    "aggregate would.",
)
def events_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    e = _events(spark, sf_dir)
    obs = Observation("dq")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("value_sum"),
        # NB DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS); cardinality checks belong in
        # dq_profile_orders / the sketch entries instead
        F.max("user_id").alias("user_id_max"),
    )
    # the consuming action (noop write = a sink at scale); metrics
    # piggyback on it, no second scan
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_rows"]),
                int(m["n_negative"]),
                float(m["value_sum"]),
                int(m["user_id_max"]),
            )
        ],
        "n_rows long, n_negative long, value_sum double, user_id_max long",
    )


def _staged_foreachbatch_dir(spark: SparkSession, sf_dir: str) -> str:
    """Drive the event stream through the foreachBatch parquet sink
    once per fixture fingerprint (shared staging protocol). The 2-file
    queue lands as two __batch_id partitions; the run's checkpoint
    lives beside the staged output inside the private temp dir, so
    the publish discards it with the rest of the scaffolding."""
    from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
        _stage_stream_dir,
    )
    from dataengineer_job_scraper_etl_spark.streaming.jobs import (
        run_foreach_batch_parquet,
        stream_events,
    )

    def build(staged: str) -> None:
        queue = _stage_stream_dir(spark, sf_dir)
        run_foreach_batch_parquet(
            stream_events(spark, queue),
            staged,
            os.path.join(os.path.dirname(staged), "cp"),
        )

    return stage_once(
        os.path.join(sf_dir, "events.parquet"), "fbsink", build
    )


@register(
    "io_foreachbatch_sink_roundtrip",
    """
WITH ev AS (SELECT event_id, user_id, event_type, value FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(event_id) AS BIGINT) AS id_checksum,
       CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS value_sum
FROM ev GROUP BY event_type
""",
    doc="foreachBatch exactly-once sink round-trip through the driver "
    "gate: the 2-batch event stream lands as parquet via the batch "
    "writer inside foreachBatch (one __batch_id partition per "
    "micro-batch, dynamic partition overwrite = idempotent batch "
    "retries), then the landed data is read back and aggregated — "
    "checksums against the original table pin that the streaming sink "
    "path wrote every event exactly once across the micro-batch "
    "boundary.",
)
def io_foreachbatch_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = _staged_foreachbatch_dir(spark, sf_dir)
    back = read_parquet(spark, root)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("long").alias("id_checksum"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("value_sum"),
    )


def _staged_jsonl_dir(spark: SparkSession, sf_dir: str) -> str:
    """documents exported as compressed JSONL (the LLM-corpus
    interchange format), staged via the shared protocol."""
    src = os.path.join(sf_dir, "documents.parquet")
    return stage_once(
        src,
        "jsonlrt",
        lambda staged: (
            read_parquet(spark, src)
            .select("doc_id", "source", "lang", "text")
            .write.option("compression", "gzip")
            .json(staged)
        ),
    )


@register(
    "io_jsonl_corpus_roundtrip",
    """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       md5(string_agg(md5(text), '' ORDER BY doc_id)) AS text_digest
FROM documents GROUP BY source
""",
    doc="JSONL corpus export round-trip — the interchange format LLM "
    "corpora actually ship in: documents written as gzipped JSON "
    "lines (one doc per line, Spark's distributed json sink), read "
    "back with schema inference, and digested per source. "
    "text_digest is an order-pinned md5-of-md5s chain, so ONE "
    "character lost to JSON escaping/encoding in any document flips "
    "the hash against the oracle's view of the ORIGINAL parquet — "
    "equality proves the export path is byte-faithful, not just "
    "row-complete. Staged once per fixture fingerprint; compression "
    "rides through transparently.",
)
def io_jsonl_corpus_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _staged_jsonl_dir(spark, sf_dir)
    back = spark.read.json(root)
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
            F.md5(
                F.concat_ws(
                    "",
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("doc_id"), F.md5("text").alias("h"))
                        )
                    ).getField("h"),
                )
            ).alias("text_digest"),
        )
    )


def _staged_evolution_dir(spark: SparkSession, sf_dir: str) -> str:
    """Two parquet batches with EVOLVED schemas under one directory:
    batch 1 (even event_ids) carries the v1 schema (no ``score``
    column); batch 2 (odd event_ids) is v2, adding a derived
    ``score`` column. The mergeSchema read path must union the
    schemas and NULL-fill v1 rows."""

    def build(staged: str) -> None:
        e = _events(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value"
        )
        v1 = e.filter(F.col("event_id") % 2 == 0)
        v2 = e.filter(F.col("event_id") % 2 == 1).withColumn(
            "score", F.round(F.col("value") * 100).cast("bigint")
        )
        v1.write.mode("overwrite").parquet(os.path.join(staged, "b1"))
        v2.write.mode("overwrite").parquet(os.path.join(staged, "b2"))

    return stage_once(
        os.path.join(sf_dir, "events.parquet"), "schemaevo", build
    )


@register(
    "io_mergeschema_evolution_read",
    """
WITH ev AS (
  SELECT event_type,
         CASE WHEN event_id % 2 = 1
              THEN CAST(round(value * 100) AS BIGINT) END AS score
  FROM events)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(score) AS BIGINT) AS n_scored,
       CAST(sum(score) AS BIGINT) AS score_sum
FROM ev GROUP BY event_type
""",
    doc="Schema-evolution read path: two parquet batches under one "
    "root — v1 without a ``score`` column, v2 adding it — read back "
    "with mergeSchema=true, which must union the schemas and "
    "NULL-fill the v1 rows. The oracle derives the same view from "
    "the original table (score only where v2 would carry it), so the "
    "hash pins row counts, the NULL-fill boundary, and value "
    "fidelity across the evolved read. The production seam: "
    "long-lived datasets GROW columns, and readers written before "
    "the growth must keep working. At scale prefer an explicit "
    "unified schema over mergeSchema's footer-union cost "
    "(spark.read.schema(s).parquet(...)) — this entry pins the "
    "semantics either path must produce.",
)
def io_mergeschema_evolution_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    root = _staged_evolution_dir(spark, sf_dir)
    back = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(root)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("score").cast("bigint").alias("n_scored"),
        F.sum("score").cast("bigint").alias("score_sum"),
    )
