"""Sources and sinks.

Covers the reference's I/O surface (SURVEY.md §2.1/§2.2) Spark-first:

- S5 CSV scan: ``spark.read.csv(..., header, sep=';')`` — the exact call
  the reference's own Spark job makes (reference etl/transform.py:62);
  schema inference is opt-in, declared schemas are the default.
- S6 JSONL pattern scan: skill patterns as a DataFrame for inspection,
  and as a driver-side list for broadcasting into UDFs.
- S7 in-memory rows -> typed frame (reference main.py:114).
- Parquet scan: ``read_parquet`` is the engine's one table reader. A
  plain ``spark.read.parquet`` starts a Spark job that reads file
  footers to infer the schema on every call; ``read_parquet`` infers
  once per file listing and then supplies the schema, so a repeated
  read of unchanged files starts no job. The key is the path plus
  each file's (path, length, mtime) under it, listed through the
  Hadoop FileSystem API; a rewritten, added or removed file changes
  it, and a hit builds the same frame a miss does.
- K1 parquet sink: real ``partitionBy`` columns replace the reference's
  filename-encoded partitioning (reference main.py:181-185 writes
  ``transformed/{title}_jobs_{ddmmyyyy}.parquet``).
- K2 CSV sink with ';' separator (reference etl/job_scrape.py:64).
- K4 conditional no-op sink: skip write when frame is empty
  (reference main.py:129,189-190).

Any ``gs://`` path works unchanged when the Hadoop GCS connector jar is
on the classpath (the reference wires it in etl/transform.py:54); tests
use local paths.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Mapping

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def file_stamps(
    spark: SparkSession, paths: Iterable[str]
) -> tuple[tuple[str, int, int], ...]:
    """Sorted (path, length, mtime) of every file at or under ``paths``
    (directories are listed recursively) through the Hadoop FileSystem
    API, so any scheme Spark reads works. A file named in ``paths``
    keeps that name. Each file costs about six py4j round trips; the
    Path class is bound directly because looking it up through the JVM
    view costs as much as stamping a file. A missing path raises
    ``Py4JJavaError``."""
    path_cls = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)
    conf = spark._jsc.hadoopConfiguration()
    stamps, todo = [], []
    for path in paths:
        p = path_cls(path)
        fs = p.getFileSystem(conf)
        todo.append((path, fs, fs.getFileStatus(p)))
    while todo:
        name, fs, st = todo.pop()
        if st.isDirectory():
            for child in fs.listStatus(st.getPath()):
                todo.append((child.getPath().toString(), fs, child))
        else:
            stamps.append((name, st.getLen(), st.getModificationTime()))
    return tuple(sorted(stamps))


# path -> (file_stamps of the path, schema inferred from those files)
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema inferred once per
    file listing. A hit (the listing's stamps match the stored ones)
    supplies the stored schema, so Spark skips the footer-inference
    job; a miss infers, stores and then makes the same schema-supplied
    read, so hits and misses build identical frames. A path that
    cannot be listed (missing, a glob) is inferred every time, which
    raises exactly what ``spark.read.parquet`` raises. A stored schema
    serves every session; the confs that steer parquet inference
    (``spark.sql.parquet.binaryAsString`` and kin) are not in the key,
    so they must keep one value per process."""
    try:
        stamps = file_stamps(spark, [path])
    except Py4JJavaError:
        stamps = None
    stored = _SCHEMAS.get(path)
    if stamps is not None and stored is not None and stored[0] == stamps:
        schema = stored[1]
    else:
        schema = spark.read.parquet(path).schema
        if stamps is not None:
            _SCHEMAS[path] = (stamps, schema)
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = ";",
    header: bool = True,
    infer_schema: bool = False,
) -> DataFrame:
    """S5 — the reference's CSV scan (etl/transform.py:62 uses
    ``header=True, inferSchema=True, sep=';'``). Declared schema beats
    inference at scale (inference is an extra full scan), so ``schema``
    wins when provided."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    """S6 — JSONL scan (skill-pattern file shape)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_jsonl_driver_side(path: str) -> list[dict]:
    """S6 operational mode: the pattern dictionary is loaded on the
    driver and broadcast into the matcher UDF (reference main.py:132-133
    attaches it to an in-process spaCy ruler). 2,412 patterns is a few
    hundred KB — broadcast, never a shuffle side."""
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def rows_to_df(
    spark: SparkSession, rows: Iterable[Mapping], schema: T.StructType
) -> DataFrame:
    """S7 — list-of-dicts -> typed DataFrame (reference main.py:114).
    Always with a declared schema: an empty batch must still carry the
    canonical schema (the reference's empty typed frame, main.py:78)."""
    return spark.createDataFrame(list(rows), schema=schema)


def write_parquet_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("job_type", "ingest_date"),
    mode: str = "overwrite",
    dynamic_overwrite: bool = True,
) -> None:
    """K1 — partitioned parquet sink.

    The reference encodes (job_title, date) into the *filename*
    (main.py:181). Real partition columns give partition pruning to
    every downstream reader and make the nightly re-run idempotent via
    dynamic partition overwrite (only the partitions present in ``df``
    are replaced — the reference got idempotency from overwrite-by-
    filename, SURVEY §2.9)."""
    writer = df.write.mode(mode)
    if dynamic_overwrite and mode == "overwrite":
        writer = writer.option("partitionOverwriteMode", "dynamic")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, sep: str = ";", mode: str = "overwrite") -> None:
    """K2 — CSV sink with the reference's ';' separator
    (etl/job_scrape.py:64)."""
    df.write.mode(mode).option("header", True).option("sep", sep).csv(path)


def write_if_nonempty(df: DataFrame, write_fn, *args, **kwargs) -> bool:
    """K4 — conditional no-op sink (reference main.py:129,189-190 skips
    the write when zero rows were scraped). ``isEmpty`` looks at one
    partition-first row, not a full count."""
    if df.isEmpty():
        return False
    write_fn(df, *args, **kwargs)
    return True


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table: rows are pre-shuffled
    into ``n_buckets`` files by ``bucket_cols`` at WRITE time, so every
    subsequent join or aggregation on those columns skips its exchange
    entirely (see tests/test_bucketed.py for the plan assertion).

    This is the 100 TB answer to repeatedly-joined fact tables: pay
    the shuffle once at ingest, never again per query. Bucketing
    requires the table catalog (saveAsTable), not a bare path."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSONL sink (one JSON object per line — the interchange format
    of the skill-pattern asset and most LLM-corpus tooling)."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — second columnar format, exercised so format choice
    stays a one-line swap."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Binary-file scan — the ingestion edge for multimodal columns:
    each matched file becomes one row (path, modificationTime, length,
    content binary), which is exactly the (payload, typed metadata)
    shape operators/multimodal.py processes. Built-in ``binaryFile``
    format: distributed listing, partitioned reads, and pushdown on
    the LENGTH column (``glob`` prunes at listing time; a length
    filter prunes before any payload is read — both matter when the
    corpus is 100 TB of media files).

    ``max_bytes`` guards executor memory: each row holds a whole file,
    so unbounded payloads OOM an executor long before 100 TB — the
    filter is pushed to the reader, oversized files are never
    materialized."""
    reader = spark.read.format("binaryFile")
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    if max_bytes is not None:
        df = df.filter(F.col("length") <= max_bytes)
    return df


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int,
    tmp_suffix: str = "__compacting",
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``target_files`` files (coalesce — a narrow, shuffle-free merge)
    via a temp dir + rename swap. Returns the row count.

    The small-files problem is the classic failure mode of per-batch
    appends at scale (every micro-batch writes a file per partition);
    compaction restores scan efficiency without changing data.

    Filesystem handling goes through the Hadoop FileSystem API, so any
    scheme Spark can write (file://, hdfs://, gs://, s3a:// with the
    connector on the classpath) compacts the same way — no local-only
    shutil. Swap order keeps a complete copy of the data under a
    known name at every crash point: tmp is fully written, then
    path -> path__old, tmp -> path, delete path__old. A re-run
    SELF-HEALS the one crash window where ``path`` itself is missing
    (between the two renames): the recovery branch below restores
    path from path__old before reading. The swap is NOT atomic for
    concurrent readers — a reader listing
    the directory between the two renames sees a missing path (and on
    object stores rename itself is a copy, not a metadata op); run
    compaction in a maintenance window or behind a table format
    (Delta/Iceberg) when readers are live."""
    base = path.rstrip("/")
    tmp = base + tmp_suffix
    old = base + "__old"

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(base)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    hold = jvm.org.apache.hadoop.fs.Path(old)
    htmp = jvm.org.apache.hadoop.fs.Path(tmp)
    if not fs.exists(hpath) and fs.exists(hold):
        # crashed prior run died between its two renames: path was
        # already moved aside but the compacted tmp never landed.
        # Restore the held copy so the table reappears, then compact
        # normally (review finding — the docstring promised this
        # recovery but only the post-swap leftover was handled).
        if not fs.rename(hold, hpath):
            raise IOError(
                f"compact_parquet: recovery rename {old} -> {base} failed"
            )
    df = read_parquet(spark, path)
    n = df.count()
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    if fs.exists(hold):  # leftover from a crashed prior run
        fs.delete(hold, True)
    if not fs.rename(hpath, hold):
        raise IOError(f"compact_parquet: rename {base} -> {old} failed")
    if not fs.rename(htmp, hpath):
        # restore the original so the table never disappears
        fs.rename(hold, hpath)
        raise IOError(f"compact_parquet: rename {tmp} -> {base} failed")
    fs.delete(hold, True)
    return n
