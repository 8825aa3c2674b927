"""K1/K2/K4/S5/S7 — sink round-trips and typed-frame contracts."""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import dataengineer_job_scraper_etl_spark as pkg
from dataengineer_job_scraper_etl_spark.io import (
    read_csv,
    read_parquet,
    rows_to_df,
    write_csv,
    write_if_nonempty,
    write_parquet_partitioned,
)
from dataengineer_job_scraper_etl_spark.schemas import JOB_POSTING_RAW


def _postings(spark):
    rows = [
        {"jobid": "1", "title": "A", "description": "x", "job_type": "DE"},
        {"jobid": "2", "title": "B", "description": "y", "job_type": "DS"},
    ]
    return rows_to_df(spark, rows, JOB_POSTING_RAW).withColumn(
        "ingest_date", F.lit("2026-08-13")
    )


def test_partitioned_parquet_roundtrip(spark, tmp_path):
    path = str(tmp_path / "out")
    df = _postings(spark)
    write_parquet_partitioned(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    # real partition columns on disk (replaces the reference's
    # filename-encoded partitioning, main.py:181)
    assert (tmp_path / "out" / "job_type=DE" / "ingest_date=2026-08-13").exists()


def test_dynamic_partition_overwrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "out")
    df = _postings(spark)
    write_parquet_partitioned(df, path)
    # re-run same batch: dynamic overwrite replaces, not duplicates
    write_parquet_partitioned(df, path)
    assert spark.read.parquet(path).count() == 2
    # a new batch for one partition replaces only that partition
    df_de = df.filter(F.col("job_type") == "DE").withColumn(
        "title", F.lit("A2")
    )
    write_parquet_partitioned(df_de, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert back.filter(F.col("job_type") == "DS").count() == 1  # untouched


def test_csv_roundtrip_semicolon(spark, tmp_path):
    path = str(tmp_path / "csv_out")
    write_csv(_postings(spark).drop("ingest_date"), path)
    back = read_csv(spark, path, schema=JOB_POSTING_RAW)
    assert sorted(r["jobid"] for r in back.collect()) == ["1", "2"]
    # the ';' separator is really on disk (reference etl/job_scrape.py:64)
    part = next(p for p in (tmp_path / "csv_out").iterdir() if p.suffix == ".csv")
    assert ";" in part.read_text().splitlines()[0]


def test_write_if_nonempty_guard(spark, tmp_path):
    wrote = {"n": 0}

    def fake_write(df, path):
        wrote["n"] += 1

    empty = rows_to_df(spark, [], JOB_POSTING_RAW)
    assert not write_if_nonempty(empty, fake_write, "p")
    assert wrote["n"] == 0  # K4: no-op on empty frame
    assert write_if_nonempty(_postings(spark), fake_write, "p")
    assert wrote["n"] == 1


def test_rows_to_df_empty_keeps_schema(spark):
    # the reference's empty typed frame (main.py:78): schema exists
    # before any rows do
    empty = rows_to_df(spark, [], JOB_POSTING_RAW)
    assert empty.schema == JOB_POSTING_RAW and empty.count() == 0


def test_json_roundtrip(spark, tmp_path):
    from dataengineer_job_scraper_etl_spark.io import read_jsonl, write_json

    path = str(tmp_path / "json_out")
    write_json(_postings(spark).drop("ingest_date"), path)
    back = read_jsonl(spark, path, schema=JOB_POSTING_RAW)
    assert sorted(r["jobid"] for r in back.collect()) == ["1", "2"]


def test_orc_roundtrip(spark, tmp_path):
    from dataengineer_job_scraper_etl_spark.io import read_orc, write_orc

    path = str(tmp_path / "orc_out")
    write_orc(_postings(spark), path)
    assert read_orc(spark, path).count() == 2


def test_compact_parquet(spark, tmp_path):
    from dataengineer_job_scraper_etl_spark.io import compact_parquet

    path = str(tmp_path / "frag")
    # fragment: 8 separate appends -> many small files
    for i in range(8):
        spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(path)
    n_before = len(list((tmp_path / "frag").glob("*.parquet")))
    assert n_before >= 8
    rows = compact_parquet(spark, path, target_files=1)
    assert rows == 80
    n_after = len(list((tmp_path / "frag").glob("*.parquet")))
    assert n_after == 1
    assert spark.read.parquet(path).count() == 80


def test_compact_parquet_non_default_scheme(spark, tmp_path):
    """The compaction path claims scheme-agnosticism via the Hadoop
    FileSystem API (io.py docstring; reference etl/transform.py:54,59
    wires gs://). Execute that claim, don't assert it: mount a
    ``viewfs://`` table (ViewFileSystem — the one non-default
    FileSystem implementation Hadoop ships that this sandbox can back
    with local disk) and run the whole write -> compact -> rename-swap
    -> read cycle through it, so every fs.exists/rename/delete call
    resolves a FileSystem instance that is NOT the default
    LocalFileSystem. (RawLocalFileSystem under a foreign scheme fails
    checkPath — its getUri is pinned to file:/// — which is itself
    evidence the scheme here is really distinct.)"""
    from dataengineer_job_scraper_etl_spark.io import compact_parquet

    hconf = spark._jsc.hadoopConfiguration()
    key = "fs.viewfs.mounttable.iotest.link./data"
    (tmp_path / "mnt").mkdir()
    hconf.set(key, f"file:{tmp_path}/mnt")
    try:
        path = "viewfs://iotest/data/frag2"
        for i in range(4):
            spark.range(i * 10, i * 10 + 10).write.mode("append").parquet(
                path
            )
        mnt = tmp_path / "mnt" / "frag2"
        assert len(list(mnt.glob("*.parquet"))) >= 4
        rows = compact_parquet(spark, path, target_files=1)
        assert rows == 40
        assert len(list(mnt.glob("*.parquet"))) == 1
        assert spark.read.parquet(path).count() == 40
        # the swap really went through the viewfs:// FileSystem: no
        # leftover tmp/old dirs under the mount
        leftovers = [
            p.name for p in (tmp_path / "mnt").iterdir() if p.name != "frag2"
        ]
        assert leftovers == []
    finally:
        hconf.unset(key)


def test_read_binary_files_feeds_multimodal_stage(spark, tmp_path):
    """binaryFile is the ingestion edge for multimodal columns: files
    -> (path, length, content binary) rows. Pin that the glob prunes
    at listing, the max_bytes guard is PUSHED to the reader (explain
    shows the length filter in PushedFilters — oversized payloads are
    never materialized), and the rows feed the multimodal feature
    stage unchanged."""
    from dataengineer_job_scraper_etl_spark.io import read_binary_files
    from dataengineer_job_scraper_etl_spark.operators.multimodal import (
        extract_features,
    )

    d = tmp_path / "media"
    d.mkdir()
    (d / "a.img").write_bytes(b"\x89fakepng" * 4)
    (d / "b.img").write_bytes(b"\x89other" * 200)  # over the cap
    (d / "ignore.txt").write_text("not media")
    df = read_binary_files(spark, str(d), glob="*.img", max_bytes=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(length,100)" in plan  # pushed, not post-hoc
    rows = df.collect()
    assert [r["path"].rsplit("/", 1)[-1] for r in rows] == ["a.img"]
    assets = df.select(
        F.monotonically_increasing_id().alias("asset_id"),
        F.lit("image").alias("modality"),
        F.col("content").alias("payload"),
    )
    feats = extract_features(assets).collect()
    assert len(feats) == 1 and feats[0]["decode_ok"]
    assert feats[0]["feat_dim"] == 8


def test_partition_pruning_reaches_scan(spark, tmp_path):
    path = str(tmp_path / "pp")
    df = _postings(spark)
    write_parquet_partitioned(df, path, partition_cols=("job_type",))
    read = spark.read.parquet(path).filter(F.col("job_type") == "DE")
    plan = read._jdf.queryExecution().executedPlan().toString()
    # the partition predicate must prune at the SCAN, not post-filter
    assert "PartitionFilters: [" in plan
    assert any(
        "job_type" in l for l in plan.splitlines() if "PartitionFilters" in l
    )
    assert read.count() == 1


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema evolution contract: a sink that gains a column mid-life
    must stay readable — mergeSchema=true unifies the footer schemas
    and back-fills the old files' missing column with nulls (the
    100 TB migration path: no rewrite of historical partitions)."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "evolving")
    spark.range(0, 10).select(
        F.col("id"), F.lit("a").alias("v1")
    ).write.mode("append").parquet(d)
    spark.range(10, 20).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.mode("append").parquet(d)
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) == {"id", "v1", "v2"}
    assert df.count() == 20
    assert df.filter(F.col("v2").isNull()).count() == 10
    assert df.filter(F.col("v2") == 1.5).count() == 10


def test_compact_parquet_recovers_mid_swap_crash(spark, tmp_path):
    """Crash window between the two swap renames: path is missing and
    only path__old holds the data. A re-run must self-heal — restore,
    then compact normally."""
    import os

    from dataengineer_job_scraper_etl_spark.io import compact_parquet
    from pyspark.sql import functions as F

    d = str(tmp_path / "tbl")
    spark.range(0, 100).select(F.col("id")).repartition(8).write.parquet(d)
    # simulate the crash: the first rename happened, the second didn't
    os.rename(d, d + "__old")
    assert not os.path.exists(d)
    n = compact_parquet(spark, d, target_files=1)
    assert n == 100
    assert os.path.exists(d) and not os.path.exists(d + "__old")
    back = spark.read.parquet(d)
    assert back.count() == 100


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_read_parquet_hit_starts_no_job(spark, tmp_path):
    """The second read of an unchanged table supplies the stored schema:
    no footer-inference job, same schema, same rows. The raw reader's
    job on the same path shows the counter sees inference."""
    path = str(tmp_path / "t")
    spark.range(20).withColumn("s", F.col("id").cast("string")).write.parquet(
        path
    )
    first = read_parquet(spark, path)
    before = _jobs(spark)
    second = read_parquet(spark, path)
    assert _jobs(spark) == before
    spark.read.parquet(path)
    assert _jobs(spark) > before
    assert second.schema == first.schema == spark.read.parquet(path).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_read_parquet_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten under the same name with an extra column changes
    its stamp, so the new column is visible."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["id"]
    assert read_parquet(spark, path).columns == ["id"]
    pq.write_table(pa.table({"id": [1, 2], "extra": ["a", "b"]}), path)
    back = read_parquet(spark, path)
    assert back.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_read_parquet_partitioned_miss_equals_hit(spark, tmp_path):
    """Partition columns keep their inferred types and trailing position
    when the schema is supplied, and a dynamic overwrite of one
    partition is seen by the next read."""
    path = str(tmp_path / "out")
    df = _postings(spark)
    write_parquet_partitioned(df, path)
    raw = spark.read.parquet(path)
    miss = read_parquet(spark, path)
    before = _jobs(spark)
    hit = read_parquet(spark, path)
    assert _jobs(spark) == before
    assert hit.columns == miss.columns == raw.columns
    assert hit.schema == miss.schema == raw.schema
    assert sorted(hit.collect()) == sorted(miss.collect()) == sorted(raw.collect())

    write_parquet_partitioned(
        df.filter(F.col("job_type") == "DE").withColumn("title", F.lit("A2")),
        path,
    )
    titles = {
        r["job_type"]: r["title"] for r in read_parquet(spark, path).collect()
    }
    assert titles == {"DE": "A2", "DS": "B"}


def test_read_parquet_missing_path_raises_like_spark(spark, tmp_path):
    missing = str(tmp_path / "nope")
    with pytest.raises(AnalysisException) as raw:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as ours:
        read_parquet(spark, missing)
    assert type(ours.value) is type(raw.value)
    assert ours.value.getCondition() == raw.value.getCondition()


def test_read_parquet_keeps_index_store_fingerprints(spark, tmp_path):
    """A frame built on a miss, one built on a hit and the raw inferred
    read all fingerprint alike, so trained artifacts keyed before the
    reader existed stay keyed the same."""
    from dataengineer_job_scraper_etl_spark.operators.index_store import (
        fingerprint,
    )

    path = str(tmp_path / "fp")
    spark.range(50).repartition(3).write.parquet(path)
    miss = read_parquet(spark, path).filter(F.col("id") > 5)
    hit = read_parquet(spark, path).filter(F.col("id") > 5)
    raw = spark.read.parquet(path).filter(F.col("id") > 5)
    assert fingerprint(miss) == fingerprint(hit) == fingerprint(raw)


# Reads that need reader options keep the raw reader: (module, function).
_RAW_PARQUET_READS = {
    # mergeSchema + recursiveFileLookup over an evolving directory
    ("queries/sinks.py", "io_mergeschema_evolution_read"),
}


def _raw_parquet_reads() -> set[tuple[str, str]]:
    """(module, enclosing function) of every ``<x>.read ... .parquet(``
    call in the package outside io.py."""
    root = pathlib.Path(pkg.__file__).parent
    found = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel == "io.py":
            continue

        class Finder(ast.NodeVisitor):
            scope = "<module>"

            def visit_FunctionDef(self, node):
                outer, self.scope = self.scope, node.name
                self.generic_visit(node)
                self.scope = outer

            def visit_Call(self, node):
                f = node.func
                if isinstance(f, ast.Attribute) and f.attr == "parquet":
                    recv = f.value
                    while isinstance(recv, (ast.Attribute, ast.Call)):
                        if isinstance(recv, ast.Attribute) and recv.attr == "read":
                            found.add((rel, self.scope))
                            break
                        recv = recv.func if isinstance(recv, ast.Call) else recv.value
                self.generic_visit(node)

        Finder().visit(ast.parse(path.read_text(encoding="utf-8")))
    return found


def test_parquet_tables_are_read_through_one_reader():
    """Every parquet table read in the package goes through
    ``io.read_parquet``; only option-bearing reads keep the raw reader,
    and each of those is named here."""
    assert _raw_parquet_reads() == _RAW_PARQUET_READS
