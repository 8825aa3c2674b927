"""SparkSession factory.

The reference's own Spark variant enables Arrow explicitly
(reference etl/transform.py:55 ``spark.sql.execution.arrow.pyspark.enabled``);
we keep that and add the settings a large-cluster deployment wants on by
default: AQE (runtime coalescing + skew-join handling), UTC session time
zone (oracle comparability + cluster sanity), and a shuffle-partition
count sized to the local core count rather than the 200 default.

The local->cluster mapping for every default here (what changes at
1000 executors, and what breaks if scaled naively) is documented in
PLANS.md §"Deployment shape on a real cluster".

All helpers accept an existing session (the driver passes one to
``entry``) and never assume configs they did not set — query code uses
``try_*`` functions so it behaves identically under ANSI on/off.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))

# Local mode puts driver + all executor threads in ONE JVM, but Spark's
# spark.driver.memory default is 1g regardless of machine size — at sf1
# the banded-sketch localCheckpoint blocks + a single 64 MB-threshold
# broadcast build overflow it ("Not enough memory to build and
# broadcast", caught by the round-6 sf1 sweep). Size the heap for the
# box; on a real cluster this knob is the driver container size and
# executors get their own (PLANS.md deployment section).
DEFAULT_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

# Entries in Spark's compiled-class cache (the Janino LRU keyed by
# generated source; static conf, default 100). Measured on Spark 4.1.2,
# 4 cores, sf0.001: one interactive_queries pass needs ~155 distinct
# classes, one nightly_batch pass ~165, and the whole 249-entry catalog
# 4,148. At 100 the LRU cycles, so every warm call recompiled every
# class (~8 ms each, about a quarter of a short query); 8192 is ~2x the
# catalog's working set. Cost with the whole catalog cached: metaspace
# 208-213 MB -> 236-240 MB (~7 KB per class), JVM high-water mark
# within noise (3,251 vs 3,266 MB).
CODEGEN_CACHE_ENTRIES = 8192


def get_spark(
    app_name: str = "dataengineer-job-scraper-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    At 100 TB scale these same knobs hold: AQE re-plans shuffle
    partition counts at runtime, skew-join splitting handles hot keys,
    and partition-size targets keep task inputs in executor memory.
    Only ``master`` / ``shuffle_partitions`` change between local tests
    and a real cluster.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        # Only effective when this call launches the JVM (first session
        # in the process) — exactly the local/test/bench case it fixes.
        .config("spark.driver.memory", DEFAULT_DRIVER_MEM)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every JVM<->Python boundary (pandas_udf, toPandas) —
        # the reference already chose this (etl/transform.py:55).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # AQE: runtime partition coalescing, skew-join splitting, and
        # dynamic join-strategy switching (sort-merge -> broadcast).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # Keep scan partitions at a size that feeds codegen well.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4's DataFrame-debugging hook wraps EVERY Column/
        # DataFrame API call with call-site capture: a Python stack
        # walk plus extra py4j roundtrips (conf lookup +
        # PySparkCurrentOrigin.set/clear) PER OPERATION. Profiling
        # (r14, guide §7.3 driver-side work) showed entries that build
        # wide literal expression trees (64-term PCA projections,
        # k-means centroid folds) spending more driver time in this
        # wrapper than in their jobs. The only cost of disabling it is
        # losing call-site enrichment on error messages — a debugging
        # aid, orthogonal to results, and the wrong default for a
        # production pipeline at ANY scale (the overhead is driver-
        # side and data-size-independent).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Compile each generated class once per JVM (see the constant).
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Janino cache
    misses; ``CodegenMetrics`` is process-wide). Diff two reads to count
    an operation's compiles: a warm call of a plan whose classes are all
    cached compiles 0."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def ensure_min_parallelism(df, bytes_per_partition: int | None = None):
    """Round-robin repartition ``df`` up to the cluster's
    defaultParallelism IF it currently has fewer partitions; no-op
    otherwise.

    Why: a small parquet file (one row group) scans as 1-2 partitions,
    so a CPU-heavy downstream projection (minhash signatures, simhash
    sketches) runs on 1-2 cores no matter how wide the cluster is.
    Scan-level splitting (files.minPartitionNum) cannot split inside a
    row group, so a tiny shuffle is the correct fix. At 100 TB the scan
    already has >> defaultParallelism partitions and this is a no-op —
    we never repartition DOWN, so large inputs are never shuffled.

    ``bytes_per_partition`` additionally scales the target WITH INPUT
    SIZE (VERDICT r13 ask #6): target = min(defaultParallelism,
    ceil(estimated_bytes / bytes_per_partition)). Use it at sites whose
    downstream per-byte CPU is modest (e.g. tokenize feeding many small
    stages) so a KB-scale fixture is not fanned into defaultParallelism
    tasks of ~20 KB whose scheduling overhead eats the win — while an
    unsplittable multi-GB input (the one-huge-gzip hazard, guide §2.5)
    still fans out to full width. Do NOT use it where downstream cost
    is quadratic in rows per task (semdedup pair joins, kNN N² stages):
    there the CPU, not the bytes, is the scaling variable, and full
    fan-out is the measured win at every size (r13 §4/§11). The size
    estimate is Catalyst's optimizedPlan stats (file-size-derived for
    scans; an unknown estimate is huge and simply clamps to
    defaultParallelism — the pre-r14 behavior).

    Call this on a NARROW projection (ids + the columns the expensive
    stage needs), before the expensive expressions, so the heavy
    compute lands after the exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_partition is not None and bytes_per_partition > 0:
        raw = (
            df._jdf.queryExecution()  # noqa: SLF001 - no public stats API
            .optimizedPlan()
            .stats()
            .sizeInBytes()
        )
        # py4j hands small BigInts back as Python ints; huge ones stay
        # JavaObjects — stringify those (the "unknown size" sentinel is
        # ~8 EB and only needs to clamp to defaultParallelism anyway)
        est = raw if isinstance(raw, int) else int(raw.toString())
        target = min(
            target, max(1, -(-est // bytes_per_partition))
        )
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def evaluate_once(col: Column | str) -> Column:
    """Generate barrier: ``explode(array(col))`` yields ``col`` once per
    row as a stored attribute, so a consumer that references it several
    times (lambda bodies, CodegenFallback subtrees such as
    ``arrays_zip``: no CSE there) reads it instead of re-evaluating it
    per reference. Rows are unchanged; no shuffle, no state, so
    streaming frames can use it. Relies on Catalyst's ``CollapseProject``
    not merging projections through a ``Generate`` (pinned by
    tests/test_scale_plans.py::test_generate_barriers_survive_the_optimizer).
    If a Spark upgrade eliminates single-element Generates, fall back to
    ``localCheckpoint`` of the frame, which a streaming frame cannot use.
    A frame with several consumers is checkpointed instead
    (``queries.spans.tok_base``)."""
    return F.explode(F.array(col))
