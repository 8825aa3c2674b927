"""The workloads: which catalog entries run, and how each op is timed
and handed back for verification.

Every op calls a catalog entry's ``spark_fn`` (the engine's public
query surface) and is timed from that call to its last output:

- ``nightly_batch``: the nightly ETL. Entries in ``NIGHTLY_WRITES`` are
  written as partitioned parquet through ``io.write_parquet_partitioned``
  and read back through ``io.read_parquet`` for verification; the
  ``streaming_*`` entries drain the day's staged 2-file event queue with
  an AvailableNow trigger (micro-batches, state stores and the
  ``applyInPandasWithState`` Python boundary); the rest are collected.
  One op is one pipeline step.
- ``interactive_queries``: an analyst's closed loop of short queries
  and ANN look-ups; one op is call-to-last-row of ``collect()``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

WORKLOADS: dict[str, tuple[str, ...]] = {
    "nightly_batch": (
        "jobs_transform_full",
        "corpus_pipeline_full",
        "streaming_markov_transitions",
    ),
    "interactive_queries": (
        "tpch_q1_pricing_summary",
        "tpch_q3_shipping_priority",
        "tpch_q18_large_orders",
        "window_top3_orders_per_customer",
        "events_sessionization",
        "ann_ivf_topk",
        "vec_cosine_topk",
    ),
}

# entry -> partition columns of its nightly parquet output
NIGHTLY_WRITES = {
    "jobs_transform_full": ("job_type",),
    "corpus_pipeline_full": ("split",),
}

# Reference-host seconds of one warm pass; a run times
# round(--seconds / PASS_REF_S) whole passes (at least MIN_PASSES), so the
# amount of measured work is fixed for a given --seconds.
PASS_REF_S = {
    "nightly_batch": 5.0,
    "interactive_queries": 3.0,
}
MIN_PASSES = 2

# Untimed passes before the timed ones; their cost is part of setup_s.
# The first pass is cold (JIT, codegen, index training, queue staging).
# Pass times keep falling by a few percent per pass for several more
# passes, but comparing two commits takes dozens of runs, so warm-up
# stops at a fixed point that every run shares. One more warm pass on
# each workload cost 5-7 s per run and did not narrow the spread over
# ten seeds.
WARM_PASSES = {
    "nightly_batch": 1,
    "interactive_queries": 2,
}


@dataclass
class OpResult:
    name: str
    call_s: float  # inside spark_fn: planning plus the entry's eager actions
    action_s: float  # collect / write after spark_fn returned
    cols: list[str] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    batches: list[dict] = field(default_factory=list)
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.call_s + self.action_s


class Runner:
    """Runs one op of a workload against the fixture in ``sf_dir``."""

    def __init__(self, spark, sf_dir: str, out_dir: str, queries: dict,
                 listener=None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.out_dir = out_dir
        self.queries = queries
        self.listener = listener

    def run(self, name: str) -> OpResult:
        from dataengineer_job_scraper_etl_spark import io

        fn = self.queries[name].spark_fn
        lst = self.listener if name.startswith("streaming_") else None
        b0 = len(lst.batches) if lst else 0
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        cols = list(df.columns)
        if name in NIGHTLY_WRITES:
            path = os.path.join(self.out_dir, name)
            io.write_parquet_partitioned(df, path, partition_cols=NIGHTLY_WRITES[name])
            t2 = time.perf_counter()
            back = io.read_parquet(self.spark, path)
            rows = [tuple(r[c] for c in cols) for r in back.collect()]
        else:
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        res = OpResult(name, t1 - t0, t2 - t1, cols, rows)
        if lst is not None:
            # Query-start events are delivered before start() returns;
            # progress and termination events arrive asynchronously.
            if not lst.wait_terminated(lst.started):
                res.error = "streaming listener missed a query termination"
            res.batches = lst.batches[b0:]
        return res
