"""Layer spans for the traced run, and readers for Spark's own records.

``Tracer.install`` wraps public functions of the engine's layers *before*
the catalog is imported, patching the defining module and every loaded
module that holds a ``from ... import`` copy. Spans (name, start, end,
parent, op id) stay in memory; counts are kept per layer. Only the stream
listener also runs on untraced runs: it reads what Spark records anyway.
"""

from __future__ import annotations

import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass

PKG = "dataengineer_job_scraper_etl_spark"

# (module, function names, layer name). Missing names are skipped, so a
# refactor that removes one only drops its span.
LAYER_FUNCS = (
    ("session", ("get_spark",), "session.get_spark"),
    ("plans.jobs", ("transform_postings",), "plans.jobs.transform"),
    ("plans.corpus", ("build_pretraining_corpus", "incremental_intake"),
     "plans.corpus.build"),
    ("operators.components", ("connected_components",),
     "operators.components"),
    ("operators.skills", ("skill_match_pairs", "extract_skills_native",
                          "extract_skills_ngram_join", "extract_skills_udf"),
     "operators.skills"),
    ("operators.similarity", ("kmeans_lite", "_kmeans_rounds", "pq_train",
                              "kmeans_corpus_init"),
     "operators.similarity.train"),
    ("io", ("write_parquet_partitioned",), "io.write"),
    ("staging", ("stage_once",), "staging.stage"),
    ("streaming.jobs", ("run_available_now",), "streaming.run"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    jobs: int = 0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self.job_counter: JobCounter | None = None
        self._stack: list[int] = []

    def install(self) -> int:
        """Wrap every LAYER_FUNCS entry; returns the number of patched
        module attributes."""
        patched = 0
        for mod_name, names, layer in LAYER_FUNCS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name in names:
                orig = getattr(mod, name, None)
                if orig is None:
                    continue
                wrapped = self._wrap(orig, layer)
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith(PKG) and \
                            getattr(m, name, None) is orig:
                        setattr(m, name, wrapped)
                        patched += 1
        return patched

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled or threading.current_thread() is not \
                    threading.main_thread():
                return fn(*args, **kwargs)
            parent = self._stack[-1] if self._stack else None
            idx = len(self.spans)
            jc = self.job_counter
            j0 = jc.next_id() if jc else 0
            span = Span(layer, time.perf_counter(), 0.0, parent, self.op)
            self.spans.append(span)
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                span.end = time.perf_counter()
                span.jobs = (jc.next_id() - j0) if jc else 0
        return wrapper

    def mark(self) -> int:
        return len(self.spans)

    def layer_totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per layer: calls, seconds and jobs of its outermost spans (a
        layer calling itself is counted once), plus self seconds: the
        span's duration minus what its child spans cover."""
        spans = self.spans[since:]
        child_cover = [0.0] * len(spans)
        for s in spans:
            if s.parent is not None and s.parent >= since:
                child_cover[s.parent - since] += s.end - s.start
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(spans):
            t = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0,
                                        "jobs": 0})
            t["self_s"] += (s.end - s.start) - child_cover[i]
            p = s.parent
            nested = False
            while p is not None and p >= since:
                if self.spans[p].name == s.name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                t["calls"] += 1
                t["s"] += s.end - s.start
                t["jobs"] += s.jobs
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op": s.op, "jobs": s.jobs}
            for s in self.spans
        ]


class JobCounter:
    """Spark job ids are dense and increasing: the jobs an op ran are
    the ids handed out between its start and its end."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def next_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())


STAGE_FIELDS = ("stages", "tasks", "exec_cpu_s", "exec_run_s", "jvm_gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def job_stats(spark, first: int, end: int, settle_s: float = 2.0) -> dict:
    """Sum the status store's stage records over jobs ``[first, end)``.

    The store is fed by an asynchronous listener bus, so wait (up to
    ``settle_s``) until each job shows as finished before reading it."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    qs = sc._gateway.new_array(sc._jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    out["jobs"] = 0
    p50s, maxes = [], []
    seen: set[int] = set()
    deadline = time.perf_counter() + settle_s
    for jid in range(first, end):
        while True:
            try:
                job = store.job(jid)
                done = job.status().toString() != "RUNNING"
            except Exception:  # noqa: BLE001 - not yet in the store
                job, done = None, False
            if done or time.perf_counter() > deadline:
                break
            time.sleep(0.01)
        if job is None:
            continue
        out["jobs"] += 1
        ids = job.stageIds()
        for k in range(ids.size()):
            sid = int(ids.apply(k))
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage, never ran
                continue
            if st.status().toString() == "SKIPPED" or st.numCompleteTasks() == 0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            summ = store.taskSummary(sid, st.attemptId(), qs)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                p50s.append(run.apply(0) / 1e3)
                maxes.append(run.apply(1) / 1e3)
    out["task_p50_s"] = sorted(p50s)[len(p50s) // 2] if p50s else 0.0
    out["task_max_s"] = max(maxes) if maxes else 0.0
    return out


PHASES = ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
          "latestOffset", "walCommit", "commitOffsets")


def make_stream_listener(spark):
    """A StreamingQueryListener that keeps every micro-batch's progress.

    Built lazily because the listener base class needs an active
    session; ``wait_terminated(n)`` blocks until ``n`` queries ended, so
    a drained query's last progress event is in before we read it."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._cv = threading.Condition()

        def onQueryStarted(self, event) -> None:
            with self._cv:
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d = dict(p.durationMs)
            rec = {ph: float(d.get(ph, 0)) for ph in PHASES}
            rec["input_rows"] = int(p.numInputRows)
            rec["name"] = p.name
            rec["state_rows"] = sum(int(s.numRowsTotal) for s in p.stateOperators)
            rec["state_mem_bytes"] = sum(int(s.memoryUsedBytes)
                                         for s in p.stateOperators)
            with self._cv:
                self.batches.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._cv:
                self.terminated += 1
                self._cv.notify_all()

        def wait_terminated(self, n: int, timeout_s: float = 10.0) -> bool:
            with self._cv:
                return self._cv.wait_for(lambda: self.terminated >= n, timeout_s)

    listener = StreamProgress()
    spark.streams.addListener(listener)
    return listener
