"""End-to-end benchmark of the engine on a seeded fixture.

Usage (from the repository root):

    python3 perfbench/run.py --workload nightly_batch --seed 1 \\
        --seconds 12 --trace 0

One process is one run: it generates the fixture for ``--seed``,
fingerprints every op's expected answer on DuckDB (the catalog's oracle
SQL), starts a Spark session on ``local[nproc]``, runs the workload's
warm-up passes, then times whole passes of its ops in a seed-shuffled
order with one closed-loop client. Every op's result is
checked against its oracle fingerprint. All timings are scaled to
reference-host seconds with the probe in ``host.py``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``); the line before it carries the
run's context (versions, core count, seed, raw seconds, warm-up trace).
Scratch files live in a per-run directory under ``.perfbench_tmp/`` in
the repository root and are removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "dataengineer_job_scraper_etl_spark"

for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import host  # noqa: E402
import layers  # noqa: E402
from workloads import (  # noqa: E402
    MIN_PASSES, NIGHTLY_WRITES, PASS_REF_S, WARM_PASSES, WORKLOADS, Runner,
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans-out", help="write the traced run's spans here (JSON)")
    return ap.parse_args(argv)


def oracle_fingerprints(sf_dir: str, names, queries) -> dict:
    import duckdb

    from fixture import TABLES
    from tools.check import frame_fingerprint

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            cur = con.execute(queries[n].oracle)
            out[n] = frame_fingerprint([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(1, min(99, int(100 * (1 - 10 / n)))) if n >= 20 else 0


def quantile(values: list[float], pct: int) -> float:
    if pct <= 0:
        return max(values)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def dir_bytes_files(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files


def gc_state(spark) -> tuple[float, float]:
    """(JVM GC seconds so far, heap MB in use after the last collection)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    heap = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            usage = pool.getCollectionUsage()
            if usage is not None:
                heap += usage.getUsed()
    return gc_ms / 1e3, heap / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until both it and the
    Python workers below it have exited."""
    from pyspark import SparkContext

    try:
        tree = host.ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        pids = tree.pids()
    except Exception:  # noqa: BLE001 - JVM already gone
        pids = []
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.perf_counter() + 30
    while pids and time.perf_counter() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.workload = args.workload
        self.ops = WORKLOADS[args.workload]
        self.harness_s = 0.0  # fixture + oracle time, excluded from setup_s
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = layers.Tracer() if args.trace else None
        self.probes: list[float] = []
        self.self_test_result: str | None = None

    # -- one pass ---------------------------------------------------
    def run_pass(self, idx: int, traced: bool) -> dict:
        spark, tracer = self.spark, self.tracer
        order = list(self.ops)
        random.Random(f"{self.args.seed}:{idx}").shuffle(order)
        if not host.spark_idle(spark):
            self.failed += 1
            self.errors.append(f"pass {idx}: Spark busy before the probe")
        pre = host.probe(spark)
        cpu0 = self.tree.cpu_s()
        steal0 = host.steal_s()
        gc0 = gc_state(spark)[0] if self.args.trace else 0.0
        if tracer:
            tracer.enabled = traced
            mark = tracer.mark()
        rec = {"wall": 0.0, "ops": [], "call_s": 0.0, "action_s": 0.0,
               "rows": 0, "batches": [], "jobstats": [], "io_bytes": 0,
               "io_files": 0}
        for name in order:
            self.attempted += 1
            if tracer:
                tracer.op = f"{idx}:{name}"
            j0 = self.jobs.next_id() if traced else 0
            try:
                res = self.runner.run(name)
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                self.failed += 1
                self.errors.append(f"pass {idx} {name}: {type(e).__name__}: {str(e)[:300]}")
                continue
            j1 = self.jobs.next_id() if traced else 0
            ok = res.error is None and \
                self.fingerprint(res.cols, res.rows) == self.oracle[name]
            if not ok:
                self.failed += 1
                self.errors.append(f"pass {idx} {name}: {res.error or 'result differs from oracle'}")
            if ok and self.self_test_result is None:
                self.self_test(res)
            rec["wall"] += res.wall_s
            rec["call_s"] += res.call_s
            rec["action_s"] += res.action_s
            rec["rows"] += len(res.rows)
            rec["batches"].extend(res.batches)
            rec["ops"].append(res.wall_s)
            rec.setdefault("by_op", {})[name] = res.wall_s
            if traced:
                rec["jobstats"].append(layers.job_stats(spark, j0, j1))
                if name in NIGHTLY_WRITES:
                    b, f = dir_bytes_files(os.path.join(self.out_dir, name))
                    rec["io_bytes"] += b
                    rec["io_files"] += f
        cpu1 = self.tree.cpu_s()
        rec["steal"] = host.steal_s() - steal0
        rec["jvm_cpu"] = cpu1[0] - cpu0[0]
        rec["worker_cpu"] = cpu1[1] - cpu0[1]
        if self.args.trace:
            gc1, heap = gc_state(spark)
            rec["gc_s"], rec["heap_mb"] = gc1 - gc0, heap
        if tracer:
            rec["layers"] = tracer.layer_totals(mark)
            tracer.enabled = True
        if not host.spark_idle(spark):
            self.failed += 1
            self.errors.append(f"pass {idx}: Spark busy after the pass")
        post = host.probe(spark)
        rec["probe"] = pre + post
        self.probes += pre + post
        return rec

    def self_test(self, res) -> None:
        """A tampered copy of a verified result must be rejected."""
        rows = list(res.rows)
        if rows:
            rows[0] = ("tampered",) + tuple(rows[0][1:])
        else:
            rows = [tuple("tampered" for _ in res.cols)]
        if self.fingerprint(res.cols, rows) == self.oracle[res.name]:
            self.self_test_result = f"FAILED: a tampered {res.name} result was accepted"
            self.failed += 1
            self.errors.append(self.self_test_result)
        else:
            self.self_test_result = f"passed: a tampered {res.name} result was rejected"

    # -- the run ----------------------------------------------------
    def run(self) -> dict:
        args = self.args
        if self.tracer:
            self.tracer.enabled = True
            self.tracer.install()  # before the catalog is imported
        from dataengineer_job_scraper_etl_spark import session
        from dataengineer_job_scraper_etl_spark.catalog import all_queries
        from fixture import write_fixture
        from tools.check import frame_fingerprint

        self.fingerprint = frame_fingerprint
        queries = all_queries()

        h0 = time.perf_counter()
        sf_dir = write_fixture(args.seed, os.path.join(self.run_dir, "fixture"))
        self.oracle = oracle_fingerprints(sf_dir, self.ops, queries)
        self.harness_s += time.perf_counter() - h0

        t0 = time.perf_counter()
        spark = session.get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                # start the heap at its maximum, so peak RSS does not depend
                # on when the collector chose to grow it
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}",
            },
        )
        try:
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            self.spark = spark
            self.tree = host.ProcTree(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
            self.jobs = layers.JobCounter(spark)
            if self.tracer:
                self.tracer.job_counter = self.jobs
            listener = (layers.make_stream_listener(spark)
                        if any(n.startswith("streaming_") for n in self.ops) else None)
            self.out_dir = os.path.join(self.run_dir, "out")
            self.runner = Runner(spark, sf_dir, self.out_dir, queries, listener)
            return self.measure(session_s)
        finally:
            stop_spark(spark)

    def measure(self, session_s: float) -> dict:
        args, spark = self.args, self.spark
        n_warm = WARM_PASSES[self.workload]
        warm = [self.run_pass(i, traced=bool(args.trace)) for i in range(n_warm)]
        setup_raw = time.perf_counter() - T_START - self.harness_s
        setup_probe = statistics.median(self.probes)
        setup_factor = host.scale(setup_probe)

        n_pass = max(MIN_PASSES, round(args.seconds / PASS_REF_S[self.workload]))
        if args.trace:
            # traced and untraced passes in ABBA order, so the residual
            # warm-up trend does not show up as tracing overhead
            n_pass *= 2
        timed = [self.run_pass(n_warm + i, traced=bool(args.trace) and i % 4 in (0, 3))
                 for i in range(n_pass)]
        jvm_mb, workers_mb, n_workers = self.tree.hwm_mb()
        # One scale for the whole timed region: the median of every probe
        # sample bracketing its passes (a single bracket is too noisy).
        timed_probe = statistics.median(p for r in timed for p in r["probe"])
        for r in timed:
            r["factor"] = host.scale(timed_probe)

        ops = [t * r["factor"] for r in timed for t in r["ops"]]
        pct = tail_percentile(len(ops))
        info = {
            "workload": self.workload, "seed": args.seed, "trace": args.trace,
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "spark": spark.version, "python": platform.python_version(),
            "probe_ref_s": host.PROBE_REF_S,
            "setup_probe_s": round(setup_probe, 5),
            "timed_probe_s": round(timed_probe, 5),
            "setup_raw_s": round(setup_raw, 3),
            "session_raw_s": round(session_s, 3),
            "harness_s": round(self.harness_s, 3),
            "warm_pass_raw_s": [round(r["wall"], 3) for r in warm],
            "timed_pass_raw_s": [round(r["wall"], 3) for r in timed],
            "op_pass_raw_s": {n: [round(r["by_op"].get(n, 0.0), 3) for r in timed]
                              for n in self.ops},
            "cpu_raw_s": round(statistics.median(r["jvm_cpu"] + r["worker_cpu"]
                                                 for r in timed), 3),
            "op_samples": len(ops), "op_tail_pct": pct,
            "jvm_hwm_mb": round(jvm_mb, 1), "workers_hwm_mb": round(workers_mb, 1),
            "workers": n_workers,
            "self_test": self.self_test_result,
            "errors": self.errors[:20],
        }
        if args.trace:
            metrics = self.layer_metrics(timed, session_s, setup_factor)
            if args.spans_out:
                with open(args.spans_out, "w") as f:
                    json.dump(self.tracer.dump(), f)
            info["spans"] = len(self.tracer.spans)
            info["layer_self_s"] = {name: round(t["self_s"], 4)
                                    for name, t in self.tracer.layer_totals(0).items()}
        else:
            metrics = {
                "setup_s": (setup_raw * setup_factor, "s"),
                "pass_s": (statistics.median(r["wall"] * r["factor"] for r in timed), "s"),
                "cpu_s": (statistics.median((r["jvm_cpu"] + r["worker_cpu"]) * r["factor"]
                                            for r in timed), "s"),
                "op_p50_s": (statistics.median(ops), "s"),
                "op_tail_s": (quantile(ops, pct), "s"),
                "peak_rss_mb": (jvm_mb + workers_mb, "MB"),
                "ok_ratio": ((self.attempted - self.failed) / self.attempted, "ratio"),
            }
        return {"info": info, "metrics": metrics,
                "attempted": self.attempted, "failed": self.failed}

    def layer_metrics(self, timed, session_s, setup_factor) -> dict:
        traced = [r for i, r in enumerate(timed) if i % 4 in (0, 3)]
        untraced = [r for i, r in enumerate(timed) if i % 4 in (1, 2)]

        def med(fn):
            return statistics.median(fn(r) for r in traced)

        def layer(r, name, key):
            return r["layers"].get(name, {}).get(key, 0.0)

        def batch_sum(r, key):
            return sum(b[key] for b in r["batches"])

        def last_state(r, key):
            last = {}
            for b in r["batches"]:
                last[b["name"]] = b[key]
            return sum(last.values())

        def js(r, key, agg=sum):
            vals = [s[key] for s in r["jobstats"]]
            return agg(vals) if vals else 0.0

        whole_run = self.tracer.layer_totals(0)

        def run_total(name):
            return whole_run.get(name, {}).get("s", 0.0) * setup_factor

        m = {
            "operators.components.calls": (med(lambda r: layer(r, "operators.components", "calls")), "count"),
            "operators.components.s": (med(lambda r: layer(r, "operators.components", "s") * r["factor"]), "s"),
            "operators.components.jobs": (med(lambda r: layer(r, "operators.components", "jobs")), "count"),
            "streaming.batches": (med(lambda r: len(r["batches"])), "count"),
            "streaming.input_rows": (med(lambda r: batch_sum(r, "input_rows")), "count"),
            "streaming.trigger_ms": (med(lambda r: batch_sum(r, "triggerExecution") * r["factor"]), "ms"),
        }
        for ph in ("addBatch", "queryPlanning", "getBatch", "latestOffset",
                   "walCommit", "commitOffsets"):
            m[f"streaming.{ph}_ms"] = (med(lambda r, ph=ph: batch_sum(r, ph) * r["factor"]), "ms")
        m["streaming.state_rows"] = (med(lambda r: last_state(r, "state_rows")), "count")
        m["streaming.state_mem_bytes"] = (med(lambda r: last_state(r, "state_mem_bytes")), "bytes")
        m["operators.similarity.train_s"] = (run_total("operators.similarity.train"), "s")
        m["queries.call_s"] = (med(lambda r: r["call_s"] * r["factor"]), "s")
        m["queries.action_s"] = (med(lambda r: r["action_s"] * r["factor"]), "s")
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("exec_cpu_s", "s"), ("exec_run_s", "s"), ("jvm_gc_s", "s"),
                          ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                          ("spill_bytes", "bytes")):
            m[f"queries.{key}"] = (med(lambda r, key=key: js(r, key)), unit)
        m["queries.task_p50_s"] = (med(lambda r: js(r, "task_p50_s", statistics.median)), "s")
        m["queries.task_max_s"] = (med(lambda r: js(r, "task_max_s", max)), "s")
        m["queries.result_rows"] = (med(lambda r: r["rows"]), "count")
        for metric, name in (("plans.jobs.transform_s", "plans.jobs.transform"),
                             ("operators.skills.s", "operators.skills"),
                             ("plans.corpus.build_s", "plans.corpus.build"),
                             ("io.write_s", "io.write")):
            m[metric] = (med(lambda r, name=name: layer(r, name, "s") * r["factor"]), "s")
        m["io.bytes_written"] = (med(lambda r: r["io_bytes"]), "bytes")
        m["io.files_written"] = (med(lambda r: r["io_files"]), "count")
        m["python.worker_cpu_s"] = (med(lambda r: r["worker_cpu"] * r["factor"]), "s")
        m["jvm.cpu_s"] = (med(lambda r: r["jvm_cpu"] * r["factor"]), "s")
        m["jvm.gc_s"] = (med(lambda r: r["gc_s"] * r["factor"]), "s")
        m["jvm.heap_after_gc_mb"] = (med(lambda r: r["heap_mb"]), "MB")
        m["session.get_spark_s"] = (run_total("session.get_spark") or session_s, "s")
        m["staging.stage_s"] = (run_total("staging.stage"), "s")
        m["host.probe_s"] = (statistics.median(self.probes), "s")
        m["host.wall_pass_s"] = (statistics.median(r["wall"] for r in timed), "s")
        m["host.steal_s"] = (statistics.median(r["steal"] for r in timed), "s")
        tp = statistics.median(r["wall"] * r["factor"] for r in traced)
        up = statistics.median(r["wall"] * r["factor"] for r in untraced)
        m["trace.traced_pass_s"] = (tp, "s")
        m["trace.untraced_pass_s"] = (up, "s")
        m["trace.overhead_s"] = (tp - up, "s")
        return m


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwind so the run dir is removed


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check.py")):
        print(f"perfbench: the engine package {PKG} is not next to perfbench/",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    # the engine's default heap (24g) exceeds small hosts; set it explicitly
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # keep the JVMs' temp files (and no perf-data file) inside the run dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}")))
    try:
        out = Bench(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps({"info": out["info"]}))
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
