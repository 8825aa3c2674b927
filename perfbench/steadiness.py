"""Run the benchmark over several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile range over median).

Usage (from the repository root):

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] \\
        [--out perfbench/steadiness.json]

Runs are sequential, one fresh process each, with ``run_seconds`` and the
bounds taken from BENCHMARK.json. A spread at or under a third of the
metric's bound is marked steady. An existing ``--out`` file keeps the
entries of workloads not run this time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seed_list(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run_once(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["info"] = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"run_seconds": bench["run_seconds"], "workloads": {}}
    if args.out and os.path.exists(args.out):
        with open(args.out) as f:
            report["workloads"] = json.load(f).get("workloads", {})  # keep other workloads
    for w in args.workloads.split(","):
        runs = []
        for seed in seed_list(args.seeds):
            r = run_once(w, seed, bench["run_seconds"])
            runs.append(r)
            print(json.dumps({"workload": w, "seed": seed, "correct": r["correct"],
                              "wall_s": round(r["wall_s"], 1),
                              **{k: round(v["value"], 4) for k, v in r["metrics"].items()},
                              "info": r["info"]}),
                  flush=True)
        stats = {}
        for name in bounds:
            s = summarize([r["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds[name]
            s["steady"] = s["spread"] <= bounds[name] / 3
            stats[name] = s
        report["workloads"][w] = {
            "seeds": seed_list(args.seeds),
            "all_correct": all(r["correct"] for r in runs),
            "run_wall_s": summarize([r["wall_s"] for r in runs]),
            "metrics": stats,
            "runs": [{"seed": s, **{k: v["value"] for k, v in r["metrics"].items()}}
                     for s, r in zip(seed_list(args.seeds), runs)],
        }
        for name, s in stats.items():
            print(f"{w:22s} {name:12s} median {s['median']:10.4f} "
                  f"q1 {s['q1']:10.4f} q3 {s['q3']:10.4f} spread {s['spread']:.3f} "
                  f"bound {s['bound']:.2f} {'steady' if s['steady'] else 'NOISY'}",
                  flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
