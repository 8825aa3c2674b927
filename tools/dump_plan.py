"""Dump the optimized logical plan and ``explain('formatted')`` of
catalog entries, with expression, plan, lambda-variable and RDD ids
normalized so that two checkouts' dumps diff cleanly.

Usage: python tools/dump_plan.py <out_dir> <suffix> [entry ...]
Writes <out_dir>/<entry>_<suffix>.txt for each named entry (every
registered entry when none is named) over the fixture directory in
$SPARK_GRAFT_SF_DIR. Plans are built by the checkout this script
lives in, so a parent copy is dumped with its own copy of the script;
with one suffix on both sides, ``diff -r`` compares the two outputs.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_IDS = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\bq[0-9a-f]{12}\b"), "qSINK"),
    (re.compile(r"RDD\[\w+\] at (\w+) at [^\s,]+"), r"RDD[N] at \1"),
    (re.compile(r"\b([a-z])_\d+#"), r"\1_N#"),
)


def normalize(plan: str) -> str:
    for pat, rep in _IDS:
        plan = pat.sub(rep, plan)
    return plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dataengineer_job_scraper_etl_spark.catalog import all_queries
    from dataengineer_job_scraper_etl_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    names = sys.argv[3:] or sorted(qs)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name].spark_fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        out = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(out, "w", encoding="utf-8") as f:
            f.write(normalize(optimized + "\n" + buf.getvalue()))
        print("wrote", out)


if __name__ == "__main__":
    main()
