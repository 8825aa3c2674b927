"""Local stand-in for the driver's correctness harness.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same sf dir, then compares row count, column names, and
an order-insensitive value hash (columns sorted by name, rows sorted by
their full stringified value tuple). Floats are normalized via
``repr(round(x, 9))`` so engine-level last-ulp noise doesn't flip the
comparison — queries are still expected to round any aggregated doubles
themselves.

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from datetime import date, datetime

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, (datetime, date)):
        return v.isoformat().replace("+00:00", "")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), sorted(cols), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as ent
    from dataengineer_job_scraper_etl_spark.session import get_spark

    spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = ent.queries()
    oracles = ent.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {e}")
            continue
        spark_fp = frame_fingerprint(scols, srows)
        if name not in oracles:
            print(f"rows  {name}: {spark_fp[0]} rows (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            if spark_fp[0] == 0:
                failures.append(name)
                print(f"WARN  {name}: 0 rows")
            continue
        try:
            cur = con.execute(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"FAIL  {name}: ORACLE ERROR {type(e).__name__}: {e}")
            continue
        oracle_fp = frame_fingerprint(ocols, orows)
        status = "ok  " if spark_fp == oracle_fp else "FAIL"
        if spark_fp != oracle_fp:
            failures.append(name)
        print(
            f"{status}  {name}: spark={spark_fp[0]} oracle={oracle_fp[0]} "
            f"cols {'=' if spark_fp[1] == oracle_fp[1] else '≠'} "
            f"hash {'=' if spark_fp[2] == oracle_fp[2] else '≠'} "
            f"[{time.time()-t0:.1f}s]"
        )
        if spark_fp != oracle_fp and spark_fp[1] != oracle_fp[1]:
            print(f"      spark cols:  {spark_fp[1]}")
            print(f"      oracle cols: {oracle_fp[1]}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
