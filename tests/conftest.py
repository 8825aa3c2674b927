"""Shared Spark session for the test suite.

One session per pytest run (JVM startup dominates otherwise); small
core/shuffle counts keep single-test latency low. local[4] — the same
code paths as local[32]/cluster, just fewer tasks.
"""

from __future__ import annotations

import ast
import os
import pathlib
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dataengineer_job_scraper_etl_spark.session import get_spark

    spark = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def package_sites():
    """``package_sites(visit)``: the (module, enclosing function) of
    every AST node in the package for which ``visit(node)`` is true —
    the walker behind the one-home guards."""
    import dataengineer_job_scraper_etl_spark as pkg

    root = pathlib.Path(pkg.__file__).parent

    def sites(visit) -> set[tuple[str, str]]:
        found = set()
        for path in sorted(root.rglob("*.py")):
            rel = path.relative_to(root).as_posix()

            class Finder(ast.NodeVisitor):
                scope = "<module>"

                def visit_FunctionDef(self, node):
                    outer, self.scope = self.scope, node.name
                    self.generic_visit(node)
                    self.scope = outer

                def generic_visit(self, node):
                    if visit(node):
                        found.add((rel, self.scope))
                    super().generic_visit(node)

            Finder().visit(ast.parse(path.read_text(encoding="utf-8")))
        return found

    return sites


@pytest.fixture(scope="session")
def topk_prune_problems():
    """``topk_prune_problems(df)``: why ``df``'s executed plan is not a
    map-side-pruned grouped top-k (empty when it is). Catalyst's
    ``InferWindowGroupLimit`` must put a Partial ``WindowGroupLimit``
    below the ``Exchange hashpartitioning`` on its group keys, and a
    Final one on the same keys above that exchange."""
    import re

    def depth(line: str) -> int:
        m = re.search(r"[+:]- ", line)
        return m.start() if m else -1

    def ancestors(lines: list[str], i: int) -> list[str]:
        out, cur = [], depth(lines[i])
        for line in reversed(lines[:i]):
            if depth(line) < cur:
                out.append(line)
                cur = depth(line)
        return out

    def problems(df) -> list[str]:
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        partial = [
            i for i, line in enumerate(lines)
            if "WindowGroupLimit" in line and line.rstrip().endswith("Partial")
        ]
        if not partial:
            return ["no Partial WindowGroupLimit in the plan"]
        bad = []
        for i in partial:
            keys = re.search(r"WindowGroupLimit \[([^\]]*)\]", lines[i]).group(1)
            up = ancestors(lines, i)
            ex = next((j for j, a in enumerate(up) if "Exchange" in a), None)
            if ex is None or f"Exchange hashpartitioning({keys}, " not in up[ex]:
                bad.append(f"Partial on [{keys}] is not below its group exchange")
            elif not any(
                f"WindowGroupLimit [{keys}]" in a and a.rstrip().endswith("Final")
                for a in up[ex + 1:]
            ):
                bad.append(f"no Final on [{keys}] above its exchange")
        return bad

    return problems
