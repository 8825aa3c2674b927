"""connected_components: label propagation finds exact components on
chains, cliques, and singleton-free edge lists.
"""

from __future__ import annotations

from dataengineer_job_scraper_etl_spark.operators.components import (
    connected_components,
)
from dataengineer_job_scraper_etl_spark.session import codegen_compiles


def _cc(spark, edges, max_iter=10):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, max_iter=max_iter)
    return {r["node"]: r["component"] for r in out.collect()}

def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_needs_propagation(spark):
    # a 7-node chain: min label must walk the full diameter
    chain = [(i, i + 1) for i in range(1, 7)]
    got = _cc(spark, chain)
    assert set(got.values()) == {1} and len(got) == 7


def test_clique_and_cycle(spark):
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    cycle = [(20, 21), (21, 22), (22, 20)]
    got = _cc(spark, clique + cycle)
    assert {got[n] for n in range(4)} == {0}
    assert {got[n] for n in (20, 21, 22)} == {20}


def test_raises_on_non_convergence(spark):
    import pytest

    # a 13-node chain needs 12 propagation rounds; max_iter=3 must
    # raise instead of returning partially-propagated (wrong) labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=3)


def test_warm_second_call_compiles_nothing(spark):
    """Both convergence probes (the fused-round-1 one at max_iter=1 and
    the per-round one, through plain and doubling rounds) must reuse
    cached generated classes. Spark names a whole-stage-codegen'd
    limit's counter from a process-wide id, so a ``limit(1).count()``
    probe compiled fresh classes on every call."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)] + [(10, 11)], "src long, dst long"
    )
    loops = spark.createDataFrame([(1, 1), (2, 2)], "src long, dst long")

    def run():
        return (
            sorted(connected_components(chain).collect()),
            sorted(connected_components(loops, max_iter=1).collect()),
        )

    first = run()
    c0 = codegen_compiles(spark)
    second = run()
    assert codegen_compiles(spark) - c0 == 0
    assert second == first
    assert {r["component"] for r in first[0]} == {1, 10}
