"""Connected components over an edge list — the step that turns
near-duplicate PAIRS into dedup CLUSTERS (keep one doc per component).

Algorithm: iterative min-label propagation PLUS per-round pointer
doubling (path compression): after taking the minimum label among
itself and its neighbors, each node also jumps to its current label's
label (labels only ever decrease, so label(label(n)) <= label(n)).
The neighbor step alone needs diameter rounds; the doubling step
squares the propagation distance covered per round, so convergence is
O(log diameter) — the difference between 10 rounds handling a
1000-node chain vs a ~10-node one. (Near-dup clusters are usually
tiny and dense, but tiled/templated corpora produce exactly the long
chains that hit an O(diameter) budget — the sf1 sweep did.)

Scale posture:
- state is one (node, label) row per node; each round is one join
  edges><labels + one min-agg + one labels><labels shortcut join —
  all keyed shuffles, no collect().
- the convergence check is an emptiness probe on the changed labels
  (``isEmpty``: one tiny action per round on an intermediate the round
  already computed, not a full result comparison). It is spelled
  without ``limit``: Spark names a whole-stage-codegen'd limit's
  counter from a process-wide id, so ``limit(1).count()`` compiled
  fresh classes on every call, whatever the codegen cache size.
- labels are localCheckpoint'ed per round: truncates the lineage that
  would otherwise double per iteration (the classic iterative-Spark
  trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rounds to run without the pointer-doubling shortcut join before
# concluding the graph is chain-shaped (see loop comment below).
_PLAIN_ROUNDS = 2


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 10,
) -> DataFrame:
    """(node, component) — component = min node id reachable via
    undirected edges. Nodes appearing only in edges are covered; pass
    isolated nodes separately if they must appear.

    Raises RuntimeError if labels are still changing after
    ``max_iter`` rounds (propagation distance exceeded the budget,
    e.g. a chain longer than max_iter+1 nodes): silently returning
    partially-propagated labels would be WRONG data with no signal —
    callers should raise max_iter for high-diameter graphs."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Fused round 1 (r14 optimization, guide §2.4): with identity
    # starting labels, round 1's neighbor pass joins labels(b) == b —
    # so neighbor_min(a) is just min(b) over a's edges and round 1's
    # whole join + min-agg + reinstatement-join chain collapses into
    # the label INITIALIZATION itself: one aggregate over sym,
    # least(a, min(b)) — provably the exact labels the old round 1
    # produced (pinned against a verbatim pre-r14 replay in
    # tests/test_r14_optimizations.py). The symmetric edge set also
    # makes round 1's convergence probe decidable for free: every
    # edge (a, b) with a != b relabels its larger endpoint, so labels
    # changed iff sym has any off-diagonal edge — no count action.
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.col("node"), F.min("b")).alias("component"))
        .localCheckpoint(eager=False)
    )
    # Adaptive doubling (VERDICT r6 ask #5): the shortcut join is pure
    # overhead on the typical near-dup graph (tiny dense clusters
    # converge in 1-2 plain rounds) and only pays on long chains. So
    # run the first _PLAIN_ROUNDS rounds PLAIN and enable doubling
    # only if the labels are still changing after them — dense
    # clusters hit changed=0 before the trigger fires (and never pay
    # the shortcut join), while a still-changing graph is chain-shaped
    # and gets the O(log diameter) path from round 3 on. Once on,
    # doubling stays on: labels only ever decrease, so it only
    # tightens. (A stall-count trigger behaves identically here but
    # needs a full per-round changed COUNT; the round-index trigger
    # keeps the cheap any-changed probe.) Round indices below start at
    # 1 because the fused init above IS round 1 — the doubling
    # schedule (plain until _PLAIN_ROUNDS, doubling from round 3) and
    # the max_iter budget are unchanged round-for-round.
    doubling = False
    if max_iter == 1:
        # the fused init consumed the whole budget: converged iff no
        # off-diagonal edge exists (the free round-1 probe above)
        if sym.filter(F.col("a") != F.col("b")).isEmpty():
            return labels
        raise RuntimeError(
            f"connected_components did not converge within "
            f"max_iter={max_iter} rounds; the graph's propagation "
            f"distance exceeds the budget — raise max_iter"
        )
    for rnd in range(1, max_iter):
        neighbor_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_min"))
        )
        # Staged: consumed twice in doubling mode (both sides of the
        # shortcut join) — without the checkpoint each side would
        # re-execute the edges><labels join + min-agg (the per-round
        # cost claim in PLANS.md is one neighbor pass + at most one
        # shortcut join, not two neighbor passes).
        stepped = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("c1"),
                F.col("component").alias("c_prev"),
            )
            .localCheckpoint(eager=False)
        )
        if doubling:
            # Pointer doubling: jump to the label OF the label. Labels
            # only ever decrease, so this can only tighten; it is what
            # turns O(diameter) rounds into O(log diameter).
            ptr = stepped.select(
                F.col("node").alias("p_node"), F.col("c1").alias("p_c")
            )
            new_labels = (
                stepped.join(ptr, stepped["c1"] == ptr["p_node"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("c1"), F.coalesce("p_c", F.col("c1"))
                    ).alias("component"),
                    (
                        F.least(F.col("c1"), F.coalesce("p_c", F.col("c1")))
                        != F.col("c_prev")
                    ).alias("__changed"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            new_labels = stepped.select(
                "node",
                F.col("c1").alias("component"),
                (F.col("c1") != F.col("c_prev")).alias("__changed"),
            )
        converged = new_labels.filter(F.col("__changed")).isEmpty()
        labels = new_labels.drop("__changed")
        if converged:
            return labels
        if rnd + 1 >= _PLAIN_ROUNDS:
            doubling = True
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        f"rounds; the graph's propagation distance exceeds the budget — "
        f"raise max_iter"
    )
