"""Vector arithmetic as built-in higher-order functions (zip_with +
aggregate): JVM-side, no Python boundary, codegen'd. The one module
that spells per-element vector math; shared by the oracle-checked
queries (queries/vectors.py and kin) and the ANN operators
(operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(col: Column) -> Column:
    """The vector column as array<double> (embeddings are stored as
    float arrays; every fold below runs in double)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def sq_dist(a: Column, b: Column) -> Column:
    """Squared L2 distance as ONE sequential left-to-right fold —
    deterministic given identical inputs, which is what lets oracles
    replay it bit-identically. Shared by centroid assignment, the
    SemDeDup survivor ranking, and the profile query."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _centroids_sql(cents: list[tuple[int, list[float]]]) -> str:
    """Render centroids as ONE SQL literal: array of (cluster_id,
    centroid) structs. A single Py4J round trip that Catalyst constant-
    folds into a plan Literal — vs shipping an n_clusters x dim local
    relation + collect_list sub-aggregation + crossJoin(broadcast) per
    Lloyd round. CAST('<repr>' AS DOUBLE) round-trips every IEEE-754
    value exactly on both build (Python repr) and parse (JVM) sides."""
    structs = ", ".join(
        "named_struct('cluster_id', {cid}, 'centroid', array({vals}))".format(
            cid=int(cid),
            vals=", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec),
        )
        for cid, vec in cents
    )
    return f"array({structs})"


def ranked_centroids(
    vec: Column, cents: list[tuple[int, list[float]]]
) -> Column:
    """Every centroid as a (d2, cluster_id) struct, nearest first:
    array_sort over the constant-folded literal centroid set, so
    ``[0].cluster_id`` is the argmin assignment and
    ``slice(·, 1, n)`` the ``n`` nearest lists — per row, no join, no
    shuffle. Ties on d2 break on the lower cluster_id. ``vec`` must
    already be array<double> (see ``as_double``)."""
    return F.array_sort(
        F.transform(
            F.expr(_centroids_sql(cents)),
            lambda s: F.struct(
                sq_dist(vec, s.getField("centroid")).alias("d2"),
                s.getField("cluster_id").alias("cluster_id"),
            ),
        )
    )
