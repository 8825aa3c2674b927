"""Triangle counting + local clustering coefficient over the kNN
similarity graph (LLM-curation extension, SURVEY §2.10/§2.19) — the
catalog's graph-analytics complement to PageRank centrality
(queries/graphrank.py): centrality scores REPRESENTATIVENESS, the
clustering coefficient scores REDUNDANCY. A node whose similarity
neighborhood closes into triangles sits inside a dense near-duplicate
community (prune-candidate); a node with high degree but low
coefficient bridges diverse regions (diversity-preserving keeper).
Triangle statistics over the similarity graph are the standard
community-density diagnostic a curation pipeline reads before
choosing dedup aggressiveness per region.

Graph: the SAME directed top-KNN_K cosine graph as
vec_knn_pagerank_centrality (vec_id < N_NODES slice, ppm-quantized
scores, id tiebreaks — constants imported from graphrank so the two
entries can never drift apart), symmetrized to undirected edges
{u, v} (an edge exists if EITHER direction ranked the other in its
top-k — the usual kNN-graph symmetrization).

Algorithm: compact-forward / degree-ordered counting — THE
distributed triangle algorithm (Latapy 2008; the shape every
MapReduce/Spark triangle job reduces to). Orient each undirected edge
from its (degree, id)-smaller endpoint to its larger; the orientation
is a DAG under a total order, every triangle has exactly one source
node with two outgoing oriented edges, so:

    wedges   = orient ⋈ orient on the shared source (the two targets
               η-ordered, each unordered wedge generated once)
    triangle = wedge {b, c} closed iff oriented edge (b, c) exists —
               an EQUI-join, because the closing edge's orientation
               follows the same total order that ordered the wedge

Per-task wedge work is bounded by the ORIENTED out-degree (≤ max
degree under the order ~ graph arboricity), not the raw degree — the
property that makes the algorithm survive skewed similarity graphs
(a hub's wedges are generated by its low-degree neighbors). The two
corpus-PAIR-scale shuffles are the wedge self-join (keyed on the
shared source) and the closing-edge semi-join (keyed on the ordered
wedge endpoints); around them sit node-scale keyed joins (degree
onto edges for the orientation, per-node triangle counts onto the
output) — node-scale frames are NOT broadcastable at real scale
(nodes = corpus docs), so those render as shuffle joins by design
and their keys are single node ids (measured plan at the fixture:
15 exchanges / 7 shuffle joins, pinned in tests/test_scale_plans.py
— the checkpointed intermediates deny AQE the stats to broadcast
even the fixture-small sides, which is the honest at-scale
rendering).

Determinism: the edge set is integer (cos_ppm + id tiebreak, the
graphrank device); degrees, orientation, wedge and triangle counts
are pure integer; the ONLY float step is the final clustering
coefficient 2·T·1e6 / (d·(d−1)) — one IEEE division of small exact
integers, ppm-rounded half-up, identical op order in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.catalog import register
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.queries.graphrank import (
    KNN_K,
    N_NODES,
)


def _tri_oracle() -> str:
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE vec_id < {N_NODES}),
nodes AS (SELECT vec_id FROM v),
scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         CAST(round(list_cosine_similarity(a.e, b.e) * 1e6) AS BIGINT)
           AS cos_ppm
  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
dedges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY cos_ppm DESC, dst ASC) AS rn
    FROM scored) WHERE rn <= {KNN_K}),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
  FROM dedges),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS node FROM und UNION ALL SELECT w FROM und)
  GROUP BY node),
orient AS (
  SELECT CASE WHEN (du.d, u) < (dw.d, w) THEN u ELSE w END AS s,
         CASE WHEN (du.d, u) < (dw.d, w) THEN w ELSE u END AS t,
         CASE WHEN (du.d, u) < (dw.d, w) THEN dw.d ELSE du.d END AS dt
  FROM und
  JOIN deg du ON du.node = u
  JOIN deg dw ON dw.node = w),
wedges AS (
  SELECT e1.s AS a,
         CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e1.t ELSE e2.t END AS b,
         CASE WHEN (e1.dt, e1.t) < (e2.dt, e2.t) THEN e2.t ELSE e1.t END AS c
  FROM orient e1 JOIN orient e2
    ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)),
tris AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN orient o ON o.s = w.b AND o.t = w.c),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS tri
  FROM (SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris)
  GROUP BY node)
SELECT n.vec_id,
       coalesce(deg.d, 0) AS degree,
       coalesce(p.tri, 0) AS triangles,
       CAST(CASE WHEN coalesce(deg.d, 0) >= 2
            THEN round(2 * coalesce(p.tri, 0) * 1e6
                       / (deg.d * (deg.d - 1)))
            ELSE 0 END AS BIGINT) AS cc_ppm
FROM nodes n
LEFT JOIN deg ON deg.node = n.vec_id
LEFT JOIN pernode p ON p.node = n.vec_id
"""


def triangle_stats(und: DataFrame, nodes: DataFrame) -> DataFrame:
    """(vec_id, degree, triangles, cc_ppm) for every node, from an
    undirected edge frame (u, w) with u < w and no duplicates —
    compact-forward counting as described in the module docstring.
    Factored so tests can plant known graphs (K4 -> cc exactly 1e6
    per node; a path -> all zeros) against hand-counted answers."""
    und = und.localCheckpoint(eager=False)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        # feeds the two orientation joins AND the output join
        .localCheckpoint(eager=False)
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dw = deg.select(F.col("node").alias("w"), F.col("d").alias("dw"))
    u_first = (F.col("du") < F.col("dw")) | (
        (F.col("du") == F.col("dw")) & (F.col("u") < F.col("w"))
    )
    orient = (
        und.join(du, "u")
        .join(dw, "w")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("w")).alias("s"),
            F.when(u_first, F.col("w")).otherwise(F.col("u")).alias("t"),
            F.when(u_first, F.col("dw")).otherwise(F.col("du")).alias("dt"),
        )
        # feeds the wedge self-join (twice) AND the closing-edge join
        .localCheckpoint(eager=False)
    )
    e1 = orient.select(
        F.col("s"), F.col("t").alias("t1"), F.col("dt").alias("dt1")
    )
    e2 = orient.select(
        F.col("s"), F.col("t").alias("t2"), F.col("dt").alias("dt2")
    )
    w_first = (F.col("dt1") < F.col("dt2")) | (
        (F.col("dt1") == F.col("dt2")) & (F.col("t1") < F.col("t2"))
    )
    wedges = e1.join(e2, "s").filter(w_first).select(
        F.col("s").alias("a"),
        F.col("t1").alias("b"),
        F.col("t2").alias("c"),
    )
    tris = wedges.join(
        orient.select(F.col("s").alias("b"), F.col("t").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    pernode = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    d = F.coalesce(F.col("d"), F.lit(0))
    tri = F.coalesce(F.col("tri"), F.lit(0))
    return (
        nodes.join(deg.select(F.col("node").alias("vec_id"), "d"),
                   "vec_id", "left")
        .join(
            F.broadcast(
                pernode.select(F.col("node").alias("vec_id"), "tri")
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            d.alias("degree"),
            tri.alias("triangles"),
            F.when(
                d >= 2,
                F.round(tri * 2 * 1e6 / (F.col("d") * (F.col("d") - 1)), 0),
            )
            .otherwise(F.lit(0.0))
            .cast("bigint")
            .alias("cc_ppm"),
        )
    )


@register(
    "vec_knn_clustering_coefficient",
    _tri_oracle(),
    doc="Degree-ordered (compact-forward) triangle counting + local "
    "clustering coefficient over the symmetrized top-5 cosine kNN "
    "graph of the vec_id<500 slice — the redundancy complement to "
    "vec_knn_pagerank_centrality's representativeness (same edge "
    "constants, imported). Orientation by (degree, id) makes every "
    "triangle a single equi-joinable wedge closure and bounds "
    "per-task wedge work by oriented out-degree (~arboricity), the "
    "skew-surviving shape; the wedge self-join and closure semi-join "
    "are the two pair-scale shuffles, with node-scale keyed joins "
    "around them (see module docstring for the measured plan). "
    "All-integer until one "
    "ppm division; the full 500-row (degree, triangles, cc) surface "
    "is hash-pinned cross-engine.",
)
def vec_knn_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from dataengineer_job_scraper_etl_spark.functions.vector_math import (
        as_double,
        dot,
        l2_norm,
    )
    from dataengineer_job_scraper_etl_spark.operators.topk import (
        grouped_topk,
    )
    from dataengineer_job_scraper_etl_spark.session import (
        ensure_min_parallelism,
    )

    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < N_NODES
    )
    ed = as_double(F.col("embedding"))
    # Fan out + per-node norm precompute, exactly as in
    # vec_knn_pagerank_centrality (r13 optimization, see the comment
    # there): the 1-partition slice pinned the N^2 cosine stage to one
    # task, and dot/(na*nb) is the bit-identical cosine with the two
    # norm folds hoisted out of the pair loop.
    v = (
        ensure_min_parallelism(emb.select("vec_id", ed.alias("e")))
        .withColumn("nrm", l2_norm(F.col("e")))
        .localCheckpoint(eager=False)
    )
    nodes = v.select("vec_id")

    a = v.select(
        F.col("vec_id").alias("src"),
        F.col("e").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = v.select(
        F.col("vec_id").alias("dst"),
        F.col("e").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    scored = a.join(b, F.col("src") != F.col("dst")).select(
        "src",
        "dst",
        F.round(
            dot(F.col("ea"), F.col("eb"))
            / (F.col("na") * F.col("nb"))
            * 1e6,
            0,
        )
        .cast("bigint")
        .alias("cos_ppm"),
    )
    dedges = grouped_topk(
        scored, ["src"], [F.desc("cos_ppm"), F.asc("dst")], KNN_K
    ).select("src", "dst")
    und = dedges.select(
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("w"),
    ).distinct()
    return triangle_stats(und, nodes)
