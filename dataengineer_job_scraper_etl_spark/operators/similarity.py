"""Approximate nearest-neighbor search over embedding columns (north
star, SURVEY §2.10).

Five serving paths, trading recall for scan cost:

1. ``brute_force_topk`` — exact cosine top-k; the correctness baseline
   (oracle-checked variant in queries/vectors.py). At 100 TB this is a
   full corpus scan per query batch: fine for offline eval, wrong for
   serving.
2. ``rhp_lsh_topk`` — random-hyperplane LSH: project each vector onto
   ``n_bits`` fixed hyperplanes -> sign bits -> bucket id. Queries only
   score vectors sharing a bucket (optionally multi-probe over
   neighboring buckets). The hyperplanes are deterministic literals
   (seeded), so the plan is reproducible; the only shuffle is the
   bucket equi-join.
3. ``ivf_topk`` — IVF coarse quantizer: k-means-lite centroids
   (deterministic seeded init + ``n_iter`` Lloyd rounds, all DataFrame
   ops), assign corpus to nearest centroid, probe ``n_probe`` nearest
   lists per query, exact cosine over the probed lists.
4. ``ivfpq_topk`` — IVF-PQ: the IVF probe, PQ asymmetric-distance
   (ADC) scoring of the probed candidates, exact rerank of the
   shortlist.
5. ``pq_topk_adc`` / ``opq.pq_rerank_topk`` — PQ (optionally
   OPQ-rotated) over the whole corpus: ADC shortlist, exact rerank.

Paths 3-5 compose three shared stages, each spelled once:

- probe (``_probe_lists``): a query's ``n_probe`` nearest list ids;
- ADC (``pq_topk_adc``): per-query distance tables joined against
  posexploded corpus codes and summed, then a grouped top-k;
- exact rerank (``rerank_topk``): shortlist -> raw vectors -> cosine
  -> grouped top-k.

No Python in the scoring path: per-element vector math lives in
functions/vector_math.py (zip_with + aggregate built-ins).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.vector_math import (
    as_double,
    cosine,
    dot,
    l2_norm,
    ranked_centroids,
    sq_dist,
)
from dataengineer_job_scraper_etl_spark.operators import index_store
from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk
from dataengineer_job_scraper_etl_spark.session import ensure_min_parallelism


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of corpus rows per query row (queries small,
    broadcast). The corpus is fanned out to all cores first — a
    single-row-group parquet scan is 1 partition, which would run the
    whole scoring pass on one core (no-op at scale)."""
    # Per-side norms computed ONCE per row before the cross join (r13
    # optimization, the graphrank device): dot/(qn*cn) is the
    # bit-identical cosine (same ops, same order) with the two norm
    # folds hoisted out of the |queries| x |corpus| scoring loop.
    q2 = queries.withColumn("__qn", l2_norm(as_double(F.col(qvec_col))))
    c2 = ensure_min_parallelism(corpus).withColumn(
        "__cn", l2_norm(as_double(F.col(vec_col)))
    )
    scored = (
        F.broadcast(q2)
        .crossJoin(c2)
        .select(
            F.col(qid_col),
            F.col(id_col),
            (
                dot(as_double(F.col(qvec_col)), as_double(F.col(vec_col)))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cos_sim"),
        )
    )
    return grouped_topk(
        scored, [qid_col], [F.desc("cos_sim"), F.asc(id_col)], k
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]


def _hyperplane_tables(
    spark, dim: int, n_bits: int, n_tables: int, seed: int
) -> DataFrame:
    """The RHP-LSH hash tables as a tiny broadcastable frame: one
    (tab, planes) row per table."""
    rows = [
        (t, _hyperplanes(dim, n_bits, seed + 1000 * t))
        for t in range(n_tables)
    ]
    return spark.createDataFrame(rows, "tab int, planes array<array<double>>")


def _rhp_bucket(vec: Column) -> Column:
    """Sign bit of ``vec`` against each of the row's ``planes``,
    folded MSB-first into a bigint bucket id."""
    bits = F.transform(
        F.col("planes"),
        lambda p: F.when(dot(vec, p) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def rhp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
    n_bits: int = 8,
    n_tables: int = 4,
    multiprobe: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane LSH ANN: candidates = bucket collisions in any
    of ``n_tables`` independent tables, then exact rerank of candidates
    only. Shuffles (table_id, bucket) keys — corpus vectors are hashed
    in place, never all-pairs-joined.

    ``multiprobe=1`` additionally probes every bucket at hamming
    distance 1 from each QUERY's bucket (classic multi-probe LSH):
    the query side fans out to ``n_bits + 1`` bucket keys per table,
    the corpus side is untouched — recall rises steeply (a near
    neighbor only needs n_bits-1 of n_bits agreeing sign bits in some
    table) for a bounded rerank-cost increase. 0 disables.

    The hyperplanes travel as a tiny broadcast TABLE (one row per
    hash table), not as plan literals: n_tables * n_bits * dim literal
    nodes made analysis + codegen the dominant cost (14s at sf0.01 on
    500 vectors), and a per-table union re-scanned the corpus once per
    table. One scan, one cross join against <=16 rows, one projection.
    """
    planes_df = _hyperplane_tables(
        corpus.sparkSession, dim, n_bits, n_tables, seed
    )
    corpus = ensure_min_parallelism(corpus)  # 1-partition scans would
    # otherwise pin the bucket+rerank stages to one core (no-op at scale)

    # Corpus-side norm computed once per row BEFORE the planes cross
    # join (r13 optimization): the rerank's cosine becomes dot/(qn*cn)
    # — the bit-identical expression with the two norm folds hoisted
    # out of the candidate loop (and out of the n_tables fan-out).
    c_all = (
        corpus.withColumn("__cn", l2_norm(as_double(F.col(vec_col))))
        .crossJoin(F.broadcast(planes_df))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__cn"),
            F.col("tab"),
            _rhp_bucket(as_double(F.col(vec_col))).alias("bucket"),
        )
    )
    qb = _rhp_bucket(as_double(F.col(qvec_col)))
    if multiprobe not in (0, 1):
        # only hamming-distance-1 probing is implemented; accepting
        # larger values silently delivered distance-1 recall while the
        # caller believed they bought more (review finding)
        raise ValueError(
            "rhp_lsh_topk: multiprobe must be 0 (exact buckets) or 1 "
            "(hamming-distance-1 probes)"
        )
    if multiprobe == 1:
        probe_buckets = F.array(
            qb, *[qb.bitwiseXOR(F.lit(1 << i)) for i in range(n_bits)]
        )
    else:
        probe_buckets = F.array(qb)
    q_all = (
        queries.withColumn("__qn", l2_norm(as_double(F.col(qvec_col))))
        .crossJoin(F.broadcast(planes_df))
        .select(
            F.col(qid_col),
            F.col(qvec_col),
            F.col("__qn"),
            F.col("tab"),
            F.explode(probe_buckets).alias("bucket"),
        )
    )

    cand = (
        c_all.join(F.broadcast(q_all), ["tab", "bucket"])
        .select(qid_col, id_col, qvec_col, vec_col, "__qn", "__cn")
        .dropDuplicates([qid_col, id_col])
    )
    scored = cand.select(
        F.col(qid_col),
        F.col(id_col),
        (
            dot(as_double(F.col(qvec_col)), as_double(F.col(vec_col)))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    return grouped_topk(
        scored, [qid_col], [F.desc("cos_sim"), F.asc(id_col)], k
    )


def _kmeans_rounds(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    cents: list[tuple[int, list[float]]],
    n_iter: int,
    round_decimals: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Run ``n_iter`` Lloyd rounds over an already-parallelized (and
    ideally checkpointed) corpus; returns the updated centroid list.

    Each round is ONE job and ONE shuffle: literal-centroid argmin
    assign (no join) -> per-cluster mean of every dimension as ``dim``
    avg aggregates over projected element columns (dim is a known
    argument). Partial aggregation bounds the shuffle at
    n_clusters x dim running means per map partition regardless of
    corpus size. For very wide vectors (dim > 256) the wide-agg plan
    would strain codegen, so the round falls back to posexplode ->
    per-(cluster, dim) mean — two shuffles, but rows instead of
    columns.

    ``round_decimals`` quantizes every centroid coordinate after each
    mean update. Two reasons: (a) cross-engine determinism — an oracle
    replaying the same rounds in another engine accumulates means in a
    different summation order; for a per-coordinate mean over ~10^6
    members the order-dependent drift is around 1e-13..1e-12, so the
    quantum must sit far ABOVE that (6 decimals = 5e-7 half-step,
    a ~5x10^5 safety factor; 9 decimals would leave only ~500x —
    thin for a hash contract that cascades through assignment).
    Quantizing makes the round's OUTPUT bit-identical on both sides
    so assignment argmins can't diverge. (b) It is the same
    centroid-quantization trade serving systems make. None (default)
    keeps full precision for the IVF/PQ index paths, whose
    contracts are recall floors, not hash equality.

    Rounding-MODE assumption (ADVICE r6): Python round() here is
    banker's (half-to-even) while DuckDB's round() is half-away-from-
    zero (and Spark's F.round is HALF_UP) — the modes differ ONLY at
    exact decimal halves (x.xxxxx5 as a binary double). A float64
    mean of float inputs landing exactly on a representable decimal
    half is measure-zero in practice, and the drift-margin analysis
    above already requires means to sit >>5e-7-half-step away from
    quantum boundaries for the contract to hold at all; the same
    margin covers the mode seam. If a future caller feeds
    exact-decimal vectors (where halves ARE reachable), switch both
    sides to one explicit rule, e.g. floor(x*10^d + 0.5)/10^d
    mirrored in SQL."""
    for _ in range(n_iter):
        assigned = assign_to_centroid(corpus, cents, vec_col)
        if dim <= 256:
            # dim avg aggregates as F.expr strings (r14): the Column-
            # API form (avg(element_at(transform(vec, cast), i+1)))
            # issued ~5 py4j roundtrips per dimension PER ROUND —
            # driver-side construction time on par with the round's
            # job time at fixture scale (guide §7.3). CAST(vec[i] AS
            # DOUBLE) averages the identical doubles (element-of-cast
            # == cast-of-element; [i] is the 0-based twin of
            # element_at(·, i+1)), so partials and results are
            # bit-identical (pinned in tests/test_r14_optimizations.py).
            new = assigned.groupBy("cluster_id").agg(
                *[
                    F.expr(
                        f"avg(CAST(`{vec_col}`[{i}] AS DOUBLE)) AS m{i}"
                    )
                    for i in range(dim)
                ]
            )
            got = {
                r["cluster_id"]: [r[f"m{i}"] for i in range(dim)]
                for r in new.collect()
            }
        else:
            new = (
                assigned.select(
                    "cluster_id",
                    F.posexplode(as_double(F.col(vec_col))).alias("i", "x"),
                )
                .groupBy("cluster_id", "i")
                .agg(F.avg("x").alias("m"))
                .groupBy("cluster_id")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("i"), F.col("m")))
                    ).alias("pairs")
                )
                .select(
                    "cluster_id",
                    F.transform(
                        F.col("pairs"), lambda p: p.getField("m")
                    ).alias("centroid"),
                )
            )
            got = {r["cluster_id"]: list(r["centroid"]) for r in new.collect()}
        if round_decimals is not None:
            got = {
                cid: [round(x, round_decimals) for x in vec]
                for cid, vec in got.items()
            }
        cents = [
            (cid, got.get(cid, vec)) for cid, vec in cents
        ]  # empty clusters keep previous position
    return cents


def _seeded_init(
    dim: int, n_clusters: int, seed: int
) -> list[tuple[int, list[float]]]:
    rng = random.Random(seed)
    return [
        (cid, [rng.gauss(0.0, 0.2) for _ in range(dim)])
        for cid in range(n_clusters)
    ]


def kmeans_lite(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Deterministic Lloyd iterations with seeded-literal init, pure
    DataFrame ops. Centroids: (cluster_id, centroid array<double>).
    See ``_kmeans_rounds`` for the per-round plan shape."""
    spark = corpus.sparkSession
    # Fan the corpus out once and truncate lineage: every Lloyd round
    # re-reads it (assign + per-dim partial means), so a 1-partition
    # scan would serialize all rounds on one core.
    corpus = ensure_min_parallelism(corpus).localCheckpoint(eager=False)
    cents = _kmeans_rounds(
        corpus, vec_col, dim, _seeded_init(dim, n_clusters, seed), n_iter
    )
    return spark.createDataFrame(
        cents, "cluster_id int, centroid array<double>"
    )


def assign_to_centroid(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str,
) -> DataFrame:
    """Nearest-centroid assignment: the head of ``ranked_centroids``
    over the constant-folded literal centroid set — per-row, no join,
    no shuffle, no extra job at all. Cost O(n_clusters x dim) per
    row."""
    ranked = ranked_centroids(as_double(F.col(vec_col)), centroids)
    return df.withColumn("cluster_id", ranked[0].getField("cluster_id"))


def kmeans_corpus_init(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 2,
    round_decimals: int | None = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means with DATA-DERIVED init: cluster ``cid`` starts at
    the vector of the ``cid``-th lowest ``id_col`` row. Unlike the
    seeded-gaussian init (``kmeans_lite``), every step here is a pure
    function of the table contents — an independent engine can replay
    init + rounds exactly, which is what makes the clustering entries
    ORACLE-CHECKABLE (hash equality, not just recall floors). Centroids
    are quantized to ``round_decimals`` after each mean update; see
    ``_kmeans_rounds`` for why that pins cross-engine equality.

    The init collect is ``n_clusters`` rows (bounded, like the IVF
    centroid collects); each round is one shuffle of n_clusters x dim
    partial means. Returns the trained (cluster_id, centroid) list —
    feed to ``assign_to_centroid`` for the final assignment.

    Cache-free: batch dedup entries honestly pay their own training.
    FROZEN-index callers — the incremental/streaming ingest entries,
    where training once and serving many batches IS the production
    contract — wrap it in ``index_store.get_or_train`` keyed by the
    training frame's fingerprint."""
    init_rows = (
        corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
        .orderBy(F.col(id_col))
        .limit(n_clusters)
        .collect()
    )
    cents = [(cid, list(r["v"])) for cid, r in enumerate(init_rows)]
    corpus = ensure_min_parallelism(corpus).localCheckpoint(eager=False)
    return _kmeans_rounds(
        corpus, vec_col, dim, cents, n_iter, round_decimals=round_decimals
    )


def semdedup_n_clusters(
    n_rows: int, target_occupancy: int = 256
) -> int:
    """The SemDeDup cluster-count sizing rule (VERDICT r6 ask #4):
    k = ceil(n_rows / target_occupancy), floor 2. Mean occupancy is
    then <= target_occupancy, so the quadratic within-cluster pair
    pass does ~target_occupancy^2 / 2 comparisons per cluster — the
    number that must stay bounded as the corpus grows. At 100 TB with
    1e9 embeddings and the default target, k ~= 4M clusters: centroid
    training cost grows with k*dim (one shuffle of partial means per
    Lloyd round), which is the right trade — training is linear,
    the pair pass is quadratic in occupancy. The rule bounds the
    MEAN; an adversarial dense blob can still concentrate into one
    cluster (k-means cannot split points nearer one centroid than any
    other) — that residual skew is what ``max_occupancy`` pre-split
    in semdedup_survivors bounds."""
    if n_rows < 0:
        raise ValueError("n_rows must be >= 0")
    if target_occupancy <= 0:
        raise ValueError("target_occupancy must be > 0")
    return max(2, -(-n_rows // target_occupancy))


def semdedup_survivors(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int | None,
    n_iter: int = 2,
    tau: float = 0.4,
    target_occupancy: int = 256,
    max_occupancy: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space, then pruning near-identical pairs WITHIN each
    cluster only — the clustering bounds candidate generation, so the
    quadratic cosine pass runs per cluster, never corpus-wide.

    Rule (deterministic lowest-id-anchor variant): a row is dropped iff
    some SAME-CLUSTER row with a LOWER id has cosine > ``tau`` with it.
    The paper keeps the member closest to the centroid per near-dup
    group; anchoring on the id instead makes survivorship a pure
    function of the data, replayable by the SQL oracle. Like SemDeDup,
    recall is bounded by the clustering: a cross-cluster near-dup pair
    is NOT pruned (by design — that miss rate is the price of never
    going all-pairs; the RHP-bucket variant in this module covers the
    hash-bucket alternative).

    Returns (id_col, cluster_id, kept: int 1/0). Plan shape: centroid
    train (bounded collects) -> literal-argmin assignment (no join) ->
    ONE equi-self-join on cluster_id for the pair pass -> left-anti
    mark. Vectors are L2-NORMALIZED once per row BEFORE the join, so
    the per-pair predicate is a single dot-product fold — cosine()
    inline would re-fold both norms per candidate pair, tripling the
    quadratic stage's cost (measured 3x at sf1). At 100 TB the
    self-join shuffles each cluster to one task pair-set; a degenerate
    giant cluster (skew) is the known SemDeDup failure mode, bounded
    two ways here (VERDICT r6 ask #4):

    - ``n_clusters=None`` derives k from the corpus via
      semdedup_n_clusters(count, target_occupancy) — one count()
      action — so MEAN occupancy never outgrows the target as the
      corpus scales (fixed k was the unenforced failure mode).
    - ``max_occupancy`` (opt-in) pre-splits hot clusters for the pair
      join with triangle-join replication: a cluster of occupancy O >
      max_occupancy is hashed into s = ceil(O / max_occupancy)
      groups, each row replicated to the s tasks (g1 <= g2) that
      contain its group, and the join runs on (cluster_id, g1, g2) —
      every within-cluster pair lands in EXACTLY one task (cross-
      group pairs in (min,max); same-group pairs kept only in (g,g)),
      so the RESULT IS IDENTICAL to the plain path (the
      vec_semdedup_presplit catalog entry pins this against the same
      oracle) while per-task pair work is bounded by ~max_occupancy^2
      regardless of skew. Cost: s-way replication of hot-cluster rows
      only; occupancy <= max_occupancy clusters have s=1 (no
      overhead)."""
    if n_clusters is None:
        n_clusters = semdedup_n_clusters(emb.count(), target_occupancy)
    _, assigned = _assigned_normalized(
        emb, id_col, vec_col, dim, n_clusters, n_iter
    )
    if max_occupancy is not None:
        dropped = _presplit_dropped(assigned, id_col, tau, max_occupancy)
    else:
        a = assigned.alias("a")
        b = assigned.alias("b")
        dropped = (
            a.join(b, on="cluster_id")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .filter(dot(F.col("a.nv"), F.col("b.nv")) > tau)
            .select(
                F.col(f"b.{id_col}").alias(id_col), F.lit(0).alias("kept")
            )
            .distinct()
        )
    return assigned.join(dropped, on=id_col, how="left").select(
        id_col, "cluster_id", F.coalesce(F.col("kept"), F.lit(1)).alias("kept")
    )


def _presplit_dropped(
    assigned: DataFrame, id_col: str, tau: float, max_occupancy: int
) -> DataFrame:
    """Hot-cluster-bounded dropped-row set, pair-semantics-identical
    to the plain cluster self-join. Triangle-join replication: with a
    cluster split into s hash groups, the s*(s+1)/2 group pairs
    (g1 <= g2) are the join tasks; a row in group g joins under task
    keys {(min(g,h), max(g,h)) : h in 0..s-1} (s copies). A cross-
    group pair {gi != gj} meets in exactly task (min, max); a same-
    group pair {g, g} would meet in every task containing g, so it is
    filtered to task (g, g) only — each unordered pair is therefore
    examined exactly once and the distinct() below dedups nothing new
    (it mirrors the plain path's). Per-task work is
    ~(occupancy/s)^2 <= ~max_occupancy^2 comparisons; the join key
    (cluster_id, t1, t2) spreads a hot cluster over s*(s+1)/2 tasks
    instead of one."""
    occ = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__occ")
    )
    splits = occ.select(
        "cluster_id",
        F.ceil(F.col("__occ") / F.lit(max_occupancy))
        .cast("int")
        .alias("__s"),
    )
    # k rows — always broadcastable (k is the cluster count).
    g = assigned.join(F.broadcast(splits), "cluster_id").withColumn(
        "__g", F.pmod(F.xxhash64(F.col(id_col)), F.col("__s")).cast("int")
    )
    tasks = g.select(
        id_col,
        "cluster_id",
        "nv",
        "__g",
        F.explode(F.sequence(F.lit(0), F.col("__s") - 1)).alias("__h"),
    ).select(
        id_col,
        "cluster_id",
        "nv",
        "__g",
        F.least("__g", "__h").alias("__t1"),
        F.greatest("__g", "__h").alias("__t2"),
    )
    a = tasks.alias("a")
    b = tasks.alias("b")
    same_group_once = (F.col("a.__g") != F.col("b.__g")) | (
        (F.col("a.__t1") == F.col("a.__g"))
        & (F.col("a.__t2") == F.col("a.__g"))
    )
    return (
        a.join(b, on=["cluster_id", "__t1", "__t2"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(same_group_once)
        .filter(dot(F.col("a.nv"), F.col("b.nv")) > tau)
        .select(F.col(f"b.{id_col}").alias(id_col), F.lit(0).alias("kept"))
        .distinct()
    )


def _assigned_normalized(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int,
) -> tuple[list[tuple[int, list[float]]], DataFrame]:
    """Shared SemDeDup front half: train (data-derived init), assign,
    L2-normalize each vector ONCE, and stage the result — the pair
    join consumes it on both sides and the survivor mark a third time,
    so without the lazy localCheckpoint the argmin + upstream scan
    would recompute per consumer. Keeps the raw double vector ``v``
    (centroid distances need it) beside the unit vector ``nv``.
    Returns (trained centroids, staged frame)."""
    emb = emb.select(F.col(id_col), F.col(vec_col))
    cents = kmeans_corpus_init(
        emb, id_col, vec_col, dim, n_clusters, n_iter=n_iter
    )
    return cents, normalize_assigned(emb, cents, id_col, vec_col)


def normalize_assigned(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign rows to the given (frozen) centroids and L2-normalize
    each vector once, staged: (id, cluster_id, v, nv). The norm fold
    is MATERIALIZED as a checkpointed column — deriving nv inside the
    same projection would inline the fold into the transform lambda
    and re-evaluate it per element. Post-checkpoint, nv is dim
    divisions per row against the stored scalar."""
    vd = as_double(F.col(vec_col))
    # Fan the narrow (id, vec) frame out BEFORE assign/normalize (r13
    # optimization, guide §2.5): a small parquet fixture scans as ONE
    # partition, and since this checkpointed frame feeds BOTH sides of
    # the quadratic within-cluster pair join, the entire pair pass ran
    # on one task (measured: a single-task 3.5 s CPU stage inside the
    # ``dropped`` broadcast build at sf0.1 — half the semdedup entry
    # cost). No-op at real scale: never repartitions down.
    emb = ensure_min_parallelism(emb)
    # nullif guard: an all-zero vector has norm 0 — dividing raises
    # under ANSI mode (on by default) and yields NaN otherwise, where
    # Spark's NaN > tau is TRUE but DuckDB's 0/0 is NULL (engines
    # diverge). NULL-norm -> NULL elements -> NULL dot -> every
    # comparison false on BOTH engines: zero vectors never match
    # anything and never anchor. Same formula on the oracle side.
    base = (
        assign_to_centroid(emb, cents, vec_col)
        .select(
            id_col,
            "cluster_id",
            vd.alias("v"),
            F.nullif(l2_norm(vd), F.lit(0.0)).alias("vnorm"),
        )
        .localCheckpoint(eager=False)
    )
    return base.select(
        id_col,
        "cluster_id",
        "v",
        F.transform(F.col("v"), lambda x: x / F.col("vnorm")).alias("nv"),
    )


def semdedup_centroid_survivors(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 2,
    tau: float = 0.4,
    max_iter: int = 10,
) -> DataFrame:
    """Paper-faithful SemDeDup survivor rule (Abbas et al. 2023 §3):
    near-dup GROUPS are the connected components of the within-cluster
    cosine>tau graph, and each group keeps the member with the LOWEST
    similarity to its cluster centroid — i.e. the farthest-out example
    — because near the centroid the group is most redundant with the
    rest of the cluster. ``semdedup_survivors`` is the cheap
    lowest-id-anchor variant (no component pass); this one matches the
    paper at the cost of the iterative label propagation
    (operators/components.py, bounded by ``max_iter`` rounds over the
    PAIR set only — never the corpus).

    Distances are quantized to 9 decimals before ranking (same
    rationale as the centroid quantization: a last-ulp distance
    difference must not flip survivor choice across engines); exact
    ties fall back to lowest id. Returns (id_col, cluster_id, kept)."""
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )

    cents, assigned = _assigned_normalized(
        emb, id_col, vec_col, dim, n_clusters, n_iter
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    pairs = (
        a.join(b, on="cluster_id")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(dot(F.col("a.nv"), F.col("b.nv")) > tau)
        .select(
            F.col(f"a.{id_col}").alias("src"), F.col(f"b.{id_col}").alias("dst")
        )
    )
    comp = connected_components(pairs, max_iter=max_iter)
    # distance of every grouped member to its own centroid, quantized
    cdf = F.broadcast(
        assigned.sparkSession.createDataFrame(
            cents, "cluster_id int, centroid array<double>"
        )
    )
    d2 = sq_dist(F.col("v"), F.col("centroid"))
    grouped = (
        assigned.join(comp, assigned[id_col] == comp["node"])
        .join(cdf, on="cluster_id")
        .select(
            id_col,
            "cluster_id",
            "component",
            F.round(F.sqrt(d2), 9).alias("cdist"),
        )
    )
    # survivor per component: farthest from centroid, tie -> lowest id
    w_best = Window.partitionBy("component").orderBy(
        F.desc("cdist"), F.asc(id_col)
    )
    survivors = (
        grouped.withColumn("rn", F.row_number().over(w_best))
        .select(
            id_col,
            "cluster_id",
            F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.lit(0)).alias("kept"),
        )
    )
    # rows never touched by any pair keep themselves
    untouched = assigned.join(
        comp, assigned[id_col] == comp["node"], how="left_anti"
    ).select(id_col, "cluster_id", F.lit(1).alias("kept"))
    return survivors.unionByName(untouched)


def semdedup_incremental_status(
    existing: DataFrame,
    batch: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int = 2,
    tau: float = 0.4,
) -> DataFrame:
    """Incremental SemDeDup: classify a NEW batch of vectors against
    the EXISTING corpus WITHOUT retraining or rescanning it
    quadratically — the production ingest shape (same contract family
    as dedup.py's incremental_ingest_status for text digests). The
    comparison set is ALL existing same-cluster rows as given — if
    dedup-survivor semantics are wanted, pass a pre-filtered
    survivors frame as ``existing`` (ADVICE r6: this function does
    not itself dedup the corpus side).

    The cluster index is FROZEN: centroids train on ``existing`` only
    (in production they'd be loaded from the persisted index) and are
    stored under ``existing``'s fingerprint, so every batch against
    the same corpus slice is served without retraining. Each new row
    is assigned by literal-argmin and compared only against
    same-cluster rows:

    - 'dup_existing'  — some existing same-cluster row has dot > tau
    - 'dup_batch'     — else some LOWER-id batch row does (the same
                        lowest-id-anchor rule as semdedup_survivors,
                        applied within the arriving batch)
    - 'unique'        — otherwise; only these enter the corpus

    Per-batch cost is |batch| x avg-cluster-occupancy dot products —
    proportional to the batch, never to the corpus squared. Returns
    (id_col, cluster_id, status) for batch rows only."""
    cents = index_store.get_or_train(
        "kmeans_corpus_init",
        index_store.fingerprint(existing),
        (id_col, vec_col, dim, n_clusters, n_iter),
        lambda: kmeans_corpus_init(
            existing, id_col, vec_col, dim, n_clusters, n_iter=n_iter
        ),
    )
    ex = normalize_assigned(existing, cents, id_col, vec_col).select(
        F.col(id_col).alias("ex_id"), "cluster_id", F.col("nv").alias("ex_nv")
    )
    nb = normalize_assigned(batch, cents, id_col, vec_col).select(
        id_col, "cluster_id", F.col("nv").alias("b_nv")
    )
    hit_existing = (
        nb.join(ex, on="cluster_id")
        .filter(dot(F.col("b_nv"), F.col("ex_nv")) > tau)
        .select(id_col)
        .distinct()
        .withColumn("hit_ex", F.lit(1))
    )
    n2 = nb.select(
        F.col(id_col).alias("p_id"), "cluster_id", F.col("b_nv").alias("p_nv")
    )
    hit_batch = (
        nb.join(n2, on="cluster_id")
        .filter(F.col("p_id") < F.col(id_col))
        .filter(dot(F.col("b_nv"), F.col("p_nv")) > tau)
        .select(id_col)
        .distinct()
        .withColumn("hit_b", F.lit(1))
    )
    return (
        nb.join(hit_existing, on=id_col, how="left")
        .join(hit_batch, on=id_col, how="left")
        .select(
            id_col,
            "cluster_id",
            F.when(F.col("hit_ex") == 1, F.lit("dup_existing"))
            .when(F.col("hit_b") == 1, F.lit("dup_batch"))
            .otherwise(F.lit("unique"))
            .alias("status"),
        )
    )


def pq_train(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    n_iter: int = 2,
    seed: int = 42,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks: split the vector into ``m``
    subspaces of dim/m and train an independent ``k``-centroid
    quantizer per subspace (seeded, deterministic — same Lloyd
    machinery as IVF). Returns m codebooks of (code, sub_centroid).

    PQ is the memory tier below int8: dim=64 float32 (256 B) becomes
    m=8 one-byte codes (8 B, 32x), and distances are computed against
    codes via lookup tables without ever decoding. Training is a
    build-time artifact like IVF centroids — train once, encode and
    serve many times: the codebooks are stored under the corpus
    fingerprint and (vec_col, dim, m, k, n_iter, seed), the same key
    ``ivfpq_topk`` and plain ``pq_rerank_topk`` use."""
    return pq_codebooks(
        index_store.fingerprint(corpus),
        ensure_min_parallelism(corpus).localCheckpoint(eager=False),
        vec_col, dim, m, k, n_iter, seed,
    )


def pq_codebooks(
    fp: tuple,
    staged: DataFrame,
    vec_col: str,
    dim: int,
    m: int,
    k: int,
    n_iter: int,
    seed: int,
    rotation: tuple | None = None,
) -> list[list[tuple[int, list[float]]]]:
    """``pq_train``'s store lookup over an already-staged frame. ``fp``
    fingerprints the caller's frame BEFORE staging; ``rotation`` names
    the OPQ pre-transform whose output ``staged[vec_col]`` holds, so
    rotated and plain codebooks of one corpus never share a key."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    d_sub = dim // m

    def train() -> list[list[tuple[int, list[float]]]]:
        return [
            _kmeans_rounds(
                staged.select(
                    F.slice(
                        as_double(F.col(vec_col)), j * d_sub + 1, d_sub
                    ).alias("__sub")
                ),
                "__sub",
                d_sub,
                _seeded_init(d_sub, k, seed + 7919 * j),
                n_iter,
            )
            for j in range(m)
        ]

    return index_store.get_or_train(
        "pq_codebooks", fp, (vec_col, dim, m, k, n_iter, seed, rotation), train
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors as ``pq_codes`` (array<int>, one code per
    subspace): per-row argmin against each subspace's literal codebook
    through ``ranked_centroids``, like assign_to_centroid — no join,
    no shuffle."""
    d_sub = len(codebooks[0][0][1])
    code_cols = [
        ranked_centroids(
            F.slice(as_double(F.col(vec_col)), j * d_sub + 1, d_sub), book
        )[0].getField("cluster_id")
        for j, book in enumerate(codebooks)
    ]
    return df.withColumn("pq_codes", F.array(*code_cols))


def pq_topk_adc(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes, fully relational — the
    ADC stage of every PQ serving path:

    1. distance tables: queries x (subspace, code, sub_centroid) —
       the codebooks join in as a broadcast table (n_q x m x k rows,
       e.g. 5 x 8 x 16 = 640), squared distance per cell; no driver
       collect of query vectors.
    2. scoring: corpus codes posexplode to (id, subspace, code), join
       the broadcast tables on (subspace, code), sum per (qid, id) —
       approximate distance = sum of per-subspace cell distances. A
       candidate frame that already carries ``qid_col`` (IVF-PQ's
       probed lists) joins on (qid, subspace, code) instead, so each
       candidate is scored against its own query's tables only.
    3. grouped top-k on ascending distance.

    At 100 TB the corpus side carries only 1-byte codes through the
    explode, the tables stay broadcast-sized, and the sum is a partial
    aggregate — the classic IVF-PQ serving plan's ADC half.

    Contract (pinned by tests/test_similarity.py): PQ is a COARSE
    ranker — same-cluster vectors collapse to near-identical codes, so
    ADC top-k lands in the right cluster but does not resolve
    within-cluster order. Serve as shortlist (k ~ a few x final k)
    followed by ``rerank_topk``: exact cosine of the shortlist against
    the raw vectors."""
    spark = corpus_codes.sparkSession
    d_sub = len(codebooks[0][0][1])
    book_rows = [
        (j, int(code), sub)
        for j, book in enumerate(codebooks)
        for code, sub in book
    ]
    books_df = spark.createDataFrame(
        book_rows, "j int, code int, sub array<double>"
    )
    qsub = F.slice(
        as_double(F.col(qvec_col)), F.col("j") * d_sub + 1, d_sub
    )
    tables = queries.crossJoin(F.broadcast(books_df)).select(
        qid_col, "j", "code", sq_dist(qsub, F.col("sub")).alias("d2")
    )
    q_keys = [qid_col] if qid_col in corpus_codes.columns else []
    exploded = corpus_codes.select(
        *q_keys, id_col, F.posexplode("pq_codes").alias("j", "code")
    )
    scored = (
        exploded.join(F.broadcast(tables), [*q_keys, "j", "code"])
        .groupBy(qid_col, id_col)
        .agg(F.sum("d2").alias("adc_d2"))
    )
    return grouped_topk(
        scored, [qid_col], [F.asc("adc_d2"), F.asc(id_col)], k
    )


def rerank_topk(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
) -> DataFrame:
    """The exact-rerank stage of the PQ serving paths: each (qid, id)
    shortlist row joins back to its raw corpus vector and its query,
    and the final top-k is exact cosine over the shortlist only."""
    scored = (
        short.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select(qid_col, qvec_col)), qid_col)
        .select(
            qid_col,
            id_col,
            cosine(
                as_double(F.col(qvec_col)), as_double(F.col(vec_col))
            ).alias("cos_sim"),
        )
    )
    return grouped_topk(
        scored, [qid_col], [F.desc("cos_sim"), F.asc(id_col)], k
    )


def _probe_lists(
    qvec_col: str, cents: list[tuple[int, list[float]]], n_probe: int
) -> Column:
    """The probe stage of the IVF paths: one ``cluster_id`` row per
    list among the query's ``n_probe`` nearest, per row over the
    literal centroid set — no window, no crossJoin, no shuffle on the
    query side."""
    return F.explode(
        F.transform(
            F.slice(
                ranked_centroids(as_double(F.col(qvec_col)), cents),
                1,
                n_probe,
            ),
            lambda s: s.getField("cluster_id"),
        )
    ).alias("cluster_id")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 64,
    n_iter: int = 2,
    shortlist: int = 200,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ serving plan (the FAISS IndexIVFPQ shape), composed from
    the pieces above and fully relational:

    1. coarse: corpus inverted by nearest IVF centroid; each query
       probes its ``n_probe`` nearest lists (``_probe_lists``, the
       probe ``ivf_topk`` uses).
    2. fine: probed candidates are scored by PQ ADC (``pq_topk_adc``)
       — 1-byte codes join broadcast distance tables; the corpus's
       raw vectors never enter the candidate join.
    3. rerank: the per-query ADC ``shortlist`` joins BACK to the raw
       vectors for exact cosine (``rerank_topk``), and the final top-k
       is exact over that shortlist (PQ's coarse-ranker contract).

    At 100 TB: lists bucket-prune the scan, candidates travel as
    (id, m bytes), only ``shortlist`` rows per query ever touch raw
    vectors again. Everything shuffles at most once per stage on its
    natural key.

    Train-once/probe-many over the WHOLE index build, all keyed by the
    corpus fingerprint in ``index_store``: coarse centroids under the
    SAME key as plain IVF (one warm-up trains both serving paths), PQ
    codebooks under ``pq_train``'s, and the ENCODED corpus — (id,
    cluster_id, pq_codes), FAISS's add() output — as a checkpointed
    frame, so a second call runs zero Lloyd rounds AND zero per-row
    encodes: probe + ADC + rerank only (pinned by
    tests/test_similarity.py's poison-pill).

    Recall-vs-scale note (the sf0.1 audit that set these defaults):
    recall@10 degrades with corpus size through TWO knobs, and both
    must grow with quantization error — the original (k_codes=16,
    shortlist=50) passed the >=2-of-top-10 floor at 500 vectors but
    dropped to 1 hit at 5,000 (4-bit sub-codes mis-rank true
    neighbors out of a 1%-of-corpus shortlist). k_codes=64 +
    shortlist=200 holds >=3 hits at sf0.001/0.01/0.1; the rerank
    budget stays O(shortlist) rows per query, so the serve cost is
    unchanged. FAISS practice is the same escalation (nbits, then
    the rerank factor) as the index grows."""
    fp = index_store.fingerprint(corpus)
    corpus = ensure_min_parallelism(corpus).localCheckpoint(eager=False)
    cents = _ivf_centroids(fp, corpus, vec_col, dim, n_clusters, n_iter, seed)
    books = pq_codebooks(fp, corpus, vec_col, dim, m, k_codes, n_iter, seed)
    coded = index_store.get_or_train(
        "ivfpq_coded",
        fp,
        (id_col, vec_col, dim, n_clusters, m, k_codes, n_iter, seed),
        lambda: pq_encode(
            assign_to_centroid(corpus, cents, vec_col), books,
            vec_col=vec_col,
        )
        .select(id_col, "cluster_id", "pq_codes", vec_col)
        .localCheckpoint(eager=False),
    )
    probes = queries.select(qid_col, _probe_lists(qvec_col, cents, n_probe))
    cand = coded.select(id_col, "cluster_id", "pq_codes").join(
        F.broadcast(probes), "cluster_id"
    )
    short = pq_topk_adc(
        cand, queries, books, id_col, qid_col, qvec_col, k=shortlist
    ).select(qid_col, id_col)
    # exact rerank reads raw vectors from the resident index frame —
    # the source table is not rescanned at serve time
    return rerank_topk(
        short, coded, queries, id_col, vec_col, qid_col, qvec_col, k
    )


def _ivf_centroids(
    fp: tuple,
    staged: DataFrame,
    vec_col: str,
    dim: int,
    n_clusters: int,
    n_iter: int,
    seed: int,
) -> list[tuple[int, list[float]]]:
    """The IVF coarse quantizer shared by ``ivf_topk`` and
    ``ivfpq_topk``: stored under the caller frame's fingerprint ``fp``
    (taken before ``staged`` was checkpointed). An IVF index is
    train-once / probe-many — FAISS trains the quantizer offline — so
    re-running Lloyd rounds per query batch on an unchanged corpus is
    pure waste."""
    return index_store.get_or_train(
        "ivf_centroids",
        fp,
        (vec_col, dim, n_clusters, n_iter, seed),
        lambda: _kmeans_rounds(
            staged, vec_col, dim, _seeded_init(dim, n_clusters, seed), n_iter
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qe",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    n_iter: int = 2,
    seed: int = 42,
) -> DataFrame:
    """IVF ANN: build centroids, invert the corpus by nearest centroid,
    and for each query score only the ``n_probe`` nearest lists.

    The corpus is checkpointed ONCE and shared by the Lloyd rounds and
    the final inversion; the probed-list choice is a per-row
    slice(array_sort(...)) over the literal centroid set — no window,
    no crossJoin, no shuffle on the query side at all. At scale the
    inverted corpus is written bucketed by cluster_id so repeated
    query batches prune to the probed lists at scan time.

    The trained centroids are stored under the corpus fingerprint and
    (vec_col, dim, n_clusters, n_iter, seed), so later calls on the
    same corpus skip the Lloyd rounds entirely — the train-once /
    probe-many split every serving IVF index makes. Training is
    deterministic (seeded init, fixed corpus) so a hit is
    bit-identical to retraining."""
    fp = index_store.fingerprint(corpus)
    corpus = ensure_min_parallelism(corpus).localCheckpoint(eager=False)
    cents = _ivf_centroids(fp, corpus, vec_col, dim, n_clusters, n_iter, seed)
    inverted = assign_to_centroid(corpus, cents, vec_col)
    probes = queries.select(
        qid_col,
        qvec_col,
        # query norm once per query row, not once per probed candidate
        # (r13 optimization; same device as brute_force_topk)
        l2_norm(as_double(F.col(qvec_col))).alias("__qn"),
        _probe_lists(qvec_col, cents, n_probe),
    )
    # corpus-side norm once per inverted row, before the probe join
    cand = inverted.withColumn(
        "__cn", l2_norm(as_double(F.col(vec_col)))
    ).join(F.broadcast(probes), "cluster_id")
    scored = cand.select(
        F.col(qid_col),
        F.col(id_col),
        (
            dot(as_double(F.col(qvec_col)), as_double(F.col(vec_col)))
            / (F.col("__qn") * F.col("__cn"))
        ).alias("cos_sim"),
    )
    return grouped_topk(
        scored, [qid_col], [F.desc("cos_sim"), F.asc(id_col)], k
    )


def embedding_neardup_lsh_pairs(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS at corpus scale (the
    SemDeDup-style semantic-dedup stage): candidates are vectors
    sharing an RHP-LSH bucket in ANY of ``n_tables`` tables; only
    candidates get the exact cosine, and pairs below ``threshold`` are
    dropped. The exact all-pairs twin is queries/vectors.py::
    vec_neardup_cosine_pairs — a corpus^2 scan this replaces with a
    shuffle on (table, bucket) keys.

    Recall shape: cos >= 0.95 pairs disagree on a given sign bit with
    prob <= acos(0.95)/pi ~ 0.1, so P(collide in one 8-bit table)
    ~ 0.9^8 ~ 0.43 and P(miss all 4 tables) ~ (1-0.43)^4 ~ 0.1; the
    oracle-checked floor lives in vec_neardup_lsh_planted_recall,
    where EXACTLY-parallel planted copies collide in EVERY table
    (positive scaling preserves every sign bit) — recall 1.0 by
    construction, not by luck."""
    planes_df = _hyperplane_tables(
        corpus.sparkSession, dim, n_bits, n_tables, seed
    )
    corpus = ensure_min_parallelism(corpus)

    hashed = (
        corpus.crossJoin(F.broadcast(planes_df))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("tab"),
            _rhp_bucket(as_double(F.col(vec_col))).alias("bucket"),
        )
        # materialized once: the self-join would recompute the
        # hyperplane projections per side (same device as the minhash
        # banding / simhash chunk joins)
        .localCheckpoint(eager=False)
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tab") == F.col("b.tab"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("__va"),
            F.col(f"b.{vec_col}").alias("__vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            cosine(as_double(F.col("__va")), as_double(F.col("__vb"))).alias(
                "cos_sim"
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
