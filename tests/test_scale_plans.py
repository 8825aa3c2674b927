"""Plan-level evidence for the scale mechanics the engine relies on:
partition pruning (static + dynamic), AQE skew-join splitting and
map-side grouped top-k.

These don't oracle-check values (the companion queries do); they pin
that the PHYSICAL plans behave the way the 100 TB design assumes —
a partition filter actually prunes files, a dim filter actually
prunes fact partitions at runtime, a hot key actually gets split.
"""

from __future__ import annotations

import ast

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def part_dir(spark, tmp_path_factory):
    """Events written partitioned by day — the layout io.write_parquet
    produces for K1's partitioned sink."""
    d = str(tmp_path_factory.mktemp("part") / "events_by_day")
    df = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 30).alias("day"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") % 100).cast("double").alias("value"),
    )
    df.write.partitionBy("day").mode("overwrite").parquet(d)
    return d


def test_static_partition_pruning_reads_only_matching_files(spark, part_dir):
    df = spark.read.parquet(part_dir).filter(F.col("day") == 3)
    # The scan must prune at the PARTITION level: the filter appears as
    # a PartitionFilter (evaluated against directory values, no file
    # read), not a post-scan Filter.
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan and "(day" in plan
    assert df.count() == 100


def test_data_filter_is_pushed_to_parquet(spark, part_dir):
    df = spark.read.parquet(part_dir).filter(F.col("value") > 90)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(value), GreaterThan(value,90.0)" in plan


def test_dynamic_partition_pruning_from_dim_filter(spark, part_dir):
    """DPP: a filter on the DIM side prunes FACT partitions at runtime
    — the mechanism that makes star joins over date-partitioned 100 TB
    facts feasible without static date predicates."""
    fact = spark.read.parquet(part_dir)
    dim = spark.range(0, 30).select(
        F.col("id").alias("day"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tier"),
    )
    joined = fact.join(dim, "day").filter(F.col("tier") == "hot")
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower()
    assert joined.count() == 300  # days 0,1,2


def test_catalog_docstring_plan_claims_hold(spark, sf_dir):
    """PLANS.md / query docstrings make concrete physical-plan claims
    (exchange counts, window reuse, no non-broadcast joins). Pin the
    load-bearing ones mechanically so a Spark upgrade or query edit
    that silently changes the plan shape fails here, not in a 100 TB
    run. Bounds are the DOCUMENTED ones: exchanges may come in under
    (AQE coalescing) but never over; windows are exact (they encode
    the single-partitioning-reuse design); SortMergeJoin/
    ShuffledHashJoin must not appear where the docs promise broadcast
    or join-free plans."""
    import re

    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    # entry -> (max exchanges, exact windows or None, max shuffle joins)
    claims = {
        "docs_pretrain_filter": (0, 0, 0),       # "ZERO exchanges"
        "events_sessionization": (1, 2, 0),      # one user_id shuffle
        "events_asof_purchase_view": (1, 1, 0),  # union+window, no join
        "events_funnel_conversion": (2, 3, 0),   # 3 windows, one key
        "events_user_zscore": (1, 1, 0),
        "docs_pack_sequences": (2, 1, 0),        # window + agg shuffle
        "events_hourly_daily_rollup": (2, 0, 0),
        "tpch_q21_waiting_suppliers": (None, 2, 0),  # 2 windows, BHJs
        # round-5 late additions: docstrings claim broadcast-only joins
        "docs_remove_boilerplate_spans": (3, 0, 0),  # span-DF + reasm
        "docs_repeated_ngram_coverage": (None, 0, 2),  # shuffle join OK
        "docs_weighted_sample_es": (0, 0, 0),  # top-k, no full sort
        "docs_quality_terciles": (None, 1, 1),  # ONE per-source window
        # round-5 join/tokenizer additions: bloom prune is a folded
        # predicate + broadcast flag join (no shuffle join); BPE pair
        # stats are two partial aggs + TakeOrderedAndProject
        "bloom_semi_prune_orders": (2, 0, 0),
        "text_bpe_top_pairs": (2, 0, 0),
        # round-11 additions (measured at sf0.01 where AQE broadcasts
        # the small sides: exchange maxima leave headroom for the SMJ
        # rendering of the same joins at scale; window counts are
        # exact — they encode the per-user / per-group design)
        "events_type_markov_transitions": (3, 2, 0),
        "events_user_markov_anomaly": (4, 1, 1),
        "events_markov_incremental_update": (7, 4, 1),
        "events_interval_join_multiscale": (3, 0, 1),
        "events_interval_overlap_join": (3, 0, 1),
        "docs_shingle_containment": (5, 0, 2),
        "docs_containment_dedup": (7, 0, 2),
        "lineitem_copurchase_lift": (8, 0, 2),
        "events_multitouch_attribution": (3, 1, 1),
        # round-12 additions (same measurement convention; the
        # basket-cap window hides behind _capped_baskets'
        # localCheckpoint, so the copurchase row above is unchanged)
        "events_type_markov2_transitions": (3, 2, 0),
        "events_user_markov2_anomaly": (6, 2, 1),
        # ONE window = the grouped_topk quota; its one topic exchange
        # carries only what the Partial WindowGroupLimit kept
        "docs_topic_balanced_sample": (1, 1, 0),
        # Same convention below. The fingerprint
        # contract is a PURE PROJECTION — zero exchanges is the
        # signature; the verified-pairs entry is banding shuffle +
        # candidate-bounded verify joins (AQE broadcasts them at
        # sf0.01; headroom for their SMJ rendering at scale); the
        # verified ExactSubstr shows ONE visible window since its
        # staging: the phase-1 gaps-and-islands window runs once
        # behind the candidate-run localCheckpoint (pre-fix it was
        # re-executed by both phase-1 consumers and appeared 4x with
        # the run-list agg's internal sorts), leaving only phase-2's
        # verified-coverage window in the final plan; the salted
        # basket's 2 windows are the
        # basket-size count (the one exchange the pair join needs
        # anyway) — a third would mean a stratum-sized frame.
        "neardup_minhash_lsh": (5, 0, 3),
        "neardup_simhash_fingerprints": (0, 0, 0),
        "docs_exact_substring_verified": (13, 1, 2),
        "lineitem_copurchase_lift_salted": (9, 2, 2),
        # round-13 session-2 additions. The dim ladder's ZERO windows
        # is the materialize-once signature: the two top-k windows run
        # once behind the localCheckpoint instead of once per consumer
        # branch (pre-fix the visible plan carried 6 windows — the
        # corpus cross re-ran per branch); its joins are all broadcast.
        # The IR-eval entry's 2 windows are its two grouped_topk calls
        # (system list + dense gold); query-profile/df/stats joins
        # broadcast, so no shuffle join at any scale where a vocabulary
        # broadcasts (the documented MLT shape).
        "ann_dim_truncation_tradeoff": (2, 0, 0),
        "retrieval_mlt_eval_metrics": (4, 2, 0),
        # triangle counting: node-scale keyed joins render as shuffle
        # joins (nodes = corpus docs at real scale, never broadcast;
        # the checkpoints also deny AQE the stats to broadcast the
        # fixture-small sides) — the measured 7 is the honest shape;
        # CUPED is the minimal shape: one pushed scan, one user
        # shuffle, a 1-row reduce
        "vec_knn_clustering_coefficient": (15, 0, 7),
        "events_cuped_ab_adjustment": (1, 0, 0),
    }
    qs = all_queries()
    bad = []
    for name, (max_ex, n_win, max_j) in claims.items():
        plan = (
            qs[name]
            .spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        ex = len(re.findall(r"\bExchange (hash|range|single)", plan))
        win = len(re.findall(r"\bWindow\b|\bRunningWindowFunction\b", plan))
        j = len(re.findall(r"SortMergeJoin|ShuffledHashJoin", plan))
        if max_ex is not None and ex > max_ex:
            bad.append(f"{name}: {ex} exchanges > {max_ex}")
        if n_win is not None and win != n_win:
            bad.append(f"{name}: {win} windows != {n_win}")
        if j > max_j:
            bad.append(f"{name}: {j} non-broadcast joins > {max_j}")
    assert not bad, bad


def test_generate_barriers_survive_the_optimizer(spark):
    """The ``session.evaluate_once`` Generate barriers (topics.
    hashtf_unit_embeddings, streaming_lm's tokenize, lm.train_bigram_lm
    and lm.bigram_neg_logprob) rely on CollapseProject not crossing a
    Generate node. A Spark upgrade that eliminates single-element
    Generates would silently reintroduce the ~25x featurizer
    re-evaluation / per-transition retokenization with NO correctness
    signal (ADVICE r13) — so pin the OPTIMIZED plan shape: the
    expensive expression must appear exactly once, behind at least the
    expected Generate count."""
    from dataengineer_job_scraper_etl_spark.functions.strings import (
        ws_tokens,
    )
    from dataengineer_job_scraper_etl_spark.queries.lm import transitions
    from dataengineer_job_scraper_etl_spark.queries.topics import (
        hashtf_unit_embeddings,
    )
    from dataengineer_job_scraper_etl_spark.session import evaluate_once

    fallback = (
        "the evaluate_once Generate barrier was optimized away: fall back "
        "to df.localCheckpoint(eager=False) on the barrier's frame (batch "
        "only; a streaming frame cannot be checkpointed and needs "
        "foreachBatch) — see session.evaluate_once\n"
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id long, text string"
    )
    # featurizer: 3 barriers; the md5-per-token fold must be evaluated
    # in exactly ONE place in the optimized plan (pre-r13: ~25 sites)
    feat = hashtf_unit_embeddings(docs)
    plan = feat._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 1, fallback + plan
    assert plan.count("Generate explode") >= 3, fallback + plan
    # the streamed-tokenize twin (identical projection on a batch frame
    # with NO checkpoint): the regexp tokenization must survive as one
    # evaluation behind the barrier, not collapse into the pair zip
    tokd = docs.select("doc_id", evaluate_once(ws_tokens(F.col("text"))).alias("t"))
    tr = transitions(tokd, ["doc_id"])
    plan2 = tr._jdf.queryExecution().optimizedPlan().toString()
    assert plan2.count("regexp_replace") == 1, fallback + plan2
    assert plan2.count("Generate explode") >= 2, fallback + plan2


def test_grouped_topk_prunes_below_the_exchange(
    spark, sf_dir, topk_prune_problems
):
    """``operators/topk.grouped_topk`` is one row_number window and a
    ``<= k`` filter: the distributed top-k is Catalyst's
    ``InferWindowGroupLimit``, a Partial WindowGroupLimit that prunes
    each input partition BELOW the group-key exchange and a Final one
    above it. A Spark upgrade or config change that drops the rule
    would ship whole groups through the shuffle with NO correctness
    signal, so pin the executed plan, including the largest k in use
    (200, the PQ shortlist) on a multi-partition frame."""
    from dataengineer_job_scraper_etl_spark.catalog import all_queries
    from dataengineer_job_scraper_etl_spark.operators.topk import grouped_topk

    fallback = (
        "grouped top-k is no longer pruned map-side: restore the "
        "(group, spark_partition_id()) pre-stage in operators/topk.py "
        "from git history; check InferWindowGroupLimit / "
        "spark.sql.optimizer.windowGroupLimitThreshold\n"
    )
    qs = all_queries()
    frame = spark.range(0, 4000, numPartitions=8).select(
        (F.col("id") % 3).alias("g"),
        "id",
        (F.col("id") * 7 % 101).alias("s"),
    )
    cases = {
        "vec_cosine_topk": qs["vec_cosine_topk"].spark_fn(spark, sf_dir),
        "docs_topic_balanced_sample": qs[
            "docs_topic_balanced_sample"
        ].spark_fn(spark, sf_dir),
        "grouped_topk k=200": grouped_topk(
            frame, ["g"], [F.desc("s"), "id"], 200
        ),
    }
    bad = {n: p for n, df in cases.items() if (p := topk_prune_problems(df))}
    assert not bad, fallback + str(bad)


# F.row_number() sites outside operators/topk.grouped_topk: (module,
# enclosing function) -> why the site is not a per-group top-k (none
# filters its rank ``<= k`` within a group).
_ROW_NUMBER_ALLOWED = {
    ("operators/similarity.py", "semdedup_centroid_survivors"): "flags "
    "each component's survivor (rn == 1 -> kept) but keeps every row",
    ("queries/spans.py", "covered_runs"): "gaps-and-islands run labels",
    ("queries/prf.py", "retrieval_prf_expansion"): "numbers a global "
    "list already cut by limit()",
    ("queries/retrieval.py", "_ranked_topk"): "numbers a global list "
    "already cut by limit()",
    ("queries/retrieval.py", "retrieval_hybrid_rrf"): "numbers the "
    "<= 2*DEPTH fused list before its limit()",
    ("queries/sampling.py", "docs_training_order"): "a position for "
    "every row of its shard, none dropped",
}


def test_grouped_topk_is_the_one_per_group_topk(package_sites):
    """Per-group top-k has one home: F.row_number() appears outside
    operators/topk.grouped_topk only at the named sites, and no ranking
    leans on spark_partition_id() (the hand-built per-partition
    pre-stage that Catalyst's WindowGroupLimit replaces)."""

    def calls(attr):
        return lambda n: (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
        )

    found = package_sites(calls("row_number"))
    assert found - {("operators/topk.py", "grouped_topk")} == set(
        _ROW_NUMBER_ALLOWED
    )
    assert package_sites(calls("spark_partition_id")) == set()


def test_python_stays_out_of_the_hot_path_catalog_wide(spark, sf_dir):
    """'UDFs are the slow path' enforced mechanically over the WHOLE
    catalog: Python execution nodes may appear only in the four entries
    that exist precisely to exercise (and hash-check) a Python path —
    the trie pandas-UDF skills matcher, the multimodal mapInPandas
    stage, the chunking UDTF, and the grouped-map z-score twin.
    Everything else must compile to pure JVM plans; a convenience UDF
    sneaking into any other entry fails here."""
    import re

    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    markers = (
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "FlatMapGroupsInPandas",
        "PythonUDTF",
        "PythonDataSource",
    )
    allowed = {
        "jobs_skills_trie_udf",       # U3: Arrow trie matcher
        "multimodal_features",        # codec seam, mapInPandas
        "docs_chunk_sliding_udtf",    # lateral Python UDTF
        "events_user_zscore_grouped_udf",  # grouped-map twin
        # OPQ serving path: opq_rotate is a dense mapInPandas matmul
        # (BLAS on Arrow batches — the sanctioned Python case, same as
        # the PCA Gram stage whose collect hides it from plans)
        "ann_recall_opq",
        "ann_opq_vs_pq_gain",
        "ann_opq_anisotropic_gain",  # r9: same rotate node
    }
    offenders = []
    for name, q in all_queries().items():
        if name.startswith("streaming_"):
            continue  # building these executes a stream; covered in
            # tests/test_streaming.py, and their plans are JVM-only
        plan = (
            q.spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        found = [m for m in markers if m in plan]
        if found and name not in allowed:
            offenders.append(f"{name}: {found}")
        if not found and name in allowed:
            offenders.append(f"{name}: expected a Python node, found none")
    assert not offenders, offenders


def test_shared_frames_are_materialized_not_recomputed(spark, sf_dir):
    """Multi-consumer recompute lint: a frame
    that feeds several consumers without materialization re-runs its
    whole upstream chain per consumer — invisible at fixture scale,
    a full extra corpus pass each at 100 TB. The visible-plan
    parquet-scan count is the cheap mechanical witness: pin the
    post-fix counts for the entries where the sweep found the
    pattern (docs_incremental_ingest carried THIRTY-SEVEN documents
    scans — 28 of them corpus-side — before the posting/kept
    checkpoints). Bounds are maxima: a checkpoint that hides scans
    may come in under, a regression that re-fans-out may not."""
    import re

    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    max_scans = {
        "docs_incremental_ingest": 9,
        "corpus_pipeline_intake": 3,
        "neardup_minhash_lsh": 4,
        "docs_near_dup_jaccard": 8,
        "ann_dim_truncation_tradeoff": 2,
        "retrieval_mlt_eval_metrics": 4,
    }
    qs = all_queries()
    bad = []
    for name, cap in max_scans.items():
        plan = (
            qs[name]
            .spark_fn(spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        n = len(re.findall(r"Scan parquet", plan))
        if n > cap:
            bad.append(f"{name}: {n} parquet scans > {cap}")
    assert not bad, bad


def test_aqe_splits_skewed_join_partitions(spark, tmp_path_factory):
    """One hot key dominating a sort-merge join must be split by AQE's
    skew handling (OptimizeSkewedJoin) instead of serializing on one
    task — the safety net behind every keyed join in the catalog
    (salting, operators/skew.py, is the deterministic alternative)."""
    d = tmp_path_factory.mktemp("skew")
    left = spark.range(0, 200_000).select(
        # 95% of rows share key 0, the rest spread over 1000 keys.
        F.when(F.col("id") % 20 < 19, 0)
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("pad"),
    )
    right = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    left.write.mode("overwrite").parquet(str(d / "l"))
    right.write.mode("overwrite").parquet(str(d / "r"))
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        # Thresholds scaled down so the ~20 MB hot partition counts as
        # skewed in a test-sized shuffle; broadcast disabled to force
        # the sort-merge path AQE has to rescue.
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "1MB",
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1MB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = spark.read.parquet(str(d / "l")).join(
            spark.read.parquet(str(d / "r")), "k"
        )
        # collect() drives THIS DataFrame's QueryExecution, so the
        # adaptive plan below is the final (post-reoptimization) one;
        # count() would plan a separate query and hide it.
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
