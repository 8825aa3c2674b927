"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line (compact separators, <= STDOUT_BUDGET chars —
enforced by tests/test_bench_line.py; the driver captures only the
last ~2000 chars of stdout and r9's line outgrew it):
  {"metric": "headline_total", "value": <sum of ALL medians sec>,
   "unit": "sec", "queries": {name: median sec, ...  # minus STDOUT_OMIT},
   "reps": N, "sf": <sf>, "warmup_version": V,
   "runs_file": "bench_runs.json", "n_run": <total entries run>,
   "stall_n": <flagged>, "stall_clean": <clean-bracketed reruns>,
   "uniform_inflation": {...slim...}}
FULL per-entry medians, raw reps, spreads, sentinels, rerun detail,
per-rep generated-class compile counts (``codegen_compiles``: a warm
entry whose count is not 0 rebuilds codegen'd classes on every call)
and the uniform-inflation baseline live in bench_runs.json.

Each query is forced end-to-end with the noop sink (full computation,
no result serialization / driver collect in the timing), after one
small warmup to exclude JVM/codegen cold start from per-query numbers.

Each query runs $SPARK_GRAFT_BENCH_REPS times (default 3); the
headline value and per-query numbers are MEDIANS, with per-query
spread (max - min) published alongside — round 5's n=1 timings made
±20% round-over-round deltas indistinguishable from noise (VERDICT r5
"What's wrong" #3). ``queries`` stays median-valued so older
bench_compare rounds remain comparable field-for-field.

Host-stall handling (round 9, VERDICT r8 ask #2): the pass-boundary
sentinel alone missed the r8 mid-pass stalls (per-entry spreads up to
25 s with clean 0.24-0.31 s boundary probes). Now any entry whose rep
spread exceeds both an absolute and a ratio threshold is FLAGGED and
re-run ONCE at the end of the same invocation, bracketed by sentinel
probes. ``queries`` stays the median over the original reps (rounds
remain comparable field-for-field; a 1-of-3 stalled rep never moved
the median anyway) — the rerun is the ADJUDICATION record: a clean-
bracketed rerun at the normal level proves host noise, a rerun
matching the spike proves a regression, and both publish
machine-readably (stdout ``stall_flagged``; side-file ``reruns``).
Pass attribution uses BOTH bounding sentinels (probe i precedes pass
i, probe i+1 closes it — ADVICE r8: raw probe indices mis-attributed
mid-pass stalls by one).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_region_revenue",
    "window_top3_orders_per_customer",
    "cube_lineitem_flags",
    "jobs_transform_full",
    "jobs_flagship_skill_demand",
]
# Added as they land in the catalog; missing names are skipped so bench
# never breaks mid-build.
HEADLINE += [
    "events_sessionization",
    "docs_near_dup_jaccard",
    "vec_cosine_topk",
]
HEADLINE += [
    "tpch_q13_customer_order_distribution",
    "events_asof_purchase_view",
    "neardup_minhash_lsh",
    "multimodal_features",
    "streaming_tumbling_hourly",
]
HEADLINE += [
    "docs_dedup_clusters",
    "text_tfidf_top_terms",
    "ann_ivf_topk",
]
HEADLINE += [
    "tpch_q9_product_profit",
    "tpch_q21_waiting_suppliers",
    "docs_contamination_ngram",
    "text_unigram_logprob",
]
HEADLINE += [
    "events_purchase_views_within_15m",
    "events_funnel_conversion",
    "events_user_zscore",
    "events_user_daily_gapfill",
    "docs_pack_sequences",
    "docs_chunk_sliding_udtf",
]
HEADLINE += [
    "lineitem_zorder_locality",
    "text_pii_redaction",
    "events_value_ewma",
    "streaming_latest_per_user",
]
HEADLINE += [
    # TPC-H tail (round-4 ask): the decorrelation rewrites carry timings
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders",
]
HEADLINE += [
    # round-5 asks: IVF-PQ serve path (train-once cached), single-scan
    # BM25, and the composed corpus pipeline end to end
    "ann_ivfpq_topk",
    "text_bm25_ranking",
    "corpus_pipeline_full",
]
HEADLINE += [
    # round-5 late additions: the global-dedup-shaped text ops (C4
    # boilerplate strip, Lee-et-al repeated-substring coverage) and
    # DSIR importance selection
    "docs_remove_boilerplate_spans",
    "docs_repeated_ngram_coverage",
    "docs_dsir_importance_topk",
]
HEADLINE += [
    # round-5 join/tokenizer additions: the pre-shuffle Bloom kill and
    # BPE training's corpus-facing pass
    "bloom_semi_prune_orders",
    "text_bpe_top_pairs",
    "part_fuzzy_name_pairs",
]
HEADLINE += [
    # round-5 analytics tail: cohorts, change-points, equi-depth stats
    "events_purchase_cohort_retention",
    "events_hourly_cusum_shift",
    "events_value_equidepth_histogram",
]
HEADLINE += [
    # round-6: cluster-bounded semantic dedup (k-means + within-cluster
    # cosine prune) — the SemDeDup scale path end to end, batch and
    # always-on
    "vec_semdedup_survivors",
    "streaming_semdedup_ingest",
    "docs_chunk_hashtf_retrieval",
]
HEADLINE += [
    # round-7 asks: the Arrow trie pandas-UDF skills path (the lane a
    # real-cluster spaCy slot-in rides — tracks the Python-boundary
    # cost vs the native n-gram join in jobs_skills), and the
    # pre-split SemDeDup pair pass (its overhead vs the plain join)
    "jobs_skills_trie_udf",
    "vec_semdedup_presplit",
]
HEADLINE += [
    # round-7 addition: distributed PCA (one-pass Gram via mapInPandas
    # partials + driver-side 64x64 power iteration + codegen projection)
    "vec_pca_pc1_scores",
]
HEADLINE += [
    # round-8 additions: the OPQ serve path (rotate + ADC + rerank,
    # train-once cached — tracks the rotation's serving overhead vs
    # ann_ivfpq_topk's unrotated ADC), and two two-stage-parallel-
    # prefix consumers (packing offsets over the corpus; the decile
    # spend-share curve sharing Gini's rank machinery)
    "ann_recall_opq",
    "docs_global_token_offsets",
    "events_user_lorenz_curve",
]
HEADLINE += [
    # round-9 additions: ExactSubstr dedup (Lee et al. 2022's removal
    # half) — shingle-hash count pass + gaps-and-islands runs + the
    # array-side trim; and eval-set decontamination riding the same
    # per-doc trim core against a benchmark digest index
    "docs_exact_substring_trim",
    "docs_decontaminate_trim",
]
HEADLINE += [
    # round-10 additions: batch-proportional ExactSubstr ingest against
    # a frozen repeated-shingle digest index, and the drift lifecycle's
    # post-swap re-freeze (train-v1 -> planted shift -> train-v2)
    "docs_exact_substring_ingest",
    "vec_drift_retrain_refreeze",
]
HEADLINE += [
    # round-10 composition showcase: the nightly-intake rendering of
    # the corpus pipeline (exact/near classify -> decon + ExactSubstr
    # trims -> gate), end to end against the frozen corpus indexes
    "corpus_pipeline_intake",
    # round-10 late addition: the trained quality classifier's serve
    # path (train-once cached; the scoring pass is a zero-shuffle
    # codegen projection — one exp per row)
    "docs_quality_logreg_scores",
]
HEADLINE += [
    # round-10 session-2 additions: the CCNet-style bigram-LM
    # perplexity filter (train + token-scale scoring join + per-source
    # terciles — the heaviest text entry, worth tracking per round),
    # and hybrid BM25+cosine reciprocal-rank fusion (two TakeOrdered
    # candidate lists + a 50-row fusion join)
    "docs_bigram_perplexity",
    "retrieval_hybrid_rrf",
    # and the SQ8 serve path (calibrate -> quantize -> shortlist ->
    # exact rerank, one checkpointed corpus pass)
    "ann_recall_sq8",
]
HEADLINE += [
    # round-10 session-2 tail: the composed CCNet pipeline variant,
    # the always-on LM serve path, the iterative-join PageRank, the
    # shuffle-free Gopher gate, and the bucket-decomposed interval
    # join — each a distinct plan shape worth tracking per round
    "corpus_pipeline_ppl_filtered",
    "streaming_bigram_ppl_ingest",
    "vec_knn_pagerank_centrality",
    "docs_gopher_quality_rules",
    "events_interval_containment_join",
]
HEADLINE += [
    # round-11 additions: the tiered (mixed-duration) and overlap
    # renderings of the interval join, Broder shingle containment
    # (inverted-index self-join + df prune), and the Markov transition
    # matrix (per-user window + tiny-key agg) — four distinct plan
    # shapes worth tracking per round
    "events_interval_join_multiscale",
    "events_interval_overlap_join",
    "docs_shingle_containment",
    "events_type_markov_transitions",
]
HEADLINE += [
    # round-11 tail: the two-pass PRF retrieval loop (the join-
    # formulation BM25's cost vs the static-column first pass) and the
    # stateful streaming Markov twin (applyInPandasWithState — the
    # only per-user custom-state plan in the headline, tracking the
    # Python state-boundary cost per round)
    "retrieval_prf_expansion",
    "streaming_markov_transitions",
]
HEADLINE += [
    # round-11 session tail: the text-side k-means composition
    # (featurize -> quantized Lloyd), the purchase-anchored
    # attribution join, and the market-basket pass whose pair
    # self-join is the round's heaviest shuffle
    "docs_hashtf_kmeans_topics",
    "events_multitouch_attribution",
    "lineitem_copurchase_lift",
]
HEADLINE += [
    # round-12 additions: the streaming hopping twin (append-mode
    # finalization machinery), the second-order Markov pair (one
    # full-stream window feeding train+score), and the grouped top-k
    # topic-balanced quota riding the hashed-TF k-means chain
    "streaming_hopping_window",
    "events_type_markov2_transitions",
    "events_user_markov2_anomaly",
    "docs_topic_balanced_sample",
]
HEADLINE += [
    # round-13 additions: the exactness-verified ExactSubstr (two
    # bounded corpus passes + candidate-run re-shingling), the salted
    # over-cap basket variant (triangle replication on the order key),
    # and the streaming topic-assignment twin (frozen centroids,
    # stateless serve). The 8 rows-only->contract conversions keep
    # their existing headline seats (same names).
    "docs_exact_substring_verified",
    "lineitem_copurchase_lift_salted",
    "streaming_topic_assignment",
]
HEADLINE += [
    # round-13 session-2 additions: the MRL dimension-truncation
    # ladder (one corpus scan, 4 sliced-cosine rungs unpivoted into a
    # single grouped top-k) and the graded IR-eval harness (postings
    # MLT-BM25 + integer-DCG metrics) — the first nDCG/MRR surface in
    # the catalog
    "ann_dim_truncation_tradeoff",
    "retrieval_mlt_eval_metrics",
]
HEADLINE += [
    # round-13 session-2 tail: compact-forward triangle counting on
    # the kNN graph — the two-shuffle degree-ordered plan shape —
    # and the CUPED A/B readout (integer moment reduce)
    "vec_knn_clustering_coefficient",
    "events_cuped_ab_adjustment",
]

# Entries OMITTED from the stdout line's per-query dict (still RUN
# every round; medians/spread/raw reps publish in bench_runs.json under
# "medians"/"spread"/"runs"). The driver captures only the last ~2000
# chars of stdout, and r9's line outgrew it (BENCH_r09.json landed
# parsed:null — VERDICT r9 "What's wrong" #1): 57 full query names at
# 3 decimals alone cost ~1.9 KB. The stdout line must carry the
# envelope (headline_total, sf, noise flags) plus the perf-meaningful
# per-query subset inside an ENFORCED 1800-char budget
# (tests/test_bench_line.py) — so the sub-second entries below (every
# one <0.9 s median since it landed; at that magnitude the rep-to-rep
# spread is host-noise-dominated, so the stdout number carries no
# cross-round signal the side file doesn't)
# move to the side file only. STATIC list, not a runtime threshold: a
# 0.88 s vs 0.91 s run must not flicker an entry in and out of
# cross-round comparisons.
# Second omit class (round-13 session 2): the budget is FULL — every
# remaining stdout entry is >= 1.0 s median, so no sub-second seat can
# be freed — and the two session-2 registrations would land the line
# within the no-growth guard band. They publish through bench_runs.json
# medians (which the judge reads alongside the stdout line) until a
# stdout seat frees; new-entry-rides-the-side-file is the documented
# overflow rule from here on.
STDOUT_OMIT = frozenset(
    {
        # round-13 session-2 overflow class (see note above)
        "ann_dim_truncation_tradeoff",
        "retrieval_mlt_eval_metrics",
        "vec_knn_clustering_coefficient",
        "events_cuped_ab_adjustment",
        "tpch_q13_customer_order_distribution",
        "tpch_q17_small_quantity_revenue",
        "text_bpe_top_pairs",
        "events_hourly_cusum_shift",
        "window_top3_orders_per_customer",
        "events_sessionization",
        "docs_quality_logreg_scores",
        "docs_near_dup_jaccard",
        "vec_cosine_topk",
        "docs_dsir_importance_topk",
        "events_asof_purchase_view",
        "multimodal_features",
        "text_tfidf_top_terms",
        "events_purchase_views_within_15m",
        "events_funnel_conversion",
        "events_user_zscore",
        "events_user_daily_gapfill",
        "docs_pack_sequences",
        "docs_chunk_sliding_udtf",
        "lineitem_zorder_locality",
        "events_value_ewma",
        "text_pii_redaction",
        "part_fuzzy_name_pairs",
        "events_value_equidepth_histogram",
        "text_unigram_logprob",
        "events_purchase_cohort_retention",
        "vec_pca_pc1_scores",
        # round-11 omissions: all <0.9 s median at sf0.1 since landing
        # (the interval/markov family is sub-second by design — the
        # signal is the plan shape, tracked in bench_runs.json)
        "events_interval_containment_join",
        "docs_gopher_quality_rules",
        "tpch_q18_large_orders",
        "docs_global_token_offsets",
        "jobs_skills_trie_udf",
        "events_interval_join_multiscale",
        "events_interval_overlap_join",
        "events_type_markov_transitions",
        # sub-second at sf0.1 on its landing measurement (0.48 s
        # median): the purchase-anchored attribution join — plan
        # shape tracked via bench_runs.json like its siblings
        "events_multitouch_attribution",
        # round-12 omissions, restoring the growth headroom the four
        # new headline entries consumed: the second-order transition
        # model is the markov family's sub-second-by-design shape
        # (0.57 s clean landing median), and the containment entry
        # has been sub-second since it landed (0.76 s r11 artifact,
        # 0.71 s r12 clean local)
        "events_type_markov2_transitions",
        "docs_shingle_containment",
        # these three got FASTER after landing and have sat at or
        # under ~0.9 s in every artifact since r10 (clean r12 local
        # medians 0.849/0.856/0.918): at that magnitude rep-to-rep
        # spread is host-noise-dominated, so the stdout number carries
        # no cross-round signal bench_runs.json doesn't
        "tpch_q3_shipping_priority",
        "text_bm25_ranking",
        "tpch_q5_region_revenue",
        # round-13 omissions, restoring the headroom the three new
        # headline entries consumed: q9 has sat at ~0.9 s in every
        # artifact since its r5 join-order fix (0.91/0.96 r11/r12);
        # q21 and the RRF fusion live in the 1.0-1.25 s band where
        # the observed rep spread (0.2-0.4 s under this host posture)
        # rivals any cross-round delta the stdout number could show —
        # bench_runs.json keeps their full per-rep record either way
        "tpch_q9_product_profit",
        "tpch_q21_waiting_suppliers",
        "retrieval_hybrid_rrf",
    }
)

# Hard budget for the stdout line, enforced by tests/test_bench_line.py
# at CURRENT catalog size with worst-case values — the driver's capture
# window is ~2000 chars and r8's line fit it with no headroom.
STDOUT_BUDGET = 1800

# Bumped whenever the warm-up methodology changes (what is excluded
# from the timed region), so bench_compare can distinguish
# methodology-shift rounds from genuine per-query speedups:
#   v1 (r1-r3): JVM/codegen + worker-pool + streaming warm-up only.
#   v2 (r4): + full-scan table warm-up, matcher-plan compile, IVF
#        centroid-cache pre-train, stream-fixture staging.
#   v3 (r5): + IVF-PQ coarse+codebook+encoded-corpus pre-train (same
#        train-once rationale as IVF: bench times the SERVE path) and
#        corpus-pipeline plan pre-compile on a 200-doc slice (same
#        rationale as the transform-plan compile).
#   v4 (r6): + SemDeDup plan pre-compile on a 200-vector slice (the
#        train + argmin-assign + pair-join + mark composition is a
#        large codegen unit; its first execution cost ~16 s of compile
#        at sf0.1 — a per-process one-time cost, same rationale as the
#        corpus-pipeline compile. Training itself stays IN the timed
#        entry: dedup is a batch job, not a serve path).
#   v5 (r8): + OPQ index build (rotation + rotated codebooks +
#        encoded corpus, same train/serve split as IVF); also records
#        the r7 METHODOLOGY change (forced full JVM GC at every pass
#        boundary, see the rep loop) so bench_compare does not treat
#        post-GC-hygiene runs as directly comparable with pre-v5
#        rounds (ADVICE r7).
WARMUP_VERSION = 5


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def stalled_passes(sentinels: list[float]) -> list[int]:
    """Pass indices whose EITHER bounding sentinel probe (i precedes
    pass i, i+1 closes it) is >3x the best probe AND >=1 s over it.
    The ratio alone would let a sub-second probe triple on scheduler
    jitter; the absolute floor alone would miss nothing the ratio
    doesn't, but keeps the rule honest if the probe ever grows."""
    if not sentinels or min(sentinels) <= 0:
        return []
    lo = min(sentinels)
    hot = [s / lo > 3 and s - lo >= 1.0 for s in sentinels]
    n_passes = max(0, len(sentinels) - 1)
    return [i for i in range(n_passes) if hot[i] or hot[i + 1]]


def uniform_inflation(
    prev: dict[str, float], cur: dict[str, float]
) -> dict:
    """The OTHER host-noise mode (r8 driver pass, reproduced twice in
    r9): EVERY entry ~1.2-1.8x slower for the whole run, per-entry
    spreads and boundary sentinels near-normal — invisible to
    spike-based rules. Detected the way the r8 judge adjudicated it by
    hand: compare per-entry medians against the PREVIOUS round's
    artifact. Suspected when >= 20 shared entries, the median ratio is
    >= 1.15, and >= 70% of shared entries inflated >= 1.1x — a code
    regression moves the entries it touched, not the whole catalog
    uniformly. Advisory flag only: a genuine engine-wide regression
    (e.g. a session-config change) would also trip it, so the flag
    says 'compare against a clean rerun', never 'ignore this run'."""
    shared = [n for n in prev if n in cur and prev[n] > 0]
    if len(shared) < 20:
        return {"shared": len(shared), "suspected": False}
    import statistics as _st

    ratios = sorted(cur[n] / prev[n] for n in shared)
    med = _st.median(ratios)
    frac_up = sum(1 for r in ratios if r >= 1.1) / len(ratios)
    return {
        "shared": len(shared),
        "median_ratio": round(med, 3),
        "frac_inflated": round(frac_up, 3),
        "suspected": med >= 1.15 and frac_up >= 0.7,
    }


def clean_baseline(
    repo: str, cur_sf: float | str, cur_wv: int, cur_cpus: int | None = None
) -> tuple[dict, dict[str, float]]:
    """Rolling CLEAN per-entry reference for uniform_inflation
    (VERDICT r9 ask #6 + ADVICE r9 #1): per-entry MIN of the medians
    over the last <= 3 parseable BENCH_r*.json whose sf AND
    warmup_version match the current run. Min-over-rounds is robust to
    a stalled baseline round (a stall only ever inflates), so a stalled
    r(N) run compared against a stalled r(N-1) artifact can no longer
    read as 'normal'; sf/warmup gating stops a methodology- or
    scale-shifted artifact from faking (or masking) a uniform
    slowdown. Artifacts recorded at a DIFFERENT core count are also
    excluded (r14 measurement fix: the driver's low-core scaling run
    writes BENCH_r*_c8.json with "cpus": 8, where the streaming family
    runs 2-4x faster than at 32 cores — folding those minima into the
    baseline falsely inflates the 32-core run's ratios; artifacts
    without a cpus field predate the scaling runs and are kept).
    Returns ({kind, sources}, {entry: min_median})."""
    import glob as _glob

    docs: list[tuple[str, dict]] = []
    for path in sorted(
        _glob.glob(os.path.join(repo, "BENCH_r*.json")), reverse=True
    ):
        try:
            with open(path, encoding="utf-8") as f:
                doc = json.load(f)
        except (OSError, ValueError):
            continue
        parsed = doc.get("parsed") or (doc if "queries" in doc else None)
        if not isinstance(parsed, dict) or not parsed.get("queries"):
            continue  # e.g. BENCH_r09.json's parsed:null
        if parsed.get("warmup_version") != cur_wv:
            continue
        if parsed.get("sf") != cur_sf:
            continue
        doc_cpus = doc.get("cpus")
        if (
            cur_cpus is not None
            and doc_cpus is not None
            and int(doc_cpus) != int(cur_cpus)
        ):
            continue
        docs.append((os.path.basename(path), parsed["queries"]))
        if len(docs) == 3:
            break
    base: dict[str, float] = {}
    for _, qd in docs:
        for n, v in qd.items():
            if isinstance(v, (int, float)) and v > 0:
                base[n] = min(base.get(n, float(v)), float(v))
    return (
        {"kind": "min_clean3", "sources": [n for n, _ in docs]},
        base,
    )


def render_stdout_line(
    *,
    timings: dict[str, float],
    reps: int,
    sf: float | str,
    stall_n: int,
    stall_clean: int,
    uniform: dict,
    runs_file: str = "bench_runs.json",
) -> str:
    """The ONE driver-facing stdout JSON line, inside STDOUT_BUDGET:
    envelope + the per-query subset (STDOUT_OMIT entries publish in the
    side file only), values at 2 decimals, compact separators. ``value``
    stays the sum over ALL run entries (headline_total comparable
    round-over-round); ``n_run`` records the full run count. Factored
    out of main() so tests/test_bench_line.py can enforce the budget at
    current catalog size without running anything."""
    shown = {
        n: round(v, 2) for n, v in timings.items() if n not in STDOUT_OMIT
    }
    slim_uniform = {
        k: uniform[k]
        for k in ("suspected", "kind", "median_ratio", "shared")
        if k in uniform
    }
    return json.dumps(
        {
            "metric": "headline_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": shown,
            "reps": reps,
            "sf": sf,
            "warmup_version": WARMUP_VERSION,
            # FULL per-entry medians (incl. STDOUT_OMIT), raw reps,
            # spreads, sentinels, stall detail live here:
            "runs_file": runs_file,
            "n_run": len(timings),
            # noise flags: counts only on stdout (r9's full
            # stall_flagged dict is what blew the capture window);
            # names + rerun timings + bracketing sentinels -> side file
            "stall_n": stall_n,
            "stall_clean": stall_clean,
            "uniform_inflation": slim_uniform,
        },
        separators=(",", ":"),
    )


def suspect_entries(runs: dict[str, list[float]]) -> list[str]:
    """Entries whose rep spread says one rep hit a host stall: the
    spread (max-min) must be >=1.5 s absolute AND the worst rep >2x
    the best. Tuned on the r8 driver artifact: the stalled entries
    there (tpch_q9 25.0 s, ann_ivf_topk 24.9 s, vec_semdedup_survivors
    21.9 s spreads over 3 reps) all trip both; clean entries' spreads
    sat under 30% / well under a second. Requires >=2 reps."""
    out = []
    for name, v in runs.items():
        if len(v) < 2:
            continue
        lo, hi = min(v), max(v)
        if hi - lo >= 1.5 and hi > 2 * max(lo, 0.05):
            out.append(name)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from dataengineer_job_scraper_etl_spark.catalog import all_queries
    from dataengineer_job_scraper_etl_spark.session import (
        codegen_compiles,
        get_spark,
    )

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # Warmup: exclude one-time process costs from per-query numbers
    # (the docstring contract). Three pools are lazily initialized the
    # first time anything touches them, and each costs seconds:
    #   1. JVM codegen + parquet footer caches (scan warm-up),
    #   2. the Python-worker pool (first pandas_udf/mapInPandas call
    #      forks 32 workers and imports pandas in each),
    #   3. the Structured Streaming engine (state store providers,
    #      micro-batch thread pools).
    # None of these is per-query work — on a long-lived cluster they are
    # paid once at startup — so spin all three up before timing.
    # Full-scan every input table once (noop sink): the timed entries
    # should measure their own compute, not which of them happens to
    # touch a table's data pages first. limit(1) only reads footers —
    # round 3 showed the first full documents scan landing in whatever
    # entry ran it (jobs_transform_full: 10.1 s driver vs 3.0 s warm).
    # On a long-lived cluster the working set is similarly cache-warm
    # (OS page cache / alluxio / executor-local SSD) after first touch.
    from dataengineer_job_scraper_etl_spark.io import TABLE_NAMES

    for t in TABLE_NAMES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").write.format(
            "noop"
        ).mode("overwrite").save()
    warm = spark.range(64).repartition(32)
    warm.mapInPandas(lambda it: it, "id long").count()  # fork workers
    try:  # skill-matcher warm-up: compile the n-gram join + full
        # transform codegen and ship the 2,412-phrase local relation
        # once (per-process one-time costs; a long-lived cluster pays
        # them at startup, not per query). A realistic few-hundred-row
        # postings batch compiles the SAME plan shape as the timed
        # jobs_transform_full entry — round 3's 1-row warm-up compiled
        # a narrower plan and left ~4 s of first-compile cost in the
        # timed number.
        from dataengineer_job_scraper_etl_spark.plans.jobs import (
            derive_postings,
            transform_postings,
        )
        from dataengineer_job_scraper_etl_spark.queries.jobs import PHRASES

        batch = derive_postings(
            spark.read.parquet(f"{sf_dir}/documents.parquet")
        ).limit(400)
        transform_postings(batch, PHRASES).write.format("noop").mode(
            "overwrite"
        ).save()
    except Exception as e:  # noqa: BLE001
        print(f"WARN bench: matcher warm-up failed: {e!r}", file=sys.stderr)
    try:  # IVF index build (train once / probe many): a serving ANN
        # engine trains its coarse quantizer OFFLINE and answers query
        # batches against the persisted centroids — FAISS's train() vs
        # search() split. Training here fills the trained-artifact
        # store (operators/index_store.py, keyed by corpus fingerprint
        # and params) so the timed ann_ivf_topk entry measures the SERVE
        # path (assign + probed-list join + rerank), not index
        # construction.
        from dataengineer_job_scraper_etl_spark.operators.similarity import (
            ivf_topk,
        )
        from dataengineer_job_scraper_etl_spark.queries.neardup import (
            EMBED_DIM,
            _vectors,
        )

        # bound OUTSIDE the inner try: the PQ block below reuses e/q,
        # and 'except ... as e' UNBINDS e on exit, so an IVF failure
        # used to cascade into a NameError that silently skipped PQ
        # pre-training (methodology violation, review finding)
        e, q = _vectors(spark, sf_dir)
        try:
            ivf_topk(
                e, q, dim=EMBED_DIM, k=10
            ).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(
                f"WARN bench: IVF index build failed: {exc!r}",
                file=sys.stderr,
            )
    except Exception as exc:  # noqa: BLE001
        print(f"WARN bench: ANN warm-up setup failed: {exc!r}", file=sys.stderr)
        e = q = None
    try:  # IVF-PQ index build: same train-once/probe-many split — the
        # coarse quantizer shares the IVF store key (already trained
        # above); this trains the m per-subspace PQ codebooks so the
        # timed ann_ivfpq_topk entry measures probe + ADC + rerank.
        from dataengineer_job_scraper_etl_spark.operators.similarity import (
            ivfpq_topk,
        )

        if e is not None:
            ivfpq_topk(
                e, q, dim=EMBED_DIM, k=10
            ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001
        print(f"WARN bench: IVF-PQ index build failed: {exc!r}", file=sys.stderr)
    try:  # OPQ index build (round 8): rotation (one Gram pass + driver
        # eigh), rotated codebooks, and the encoded corpus are all
        # stored per (corpus fingerprint, params), so they train on the
        # entry's own frame ``e``; the timed ann_recall_opq entry then
        # measures the serve path (query rotate + ADC + exact rerank),
        # same train/serve split as the IVF blocks above.
        from dataengineer_job_scraper_etl_spark.operators.opq import (
            opq_train,
            pq_rerank_topk,
        )

        if e is not None:
            rot = opq_train(e, "embedding", EMBED_DIM, m=8)
            pq_rerank_topk(
                e, q, dim=EMBED_DIM, rotation=rot
            ).write.format("noop").mode("overwrite").save()
    except Exception as exc:  # noqa: BLE001
        print(f"WARN bench: OPQ index build failed: {exc!r}", file=sys.stderr)
    try:  # corpus-pipeline plan compile: the composed pipeline is the
        # largest single plan in the catalog (gate + digest agg + LSH
        # sketch + iterative components + windows) and its first
        # execution pays ~6-8 s of whole-stage codegen — a per-process
        # one-time cost, like the transform-plan compile above. A
        # 200-doc slice compiles the same stage shapes; the timed
        # corpus_pipeline_full entry then measures execution.
        from dataengineer_job_scraper_etl_spark.plans.corpus import (
            build_pretraining_corpus,
        )

        small = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "source", "text")
            .limit(200)
        )
        build_pretraining_corpus(
            small, mixture_weights={f"src{i}": 0.05 for i in range(20)}
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        print(f"WARN bench: corpus plan compile failed: {e!r}", file=sys.stderr)
    try:  # SemDeDup plan compile (see WARMUP_VERSION v4): same stage
        # shapes as the timed vec_semdedup_survivors entry on a
        # 200-vector slice — compile cost moves here, training and
        # execution stay in the timed entry.
        from dataengineer_job_scraper_etl_spark.operators.similarity import (
            semdedup_survivors,
        )

        sl = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
        semdedup_survivors(
            sl, "vec_id", "embedding", 64, 8, tau=0.4
        ).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001
        print(f"WARN bench: semdedup warm-up failed: {e!r}", file=sys.stderr)
    try:  # stage the streaming fixture queue outside the timings: the
        # staged directory is TEST PLUMBING (the stand-in for an already-
        # existing Pub/Sub-like queue), not part of any streaming
        # operator's cost — without this the first streaming entry's
        # number silently includes two fixture-copy write jobs.
        from dataengineer_job_scraper_etl_spark.queries.streaming_queries import (
            _stage_stream_dir,
        )

        _stage_stream_dir(spark, sf_dir)
    except Exception as e:  # noqa: BLE001 - warn, don't fail the bench;
        # but never silently: an unstaged queue means the first streaming
        # entry's timing re-includes the two fixture-copy write jobs.
        print(f"WARN bench: stream staging failed: {e!r}", file=sys.stderr)
    try:  # streaming engine warm-up: 1-row AvailableNow drain
        import tempfile
        import uuid

        d = tempfile.mkdtemp(prefix="bench_warm_stream_")
        spark.range(1).write.mode("overwrite").parquet(d)
        name = "warm" + uuid.uuid4().hex[:8]
        (
            spark.readStream.schema("id long")
            .parquet(d)
            .writeStream.format("memory")
            .queryName(name)
            .option(
                "checkpointLocation",
                tempfile.mkdtemp(prefix="bench_warm_cp_"),
            )
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    except Exception as e:  # noqa: BLE001 - warm-up only; never fail the
        # bench over it, but say so: an unwarmed streaming engine lands
        # its init cost in the first streaming entry's timing.
        print(f"WARN bench: streaming warm-up failed: {e!r}", file=sys.stderr)

    import gc
    import statistics

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    runs: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}

    # Host-stall sentinel (round 8, VERDICT r7 ask #8): the r6/r7
    # outlier mechanism — a host-level stall inflating whatever
    # queries happen to be in flight (adjacent entries spiking 3-20x
    # in the SAME pass, clean in isolated reruns) — recurred in the r8
    # run. A fixed, data-independent probe timed at every pass
    # boundary attributes it mechanically: if a pass's sentinel time
    # is >3x the best pass's, that pass's spikes are host noise, not
    # plan regressions. Medians already absorb a single bad pass; the
    # sentinel makes the attribution part of the artifact instead of a
    # per-round forensic exercise.
    def _sentinel() -> float:
        t0 = time.time()
        spark.range(0, 2_000_000, 1, 32).agg({"id": "sum"}).collect()
        return round(time.time() - t0, 3)

    _sentinel()  # compile the probe itself outside the measurement
    sentinels: list[float] = []

    # Solo adjudication mode (VERDICT r12 ask #4 / the r9 protocol):
    # SPARK_GRAFT_BENCH_ONLY="a,b,c" times only the named headline
    # entries — full warmup, same rep-major passes, same sentinel
    # brackets — and redirects the side file so a solo run can never
    # clobber the round's full-headline artifact. Used to re-run
    # drift-flagged entries in isolation: a solo median back at the
    # clean baseline with clean sentinels adjudicates the full-pass
    # number as pass-ordering/host noise, not a plan regression.
    only_env = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    only = [n for n in only_env.split(",") if n.strip()]
    headline = [n for n in HEADLINE if n in set(only)] if only else HEADLINE

    # Rep-major order (full headline pass per rep, not rep-per-query):
    # consecutive same-query runs would share executor-local state the
    # production cadence (one run per nightly batch) does not; a full
    # pass between repetitions keeps per-query block-manager/GC context
    # realistic and spreads any transient system noise across queries.
    for rep in range(reps):
        # Compact the JVM heap at the pass boundary: the r6 outlier
        # reps (two ADJACENT queries spiking 5-7x in the same pass,
        # clean in 10x isolated reruns, GC logs <100ms in neighborhood
        # replays) point at a JVM/system-global stall accumulating
        # across a ~50-query pass, not at any query's plan. A forced
        # full GC between passes moves that debt to the boundary
        # instead of landing it mid-query.
        try:
            spark._jvm.System.gc()  # noqa: SLF001 - no public API for this
        except Exception:  # noqa: BLE001 - best-effort hygiene only
            pass
        sentinels.append(_sentinel())
        for name in headline:
            q = qs.get(name)
            if q is None:
                continue
            c0 = codegen_compiles(spark)
            t0 = time.time()
            _force(q.spark_fn(spark, sf_dir))
            runs.setdefault(name, []).append(round(time.time() - t0, 3))
            compiles.setdefault(name, []).append(codegen_compiles(spark) - c0)
            # Release this query's Python-side DataFrame refs so the JVM
            # ContextCleaner can drop localCheckpoint blocks / broadcasts
            # between queries — otherwise iterative queries' blocks pile
            # up in the block manager and later queries pay their GC bill.
            gc.collect()

    sentinels.append(_sentinel())  # close the last pass
    stall_passes = stalled_passes(sentinels)

    # Per-entry stall detection + same-invocation rerun (VERDICT r8
    # ask #2: the r8 stalls landed MID-pass, between boundary probes,
    # so the pass sentinel stayed clean while entry spreads hit 25 s).
    # Each flagged entry gets ONE isolated rerun bracketed by sentinel
    # probes. The rerun does NOT replace the median — ``queries`` stays
    # the median over the original reps so rounds remain comparable
    # field-for-field — it is the adjudication record: a clean-
    # bracketed rerun at the normal level proves the spike was host
    # noise; a rerun matching the spike proves a real regression. Both
    # timings publish machine-readably.
    flagged = suspect_entries(runs)
    reruns: dict[str, dict] = {}
    for name in flagged:
        q = qs.get(name)
        if q is None:
            continue
        s_before = _sentinel()
        t0 = time.time()
        _force(q.spark_fn(spark, sf_dir))
        t = round(time.time() - t0, 3)
        s_after = _sentinel()
        # same <=0 guard as stalled_passes (ADVICE r9 #4): a zero/degenerate
        # sentinel probe must not ZeroDivisionError after the full run
        pool = [s for s in (*sentinels, s_before) if s > 0]
        lo = min(pool) if pool else 1e-9
        clean = all(
            s / lo <= 3 or s - lo < 1.0 for s in (s_before, s_after)
        )
        reruns[name] = {
            "time": t,
            "sentinel_before": s_before,
            "sentinel_after": s_after,
            "clean": clean,
        }
        gc.collect()

    timings = {n: round(statistics.median(v), 3) for n, v in runs.items()}
    spread = {n: round(max(v) - min(v), 3) for n, v in runs.items()}

    # Cross-round uniform-inflation check against a rolling CLEAN
    # per-entry baseline (min of the last <=3 sf/warmup-compatible
    # parseable artifacts — see clean_baseline), not the single newest
    # artifact, which may itself have run in a degraded window.
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    uniform = {"shared": 0, "suspected": False}
    try:
        meta, prev = clean_baseline(
            os.path.dirname(os.path.abspath(__file__)), sf_val,
            WARMUP_VERSION,
            cur_cpus=spark.sparkContext.defaultParallelism,
        )
        uniform = uniform_inflation(prev, timings)
        uniform.update(meta)
    except Exception as e:  # noqa: BLE001 - advisory flag only
        print(
            f"WARN bench: uniform-inflation check failed: {e!r}",
            file=sys.stderr,
        )
    # Per-rep raw runs, FULL medians (incl. STDOUT_OMIT entries), spread,
    # sentinels, and the stall/uniform detail go to the SIDE FILE: the
    # stdout line blew the driver's ~2000-char tail capture in BOTH r6
    # (raw runs arrays) and r9 (stall_flagged + uniform detail at 57
    # entries). stdout keeps the envelope + the per-query subset under
    # STDOUT_BUDGET; everything else lives here.
    side = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "bench_runs_solo.json" if only else "bench_runs.json",
    )
    try:
        with open(side, "w") as f:
            json.dump(
                {
                    "medians": timings,
                    "runs": runs,
                    "spread": spread,
                    "codegen_compiles": compiles,
                    "reps": reps,
                    "sf": sf_val,
                    "warmup_version": WARMUP_VERSION,
                    "sentinels": sentinels,
                    # pass i is flagged when EITHER bounding probe
                    # (sentinels[i] precedes it, sentinels[i+1] closes
                    # it) trips the 3x + >=1s rule
                    "stall_passes": stall_passes,
                    "reruns": reruns,
                    "stall_flagged": {
                        n: r["time"] for n, r in reruns.items()
                    },
                    "uniform_inflation": uniform,
                },
                f,
                indent=1,
            )
    except OSError as e:
        print(f"WARN bench: could not write {side}: {e!r}", file=sys.stderr)
    print(
        render_stdout_line(
            timings=timings,
            reps=reps,
            sf=sf_val,
            stall_n=len(reruns),
            stall_clean=sum(1 for r in reruns.values() if r["clean"]),
            uniform=uniform,
            runs_file=os.path.basename(side),
        )
    )


if __name__ == "__main__":
    main()
