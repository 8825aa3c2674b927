"""Audit-window bookkeeping: the driver hash-audits the first 50
names of __spark_entry__.queries(), ordered by catalog.AUDIT_SCHEDULE.
A typo'd or stale schedule silently burns audit slots, and VERDICT r8
"What's wrong" #1 showed pure round-staleness rotation lets freshly
rewired entries miss their window — so the rotation tool snapshots
per-entry source hashes and these tests pin both the schedule's
integrity and the change-detection mechanics."""

from __future__ import annotations

import json
import os

from dataengineer_job_scraper_etl_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _last_rounds(upto: int | None = None):
    """Latest CORRECTNESS round per entry, restricted to rounds
    <= ``upto`` when given — the schedule's generation-time view.
    VERDICT r10 "What's wrong" #1: evaluating the committed schedule
    against evidence that POSTDATES it (the driver's new CORRECTNESS
    file audits the window head) made the head read as wasted slots;
    the clock is catalog.AUDIT_SCHEDULE_META, not max(rounds on disk).
    """
    import glob

    last = {}
    for p in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(p) if c.isdigit()))
        if upto is not None and rnd > upto:
            continue
        with open(p, encoding="utf-8") as f:
            for n in json.load(f):
                last[n] = max(rnd, last.get(n, 0))
    return last


def _wasted_no_oracle_slots(schedule, qs, last, next_round):
    """No-oracle entries holding a slot despite fresh evidence under
    the given clock — the waste rule shared by the freshness test and
    the future-evidence replay test."""
    return [
        n
        for n in schedule
        if qs[n].oracle is None
        and n in last
        and next_round - last[n] <= 2
    ]


def test_schedule_names_are_registered_and_unique():
    qs = catalog.all_queries()
    missing = [n for n in catalog.AUDIT_SCHEDULE if n not in qs]
    assert not missing, f"schedule names not in catalog: {missing}"
    assert len(set(catalog.AUDIT_SCHEDULE)) == len(catalog.AUDIT_SCHEDULE)
    # no-oracle entries only earn slots under the head rules: never any
    # driver evidence, or evidence >2 rounds stale by the next round
    # (VERDICT r9 ask #5) — anything fresher is a wasted slot. The
    # clock is the schedule's OWN generation stamp: evidence written
    # after generation must not retroactively invalidate it.
    gen = catalog.AUDIT_SCHEDULE_META["generated_after_round"]
    last = _last_rounds(upto=gen)
    wasted = _wasted_no_oracle_slots(
        catalog.AUDIT_SCHEDULE, qs, last, gen + 1
    )
    assert not wasted, f"wasted slots on fresh no-oracle entries: {wasted}"


def test_schedule_meta_clock_is_plausible():
    """The stamp must not POSTdate the evidence on disk at commit time
    (a schedule can't have been generated after rounds that don't
    exist yet it claims to know), and must not lag so far that the
    window was generated blind to >1 existing round — the driver
    writes exactly one CORRECTNESS file per round, so at most one may
    postdate a freshly generated schedule."""
    gen = catalog.AUDIT_SCHEDULE_META["generated_after_round"]
    on_disk = max(_last_rounds().values(), default=0)
    assert gen <= on_disk
    assert on_disk - gen <= 1, (
        f"schedule generated after r{gen} but evidence reaches "
        f"r{on_disk} — regenerate tools/audit_rotation.py"
    )


def test_schedule_survives_next_round_evidence_landing():
    """The replay test (VERDICT r10 "What's wrong" #2): simulate the
    driver landing CORRECTNESS_r{gen+1}.json containing the ENTIRE
    committed window head — the exact event that flipped r10's
    committed schedule red — and assert the waste rule still returns
    empty because the clock pins evaluation to the generation stamp."""
    qs = catalog.all_queries()
    gen = catalog.AUDIT_SCHEDULE_META["generated_after_round"]
    last = _last_rounds(upto=gen)
    # synthetic next-round evidence: the driver audits the window head
    future = dict(last)
    for n in catalog.AUDIT_SCHEDULE:
        future[n] = gen + 1
    # a clock-less evaluation (max of evidence + 1) over the future
    # file WOULD flag every no-oracle head slot as wasted...
    clockless = _wasted_no_oracle_slots(
        catalog.AUDIT_SCHEDULE, qs, future, max(future.values()) + 1
    )
    heads = [
        n for n in catalog.AUDIT_SCHEDULE
        if qs[n].oracle is None and n in last
    ]
    assert set(clockless) == set(heads), (
        "replay premise broke: clock-less evaluation should flag "
        "exactly the evidenced no-oracle head slots"
    )
    # ...while the stamped clock ignores evidence past the stamp:
    stamped_view = {n: r for n, r in future.items() if r <= gen}
    assert not _wasted_no_oracle_slots(
        catalog.AUDIT_SCHEDULE, qs, stamped_view, gen + 1
    )


def test_every_registered_entry_evidenced_or_scheduled():
    """VERDICT r9 ask #2 (the wrap-time assertion, also enforced by
    tools/wrap_counts.py exit code): a late-registered entry must
    never silently miss a round — no driver CORRECTNESS row in any
    round means it MUST hold a slot in the next window."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from wrap_counts import unevidenced_not_scheduled

    assert unevidenced_not_scheduled() == []


# The 50 seats of the r14 window, regenerated after the one-table-reader
# change: every one is changed-tier. 242 oracle-bearing entries moved
# their source hash (the r14 optimization commits, the trained-artifact
# store refactor, and the table reader's call sites across the queries
# modules), so the window seats the oldest driver evidence (r7-r9).
# Frozen HERE because the changed set is only recomputable until the
# driver's evidence for this window lands and promotes the audited
# baselines.
_R14_WINDOW = {
    "agg_approx_distinct_tol",
    "agg_distinct_counts",
    "docs_exact_dedup",
    "docs_global_token_offsets",
    "docs_quality_terciles",
    "docs_shard_assignment",
    "events_value_equidepth_histogram",
    "events_value_mad_outliers",
    "events_value_percentiles",
    "events_value_shape_robust",
    "events_value_trend_regression",
    "grouping_sets_orders",
    "pivot_status_by_priority",
    "set_except_customers",
    "set_intersect_customers",
    "streaming_pc1_drift_monitor",
    "text_bm25_ranking",
    "text_clean_markup",
    "text_fingerprint",
    "text_langid_heuristic",
    "text_quality_score",
    "text_term_frequencies",
    "text_token_stats",
    "text_vocab_coverage_curve",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_shipment_priority",
    "tpch_q13_customer_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_part_variety",
    "tpch_q17_small_quantity_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_discounted_revenue",
    "tpch_q1_pricing_summary",
    "tpch_q20_excess_stock_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity",
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority_exists",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "unpivot_lineitem_measures",
    "vec_kmeans_profile",
    "vec_semdedup_survivors",
    "window_ntile_customer_quartiles",
    "window_percentrank_event_values",
    "window_rolling_30day_spend",
}

# The seats of the window it replaced (generated after the
# trained-artifact store refactor, before any driver audited it).
_R14_STORE_WINDOW = {
    "agg_approx_percentile_tol",
    "agg_freq_items_contract",
    "corpus_pipeline_allsource_mixture",
    "docs_chunk_hashtf_retrieval",
    "docs_chunk_sliding_udtf",
    "docs_cluster_safe_split",
    "docs_dedup_canonical",
    "docs_dedup_clusters",
    "docs_hashtf_kmeans_topics",
    "docs_pack_sequences",
    "docs_pretrain_filter",
    "docs_quality_logreg_converged",
    "docs_quality_logreg_scores",
    "docs_quality_logreg_weights",
    "events_funnel_conversion",
    "events_hourly_daily_rollup",
    "events_purchase_views_within_15m",
    "events_user_daily_gapfill",
    "events_user_rfm_segments",
    "events_user_zscore",
    "events_user_zscore_grouped_udf",
    "lineitem_copurchase_lift",
    "retrieval_prf_expansion",
    "streaming_append_finalized_windows",
    "streaming_attribution_join",
    "streaming_dedup_redelivery",
    "streaming_exact_substring_ingest",
    "streaming_hopping_window",
    "streaming_ingest_dedup_status",
    "streaming_latest_per_user",
    "streaming_pc1_drift_monitor",
    "streaming_semdedup_ingest",
    "streaming_session_counts",
    "streaming_session_dynamic_gap",
    "streaming_static_enrich",
    "streaming_tumbling_hourly",
    "text_bpe_token_count",
    "vec_centroid_outlier_flags",
    "vec_cluster_balanced_sample",
    "vec_cluster_label_purity",
    "vec_hard_negative_mining",
    "vec_kmeans_profile",
    "vec_knn_pagerank_ivf",
    "vec_knn_pagerank_ivf_deep",
    "vec_pc1_drift_psi",
    "vec_pca_grid_sample",
    "vec_pca_pc1_scores",
    "vec_pca_top2_scores",
    "vec_semdedup_presplit",
    "vec_semdedup_survivors",
}


def test_r14_window_seats_oldest_changed_tier():
    """Round-14 window: no entry failed its latest audit and every
    registration has driver evidence, so there is no head — all 50
    seats are changed-tier, and the changed tier (242 entries) outgrew
    the window, so the within-tier order seats the OLDEST driver
    evidence first. The replaced window's seats that lost out all
    carry evidence no older than the newest seat."""
    assert set(catalog.AUDIT_SCHEDULE) == _R14_WINDOW
    gen = catalog.AUDIT_SCHEDULE_META["generated_after_round"]
    last = _last_rounds(upto=gen)
    tier = [last.get(n) for n in catalog.AUDIT_SCHEDULE]
    assert None not in tier  # no never-audited head
    assert tier == sorted(tier), tier
    for n in _R14_STORE_WINDOW - _R14_WINDOW:
        assert last[n] >= tier[-1], n


def test_rows_only_class_retired():
    """VERDICT r12 ask #2's done-criterion: every registered entry is
    oracle-bearing — the no-oracle refresh-rule machinery (head seats
    for never-seen / >2-rounds-stale rows-only entries) is vestigial
    by construction, and the driver's rows-only check can no longer
    be any entry's only evidence."""
    qs = catalog.all_queries()
    no_oracle = [n for n, q in qs.items() if q.oracle is None]
    assert no_oracle == []
    # and therefore no schedule can waste a rows-only slot
    assert not _wasted_no_oracle_slots(
        catalog.AUDIT_SCHEDULE, qs, _last_rounds(), 13
    )


def test_audit_order_puts_schedule_first():
    ordered = list(catalog.audit_ordered_queries())
    n = len(catalog.AUDIT_SCHEDULE)
    assert ordered[:n] == catalog.AUDIT_SCHEDULE
    # and the rest is exactly the remaining registry, stable order
    rest = [n_ for n_ in catalog.all_queries()
            if n_ not in set(catalog.AUDIT_SCHEDULE)]
    assert ordered[n:] == rest


def test_source_hash_sees_entry_body_oracle_and_operator_modules():
    """The staleness snapshot must change when (a) the entry fn body
    changes, (b) the oracle SQL changes, (c) an operators/ module the
    fn imports changes — the r8 failure mode was exactly a rewire
    invisible to round-based staleness."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import entry_source_hash

    class Q:
        def __init__(self, fn, oracle):
            self.spark_fn = fn
            self.oracle = oracle

    def fn_a(spark, sf_dir):
        return 1

    def fn_b(spark, sf_dir):
        return 2

    h1 = entry_source_hash(Q(fn_a, "SELECT 1"))
    assert entry_source_hash(Q(fn_a, "SELECT 1")) == h1  # deterministic
    assert entry_source_hash(Q(fn_b, "SELECT 1")) != h1  # body
    assert entry_source_hash(Q(fn_a, "SELECT 2")) != h1  # oracle

    # (c): a prefix-importing entry's hash covers operators/prefix.py
    def fn_prefix(spark, sf_dir):
        from dataengineer_job_scraper_etl_spark.operators.prefix import (
            global_prefix,
        )

        return global_prefix

    import audit_rotation as ar

    h_real = entry_source_hash(Q(fn_prefix, None))
    orig = ar._OPS_DIR
    try:
        ar._OPS_DIR = "/nonexistent"  # simulate module text changing
        h_other = entry_source_hash(Q(fn_prefix, None))
    finally:
        ar._OPS_DIR = orig
    assert h_real != h_other


def test_source_hash_sees_the_defining_module_text(tmp_path):
    """ADVICE r9 #2: two functions with IDENTICAL source in modules
    whose surrounding text differs (e.g. a shared helper edited) must
    hash differently — the r8 rewire-misses-window failure mode lived
    exactly in module-level helpers the fn-body hash couldn't see."""
    import importlib.util
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import entry_source_hash

    class Q:
        def __init__(self, fn, oracle):
            self.spark_fn = fn
            self.oracle = oracle

    def load(name, extra):
        p = tmp_path / f"{name}.py"
        p.write_text(f"def fn(spark, sf_dir):\n    return 7\n{extra}")
        spec = importlib.util.spec_from_file_location(name, p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.fn

    fn1 = load("m_one", "")
    fn2 = load("m_two", "\nHELPER = 42\n")
    import inspect

    # identical fn bodies...
    assert inspect.getsource(fn1) == inspect.getsource(fn2)
    # ...different module text -> different snapshot
    assert entry_source_hash(Q(fn1, None)) != entry_source_hash(Q(fn2, None))


def test_source_hash_ignores_comment_only_edits(tmp_path):
    """v3 (r12): a # comment or blank-line edit cannot change what the
    driver executes, so it must not flip the snapshot and burn an
    audit slot on a re-prove (ADVICE r11 #2 wanted libm-parity notes
    documented NEXT TO the ppm device — under v2 that documentation
    would have reseated 6 green entries). Docstring edits still trip:
    docstrings are runtime-visible STRING tokens."""
    import importlib.util
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import entry_source_hash

    class Q:
        def __init__(self, fn, oracle):
            self.spark_fn = fn
            self.oracle = oracle

    def load(name, body):
        p = tmp_path / f"{name}.py"
        p.write_text(body)
        spec = importlib.util.spec_from_file_location(name, p)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.fn

    base = "def fn(spark, sf_dir):\n    return 7\n"
    h_base = entry_source_hash(Q(load("v3_base", base), None))
    commented = (
        "# a module comment\n\ndef fn(spark, sf_dir):\n"
        "    # an inline note\n    return 7  # trailing\n\n"
    )
    assert entry_source_hash(Q(load("v3_comm", commented), None)) == h_base
    docstringed = (
        'def fn(spark, sf_dir):\n    """doc"""\n    return 7\n'
    )
    assert entry_source_hash(Q(load("v3_doc", docstringed), None)) != h_base
    recoded = "def fn(spark, sf_dir):\n    return 8\n"
    assert entry_source_hash(Q(load("v3_code", recoded), None)) != h_base


def test_ledger_carries_the_current_hash_version():
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import HASH_VERSION

    path = os.path.join(REPO, "tools", "audit_source_hashes.json")
    with open(path, encoding="utf-8") as f:
        ledger = json.load(f)
    assert ledger.get("__hash_version__") == HASH_VERSION


def test_ledger_covers_every_scheduled_entry():
    """The committed snapshot file must have a hash for every entry in
    the current window (regenerating the schedule updates it)."""
    path = os.path.join(REPO, "tools", "audit_source_hashes.json")
    assert os.path.exists(path), "run tools/audit_rotation.py"
    with open(path, encoding="utf-8") as f:
        ledger = json.load(f)
    missing = [n for n in catalog.AUDIT_SCHEDULE if n not in ledger]
    assert not missing, missing


def test_committed_schedule_matches_regeneration_when_current():
    """Self-maintaining integrity check: whenever the committed
    schedule's clock is CURRENT (no driver evidence postdates it —
    i.e. max CORRECTNESS round on disk == generated_after_round), a
    regeneration must reproduce the committed window exactly. Catches
    'entry registered after the schedule froze' (the r10->r11 red) and
    any hand-edit drift, while staying green the moment the driver's
    next artifact lands (the plausibility test bounds that lag at 1;
    the regenerated schedule then supersedes this one)."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import plan_window

    gen = catalog.AUDIT_SCHEDULE_META["generated_after_round"]
    on_disk = max(_last_rounds().values(), default=0)
    if on_disk != gen:
        import pytest

        pytest.skip(
            f"driver evidence (r{on_disk}) postdates the schedule "
            f"(generated after r{gen}) — the next regeneration "
            "supersedes this window"
        )
    plan = plan_window(update_ledger=False)
    assert plan["pick"] == list(catalog.AUDIT_SCHEDULE), (
        "committed AUDIT_SCHEDULE drifted from regeneration: "
        f"missing={set(plan['pick']) - set(catalog.AUDIT_SCHEDULE)} "
        f"extra={set(catalog.AUDIT_SCHEDULE) - set(plan['pick'])}"
    )


def test_audited_baseline_promotes_only_on_landed_evidence():
    """The two-hash ledger (r11): an entry edited after its last audit
    stays 'changed' through ANY number of within-round regenerations
    (scheduled-hash rewrites), and its baseline advances exactly when
    the driver's evidence for the scheduled window lands."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from audit_rotation import promote_audited_baselines

    ledger = {
        # scheduled into the r11 window (clock 10), not yet audited
        "edited": {"audited": "old", "scheduled": "new", "sched_clock": 10},
        # audited in r11 already (evidence landed)
        "landed": {"audited": "old", "scheduled": "new", "sched_clock": 10},
        # legacy row migrated without a clock: never promotes
        "legacy": {"audited": "h", "scheduled": "h", "sched_clock": None},
    }
    promote_audited_baselines(
        ledger, {"edited": 10, "landed": 11, "legacy": 11}
    )
    assert ledger["edited"]["audited"] == "old"   # still must re-prove
    assert ledger["landed"]["audited"] == "new"   # baseline advanced
    assert ledger["legacy"]["audited"] == "h"
