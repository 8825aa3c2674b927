"""Property tests for the LLM-pipeline operators in
queries/pipeline_ops.py (the oracle harness pins exact values; these
pin the semantic invariants that survive data changes)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
    docs_pack_sequences,
    docs_pretrain_filter,
    events_funnel_conversion,
    events_hourly_daily_rollup,
    events_purchase_views_within_15m,
    text_bpe_token_count,
)
from dataengineer_job_scraper_etl_spark.queries.events import _events


def test_bpe_pieces_at_least_words(spark, sf_dir):
    # A BPE-ish split can only refine whitespace tokens, never merge
    # them, so the ppm ratio is >= 1,000,000 for every source.
    rows = text_bpe_token_count(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["pieces_per_word_ppm"] >= 1_000_000
        assert r["total_pieces"] >= r["n_docs"]


def test_freq_items_contract_builds_lazily(spark, sf_dir):
    # catalog contract: spark_fn is lazy until the driver acts. The
    # freqItems sketch used to be collected eagerly at plan-build time;
    # Spark 4 compiles df.stat.freqItems to the lazy
    # collect_frequent_items aggregate, so building now costs at most
    # the parquet-footer/schema job every spark.read.parquet pays —
    # the sketch aggregation itself must NOT run at build time.
    from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
        agg_freq_items_contract,
    )

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = agg_freq_items_contract(spark, sf_dir)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after - before <= 1, "builder ran more than the footer read"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the sketch is an in-plan aggregate, not a pre-materialized result
    assert "collect_frequent_items" in plan
    row = df.first()  # and the contract itself still holds
    assert row["sketch_covers_exact"] is True
    assert row["n_exact_frequent"] >= 1


def test_pretrain_filter_verdicts_partition_the_corpus(spark, sf_dir):
    out = docs_pretrain_filter(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    counts = {
        r["verdict"]: r["n"]
        for r in out.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == n_docs  # every doc gets one verdict
    assert set(counts) <= {"kept", "too_short", "too_long", "low_diversity"}
    assert counts.get("kept", 0) > 0


def test_pack_sequences_conserves_tokens_and_orders_shards(spark, sf_dir):
    shards = docs_pack_sequences(spark, sf_dir).collect()
    by_source: dict[str, list] = {}
    for r in shards:
        by_source.setdefault(r["source"], []).append(r)
    for source, rows in by_source.items():
        ids = sorted(r["shard_id"] for r in rows)
        # Shard ids start at 0; a shard only exists if some doc's
        # start offset fell inside it, so ids are unique.
        assert ids[0] == 0
        assert len(set(ids)) == len(ids)
        # Offset arithmetic: tokens before shard k fill k windows, so
        # every shard except possibly the last must carry enough
        # tokens to reach the next shard's start.
        total = sum(r["shard_tokens"] for r in rows)
        assert total >= (ids[-1]) * 2048 - 2048  # sanity lower bound
    # Conservation: shard tokens sum to the corpus token count.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.size(
        F.split(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), " "
        )
    )
    corpus_total = docs.agg(F.sum(toks)).collect()[0][0]
    assert sum(r["shard_tokens"] for r in shards) == corpus_total


def test_funnel_stages_are_monotone(spark, sf_dir):
    row = events_funnel_conversion(spark, sf_dir).collect()[0]
    assert (
        row["users_viewed"]
        >= row["users_clicked_after_view"]
        >= row["users_purchased_after_click"]
        >= 0
    )


def test_range_join_keeps_every_purchase(spark, sf_dir):
    out = events_purchase_views_within_15m(spark, sf_dir)
    e = _events(spark, sf_dir)
    n_purchases = e.filter(F.col("event_type") == "purchase").count()
    rows = out.collect()
    assert len(rows) == n_purchases  # left join: no purchase dropped
    assert all(r["n_views_15m"] >= 0 for r in rows)


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
        CHUNK_SIZE,
        CHUNK_STRIDE,
        docs_chunk_sliding_udtf,
    )

    chunks = docs_chunk_sliding_udtf(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    import re

    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        toks = re.sub(r"\s+", " ", docs[doc_id]).strip().split(" ")
        rows.sort(key=lambda r: r["chunk_no"])
        # chunk_no contiguous from 0; reassembling the stride-heads of
        # every chunk plus the tail of the last reproduces the doc.
        assert [r["chunk_no"] for r in rows] == list(range(len(rows)))
        rebuilt: list[str] = []
        for r in rows[:-1]:
            rebuilt.extend(r["chunk"].split(" ")[:CHUNK_STRIDE])
        rebuilt.extend(rows[-1]["chunk"].split(" "))
        assert rebuilt == toks
        assert all(
            len(r["chunk"].split(" ")) <= CHUNK_SIZE for r in rows
        )


def test_chunking_udtf_matches_oracle_on_null_and_empty_text(spark, tmp_path):
    """A NULL text yields no chunk (DuckDB's string_split is NULL and
    unnests to nothing); an empty text yields one '' chunk on both
    engines. The fixtures hold no NULL text, so only this pins it."""
    import duckdb

    from dataengineer_job_scraper_etl_spark.catalog import all_queries
    from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
        docs_chunk_sliding_udtf,
    )

    path = f"{tmp_path}/documents.parquet"
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM (VALUES (1::BIGINT, NULL::VARCHAR), "
        "(2, ''), (3, '  two   words ')) AS t(doc_id, text)) "
        f"TO '{path}' (FORMAT PARQUET)"
    )
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    oracle = con.execute(
        all_queries()["docs_chunk_sliding_udtf"].oracle
    ).fetchall()
    got = [
        tuple(r)
        for r in docs_chunk_sliding_udtf(spark, str(tmp_path)).collect()
    ]
    assert sorted(got) == sorted(oracle) == [(2, 0, ""), (3, 0, "two words")]


def test_zscore_native_equals_grouped_udf(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
        events_user_zscore,
        events_user_zscore_grouped_udf,
    )

    native = {
        r["event_id"]: r["z_e4"]
        for r in events_user_zscore(spark, sf_dir).collect()
    }
    udf = {
        r["event_id"]: r["z_e4"]
        for r in events_user_zscore_grouped_udf(spark, sf_dir).collect()
    }
    assert native == udf  # bit-identical integer scores, incl. nulls


def test_dedup_canonical_keeps_exactly_one_per_cluster(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.text import (
        docs_dedup_canonical,
    )

    rows = docs_dedup_canonical(spark, sf_dir).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cluster, members in by_cluster.items():
        kept = {r["kept_doc"] for r in members}
        assert len(kept) == 1  # one survivor per cluster
        assert kept.pop() in {r["doc_id"] for r in members}
        assert sum(r["is_kept"] for r in members) == 1


def test_cluster_safe_split_never_straddles_pairs(spark, sf_dir):
    # The leakage property the entry exists for: every near-dup pair's
    # two docs land in the SAME split (split is a function of the
    # shared cluster id), and the per-split doc counts partition the
    # bounded corpus.
    from dataengineer_job_scraper_etl_spark.operators.components import (
        connected_components,
    )
    from dataengineer_job_scraper_etl_spark.queries.sampling import hash_split
    from dataengineer_job_scraper_etl_spark.queries.text import (
        _jaccard_pairs,
        docs_cluster_safe_split,
    )

    pairs = _jaccard_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    split_of = {
        r["node"]: r["split"]
        for r in hash_split(
            cc.select("node", F.col("component").alias("cluster")), "cluster"
        ).collect()
    }
    straddled = [
        (r["doc_a"], r["doc_b"])
        for r in pairs.collect()
        if split_of[r["doc_a"]] != split_of[r["doc_b"]]
    ]
    assert straddled == []

    agg = docs_cluster_safe_split(spark, sf_dir).collect()
    n_docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .count()
    )
    assert sum(r["n_docs"] for r in agg) == n_docs
    for r in agg:
        assert r["n_docs"] >= r["n_clusters"] >= 1


def test_gapfill_spine_is_dense_and_locf_carries(spark, sf_dir):
    from dataengineer_job_scraper_etl_spark.queries.pipeline_ops import (
        events_user_daily_gapfill,
    )

    rows = events_user_daily_gapfill(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    n_days = {len(v) for v in by_user.values()}
    assert len(n_days) == 1  # every user gets the SAME dense day spine
    for user_rows in by_user.values():
        user_rows.sort(key=lambda r: r["day"])
        seen_value = None
        for r in user_rows:
            if r["n_events"] > 0:
                seen_value = r["locf_day_cents"]
                assert seen_value is not None
            else:
                # inactive day: carries the last active day's value
                # (null only before the user's first activity)
                assert r["locf_day_cents"] == seen_value


def test_rollup_matches_direct_daily_aggregation(spark, sf_dir):
    rolled = {
        r["day"]: (r["n"], r["total_cents"])
        for r in events_hourly_daily_rollup(spark, sf_dir).collect()
    }
    e = _events(spark, sf_dir)
    direct = {
        r["day"]: (r["n"], r["total_cents"])
        for r in e.select(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
        .collect()
    }
    assert rolled == direct
