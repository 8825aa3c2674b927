"""The end-to-end pre-training corpus pipeline — the composition proof
that the catalog's LLM-data operators assemble into the actual job a
100 TB training-data build runs, as ONE lazy DataFrame program:

    quality gate -> exact dedup -> near-dup clustering -> canonical
    survivor -> training-mixture sampling -> train/val/test split
    -> sequence packing into shards

Every stage is the SAME operator the oracle-checked catalog entries
exercise (operators/dedup.py, operators/components.py,
queries/sampling.py), composed here with the stage wiring a real
pipeline needs. The return value is a plain DataFrame that writes
straight to a partitioned sink; construction itself is MOSTLY lazy
but not action-free — connected components iterates with a per-round
count, and the mixture branch collects one row per source (both
bounded, both documented at their call sites).

Scale shape: the gate and pack stages are narrow; dedup shuffles
16-byte digests; the near-dup stage shuffles (band, hash) keys only;
mixture/split are stateless predicates. The one iterative piece
(connected components over near-dup pairs) runs on the PAIR set —
corpus-sized only in the pathological everything-is-a-dup case.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.functions.strings import (
    normalize_ws_lower,
    ws_tokens,
)
from dataengineer_job_scraper_etl_spark.io import read_parquet
from dataengineer_job_scraper_etl_spark.operators.components import (
    connected_components,
)
from dataengineer_job_scraper_etl_spark.operators.dedup import (
    dedup_exact_by_digest,
    minhash_lsh_pairs,
)
from dataengineer_job_scraper_etl_spark.queries.sampling import (
    deterministic_source_sample,
    hash_split,
    mixture_rates,
)


def build_pretraining_corpus(
    docs: DataFrame,
    mixture_weights: dict[str, float] | None = None,
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_diversity_ppm: int = 400_000,
    neardup_threshold: float = 0.5,
    context_tokens: int = 2048,
    clean: bool = False,
    strip_boilerplate: bool = False,
    decontaminate_against: DataFrame | None = None,
    pair_fn: Callable[[DataFrame], DataFrame] | None = None,
    ppl_keep_buckets: int | None = None,
) -> DataFrame:
    """docs(doc_id, source, text, ...) -> one row per SURVIVING doc:
    (doc_id, source, split, shard_id, n_toks). Survivors passed the
    quality gate, are exact- and near-dup cluster canonicals, and were
    kept by the mixture sampler; shard_id packs each (source, split)
    stream into context_tokens-budget shards in doc_id order.

    ``clean=True`` prepends the stage-0 normalization for web-derived
    text (functions/textclean.clean_text: markup/entities, boilerplate
    lines, control chars, whitespace) so the gate, digests, and
    shingles all see the cleaned text. ``strip_boilerplate=True`` adds
    the corpus-wide C4-style span strip (queries/spans.py) after it —
    boilerplate otherwise defeats both dedup layers, since two docs
    identical except for nav chrome are neither exact nor near dups.
    ``decontaminate_against=<eval frame>`` adds eval-set
    decontamination after it (every verbatim >= 8-token benchmark
    overlap deleted from the training text — before the gate measures
    token counts and before digests/shingles, or a contaminated doc
    could survive as its cluster's canonical).
    ``mixture_weights=None`` skips mixture sampling (keep everything
    that survives dedup).
    ``ppl_keep_buckets=K`` adds the CCNet perplexity filter after the
    dedup canonical step: train the interpolated bigram LM
    (queries/lm.bigram_neg_logprob) on the deterministic REFERENCE
    slice of the canonical survivors (doc_id % lm.REF_MOD == 0 — the
    curated-corpus stand-in; training on the scored set itself
    rewards token-unique gibberish, see queries/lm.py), score each
    survivor, and keep only the K most-fluent of the 3 per-source
    terciles (K=2 = CCNet's usual head+middle). Runs after dedup so
    duplicated content can't dominate the LM's counts, and before the
    mixture so dropped-tail docs don't consume mixture budget. Every
    gated doc has >= min_tokens >= 2 tokens, so the scorer's
    no-transition drop rule can't fire here.

    ``pair_fn`` swaps the near-dup candidate generator: given the
    post-exact-dedup frame (doc_id, source, text, n_toks), return
    near-dup pairs as (id_a, id_b). Default is MinHash+LSH at
    ``neardup_threshold`` (the 100 TB path); the oracle-checked
    catalog entry injects the exact n-gram Jaccard generator so the
    WHOLE composition is SQL-checkable (queries/corpusq.py)."""
    base = docs.select("doc_id", "source", "text")
    if clean:
        from dataengineer_job_scraper_etl_spark.functions.textclean import (
            clean_text,
        )

        base = base.withColumn("text", clean_text(F.col("text")))
    if strip_boilerplate:
        # Stage 0.5: corpus-wide boilerplate-span strip (C4 rule).
        # Boilerplate defeats BOTH dedup layers — two docs identical
        # except for different nav chrome are neither exact nor near
        # dups until the chrome is gone — so it runs before digests
        # and shingles are taken. Adds one global span-DF pass.
        from dataengineer_job_scraper_etl_spark.queries.spans import (
            strip_boilerplate_text,
        )

        # stage the (cleaned) source once FIRST: the span machinery
        # fans base out into ~5 subtrees (span DF-count, kept spans,
        # totals, doc count, reassembly join), and without this each
        # re-scans the corpus and re-runs clean_text (review finding)
        base = base.localCheckpoint(eager=False)
        base = strip_boilerplate_text(base)
    if decontaminate_against is not None:
        # Stage 0.7: eval-set decontamination (GPT-3 n-gram collision
        # rule, queries/spans.py::decontaminate_text) — benchmark
        # overlap must be gone BEFORE the gate measures token counts
        # and before digests/shingles are taken, or a contaminated doc
        # can survive as its cluster's canonical. Same fan-out staging
        # rationale as the boilerplate stage (shingle pass + trim
        # join both consume base).
        from dataengineer_job_scraper_etl_spark.queries.spans import (
            decontaminate_text,
        )

        base = base.localCheckpoint(eager=False)
        base = decontaminate_text(base, decontaminate_against)

    # 1. quality gate (same rules as docs_pretrain_filter)
    toks = ws_tokens(F.col("text"))
    sig = base.withColumn("n_toks", F.size(toks)).withColumn(
        "d_toks", F.size(F.array_distinct(toks))
    )
    gated = sig.filter(
        (F.col("n_toks") >= min_tokens)
        & (F.col("n_toks") <= max_tokens)
        & (
            F.expr("d_toks * 1000000 div n_toks") >= min_diversity_ppm
        )
    ).drop("d_toks")
    # Stage the gate's output once: downstream the gated frame fans out
    # into >=3 consumers that each re-execute their subtree (the digest
    # agg, the dedup semi-join, the near-dup sketch, the cluster
    # join-back) — without this the SOURCE TEXT is re-scanned and
    # re-cleaned per branch, 3-4 full corpus scans at 100 TB. The lazy
    # checkpoint is the bronze->silver staging a production pipeline
    # materializes between macro-stages; each stage's internal plan
    # still optimizes end-to-end.
    gated = gated.localCheckpoint(eager=False)

    # 2. exact dedup on the text digest (16-byte shuffle, not bodies)
    exact = dedup_exact_by_digest(gated, text_col="text", id_col="doc_id")

    # 3. near-dup clusters -> keep one canonical per cluster (longest
    #    text, doc_id tiebreak — same decision as docs_dedup_canonical)
    if pair_fn is not None:
        pairs = pair_fn(exact)
    else:
        pairs = minhash_lsh_pairs(exact, "doc_id", "text").filter(
            F.col("est_jaccard") >= neardup_threshold
        )
    cc = connected_components(pairs, src="id_a", dst="id_b")
    clustered = exact.join(
        cc, exact["doc_id"] == cc["node"], "left"
    ).select(
        "doc_id",
        "source",
        "n_toks",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n_toks"), F.asc("doc_id")
    )
    canonical = (
        clustered.withColumn("__keep", F.first("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("__keep"))
        .drop("__keep", "cluster")
    )

    # 3.5 CCNet perplexity filter (optional): LM trained on the dedup
    # canonicals (duplicates would otherwise dominate its counts),
    # tail tercile(s) dropped per source
    if ppl_keep_buckets is not None:
        from dataengineer_job_scraper_etl_spark.queries.lm import (
            REF_MOD,
            bigram_neg_logprob,
        )

        # canonical fans out (LM train/score consumes it via the text
        # join AND the kept filter re-joins it) — stage it once
        canonical = canonical.localCheckpoint(eager=False)
        with_text = canonical.select("doc_id").join(
            gated.select("doc_id", "text"), "doc_id"
        )
        nlp = bigram_neg_logprob(
            with_text,
            reference=with_text.filter(F.col("doc_id") % REF_MOD == 0),
        ).select("doc_id", "avg_neg_logprob")
        ppl_w = Window.partitionBy("source").orderBy(
            "avg_neg_logprob", "doc_id"
        )
        canonical = (
            canonical.join(nlp, "doc_id")
            .withColumn("__ppl_b", F.ntile(3).over(ppl_w))
            .filter(F.col("__ppl_b") <= ppl_keep_buckets)
            .drop("__ppl_b", "avg_neg_logprob")
        )

    # 4. training mixture (optional): scarcest source bounds the total
    if mixture_weights is not None:
        # the mixture dimension needs an ACTION over the full dedup/
        # cluster/canonical pipeline; stage its output so the caller's
        # eventual action re-reads these rows instead of re-running
        # dedup + clustering a second time (review finding)
        canonical = canonical.localCheckpoint(eager=False)
        counts = {
            r["source"]: r["n"]
            for r in canonical.groupBy("source")
            .agg(F.count("*").alias("n"))
            .collect()  # bounded: one row per source (the mixture dim)
        }
        rates = mixture_rates(counts, mixture_weights)
        canonical = deterministic_source_sample(canonical, rates)

    # 5. leakage-free split + 6. pack per (source, split) stream
    split = hash_split(canonical, "doc_id")
    pack_w = (
        Window.partitionBy("source", "split")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = F.coalesce(F.sum("n_toks").over(pack_w), F.lit(0))
    return split.withColumn(
        "shard_id", (off / context_tokens).cast("bigint")
    ).select("doc_id", "source", "split", "shard_id", "n_toks")


def write_pretraining_corpus(
    spark: SparkSession,
    docs: DataFrame,
    path: str,
    **kwargs,
) -> int:
    """Materialize the pipeline partitioned by (split, source) — the
    layout shard consumers scan — and return the surviving doc count."""
    out = build_pretraining_corpus(docs, **kwargs)
    out.write.mode("overwrite").partitionBy("split", "source").parquet(path)
    return read_parquet(spark, path).count()


def incremental_intake(
    batch: DataFrame,
    corpus: DataFrame,
    eval_docs: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 90,
    min_diversity_ppm: int = 400_000,
    pair_fn: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """The NIGHTLY-INTAKE twin of build_pretraining_corpus: classify
    and clean an ARRIVING batch against a FROZEN corpus without ever
    reprocessing corpus text — the composition of the engine's
    incremental layers in production stage order:

        1. exact-dup classification (16-byte digest semi-join against
           the corpus digest index — cheapest first),
        2. near-dup classification of the remainder against the
           corpus on the RAW normalized text (``pair_fn(batch,
           corpus)`` swaps the generator — the oracle entry injects
           exact Jaccard, production uses MinHash+LSH cross pairs).
           DEDUP BEFORE TRIMS, deliberately: the ExactSubstr stage
           removes exactly the cross-corpus shared content, so a
           near-duplicate trimmed first would no longer LOOK like a
           near-duplicate — and a doc the intake is discarding should
           never pay the trim stages anyway,
        3. eval-set decontamination trim of the survivors
           (queries/spans.py — benchmark text must never enter),
        4. ExactSubstr ingest trim against the corpus shingle-digest
           index (batch-proportional; provably equal to a full
           corpus-wide recount restricted to the batch),
        5. quality gate on the CLEANED text (same rules as the batch
           pipeline's stage 1 — trims first, or token counts gate the
           wrong text).

    Returns ONE row per batch doc: (doc_id, status, removed_decon,
    removed_exsub, n_toks, cleaned) with status in {exact_dup,
    near_dup, gated_out, new}; dup classifications report the raw
    normalized text (they are dropped before the trim stages),
    everything else the fully-trimmed text. Every stage shuffles
    digests or bounded candidate keys, never corpus bodies; per-batch
    cost is batch-proportional against materialized-once indexes."""
    from dataengineer_job_scraper_etl_spark.queries.spans import (
        decontaminate_trim,
        exact_substring_index,
        exact_substring_ingest_trim,
    )

    norm = normalize_ws_lower(F.col("text"))
    b_norm = batch.select("doc_id", norm.alias("text")).localCheckpoint(
        eager=False
    )  # staged once: digest classify, near-dup posting, decon shingles
    raw_cols = [
        F.lit(0).cast("long").alias("removed_decon"),
        F.lit(0).cast("long").alias("removed_exsub"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"),
        F.col("text").alias("cleaned"),
    ]
    idx_dg = corpus.select(F.md5(norm).alias("__dg")).distinct()
    b_dg = b_norm.withColumn("__dg", F.md5(F.col("text")))
    exact = b_dg.join(idx_dg, "__dg", "left_semi").select(
        "doc_id", F.lit("exact_dup").alias("status"), *raw_cols
    )
    surv0 = b_dg.join(idx_dg, "__dg", "left_anti").drop("__dg")

    if pair_fn is None:
        from dataengineer_job_scraper_etl_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        def pair_fn(b, c):  # cross-side MinHash+LSH (the 100 TB path)
            both = b.unionByName(c.select("doc_id", "text"))
            cand = minhash_lsh_pairs(both, "doc_id", "text").filter(
                F.col("est_jaccard") >= 0.5
            )
            bid = b.select(F.col("doc_id").alias("__bid"))
            cid = c.select(F.col("doc_id").alias("__iid"))
            ab = cand.join(
                bid, cand["id_a"] == bid["__bid"], "left_semi"
            ).join(cid, cand["id_b"] == cid["__iid"], "left_semi")
            ba = cand.join(
                cid, cand["id_a"] == cid["__iid"], "left_semi"
            ).join(bid, cand["id_b"] == bid["__bid"], "left_semi")
            return ab.select("id_a", "id_b").unionByName(
                ba.select(
                    F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                )
            )

    near_ids = (
        pair_fn(surv0, corpus)
        .select(F.col("id_a").alias("doc_id"))
        .distinct()
    )
    near = surv0.join(near_ids, "doc_id", "left_semi").select(
        "doc_id", F.lit("near_dup").alias("status"), *raw_cols
    )
    survivors = surv0.join(near_ids, "doc_id", "left_anti")

    dec = decontaminate_trim(survivors, eval_docs).select(
        "doc_id",
        F.col("removed_toks").alias("removed_decon"),
        F.col("cleaned").alias("text"),
    ).localCheckpoint(eager=False)  # staged: exsub shingles + rejoin

    sidx = exact_substring_index(corpus)
    ex = exact_substring_ingest_trim(dec, sidx).select(
        "doc_id",
        F.col("removed_toks").alias("removed_exsub"),
        F.col("cleaned"),
    )
    joined = ex.join(dec.select("doc_id", "removed_decon"), "doc_id")

    toks = F.split(F.col("cleaned"), " ")
    gs = joined.select(
        "doc_id",
        "removed_decon",
        "removed_exsub",
        "cleaned",
        F.size(toks).cast("long").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("long").alias("d_toks"),
    )
    gate_ok = (
        (F.col("n_toks") >= min_tokens)
        & (F.col("n_toks") <= max_tokens)
        & (F.expr("d_toks * 1000000 div n_toks") >= min_diversity_ppm)
    )
    rest = gs.select(
        "doc_id",
        F.when(~gate_ok, "gated_out").otherwise("new").alias("status"),
        "removed_decon",
        "removed_exsub",
        "n_toks",
        "cleaned",
    )
    return exact.unionByName(near).unionByName(rest)
