"""The drift -> retrain -> re-freeze lifecycle (queries/pca.py:
serve_and_maybe_retrain): a planted-shift queue drives the monitor
through detect (PSI vs frozen deciles), retrain trigger, and re-freeze
(new monitor stable on the shifted distribution), with the old monitor
serving untouched until the swap. Every trained artifact is keyed by
its training frame's fingerprint, so the shifted rows get their own
entries and nothing is invalidated by hand."""

from __future__ import annotations

import copy

from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.queries.pca import (
    PSI_RETRAIN_THRESHOLD_PPM,
    monitor_psi_ppm,
    serve_and_maybe_retrain,
    train_pc1_monitor,
)


def _ref(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 10 < 8)
    )


def _cur(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("vec_id") % 10 >= 8)
    )


def _shift_along_pc1(df, v, scale=3.0):
    """Planted shift: translate every vector by scale * PC1 loading —
    moves every frozen-monitor score by ~scale (score std is ~0.15 on
    the fixture), pushing the whole batch into the top bucket."""
    lits = F.array(*[F.lit(float(x) * scale) for x in v])
    return df.select(
        "vec_id",
        F.zip_with(
            F.col("embedding").cast("array<double>"),
            lits,
            lambda x, c: x + c,
        ).alias("embedding"),
    )


def test_planted_shift_queue_detect_retrain_refreeze(spark, sf_dir):
    monitor = train_pc1_monitor(_ref(spark, sf_dir))
    snapshot = copy.deepcopy(monitor)

    # --- batch 1: in-distribution -> serve, no retrain ---
    b1 = _cur(spark, sf_dir)
    served, psi1, retrained = serve_and_maybe_retrain(
        monitor, b1, new_ref_rows=b1
    )
    assert not retrained
    assert served is monitor  # same frozen object keeps serving
    assert psi1 <= PSI_RETRAIN_THRESHOLD_PPM

    # --- batch 2: planted shift -> detect + retrain + re-freeze ---
    v = monitor[1]
    b2 = _shift_along_pc1(_cur(spark, sf_dir), v)
    fresh, psi2, retrained = serve_and_maybe_retrain(
        monitor, b2, new_ref_rows=b2
    )
    assert retrained
    assert psi2 > PSI_RETRAIN_THRESHOLD_PPM
    # the old monitor served the detecting batch and was never torn:
    assert monitor == snapshot
    # the new monitor is a re-freeze on the shifted rows' own key, not
    # a mutation of the old one — which still serves its own slice
    assert fresh is not monitor
    assert fresh[2] != monitor[2]  # new decile edges
    assert train_pc1_monitor(b2) is fresh
    assert train_pc1_monitor(_ref(spark, sf_dir)) is monitor

    # --- batch 3: post-swap serving — the shifted distribution is the
    # new normal, PSI against the re-frozen monitor is back under the
    # bar and no further retrain fires ---
    served3, psi3, retrained3 = serve_and_maybe_retrain(
        fresh, b2, new_ref_rows=b2
    )
    assert not retrained3
    assert served3 is fresh
    assert psi3 <= PSI_RETRAIN_THRESHOLD_PPM


def test_retrain_never_serves_stale_ann_indexes(spark, sf_dir):
    """After a drift-triggered retrain, ANN index artifacts trained on
    the pre-shift corpus (IVF centroids / PQ codebooks / OPQ
    rotations) must never serve the shifted rows — serving them
    degrades recall silently. The shifted frame has its own
    fingerprint, so it trains its own index; the unchanged reference
    corpus keeps serving its own (no needless eviction)."""
    from dataengineer_job_scraper_etl_spark.operators.opq import opq_train

    ref = _ref(spark, sf_dir)
    rot_ref = opq_train(ref, "embedding", 64, m=8)

    monitor = train_pc1_monitor(ref)
    b = _shift_along_pc1(_cur(spark, sf_dir), monitor[1])
    _, _, retrained = serve_and_maybe_retrain(monitor, b, new_ref_rows=b)
    assert retrained
    rot_b = opq_train(b, "embedding", 64, m=8)
    assert rot_b is not rot_ref and rot_b != rot_ref
    assert opq_train(ref, "embedding", 64, m=8) is rot_ref


def test_streaming_lifecycle_detect_retrain_refreeze(spark, sf_dir, tmp_path):
    """VERDICT r8 ask #6: the lifecycle composed with a LIVE
    micro-batch stream. A 3-file queue (in-distribution, planted
    shift, shifted again) drains through foreachBatch with
    maxFilesPerTrigger=1: batch 0 serves clean, batch 1 breaches PSI
    and triggers retrain + re-freeze on its own rows, batch 2 is
    served by the SWAPPED monitor and stays under the bar — proving
    the re-frozen monitor, not the stale one, serves subsequent
    batches."""
    from dataengineer_job_scraper_etl_spark.streaming.jobs import (
        streaming_drift_lifecycle,
    )

    ref = _ref(spark, sf_dir)
    monitor = train_pc1_monitor(ref)

    # stage the ordered queue: lexicographic file order = batch order
    cur = _cur(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    shifted = _shift_along_pc1(_cur(spark, sf_dir), monitor[1])
    qdir = str(tmp_path / "queue")
    cur.coalesce(1).write.parquet(qdir + "/b0")
    shifted.coalesce(1).write.parquet(qdir + "/b1")
    shifted.coalesce(1).write.parquet(qdir + "/b2")

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(qdir)
    )
    history, final = streaming_drift_lifecycle(
        stream,
        monitor,
        checkpoint=str(tmp_path / "cp"),
    )

    assert [h["retrained"] for h in history] == [False, True, False]
    assert history[0]["psi_ppm"] <= PSI_RETRAIN_THRESHOLD_PPM
    assert history[1]["psi_ppm"] > PSI_RETRAIN_THRESHOLD_PPM
    # post-swap: the re-frozen monitor serves batch 2 under the bar
    assert history[2]["psi_ppm"] <= PSI_RETRAIN_THRESHOLD_PPM
    assert final is not monitor
    # the reference slice's monitor is still the stored one: the
    # in-stream retrain keyed its re-freeze on the detecting batch
    assert train_pc1_monitor(ref) is monitor


def test_refreeze_entry_statistics_and_branch_agree(spark, sf_dir):
    """The oracle entry (vec_drift_retrain_refreeze) hashes the
    SUM-OF-FLOORS ppm statistic and branches on it; the lifecycle
    helper decides on FLOOR-OF-SUM. The two differ by at most
    n_buckets ppm, so they must sit on the same side of the 200k
    threshold on the fixture — pin that, plus: the served edges after
    a breach are the v2 monitor's (not v1's), and a NO-shift slice
    keeps the v1 monitor (the entry's CASE would then emit v1 edges)."""
    from dataengineer_job_scraper_etl_spark.queries.pca import (
        _SHIFT,
        vec_drift_retrain_refreeze,
    )

    ref = _ref(spark, sf_dir)
    mon1 = train_pc1_monitor(ref)

    # no shift -> no retrain -> serving IS mon1
    serving, psi, retrained = serve_and_maybe_retrain(
        mon1, _cur(spark, sf_dir), new_ref_rows=_cur(spark, sf_dir)
    )
    assert not retrained and serving is mon1

    # planted +_SHIFT -> retrain -> new monitor trained on the shift
    shifted = _cur(spark, sf_dir).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: x + F.lit(_SHIFT),
        ).alias("embedding"),
    )
    serving2, psi2, retrained2 = serve_and_maybe_retrain(
        mon1, shifted, new_ref_rows=shifted
    )
    assert retrained2 and serving2 is not mon1
    assert psi2 > PSI_RETRAIN_THRESHOLD_PPM

    # the registered entry's hashed rows agree with the lifecycle run
    rows = vec_drift_retrain_refreeze(spark, sf_dir).collect()
    assert len(rows) == 9
    assert all(r["retrained"] == 1 for r in rows)
    got_edges = [r["edge"] for r in sorted(rows, key=lambda r: r["k"])]
    assert got_edges == [float(e) for e in serving2[2]]
    # sum-of-floors vs floor-of-sum: within n_buckets ppm, same side
    hashed_psi = rows[0]["psi_ppm"]
    assert abs(hashed_psi - psi2) <= 10
    assert (hashed_psi > PSI_RETRAIN_THRESHOLD_PPM) == retrained2
