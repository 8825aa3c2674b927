"""The trained-artifact store (operators/index_store.py): artifacts are
keyed by (name, training params, training-frame fingerprint), so a
rewritten file or a different slice of one corpus trains its own
artifact, and every catalog entry that trains something serves its
second call from the store without training again. (Training params
in the key are pinned per trainer: tests/test_pca.py,
tests/test_quality_model.py.)"""

from __future__ import annotations

import importlib
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dataengineer_job_scraper_etl_spark.operators import index_store
from dataengineer_job_scraper_etl_spark.operators.pca import pca_top_component
from dataengineer_job_scraper_etl_spark.operators.similarity import pq_train

DIM = 4


def _write_vectors(path, rows):
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in rows], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in rows], pa.list_(pa.float64())
                ),
            }
        ),
        path,
    )


def _planted(n, scale):
    return [
        (i, [scale * (i % 7) + j * (i % 3) for j in range(DIM)])
        for i in range(n)
    ]


def test_fingerprint_is_stable_across_reads_and_splits_on_slices(
    spark, sf_dir
):
    def read():
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )

    a, b = read(), read()
    assert index_store.fingerprint(a) == index_store.fingerprint(b)
    lo = index_store.fingerprint(a.filter(F.col("vec_id") % 10 < 8))
    assert lo == index_store.fingerprint(b.filter(F.col("vec_id") % 10 < 8))
    assert lo != index_store.fingerprint(a.filter(F.col("vec_id") % 10 < 7))
    # every checkpoint is a new plan: fingerprint BEFORE staging
    assert index_store.fingerprint(
        a.localCheckpoint(eager=False)
    ) != index_store.fingerprint(a.localCheckpoint(eager=False))


def test_rewritten_file_under_the_same_path_retrains(spark, tmp_path):
    path = str(tmp_path / "emb.parquet")
    _write_vectors(path, _planted(40, 1.0))
    index_store.clear()
    first = pca_top_component(spark.read.parquet(path), "embedding", DIM)
    # a fresh read of the unchanged file is a store hit
    assert pca_top_component(
        spark.read.parquet(path), "embedding", DIM
    ) == first
    assert len(index_store._STORE) == 1
    # same path, same plan, new contents: length/mtime change the key
    _write_vectors(path, _planted(60, 3.0))
    again = pca_top_component(spark.read.parquet(path), "embedding", DIM)
    assert again[0] == 60 and again != first
    assert len(index_store._STORE) == 2
    index_store.clear()


def test_two_slices_of_one_corpus_train_their_own_codebooks(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    index_store.clear()
    lo = pq_train(e.filter(F.col("vec_id") % 2 == 0), "embedding", 64)
    hi = pq_train(e.filter(F.col("vec_id") % 2 == 1), "embedding", 64)
    assert lo != hi
    assert len(index_store._STORE) == 2
    index_store.clear()


def test_dataframe_artifacts_die_with_their_context(spark, monkeypatch):
    """An artifact holding a DataFrame is retrained once the context
    that built it is stopped; plain artifacts are never dropped."""
    dead = SimpleNamespace(
        sparkSession=SimpleNamespace(_sc=SimpleNamespace(_jsc=None))
    )
    assert index_store._alive(spark.range(1))
    assert not index_store._alive(dead)
    index_store.clear()
    df = index_store.get_or_train("coded", ("fp",), (), lambda: spark.range(3))
    w = index_store.get_or_train("weights", ("fp",), (), lambda: [1.0])
    assert index_store.get_or_train("coded", ("fp",), (), lambda: 0) is df
    monkeypatch.setattr(index_store, "_alive", lambda _df: False)
    assert index_store.get_or_train("coded", ("fp",), (), lambda: 0) == 0
    assert index_store.get_or_train("weights", ("fp",), (), lambda: 0) is w
    index_store.clear()


# Every catalog entry whose plan reaches the store: ANN indexes,
# frozen k-means, PCA and the PC1 drift monitors, quality weights.
STORE_ENTRIES = (
    "ann_recall_ivf",
    "ann_ivf_topk",
    "ann_recall_ivfpq",
    "ann_ivfpq_topk",
    "ann_recall_pq_adc",
    "ann_recall_opq",
    "ann_opq_vs_pq_gain",
    "ann_opq_anisotropic_gain",
    "ann_ivf_probe_tradeoff",
    "vec_semdedup_incremental",
    "streaming_semdedup_ingest",
    "streaming_topic_assignment",
    "vec_pca_pc1_scores",
    "vec_pca_top2_scores",
    "vec_pca_grid_sample",
    "vec_pc1_drift_psi",
    "vec_drift_retrain_refreeze",
    "streaming_pc1_drift_monitor",
    "docs_quality_logreg_weights",
    "docs_quality_logreg_converged",
    "docs_quality_logreg_scores",
)

# (module, attribute): every trainer the store wraps, as bound in each
# module that calls it
_TRAINERS = (
    ("operators.similarity", "_kmeans_rounds"),
    ("operators.similarity", "pq_encode"),
    ("operators.opq", "pq_encode"),
    ("operators.pca", "gram_triplets"),
    ("operators.opq", "gram_triplets"),
    ("queries.quality_model", "_logreg_gd"),
    ("queries.quality_model", "_logreg_momentum_gd"),
)


def _rows(df):
    return sorted(map(repr, df.collect()))


@pytest.mark.parametrize("name", STORE_ENTRIES)
def test_second_call_is_served_from_the_store(
    spark, sf_dir, monkeypatch, name
):
    from dataengineer_job_scraper_etl_spark.catalog import all_queries

    fn = all_queries()[name].spark_fn
    first = _rows(fn(spark, sf_dir))
    size = len(index_store._STORE)
    assert size > 0

    def poisoned(*_a, **_k):
        raise AssertionError(f"{name}: second call trained again")

    # import every module BEFORE patching, so no module is first
    # imported with a poisoned name bound
    mods = [
        (importlib.import_module(f"dataengineer_job_scraper_etl_spark.{m}"), a)
        for m, a in _TRAINERS
    ]
    for m, attr in mods:
        monkeypatch.setattr(m, attr, poisoned)
    assert _rows(fn(spark, sf_dir)) == first
    assert len(index_store._STORE) == size
