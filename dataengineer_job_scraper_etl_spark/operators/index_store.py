"""The trained-artifact store: the one home for everything an operator
trains once and serves many times — IVF centroids, PQ codebooks,
encoded corpora, OPQ rotations, PCA components, PC1 drift monitors and
quality-model weights.

An artifact is keyed by (name, every training parameter, fingerprint
of the training frame). The fingerprint is the analyzed plan's
``semanticHash`` plus each input file's path, length and modification
time, so a different corpus, a different slice of one corpus, or a
file rewritten under the same path each get their own key. Nothing is
invalidated by hand, and a hit is bit-identical to retraining because
training is deterministic in exactly what the key names (reuse is
only sound when keyed by what was actually computed on — Incremental
Top-K Similarity Search in Interactive Sessions, EDBT 2020).

Take the fingerprint ONCE, at the public operator's entry, from the
caller's frame and before any ``localCheckpoint``: every checkpoint is
a fresh RDD with its own ``semanticHash``, so a fingerprint taken
after staging would never hit. Internal artifacts of one operator
(coarse centroids, codebooks, the encoded corpus) key on that one
fingerprint.

Artifacts are plain Python values, except encoded corpora, which are
checkpointed DataFrames bound to the SparkContext that built them: an
entry holding a DataFrame is dropped and retrained once that context
is stopped.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame

from dataengineer_job_scraper_etl_spark.io import file_stamps

T = TypeVar("T")

_STORE: dict[tuple, object] = {}


def fingerprint(df: DataFrame) -> tuple:
    """(plan semanticHash, ((path, length, mtime), ...)) of ``df``."""
    return (df.semanticHash(), file_stamps(df.sparkSession, df.inputFiles()))


def _alive(df: DataFrame) -> bool:
    try:
        return not df.sparkSession._sc._jsc.sc().isStopped()
    except Exception:  # noqa: BLE001 — any introspection failure = dead
        return False


def get_or_train(
    name: str, fp: tuple, params: tuple, train: Callable[[], T]
) -> T:
    """The artifact stored under (name, params, fp), training it with
    ``train()`` on a miss. Concurrent misses on one key (e.g. a
    foreachBatch thread) may both train; the results are equivalent
    and the last one is kept."""
    key = (name, params, fp)
    art = _STORE.get(key)
    if art is None or (isinstance(art, DataFrame) and not _alive(art)):
        art = _STORE[key] = train()
    return art


def clear() -> None:
    """Drop every stored artifact."""
    _STORE.clear()
