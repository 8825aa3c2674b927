"""Multimodal columns (north star, SURVEY §2.10): image/audio/video as
opaque ``binary`` payloads + typed metadata struct (schemas.
MULTIMODAL_ASSET), with decode / feature-extract / resize / frame-
sample as Arrow-batched ``mapInPandas`` stages.

The decode step itself is STUBBED — this image has no codec libraries
(PIL/ffmpeg) — behind ``decoder=`` injection: the default
``fake_decoder`` is deterministic (derived from the payload bytes) so
the Spark-side plumbing (schema, batch shape, partitioning, null
handling) is fully real and tested; a real deployment injects a
Pillow/ffmpeg-backed decoder with the identical signature.

Scale notes: payloads never enter a shuffle — every stage is a narrow
mapInPandas; metadata-only plans (counts, size stats) prune the binary
column at the parquet scan (ReadSchema excludes ``payload``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineer_job_scraper_etl_spark.io import read_parquet

# decoder: payload bytes -> dict of extracted features, or None on
# undecodable input (nulls propagate, matching the reference's
# fetch-failure -> null convention).
Decoder = Callable[[bytes], dict | None]

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("feat_dim", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
        T.StructField("decode_ok", T.BooleanType()),
    ]
)


def fake_decoder(payload: bytes) -> dict | None:
    """Deterministic stand-in decoder: 8 float features derived from a
    sha256 of the payload. Real decode (PIL.Image.open / av frame
    sampling) is NOT available in this image."""
    if payload is None or len(payload) == 0:
        return None
    digest = hashlib.sha256(payload).digest()
    feats = [b / 255.0 for b in digest[:8]]
    return {"features": feats, "feat_dim": 8}


def real_decoder_unavailable(payload: bytes) -> dict | None:
    """Marker for the real decode path; raises until a codec-capable
    environment injects an implementation."""
    raise NotImplementedError(
        "image/audio decode requires PIL/ffmpeg, absent from this environment; "
        "inject a Decoder with the same signature"
    )


def documents_as_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a multimodal asset table from the documents fixture: text
    payload as utf-8 bytes + metadata struct. Stands in for an
    image/audio corpus with identical plumbing."""
    d = read_parquet(spark, f"{sf_dir}/documents.parquet")
    payload = F.encode(F.col("text"), "utf-8")
    return d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(
    assets: DataFrame, decoder: Decoder = fake_decoder
) -> DataFrame:
    """Decode/feature-extract stage: narrow mapInPandas over (asset_id,
    modality, payload); per-batch loop, decoder failures -> decode_ok
    false with null features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples(index=False):
                try:
                    out = decoder(r.payload)
                except NotImplementedError:
                    raise
                except Exception:
                    out = None
                rows.append(
                    {
                        "asset_id": r.asset_id,
                        "modality": r.modality,
                        "feat_dim": out["feat_dim"] if out else None,
                        "features": out["features"] if out else None,
                        "decode_ok": out is not None,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "asset_id",
                    "modality",
                    "feat_dim",
                    "features",
                    "decode_ok",
                ],
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        run, FEATURE_SCHEMA
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resize_ok", T.BooleanType()),
    ]
)

# resizer: (payload, width, height) -> resized payload bytes or None.
Resizer = Callable[[bytes, int, int], "bytes | None"]


def fake_resizer(payload: bytes, width: int, height: int) -> bytes | None:
    """Deterministic stand-in for PIL's Image.resize: clamp/cycle the
    payload to width*height bytes. Real codec absent from this image;
    inject a Pillow-backed Resizer with the same signature."""
    if payload is None or len(payload) == 0:
        return None
    n = width * height
    reps = (n // len(payload)) + 1
    return (bytes(payload) * reps)[:n]


def resize_assets(
    assets: DataFrame, width: int, height: int, resizer: Resizer = fake_resizer
) -> DataFrame:
    """Resize stage: narrow mapInPandas, 1 row in -> 1 row out, meta
    width/height updated; failures -> resize_ok false, payload null."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples(index=False):
                try:
                    out = resizer(r.payload, width, height)
                except NotImplementedError:
                    raise
                except Exception:
                    out = None
                rows.append(
                    {
                        "asset_id": r.asset_id,
                        "modality": r.modality,
                        "payload": out,
                        "width": width if out is not None else None,
                        "height": height if out is not None else None,
                        "resize_ok": out is not None,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["asset_id", "modality", "payload", "width",
                         "height", "resize_ok"],
            )

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        run, RESIZED_SCHEMA
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    assets: DataFrame, frame_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """Frame-sampling stage: 1 asset row -> N frame rows (the flatMap
    shape a video pipeline needs), still a narrow mapInPandas — no
    shuffle, frames inherit the asset's partition. The fake 'codec'
    chunks the payload into fixed-size frames; a real deployment swaps
    in an av/ffmpeg keyframe reader with the same output schema."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for r in batch.itertuples(index=False):
                payload = r.payload
                if payload is None:
                    continue
                data = bytes(payload)
                for i in range(min(max_frames, max(1, len(data) // frame_bytes))):
                    rows.append(
                        {
                            "asset_id": r.asset_id,
                            "frame_idx": i,
                            "frame": data[i * frame_bytes:(i + 1) * frame_bytes],
                        }
                    )
            yield pd.DataFrame(rows, columns=["asset_id", "frame_idx", "frame"])

    return assets.select("asset_id", "payload").mapInPandas(run, FRAME_SCHEMA)


def meta_stats(assets: DataFrame) -> DataFrame:
    """Metadata-only profile — never touches ``payload``, so the scan
    prunes the binary column entirely (verify via ReadSchema in
    explain)."""
    return assets.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("meta").getField("n_bytes")).alias("total_bytes"),
        F.round(F.avg(F.col("meta").getField("n_bytes")), 4).alias("avg_bytes"),
    )
