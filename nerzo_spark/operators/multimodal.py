"""Multimodal asset handling: image/audio/video as opaque ``binary`` columns
with typed metadata (training-data-pipeline operators; task brief).

Design for 100 TB:
- payloads are opaque bytes + a typed ``meta`` struct; engines never parse
  media on the JVM side — all media ops are Arrow-batched ``mapInPandas``;
- Arrow batch size must be bounded by BYTES, not rows, when payloads are
  large: ``repartition_for_payloads`` + the session's maxRecordsPerBatch
  keep (batch rows x payload size) inside executor memory;
- the actual codec work (PIL/ffmpeg/torchaudio) is STUBBED here — this
  container has no media libraries.  Each stub is clearly marked and
  replaced by a real decoder behind the same UDF signature; the Spark-side
  plumbing (schema, fan-out shape, determinism) is real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerzo_spark.session import local_frame

ASSET_SCHEMA = (
    "asset_id string, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, duration_ms:int, codec:string>"
)

FEATURE_DIM = 64


def repartition_for_payloads(df: DataFrame, target_bytes: int = 64 << 20,
                             avg_payload_bytes: int = 1 << 20,
                             n_rows: int | None = None) -> DataFrame:
    """Size-based repartition: with large binaries, rows-per-partition must be
    derived from a byte budget (the moral equivalent of
    spark.sql.files.maxPartitionBytes for already-loaded data).

    ``n_rows``: pass the (approximate) row count when the caller already
    knows it — e.g. from the source table's metadata/snapshot — so this
    helper costs zero jobs; otherwise it falls back to one count() (flagged
    in round 1 as a per-call job)."""
    rows_per_part = max(1, target_bytes // max(1, avg_payload_bytes))
    if n_rows is None:
        n_rows = df.count()
    n = max(1, int(np.ceil(n_rows / rows_per_part)))
    return df.repartition(n, "asset_id")


def _fake_decode(payload: bytes) -> np.ndarray:
    """STUB — deterministic fake decoder.

    Real implementation: ``PIL.Image.open(io.BytesIO(payload))`` /
    ``av.open`` — not available in this container.  The fake maps payload
    bytes to a stable pseudo-pixel array so downstream shape/determinism
    logic is genuinely exercised.
    """
    h = hashlib.sha256(payload).digest()
    rng = np.frombuffer(h * 8, dtype=np.uint8)[:256]
    return rng.reshape(16, 16)


def extract_features(assets: DataFrame, decoder=None) -> DataFrame:
    """(asset_id, kind, payload, meta) -> (asset_id, kind, features).

    Feature extractor over the decoded representation; Arrow-batched, one
    numpy pass per batch.  The embedding column is ``array<float>`` so the
    similarity-search operators (plans/catalog_vec.py) apply unchanged.

    ``decoder`` is the codec seam: any picklable ``bytes -> 2-D ndarray``
    callable (a real ``PIL.Image.open`` wrapper in production) drops in
    here without touching call sites — the contract is locked by
    tests/test_multimodal.py::test_codec_contract_injected_decoder.
    Defaults to the deterministic ``_fake_decode`` stub (no media libs in
    this container).
    """
    decoder = decoder or _fake_decode

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                px = decoder(bytes(payload)).astype(np.float64)
                # deterministic pooled stats -> FEATURE_DIM vector
                v = np.concatenate([
                    px.mean(axis=0), px.mean(axis=1),
                    px.std(axis=0), px.std(axis=1),
                ])[:FEATURE_DIM]
                n = np.linalg.norm(v)
                feats.append((v / n if n > 0 else v).astype(np.float32))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return assets.mapInPandas(
        _feat, schema="asset_id string, kind string, features array<float>"
    )


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """STUB resize — real impl swaps ``_fake_decode`` + PIL resize into the
    same signature.  Emits the payload unchanged with updated meta (so
    schema evolution and meta plumbing are real)."""
    return assets.withColumn(
        "meta",
        F.struct(
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
            F.col("meta.codec").alias("codec"),
        ),
    )


def sample_frames(videos: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video -> frame rows fan-out: one output row per sampled frame.

    Frame decode is STUBBED (deterministic md5 slice per frame index); the
    fan-out shape — N rows per input row, frame_idx ordering, provenance —
    is the real, tested contract.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"asset_id": [], "frame_idx": [], "t_ms": [], "frame_sha": []}
            for asset_id, payload, meta in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta"]
            ):
                duration = int(meta["duration_ms"] or 0)
                n = max(1, duration // every_ms)
                for i in range(n):
                    frame_key = f"{asset_id}|{i}".encode()
                    out["asset_id"].append(asset_id)
                    out["frame_idx"].append(i)
                    out["t_ms"].append(i * every_ms)
                    out["frame_sha"].append(
                        hashlib.sha256(bytes(payload) + frame_key).hexdigest()
                    )
            yield pd.DataFrame(out)

    return videos.filter(F.col("kind") == "video").mapInPandas(
        _frames,
        schema="asset_id string, frame_idx int, t_ms long, frame_sha string",
    )


def fake_assets(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic asset fixture: payload = md5-stream bytes; one third
    each image/audio/video."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = b"".join(
            hashlib.md5(f"{seed}|{i}|{j}".encode()).digest() for j in range(16)
        )
        meta = {
            "width": 640 if kind == "image" else None,
            "height": 480 if kind == "image" else None,
            "sample_rate": 16000 if kind == "audio" else None,
            "duration_ms": 5000 if kind == "video" else None,
            "codec": {"image": "png", "audio": "pcm", "video": "h264"}[kind],
        }
        rows.append((f"asset{i}", kind, payload, meta))
    return local_frame(spark, rows, ASSET_SCHEMA)
