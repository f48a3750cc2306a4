"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The decode libraries (PIL / librosa / av) are NOT in this container, so the
codec boundary is stubbed: ``decode=fake`` produces a deterministic
hash-derived feature vector (so schemas, partitioning, UDF signatures and
batch shapes are real and tested end-to-end), ``decode=real`` raises
NotImplementedError at the clearly-marked seam where the codec call belongs.

Everything around the stub is production-shaped: binary column + metadata
map, mapInPandas with Arrow-batched bytes, fixed-length float feature
output, frame sampling by byte-window.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from kgforge.frames import local_frame

ASSET_SCHEMA = (
    "asset_id long, kind string, data binary, meta map<string,string>"
)
FEATURE_DIM = 16
FEATURES_SCHEMA = f"asset_id long, kind string, n_bytes int, features array<float>"


def synth_assets(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic fake binary assets (3 kinds, varied sizes)."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        blob = hashlib.sha256(f"asset{i}".encode()).digest() * (4 + i % 7)
        rows.append(
            (i, kind, bytearray(blob), {"codec": f"{kind}/fake", "w": str(64 + i)})
        )
    return local_frame(spark, rows, ASSET_SCHEMA)


def _decode_bytes(kind: str, data: bytes, mode: str) -> np.ndarray:
    """THE CODEC SEAM.  In production this dispatches to PIL.Image.open /
    soundfile.read / av.open on ``data``.  Those libraries are absent here."""
    if mode == "real":
        raise NotImplementedError(
            f"real {kind} decode requires codec libs not present in this "
            "container; install PIL/soundfile/av and implement here"
        )
    # deterministic fake: hash-derived feature vector with the real shape
    h = hashlib.sha256(data).digest()
    return (
        np.frombuffer((h * ((FEATURE_DIM * 4) // len(h) + 1))[: FEATURE_DIM * 4], dtype=np.uint32)
        .astype(np.float32)
        / np.float32(2**32)
    )


def extract_features(assets: DataFrame, mode: str = "fake") -> DataFrame:
    """Arrow-batched feature extraction over the binary column."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats: List[List[float]] = []
            nb: List[int] = []
            for kind, data in zip(pdf["kind"], pdf["data"]):
                raw = bytes(data)
                nb.append(len(raw))
                feats.append(_decode_bytes(kind, raw, mode).tolist())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "n_bytes": nb,
                    "features": feats,
                }
            )

    return assets.select("asset_id", "kind", "data").mapInPandas(
        gen, schema=FEATURES_SCHEMA
    )


RESIZED_SCHEMA = "asset_id long, kind string, data binary, meta map<string,string>"


def resize_images(assets: DataFrame, w: int = 32, h: int = 32, mode: str = "fake") -> DataFrame:
    """Image resize plumbing at the same codec seam: decode -> resample ->
    re-encode in production (PIL), deterministic size-correct bytes here.
    Output schema matches the input asset schema so resized assets flow back
    through the same pipeline (meta records the new dimensions)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_data: List[bytearray] = []
            out_meta: List[dict] = []
            for kind, data, meta in zip(pdf["kind"], pdf["data"], pdf["meta"]):
                raw = bytes(data)
                if mode == "real":
                    raise NotImplementedError(
                        "real image resize requires PIL; decode+resample+encode here"
                    )
                # deterministic fake with the REAL output size (w*h bytes,
                # grayscale-like), derived from the source bytes
                seed = hashlib.sha256(raw).digest()
                out_data.append(bytearray((seed * (w * h // len(seed) + 1))[: w * h]))
                m = dict(meta) if meta is not None else {}
                m.update({"w": str(w), "h": str(h), "resized": "true"})
                out_meta.append(m)
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "data": out_data,
                    "meta": out_meta,
                }
            )

    images = assets.filter(F.col("kind") == "image")
    return images.select("asset_id", "kind", "data", "meta").mapInPandas(
        gen, schema=RESIZED_SCHEMA
    )


def frame_sample(assets: DataFrame, n_frames: int = 4, frame_bytes: int = 32) -> DataFrame:
    """Video frame sampling plumbing: evenly-spaced byte windows stand in for
    decoded frames (JVM-side substring on binary — no Python)."""
    video = assets.filter(F.col("kind") == "video")
    idx = F.explode(F.sequence(F.lit(0), F.lit(n_frames - 1))).alias("frame_no")
    stride = (F.length("data") - frame_bytes) / F.lit(max(n_frames - 1, 1))
    return (
        video.select("asset_id", "data", idx)
        .withColumn("offset", (F.col("frame_no") * stride).cast("int") + 1)
        .select(
            "asset_id",
            "frame_no",
            F.substring(F.col("data"), F.col("offset"), frame_bytes).alias("frame"),
        )
    )
