"""Multimodal columns: image/audio/video as opaque `binary` columns with typed
metadata, decoded and resized in Arrow-batched mapInPandas passes (the binary
column is never shuffled; `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds executor memory; downstream joins use the compact metadata only).

Decoding is a seam, not a codec: `decode_assets` and `resize_assets` take a
`decoder=` callable (content: bytes, modality: str) -> (width, height,
n_frames, sample_rate), so a PIL/pyav/librosa-backed decoder drops in
without touching call sites. The default, `fake_decoder`, is a stub that
derives the metadata from the sha256 digest of the bytes, and the resize
output is keyed as sha256(hex(sha256(content)) + ':WxH'). Every output
column is therefore a pure function of the content bytes, which DuckDB's
`sha256` can reproduce: that is what lets q22_multimodal and
q40_multimodal_resize be checked row for row against their SQL oracles."""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType, StringType,
                               StructField, StructType)

ASSET_SCHEMA = StructType([
    StructField("asset_id", StringType()),
    StructField("modality", StringType()),      # image | audio | video
    StructField("content", BinaryType()),
    StructField("mime", StringType()),
])

DECODED_SCHEMA = StructType([
    StructField("asset_id", StringType()),
    StructField("modality", StringType()),
    StructField("n_bytes", LongType()),
    StructField("sha256", StringType()),
    StructField("width", IntegerType()),        # image/video (fake-decoded)
    StructField("height", IntegerType()),
    StructField("n_frames", IntegerType()),     # video
    StructField("sample_rate", IntegerType()),  # audio
])


def _fake_decode(digest: bytes, modality: str) -> tuple:
    """Deterministic stand-in for a real decoder: plausible dimensions
    derived from the sha256 content digest, a pure function of the bytes
    that the DuckDB oracles of q22/q40 mirror."""
    h = digest
    return (
        64 + h[0] % 192 if modality in ("image", "video") else None,
        64 + h[1] % 192 if modality in ("image", "video") else None,
        1 + h[2] % 300 if modality == "video" else None,
        (8000, 16000, 44100)[h[3] % 3] if modality == "audio" else None,
    )


def fake_decoder(content: bytes, modality: str) -> tuple:
    """The default `decoder=` callable. Any callable (content: bytes,
    modality: str) -> (width, height, n_frames, sample_rate) drops into
    decode_assets / resize_assets in its place (tests/test_ops.py injects
    a header-parsing decoder)."""
    return _fake_decode(hashlib.sha256(content).digest(), modality)


def decode_assets(assets: DataFrame, decoder=None) -> DataFrame:
    """Arrow-batched metadata extraction: byte length, sha256 and the
    decoder's (width, height, n_frames, sample_rate) per asset. decoder:
    optional real decoder callable (default fake_decoder)."""
    dec = decoder or fake_decoder

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            contents = [bytes(c or b"") for c in pdf["content"]]
            digests = [hashlib.sha256(c).digest() for c in contents]
            metas = [dec(c, m) for c, m in zip(contents, pdf["modality"])]
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].to_numpy(),
                "modality": pdf["modality"].to_numpy(),
                "n_bytes": [len(c) for c in contents],
                "sha256": [d.hex() for d in digests],
                "width": pd.array([m[0] for m in metas], dtype="Int32"),
                "height": pd.array([m[1] for m in metas], dtype="Int32"),
                "n_frames": pd.array([m[2] for m in metas], dtype="Int32"),
                "sample_rate": pd.array([m[3] for m in metas], dtype="Int32"),
            })

    return assets.mapInPandas(decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = StructType([
    StructField("asset_id", StringType()),
    StructField("modality", StringType()),
    StructField("src_width", IntegerType()),
    StructField("src_height", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("resized_sha256", StringType()),
])


def resize_assets(assets: DataFrame, target_w: int = 64, target_h: int = 64,
                  decoder=None) -> DataFrame:
    """Aspect-fit resize plumbing (never upscales). Source dims come from
    the decoder (injectable — see fake_decoder); the pixel work itself stays
    keyed as sha256(hex(sha256(content)) + ':WxH') so every output column is
    a pure function of the bytes and oracle-checkable; the Arrow batch shape
    and schema are what a PIL-backed implementation drops into."""
    dec = decoder or fake_decoder

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            contents = [bytes(c or b"") for c in pdf["content"]]
            digests = [hashlib.sha256(c).digest() for c in contents]
            dims = [dec(c, m)[:2]
                    for c, m in zip(contents, pdf["modality"])]
            rows = []
            for d, (w, h) in zip(digests, dims):
                if w is None:
                    rows.append((None, None, None))
                    continue
                scale = min(target_w / w, target_h / h, 1.0)
                ow, oh = max(1, int(w * scale)), max(1, int(h * scale))
                key = d.hex() + f":{ow}x{oh}"
                rows.append((ow, oh, hashlib.sha256(key.encode()).hexdigest()))
            yield pd.DataFrame({
                "asset_id": pdf["asset_id"].to_numpy(),
                "modality": pdf["modality"].to_numpy(),
                "src_width": pd.array([x[0] for x in dims], dtype="Int32"),
                "src_height": pd.array([x[1] for x in dims], dtype="Int32"),
                "width": pd.array([r[0] for r in rows], dtype="Int32"),
                "height": pd.array([r[1] for r in rows], dtype="Int32"),
                "resized_sha256": [r[2] for r in rows],
            })

    return assets.mapInPandas(batches, schema=RESIZED_SCHEMA)


def documents_as_assets(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Adapter for the queries and tests: treats document text bytes as
    binary image-like assets so the plumbing runs without media files."""
    return docs.select(
        F.col(id_col).cast("string").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.encode(F.col(text_col), "UTF-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"))
