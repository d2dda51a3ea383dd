"""Multimodal column support (north-star extension): image/audio/video as
opaque ``binary`` columns with typed metadata structs, processed by
Arrow-batched UDFs.

The decode and featurize steps are stubs standing in for real decoders
(PIL/librosa/av) and an image model, and they are the only path: each
derives deterministic pseudo-metadata/features from the bytes, so the
Spark-side plumbing — schema, batch iteration, partitioning, UDF
signatures — is real and testable end-to-end, and the arithmetic is simple
enough for the DuckDB oracle to recompute.

Scale shape: decode/feature-extract are ``mapInPandas`` passes (one Arrow
batch of binaries in, one batch of structs/vectors out) — embarrassingly
parallel, no shuffle; downstream joins treat the media table like any
other (id, features) table, so dedup/ANN reuse the existing operators.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "media_id bigint, content binary, media_type string"
META_SCHEMA = "media_id bigint, media_type string, width int, height int, n_frames int, n_bytes int"

# stub constants (documented so the oracle can mirror them)
W_MULT, H_MULT, W_MOD, H_MOD, W_BASE, H_BASE = 7919, 104729, 448, 448, 64, 64
FEAT_DIM, FEAT_MULTS = 8, (3, 5, 7, 11, 13, 17, 19, 23)


def decode_metadata(media_df: DataFrame) -> DataFrame:
    """'Decode' each binary into typed media metadata: (width, height,
    n_frames) from deterministic byte-length arithmetic, so the values stay
    oracle-recomputable."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["content"].map(len).astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": (W_BASE + (n * W_MULT) % W_MOD).astype("int32"),
                    "height": (H_BASE + (n * H_MULT) % H_MOD).astype("int32"),
                    "n_frames": np.where(pdf["media_type"] == "video", 1 + n % 30, 1).astype("int32"),
                    "n_bytes": n.astype("int32"),
                }
            )

    return media_df.mapInPandas(gen, META_SCHEMA)


def extract_features(media_df: DataFrame, dim: int = FEAT_DIM) -> DataFrame:
    """Feature vectors from binaries (the embed step of an image pipeline):
    dim scaled residues of the byte length. The (binary batch → float
    vector batch) contract is the one a model forward pass would fill."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["content"].map(len).astype("int64")
            feats = [
                [float((int(x) * m) % 1000) / 1000.0 for m in FEAT_MULTS[:dim]] for x in n
            ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media_df.mapInPandas(gen, "media_id bigint, features array<float>")


def docs_as_media(spark, sf_dir: str) -> DataFrame:
    """Adapter: treat the documents table's text bytes as opaque media
    binaries (deterministic test corpus for the pipeline — real deployments
    read ``spark.read.format('binaryFile')``)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.when(F.col("doc_id") % 3 == 0, "video").otherwise("image").alias("media_type"),
    )
