"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video in a Spark training-data pipeline: the payload
is an opaque BinaryType column; decode / feature-extract / resize /
frame-sample are Arrow-batched kernels over mapInPandas. The media
libraries (PIL/ffmpeg/librosa) are NOT in this container, so the decode
step is stubbed: ``decoder="real"`` raises NotImplementedError at the
exact integration point, and ``decoder="fake"`` is a deterministic
byte-statistics decoder that keeps the Spark-side plumbing (schema,
batching, partitioning) real and testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import worker_kernel

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("content_sha", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.DoubleType()), False),
    ]
)


def _fake_decode(payload: bytes, media_type: str, dim: int) -> np.ndarray:
    """Deterministic stand-in for a real decoder: a byte-histogram feature.
    Replace with PIL/ffmpeg decode in production."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if len(arr) == 0:
        return np.zeros(dim)
    hist, _ = np.histogram(arr, bins=dim, range=(0, 256))
    return (hist / len(arr)).astype(np.float64)


def extract_features(
    media: DataFrame, dim: int = 16, decoder="fake"
) -> DataFrame:
    """media table -> per-item feature vectors (Arrow-batched kernel).

    ``decoder`` selects the decode step at the integration seam:

    * ``"fake"`` — the deterministic byte-histogram stand-in (default;
      keeps the plumbing testable without media libs);
    * ``"real"`` — raises NotImplementedError (no PIL/ffmpeg in this
      container) at the exact point a production decoder plugs in;
    * a **callable** ``(payload: bytes, media_type: str, dim: int) ->
      array-like of len dim`` — caller-supplied real decoder (e.g. a
      PIL/ffmpeg wrapper where those libs exist). It is cloudpickled into
      the executor tasks, so it must import its media libs inside the
      function body or at module scope on the executors.

    The batch shape is the contract: each mapInPandas batch holds whole
    payloads; at scale set spark.sql.execution.arrow.maxRecordsPerBatch and
    spark.sql.files.maxPartitionBytes so one batch of payloads fits executor
    memory (payloads dominate; ~batch_rows * avg_payload bytes).
    """
    if isinstance(decoder, str) and decoder not in ("fake", "real"):
        raise ValueError(
            f"decoder must be 'fake', 'real', or a callable; got {decoder!r}"
        )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats, shas, sizes = [], [], []
            for payload, mt in zip(pdf["payload"], pdf["media_type"]):
                raw = bytes(payload)
                if decoder == "real":
                    raise NotImplementedError(
                        "real media decode requires PIL/ffmpeg (not in this "
                        "container); pass a decoder callable or use 'fake'"
                    )
                if callable(decoder):
                    feat = np.asarray(decoder(raw, mt, dim), dtype=np.float64)
                    if feat.shape != (dim,):
                        raise ValueError(
                            f"decoder returned shape {feat.shape}, "
                            f"expected ({dim},)"
                        )
                    feats.append(feat)
                else:
                    feats.append(_fake_decode(raw, mt, dim))
                shas.append(hashlib.sha256(raw).hexdigest())
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "media_type": pdf["media_type"],
                    "n_bytes": np.asarray(sizes, dtype=np.int64),
                    "content_sha": shas,
                    "feature": feats,
                }
            )

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        worker_kernel(kernel), FEATURE_SCHEMA
    )


def frame_sample(
    media: DataFrame, every_n_bytes: int = 1024, frame_bytes: int = 64
) -> DataFrame:
    """Deterministic frame sampling over video-like payloads: one 'frame'
    (byte slice) every N bytes — the plumbing (explode to frames, stable
    frame ids) is the real part; the slicing stands in for ffmpeg seeks."""
    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("frame_id", T.LongType(), False),
            T.StructField("frame", T.BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                for i, off in enumerate(range(0, len(raw), every_n_bytes)):
                    rows.append((int(doc_id), i, raw[off : off + frame_bytes]))
            if rows:
                yield pd.DataFrame(rows, columns=["doc_id", "frame_id", "frame"])

    return media.select("doc_id", "payload").mapInPandas(
        worker_kernel(kernel), out_schema
    )


def exact_media_duplicates(media: DataFrame) -> DataFrame:
    """Exact payload dedup — JVM-side sha2 over the binary column; no
    decode needed (works for any modality).

    Payloads never enter an exchange: the frame is projected to
    (doc_id, media_type, sha) first, group stats come from a groupBy
    (map-side partial agg — a hot duplicate payload contributes one row
    per mapper), then join back. A window over partitionBy(sha) would
    both ship full payloads through the shuffle and pin every member of
    a hot duplicate group in one unsplittable WindowExec partition.
    """
    keyed = media.select(
        "doc_id", "media_type", F.sha2("payload", 256).alias("_sha")
    )
    groups = keyed.groupBy("_sha").agg(
        F.min("doc_id").alias("group_id"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return keyed.join(groups, "_sha").select(
        "doc_id", "media_type", "group_id", "group_size"
    )
