"""Multimodal (binary) column plumbing (SURVEY §2.E12).

Treat image/audio/video as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` kernels.

``decode_features`` runs ``codecs.decode_any`` on every payload: the
WAV, PNG and GIF decoders (stdlib + numpy, dispatched on magic bytes)
fill the real-codec fields, and any other payload gets the all-NULL
stub. The byte-derived ``_decode_stub`` fields (n_bytes, fake dims,
n_frames) stand in for a video decoder; an ffmpeg-backed decoder slots
into ``codecs.DECODERS`` without touching the plan, schema, or batch
shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("fake_width", T.IntegerType()),
        T.StructField("fake_height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        # Real-codec fields (operators/codecs.py); NULL on the stub
        # path so compressed-format rows are visibly undecoded.
        T.StructField("codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("mean_value", T.DoubleType()),
    ]
)


def _decode_stub(payload: bytes) -> tuple[int, int, int, int]:
    """Deterministic stand-in for an image/video decoder.

    Replace with a real codec (e.g. PIL.Image.open(BytesIO(payload)))
    in a container that ships one; the mapInPandas contract stays.
    """
    n = len(payload)
    return n, n % 640, (n * 7) % 480, n % 16 + 1


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Simulate a multimodal table: UTF-8 bytes as the opaque payload +
    a typed metadata struct (the shape a real ingest would produce)."""
    return df.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("n_chars").alias("n_chars"),
            F.col("lang").alias("media_lang"),
            F.lit("application/octet-stream").alias("mime"),
        ).alias("media_meta"),
    )


def decode_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched decode: one output row per payload.

    mapInPandas streams record batches — payload bytes never
    materialise on the driver, and batch size is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """

    from gentropy_spark.operators.codecs import decode_any

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_stub(b) for b in pdf["payload"]]
            out = pd.DataFrame(
                feats, columns=["n_bytes", "fake_width", "fake_height", "n_frames"]
            )
            real = pd.DataFrame(
                [decode_any(b) for b in pdf["payload"]],
                columns=[
                    "codec", "width", "height", "n_channels",
                    "sample_rate", "mean_value",
                ],
            )
            out = pd.concat([out, real], axis=1)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return binary_df.mapInPandas(decode, schema=DECODED_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_feature", T.DoubleType()),
    ]
)
MAX_SAMPLED_FRAMES = 4


def sample_frames(binary_df: DataFrame) -> DataFrame:
    """Uniform-stride frame sampling — the N:M mapInPandas shape (one
    input media row fans out to up to ``MAX_SAMPLED_FRAMES`` frame
    rows; batch sizes in and out differ, which is exactly what a real
    video sampler produces).

    The frame DECODE is the deterministic stub (pure int64 arithmetic
    on (doc_id, frame_index)), so the fan-out plumbing is fully
    oracle-checkable; a real ffmpeg-style sampler replaces the feature
    line without touching schema or partitioning.
    """

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, nfs, feats = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(payload) % 16 + 1
                k = min(MAX_SAMPLED_FRAMES, n_frames)
                stride = max(n_frames // k, 1)
                for i in range(k):
                    idx = i * stride
                    if idx >= n_frames:
                        break
                    ids.append(doc_id)
                    idxs.append(idx)
                    nfs.append(n_frames)
                    feats.append(
                        ((doc_id * 31 + idx) * 2654435761) % 1000003
                        / 1000003.0
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_index": pd.Series(idxs, dtype="int32"),
                    "n_frames": pd.Series(nfs, dtype="int32"),
                    "frame_feature": pd.Series(feats, dtype="float64"),
                }
            )

    return binary_df.mapInPandas(sample, schema=FRAME_SAMPLE_SCHEMA)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("scale", T.DoubleType()),
        T.StructField("out_bytes", T.IntegerType()),
    ]
)
RESIZE_TARGET_EDGE = 224  # the ViT-style preprocessing edge


def resize_media(binary_df: DataFrame, target_edge: int = RESIZE_TARGET_EDGE) -> DataFrame:
    """Aspect-preserving resize planning — the 1:1 mapInPandas kernel
    (SURVEY E12c).

    Computes the shorter-edge-to-target scaling a vision-model
    preprocessor applies (dims from the stub decoder; the actual pixel
    resample is the stubbed line — a real kernel swaps in
    PIL.Image.resize over the payload without touching schema,
    batching, or the plan). Output size model: scaled area × 3 bytes.
    Zero-dimension sources (payloads whose fake dims degenerate) pass
    through unscaled rather than dividing by zero — the
    guard a real decoder needs for corrupt media anyway.
    """

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n, w, h, _ = _decode_stub(payload)
                if w <= 0 or h <= 0:
                    rows.append((doc_id, w, h, w, h, 1.0, n))
                    continue
                scale = target_edge / min(w, h)
                ow, oh = int(w * scale), int(h * scale)
                rows.append(
                    (doc_id, w, h, ow, oh, round(scale, 6), ow * oh * 3)
                )
            out = pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "src_width", "src_height",
                    "out_width", "out_height", "scale", "out_bytes",
                ],
            )
            yield out.astype(
                {
                    "doc_id": "int64", "src_width": "int32",
                    "src_height": "int32", "out_width": "int32",
                    "out_height": "int32", "scale": "float64",
                    "out_bytes": "int32",
                }
            )

    return binary_df.mapInPandas(resize, schema=RESIZE_SCHEMA)
