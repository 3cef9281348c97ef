"""Multimodal (image/audio/video) column handling.

Convention (SURVEY.md §7): media travel as opaque ``binary`` payload columns
plus a typed metadata struct — Iceberg/Parquet store both natively, so the
table format needs no extension. The compute pattern is ``mapInPandas``:
Arrow-batched iteration where each batch's binary column is decoded /
feature-extracted with a media library.

This container has no image/audio libraries, so the decode kernels are
STUBBED (deterministic fakes clearly marked below); everything Spark-side —
schema, batch iteration, partition sizing, UDF signatures, output shapes —
is real and tested. Swapping a fake for Pillow/librosa/av changes only the
body of ``_decode_*_batch``.

Scale notes: binary payloads make rows wide — size
``spark.sql.files.maxPartitionBytes`` down (or store media in a separate
table keyed by content hash) so a partition of decoded batches fits executor
memory; ``mapInPandas`` streams Arrow batches, so peak memory is one batch,
not one partition.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Metadata struct carried alongside every media payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("phash", T.StringType()),
    ]
)

FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_png", T.BinaryType()),
    ]
)


def synthesize_media(df: DataFrame) -> DataFrame:
    """Attach a deterministic fake binary payload + metadata to each row.

    Stands in for reading real media; payload = repeated md5 bytes of the id
    (deterministic, compressible, schema-correct), ~256 bytes per row.
    """
    rep = (256 // 16) + 1
    # deterministic pseudo-bytes: concat of md5(id||k) digests (binary concat)
    payload = F.concat(
        *[
            F.unhex(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f"|{k}"))))
            for k in range(rep)
        ]
    )
    return df.withColumn("media_payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("png").alias("format"),
            (F.pmod(F.xxhash64(F.col("doc_id")), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.xxhash64(F.col("doc_id") + 1), F.lit(480)) + 32).cast("int").alias("height"),
            F.lit(0).cast("long").alias("duration_ms"),
            F.length(payload).cast("long").alias("size_bytes"),
        ),
    )


def _decode_image_batch(payloads: pd.Series) -> pd.DataFrame:
    """STUB decode kernel — deterministic fake.

    Real implementation: ``PIL.Image.open(io.BytesIO(b))`` per payload,
    vectorized luma via numpy. The fake derives stable pseudo-features from
    the payload bytes so tests can assert determinism and batch shape —
    hashing the payload's lowercase HEX form (not the raw bytes) so the
    whole binary pipeline stays replicable in the DuckDB differential
    oracle (DuckDB's md5() takes VARCHAR only).
    """
    import hashlib

    rows: list[dict[str, Any]] = []
    for b in payloads:
        if b is None:
            rows.append({"width": None, "height": None, "mean_luma": None, "phash": None})
            continue
        h = hashlib.md5(bytes(b).hex().encode()).digest()
        rows.append(
            {
                "width": 32 + h[0],
                "height": 32 + h[1],
                "mean_luma": round(h[2] / 255.0, 6),
                "phash": h.hex()[:16],
            }
        )
    return pd.DataFrame(rows)


def extract_image_features(df: DataFrame) -> DataFrame:
    """Arrow-batched image feature extraction via ``mapInPandas``.

    Input needs (doc_id, media_payload). Output: IMAGE_FEATURES_SCHEMA.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = _decode_image_batch(pdf["media_payload"])
            feats.insert(0, "doc_id", pdf["doc_id"].values)
            yield feats.astype(
                {"doc_id": "int64", "width": "Int32", "height": "Int32"}
            )

    return df.select("doc_id", "media_payload").mapInPandas(run, IMAGE_FEATURES_SCHEMA)


def sample_video_frames(df: DataFrame) -> DataFrame:
    """Frame sampling plumbing for video payloads (STUB decode).

    Real implementation: ``av.open`` → demux/decode → keyframe-nearest
    sampling every 1000 ms. Raises NotImplementedError in the kernel when
    a real decode is requested; the deterministic fake emits 3 fake frames
    per doc so partitioning/row-expansion behavior is testable.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                for i in range(3):  # fake: 3 frames per payload
                    out.append(
                        {
                            "doc_id": row["doc_id"],
                            "frame_idx": i,
                            "frame_ts_ms": i * 1000,
                            "frame_png": bytes(row["media_payload"][:16]),
                        }
                    )
            yield pd.DataFrame(out)

    return df.select("doc_id", "media_payload").mapInPandas(run, FRAME_SAMPLE_SCHEMA)


RESIZED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("orig_width", T.IntegerType()),
        T.StructField("orig_height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("resized_payload", T.BinaryType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def resize_images(
    df: DataFrame, max_width: int = 224, max_height: int = 224
) -> DataFrame:
    """Bounded-box image resize plumbing (STUB decode/encode).

    Real implementation: decode → ``PIL.Image.thumbnail((max_w, max_h))`` →
    re-encode. The fake derives the "original" dimensions from the SAME
    md5-of-hex bytes as :func:`_decode_image_batch` (the two kernels agree
    on what an image "is"), applies the exact aspect-preserving scale
    ``min(max_w/w, max_h/h, 1)``, and emits a payload slice proportional to
    the area ratio — so tests can assert bounds, aspect ratio, and payload
    shrinkage deterministically.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # single source of truth for what an image "is": the decode
            # kernel supplies the original dimensions
            dims = _decode_image_batch(pdf["media_payload"])
            rows: list[dict[str, Any]] = []
            for did, b, w0, h0 in zip(
                pdf["doc_id"].values, pdf["media_payload"], dims["width"], dims["height"]
            ):
                scale = min(max_width / w0, max_height / h0, 1.0)
                w1, h1 = max(int(w0 * scale), 1), max(int(h0 * scale), 1)
                keep = max(int(len(b) * (w1 * h1) / (w0 * h0)), 16)
                rows.append(
                    {
                        "doc_id": did,
                        "orig_width": w0,
                        "orig_height": h0,
                        "width": w1,
                        "height": h1,
                        "resized_payload": bytes(b)[:keep],
                    }
                )
            yield pd.DataFrame(rows).astype(
                {
                    "doc_id": "int64",
                    "orig_width": "Int32",
                    "orig_height": "Int32",
                    "width": "Int32",
                    "height": "Int32",
                }
            )

    return df.select("doc_id", "media_payload").mapInPandas(run, RESIZED_IMAGE_SCHEMA)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction plumbing (STUB decode).

    Real implementation: ``librosa.load(io.BytesIO(b))`` → duration, rms,
    sample rate. The fake derives stable pseudo-features from the payload's
    md5-of-hex bytes (same convention as the image kernels).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for did, b in zip(pdf["doc_id"].values, pdf["media_payload"]):
                h = hashlib.md5(bytes(b).hex().encode()).digest()
                rows.append(
                    {
                        "doc_id": did,
                        "duration_ms": 500 + int.from_bytes(h[3:5], "big"),
                        "sample_rate": [16000, 22050, 44100, 48000][h[5] % 4],
                        "rms": round(h[6] / 255.0, 6),
                    }
                )
            yield pd.DataFrame(rows).astype(
                {"doc_id": "int64", "duration_ms": "int64", "sample_rate": "Int32"}
            )

    return df.select("doc_id", "media_payload").mapInPandas(run, AUDIO_FEATURES_SCHEMA)
