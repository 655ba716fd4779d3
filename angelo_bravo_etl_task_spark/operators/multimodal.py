"""Multimodal-column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side design is real and tested: typed schemas, Arrow-batched
``mapInPandas`` decode/extract/resize/frame-sample operators with correct
batch shapes and partitioning. The actual codec calls are STUBBED (this
container has no image/audio libraries): ``_decode_image_bytes`` raises
``NotImplementedError`` unless ``fake=True``, in which case a deterministic
fake decoder (derived from the byte content) exercises the full pipeline.

At 100 TB: binary payloads ride in parquet alongside metadata; filters on
metadata prune row groups BEFORE any decode; ``maxRecordsPerBatch`` bounds
Arrow batch memory for large blobs; decode parallelism = partition count.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: Canonical multimodal asset schema: payload + typed metadata.
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("media_type", StringType(), False),  # image|audio|video
        StructField("content", BinaryType(), True),
        StructField("content_length", LongType(), True),
        StructField("mime", StringType(), True),
    ]
)

IMAGE_FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sha256", StringType(), True),
    ]
)


def _decode_image_bytes(data: bytes, fake: bool) -> tuple[int, int, int]:
    """Decode image dimensions.

    fake=True derives deterministic (width, height, channels) from the
    payload digest so the distributed plumbing is fully testable.
    fake=False uses Pillow when present, else raises — an import-try so
    the real path lights up automatically if the environment ever gains
    a codec (re-probed round 11, 2026-08-16: PIL/cv2/imageio all still
    absent from this container, so the guard stands).
    """
    if not fake:
        try:  # pragma: no cover - env-dependent real-codec path
            import io

            from PIL import Image

            with Image.open(io.BytesIO(data or b"")) as im:
                return im.width, im.height, len(im.getbands())
        except ImportError:
            raise NotImplementedError(
                "image codecs unavailable in this environment; pass "
                "fake=True or install a real decoder (PIL/OpenCV)"
            )
    digest = hashlib.sha256(data or b"").digest()
    return 64 + digest[0] % 192, 64 + digest[1] % 192, 3


def extract_image_features(df: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched decode → feature rows (IMAGE_FEATURES_SCHEMA).

    ``mapInPandas`` streams Arrow record batches through Python; each batch
    decodes independently, so memory is bounded by batch size × largest
    blob, and parallelism equals the input partition count.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [
                _decode_image_bytes(
                    bytes(b) if b is not None else b"", fake
                )
                for b in pdf["content"]
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                    "sha256": [
                        hashlib.sha256(
                            bytes(b) if b is not None else b""
                        ).hexdigest()
                        for b in pdf["content"]
                    ],
                }
            )

    return df.select("asset_id", "content").mapInPandas(
        decode, schema=IMAGE_FEATURES_SCHEMA
    )


def sample_frames(
    df: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Video frame-sampling STUB with real Spark plumbing: emits up to
    ``max_frames`` (asset_id, frame_idx, frame_bytes) rows per asset by
    slicing the payload — stand-in for keyframe extraction; the explode
    shape (1→N rows inside mapInPandas) is the part worth testing."""
    out_schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("frame_bytes", BinaryType(), True),
        ]
    )

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"asset_id": [], "frame_idx": [], "frame_bytes": []}
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                data = bytes(blob) if blob is not None else b""
                n = min(max_frames, max(1, len(data) // every_n_bytes))
                for i in range(n):
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(i)
                    rows["frame_bytes"].append(
                        data[i * every_n_bytes : (i + 1) * every_n_bytes]
                    )
            yield pd.DataFrame(rows)

    return df.select("asset_id", "content").mapInPandas(sample, schema=out_schema)


RESIZE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType(), False),
        StructField("src_w", IntegerType(), True),
        StructField("src_h", IntegerType(), True),
        StructField("out_w", IntegerType(), True),
        StructField("out_h", IntegerType(), True),
        StructField("thumb_len", LongType(), True),
    ]
)


def resize_images(df: DataFrame, box: int = 64, fake: bool = True) -> DataFrame:
    """Aspect-preserving thumbnail resize — STUB codec, real plumbing.

    Box-fit with INTEGER arithmetic only (out_w = src_w*box DIV max(src_w,
    src_h)), so an SQL oracle can reproduce the output dimensions exactly;
    a float scale factor would put borderline dims at the mercy of
    rounding. The fake "resample" emits a payload slice sized
    out_w*out_h*3 capped by the source length — enough to verify the
    batch shape and output-size accounting of the real thing."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k.name: [] for k in RESIZE_SCHEMA.fields}
            for aid, blob in zip(pdf["asset_id"], pdf["content"]):
                data = bytes(blob) if blob is not None else b""
                w, h, _c = _decode_image_bytes(data, fake)
                long_side = max(w, h)
                ow, oh = (w * box) // long_side, (h * box) // long_side
                thumb = data[: ow * oh * 3]
                out["asset_id"].append(aid)
                out["src_w"].append(w)
                out["src_h"].append(h)
                out["out_w"].append(ow)
                out["out_h"].append(oh)
                out["thumb_len"].append(len(thumb))
            yield pd.DataFrame(out)

    return df.select("asset_id", "content").mapInPandas(
        resize, schema=RESIZE_SCHEMA
    )
