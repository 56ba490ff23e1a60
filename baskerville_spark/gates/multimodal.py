"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Audio decode is REAL in this repo (baskerville_spark.audio — deterministic
codec stand-ins), and image decode is REAL for the uncompressed container
formats that need only numpy: BMP (24/32-bit BI_RGB), binary netpbm
(P5 PGM / P6 PPM), and the synthetic 'rawgray' fixture format. Compressed
codecs (jpeg/png/webp) need Pillow/turbojpeg, which are not in this
container — those raise ``NotImplementedError`` and surface as
``decode_ok=false`` rows. The Spark-side plumbing (schema, Arrow batch
shape, UDF signature, partition behavior) is identical either way: swap
the codec branch and nothing else changes.

Feature extraction includes an 8x8 average-hash (``ahash``) so image
near-duplicate detection composes with the SimHash Hamming-band join in
``gates.dedup.simhash_near_dups`` (same 64-bit + chunks shape).
"""

from __future__ import annotations

import io
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Optional-dependency seam: when Pillow is importable (real clusters), the
# compressed codecs (jpeg/png/webp) decode for real through the SAME plan;
# in this container it is absent and those formats surface as
# decode_ok=false. Import probed once per Python worker, not per batch.
try:  # pragma: no cover - not installed in this container
    from PIL import Image as _PILImage
except ImportError:
    _PILImage = None

_PIL_FORMATS = ("jpeg", "jpg", "png", "webp")

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("ahash", T.LongType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP → (h, w, 3) RGB uint8."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError("compressed or palette BMP needs Pillow")
    bottom_up, h = h > 0, abs(h)
    nch = bpp // 8
    stride = (w * nch + 3) // 4 * 4
    if data_off + stride * h > len(payload):
        raise ValueError("truncated BMP payload")
    rows = np.frombuffer(payload, np.uint8, count=stride * h, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * nch].reshape(h, w, nch)
    if bottom_up:
        img = img[::-1]
    return img[..., 2::-1]  # BGR(A) → RGB, drop alpha


def _decode_pnm(payload: bytes) -> np.ndarray:
    """Binary netpbm: P5 (gray) / P6 (RGB), maxval <= 255."""
    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        vals.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = vals
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm needs Pillow")
    nch = 1 if magic == b"P5" else 3
    n = w * h * nch
    if pos + n > len(payload):
        raise ValueError("truncated netpbm payload")
    return np.frombuffer(payload, np.uint8, count=n, offset=pos).reshape(h, w, nch)


def _decode_image(payload: bytes, fmt: str) -> np.ndarray:
    """numpy-only decoders for uncompressed formats; compressed codecs are
    honestly NotImplemented in this container (no Pillow/turbojpeg)."""
    if fmt == "bmp":
        return _decode_bmp(payload)
    if fmt in ("pgm", "ppm", "pnm"):
        return _decode_pnm(payload)
    if fmt == "rawgray":
        w = int.from_bytes(payload[0:4], "little")
        h = int.from_bytes(payload[4:8], "little")
        arr = np.frombuffer(payload[8 : 8 + w * h], dtype=np.uint8)
        if len(arr) != w * h:
            raise ValueError("truncated rawgray payload")
        return arr.reshape(h, w, 1)
    if fmt in _PIL_FORMATS and _PILImage is not None:  # pragma: no cover
        img = np.asarray(_PILImage.open(io.BytesIO(payload)).convert("RGB"))
        return img
    raise NotImplementedError(f"image codec {fmt!r} needs Pillow/PyAV (not in container)")


def _ahash64(img: np.ndarray) -> int:
    """64-bit average hash: 8x8 center-sampled luma thumbnail, bit i set when
    cell i exceeds the thumbnail mean. Composable with the SimHash
    Hamming-band join (same bigint shape)."""
    luma = img.astype(np.float64).mean(axis=2)
    h, w = luma.shape
    yy = np.minimum(((np.arange(8) + 0.5) * h / 8).astype(int), h - 1)
    xx = np.minimum(((np.arange(8) + 0.5) * w / 8).astype(int), w - 1)
    thumb = luma[yy][:, xx]
    # epsilon: float summation can put the mean a few ulps BELOW 64 equal
    # cells (e.g. luma 85.333...), which would set every bit on a solid
    # image; 1e-6 is negligible at luma scale 0-255
    bits = (thumb > thumb.mean() + 1e-6).flatten()
    val = 0
    for i, b in enumerate(bits):
        if b:
            val |= 1 << i
    return int(np.int64(np.uint64(val)))  # wrap to signed for LongType


def _image_meta_batch(b: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of (item_id, payload, fmt) → image-metadata rows.

    Module-level (not a closure) so the codec-seam contract is testable
    without a cluster: inject a fake Pillow at ``_PILImage`` and the same
    batch function that runs inside mapInPandas decodes compressed formats.
    Direct column access + zip, not iterrows: per-row pandas Series
    construction is ~10x the iteration cost of the non-decode part
    (matches the Arrow-native audio path, checks/invariants.py).
    """
    rows = []
    for item_id, payload, fmt in zip(
        b["item_id"].to_numpy(), b["payload"].to_numpy(), b["fmt"].to_numpy()
    ):
        try:
            img = _decode_image(bytes(payload), fmt)
            rows.append(
                (
                    item_id,
                    img.shape[1],
                    img.shape[0],
                    img.shape[2],
                    float(img.mean()),
                    _ahash64(img),
                    True,
                )
            )
        except (NotImplementedError, ValueError):
            rows.append((item_id, None, None, None, None, None, False))
    return pd.DataFrame(rows, columns=[f.name for f in IMAGE_META_SCHEMA.fields])


def image_features(df: DataFrame) -> DataFrame:
    """mapInPandas over (item_id, payload, fmt) → typed image metadata.

    Arrow batches bounded by maxRecordsPerBatch (payloads are large);
    output is narrow — payload bytes never return to the JVM.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _image_meta_batch(b)

    return df.select("item_id", "payload", "fmt").mapInPandas(
        run, schema=IMAGE_META_SCHEMA
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), True),
        T.StructField("mean_luma", T.DoubleType(), True),
        T.StructField("decode_ok", T.BooleanType(), False),
    ]
)


def _iter_video_frames(payload: bytes, fmt: str):
    """Frame iterator for the deterministic 'rawgray_video' container
    (header: w, h, n_frames as uint32-LE; then n_frames × w*h gray bytes).
    Real codecs (mp4/webm) need PyAV — honestly NotImplemented here; the
    sampling plumbing (batch shape, narrow output, per-frame fan-out) is
    identical once the iterator body is swapped."""
    if fmt != "rawgray_video":
        raise NotImplementedError(f"video codec {fmt!r} needs PyAV (not in container)")
    w = int.from_bytes(payload[0:4], "little")
    h = int.from_bytes(payload[4:8], "little")
    n = int.from_bytes(payload[8:12], "little")
    fsz = w * h
    if 12 + n * fsz > len(payload):
        raise ValueError("truncated rawgray_video payload")
    for i in range(n):
        yield i, np.frombuffer(payload, np.uint8, count=fsz, offset=12 + i * fsz).reshape(h, w)


#: ``sample_frames`` keeps every FRAME_EVERY_K-th frame
FRAME_EVERY_K = 5


def sample_frames(df: DataFrame) -> DataFrame:
    """Frame sampling over binary video payloads: mapInPandas fans each
    video out to one NARROW row per sampled frame (every
    ``FRAME_EVERY_K``-th) — pixels never return to the JVM; downstream
    joins/aggs see only (item_id, frame_idx, features)."""
    every_k = FRAME_EVERY_K  # read on the driver: the kernel ships its value

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for item_id, payload, fmt in zip(
                b["item_id"].to_numpy(), b["payload"].to_numpy(), b["fmt"].to_numpy()
            ):
                try:
                    for i, frame in _iter_video_frames(bytes(payload), fmt):
                        if i % every_k == 0:
                            rows.append((item_id, i, float(frame.mean()), True))
                except (NotImplementedError, ValueError):
                    rows.append((item_id, None, None, False))
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields])

    return df.select("item_id", "payload", "fmt").mapInPandas(
        run, schema=VIDEO_FRAME_SCHEMA
    )


def make_bmp(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal solid-color 24-bit BMP writer (test/fixture helper — the
    deterministic image source for gate queries, since binary images can't
    live in the shared testdata)."""
    stride = (width * 3 + 3) // 4 * 4
    row = (bytes((rgb[2], rgb[1], rgb[0])) * width).ljust(stride, b"\x00")
    pixels = row * height
    header = (
        b"BM"
        + (54 + len(pixels)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(pixels).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return header + pixels


def q40_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode + feature extraction over binary payloads (multimodal
    plumbing, brief §multimodal): real numpy BMP decode inside mapInPandas;
    every 17th item is a corrupt 'jpeg' exercising the decode_ok=false
    path. Images are synthesized in-session (binary payloads can't live in
    the shared testdata) with closed-form features, so the DuckDB oracle
    reproduces them arithmetically."""
    rows = []
    for i in range(240):
        if i % 17 == 0:
            rows.append((f"img_{i:04d}", bytearray(b"\xff\xd8garbage"), "jpeg"))
        else:
            c = (i * 7) % 256
            rows.append(
                (f"img_{i:04d}", bytearray(make_bmp(16 + i % 16, 8 + i % 8, (c, c, c))), "bmp")
            )
    df = spark.createDataFrame(
        rows, "item_id string, payload binary, fmt string"
    ).repartition(spark.sparkContext.defaultParallelism)
    out = image_features(df)
    return out.select(
        "item_id",
        "width",
        "height",
        "n_channels",
        F.round("mean_luma", 4).alias("mean_luma"),
        "ahash",  # solid-color images: no cell exceeds the mean → 0
        F.col("decode_ok").cast("int").alias("decode_ok"),
    )


Q40_SQL = """
WITH idx AS (SELECT unnest(generate_series(0, 239)) AS i)
SELECT 'img_' || lpad(CAST(i AS VARCHAR), 4, '0') AS item_id,
       CASE WHEN i % 17 = 0 THEN NULL ELSE CAST(16 + i % 16 AS INT) END AS width,
       CASE WHEN i % 17 = 0 THEN NULL ELSE CAST(8 + i % 8 AS INT) END AS height,
       CASE WHEN i % 17 = 0 THEN NULL ELSE 3 END AS n_channels,
       CASE WHEN i % 17 = 0 THEN NULL ELSE CAST((i * 7) % 256 AS DOUBLE) END AS mean_luma,
       CASE WHEN i % 17 = 0 THEN NULL ELSE 0 END AS ahash,
       CAST(i % 17 <> 0 AS INT) AS decode_ok
FROM idx
"""


def q41_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling over binary payloads (multimodal plumbing):
    every-5th-frame sampling inside mapInPandas, narrow rows out; every
    13th item is a corrupt 'mp4' exercising the stubbed-codec path.
    Synthesized in-session with closed-form per-frame luma so the DuckDB
    oracle reproduces the sampled features arithmetically."""
    w, h = 4, 4
    rows = []
    for i in range(60):
        if i % 13 == 0:
            rows.append((f"vid_{i:04d}", bytearray(b"\x00\x00mp4garbage"), "mp4"))
            continue
        n = 12 + i % 10
        frames = b"".join(bytes([(i * 5 + j * 3) % 256]) * (w * h) for j in range(n))
        payload = (
            w.to_bytes(4, "little") + h.to_bytes(4, "little") + n.to_bytes(4, "little") + frames
        )
        rows.append((f"vid_{i:04d}", bytearray(payload), "rawgray_video"))
    df = spark.createDataFrame(
        rows, "item_id string, payload binary, fmt string"
    ).repartition(spark.sparkContext.defaultParallelism)
    return sample_frames(df).withColumn(
        "decode_ok", F.col("decode_ok").cast("int")
    )


Q41_SQL = """
WITH v AS (SELECT unnest(generate_series(0, 59)) AS i),
f AS (SELECT i, unnest(generate_series(0, 11 + i % 10)) AS j FROM v WHERE i % 13 <> 0)
SELECT 'vid_' || lpad(CAST(i AS VARCHAR), 4, '0') AS item_id,
       CAST(j AS INT) AS frame_idx,
       CAST((i * 5 + j * 3) % 256 AS DOUBLE) AS mean_luma,
       1 AS decode_ok
FROM f WHERE j % 5 = 0
UNION ALL
SELECT 'vid_' || lpad(CAST(i AS VARCHAR), 4, '0'), NULL, NULL, 0
FROM v WHERE i % 13 = 0
"""
