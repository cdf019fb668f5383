"""Multimodal (image/audio/video) column support for training-data
pipelines.

Design: media rides as an opaque `binary` column plus a typed metadata
struct — the same convention as large-scale multimodal datasets
(WebDataset/Parquet blobs).  Codec tiers, highest priority first:

1. library tier (priority 10) — Pillow / soundfile, wired by
   `probe_codecs()` whenever those imports succeed; covers compressed
   formats (JPEG/GIF/WebP/FLAC/OGG/MP3);
2. stdlib tier (priority 5, ALWAYS available) — real decoders with
   zero external dependencies: PNG (zlib + per-row defilter), netpbm
   P2/P3/P5/P6, uncompressed BMP, RIFF/WAV PCM + float32;
3. deterministic fallbacks (priority 0) — a hash-derived fake image
   and an honestly-raising audio stub.

Operators resolve their decode function from `DEFAULT_CODECS` at
plan-build time, so production can still override everything with
`DEFAULT_CODECS.register("image_decode", my_fn, "mylib", priority=20)`.
Image transforms (resize/grayscale/average-hash/pixel embeddings) are
pure numpy and run in the same mapInPandas pass as decode.

Scale notes:
- blobs make rows big: keep `spark.sql.files.maxPartitionBytes` in mind
  and use `media_repartition` to bound decoded-batch memory;
- decode is mapInPandas so one Arrow batch of blobs is decoded per
  python invocation — batch size is controlled by
  spark.sql.execution.arrow.maxRecordsPerBatch, not row count
  assumptions in the UDF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.StringType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("mime", T.StringType()),
    T.StructField("data", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
    ])),
])


def make_media_df(spark, rows) -> DataFrame:
    """rows: (media_id, kind, mime, bytes, (w, h, dur, sr)) tuples."""
    return spark.createDataFrame(
        [(i, k, m, d, meta) for i, k, m, d, meta in rows], MEDIA_SCHEMA
    )


def media_repartition(df: DataFrame, target_bytes_per_partition: int = 128 << 20,
                      data_col: str = "data") -> DataFrame:
    """Bound decode-batch memory by BLOB BYTES (row count is the wrong
    proxy when blob sizes vary 1000x): one pass sums `length(data)`,
    then repartitions so each partition carries ~target bytes.  The
    sizing job reads only the blob-length column statistics-style scan,
    not the decoded content."""
    total = df.select(
        F.sum(F.coalesce(F.length(F.col(data_col)), F.lit(0))).alias("b")
    ).first()["b"] or 0
    parts = max(1, int((total + target_bytes_per_partition - 1)
                       // target_bytes_per_partition))
    return df.repartition(parts)


# ----------------------------------------------------- codec registry

class CodecRegistry:
    """Priority registry mapping an operation name ("image_decode",
    "audio_decode", ...) to decode callables `(bytes, mime) -> ndarray`.

    Spark contract: `resolve()` runs on the DRIVER at plan-build time
    and the returned function is captured in the UDF closure, so it
    must be a module-level (picklable) function; heavy imports belong
    INSIDE the function body so executors import them lazily.  The
    registry object itself never ships to executors."""

    def __init__(self) -> None:
        self._ops: dict[str, list[tuple[int, str, object]]] = {}

    def register(self, op: str, fn, provider: str, priority: int = 0) -> None:
        entries = [e for e in self._ops.get(op, []) if e[1] != provider]
        entries.append((priority, provider, fn))
        entries.sort(key=lambda e: -e[0])
        self._ops[op] = entries

    def unregister(self, op: str, provider: str) -> None:
        self._ops[op] = [e for e in self._ops.get(op, [])
                         if e[1] != provider]

    def resolve(self, op: str):
        """Highest-priority codec for `op` (ties: latest registration)."""
        entries = self._ops.get(op)
        if not entries:
            raise KeyError(f"no codec registered for {op!r}")
        return entries[0][2]

    def providers(self, op: str) -> list[str]:
        return [provider for _, provider, _ in self._ops.get(op, [])]


def _decode_image_fake(data: bytes, mime: str) -> np.ndarray:
    """Deterministic fake (priority-0 fallback): derives a 4x4 gray
    image from the blob hash so pipelines are testable end-to-end
    without Pillow."""
    import zlib

    h = zlib.crc32(data)
    return np.full((4, 4), h % 256, dtype=np.uint8)


def _decode_audio_stub(data: bytes, mime: str) -> np.ndarray:
    """Priority-0 fallback: audio has no meaningful deterministic fake
    (sample streams feed DSP downstream), so absent a real codec this
    raises instead of fabricating samples."""
    raise NotImplementedError(
        "audio decode requires a registered codec (soundfile/ffmpeg); "
        "run probe_codecs() or DEFAULT_CODECS.register('audio_decode', ...)")


def _decode_image_pillow(data: bytes, mime: str) -> np.ndarray:
    import io

    from PIL import Image  # noqa: executor-side lazy import

    return np.asarray(Image.open(io.BytesIO(data)))


def _decode_audio_soundfile(data: bytes, mime: str) -> np.ndarray:
    import io

    import soundfile  # noqa: executor-side lazy import

    samples, _sr = soundfile.read(io.BytesIO(data))
    return np.asarray(samples, dtype=np.float32)


# ----------------------------------------------- stdlib real codecs --
# REAL decoders with zero external dependencies (priority 5 — above the
# fakes, below Pillow/soundfile when those exist).  Formats covered:
# PNG (8-bit gray/RGB/RGBA, non-interlaced — zlib + per-row defilter),
# netpbm P2/P3/P5/P6, uncompressed 24/32-bit BMP, and RIFF/WAV PCM
# (8/16/32-bit + float32) via the stdlib `wave` module.

def _decode_png(data: bytes) -> np.ndarray:
    """Minimal PNG decoder: IHDR + concatenated IDAT -> zlib inflate ->
    reverse per-row filters (types 0-4, the full spec set).  Supports
    bit depth 8, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), non-interlaced."""
    import struct
    import zlib

    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, width = 8, None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        chunk = data[pos + 8:pos + 8 + length]
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = \
                struct.unpack(">IIBBBBB", chunk)
            if depth != 8 or interlace != 0:
                raise ValueError(
                    f"unsupported PNG (depth={depth}, interlace={interlace})")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
            if channels is None:
                raise ValueError(f"unsupported PNG color type {color}")
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride = width * channels
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    bpp = channels
    off = 0
    for y in range(height):
        ftype = raw[off]
        row = np.frombuffer(raw, dtype=np.uint8,
                            count=stride, offset=off + 1).copy()
        off += 1 + stride
        if ftype == 1:    # Sub: per-lane running sum, wrapping mod 256
            row = np.cumsum(row.reshape(-1, bpp), axis=0,
                            dtype=np.uint8).reshape(-1)
        elif ftype == 2:  # Up
            row = (row.astype(np.uint16) + prev) & 0xFF
            row = row.astype(np.uint8)
        elif ftype == 3:  # Average
            for x in range(stride):
                left = int(row[x - bpp]) if x >= bpp else 0
                row[x] = (int(row[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for x in range(stride):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                row[x] = (int(row[x]) + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = row
        prev = out[y]
    img = out.reshape(height, width, channels)
    return img[:, :, 0] if channels == 1 else img


def _decode_netpbm(data: bytes) -> np.ndarray:
    """netpbm P2/P3 (ASCII) and P5/P6 (binary) gray/RGB images."""
    magic = data[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError("not a netpbm image")
    # header tokens (comments stripped), then raster
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(data) and data[pos:pos + 1].isspace():
            pos += 1
        if data[pos:pos + 1] == b"#":
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and not data[pos:pos + 1].isspace():
            pos += 1
        tokens.append(int(data[start:pos]))
    width, height, maxval = tokens
    channels = 3 if magic in (b"P3", b"P6") else 1
    n = width * height * channels
    if magic in (b"P5", b"P6"):
        if maxval > 255:
            raise ValueError(
                f"binary netpbm with maxval {maxval} uses 2-byte samples "
                "(unsupported); re-encode at maxval <= 255")
        raster = np.frombuffer(data, dtype=np.uint8, count=n, offset=pos + 1)
    else:
        raster = np.array(data[pos:].split()[:n], dtype=np.uint16)
    # integer rescale to 8-bit (exact rounding, no float artifacts)
    img = ((raster.astype(np.uint32) * 255 + maxval // 2) // maxval) \
        .astype(np.uint8).reshape(height, width, channels)
    return img[:, :, 0] if channels == 1 else img


def _decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BI_RGB BMP (bottom-up or top-down)."""
    import struct

    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pixel_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise ValueError("unsupported BMP header")
    width, height = struct.unpack("<ii", data[18:26])
    bpp, compression = struct.unpack("<HI", data[28:34])
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    top_down = height < 0
    height = abs(height)
    nch = bpp // 8
    stride = (width * nch + 3) & ~3
    img = np.empty((height, width, 3), dtype=np.uint8)
    for y in range(height):
        row = np.frombuffer(data, dtype=np.uint8, count=width * nch,
                            offset=pixel_off + y * stride)
        row = row.reshape(width, nch)
        dst = y if top_down else height - 1 - y
        img[dst] = row[:, [2, 1, 0]]  # BGR(A) -> RGB
    return img


def _decode_image_stdlib(data: bytes, mime: str) -> np.ndarray:
    """Dispatch on magic bytes: PNG / netpbm / BMP, no external libs."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    if data[:2] in (b"P2", b"P3", b"P5", b"P6"):
        return _decode_netpbm(data)
    if data[:2] == b"BM":
        return _decode_bmp(data)
    raise ValueError(
        f"stdlib codec cannot decode this format (mime={mime!r}); "
        "register a Pillow codec for JPEG/GIF/WebP")


def _decode_audio_wave(data: bytes, mime: str) -> np.ndarray:
    """RIFF/WAV PCM decode via the stdlib `wave` module: 8/16/32-bit
    integer PCM normalized to [-1, 1] float32; IEEE float32 WAVs are
    read directly via the RIFF fmt chunk.  Mono -> 1-D, multichannel ->
    (frames, channels), matching soundfile.read's shape contract."""
    import io
    import struct
    import wave

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError(
            f"stdlib codec only decodes RIFF/WAV (mime={mime!r}); "
            "register soundfile/ffmpeg for compressed audio")
    # detect IEEE-float format (wave module rejects format tag 3)
    fmt_tag = None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos:pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if cid == b"fmt ":
            (fmt_tag,) = struct.unpack("<H", data[pos + 8:pos + 10])
            if fmt_tag == 3:
                (channels,) = struct.unpack("<H", data[pos + 10:pos + 12])
        if cid == b"data" and fmt_tag == 3:
            samples = np.frombuffer(
                data, dtype="<f4", count=clen // 4, offset=pos + 8)
            return samples.reshape(-1, channels).squeeze().astype(np.float32)
        pos += 8 + clen + (clen & 1)
    with wave.open(io.BytesIO(data)) as w:
        nch, sw, _fr, nframes = (w.getnchannels(), w.getsampwidth(),
                                 w.getframerate(), w.getnframes())
        raw = w.readframes(nframes)
    if sw == 1:   # unsigned 8-bit
        x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
             - 128.0) / 128.0
    elif sw == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
    elif sw == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return x.reshape(-1, nch).squeeze().astype(np.float32)


DEFAULT_CODECS = CodecRegistry()
DEFAULT_CODECS.register("image_decode", _decode_image_fake, "fake", 0)
DEFAULT_CODECS.register("audio_decode", _decode_audio_stub, "stub", 0)
DEFAULT_CODECS.register("image_decode", _decode_image_stdlib, "stdlib", 5)
DEFAULT_CODECS.register("audio_decode", _decode_audio_wave, "stdlib", 5)


def probe_codecs(registry: CodecRegistry | None = None) -> dict[str, str]:
    """Register real codecs for every media library that imports
    cleanly (call once at startup in production; harmless when nothing
    is installed).  Returns {operation: provider} for what was wired."""
    reg = registry if registry is not None else DEFAULT_CODECS
    wired: dict[str, str] = {}
    try:
        import PIL  # noqa: F401
        reg.register("image_decode", _decode_image_pillow, "pillow", 10)
        wired["image_decode"] = "pillow"
    except ImportError:
        pass
    try:
        import soundfile  # noqa: F401
        reg.register("audio_decode", _decode_audio_soundfile, "soundfile", 10)
        wired["audio_decode"] = "soundfile"
    except ImportError:
        pass
    return wired


# ------------------------------------------------------- operators ---

def image_features(
    df: DataFrame,
    data_col: str = "data",
    mime_col: str = "mime",
    id_col: str = "media_id",
    codec=None,
) -> DataFrame:
    """Decode images and emit per-image features (mean/std intensity +
    dims).  Real mapInPandas plumbing; decode comes from the codec
    registry (deterministic fake unless a real one is registered)."""
    decode = codec if codec is not None else DEFAULT_CODECS.resolve(
        "image_decode")
    schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("std_intensity", T.DoubleType()),
        T.StructField("decoded_h", T.IntegerType()),
        T.StructField("decoded_w", T.IntegerType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "mean_intensity": [], "std_intensity": [],
                   "decoded_h": [], "decoded_w": []}
            for mid, blob, mime in zip(pdf[id_col], pdf[data_col], pdf[mime_col]):
                img = decode(bytes(blob), mime)
                out[id_col].append(mid)
                out["mean_intensity"].append(float(img.mean()))
                out["std_intensity"].append(float(img.std()))
                out["decoded_h"].append(int(img.shape[0]))
                out["decoded_w"].append(int(img.shape[1]))
            yield pd.DataFrame(out)

    return df.select(id_col, data_col, mime_col).mapInPandas(kernel, schema)


def audio_features(
    df: DataFrame,
    data_col: str = "data",
    mime_col: str = "mime",
    id_col: str = "media_id",
    codec=None,
) -> DataFrame:
    """Decode audio and emit per-clip sample stats (n_samples, RMS,
    peak).  Same registry contract as image_features: with only the
    default stub registered this raises NotImplementedError AT
    EXECUTION (the plan builds fine), which is the honest sandbox
    behavior — register a soundfile/ffmpeg codec to light it up."""
    decode = codec if codec is not None else DEFAULT_CODECS.resolve(
        "audio_decode")
    schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "n_samples": [], "rms": [], "peak": []}
            for mid, blob, mime in zip(pdf[id_col], pdf[data_col], pdf[mime_col]):
                samples = np.asarray(
                    decode(bytes(blob), mime), dtype=np.float64).ravel()
                out[id_col].append(mid)
                out["n_samples"].append(int(samples.size))
                out["rms"].append(
                    float(np.sqrt(np.mean(samples ** 2))) if samples.size else 0.0)
                out["peak"].append(
                    float(np.abs(samples).max()) if samples.size else 0.0)
            yield pd.DataFrame(out)

    return df.select(id_col, data_col, mime_col).mapInPandas(kernel, schema)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "media_id",
) -> DataFrame:
    """Expand each video row into (media_id, frame_ts_ms) sampling rows —
    the explode side of frame extraction is pure Spark (sequence +
    explode); actual frame decode would join this plan against the blob
    via the stubbed decoder."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Blob-size/meta profile per kind — pure relational, no decode."""
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.length("data")).alias("total_bytes"),
            F.min(F.length("data")).alias("min_bytes"),
            F.max(F.length("data")).alias("max_bytes"),
            F.avg("meta.duration_ms").alias("avg_duration_ms"),
        )
        .orderBy("kind")
    )


# -------------------------------------------- real image transforms --
# numpy-only transforms composing with the stdlib codecs: resize
# (nearest / bilinear), grayscale, average-hash, and pixel embeddings.
# All run inside the same mapInPandas decode pass — one Arrow batch of
# blobs in, features out, nothing re-crosses the JVM boundary.

def resize_image(img: np.ndarray, height: int, width: int,
                 method: str = "bilinear") -> np.ndarray:
    """Resize HxW[xC] uint8 to (height, width) — nearest or bilinear,
    pure numpy (vectorized gather / lerp)."""
    if img.ndim == 2:
        img = img[:, :, None]
        squeeze = True
    else:
        squeeze = False
    h, w, c = img.shape
    if method == "nearest":
        ys = np.minimum((np.arange(height) * h / height).astype(int), h - 1)
        xs = np.minimum((np.arange(width) * w / width).astype(int), w - 1)
        out = img[ys][:, xs]
    elif method == "bilinear":
        fy = (np.arange(height) + 0.5) * h / height - 0.5
        fx = (np.arange(width) + 0.5) * w / width - 0.5
        y0 = np.clip(np.floor(fy).astype(int), 0, h - 1)
        x0 = np.clip(np.floor(fx).astype(int), 0, w - 1)
        y1 = np.minimum(y0 + 1, h - 1)
        x1 = np.minimum(x0 + 1, w - 1)
        wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
        wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
        f = img.astype(np.float64)
        top = f[y0][:, x0] * (1 - wx) + f[y0][:, x1] * wx
        bot = f[y1][:, x0] * (1 - wx) + f[y1][:, x1] * wx
        out = (top * (1 - wy) + bot * wy).round().astype(np.uint8)
    else:
        raise ValueError(f"unknown resize method: {method!r}")
    return out[:, :, 0] if squeeze else out


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """ITU-R BT.601 luma; alpha ignored."""
    if img.ndim == 2:
        return img
    rgb = img[:, :, :3].astype(np.float64)
    return (rgb @ np.array([0.299, 0.587, 0.114])).round().astype(np.uint8)


def average_hash(img: np.ndarray, hash_size: int = 8) -> int:
    """Perceptual average-hash: downscale to hash_size^2 gray, threshold
    at the mean -> one bit per cell (near-duplicate images land within
    a few hamming bits)."""
    small = resize_image(to_grayscale(img), hash_size, hash_size, "bilinear")
    bits = (small.astype(np.float64) > small.mean()).reshape(-1)
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    # fold to signed 64-bit so it stores in a LongType column
    return v - (1 << 64) if v >= (1 << 63) else v


def image_pixel_embedding(img: np.ndarray, size: int = 8) -> list[float]:
    """L2-normalized downscaled-gray pixel embedding (size^2 dims) —
    feeds the kNN / near-dup operators directly."""
    small = resize_image(to_grayscale(img), size, size, "bilinear")
    v = small.astype(np.float64).reshape(-1)
    v = v - v.mean()
    n = float(np.sqrt((v * v).sum()))
    return (v / n).tolist() if n > 0 else v.tolist()


def image_transform_features(
    df: DataFrame,
    data_col: str = "data",
    mime_col: str = "mime",
    id_col: str = "media_id",
    resize_to: tuple[int, int] = (32, 32),
    embed_size: int = 8,
    codec=None,
) -> DataFrame:
    """Decode -> resize -> grayscale -> ahash + pixel embedding, all in
    ONE mapInPandas pass: (id, h, w, resized_mean, ahash, embedding).
    The embedding column plugs straight into operators/knn.py and
    dedup.embedding-near-dup for image-level dedup at corpus scale."""
    decode = codec if codec is not None else DEFAULT_CODECS.resolve(
        "image_decode")
    rh, rw = resize_to
    schema = T.StructType([
        T.StructField(id_col, T.StringType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("resized_mean", T.DoubleType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {id_col: [], "height": [], "width": [],
                   "resized_mean": [], "ahash": [], "embedding": []}
            for mid, blob, mime in zip(pdf[id_col], pdf[data_col],
                                       pdf[mime_col]):
                img = decode(bytes(blob), mime)
                resized = resize_image(img, rh, rw)
                out[id_col].append(mid)
                out["height"].append(int(img.shape[0]))
                out["width"].append(int(img.shape[1]))
                out["resized_mean"].append(float(resized.mean()))
                out["ahash"].append(average_hash(img))
                out["embedding"].append(
                    [float(x) for x in image_pixel_embedding(img, embed_size)])
            yield pd.DataFrame(out)

    return df.select(id_col, data_col, mime_col).mapInPandas(kernel, schema)


def image_neardup_pairs(features: DataFrame, max_hamming: int = 6,
                        id_col: str = "media_id",
                        hash_col: str = "ahash") -> DataFrame:
    """Near-duplicate image pairs by average-hash hamming distance,
    banded for scale: the 64-bit hash splits into 8 x 8-bit bands and
    only pairs sharing at least one band compare (pigeonhole: hamming
    <= 7 cannot touch all 8 bands, so every pair within the default
    max_hamming=6 shares a band) — the SimHash shape from
    operators/dedup.py applied to images."""
    if max_hamming > 7:
        raise ValueError(
            "8x8-bit banding only guarantees pairs with hamming <= 7; "
            f"max_hamming={max_hamming} would silently miss candidates")
    bands = []
    h = F.col(hash_col)
    for b in range(8):
        bands.append(F.struct(
            F.lit(b).alias("band"),
            F.shiftright(h, b * 8).bitwiseAND(F.lit(0xFF)).alias("key")))
    banded = features.select(
        F.col(id_col), h.alias("__h"),
        F.explode(F.array(*bands)).alias("bk"))
    a = banded.select(F.col(id_col).alias("id_a"), F.col("__h").alias("h_a"),
                      "bk")
    b2 = banded.select(F.col(id_col).alias("id_b"), F.col("__h").alias("h_b"),
                       "bk")
    pairs = (a.join(b2, ["bk"])
             .filter(F.col("id_a") < F.col("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (pairs.withColumn("hamming", ham)
            .filter(F.col("hamming") <= int(max_hamming))
            .select("id_a", "id_b", "hamming"))
