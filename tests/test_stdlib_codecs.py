"""Real stdlib media codecs (multimodal.py): PNG (all five filter
types), netpbm, BMP, and RIFF/WAV PCM — fixtures are self-encoded so
no media library is needed to prove decode correctness."""

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from needle_spark.operators.multimodal import (
    _decode_audio_wave,
    _decode_bmp,
    _decode_image_stdlib,
    _decode_netpbm,
    _decode_png,
)


# ===================================================================
# PNG encode helper (filter type selectable per row)
# ===================================================================

def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + ctype + payload +
            struct.pack(">I", zlib.crc32(ctype + payload)))


def encode_png(img: np.ndarray, filters: list[int] | None = None) -> bytes:
    """Minimal PNG encoder for fixtures: applies the requested filter
    type per row (default 0 = None) so every defilter path is
    exercised."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        row = img[y].reshape(-1).astype(np.int32)
        ftype = (filters or [0] * h)[y]
        raw.append(ftype)
        if ftype == 0:
            enc = row
        elif ftype == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - left) % 256
        elif ftype == 2:
            enc = (row - prev) % 256
        elif ftype == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])
            enc = (row - ((left + prev) >> 1)) % 256
        elif ftype == 4:
            enc = np.empty_like(row)
            for x in range(len(row)):
                a = int(row[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                enc[x] = (int(row[x]) - pred) % 256
        raw.extend(int(v) & 0xFF for v in enc)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) +
            _png_chunk(b"IDAT", zlib.compress(bytes(raw))) +
            _png_chunk(b"IEND", b""))


@pytest.mark.parametrize("filters", [[0, 0, 0, 0], [1, 1, 1, 1],
                                     [2, 2, 2, 2], [3, 3, 3, 3],
                                     [4, 4, 4, 4], [0, 1, 2, 3]])
@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_png_roundtrip_gray_filters(filters):
    rng = np.random.default_rng(42)
    img = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    got = _decode_png(encode_png(img, filters))
    assert np.array_equal(got, img)


@pytest.mark.parametrize("channels", [2, 3, 4])
@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_png_roundtrip_multichannel(channels):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, channels), dtype=np.uint8)
    got = _decode_png(encode_png(img, [4, 3, 2, 1, 0]))
    assert got.shape == img.shape
    assert np.array_equal(got, img)


def test_png_rejects_unsupported():
    with pytest.raises(ValueError):
        _decode_png(b"nope")
    # 16-bit depth refused honestly
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) +
            _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="depth"):
        _decode_png(data)


# ===================================================================
# netpbm
# ===================================================================

def test_netpbm_binary_gray_and_rgb():
    g = _decode_netpbm(b"P5 3 2 255\n" + bytes(range(6)))
    assert g.shape == (2, 3) and g[1, 2] == 5
    rgb = _decode_netpbm(b"P6 2 1 255\n" + bytes(range(6)))
    assert rgb.shape == (1, 2, 3) and rgb[0, 1, 2] == 5


def test_netpbm_ascii_and_comments_and_maxval():
    g = _decode_netpbm(b"P2\n# comment line\n2 2\n100\n0 50 100 25\n")
    # maxval 100 rescales to 255
    assert g.shape == (2, 2)
    assert g[0, 1] == round(50 * 255 / 100)
    assert g[1, 0] == 255


# ===================================================================
# BMP
# ===================================================================

def encode_bmp24(img: np.ndarray, top_down: bool = False) -> bytes:
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    raster = bytearray()
    rows = range(h) if top_down else range(h - 1, -1, -1)
    for y in rows:
        row = img[y][:, [2, 1, 0]].astype(np.uint8).tobytes()
        raster += row + b"\x00" * (stride - len(row))
    header_h = -h if top_down else h
    info = struct.pack("<IiiHHIIiiII", 40, w, header_h, 1, 24, 0,
                       len(raster), 2835, 2835, 0, 0)
    off = 14 + 40
    filehdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    return filehdr + info + bytes(raster)


@pytest.mark.parametrize("top_down", [False, True])
def test_bmp_roundtrip(top_down):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(3, 5, 3), dtype=np.uint8)
    got = _decode_bmp(encode_bmp24(img, top_down))
    assert np.array_equal(got, img)


def test_bmp_rejects_compressed():
    with pytest.raises(ValueError):
        _decode_bmp(b"XX")


# ===================================================================
# magic dispatch
# ===================================================================

def test_image_stdlib_dispatch():
    img = np.full((2, 2), 9, dtype=np.uint8)
    assert _decode_image_stdlib(encode_png(img), "image/png")[0, 0] == 9
    assert _decode_image_stdlib(b"P5 1 1 255\n\x07", "x")[0, 0] == 7
    with pytest.raises(ValueError, match="cannot decode"):
        _decode_image_stdlib(b"\xff\xd8jpegdata", "image/jpeg")


# ===================================================================
# WAV
# ===================================================================

def encode_wav(samples: np.ndarray, sampwidth: int, rate: int = 16000,
               channels: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(sampwidth)
        w.setframerate(rate)
        if sampwidth == 1:
            raw = (np.clip(samples, -1, 1) * 127 + 128).astype(np.uint8)
        elif sampwidth == 2:
            raw = (np.clip(samples, -1, 1) * 32767).astype("<i2")
        else:
            raw = (np.clip(samples, -1, 1) * 2147483647).astype("<i4")
        w.writeframes(raw.tobytes())
    return buf.getvalue()


@pytest.mark.parametrize("width,tol", [(1, 1e-2), (2, 1e-4), (4, 1e-7)])
def test_wav_pcm_widths(width, tol):
    t = np.linspace(0, 1, 100)
    sig = 0.5 * np.sin(2 * np.pi * 5 * t)
    got = _decode_audio_wave(encode_wav(sig, width), "audio/wav")
    assert got.shape == (100,)
    assert np.abs(got - sig).max() < tol + 1e-2 / (1 << (8 * (width - 1)))


def test_wav_stereo_shape():
    sig = np.stack([np.ones(10) * 0.25, -np.ones(10) * 0.25], axis=1)
    data = encode_wav(sig.reshape(-1), 2, channels=2)
    got = _decode_audio_wave(data, "audio/wav")
    assert got.shape == (10, 2)
    assert np.allclose(got[:, 0], 0.25, atol=1e-4)
    assert np.allclose(got[:, 1], -0.25, atol=1e-4)


def test_wav_float32_format():
    sig = (np.linspace(-1, 1, 16)).astype("<f4")
    hdr_fmt = struct.pack("<HHIIHH", 3, 1, 16000, 16000 * 4, 4, 32)
    data = (b"RIFF" + struct.pack("<I", 36 + sig.nbytes) + b"WAVE" +
            b"fmt " + struct.pack("<I", len(hdr_fmt)) + hdr_fmt +
            b"data" + struct.pack("<I", sig.nbytes) + sig.tobytes())
    got = _decode_audio_wave(data, "audio/wav")
    assert np.allclose(got, sig)


def test_wav_rejects_non_riff():
    with pytest.raises(ValueError, match="RIFF"):
        _decode_audio_wave(b"ID3\x03mp3data", "audio/mp3")


# ===================================================================
# end-to-end through the Spark operators
# ===================================================================

def test_real_codecs_through_operators(spark):
    from needle_spark.operators.multimodal import (
        audio_features,
        image_features,
        make_media_df,
    )

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    sig = 0.5 * np.ones(256)
    media = make_media_df(spark, [
        ("p1", "image", "image/png", encode_png(img), (4, 4, None, None)),
        ("w1", "audio", "audio/wav", encode_wav(sig, 2),
         (None, None, 16, 16000)),
    ])
    feats = image_features(media.filter("kind = 'image'")).first()
    assert feats["decoded_h"] == 4 and feats["mean_intensity"] == 7.5
    au = audio_features(media.filter("kind = 'audio'")).first()
    assert au["n_samples"] == 256
    assert abs(au["rms"] - 0.5) < 1e-3
    assert abs(au["peak"] - 0.5) < 1e-3


# ===================================================================
# image transforms
# ===================================================================

def test_resize_nearest_and_bilinear():
    from needle_spark.operators.multimodal import resize_image

    img = np.arange(16, dtype=np.uint8).reshape(4, 4)
    up = resize_image(img, 8, 8, "nearest")
    assert up.shape == (8, 8)
    assert up[0, 0] == img[0, 0] and up[7, 7] == img[3, 3]
    down = resize_image(img, 2, 2, "bilinear")
    assert down.shape == (2, 2)
    assert int(down[0, 0]) < int(down[1, 1])  # gradient preserved
    # constant image stays constant under bilinear
    flat = resize_image(np.full((5, 7), 42, np.uint8), 3, 4, "bilinear")
    assert (flat == 42).all()
    with pytest.raises(ValueError):
        resize_image(img, 2, 2, "lanczos")


def test_grayscale_and_ahash():
    from needle_spark.operators.multimodal import average_hash, to_grayscale

    rgb = np.zeros((2, 2, 3), dtype=np.uint8)
    rgb[..., 1] = 255  # pure green
    g = to_grayscale(rgb)
    assert g.shape == (2, 2) and abs(int(g[0, 0]) - 150) <= 1  # 0.587*255

    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    h1 = average_hash(img)
    assert average_hash(img) == h1  # deterministic
    # small perturbation: hash stays within a few bits
    noisy = np.clip(img.astype(int) + rng.integers(-4, 5, img.shape),
                    0, 255).astype(np.uint8)
    ham = bin((h1 ^ average_hash(noisy)) & ((1 << 64) - 1)).count("1")
    assert ham <= 6
    # unrelated image: far in hamming space
    other = rng.integers(0, 256, (32, 32), dtype=np.uint8)
    ham2 = bin((h1 ^ average_hash(other)) & ((1 << 64) - 1)).count("1")
    assert ham2 > 10


def test_pixel_embedding_normalized():
    from needle_spark.operators.multimodal import image_pixel_embedding

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    v = np.array(image_pixel_embedding(img, size=8))
    assert v.shape == (64,)
    assert abs(np.linalg.norm(v) - 1.0) < 1e-9


def test_image_transform_features_and_neardup(spark):
    from needle_spark.operators.multimodal import (
        image_neardup_pairs,
        image_transform_features,
        make_media_df,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    near = np.clip(base.astype(int) + rng.integers(-3, 4, base.shape),
                   0, 255).astype(np.uint8)
    other = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    media = make_media_df(spark, [
        ("a", "image", "image/png", encode_png(base), (24, 24, None, None)),
        ("b", "image", "image/png", encode_png(near), (24, 24, None, None)),
        ("c", "image", "image/png", encode_png(other), (24, 24, None, None)),
    ])
    feats = image_transform_features(media, resize_to=(12, 12)).cache()
    rows = {r["media_id"]: r for r in feats.collect()}
    assert rows["a"]["height"] == 24
    assert len(rows["a"]["embedding"]) == 64
    # near-dup pair (a, b) found by banded ahash join; (c) unrelated
    pairs = image_neardup_pairs(feats, max_hamming=6).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [("a", "b")]
    # embeddings also agree: cosine(a,b) >> cosine(a,c)
    va = np.array(rows["a"]["embedding"])
    vb = np.array(rows["b"]["embedding"])
    vc = np.array(rows["c"]["embedding"])
    assert va @ vb > 0.9 > va @ vc
    feats.unpersist()


def test_netpbm_16bit_binary_rejected():
    with pytest.raises(ValueError, match="maxval"):
        _decode_netpbm(b"P5 2 2 65535\n" + bytes(8))


def test_image_neardup_banding_guarantee(spark):
    """8x8-bit banding finds pairs with hamming spread across 4+ of the
    old 16-bit bands (the old 4-band scheme missed these)."""
    from needle_spark.operators.multimodal import image_neardup_pairs

    # craft two hashes differing in exactly 5 bits, one per 16-bit band
    h1 = 0x0123456789ABCDEF
    h2 = h1 ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48) ^ (1 << 8)
    def signed(v):
        return v - (1 << 64) if v >= (1 << 63) else v
    feats = spark.createDataFrame(
        [("x", signed(h1)), ("y", signed(h2))],
        "media_id string, ahash long")
    pairs = image_neardup_pairs(feats, max_hamming=6).collect()
    assert [(p["id_a"], p["id_b"], p["hamming"]) for p in pairs] == \
        [("x", "y", 5)]
    with pytest.raises(ValueError):
        image_neardup_pairs(feats, max_hamming=12)
