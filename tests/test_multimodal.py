"""Multimodal tests: schemas, partitioning, Arrow batch shapes, and
operator composition. JPEG/WAV/BMP/PPM decode for real (round-trip
tests on synthesized payloads below — no media libraries in the
container); unsupported codecs surface typed per-row errors instead
of aborting the job.
"""

from __future__ import annotations

import io
import os
import struct
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.codec import (
    MsbWriter,
    UnsupportedCodecError,
    lzw_decode,
    lzw_encode,
)
from flink_precisely_demo_spark.operators.jpeg import decode_jpeg, encode_jpeg
from flink_precisely_demo_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    _decode_bmp,
    _decode_ppm,
    _decode_wav,
    audio_features,
    image_features,
)


def _grad_img(h: int, w: int, seed: int = 0) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(yy * 3 + seed) % 256, (xx * 2 + seed) % 256,
                     ((yy + xx) * 2 + seed) % 256], axis=-1).astype(np.uint8)


def _meta(mt: str, fmt: str) -> dict:
    return {"media_type": mt, "format": fmt, "width": None, "height": None,
            "n_channels": None, "sample_rate": None, "duration_ms": None}


@pytest.fixture()
def media(spark):
    """20 rows: real JPEG images, real WAV audio, stub-frame video."""
    rows = []
    for i in range(20):
        mt = ["image", "audio", "video"][i % 3]
        if mt == "image":
            payload = encode_jpeg(_grad_img(16 + i, 24, seed=i), quality=90)
            fmt = "jpeg"
        elif mt == "audio":
            payload = _encode_wav(
                0.25 * np.sin(np.arange(800) * (0.02 + 0.001 * i)), 8000)
            fmt = "wav"
        else:
            payload = bytes([(i * 37 + j) % 256 for j in range(512)])
            fmt = "mp4"
        rows.append((i, _meta(mt, fmt), payload))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_image_features(media):
    feats = image_features(media).collect()
    assert len(feats) == 7  # i % 3 == 0 -> images
    for r in feats:
        assert r["error"] is None
        assert r["width"] == 24 and r["height"] == 16 + r["media_id"]
        assert r["n_channels"] == 3
        assert 0.0 <= r["mean_luma"] <= 255.0
    # deterministic: same input -> same features
    again = image_features(media).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, again))


def test_audio_features(media):
    feats = audio_features(media).collect()
    assert len(feats) == 7
    for r in feats:
        assert r["error"] is None
        assert r["n_samples"] == 800 and r["sample_rate"] == 8000
        assert 0.0 <= r["rms"] <= 1.0 and r["duration_ms"] == 100


def test_unsupported_codec_is_per_row_error_not_job_abort(spark):
    """Lossy webp (VP8)/mp3 have no codec in this build: their rows
    surface a typed error while the decodable rows in the SAME job
    succeed. (Lossless VP8L webp DOES decode — operators/webp.py —
    so the unsupported fixture is a lossy-VP8 container.)"""
    vp8_lossy = (b"RIFF" + (16).to_bytes(4, "little") + b"WEBP"
                 + b"VP8 " + (4).to_bytes(4, "little") + b"\x00" * 4)
    rows = [
        (1, _meta("image", "jpeg"), encode_jpeg(_grad_img(8, 8))),
        (2, _meta("image", "webp"), vp8_lossy),
        (3, _meta("audio", "wav"),
         _encode_wav(0.5 * np.ones(100), 8000)),
        (4, _meta("audio", "mp3"), b"ID3 fake mp3 bytes"),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    img = {r["media_id"]: r for r in image_features(media).collect()}
    assert img[1]["error"] is None and img[1]["width"] == 8
    assert "UnsupportedCodecError" in img[2]["error"]
    assert img[2]["width"] is None
    aud = {r["media_id"]: r for r in audio_features(media).collect()}
    assert aud[3]["error"] is None and aud[3]["n_samples"] == 100
    assert "UnsupportedCodecError" in aud[4]["error"]


def test_corrupt_payload_is_per_row_error(spark):
    truncated = encode_jpeg(_grad_img(16, 16))[:40]   # headers cut off
    rows = [(1, _meta("image", "jpeg"), truncated),
            (2, _meta("image", "jpeg"), encode_jpeg(_grad_img(8, 8)))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_features(media).collect()}
    assert out[1]["error"] is not None
    assert out[2]["error"] is None


def test_avi_demux_roundtrip_exact():
    """Container round trip is byte-exact (the codec layer is JPEG's
    job; the container must not touch frame bytes)."""
    from flink_precisely_demo_spark.operators.avi import (
        demux_mjpeg_avi,
        mux_mjpeg_avi,
    )

    frames = [encode_jpeg(_grad_img(8, 8, seed=s)) for s in range(3)]
    out, fps = demux_mjpeg_avi(mux_mjpeg_avi(frames, fps=12.5))
    assert out == frames and fps == 12.5


def test_avi_wrong_codec_raises_typed_error():
    from flink_precisely_demo_spark.operators.avi import (
        demux_mjpeg_avi,
        mux_mjpeg_avi,
    )

    avi = bytearray(mux_mjpeg_avi([encode_jpeg(_grad_img(8, 8))]))
    i = avi.index(b"vidsMJPG")
    avi[i + 4:i + 8] = b"H264"
    with pytest.raises(UnsupportedCodecError, match="MJPG"):
        demux_mjpeg_avi(bytes(avi))
    with pytest.raises(UnsupportedCodecError, match="AVI"):
        demux_mjpeg_avi(b"\x00\x01\x02 not riff")


# ------------------------------------------------- real-codec round-trips

def _encode_wav(samples: np.ndarray, rate: int, nch: int = 1) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((samples * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def _encode_bmp(arr: np.ndarray) -> bytes:
    """24-bit uncompressed BMP: BGR rows, bottom-up, 4-byte padded."""
    h, w, _ = arr.shape
    stride = ((w * 3 + 3) // 4) * 4
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # flip + RGB->BGR
    pix = rows.tobytes()
    header = (b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(pix), 0, 0, 0, 0))
    return header + pix


def _encode_ppm(arr: np.ndarray, comment: bool = False) -> bytes:
    h, w, _ = arr.shape
    hdr = b"P6\n" + (b"# synthetic test image\n" if comment else b"")
    return hdr + f"{w} {h}\n255\n".encode() + arr.tobytes()


def _test_img():
    # distinct values per row so a bottom-up/top-down mixup is caught
    return np.array([[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                     [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
                    dtype=np.uint8)


def test_bmp_decode_roundtrip():
    img = _test_img()
    assert np.array_equal(_decode_bmp(_encode_bmp(img)), img)


def test_ppm_decode_roundtrip():
    img = _test_img()
    assert np.array_equal(_decode_ppm(_encode_ppm(img)), img)
    assert np.array_equal(_decode_ppm(_encode_ppm(img, comment=True)), img)


def test_wav_decode_roundtrip():
    t = np.arange(2000) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    samples, rate = _decode_wav(_encode_wav(sine, 8000))
    assert rate == 8000 and len(samples) == 2000
    assert np.allclose(samples, sine, atol=1e-4)
    # stereo mean-mixes to mono
    stereo = np.repeat(sine, 2)
    mixed, _ = _decode_wav(_encode_wav(stereo, 8000, nch=2))
    assert len(mixed) == 2000 and np.allclose(mixed, sine, atol=1e-4)


# --------------------------------------------------- JPEG codec proper

def test_jpeg_roundtrip_444_and_420():
    img = _grad_img(45, 61)   # non-multiple-of-8/16 dims exercise padding
    for sub, tol in (("4:4:4", 2.0), ("4:2:0", 3.0)):
        dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling=sub))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).mean() < tol, sub


def test_jpeg_flat_color_is_exact():
    flat = np.full((16, 16, 3), 120, np.uint8)
    dec = decode_jpeg(encode_jpeg(flat, quality=90))
    assert np.abs(dec.astype(int) - 120).max() <= 1


def test_jpeg_grayscale():
    yy, xx = np.mgrid[0:20, 0:28]
    g = ((yy * 5 + xx * 3) % 256).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(g, quality=95))
    assert dec.shape == (20, 28, 3)
    assert np.array_equal(dec[..., 0], dec[..., 1])   # replicated gray
    assert np.abs(dec[..., 0].astype(int) - g.astype(int)).mean() < 2.0


def test_jpeg_restart_markers():
    img = _grad_img(45, 61)
    for ri in (1, 3):
        dec = decode_jpeg(encode_jpeg(img, quality=95, restart_interval=ri))
        assert np.abs(dec.astype(int) - img.astype(int)).mean() < 2.0
    dec = decode_jpeg(encode_jpeg(img, quality=95, subsampling="4:2:0",
                                  restart_interval=2))
    assert np.abs(dec.astype(int) - img.astype(int)).mean() < 3.0


def test_jpeg_arithmetic_raises_typed_error():
    """An arithmetic-coded stream (SOF9) must raise the typed error,
    not a generic crash — synthesize one by patching the SOF marker.
    (Progressive SOF2 is decoded for real since r6; a baseline scan
    header mislabeled as SOF2 is malformed and raises ValueError.)"""
    enc = bytearray(encode_jpeg(_grad_img(8, 8)))
    i = enc.index(b"\xff\xc0")
    enc[i + 1] = 0xC9
    with pytest.raises(UnsupportedCodecError, match="baseline"):
        decode_jpeg(bytes(enc))
    enc[i + 1] = 0xC2      # SOF2 but baseline scan header (Se=63)
    with pytest.raises(ValueError):
        decode_jpeg(bytes(enc))


def test_jpeg_progressive_through_image_features(spark):
    """Progressive payloads flow through the Spark decode operator
    like any other format: correct dims, null error."""
    from flink_precisely_demo_spark.operators.jpeg import (
        encode_jpeg_progressive,
    )
    from flink_precisely_demo_spark.operators.multimodal import (
        image_features,
    )
    rows = [(1, _meta("image", "jpeg"),
             encode_jpeg_progressive(_grad_img(24, 17), successive=False)),
            (2, _meta("image", "jpeg"),
             encode_jpeg_progressive(_grad_img(9, 31), quality=70,
                                     subsampling="4:2:0",
                                     successive=True))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in image_features(media).collect()}
    assert got[1]["error"] is None and got[2]["error"] is None
    assert (got[1]["height"], got[1]["width"]) == (24, 17)
    assert (got[2]["height"], got[2]["width"]) == (9, 31)


def test_jpeg_not_a_jpeg_raises_valueerror():
    with pytest.raises(ValueError):
        decode_jpeg(b"definitely not a jpeg")


def test_wav_features_through_spark(spark):
    t = np.arange(2000) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    rows = [(1, _meta("audio", "wav"), _encode_wav(sine, 8000))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    (r,) = audio_features(media).collect()
    assert r["n_samples"] == 2000 and r["sample_rate"] == 8000
    assert r["duration_ms"] == 250
    # RMS of a 0.5-amplitude sine = 0.5/sqrt(2)
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 1e-3


def test_bmp_features_through_spark(spark):
    img = _test_img()
    rows = [(1, _meta("image", "bmp"), _encode_bmp(img))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    (r,) = image_features(media).collect()
    assert (r["width"], r["height"], r["n_channels"]) == (3, 2, 3)
    luma = (0.2126 * img[..., 0] + 0.7152 * img[..., 1]
            + 0.0722 * img[..., 2]).mean()
    assert abs(r["mean_luma"] - luma) < 1e-6


def test_jpeg_features_through_spark(spark):
    """End-to-end: encode with our encoder, decode inside the Spark
    operator, verify real dimensions come back."""
    rows = [(i, _meta("image", "jpeg"),
             encode_jpeg(_grad_img(8 * i, 16, seed=i), quality=90))
            for i in range(1, 5)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in image_features(media).collect()}
    assert len(out) == 4
    for i in range(1, 5):
        assert out[i]["error"] is None
        assert (out[i]["width"], out[i]["height"]) == (16, 8 * i)


# --------------------------------------------------- PNG codec proper

def test_png_roundtrip_all_filters():
    """Lossless round trip through every scanline filter type —
    each exercises a distinct unfilter path in the decoder."""
    from flink_precisely_demo_spark.operators.png import (
        decode_png,
        encode_png,
    )
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    for f in range(5):
        assert np.array_equal(decode_png(encode_png(img, filter_type=f)),
                              img), f"filter {f}"


def test_png_grayscale_and_rgba():
    from flink_precisely_demo_spark.operators.png import (
        decode_png,
        encode_png,
    )
    rng = np.random.default_rng(8)
    g = rng.integers(0, 256, (9, 11), dtype=np.uint8)
    dec = decode_png(encode_png(g, filter_type=4))
    assert dec.shape == (9, 11, 3)
    assert np.array_equal(dec[..., 0], g)
    assert np.array_equal(dec[..., 0], dec[..., 2])
    rgba = rng.integers(0, 256, (6, 5, 4), dtype=np.uint8)
    dec = decode_png(encode_png(rgba, filter_type=2))
    assert np.array_equal(dec, rgba[..., :3])     # alpha dropped


def test_png_palette():
    """Hand-built palette PNG (color type 3) resolves through PLTE."""
    import struct
    import zlib

    from flink_precisely_demo_spark.operators.png import decode_png

    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B
    idx = bytes([0, 0, 1, 0, 1, 2, 0, 2, 0])            # 3x2 rows+filter
    raw = b"\x00" + idx[:3] + b"\x00" + idx[3:6] + b"\x00" + idx[6:9]

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 3, 8, 3, 0, 0, 0))
           + chunk(b"PLTE", palette)
           + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    dec = decode_png(png)
    assert dec.shape == (3, 3, 3)
    assert tuple(dec[0, 0]) == (255, 0, 0)
    assert tuple(dec[0, 2]) == (0, 255, 0)
    assert tuple(dec[1, 2]) == (0, 0, 255)


def test_png_unsupported_depth_raises_typed_error():
    """Adam7 interlace decodes since round 6; the remaining typed
    error is bit depth != 8."""
    from flink_precisely_demo_spark.operators.png import (
        decode_png,
        encode_png,
    )
    png = bytearray(encode_png(_grad_img(8, 8)))
    # IHDR data starts at offset 16; depth is its 9th byte
    png[16 + 8] = 16
    with pytest.raises(UnsupportedCodecError, match="8-bit"):
        decode_png(bytes(png))
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_png_features_through_spark(spark):
    from flink_precisely_demo_spark.operators.png import encode_png

    img = _grad_img(12, 20, seed=3)
    rows = [(1, _meta("image", "png"), encode_png(img, filter_type=1))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    (r,) = image_features(media).collect()
    assert r["error"] is None
    assert (r["width"], r["height"]) == (20, 12)
    luma = (0.2126 * img[..., 0] + 0.7152 * img[..., 1]
            + 0.0722 * img[..., 2]).mean()
    assert abs(r["mean_luma"] - luma) < 1e-4


# --------------------------------------------------- GIF codec proper

def test_gif_roundtrip_exact():
    """GIF is lossless for palette-sized content: round trip through
    real LZW (width growth + 4096-dict reset) is pixel-exact."""
    from flink_precisely_demo_spark.operators.gif import (
        decode_gif,
        encode_gif,
    )
    rng = np.random.default_rng(3)
    small = (rng.integers(0, 6, (37, 53), dtype=np.uint8) * 40)
    img = np.stack([small, 255 - small, (small * 2) % 256],
                   axis=-1).astype(np.uint8)
    assert np.array_equal(decode_gif(encode_gif(img)), img)
    # 256 colors + enough pixels to trip the 4096-entry dict reset
    big = rng.integers(0, 256, (300, 300), dtype=np.uint8)
    big3 = np.stack([big, big, big], axis=-1)
    assert np.array_equal(decode_gif(encode_gif(big3)), big3)


def test_gif_interlaced_decode():
    """Hand-build an interlaced GIF (indices stored in Adam-style
    4-pass row order, interlace flag set): the decoder must restore
    natural row order."""
    import struct
    import zlib  # noqa: F401  (parallel with png test imports)

    from flink_precisely_demo_spark.operators.gif import (
        _INTERLACE_PASSES,
        decode_gif,
    )
    h, w = 11, 5
    rng = np.random.default_rng(9)
    idx = rng.integers(0, 4, (h, w), dtype=np.uint8)
    palette = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0],
                        [0, 0, 255]], dtype=np.uint8)
    rows = [r for start, step in _INTERLACE_PASSES
            for r in range(start, h, step)]
    stored = idx[rows].reshape(-1).tolist()

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 1, 0, 0)  # 4-entry table
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)  # interlaced
    out.append(2)                                   # min LZW code size
    lzw = lzw_encode(bytes(stored), 2, msb=False, early=0)   # GIF LZW
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"

    dec = decode_gif(bytes(out))
    assert np.array_equal(dec, palette[idx])


def test_gif_features_through_spark(spark):
    from flink_precisely_demo_spark.operators.gif import encode_gif

    img = (_grad_img(10, 14) // 64) * 64            # <=256 colors
    rows = [(1, _meta("image", "gif"), encode_gif(img))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    (r,) = image_features(media).collect()
    assert r["error"] is None
    assert (r["width"], r["height"]) == (14, 10)


def test_gif_garbage_raises_cleanly():
    from flink_precisely_demo_spark.operators.gif import decode_gif

    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 20)
    with pytest.raises(ValueError):
        decode_gif(b"not a gif")


# -------------------------------------------------- TIFF codec proper

def test_tiff_roundtrip_both_orders_and_packbits():
    from flink_precisely_demo_spark.operators.tiff import (
        decode_tiff,
        encode_tiff,
    )
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (23, 31, 3), dtype=np.uint8)
    for bo in ("<", ">"):
        for pb in (False, True):
            assert np.array_equal(
                decode_tiff(encode_tiff(img, byte_order=bo, packbits=pb)),
                img), (bo, pb)
    g = rng.integers(0, 256, (9, 14), dtype=np.uint8)
    dec = decode_tiff(encode_tiff(g, byte_order=">", packbits=True))
    assert dec.shape == (9, 14, 3)
    assert np.array_equal(dec[..., 0], g)


def test_tiff_unsupported_profiles_raise_typed_error():
    import struct

    from flink_precisely_demo_spark.operators.tiff import (
        decode_tiff,
        encode_tiff,
    )
    t = bytearray(encode_tiff(_grad_img(8, 8)))
    # LZW (5) decodes since round 6; JPEG-in-TIFF (7) stays typed
    i = t.index(struct.pack("<HH", 259, 3))
    t[i + 8:i + 10] = struct.pack("<H", 7)
    with pytest.raises(UnsupportedCodecError, match="compression"):
        decode_tiff(bytes(t))
    # 16-bit samples stay typed (gray image writes the bits tag
    # inline, so it can be patched in place)
    t2 = bytearray(encode_tiff(_grad_img(8, 8)[..., 0]))
    j = t2.index(struct.pack("<HH", 258, 3))
    t2[j + 8:j + 10] = struct.pack("<H", 16)
    with pytest.raises(UnsupportedCodecError, match="8-bit"):
        decode_tiff(bytes(t2))
    with pytest.raises(ValueError):
        decode_tiff(b"not a tiff")


def test_tiff_and_ppm_features_through_spark(spark):
    """The features operator decodes TIFF (both byte orders, raw and
    PackBits) and binary PPM for real."""
    from flink_precisely_demo_spark.operators.tiff import encode_tiff

    img = _grad_img(10, 12)
    rows = [(1, _meta("image", "tiff"), encode_tiff(img, byte_order="<")),
            (2, _meta("image", "tiff"),
             encode_tiff(img, byte_order=">", packbits=True)),
            (3, _meta("image", "ppm"), _encode_ppm(img))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = image_features(media).collect()
    assert len(feats) == 3
    for r in feats:
        assert r["error"] is None
        assert (r["width"], r["height"]) == (12, 10)


# -------------------------------------------------- FLAC codec proper

def test_flac_roundtrip_exact():
    """16-bit content round-trips bit-exact (lossless) through the
    encoder's CONSTANT/FIXED/VERBATIM block choices."""
    from flink_precisely_demo_spark.operators.flac import (
        decode_flac,
        encode_flac,
    )
    rng = np.random.default_rng(0)
    t = np.arange(10000) / 8000.0
    ints = np.clip(np.round(0.5 * np.sin(2 * np.pi * 440 * t) * 32767),
                   -32768, 32767).astype(np.int64)
    dec, rate = decode_flac(encode_flac(ints, 8000, block_size=1024))
    assert rate == 8000 and len(dec) == 10000
    assert np.array_equal(np.round(dec * 32768).astype(np.int64), ints)
    noise = rng.integers(-32768, 32768, 5000)        # verbatim fallback
    dec, _ = decode_flac(encode_flac(noise, 44100, block_size=777))
    assert np.array_equal(np.round(dec * 32768).astype(np.int64), noise)


def test_flac_stereo_mean_mix():
    from flink_precisely_demo_spark.operators.flac import (
        decode_flac,
        encode_flac,
    )
    a = np.round(np.sin(np.arange(4000) * 0.01) * 20000).astype(np.int64)
    st = np.stack([a, -a], axis=1)
    dec, _ = decode_flac(encode_flac(st, 8000))
    assert len(dec) == 4000 and np.abs(dec).max() < 1e-4   # L+R cancel


def _flac_frame_shell(n_sub_writer, streaminfo_rate=8000, channels=1,
                      chan_code=None, block_size=16):
    """Build a one-frame FLAC stream whose subframes are written by
    ``n_sub_writer(w)`` — lets tests exercise decoder paths the
    encoder never emits (LPC, mid/side, residual partitions)."""
    import struct

    from flink_precisely_demo_spark.operators.flac import _crc8

    si = bytearray(34)
    si[0:2] = struct.pack(">H", block_size)
    si[2:4] = struct.pack(">H", block_size)
    packed = (streaminfo_rate << 44) | ((channels - 1) << 41) | (15 << 36) \
        | block_size
    si[10:18] = packed.to_bytes(8, "big")
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    header = bytearray(b"\xff\xf8")
    header.append((7 << 4) | 0)
    cc = chan_code if chan_code is not None else channels - 1
    header.append((cc << 4) | (0b100 << 1))
    header += bytes([0])                       # frame number 0 (utf8)
    header += struct.pack(">H", block_size - 1)
    header.append(_crc8(bytes(header)))
    w = MsbWriter()
    for b in bytes(header):
        w.write(b, 8)
    n_sub_writer(w)
    return bytes(out) + w.flush() + b"\x00\x00"   # CRC16 unchecked


def test_flac_lpc_subframe_decodes():
    """Hand-built order-2 LPC subframe: decoder must invert the
    quantized predictor exactly."""
    from flink_precisely_demo_spark.operators.flac import (
        _rice_write,
        decode_flac,
    )
    order, precision, shift = 2, 12, 5
    coefs = [20, 8]        # gain < 1: synthetic samples stay 16-bit
    samples = [100, 103]
    for k in range(2, 16):
        pred = (coefs[0] * samples[k - 1] + coefs[1] * samples[k - 2]) >> shift
        samples.append(pred + ((-1) ** k) * k)   # residual = +-k

    def write_sub(w: MsbWriter):
        w.write(0, 1)
        w.write(32 + order - 1, 6)               # LPC, order 2
        w.write(0, 1)                            # no wasted bits
        for v in samples[:order]:
            w.write(v, 16)
        w.write(precision - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c & ((1 << precision) - 1), precision)
        w.write(0, 2)                            # rice4
        w.write(0, 4)                            # partition order 0
        w.write(5, 4)                            # rice param
        for k in range(2, 16):
            _rice_write(w, ((-1) ** k) * k, 5)

    dec, rate = decode_flac(_flac_frame_shell(write_sub))
    got = np.round(dec * 32768).astype(int).tolist()
    assert got == samples and rate == 8000


def test_flac_mid_side_and_partitioned_residual():
    """Mid/side channel decorrelation + a 4-partition residual with
    one raw-escape partition — the remaining decoder paths."""
    from flink_precisely_demo_spark.operators.flac import (
        _rice_write,
        decode_flac,
    )
    left = [((k * 7) % 200) - 100 for k in range(16)]
    right = [((k * 3) % 100) - 50 for k in range(16)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]
    side = [l - r for l, r in zip(left, right)]

    def verbatim(w: MsbWriter, vals, bits):
        w.write(0, 1)
        w.write(1, 6)
        w.write(0, 1)
        for v in vals:
            w.write(v & ((1 << bits) - 1), bits)

    def write_subs(w: MsbWriter):
        verbatim(w, mid, 16)       # mid at bps
        # side at bps+1, FIXED order 0 with 4 residual partitions,
        # partition 2 raw-escaped
        w.write(0, 1)
        w.write(8, 6)              # FIXED order 0
        w.write(0, 1)
        w.write(0, 2)              # rice4
        w.write(2, 4)              # partition order 2 -> 4 partitions
        for p in range(4):
            part = side[p * 4:(p + 1) * 4]
            if p == 2:
                w.write(15, 4)     # escape
                w.write(12, 5)     # 12 raw bits each
                for v in part:
                    w.write(v & 0xFFF, 12)
            else:
                w.write(4, 4)
                for v in part:
                    _rice_write(w, v, 4)

    dec, _ = decode_flac(_flac_frame_shell(
        write_subs, channels=2, chan_code=10))
    expect = [(l + r) / 2 / 32768.0 for l, r in zip(left, right)]
    assert np.allclose(dec, expect, atol=1e-9)


def test_flac_features_through_spark(spark):
    from flink_precisely_demo_spark.operators.flac import encode_flac

    t = np.arange(2000) / 8000.0
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    rows = [(1, _meta("audio", "flac"), encode_flac(sine, 8000))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    (r,) = audio_features(media).collect()
    assert r["error"] is None
    assert r["n_samples"] == 2000 and r["sample_rate"] == 8000
    assert r["duration_ms"] == 250
    assert abs(r["rms"] - 0.5 / np.sqrt(2)) < 1e-3


def test_video_features_real_avi_and_error(spark):
    from flink_precisely_demo_spark.operators.avi import mux_mjpeg_avi
    from flink_precisely_demo_spark.operators.multimodal import (
        video_features,
    )

    frames = [encode_jpeg(_grad_img(8, 8, seed=s)) for s in range(6)]
    rows = [(1, _meta("video", "avi"), mux_mjpeg_avi(frames, fps=12.0)),
            (2, _meta("video", "mp4"), b"\x00\x00\x00 ftypisom fake")]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in video_features(media).collect()}
    assert out[1]["error"] is None
    assert out[1]["n_frames"] == 6
    # fps quantizes through the container's integer us-per-frame field
    assert abs(out[1]["fps"] - 12.0) < 1e-3
    assert abs(out[1]["duration_ms"] - 500) <= 1
    assert out[1]["mean_frame_bytes"] > 0
    assert "UnsupportedCodecError" in out[2]["error"]


def test_aiff_and_au_decode(spark):
    from flink_precisely_demo_spark.operators.multimodal import (
        audio_features,
        encode_aiff_pcm16 as _encode_aiff,
        encode_au as _encode_au,
    )

    t = np.arange(1600) / 8000.0
    sig = 0.4 * np.sin(2 * np.pi * 440 * t)
    payloads = {
        10: ("aiff", _encode_aiff(sig, 8000)),
        11: ("au", _encode_au(sig, 11025)),
        12: ("au", _encode_au(sig, 8000, mulaw=True)),
    }
    rows = [(mid, _meta("audio", fmt), p)
            for mid, (fmt, p) in payloads.items()]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in audio_features(media).collect()}
    assert out[10]["error"] is None and out[10]["n_samples"] == 1600
    assert out[10]["sample_rate"] == 8000
    assert out[11]["sample_rate"] == 11025 and out[11]["error"] is None
    assert out[12]["error"] is None and out[12]["n_samples"] == 1600
    # mu-law is lossy-quantized but must track the PCM signal closely
    assert abs(out[12]["rms"] - out[11]["rms"]) < 0.01


def test_tiff_lzw_and_predictor_roundtrip():
    """LZW (MSB-first, early code-width change, multi-Clear resets)
    and the horizontal-differencing predictor, both byte orders."""
    from flink_precisely_demo_spark.operators.tiff import (
        decode_tiff,
        encode_tiff,
    )

    rng = np.random.default_rng(3)
    for bo in "<>":
        for kw in (dict(lzw=True), dict(lzw=True, predictor=True),
                   dict(predictor=True)):
            img = rng.integers(0, 256, size=(19, 11, 3), dtype=np.uint8)
            assert np.array_equal(
                decode_tiff(encode_tiff(img, byte_order=bo, **kw)), img)
    # a smooth gradient must actually compress under predictor+lzw
    yy, xx = np.mgrid[0:64, 0:64]
    smooth = np.stack([xx, yy, (xx + yy) // 2], axis=-1).astype(np.uint8)
    plain = encode_tiff(smooth)
    packed = encode_tiff(smooth, lzw=True, predictor=True)
    assert len(packed) < len(plain) / 3
    assert np.array_equal(decode_tiff(packed), smooth)
    # raw kernel: enough random data to force multiple Clear resets
    blob = rng.integers(0, 256, 300_000, dtype=np.uint8).tobytes()
    tiff_lzw = dict(msb=True, early=1)
    assert lzw_decode(lzw_encode(blob, 8, **tiff_lzw), 8, **tiff_lzw) == blob


def _java_gradient(w, h):
    """The deterministic pattern baked into the external fixtures."""
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack([(xx * 7 + yy * 3) & 0xFF, (xx * xx + yy) & 0xFF,
                     (xx + yy * yy * 5) & 0xFF], axis=-1).astype(np.uint8)


def test_tiff_lzw_decodes_external_imageio_fixture():
    """Interop gate: these fixtures were encoded by javax.imageio's
    TIFF LZW writer (libtiff-compatible code-width thresholds:
    encoder widens at 512/1024/2048, decoder at 511/1023/2047), so a
    self-consistent-but-wrong threshold pair can't hide behind our
    own round-trip. The big fixture's strips drive the table through
    all three width bumps (decoder nxt reaches 4095)."""
    from flink_precisely_demo_spark.operators.tiff import decode_tiff

    here = os.path.dirname(os.path.abspath(__file__))
    for name, (w, h) in [("imageio_lzw.tif", (64, 48)),
                         ("imageio_lzw_big.tif", (160, 120))]:
        with open(os.path.join(here, "fixtures", name), "rb") as f:
            payload = f.read()
        assert np.array_equal(decode_tiff(payload), _java_gradient(w, h))


def _bmp_header(w, h, bpp, comp, data_len, pal=b""):
    off = 14 + 40 + len(pal)
    return (b"BM" + (off + data_len).to_bytes(4, "little") + b"\x00" * 4
            + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
            + comp.to_bytes(4, "little") + data_len.to_bytes(4, "little")
            + b"\x00" * 8 + (len(pal) // 4).to_bytes(4, "little")
            + b"\x00" * 4 + pal)


def test_bmp_32bit_and_rle8():
    rng = np.random.default_rng(9)
    # 32-bit BGRX, bottom-up
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    rows = bytearray()
    for y in range(4, -1, -1):
        for x in range(3):
            r, g, b = img[y, x]
            rows += bytes([b, g, r, 0])
    payload = _bmp_header(3, 5, 32, 0, len(rows)) + bytes(rows)
    assert np.array_equal(_decode_bmp(payload), img)

    # 8-bit paletted RLE8: two rows, runs + absolute + EOL + EOB
    pal = b"".join(bytes([i, 2 * i % 256, 3 * i % 256, 0])
                   for i in range(4))  # BGRX entries
    # row semantics are bottom-up: first encoded row is the BOTTOM one
    rle = bytes([3, 1,              # run: 3 pixels of color 1
                 0, 3, 2, 3, 2, 0,  # absolute: 3 pixels + word pad
                 0, 0,              # end of line
                 6, 2,              # next row: 6 pixels of color 2
                 0, 1])             # end of bitmap
    payload = _bmp_header(6, 2, 8, 1, len(rle), pal) + rle
    out = _decode_bmp(payload)
    pal_rgb = {i: (3 * i % 256, 2 * i % 256, i) for i in range(4)}
    assert [tuple(p) for p in out[1]] == [pal_rgb[1]] * 3 + [
        pal_rgb[2], pal_rgb[3], pal_rgb[2]]
    assert [tuple(p) for p in out[0]] == [pal_rgb[2]] * 6


def test_mp3_stream_info_external_fixture():
    """The frame walker against an externally-encoded real-world MP3
    (gsutil's test_data/test.mp3: ID3v2.4 tag, MPEG-2 Layer III,
    22050 Hz mono, 64 kbps CBR) — a payload this repo could not have
    produced, so the header tables can't be self-consistently wrong.
    Independent cross-check: 9404 audio bytes at 64 kbps = 1.175 s,
    matching n_samples/sample_rate exactly."""
    from flink_precisely_demo_spark.operators.mp3 import mp3_stream_info

    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "fixtures",
                           "external_mpeg2_l3.mp3"), "rb") as f:
        info = mp3_stream_info(f.read())
    assert info["version"] == "2"
    assert info["layer"] == 3
    assert info["sample_rate"] == 22050
    assert info["mode"] == "mono"
    assert info["bitrate_kbps"] == 64.0
    assert info["vbr"] is False
    assert info["n_frames"] == 45
    assert info["n_samples"] == 45 * 576
    assert info["duration_ms"] == 1175


def test_mp3_stream_info_synthetic_and_errors():
    from flink_precisely_demo_spark.operators.mp3 import (
        make_cbr_mp3,
        mp3_stream_info,
    )

    info = mp3_stream_info(make_cbr_mp3(40, bitrate_kbps=64,
                                        sample_rate=22050))
    assert (info["n_frames"], info["n_samples"]) == (40, 40 * 576)
    # MPEG-1 rates use the 1152-sample layout and the other table
    info = mp3_stream_info(make_cbr_mp3(10, bitrate_kbps=128,
                                        sample_rate=44100))
    assert (info["version"], info["n_samples"]) == ("1", 11520)
    # leading junk before the first frame is resync'd over
    junk = b"\x00garbage" * 10 + make_cbr_mp3(5, 64, 22050)
    assert mp3_stream_info(junk)["n_frames"] == 5
    # a lone sync byte with no confirming second frame is NOT audio
    with pytest.raises(UnsupportedCodecError):
        mp3_stream_info(b"\xff\xfb" + b"\x00" * 50)
    with pytest.raises(UnsupportedCodecError):
        mp3_stream_info(b"not audio at all" * 10)


def test_mp3_info_tag_is_cbr_xing_tag_is_vbr():
    """LAME writes an 'Info' tag into CBR files and 'Xing' into VBR
    ones — same layout, opposite meaning. The triage must read the
    frame count from either but flag vbr only for Xing (r7 advisory:
    Info-tagged CBR files were misclassified as VBR)."""
    from flink_precisely_demo_spark.operators.mp3 import (
        make_cbr_mp3,
        mp3_stream_info,
    )

    def with_tag(tag: bytes) -> bytes:
        data = bytearray(make_cbr_mp3(40, 64, 22050))
        # MPEG-2 mono side info = 9 bytes -> tag region at 4 + 9
        p = 13
        data[p:p + 4] = tag
        data[p + 4:p + 8] = (1).to_bytes(4, "big")   # FRAMES flag
        data[p + 8:p + 12] = (39).to_bytes(4, "big")  # audio frames
        return bytes(data)

    info_cbr = mp3_stream_info(with_tag(b"Info"))
    assert info_cbr["vbr"] is False
    assert info_cbr["n_frames"] == 39    # tag frame count still used
    info_vbr = mp3_stream_info(with_tag(b"Xing"))
    assert info_vbr["vbr"] is True
    assert info_vbr["n_frames"] == 39


def test_audio_stream_info_operator(spark):
    """audio_stream_info through Spark: mp3 rows triaged without
    sample decode, wav rows from the real decoder, junk rows get the
    typed per-row error."""
    from flink_precisely_demo_spark.operators.mp3 import make_cbr_mp3
    from flink_precisely_demo_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_stream_info,
    )

    def meta(fmt):
        return {"media_type": "audio", "format": fmt, "width": None,
                "height": None, "n_channels": None,
                "sample_rate": None, "duration_ms": None}

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"\x00\x00" * 800)
    rows = [
        (1, meta("mp3"), bytearray(make_cbr_mp3(30, 64, 22050))),
        (2, meta("wav"), bytearray(buf.getvalue())),
        (3, meta("mp3"), bytearray(b"junkjunkjunk" * 8)),
    ]
    out = {r["media_id"]: r for r in audio_stream_info(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
    assert out[1]["n_frames"] == 30 and out[1]["duration_ms"] == \
        30 * 576 * 1000 // 22050 and out[1]["error"] is None
    assert out[2]["n_samples"] == 800 and out[2]["sample_rate"] == 8000
    assert out[3]["error"].startswith("UnsupportedCodecError")


def test_mp3_parser_fuzz_never_hangs_or_crashes():
    """Random junk, truncated real frames, and adversarial sync bytes
    must either parse or raise the typed error — never hang, never
    leak an uncontrolled exception type. (Crawl payloads are
    adversarial by default.)"""
    from flink_precisely_demo_spark.operators.mp3 import (
        make_cbr_mp3,
        mp3_stream_info,
    )

    rng = np.random.default_rng(11)
    payloads = [
        bytes(rng.integers(0, 256, n, dtype=np.uint8))
        for n in (0, 1, 3, 10, 1000, 65536)
    ]
    # all-0xFF: endless false sync candidates
    payloads.append(b"\xff" * 4096)
    # a real stream truncated at every awkward boundary
    real = make_cbr_mp3(8, 64, 22050)
    payloads += [real[:k] for k in (1, 3, 4, 5, len(real) // 2,
                                    len(real) - 1)]
    # ID3 tag claiming a size beyond EOF
    payloads.append(b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f" + b"x" * 10)
    for p in payloads:
        try:
            info = mp3_stream_info(p)
            assert info["n_frames"] >= 1
        except UnsupportedCodecError:
            pass


def test_external_decoder_seam_keeps_contract(spark):
    """The production decoder swap (`decoders=` on the feature
    operators, consulted by _decode_image/_decode_audio before the
    built-ins): injecting an external decoder must (a) leave the
    output schema untouched, (b) leave rows of OTHER formats
    byte-identical, (c) reclaim the injected format's rows, and
    (d) route a BROKEN external decoder into the same per-row typed
    error — never a job abort."""
    from flink_precisely_demo_spark.operators.multimodal import (
        IMAGE_FEATURES_SCHEMA,
    )

    jpeg = encode_jpeg(_grad_img(8, 10, seed=3), quality=90)
    vp8_stub = (b"RIFF" + (36).to_bytes(4, "little") + b"WEBP"
                + b"VP8 " + (24).to_bytes(4, "little") + b"\x00" * 24)
    rows = [(0, _meta("image", "jpeg"), jpeg),
            (1, _meta("image", "webp"), vp8_stub),
            (2, _meta("image", "heic"), b"\x00" * 40)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)

    def fake_webp(payload: bytes) -> np.ndarray:
        return _grad_img(5, 6, seed=len(payload) % 17)

    base = {r["media_id"]: r for r in image_features(media).collect()}
    assert base[1]["error"].startswith("UnsupportedCodecError")
    df = image_features(media, decoders={"webp": fake_webp})
    assert df.schema == spark.createDataFrame(
        [], IMAGE_FEATURES_SCHEMA).schema      # (a) schema unchanged
    out = {r["media_id"]: r for r in df.collect()}
    assert out[0] == base[0]                   # (b) jpeg row untouched
    assert out[1]["error"] is None             # (c) webp reclaimed
    assert (out[1]["width"], out[1]["height"],
            out[1]["n_channels"]) == (6, 5, 3)
    assert out[2]["error"].startswith("UnsupportedCodecError")

    # (d) broken externals: wrong shape and raising both stay per-row
    def bad_shape(payload: bytes) -> np.ndarray:
        return np.zeros((4, 4), dtype=np.uint8)

    def boom(payload: bytes) -> np.ndarray:
        raise RuntimeError("external decoder crashed")

    out = {r["media_id"]: r for r in image_features(
        media, decoders={"webp": bad_shape, "heic": boom}).collect()}
    assert out[0]["error"] is None
    assert "shape" in out[1]["error"]
    assert out[2]["error"].startswith("RuntimeError")

    # audio seam: same contract
    mp3ish = b"\xff\xfb\x90\x64" + bytes(64)
    amedia = spark.createDataFrame(
        [(0, _meta("audio", "wav"),
          _encode_wav(0.2 * np.sin(np.arange(400) * 0.05), 8000)),
         (1, _meta("audio", "mp3"), mp3ish)], MEDIA_SCHEMA)
    base = {r["media_id"]: r for r in audio_features(amedia).collect()}
    assert base[1]["error"].startswith("UnsupportedCodecError")

    def fake_mp3(payload: bytes):
        return 0.25 * np.sin(np.arange(320) * 0.1), 16000

    out = {r["media_id"]: r for r in audio_features(
        amedia, decoders={"mp3": fake_mp3}).collect()}
    assert out[0] == base[0]
    assert out[1]["error"] is None
    assert (out[1]["n_samples"], out[1]["sample_rate"]) == (320, 16000)
    assert out[1]["duration_ms"] == 320 * 1000 // 16000


def test_external_decoder_seam_shifts_format_audit(spark):
    """Swapping external decoders into `format_audit` must move the
    audit by EXACTLY the reclaimed lossy slice (webp_lossy + mp3 +
    aac + mp4, the measured 12%): those rows flip to decode_rate 1.0
    / zero typed errors, and every other format's row is unchanged —
    the audit query doubles as the regression gate for the swap."""
    from flink_precisely_demo_spark.plans.multimodal_queries import (
        format_audit,
    )

    sf = "/root/testdata/sf0.001"

    def fake_img(payload: bytes) -> np.ndarray:
        return _grad_img(4, 4, seed=1)

    def fake_aud(payload: bytes):
        return 0.1 * np.sin(np.arange(200) * 0.1), 8000

    def fake_vid(payload: bytes):
        return [b"frame0", b"frame1"], 10.0

    key = lambda r: (r["media_type"], r["format"])  # noqa: E731
    before = {key(r): r for r in format_audit(spark, sf).collect()}
    after = {key(r): r for r in format_audit(
        spark, sf,
        image_decoders={"webp": fake_img},
        audio_decoders={"mp3": fake_aud, "aac": fake_aud},
        video_decoders={"mp4": fake_vid}).collect()}
    assert set(before) == set(after)

    lossy = {("image", "webp_lossy"), ("audio", "mp3"),
             ("audio", "aac"), ("video", "mp4")}
    reclaimed = 0
    for k in before:
        b, a = before[k], after[k]
        assert a["n_media"] == b["n_media"]
        if k in lossy:
            assert b["decode_rate"] == 0.0 and b["n_typed_error"] > 0
            assert a["decode_rate"] == 1.0 and a["n_typed_error"] == 0
            assert a["n_decoded"] == b["n_media"]
            reclaimed += b["n_media"]
        else:
            # non-lossy rows byte-identical between runs
            assert a == b
    total = sum(r["n_media"] for r in before.values())
    lossy_share = reclaimed / total
    # the documented ~12% slice under the doc_id % 100 mix
    assert abs(lossy_share - 0.12) < 0.02, lossy_share


def test_decode_operators_never_shuffle_prearranged_feeds(spark):
    """partitions=0 is the caller's 'feed already laid out' promise:
    the decode map must fuse into the feed's stage with NO exchange
    (the r16 fix — the old unconditional repartition re-shuffled
    every payload byte even when the synthesize branch had already
    fanned out, and on a big cluster could SHRINK a wide scan to
    defaultParallelism). The default path must still widen a narrow
    file scan exactly once (dedup._fan_out's rule)."""
    from flink_precisely_demo_spark.plans.multimodal_queries import (
        format_audit,
    )

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange")

    # the audit runs three prearranged branches + one final aggregate:
    # exactly 4 exchanges (3 fan-out widens + 1 agg), none between a
    # synthesize map and its decode map
    audit = format_audit(spark, "/root/testdata/sf0.001")
    assert n_exchanges(audit) == 4, audit._jdf.queryExecution() \
        .executedPlan().toString()

    # explicit layouts: 0 adds nothing, n>0 adds exactly one exchange
    from flink_precisely_demo_spark.operators.multimodal import (
        image_features,
    )
    media = spark.createDataFrame(
        [], "media_id long, "
            "meta struct<media_type:string,format:string,width:int,"
            "height:int,n_channels:int,sample_rate:int,"
            "duration_ms:bigint>, payload binary")
    assert n_exchanges(image_features(media, partitions=0)) == 0
    assert n_exchanges(image_features(media, partitions=4)) == 1
