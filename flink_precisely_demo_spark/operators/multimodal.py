"""Multimodal column operators (SURVEY.md §2.3).

Image/audio/video payloads are opaque ``binary`` columns with a typed
metadata struct — the lakehouse-native layout for multimodal training
data (payload bytes stay columnar; metadata prunes without touching
bytes). Codecs that need no external library decode FOR REAL:
baseline and progressive JPEG (:mod:`.jpeg`, pure numpy), PNG
(:mod:`.png`, numpy + stdlib zlib), MJPEG/AVI video demux
(:mod:`.avi`, RIFF walk), GIF with real LZW (:mod:`.gif`),
WebP-lossless/VP8L incl. all four transforms (:mod:`.webp`), baseline
TIFF incl. LZW, PackBits and both byte orders (:mod:`.tiff`), FLAC
incl. LPC/Rice (:mod:`.flac`), WAV/PCM16 (stdlib ``wave`` + numpy),
AIFF/AIFC PCM16 and Sun AU incl. G.711 mu-law (formula codec),
uncompressed 24-bit BMP and binary PPM (pure numpy); their shared
primitives live in :mod:`.codec`. The remaining formats — all lossy-
transform codecs needing a DSP stack (VP8-lossy webp, mp3, aac,
mp4) — raise a typed
:class:`~.codec.UnsupportedCodecError`, which the feature operators
surface PER ROW in an ``error`` column — a corrupt or exotic payload
can never abort a 100 TB decode job. A real deployment swaps the
`_decode_*` bodies for PIL / soundfile / pyav; batch shapes, error
semantics, and schemas stay unchanged.

Scale notes:
- decode/feature work is embarrassingly parallel: ``mapInPandas``
  over row groups; repartition by id first so one giant file's rows
  fan out (same rule as dedup._fan_out).
- Arrow moves the binary payloads zero-copy into the Python worker;
  the returned feature arrays are small, so the expensive direction
  (bytes in) never crosses twice.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codec import UnsupportedCodecError
from .jpeg import decode_jpeg

MEDIA_META = T.StructType([
    T.StructField("media_type", T.StringType()),   # image|audio|video
    T.StructField("format", T.StringType()),       # png|jpeg|wav|mp4|...
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_channels", T.IntegerType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("meta", MEDIA_META),
    T.StructField("payload", T.BinaryType()),
])


# --------------------------------------------------------------- codecs
#
# Images: JPEG, PNG, GIF, TIFF and WebP-lossless (operators/{jpeg,png,
# gif,tiff,webp}.py), BMP and PPM (below). Audio: WAV/PCM16, FLAC
# (operators/flac.py), AIFF/AIFC PCM16 and Sun AU (below); MP3 stream
# info without samples (operators/mp3.py). Video: MJPEG/AVI demux
# (operators/avi.py). Documents: PDF text (operators/pdf.py). All of
# them decode FOR REAL with no external media libraries. Everything
# else (lossy VP8 WebP, mp3/aac samples, mp4/mkv) raises
# UnsupportedCodecError, surfaced per row by the feature operators.

def _decode_bmp(payload: bytes) -> np.ndarray:
    """BMP (BITMAPINFOHEADER) -> (h, w, 3) RGB uint8: uncompressed
    24-bit (BGR) and 32-bit (BGRA/BGRX, alpha dropped), plus 8-bit
    paletted with or without RLE8 run-length compression. Pure
    numpy/bytes: header fields are little-endian at fixed offsets;
    rows are 4-byte padded, bottom-up (negative height = top-down)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    comp = int.from_bytes(payload[30:34], "little")
    top_down, h = h < 0, abs(h)

    if bpp in (24, 32) and comp == 0:
        ch = bpp // 8
        stride = ((w * ch + 3) // 4) * 4
        rows = np.frombuffer(payload, dtype=np.uint8,
                             count=stride * h, offset=off).reshape(h, stride)
        bgr = rows[:, : w * ch].reshape(h, w, ch)[..., :3]
        if not top_down:
            bgr = bgr[::-1]
        return bgr[..., ::-1].copy()  # BGR(A) -> RGB

    if bpp == 8 and comp in (0, 1):
        n_colors = int.from_bytes(payload[46:50], "little") or 256
        pal_off = 14 + hdr_size
        pal = np.frombuffer(payload, dtype=np.uint8, count=n_colors * 4,
                            offset=pal_off).reshape(n_colors, 4)
        rgb_pal = pal[:, [2, 1, 0]]           # stored BGRX
        if comp == 0:
            stride = ((w + 3) // 4) * 4
            idx = np.frombuffer(payload, dtype=np.uint8, count=stride * h,
                                offset=off).reshape(h, stride)[:, :w]
        else:                                 # RLE8
            idx = np.zeros((h, w), dtype=np.uint8)
            x = y = 0
            i = off
            while i + 1 < len(payload):
                n, v = payload[i], payload[i + 1]
                i += 2
                if n:                         # encoded run
                    idx[y, x:x + n] = v
                    x += n
                elif v == 0:                  # end of line
                    x, y = 0, y + 1
                elif v == 1:                  # end of bitmap
                    break
                elif v == 2:                  # delta jump
                    x += payload[i]
                    y += payload[i + 1]
                    i += 2
                else:                         # absolute run of v pixels
                    idx[y, x:x + v] = np.frombuffer(
                        payload, dtype=np.uint8, count=v, offset=i)
                    x += v
                    i += v + (v & 1)          # runs are word-aligned
        out = rgb_pal[np.minimum(idx, n_colors - 1)]
        if not top_down:
            out = out[::-1]
        return out.astype(np.uint8).copy()

    raise ValueError(f"unsupported BMP variant (bpp={bpp}, "
                     f"compression={comp})")


def _decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) -> (h, w, 3) RGB uint8. Pure numpy; handles
    whitespace/comment-tolerant headers."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    arr = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3,
                        offset=pos)
    return arr.reshape(h, w, 3).copy()


def _decode_image(payload: bytes, fmt: str,
                  decoders: dict | None = None) -> np.ndarray:
    """(h, w, 3) uint8 RGB. JPEG, PNG, GIF, TIFF, WebP-lossless, BMP
    and PPM decode for real; anything else raises
    UnsupportedCodecError (surfaced per row by the operators below,
    never a job abort).

    ``decoders`` is the PRODUCTION SEAM for the formats this build's
    pure-numpy codecs can't handle (VP8-lossy WebP et al.): a
    {format: callable(bytes) -> (h, w, 3) array} mapping consulted
    BEFORE the built-ins (an external library replaces the whole
    format, as PIL would). The mapping is captured by value into the
    operator closures, so it ships to executors with the plan; a
    decoder that returns the wrong shape or raises becomes the same
    per-row typed error as a missing codec — the swap cannot change
    the schema or the error contract (tests/test_multimodal.py)."""
    if decoders and fmt in decoders:
        arr = np.asarray(decoders[fmt](payload))
        if arr.ndim != 3 or arr.shape[2] != 3:
            raise UnsupportedCodecError(
                f"external decoder for {fmt!r} returned shape "
                f"{arr.shape}, want (h, w, 3)")
        return arr.astype(np.uint8, copy=False)
    if fmt in ("jpeg", "jpg"):
        return decode_jpeg(payload)
    if fmt == "png":
        from .png import decode_png
        return decode_png(payload)
    if fmt == "gif":
        from .gif import decode_gif
        return decode_gif(payload)
    if fmt in ("tiff", "tif"):
        from .tiff import decode_tiff
        return decode_tiff(payload)
    if fmt == "webp":
        from .webp import decode_webp
        return decode_webp(payload)
    if fmt == "bmp":
        return _decode_bmp(payload)
    if fmt in ("ppm", "pnm"):
        return _decode_ppm(payload)
    raise UnsupportedCodecError(
        f"image format {fmt!r}: no codec in this build "
        f"(production swaps in PIL here)")


def _decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF WAV PCM16 -> (mono float32 samples in [-1, 1], rate).
    stdlib `wave` + numpy; multi-channel is mean-mixed to mono."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only PCM16 WAV supported")
        nch = wf.getnchannels()
        rate = wf.getframerate()
        frames = wf.readframes(wf.getnframes())
    samples = np.frombuffer(frames, dtype="<i2").astype(np.float32)
    if nch > 1:
        samples = samples.reshape(-1, nch).mean(axis=1)
    return samples / 32768.0, rate


def _decode_aiff(payload: bytes) -> tuple[np.ndarray, int]:
    """AIFF (FORM/AIFF, big-endian PCM16) -> (mono float32, rate).
    The COMM chunk stores the sample rate as an 80-bit IEEE extended
    float — parsed manually (exponent + top-32 mantissa bits is
    exact for every real-world rate)."""
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF payload")
    is_aifc = payload[8:12] == b"AIFC"
    pos, nch, rate, ssnd = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "big")
        body = payload[pos + 8:pos + 8 + size]
        if cid == b"COMM":
            nch = int.from_bytes(body[0:2], "big")
            bits = int.from_bytes(body[6:8], "big")
            if bits != 16:
                raise ValueError("only PCM16 AIFF supported")
            if is_aifc and body[18:22] not in (b"NONE", b""):
                raise UnsupportedCodecError(
                    f"AIFC compression {body[18:22]!r}: only "
                    "uncompressed PCM in this build")
            exp = int.from_bytes(body[8:10], "big") & 0x7FFF
            mant_hi = int.from_bytes(body[10:14], "big")
            rate = int(mant_hi * 2.0 ** (exp - 16383 - 31))
        elif cid == b"SSND":
            offset = int.from_bytes(body[0:4], "big")
            ssnd = body[8 + offset:]
        pos += 8 + size + (size & 1)
    if nch is None or ssnd is None:
        raise ValueError("AIFF missing COMM/SSND chunk")
    samples = np.frombuffer(
        ssnd, dtype=">i2", count=len(ssnd) // 2).astype(np.float32)
    if nch > 1:
        samples = samples[: len(samples) // nch * nch] \
            .reshape(-1, nch).mean(axis=1)
    return samples / 32768.0, rate


def _decode_au(payload: bytes) -> tuple[np.ndarray, int]:
    """Sun AU (.snd): big-endian header, linear PCM16 (encoding 3)
    or 8-bit mu-law (encoding 1, ITU G.711 decoded by formula —
    no tables)."""
    if payload[:4] != b".snd":
        raise ValueError("not an AU payload")
    off = int.from_bytes(payload[4:8], "big")
    enc = int.from_bytes(payload[12:16], "big")
    rate = int.from_bytes(payload[16:20], "big")
    nch = int.from_bytes(payload[20:24], "big")
    body = payload[off:]
    if enc == 3:  # 16-bit linear PCM
        samples = np.frombuffer(
            body, dtype=">i2", count=len(body) // 2).astype(np.float32)
        samples /= 32768.0
    elif enc == 1:  # 8-bit G.711 mu-law
        u = ~np.frombuffer(body, dtype=np.uint8)
        sign = (u.astype(np.int32) & 0x80)
        exponent = (u >> 4) & 0x07
        mantissa = u & 0x0F
        mag = ((mantissa.astype(np.int32) << 3) + 0x84) \
            << exponent.astype(np.int32)
        pcm = np.where(sign != 0, 0x84 - mag, mag - 0x84)
        samples = pcm.astype(np.float32) / 32768.0
    else:
        raise UnsupportedCodecError(
            f"AU encoding {enc}: only PCM16/mu-law in this build")
    if nch > 1:
        samples = samples[: len(samples) // nch * nch] \
            .reshape(-1, nch).mean(axis=1)
    return samples, rate


def encode_aiff_pcm16(samples: np.ndarray, rate: int) -> bytes:
    """Mono PCM16 AIFF writer (fixture/sink-side twin of
    :func:`_decode_aiff`); the 80-bit extended-float sample rate is
    built by hand (normalized mantissa, biased exponent)."""
    pcm = (np.clip(samples, -1, 1) * 32767).astype(">i2").tobytes()
    n = len(pcm) // 2
    exp = rate.bit_length() - 1
    mant = rate << (63 - exp)                       # bit 63 set
    ext = (16383 + exp).to_bytes(2, "big") + mant.to_bytes(8, "big")
    comm = b"COMM" + (18).to_bytes(4, "big") + (1).to_bytes(2, "big") \
        + n.to_bytes(4, "big") + (16).to_bytes(2, "big") + ext
    ssnd_body = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + pcm
    ssnd = b"SSND" + len(ssnd_body).to_bytes(4, "big") + ssnd_body
    form = b"AIFF" + comm + ssnd
    return b"FORM" + len(form).to_bytes(4, "big") + form


def encode_au(samples: np.ndarray, rate: int, mulaw: bool = False) -> bytes:
    """Mono Sun AU writer: linear PCM16, or 8-bit G.711 mu-law
    compressed by the reference formula (no tables)."""
    pcm16 = (np.clip(samples, -1, 1) * 32767).astype(np.int32)
    if mulaw:
        bias = 0x84
        sign = (pcm16 < 0).astype(np.uint8) * 0x80
        mag = np.minimum(np.abs(pcm16) + bias, 0x7FFF)
        exp = (np.floor(np.log2(mag)) - 7).clip(0, 7).astype(np.int32)
        mant = ((mag >> (exp + 3)) & 0x0F).astype(np.uint8)
        body = (~(sign | (exp.astype(np.uint8) << 4) | mant)) \
            .astype(np.uint8).tobytes()
        enc = 1
    else:
        body = pcm16.astype(">i2").tobytes()
        enc = 3
    return (b".snd" + (24).to_bytes(4, "big")
            + len(body).to_bytes(4, "big") + enc.to_bytes(4, "big")
            + rate.to_bytes(4, "big") + (1).to_bytes(4, "big") + body)


def _decode_audio(payload: bytes, fmt: str,
                  decoders: dict | None = None) -> tuple[np.ndarray, int]:
    """(mono float32 samples in [-1,1], sample_rate). WAV, FLAC,
    AIFF and AU decode for real; lossy audio (mp3/aac/...) raises
    UnsupportedCodecError (surfaced per row, never a job abort).

    ``decoders`` is the production seam for lossy-DSP formats —
    {format: callable(bytes) -> (samples, rate)} consulted before
    the built-ins; see :func:`_decode_image` for the contract."""
    if decoders and fmt in decoders:
        samples, rate = decoders[fmt](payload)
        samples = np.asarray(samples, dtype=np.float32).reshape(-1)
        return samples, int(rate)
    if fmt == "wav":
        return _decode_wav(payload)
    if fmt == "flac":
        from .flac import decode_flac
        return decode_flac(payload)
    if fmt == "aiff":
        return _decode_aiff(payload)
    if fmt == "au":
        return _decode_au(payload)
    raise UnsupportedCodecError(
        f"audio format {fmt!r}: no codec in this build "
        f"(production swaps in soundfile/torchaudio here)")


# ------------------------------------------------------------ operators

def _spread(media: DataFrame, partitions: int | None) -> DataFrame:
    """Parallelism policy for the payload-decode operators (guide
    §2.4/§8: payload bytes must never shuffle unless the feed is
    provably narrow — the old unconditional ``repartition(n,
    "media_id")`` re-shuffled every payload byte even when the feed
    was already wide, and on a large cluster could SHRINK a wide scan
    to ``defaultParallelism``). ``partitions=None``: widen only when
    the scan is narrow (dedup._fan_out's file-count rule);
    ``partitions=0``: never repartition — the caller already laid the
    feed out (e.g. the plans fan out BEFORE their synthesizing map,
    so decode inherits that layout shuffle-free); ``partitions=n>0``:
    explicit hash layout on media_id."""
    if partitions == 0:
        return media
    if partitions:
        return media.repartition(partitions, "media_id")
    from .dedup import _fan_out
    return _fan_out(media, "media_id")


IMAGE_FEATURES_SCHEMA = ("media_id long, width int, height int, "
                         "n_channels int, mean_luma double, "
                         "payload_bytes long, error string")


def image_features(media: DataFrame, partitions: int | None = None,
                   decoders: dict | None = None) -> DataFrame:
    """Decode + feature-extract images: (media_id, width, height,
    n_channels, mean_luma, payload_bytes, error). A row whose payload
    fails to decode (unsupported codec, truncated/corrupt bytes)
    comes back with null features and the error message — decode
    failures are data, not job aborts, at 100 TB. ``decoders``:
    external per-format decoder overrides (see :func:`_decode_image`)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, meta, payload in zip(pdf["media_id"], pdf["meta"],
                                          pdf["payload"]):
                try:
                    arr = _decode_image(bytes(payload), meta["format"],
                                        decoders)
                except Exception as e:               # noqa: BLE001
                    out.append((mid, None, None, None, None,
                                len(payload), f"{type(e).__name__}: {e}"))
                    continue
                luma = (0.2126 * arr[..., 0] + 0.7152 * arr[..., 1]
                        + 0.0722 * arr[..., 2])
                out.append((mid, arr.shape[1], arr.shape[0], arr.shape[2],
                            round(float(luma.mean()), 6), len(payload),
                            None))
            yield pd.DataFrame(out, columns=[
                "media_id", "width", "height", "n_channels",
                "mean_luma", "payload_bytes", "error"])

    return _spread(media.filter(F.col("meta.media_type") == "image"),
                   partitions).mapInPandas(
                       compute, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = ("media_id long, n_samples long, sample_rate int, "
                         "rms double, duration_ms long, error string")


def audio_features(media: DataFrame, decoders: dict | None = None,
                   partitions: int | None = None) -> DataFrame:
    """Decode + feature-extract audio: RMS energy and duration, with
    per-row decode errors surfaced in ``error`` (same contract as
    :func:`image_features`). ``decoders``: external per-format
    decoder overrides (see :func:`_decode_audio`)."""

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, meta, payload in zip(pdf["media_id"], pdf["meta"],
                                          pdf["payload"]):
                try:
                    samples, rate = _decode_audio(bytes(payload),
                                                  meta["format"],
                                                  decoders)
                except Exception as e:               # noqa: BLE001
                    out.append((mid, None, None, None, None,
                                f"{type(e).__name__}: {e}"))
                    continue
                rms = float(np.sqrt((samples ** 2).mean())) if len(samples) else 0.0
                out.append((mid, len(samples), rate, round(rms, 6),
                            int(len(samples) * 1000 / rate), None))
            yield pd.DataFrame(out, columns=[
                "media_id", "n_samples", "sample_rate", "rms",
                "duration_ms", "error"])

    return _spread(media.filter(F.col("meta.media_type") == "audio"),
                   partitions).mapInPandas(
                       compute, schema=AUDIO_FEATURES_SCHEMA)


PDF_TEXT_SCHEMA = ("media_id long, page int, char_offset long, "
                   "n_chars long, text string, error string")


def pdf_text_features(media: DataFrame,
                      partitions: int | None = None) -> DataFrame:
    """PDF -> per-page extracted text rows (media_id, page,
    char_offset, n_chars, text, error). The extraction is this
    repo's own from-scratch parser (operators/pdf.py: xref walk,
    FlateDecode, BT/ET + Tj/'/\"/TJ with the word-kern rule);
    ``char_offset`` is the page's first character's offset in the
    document's concatenated text — derived purely from the decoded
    pages, so it holds for any input. A payload outside the supported
    profile (encrypted, xref-stream, Type0 fonts, exotic filters) or
    malformed yields ONE row with null page fields and the typed
    error message — per-row data, never a job abort, the contract
    every codec here carries.

    Scale: decode is Arrow-batched scan-stage work over the binary
    column; only the extracted text (not the payload) flows on."""
    from .pdf import pdf_text_pages


    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    pages = pdf_text_pages(bytes(payload))
                except Exception as e:               # noqa: BLE001
                    out.append((mid, None, None, None, None,
                                f"{type(e).__name__}: {e}"))
                    continue
                off = 0
                for i, text in enumerate(pages):
                    out.append((mid, i, off, len(text), text, None))
                    off += len(text)
            yield pd.DataFrame(out, columns=[
                "media_id", "page", "char_offset", "n_chars",
                "text", "error"])

    return _spread(media, partitions).mapInPandas(
        compute, schema=PDF_TEXT_SCHEMA)


VIDEO_FEATURES_SCHEMA = ("media_id long, n_frames int, fps double, "
                         "duration_ms long, mean_frame_bytes double, "
                         "error string")


def video_features(media: DataFrame, decoders: dict | None = None,
                   partitions: int | None = None) -> DataFrame:
    """Demux-level video stats (frame count, fps, duration, mean
    compressed frame size) with per-row decode errors — same contract
    as the other feature operators. MJPEG/AVI is the real path;
    ``decoders`` maps format -> callable(bytes) -> (frames, fps) for
    external demuxers (mp4/mkv), same seam contract as
    :func:`_decode_image`."""
    from .avi import demux_mjpeg_avi


    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, meta, payload in zip(pdf["media_id"], pdf["meta"],
                                          pdf["payload"]):
                try:
                    fmt = meta["format"]
                    if decoders and fmt in decoders:
                        frames, fps = decoders[fmt](bytes(payload))
                    else:
                        frames, fps = demux_mjpeg_avi(bytes(payload))
                except Exception as e:               # noqa: BLE001
                    out.append((mid, None, None, None, None,
                                f"{type(e).__name__}: {e}"))
                    continue
                out.append((mid, len(frames), fps,
                            int(len(frames) * 1000 / fps),
                            round(sum(map(len, frames)) / len(frames), 3),
                            None))
            yield pd.DataFrame(out, columns=[
                "media_id", "n_frames", "fps", "duration_ms",
                "mean_frame_bytes", "error"])

    return _spread(media.filter(F.col("meta.media_type") == "video"),
                   partitions).mapInPandas(
                       compute, schema=VIDEO_FEATURES_SCHEMA)


STREAM_INFO_SCHEMA = ("media_id long, sample_rate int, n_frames long, "
                      "n_samples long, duration_ms long, "
                      "bitrate_kbps double, channel_mode string, "
                      "vbr boolean, error string")


def audio_stream_info(media: DataFrame,
                      partitions: int | None = None) -> DataFrame:
    """Container/stream-level audio triage WITHOUT sample decode:
    duration, sample rate, channel layout, (average) bitrate and
    VBR-ness — the fields a crawl pipeline filters on before paying
    for PCM. MP3 is fully supported here via the frame-header walker
    (:mod:`.mp3`) even though its SAMPLES remain behind the
    production decode seam; PCM/lossless formats (wav/flac/aiff/au)
    report the same fields from their real decoders. Per-row typed
    errors, never a job abort; zero shuffle (scan-stage map)."""
    from .mp3 import mp3_stream_info


    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, meta, payload in zip(pdf["media_id"], pdf["meta"],
                                          pdf["payload"]):
                fmt = meta["format"]
                try:
                    if fmt == "mp3":
                        i = mp3_stream_info(bytes(payload))
                        out.append((mid, i["sample_rate"], i["n_frames"],
                                    i["n_samples"], i["duration_ms"],
                                    float(i["bitrate_kbps"]), i["mode"],
                                    i["vbr"], None))
                    else:
                        samples, rate = _decode_audio(bytes(payload), fmt)
                        dur = int(len(samples) * 1000 // rate) if rate else 0
                        kbps = (round(len(payload) * 8 / dur, 3)
                                if dur else None)
                        out.append((mid, rate, None, len(samples), dur,
                                    kbps, "mono", False, None))
                except Exception as e:               # noqa: BLE001
                    out.append((mid, None, None, None, None, None,
                                None, None, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(out, columns=[
                "media_id", "sample_rate", "n_frames", "n_samples",
                "duration_ms", "bitrate_kbps", "channel_mode", "vbr",
                "error"])

    return _spread(media.filter(F.col("meta.media_type") == "audio"),
                   partitions).mapInPandas(
                       compute, schema=STREAM_INFO_SCHEMA)


def binary_manifest(media: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id") -> DataFrame:
    """(id, content_md5, byte_len): content addressing of binary
    payloads — the manifest every multimodal pipeline builds first
    (dedup by content id, storage accounting, cache keys). Pure
    JVM-side column expressions over the binary column; at 100 TB
    this runs inside the scan stage with zero shuffle, and the
    16-byte digest — not the payload — is what any downstream
    grouping shuffles."""
    return media.select(
        F.col(id_col),
        F.md5(F.col(payload_col)).alias("content_md5"),
        F.length(F.col(payload_col)).cast("long").alias("byte_len"))
