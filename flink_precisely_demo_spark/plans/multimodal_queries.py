"""Multimodal manifest query with a DuckDB oracle.

The driver ships no media table, so the binary-column PLUMBING is
made oracle-checkable by deriving payloads deterministically from
`documents.text` (utf-8 encode -> binary). Spark's md5 over the
binary equals DuckDB's md5 over the varchar (same bytes), so content
addressing, byte accounting, and content-id dedup of a BinaryType
column are all hash-checked — only the codec stubs
(operators/multimodal.py `_decode_*`) remain untestable here.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    binary_manifest,
    image_features,
)
from ..operators.dedup import _fan_out
from ..sources.parquet import load_table
from .queries import query


@query(
    "multimodal_manifest",
    oracle="""
    SELECT md5(text) AS content_md5,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes
    FROM documents
    WHERE text IS NOT NULL
    GROUP BY md5(text)
    """,
)
def _multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-id dedup + storage accounting over a binary payload
    column (synthesized from text; a real pipeline gets the same
    columns from binaryFile ingest)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"))
    m = binary_manifest(media)
    return (m.groupBy("content_md5")
             .agg(F.min("media_id").alias("keep_id"),
                  F.count(F.lit(1)).alias("n_copies"),
                  F.sum("byte_len").alias("total_bytes")))


@query(
    "multimodal_image_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE (doc_id // 20) % 4 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'
                WHEN 2 THEN 'gif' ELSE 'webp' END AS format,
           CAST(8 + doc_id % 9 AS INTEGER) AS width,
           CAST(8 + doc_id % 7 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS n_channels,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    WHERE doc_id % 20 = 0
    """,
)
def _multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through Spark across all four compressed
    codecs: synthesize a deterministic gradient image per document
    (dims are arithmetic in doc_id), compress it with this repo's own
    encoders — JPEG (alternating 4:4:4 / 4:2:0; every 3rd jpeg row
    PROGRESSIVE SOF2, alternating spectral-selection and
    successive-approximation scripts), PNG (cycling scanline
    filters), GIF (real LZW) or WebP-lossless (VP8L canonical prefix
    codes) by (doc_id // 20) % 4 (doc_id itself is 0 mod 4 on this
    slice) — then run operators.multimodal.image_features, whose
    decoders Huffman/inflate/LZW/VP8L-decode the payloads, and return
    the DECODED dimensions. The oracle recomputes the expected dims
    arithmetically, so a hash match proves each codec's entropy-coded
    round trip recovered every image's exact geometry, and the
    all-null error column proves no row fell back to the error path."""
    from ..operators.gif import encode_gif
    from ..operators.jpeg import encode_jpeg, encode_jpeg_progressive
    from ..operators.png import encode_png
    from ..operators.webp import encode_webp_lossless

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 20 == 0)
            .select("doc_id"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did in pdf["doc_id"]:
                h, w = 8 + did % 7, 8 + did % 9
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack([(yy * 3 + did) % 256, (xx * 2 + did) % 256,
                                ((yy + xx) * 2) % 256],
                               axis=-1).astype(np.uint8)
                sel = (did // 20) % 4
                if sel == 0:
                    # jpeg rows have did % 80 == 0, so per-row
                    # variation must come from the row index did//80
                    # (did % 2 / did % 5 are constant on this slice)
                    fmt, kk = "jpeg", did // 80
                    sub = "4:2:0" if kk % 2 else "4:4:4"
                    if kk % 3 == 0:
                        # every 3rd jpeg row is PROGRESSIVE (SOF2) —
                        # spectral-selection or full successive-
                        # approximation script alternating — so the
                        # driver hash-checks the progressive decode
                        # path, not just baseline
                        payload = encode_jpeg_progressive(
                            img, quality=90, subsampling=sub,
                            successive=bool(kk % 2))
                    else:
                        payload = encode_jpeg(
                            img, quality=90, subsampling=sub)
                elif sel == 1:
                    # png rows have did % 80 == 20; every other one is
                    # Adam7-INTERLACED so the driver hash-checks the
                    # interlaced reassembly path too
                    fmt = "png"
                    payload = encode_png(img, filter_type=int(did) % 5,
                                         interlace=bool((did // 80) % 2))
                elif sel == 2:
                    fmt = "gif"
                    payload = encode_gif((img // 32) * 32)  # <=256 colors
                else:
                    fmt = "webp"
                    payload = encode_webp_lossless(img)
                metas.append({"media_type": "image", "format": fmt,
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
                payloads.append(payload)
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    feats = image_features(media, partitions=0)
    sel = F.floor(F.col("media_id") / 20) % 4
    fmt = (F.when(sel == 0, "jpeg")
            .when(sel == 1, "png")
            .when(sel == 2, "gif")
            .otherwise("webp"))
    return feats.select(
        "media_id", fmt.alias("format"), "width", "height",
        "n_channels", "error")


@query(
    "multimodal_audio_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CASE (doc_id // 25) % 4 WHEN 0 THEN 'wav' WHEN 1 THEN 'flac'
                WHEN 2 THEN 'aiff' ELSE 'au' END AS format,
           CAST(800 + (doc_id % 10) * 80 AS BIGINT) AS n_samples,
           CAST(8000 AS INTEGER) AS sample_rate,
           CAST((800 + (doc_id % 10) * 80) * 1000 / 8000 AS BIGINT)
               AS duration_ms,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    WHERE doc_id % 25 = 0
    """,
)
def _multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode through Spark across four codecs:
    synthesize a deterministic sine per document (sample count is
    arithmetic in doc_id), encode as WAV/PCM16, FLAC (this repo's
    own encoder — FIXED/Rice-coded frames), AIFF (big-endian PCM16,
    80-bit extended-float rate) or Sun AU (G.711 mu-law, formula
    codec) by (doc_id // 25) % 4, then run
    operators.multimodal.audio_features, whose decoders parse RIFF,
    Rice-decode frames, walk FORM chunks, or mu-law-expand, and
    return the DECODED stream properties. A hash match proves every
    decode path recovers exact sample counts and rates; the all-null
    error column proves no row fell back to the error path."""
    import io
    import wave

    from ..operators.flac import encode_flac
    from ..operators.multimodal import encode_aiff_pcm16, encode_au

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 25 == 0)
            .select("doc_id"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did in pdf["doc_id"]:
                n = 800 + (did % 10) * 80
                sine = (0.4 * np.sin(np.arange(n) * (0.02 + (did % 7) / 100.0)))
                sel = (did // 25) % 4
                if sel == 0:
                    fmt = "wav"
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as wf:
                        wf.setnchannels(1)
                        wf.setsampwidth(2)
                        wf.setframerate(8000)
                        wf.writeframes(
                            (sine * 32767).astype("<i2").tobytes())
                    payload = buf.getvalue()
                elif sel == 1:
                    fmt = "flac"
                    payload = encode_flac(sine, 8000, block_size=512)
                elif sel == 2:
                    fmt = "aiff"
                    payload = encode_aiff_pcm16(sine, 8000)
                else:
                    fmt = "au"
                    payload = encode_au(sine, 8000, mulaw=True)
                metas.append({"media_type": "audio", "format": fmt,
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
                payloads.append(payload)
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    feats = audio_features(media, partitions=0)
    sel = F.floor(F.col("media_id") / 25) % 4
    fmt = (F.when(sel == 0, "wav")
            .when(sel == 1, "flac")
            .when(sel == 2, "aiff")
            .otherwise("au"))
    return feats.select(
        "media_id", fmt.alias("format"), "n_samples", "sample_rate",
        "duration_ms", "error")


@query(
    "multimodal_video_decode",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(4 + doc_id % 5 AS INTEGER) AS n_frames,
           CAST(10.0 AS DOUBLE) AS fps,
           CAST((4 + doc_id % 5) * 100 AS BIGINT) AS duration_ms,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    WHERE doc_id % 50 = 0
    """,
)
def _multimodal_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video demux through Spark: mux a deterministic number of
    JPEG frames (arithmetic in doc_id) into an MJPEG/AVI container at
    10 fps with this repo's own muxer, run
    operators.multimodal.video_features — whose demuxer walks the
    RIFF structure and reads the frame-period header — and return the
    DECODED container properties. Completes the image/audio/video
    driver-evidence triple."""
    from ..operators.avi import mux_mjpeg_avi
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import video_features

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 50 == 0)
            .select("doc_id"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did in pdf["doc_id"]:
                n = 4 + did % 5
                yy, xx = np.mgrid[0:8, 0:8]
                frames = [encode_jpeg(np.stack(
                    [(yy * 3 + did + k) % 256, (xx * 2 + k) % 256,
                     ((yy + xx) * 2) % 256],
                    axis=-1).astype(np.uint8)) for k in range(n)]
                metas.append({"media_type": "video", "format": "avi",
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
                payloads.append(mux_mjpeg_avi(frames, fps=10.0,
                                              width=8, height=8))
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    return video_features(media, partitions=0).select(
        "media_id", "n_frames", "fps", "duration_ms", "error")


# crawl-like format mix by doc_id % 100 slot: weights approximate a
# web-crawl media distribution (jpeg-heavy, png, gif, webp split
# lossless/lossy, a long tail of bmp/tiff and audio/video containers).
# THE POINT of the audit: formats whose codecs this build implements
# must decode 100%; the lossy-DSP formats (VP8-lossy webp, mp3, aac,
# mp4/h264) must raise the TYPED UnsupportedCodecError 100% — decode
# failures are measured data, never silent drops or job aborts.
_AUDIT_SLOTS = [  # (first_slot, last_slot, label, meta_format, media_type)
    (0, 44, "jpeg", "jpeg", "image"),
    (45, 64, "png", "png", "image"),
    (65, 70, "gif", "gif", "image"),
    (71, 75, "webp_lossless", "webp", "image"),
    (76, 80, "webp_lossy", "webp", "image"),
    (81, 82, "bmp", "bmp", "image"),
    (83, 84, "tiff", "tiff", "image"),
    (85, 87, "wav", "wav", "audio"),
    (88, 89, "flac", "flac", "audio"),
    (90, 93, "mp3", "mp3", "audio"),
    (94, 94, "aac", "aac", "audio"),
    (95, 96, "avi", "avi", "video"),
    (97, 98, "mp4", "mp4", "video"),
    (99, 99, "au", "au", "audio"),
]


def _audit_label_case(prefix: str) -> str:
    """The slot -> label CASE expression, shared verbatim between the
    Spark side and the DuckDB oracle so the two mixes can't drift."""
    parts = [f"CASE WHEN {prefix} <= {hi} THEN '{label}'"
             if lo == 0 else f"WHEN {prefix} <= {hi} THEN '{label}'"
             for lo, hi, label, _, _ in _AUDIT_SLOTS[:-1]]
    return " ".join(parts) + f" ELSE '{_AUDIT_SLOTS[-1][2]}' END"


def _audit_mtype_case(prefix: str) -> str:
    parts = []
    for i, (lo, hi, _, _, mt) in enumerate(_AUDIT_SLOTS[:-1]):
        kw = "CASE WHEN" if i == 0 else "WHEN"
        parts.append(f"{kw} {prefix} <= {hi} THEN '{mt}'")
    return " ".join(parts) + f" ELSE '{_AUDIT_SLOTS[-1][4]}' END"


def _bmp24(img: np.ndarray) -> bytes:
    """Minimal 24-bit bottom-up BMP (BGR, 4-byte row padding)."""
    h, w, _ = img.shape
    pad = (-(w * 3)) % 4
    body = b"".join(img[y, :, ::-1].tobytes() + b"\x00" * pad
                    for y in range(h - 1, -1, -1))
    off = 14 + 40
    return (b"BM" + (off + len(body)).to_bytes(4, "little")
            + b"\x00" * 4 + off.to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")
            + len(body).to_bytes(4, "little") + b"\x00" * 16 + body)


@query(
    "multimodal_format_audit",
    oracle=f"""
    WITH lab AS (
      SELECT {_audit_mtype_case('doc_id % 100')} AS media_type,
             {_audit_label_case('doc_id % 100')} AS format,
             CASE WHEN {_audit_label_case('doc_id % 100')} IN
                  ('webp_lossy', 'mp3', 'aac', 'mp4')
                  THEN 0 ELSE 1 END AS dec
      FROM documents
    )
    SELECT media_type, format,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(dec) AS BIGINT) AS n_decoded,
           CAST(COUNT(*) - SUM(dec) AS BIGINT) AS n_typed_error,
           CAST(SUM(dec) AS DOUBLE) / COUNT(*) AS decode_rate
    FROM lab
    GROUP BY media_type, format
    """,
)
def _multimodal_format_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-mix audit over a crawl-realistic payload distribution:
    synthesize one media payload per document (format assigned by
    doc_id % 100 with web-crawl-like weights — 45% jpeg, 20% png, 6%
    gif, 10% webp split lossless/lossy, bmp/tiff/audio/video tail),
    run the REAL decoders through the three feature operators, and
    report per-format decode vs typed-error rates. The oracle
    recomputes the expected outcome arithmetically, so a hash match
    PROVES (a) every implemented codec decodes its slice 100%, (b)
    every lossy-DSP format (VP8-lossy webp, mp3, aac, mp4) raises the
    typed UnsupportedCodecError on 100% of its rows — the dropped
    slice is a measured number (12% under this mix), never a silent
    loss or a job abort. Scale shape: synthesis+decode is a
    zero-shuffle scan-stage map; the only exchange is the final
    14-group aggregate."""
    return format_audit(spark, sf_dir)


def format_audit(spark: SparkSession, sf_dir: str,
                 image_decoders: dict | None = None,
                 audio_decoders: dict | None = None,
                 video_decoders: dict | None = None) -> DataFrame:
    """Audit implementation with the external-decoder seam exposed:
    production swaps PIL/soundfile/ffmpeg into the three feature
    operators via these mappings, and the seam test injects fakes
    here to prove the swap keeps the schema and per-row error
    contract and shifts the audit by exactly the reclaimed lossy
    slice (tests/test_multimodal.py::test_external_decoder_seam*)."""
    import io
    import wave

    from ..operators.avi import mux_mjpeg_avi
    from ..operators.flac import encode_flac
    from ..operators.gif import encode_gif
    from ..operators.jpeg import encode_jpeg
    from ..operators.multimodal import (
        encode_au,
        video_features,
    )
    from ..operators.png import encode_png
    from ..operators.tiff import encode_tiff
    from ..operators.webp import encode_webp_lossless

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    slot_row = {}
    for lo, hi, label, fmt, mt in _AUDIT_SLOTS:
        for s in range(lo, hi + 1):
            slot_row[s] = (label, fmt, mt)

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did in pdf["doc_id"]:
                label, fmt, mt = slot_row[int(did) % 100]
                h, w = 8 + did % 5, 8 + did % 6
                yy, xx = np.mgrid[0:h, 0:w]
                img = np.stack([(yy * 3 + did) % 256, (xx * 2 + did) % 256,
                                ((yy + xx) * 2) % 256],
                               axis=-1).astype(np.uint8)
                if label == "jpeg":
                    payload = encode_jpeg(img, quality=90)
                elif label == "png":
                    payload = encode_png(img)
                elif label == "gif":
                    payload = encode_gif((img // 32) * 32)
                elif label == "webp_lossless":
                    payload = encode_webp_lossless(img)
                elif label == "webp_lossy":
                    body = b"\x00" * 24
                    riff = (b"WEBP" + b"VP8 "
                            + len(body).to_bytes(4, "little") + body)
                    payload = (b"RIFF" + len(riff).to_bytes(4, "little")
                               + riff)
                elif label == "bmp":
                    payload = _bmp24(img)
                elif label == "tiff":
                    payload = encode_tiff(img, lzw=True, predictor=True)
                elif label in ("wav", "flac", "au"):
                    n = 400 + (did % 5) * 40
                    sine = 0.4 * np.sin(
                        np.arange(n) * (0.02 + (did % 7) / 100.0))
                    if label == "wav":
                        buf = io.BytesIO()
                        with wave.open(buf, "wb") as wf:
                            wf.setnchannels(1)
                            wf.setsampwidth(2)
                            wf.setframerate(8000)
                            wf.writeframes(
                                (sine * 32767).astype("<i2").tobytes())
                        payload = buf.getvalue()
                    elif label == "flac":
                        payload = encode_flac(sine, 8000, block_size=256)
                    else:
                        payload = encode_au(sine, 8000, mulaw=True)
                elif label == "mp3":
                    payload = b"\xff\xfb\x90\x64" + bytes(64)
                elif label == "aac":
                    payload = b"\xff\xf1\x50\x80\x00\x1f\xfc" + bytes(64)
                elif label == "avi":
                    frames = [encode_jpeg(img) for _ in range(2)]
                    payload = mux_mjpeg_avi(frames, fps=10.0,
                                            width=int(w), height=int(h))
                else:  # mp4
                    payload = (b"\x00\x00\x00\x18ftypisom"
                               b"\x00\x00\x02\x00isomiso2" + bytes(64))
                metas.append({"media_type": mt, "format": fmt,
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
                payloads.append(payload)
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    # one synthesis branch per media type, pre-filtered on the slot
    # arithmetic — otherwise each feature operator's meta.media_type
    # filter would re-run the full synthesize map (3x encode cost)
    slots_of = {mt: [s for s, (_, _, m) in slot_row.items() if m == mt]
                for mt in ("image", "audio", "video")}

    def branch(mt):
        sliced = docs.filter((F.col("doc_id") % 100).isin(slots_of[mt]))
        # the docs scan is one split locally: without a fan-out the
        # encode-side Python work serializes on one core per branch
        return _fan_out(sliced, "doc_id").mapInPandas(
            synthesize, schema=MEDIA_SCHEMA)

    outcomes = (
        image_features(branch("image"), partitions=0,
                       decoders=image_decoders)
        .select("media_id", "error")
        .unionByName(
            audio_features(branch("audio"), decoders=audio_decoders,
                           partitions=0)
            .select("media_id", "error"))
        .unionByName(
            video_features(branch("video"), decoders=video_decoders,
                           partitions=0)
            .select("media_id", "error")))
    labeled = outcomes.select(
        "error",
        F.expr(_audit_mtype_case("media_id % 100")).alias("media_type"),
        F.expr(_audit_label_case("media_id % 100")).alias("format"))
    return (labeled.groupBy("media_type", "format").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0))
         .cast("long").alias("n_decoded"),
        F.sum(F.when(F.col("error").startswith("UnsupportedCodecError"),
                     1).otherwise(0)).cast("long").alias("n_typed_error"),
        (F.sum(F.when(F.col("error").isNull(), 1).otherwise(0))
          .cast("double") / F.count(F.lit(1))).alias("decode_rate")))


@query(
    "audio_stream_triage",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 8 = 0 THEN 'mp3' ELSE 'wav' END AS format,
           CAST(CASE WHEN doc_id % 8 = 0 THEN 22050 ELSE 8000 END
                AS INTEGER) AS sample_rate,
           CASE WHEN doc_id % 8 = 0
                THEN CAST(20 + doc_id % 25 AS BIGINT) END AS n_frames,
           CAST(CASE WHEN doc_id % 8 = 0 THEN (20 + doc_id % 25) * 576
                     ELSE 500 + (doc_id % 10) * 100 END
                AS BIGINT) AS n_samples,
           CAST(CASE WHEN doc_id % 8 = 0
                     THEN (20 + doc_id % 25) * 576 * 1000 // 22050
                     ELSE (500 + (doc_id % 10) * 100) * 1000 // 8000 END
                AS BIGINT) AS duration_ms,
           CASE WHEN doc_id % 8 = 0
                THEN CAST(32 + 32 * ((doc_id // 8) % 4) AS DOUBLE)
                END AS bitrate_kbps,
           FALSE AS vbr,
           CAST(NULL AS VARCHAR) AS error
    FROM documents
    WHERE doc_id % 4 = 0
    """,
)
def _audio_stream_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-level audio triage WITHOUT sample decode: MP3 payloads
    (synthesized CBR MPEG-2 Layer III frame sequences, arithmetic in
    doc_id) yield duration / frame count / bitrate / VBR-ness from
    the frame-header walker (`operators/mp3.py` — validated against
    an externally-encoded real-world MP3 in tests), WAV payloads
    yield the same fields from the PCM decoder. The oracle recomputes
    every field arithmetically, so a hash match proves the frame walk
    reconstructs the exact stream geometry. This is the triage a
    crawl pipeline runs BEFORE paying for PCM decode — at 100 TB it
    is a zero-shuffle scan-stage map over the payload column.
    bitrate_kbps is surfaced for the CBR mp3 rows (exact by
    construction); for wav it is derivable from the exact fields and
    elided to keep the hash free of float-rounding-mode drift."""
    import io
    import wave

    from ..operators.mp3 import make_cbr_mp3
    from ..operators.multimodal import audio_stream_info

    docs = (load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 4 == 0)
            .select("doc_id"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did in pdf["doc_id"]:
                if did % 8 == 0:
                    fmt = "mp3"
                    payload = make_cbr_mp3(
                        int(20 + did % 25),
                        bitrate_kbps=int(32 + 32 * ((did // 8) % 4)),
                        sample_rate=22050)
                else:
                    fmt = "wav"
                    n = int(500 + (did % 10) * 100)
                    sine = 0.3 * np.sin(np.arange(n) * 0.03)
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as wf:
                        wf.setnchannels(1)
                        wf.setsampwidth(2)
                        wf.setframerate(8000)
                        wf.writeframes(
                            (sine * 32767).astype("<i2").tobytes())
                    payload = buf.getvalue()
                metas.append({"media_type": "audio", "format": fmt,
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
                payloads.append(payload)
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    info = audio_stream_info(media, partitions=0)
    is_mp3 = F.col("media_id") % 8 == 0
    return info.select(
        "media_id",
        F.when(is_mp3, "mp3").otherwise("wav").alias("format"),
        "sample_rate", "n_frames", "n_samples", "duration_ms",
        F.when(is_mp3, F.col("bitrate_kbps")).alias("bitrate_kbps"),
        "vbr", "error")


@query(
    "warc_ingest_extract",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(2 + doc_id % 3 AS BIGINT) AS n_records,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_responses,
           CAST((1 + doc_id % 3) * octet_length(encode(text))
                AS BIGINT) AS total_body_bytes,
           CAST(1 + doc_id % 3 AS BIGINT) AS n_uris,
           md5(text) AS body_md5,
           CAST(0 AS INTEGER) AS n_bad
    FROM documents
    WHERE doc_id % 5 = 0 AND text IS NOT NULL
    """,
)
def _warc_ingest_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl ingestion end to end: synthesize a WARC file per
    document (1 warcinfo + 1..3 HTTP response records whose bodies
    are the document text; every other file gzip-compressed
    per-record, the Common Crawl layout), parse it through
    sources/warc.warc_records — real ISO 28500 framing, gzip member
    walking, HTTP response splitting — and aggregate per file. The
    oracle recomputes every field arithmetically (record counts from
    doc_id, body bytes from octet_length, body md5 = md5(text)), so
    a hash match proves the parser recovers the exact record
    structure and payload bytes from both plain and gzip WARCs, with
    zero bad segments. Scale shape: parse is a zero-shuffle
    scan-stage map; only extracted metadata reaches the one
    per-file aggregation exchange."""
    from ..sources.warc import warc_records, write_warc

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 5 == 0)
                    & F.col("text").isNotNull())
            .select("doc_id", "text"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                body = text.encode("utf-8")
                http = (b"HTTP/1.1 200 OK\r\n"
                        b"Content-Type: text/plain\r\n\r\n" + body)
                recs = [{"warc_type": "warcinfo",
                         "payload": b"software: sparkwarc 1.0\r\n"}]
                for k in range(1 + int(did) % 3):
                    recs.append({
                        "warc_type": "response",
                        "target_uri":
                            f"https://example.com/doc/{did}/{k}",
                        "payload": http})
                ids.append(int(did))
                payloads.append(write_warc(
                    recs, gzip_members=bool((did // 5) % 2)))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, "media_id long, payload binary")
    recs = warc_records(media)
    is_resp = F.col("http_status").isNotNull()
    return (recs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(is_resp, 1).otherwise(0)).cast("long")
         .alias("n_responses"),
        F.sum(F.when(is_resp, F.col("body_bytes")).otherwise(0))
         .cast("long").alias("total_body_bytes"),
        F.countDistinct("target_uri").cast("long").alias("n_uris"),
        F.max(F.when(is_resp, F.col("body_md5"))).alias("body_md5"),
        F.max("n_bad_segments").cast("int").alias("n_bad")))


@query(
    "multimodal_pdf_extract",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(p AS INTEGER) AS page,
           CAST(p * chunk AS BIGINT) AS char_offset,
           CAST(len(pg) AS BIGINT) AS n_chars,
           md5(pg) AS text_md5,
           CAST(NULL AS VARCHAR) AS error
    FROM (
      SELECT doc_id, p, chunk,
             substr(text, CAST(1 + p * chunk AS INT),
                    CAST(chunk AS INT)) AS pg
      FROM (
        SELECT doc_id, text,
               120 + ((doc_id // 15) % 5) * 40 AS chunk,
               unnest(range(0, CAST(ceil(
                 len(text) / (120 + ((doc_id // 15) % 5) * 40.0))
                 AS BIGINT))) AS p
        FROM documents WHERE doc_id % 15 = 0 AND text IS NOT NULL
      )
    )
    """,
)
def _multimodal_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text extraction through Spark (operators/pdf.py —
    xref-table walk, FlateDecode via zlib, object/string grammar,
    BT/ET + Tj/TJ text operators with the word-kern rule): each
    document's text splits into arithmetic page chunks and encodes as
    a real multi-page PDF cycling through FOUR writer profiles by
    (doc_id // 15) % 4 — Flate-compressed literal strings, raw TJ
    word-kern arrays, Flate + hex strings + /Contents split across
    two streams, and raw literal — then
    operators/multimodal.pdf_text_features parses the bytes back and
    the driver hashes per-page md5 + offsets against the oracle's
    substring arithmetic. A hash match proves the parse -> inflate ->
    content-tokenize -> text-assemble chain recovers every page
    byte-for-byte; the all-null error column proves no row fell back
    to the typed-error path (encryption/xref-stream/Type0 errors are
    pytest-pinned in tests/test_pdf.py).

    Scale: encode and decode are Arrow-batched scan-stage work; only
    page text rows (never payloads) flow on."""
    from ..operators.pdf import encode_pdf
    from ..operators.multimodal import pdf_text_features

    docs = (load_table(spark, sf_dir, "documents")
            .filter((F.col("doc_id") % 15 == 0)
                    & F.col("text").isNotNull())
            .select("doc_id", "text"))

    def synthesize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas, payloads = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                chunk = 120 + ((did // 15) % 5) * 40
                pages = [text[i:i + chunk]
                         for i in range(0, len(text), chunk)]
                v = (did // 15) % 4
                payloads.append(encode_pdf(
                    pages,
                    flate=v in (0, 2),
                    tj_words=v == 1,
                    hex_strings=v == 2,
                    split_contents=v == 2))
                metas.append({"media_type": "document", "format": "pdf",
                              "width": None, "height": None,
                              "n_channels": None, "sample_rate": None,
                              "duration_ms": None})
            yield pd.DataFrame({
                "media_id": pdf["doc_id"].astype("int64"),
                "meta": pd.Series(metas, dtype="object"),
                "payload": pd.Series(payloads, dtype="object")})

    media = _fan_out(docs, "doc_id").mapInPandas(synthesize, schema=MEDIA_SCHEMA)
    feats = pdf_text_features(media, partitions=0)
    return feats.select(
        "media_id", "page", "char_offset", "n_chars",
        F.md5("text").alias("text_md5"), "error")
