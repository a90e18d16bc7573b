"""MJPEG/AVI container codec in pure Python — the real demux step
behind ``multimodal.video_features``.

AVI is a RIFF container (the same chunk grammar as WAV): a ``hdrl``
list carries the main header (``avih``, frame period in µs) and one
stream header pair (``strh``/``strf``); a ``movi`` list carries the
frame chunks (``00dc``/``00db`` = stream-0 compressed/uncompressed
video). An MJPEG AVI's frame chunks are each a complete baseline
JPEG, so demux + :func:`..jpeg.decode_jpeg` is a fully real video
decode path with no external libraries. The muxer exists so the
demuxer round-trips in tests and so a pipeline can re-emit sampled/
filtered frame streams as playable files (ffplay/VLC read them).

Scope: single video stream, MJPG fourcc, no interleaved audio.
Streams outside it (mp4/mkv/avi-with-other-codecs) raise
:class:`~.codec.UnsupportedCodecError`, surfaced per row by
``video_features`` — never a job abort.
"""

from __future__ import annotations

import struct

from .codec import UnsupportedCodecError, decoder


def _chunks(buf: bytes, start: int, end: int):
    """Yield (fourcc, payload_start, payload_size) walking a RIFF
    chunk sequence; chunks are word-aligned. A chunk whose declared
    size runs past ``end`` (its parent's end, or the end of a
    truncated file) raises ``ValueError`` rather than yielding a cut
    payload."""
    i = start
    while i + 8 <= end:
        fourcc = buf[i:i + 4]
        (size,) = struct.unpack("<I", buf[i + 4:i + 8])
        if i + 8 + size > end:
            raise ValueError(
                f"AVI chunk {fourcc!r} at {i} overruns its parent")
        yield fourcc, i + 8, size
        i += 8 + size + (size & 1)


@decoder
def demux_mjpeg_avi(payload: bytes) -> tuple[list[bytes], float]:
    """AVI bytes -> (list of per-frame JPEG bytes, frames_per_second).

    Raises :class:`UnsupportedCodecError` for non-AVI containers and
    AVIs whose video stream is not MJPEG; ``ValueError`` for
    structurally broken AVI data.
    """
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise UnsupportedCodecError(
            "not an AVI container (production swaps in pyav here)")
    (riff_size,) = struct.unpack("<I", payload[4:8])
    end = min(8 + riff_size, len(payload))

    fps = None
    codec_ok = False
    frames: list[bytes] = []
    for fourcc, p, size in _chunks(payload, 12, end):
        if fourcc != b"LIST":
            continue
        list_type = payload[p:p + 4]
        if list_type == b"hdrl":
            for cc, q, sz in _chunks(payload, p + 4, p + size):
                if cc == b"avih" and sz >= 4:
                    (us_per_frame,) = struct.unpack(
                        "<I", payload[q:q + 4])
                    if us_per_frame:
                        fps = 1_000_000.0 / us_per_frame
                elif cc == b"LIST" and payload[q:q + 4] == b"strl":
                    for c2, r, s2 in _chunks(payload, q + 4, q + sz):
                        if c2 == b"strh" and s2 >= 8:
                            if payload[r:r + 4] != b"vids":
                                continue
                            handler = payload[r + 4:r + 8]
                            if handler not in (b"MJPG", b"mjpg",
                                               b"\x00\x00\x00\x00"):
                                raise UnsupportedCodecError(
                                    f"AVI video codec {handler!r}: only "
                                    "MJPG is supported in this build")
                            codec_ok = True
        elif list_type == b"movi":
            for cc, q, sz in _chunks(payload, p + 4, p + size):
                # 00dc/00db: stream-0 video frame (compressed/raw)
                if cc in (b"00dc", b"00db") and sz > 0:
                    frames.append(payload[q:q + sz])
    if not codec_ok:
        raise UnsupportedCodecError(
            "AVI has no MJPG video stream header")
    if not frames:
        raise ValueError("MJPEG AVI contains no frame chunks")
    return frames, fps or 25.0


def mux_mjpeg_avi(frames: list[bytes], fps: float = 25.0,
                  width: int = 0, height: int = 0) -> bytes:
    """Per-frame JPEG bytes -> minimal playable MJPEG AVI."""
    if not frames:
        raise ValueError("cannot mux an empty frame list")

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(list_type: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", list_type + body)

    us_per_frame = int(round(1_000_000 / fps))
    max_bytes = max(len(f) for f in frames)
    avih = struct.pack("<14I", us_per_frame, max_bytes * int(fps), 0,
                       0,               # flags: no idx1 index written
                       len(frames), 0, 1, max_bytes, width, height,
                       0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<10I", 0, 0, 0, 1,
                                            int(round(fps)), 0,
                                            len(frames), max_bytes,
                                            0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, width, height))
    strf = struct.pack("<IiiHH4sIiiII", 40, width, height, 1, 24,
                       b"MJPG", width * height * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
