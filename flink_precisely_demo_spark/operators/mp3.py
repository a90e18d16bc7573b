"""MPEG audio (MP3) stream-level parser — no DSP, no samples.

Full Layer III sample reconstruction is a lossy-DSP codec this build
deliberately leaves to the production seam (soundfile/ffmpeg swap in
``multimodal._decode_audio``). But a crawl pipeline needs audio
TRIAGE long before it needs PCM: duration, sample rate, channel
layout, bitrate and VBR-ness decide whether a payload is worth
shipping to the expensive decode stage at all. All of that lives in
the frame headers, which are pure bit arithmetic — so this module
walks the frame sequence (ISO/IEC 11172-3 / 13818-3 header layout):

- ID3v2 tag skip (syncsafe size), ID3v1 tail trim, leading junk scan
- MPEG-1 / MPEG-2 / MPEG-2.5, Layers I/II/III header decode
  (bitrate + sample-rate tables, padding, channel mode)
- Xing/Info and VBRI headers for VBR frame counts
- frame-by-frame walk with resync, returning stream-level stats

Validated against an externally-produced real-world file in
tests/test_multimodal.py (gsutil's test.mp3: MPEG-2 Layer III,
22050 Hz mono — a file this repo's encoders could not have written,
so the tables can't be self-consistently wrong).

No counterpart in the reference (extension scope, SURVEY.md §2.3
multimodal family).
"""

from __future__ import annotations

from .codec import UnsupportedCodecError, decoder

# bitrate kbps by [version_group][layer][index]; version_group 0 =
# MPEG-1, 1 = MPEG-2/2.5 (which share tables); layer index 1/2/3
_BITRATE = {
    (0, 1): (0, 32, 64, 96, 128, 160, 192, 224,
             256, 288, 320, 352, 384, 416, 448),
    (0, 2): (0, 32, 48, 56, 64, 80, 96, 112,
             128, 160, 192, 224, 256, 320, 384),
    (0, 3): (0, 32, 40, 48, 56, 64, 80, 96,
             112, 128, 160, 192, 224, 256, 320),
    (1, 1): (0, 32, 48, 56, 64, 80, 96, 112,
             128, 144, 160, 176, 192, 224, 256),
    (1, 2): (0, 8, 16, 24, 32, 40, 48, 56,
             64, 80, 96, 112, 128, 144, 160),
    (1, 3): (0, 8, 16, 24, 32, 40, 48, 56,
             64, 80, 96, 112, 128, 144, 160),
}

# sample rate Hz by [version][index]; version bits: 0=2.5, 2=2, 3=1
_SAMPLE_RATE = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}

# samples per frame by (version_group, layer)
_SAMPLES = {(0, 1): 384, (0, 2): 1152, (0, 3): 1152,
            (1, 1): 384, (1, 2): 1152, (1, 3): 576}

_MODES = ("stereo", "joint_stereo", "dual_channel", "mono")


def _parse_header(h: int) -> dict | None:
    """Decode a 32-bit frame header; None if not a valid frame."""
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    ver_bits = (h >> 19) & 3
    layer_bits = (h >> 17) & 3
    if ver_bits == 1 or layer_bits == 0:
        return None
    layer = 4 - layer_bits           # bits 3/2/1 -> layer I/II/III
    vgroup = 0 if ver_bits == 3 else 1
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None                  # free-format / invalid
    bitrate = _BITRATE[(vgroup, layer)][br_idx]
    sample_rate = _SAMPLE_RATE[ver_bits][sr_idx]
    padding = (h >> 9) & 1
    mode = _MODES[(h >> 6) & 3]
    samples = _SAMPLES[(vgroup, layer)]
    if layer == 1:
        frame_len = (12 * bitrate * 1000 // sample_rate + padding) * 4
    else:
        # Layer II/III: coefficient is samples/8 (144 for MPEG-1 L3
        # and all L2; 72 for MPEG-2/2.5 L3 whose frames carry 576)
        frame_len = samples // 8 * bitrate * 1000 // sample_rate + padding
    return {"version": {3: "1", 2: "2", 0: "2.5"}[ver_bits],
            "layer": layer, "bitrate_kbps": bitrate,
            "sample_rate": sample_rate, "mode": mode,
            "samples": samples, "frame_len": frame_len}


def _skip_id3(data: bytes) -> int:
    """Byte offset past any leading ID3v2 tag."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    size = ((data[6] & 0x7F) << 21 | (data[7] & 0x7F) << 14
            | (data[8] & 0x7F) << 7 | (data[9] & 0x7F))
    footer = 10 if data[5] & 0x10 else 0
    return 10 + size + footer


def _xing_frames(data: bytes, off: int,
                 hdr: dict) -> tuple[int | None, str | None]:
    """(frame count, tag name) from a Xing/Info or VBRI header in the
    first frame's side-info region, if present. The tag name matters:
    LAME writes ``Info`` specifically to mark CBR streams, so only
    ``Xing``/``VBRI`` are VBR signals — but an ``Info`` frame count
    is still authoritative for duration."""
    if hdr["version"] == "1":
        side = 32 if hdr["mode"] != "mono" else 17
    else:
        side = 17 if hdr["mode"] != "mono" else 9
    p = off + 4 + side
    tag = data[p:p + 4]
    if tag in (b"Xing", b"Info") and data[p + 7:p + 8]:
        if data[p + 7] & 0x01 and len(data) >= p + 12:
            return (int.from_bytes(data[p + 8:p + 12], "big"),
                    tag.decode("ascii"))
    q = off + 4 + 32
    if data[q:q + 4] == b"VBRI" and len(data) >= q + 20:
        return int.from_bytes(data[q + 14:q + 18], "big"), "VBRI"
    return None, None


@decoder
def mp3_stream_info(payload: bytes) -> dict:
    """Stream-level stats from walking every frame header.

    Returns dict(version, layer, sample_rate, mode, n_frames,
    n_samples, duration_ms, bitrate_kbps [average], vbr). Raises
    :class:`UnsupportedCodecError` when no MPEG audio frame sequence
    is found (surfaced per row by the feature operators)."""
    data = payload
    if data[-128:-125] == b"TAG":        # ID3v1 tail
        data = data[:-128]
    i = _skip_id3(data)
    n = len(data)
    # scan for the first valid header that is CONFIRMED by a second
    # valid frame right after it (or clean EOF) — the resync rule
    # real demuxers use to skip leading junk
    first = None
    scan_limit = min(n - 4, i + 65536)
    while i <= scan_limit:
        if data[i] == 0xFF and (data[i + 1] & 0xE0) == 0xE0:
            hdr = _parse_header(int.from_bytes(data[i:i + 4], "big"))
            if hdr and hdr["frame_len"] >= 4:
                j = i + hdr["frame_len"]
                if j >= n or (j + 4 <= n and _parse_header(
                        int.from_bytes(data[j:j + 4], "big"))):
                    first = (i, hdr)
                    break
        i += 1
    if first is None:
        raise UnsupportedCodecError(
            "mp3: no MPEG audio frame sequence found")
    off, hdr0 = first
    xing, xing_tag = _xing_frames(data, off, hdr0)

    n_frames = 0
    bitrate_sum = 0
    bitrates = set()
    i = off
    while i + 4 <= n:
        hdr = _parse_header(int.from_bytes(data[i:i + 4], "big"))
        if hdr is None or hdr["frame_len"] < 4:
            i += 1                        # resync
            continue
        n_frames += 1
        bitrate_sum += hdr["bitrate_kbps"]
        bitrates.add(hdr["bitrate_kbps"])
        i += hdr["frame_len"]
    if xing is not None:
        # trust the encoder's frame count for duration (the Xing
        # frame itself carries no audio), keep the walked average
        n_frames = max(n_frames - 1, xing)
    n_samples = n_frames * hdr0["samples"]
    return {
        "version": hdr0["version"],
        "layer": hdr0["layer"],
        "sample_rate": hdr0["sample_rate"],
        "mode": hdr0["mode"],
        "n_frames": n_frames,
        "n_samples": n_samples,
        "duration_ms": (n_samples * 1000 // hdr0["sample_rate"]
                        if hdr0["sample_rate"] else 0),
        "bitrate_kbps": (round(bitrate_sum / max(n_frames, 1), 3)),
        # Info is LAME's explicit CBR marker — never a VBR signal
        "vbr": len(bitrates) > 1 or xing_tag in ("Xing", "VBRI"),
    }


def make_cbr_mp3(n_frames: int, bitrate_kbps: int = 64,
                 sample_rate: int = 22050, mono: bool = True) -> bytes:
    """Deterministic CBR MPEG-2 Layer III frame sequence (headers +
    zero payload) — a SYNTHESIS helper for tests and oracles, not an
    encoder: the payload carries no audio, only the frame structure
    a stream parser consumes."""
    ver_bits = 2 if sample_rate in _SAMPLE_RATE[2] else 3
    vgroup = 0 if ver_bits == 3 else 1
    br_idx = _BITRATE[(vgroup, 3)].index(bitrate_kbps)
    sr_idx = _SAMPLE_RATE[ver_bits].index(sample_rate)
    mode_bits = 3 if mono else 0
    h = (0x7FF << 21) | (ver_bits << 19) | (1 << 17) | (br_idx << 12) \
        | (sr_idx << 10) | (mode_bits << 6) | (1 << 16)  # CRC absent
    hdr = _parse_header(h)
    frame = h.to_bytes(4, "big") + bytes(hdr["frame_len"] - 4)
    return frame * n_frames
