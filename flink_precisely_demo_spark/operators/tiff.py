"""Baseline TIFF codec in pure numpy — the scanned-document format.

- DECODE: both byte orders (II/MM), 8-bit grayscale (photometric 0/1,
  with 0 = white-is-zero inverted per spec) and RGB/RGBA, strip
  layout, uncompressed (1), LZW (5) or PackBits (32773) compression,
  optional horizontal predictor (2). Extra samples beyond RGB (alpha)
  are dropped, matching the PNG rule. Anything else — tiled layout,
  JPEG-in-TIFF, 16-bit, planar configuration 2 — raises
  :class:`~.codec.UnsupportedCodecError`, surfaced per row by the
  feature operators.
- ENCODE: single-strip uncompressed, LZW or PackBits, gray/RGB,
  either byte order — exists so the decoder round-trips both
  endiannesses and every compression path without any imaging
  library.

The LZW is :func:`.codec.lzw_encode`/:func:`.codec.lzw_decode` in its
TIFF flavour: 8-bit symbols, codes packed MSB-first, early change.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import UnsupportedCodecError, decoder, lzw_decode, lzw_encode

_TAGS = {256: "width", 257: "height", 258: "bits", 259: "compression",
         262: "photometric", 273: "strip_offsets", 277: "spp",
         278: "rows_per_strip", 279: "strip_counts", 284: "planar",
         317: "predictor"}

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}


def _packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        header = data[i]
        i += 1
        if header < 128:                      # literal run
            out += data[i:i + header + 1]
            i += header + 1
        elif header > 128:                    # replicate run
            out += data[i:i + 1] * (257 - header)
            i += 1
        # 128 = no-op
    if len(out) < expected:
        raise ValueError("tiff: PackBits stream underruns strip")
    return bytes(out[:expected])


def _packbits_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        lit = i
        while (i < n and i - lit < 128
               and not (i + 1 < n and data[i] == data[i + 1])):
            i += 1
        out.append(i - lit - 1)
        out += data[lit:i]
    return bytes(out)


@decoder
def decode_tiff(payload: bytes) -> np.ndarray:
    """TIFF bytes -> (h, w, 3) RGB uint8 (first IFD only)."""
    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    (ifd_off,) = struct.unpack(bo + "I", payload[4:8])
    (n_entries,) = struct.unpack(bo + "H", payload[ifd_off:ifd_off + 2])

    tags: dict[str, list[int]] = {}
    for e in range(n_entries):
        off = ifd_off + 2 + e * 12
        tag, typ, count = struct.unpack(bo + "HHI", payload[off:off + 8])
        name = _TAGS.get(tag)
        if name is None or typ not in _TYPE_SIZE:
            continue
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            raw = payload[off + 8:off + 8 + size]
        else:
            (voff,) = struct.unpack(bo + "I", payload[off + 8:off + 12])
            raw = payload[voff:voff + size]
        fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
        if fmt is None:
            continue
        tags[name] = list(struct.unpack(bo + fmt * count, raw))

    try:
        w, h = tags["width"][0], tags["height"][0]
        photometric = tags["photometric"][0]
        offsets = tags["strip_offsets"]
        counts = tags["strip_counts"]
    except KeyError as e:
        raise ValueError(f"tiff: missing required tag {e}") from None
    spp = tags.get("spp", [1])[0]
    bits = tags.get("bits", [8])
    compression = tags.get("compression", [1])[0]
    planar = tags.get("planar", [1])[0]
    if any(b != 8 for b in bits):
        raise UnsupportedCodecError(f"tiff: only 8-bit samples (got {bits})")
    if planar != 1:
        raise UnsupportedCodecError("tiff: planar configuration 2")
    if compression not in (1, 5, 32773):
        raise UnsupportedCodecError(
            f"tiff: compression {compression} (only none/LZW/PackBits)")
    predictor = tags.get("predictor", [1])[0]
    if predictor not in (1, 2):
        raise UnsupportedCodecError(f"tiff: predictor {predictor}")
    if photometric not in (0, 1, 2):
        raise UnsupportedCodecError(
            f"tiff: photometric {photometric} (gray/RGB only)")

    rows_per_strip = tags.get("rows_per_strip", [h])[0] or h
    stride = w * spp
    data = bytearray()
    for si, (soff, scount) in enumerate(zip(offsets, counts)):
        strip = payload[soff:soff + scount]
        nrows = min(rows_per_strip, h - si * rows_per_strip)
        if compression == 32773:
            strip = _packbits_decode(strip, nrows * stride)
        elif compression == 5:
            strip = lzw_decode(strip, 8, msb=True, early=1,
                               bad_first="tiff lzw: bad first code",
                               bad_code="tiff lzw: code out of range")
        data += strip[:nrows * stride]
    if len(data) < h * stride:
        raise ValueError("tiff: truncated strip data")
    px = np.frombuffer(bytes(data), np.uint8, h * stride).reshape(h, w, spp)
    if predictor == 2:
        # horizontal differencing: per row, per channel, cumulative
        px = (px.astype(np.int32).cumsum(axis=1) & 0xFF).astype(np.uint8)
    if photometric == 2:
        if spp < 3:
            raise ValueError("tiff: RGB photometric with <3 samples")
        return px[..., :3].copy()             # drop alpha/extra samples
    gray = px[..., 0]
    if photometric == 0:                      # white-is-zero
        gray = 255 - gray
    return np.repeat(gray[..., None], 3, axis=2)


def encode_tiff(img: np.ndarray, byte_order: str = "<",
                packbits: bool = False, lzw: bool = False,
                predictor: bool = False) -> bytes:
    """(h, w[, 3]) uint8 -> single-strip TIFF. ``packbits`` or
    ``lzw`` selects the compression (mutually exclusive);
    ``predictor`` applies horizontal differencing (tag 317 = 2, the
    standard companion of LZW) before compressing."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    spp = 1 if gray else 3
    bo = byte_order
    if bo not in ("<", ">"):
        raise ValueError("byte_order must be '<' or '>'")
    if packbits and lzw:
        raise ValueError("packbits and lzw are mutually exclusive")
    plane = img.reshape(h, w, spp)
    if predictor:
        diff = plane.astype(np.int16)
        diff[:, 1:, :] = (diff[:, 1:, :] - diff[:, :-1, :]) % 256
        plane = diff.astype(np.uint8)
    pix = plane.tobytes()
    if packbits:
        pix = _packbits_encode(pix)
    elif lzw:
        pix = lzw_encode(pix, 8, msb=True, early=1)

    entries = []                    # (tag, type, count, value_or_bytes)

    def short(tag, v):
        entries.append((tag, 3, 1, v))

    def long_(tag, v):
        entries.append((tag, 4, 1, v))

    short(256, w)
    short(257, h)
    if gray:
        short(258, 8)
    else:
        entries.append((258, 3, 3, b"BITS"))       # placeholder, patched
    short(259, 32773 if packbits else (5 if lzw else 1))
    short(262, 1 if gray else 2)                   # black-is-zero / RGB
    long_(273, 0)                                  # patched strip offset
    short(277, spp)
    short(278, h)
    long_(279, len(pix))
    if predictor:
        short(317, 2)

    header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 42, 8)
    ifd_off = 8
    n = len(entries)
    extra_off = ifd_off + 2 + n * 12 + 4           # after IFD + next-ptr
    extra = bytearray()
    body = bytearray()
    body += struct.pack(bo + "H", n)
    for tag, typ, count, val in sorted(entries):
        if val == b"BITS":                         # 3 SHORTs: off-IFD
            voff = extra_off + len(extra)
            extra += struct.pack(bo + "HHH", 8, 8, 8)
            if len(extra) % 2:
                extra += b"\x00"
            body += struct.pack(bo + "HHII", tag, typ, count, voff)
        elif tag == 273:
            strip_entry_pos = len(body)
            body += struct.pack(bo + "HHII", tag, typ, count, 0)
        elif typ == 3:
            body += struct.pack(bo + "HHI", tag, typ, count)
            body += struct.pack(bo + "H", val) + b"\x00\x00"
        else:
            body += struct.pack(bo + "HHII", tag, typ, count, val)
    body += struct.pack(bo + "I", 0)               # no next IFD
    strip_off = extra_off + len(extra)
    body[strip_entry_pos:strip_entry_pos + 12] = struct.pack(
        bo + "HHII", 273, 4, 1, strip_off)
    return header + bytes(body) + bytes(extra) + pix
