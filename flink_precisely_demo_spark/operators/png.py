"""PNG codec in numpy + stdlib zlib — the real decode step for the
web's second image format (no external imaging library needed:
PNG's compression IS zlib, which ships with CPython).

Scope:

- DECODE: 8-bit non-interlaced PNG in all five color types
  (grayscale, RGB, palette, gray+alpha, RGBA), all five scanline
  filters (None/Sub/Up/Average/Paeth). Alpha is dropped (feature
  extraction wants pixels; compositing policy belongs to the
  caller). 16-bit, sub-8-bit and Adam7-interlaced streams raise
  :class:`~.codec.UnsupportedCodecError`; malformed data raises
  ``ValueError`` — both per-row surfaced by the feature operators.
- ENCODE: 8-bit grayscale/RGB/RGBA, selectable scanline filter
  (exists to round-trip every unfilter path in tests and to re-emit
  lossless payloads — quality-free, unlike the JPEG encoder).

Unfiltering is per-row numpy: None/Up are whole-row vector ops, Sub
is a per-channel cumulative sum, Average/Paeth fall back to a
per-pixel loop (their recurrence is inherently sequential). Our own
encoder defaults to filter 0, so the fast path covers re-decode.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .codec import UnsupportedCodecError, decoder

_SIG = b"\x89PNG\r\n\x1a\n"
#: color type -> raw channel count
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass geometry: (x_start, y_start, x_step, y_step) — PNG
#: spec §8.2 (passes 4 and 6 start at y=0, not mid-tile)
_ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]


def _defilter(raw: bytes, w: int, h: int, ch: int,
              offset: int) -> tuple[np.ndarray, int]:
    """Undo the five scanline filters over one (sub-)image whose
    filtered rows start at ``offset`` in the inflated stream.
    Returns (recon rows (h, w*ch) uint8, next offset)."""
    stride = w * ch
    if len(raw) - offset < h * (stride + 1):
        raise ValueError("png: truncated pixel data")
    recon = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        off = offset + y * (stride + 1)
        f = raw[off]
        row = np.frombuffer(raw, dtype=np.uint8,
                            count=stride, offset=off + 1).astype(np.int32)
        if f == 0:                                  # None
            cur = row
        elif f == 2:                                # Up
            cur = (row + prev) & 0xFF
        elif f == 1:                                # Sub: per-channel cumsum
            cur = row.reshape(w, ch).cumsum(axis=0) & 0xFF
            cur = cur.reshape(stride)
        elif f in (3, 4):                           # Average / Paeth
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                if f == 3:
                    cur[x] = (row[x] + ((a + b) >> 1)) & 0xFF
                else:
                    c = prev[x - ch] if x >= ch else 0
                    cur[x] = (row[x] + _paeth(int(a), int(b), int(c))) & 0xFF
        else:
            raise ValueError(f"png: unknown filter type {f} in row {y}")
        recon[y] = cur.astype(np.uint8)
        prev = cur
    return recon, offset + h * (stride + 1)


@decoder
def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) RGB uint8 (gray replicated, alpha
    dropped, palette resolved)."""
    if payload[:8] != _SIG:
        raise ValueError("not a PNG payload (missing signature)")
    ihdr = None
    plte = None
    idat = bytearray()
    i, n = 8, len(payload)
    while i + 8 <= n:
        (length,) = struct.unpack(">I", payload[i:i + 4])
        ctype = payload[i + 4:i + 8]
        data = payload[i + 8:i + 8 + length]
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + length          # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13])
    if depth != 8:
        raise UnsupportedCodecError(
            f"png: only 8-bit depth supported (got {depth})")
    if interlace not in (0, 1):
        raise ValueError(f"png: bad interlace method {interlace}")
    if color not in _CHANNELS or comp or filt:
        raise ValueError(f"png: bad IHDR (color={color}, comp={comp})")
    ch = _CHANNELS[color]
    raw = zlib.decompress(bytes(idat))

    if interlace:
        # Adam7: seven independently-filtered sub-images, consumed
        # sequentially from the inflated stream, scattered onto the
        # full-resolution grid
        px = np.zeros((h, w, ch), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sub, off = _defilter(raw, wp, hp, ch, off)
            px[y0::dy, x0::dx] = sub.reshape(hp, wp, ch)
    else:
        stride = w * ch
        if len(raw) < h * (stride + 1):
            raise ValueError("png: truncated pixel data")
        recon, _ = _defilter(raw, w, h, ch, 0)
        px = recon.reshape(h, w, ch)
    if color == 2:                                  # RGB
        return px.copy()
    if color == 6:                                  # RGBA -> drop alpha
        return px[..., :3].copy()
    if color == 0:                                  # gray
        return np.repeat(px, 3, axis=2)
    if color == 4:                                  # gray+alpha
        return np.repeat(px[..., :1], 3, axis=2)
    if plte is None:
        raise ValueError("png: palette image without PLTE chunk")
    return plte[px[..., 0]]                         # palette lookup


def _filter_row(f: int, row: np.ndarray, prev: np.ndarray,
                ch: int) -> np.ndarray:
    r = row.astype(np.int32)
    left = np.zeros_like(r)
    left[ch:] = r[:-ch]
    up = prev.astype(np.int32)
    upleft = np.zeros_like(up)
    upleft[ch:] = up[:-ch]
    if f == 0:
        out = r
    elif f == 1:
        out = r - left
    elif f == 2:
        out = r - up
    elif f == 3:
        out = r - ((left + up) >> 1)
    else:
        pa = np.abs(up - upleft)
        pb = np.abs(left - upleft)
        pc = np.abs(left + up - 2 * upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
        out = r - pred
    return (out & 0xFF).astype(np.uint8)


def encode_png(img: np.ndarray, filter_type: int = 0,
               level: int = 6, interlace: bool = False) -> bytes:
    """(h, w[, 1|3|4]) uint8 -> PNG bytes (lossless). ``filter_type``
    0-4 applies that scanline filter to every row — the knob that
    lets tests exercise each unfilter path. ``interlace=True`` emits
    Adam7 (each pass filtered independently, per the spec) so the
    interlaced decode path round-trips against our own encoder."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[..., None]
    h, w, ch = img.shape
    color = {1: 0, 3: 2, 4: 6}.get(ch)
    if color is None or not 0 <= filter_type <= 4:
        raise ValueError(f"png encoder: channels={ch}, "
                         f"filter={filter_type}")

    def filtered_rows(sub: np.ndarray) -> bytes:
        sh, sw = sub.shape[0], sub.shape[1]
        flat = sub.reshape(sh, sw * ch)
        out = bytearray()
        prev = np.zeros(sw * ch, dtype=np.uint8)
        for y in range(sh):
            out.append(filter_type)
            out += _filter_row(filter_type, flat[y], prev, ch).tobytes()
            prev = flat[y]
        return bytes(out)

    if interlace:
        lines = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = img[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                lines += filtered_rows(sub)
        lines = bytes(lines)
    else:
        lines = filtered_rows(img)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        out = struct.pack(">I", len(data)) + ctype + data
        return out + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0,
                       1 if interlace else 0)
    return (_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(lines), level))
            + chunk(b"IEND", b""))
