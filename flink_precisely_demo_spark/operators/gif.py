"""GIF codec in pure Python/numpy — LZW and all.

- DECODE: GIF87a/GIF89a, global and local color tables, interlaced
  images, variable-width LZW with CLEAR/END handling and the 12-bit
  dict cap. Returns the FIRST frame as (h, w, 3) RGB (animation is
  not a still-image-features concern); transparency is ignored like
  PNG alpha.
- ENCODE: single-frame GIF89a from a palette-sized image (≤ 256
  distinct colors), non-interlaced, real LZW compression. Exists so
  the decoder round-trips without any imaging library.

The LZW itself is :func:`.codec.lzw_encode`/:func:`.codec.lzw_decode`
in its GIF flavour: codes packed LSB-first, no early change.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import decoder, lzw_decode, lzw_encode

_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


@decoder
def decode_gif(payload: bytes) -> np.ndarray:
    """GIF bytes -> first frame as (h, w, 3) RGB uint8."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack(
        "<HHBBB", payload[6:13])
    i = 13
    global_table = None
    if packed & 0x80:
        size = 2 << (packed & 0x07)
        global_table = np.frombuffer(
            payload, np.uint8, size * 3, i).reshape(-1, 3)
        i += size * 3

    while i < len(payload):
        block = payload[i]
        if block == 0x21:                    # extension: skip sub-blocks
            i += 2
            while payload[i]:
                i += 1 + payload[i]
            i += 1
        elif block == 0x2C:                  # image descriptor
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", payload[i + 1:i + 10])
            i += 10
            table = global_table
            if ipacked & 0x80:
                size = 2 << (ipacked & 0x07)
                table = np.frombuffer(
                    payload, np.uint8, size * 3, i).reshape(-1, 3)
                i += size * 3
            if table is None:
                raise ValueError("gif: image without any color table")
            min_code_size = payload[i]
            i += 1
            data = bytearray()
            while payload[i]:
                ln = payload[i]
                data += payload[i + 1:i + 1 + ln]
                i += 1 + ln
            i += 1
            idx = lzw_decode(bytes(data), min_code_size, msb=False,
                             early=0, bad_first="gif: bad LZW code {}",
                             bad_code="gif: bad LZW code {}")
            if len(idx) < w * h:
                raise ValueError(
                    f"gif: LZW stream yields {len(idx)} pixels for "
                    f"{w}x{h} frame")
            grid = np.frombuffer(idx, np.uint8, w * h).astype(
                np.int32).reshape(h, w)
            if ipacked & 0x40:               # interlaced row order
                rows = [r for start, step in _INTERLACE_PASSES
                        for r in range(start, h, step)]
                un = np.empty_like(grid)
                un[rows] = grid
                grid = un
            if int(grid.max()) >= len(table):
                raise ValueError("gif: pixel index outside color table")
            return table[grid]
        elif block == 0x3B:                  # trailer before any image
            break
        else:
            raise ValueError(f"gif: unknown block 0x{block:02X}")
    raise ValueError("gif: no image data found")


def encode_gif(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 with ≤ 256 distinct colors -> GIF89a bytes."""
    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError(f"gif encoder: {len(colors)} colors > 256 "
                         "(quantize first)")
    bits = max(int(len(colors) - 1).bit_length(), 1)
    tbl_size = 1 << bits
    palette = np.zeros((tbl_size, 3), dtype=np.uint8)
    palette[:len(colors)] = colors

    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    min_code_size = max(bits, 2)
    out.append(min_code_size)
    lzw = lzw_encode(inverse.astype(np.uint8).tobytes(), min_code_size,
                     msb=False, early=0)
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
