"""WebP-lossless (VP8L) codec tests.

Two axes:
1. Encoder-independent round-trip properties (hypothesis) — the
   minimal literal-only encoder vs the full decoder, like the
   PNG/GIF property tests.
2. Hand-crafted bitstreams for the decoder paths the minimal
   encoder never emits: the four transforms, the color cache, LZ77
   back-references (1D and 2D distance codes), and meta prefix-code
   groups. Each stream is assembled bit-by-bit from the spec rules
   (RFC 9649) so the decoder is checked against the FORMAT, not
   against its own encoder.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_precisely_demo_spark.operators.codec import (
    LsbWriter,
    UnsupportedCodecError,
)
from flink_precisely_demo_spark.operators.webp import (
    _write_prefix_code,
    decode_webp,
    encode_webp_lossless,
)

# ----------------------------------------------------------- helpers


def _wrap_riff(data: bytes) -> bytes:
    chunk = b"VP8L" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff


def _write_header(bw: LsbWriter, w: int, h: int) -> None:
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)  # alpha hint
    bw.write(0, 3)  # version


def _lengths_for(chan) -> dict:
    """Code lengths for a literal channel: defer to the encoder's
    Huffman builder via a tiny shim (unique values -> lengths)."""
    from flink_precisely_demo_spark.operators.webp import _huffman_lengths

    vals, counts = np.unique(np.asarray(chan), return_counts=True)
    return _huffman_lengths(
        {int(v): int(c) for v, c in zip(vals, counts)}, 15)


def _write_literal_image(bw: LsbWriter, px, is_level0: bool,
                         cache_bits: int = 0) -> None:
    """Entropy-coded image body: cache bit, (level0: meta bit), five
    prefix codes, then per-pixel literals. ``px`` is (n, 4) rgba."""
    px = np.asarray(px, dtype=np.uint8).reshape(-1, 4)
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    if is_level0:
        bw.write(0, 1)  # no meta prefix codes
    g = _write_prefix_code(bw, _lengths_for(px[:, 1]), 256 + 24
                           + ((1 << cache_bits) if cache_bits else 0))
    r = _write_prefix_code(bw, _lengths_for(px[:, 0]), 256)
    b = _write_prefix_code(bw, _lengths_for(px[:, 2]), 256)
    a = _write_prefix_code(bw, _lengths_for(px[:, 3]), 256)
    _write_prefix_code(bw, {0: 1}, 40)
    for rr, gg, bb, aa in px:
        for val, tbl in ((gg, g), (rr, r), (bb, b), (aa, a)):
            code, length = tbl[int(val)]
            if length:
                bw.write_code(code, length)


def _rgba(r, g, b, a=255):
    return np.array([r, g, b, a], dtype=np.uint8)


# ------------------------------------------- round-trip property tests

shapes = st.tuples(st.integers(1, 40), st.integers(1, 40))


@settings(max_examples=25, deadline=None)
@given(shapes, st.integers(0, 2**32 - 1))
def test_roundtrip_random(shape, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(*shape, 3), dtype=np.uint8)
    assert np.array_equal(decode_webp(encode_webp_lossless(img)), img)


@settings(max_examples=15, deadline=None)
@given(shapes, st.integers(1, 4), st.integers(0, 2**32 - 1))
def test_roundtrip_low_entropy(shape, n_colors, seed):
    """1-4 distinct colors exercises the simple-code form."""
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, size=(n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, size=shape)
    img = palette[idx]
    assert np.array_equal(decode_webp(encode_webp_lossless(img)), img)


@settings(max_examples=15, deadline=None)
@given(shapes, st.integers(0, 2**32 - 1))
def test_roundtrip_compressed_vs_literal(shape, seed):
    """effort=1 (subtract-green + cache + LZ77) and effort=0
    (literal-only) must decode to the same pixels."""
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(3, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 3, size=shape)]
    d0 = decode_webp(encode_webp_lossless(img, effort=0))
    d1 = decode_webp(encode_webp_lossless(img, effort=1))
    assert np.array_equal(d0, img) and np.array_equal(d1, img)


def test_compression_effective_on_redundant_content():
    x = np.arange(64, dtype=np.uint8)
    img = np.stack([np.tile(x, (64, 1)), np.tile(x[::-1], (64, 1)),
                    np.tile(x // 2, (64, 1))], axis=2)
    e0 = encode_webp_lossless(img, effort=0)
    e1 = encode_webp_lossless(img, effort=1)
    assert len(e1) < len(e0) / 4  # LZ77 + cache must actually bite
    assert np.array_equal(decode_webp(e1), img)


def test_roundtrip_rgba_alpha_dropped():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(9, 11, 4), dtype=np.uint8)
    out = decode_webp(encode_webp_lossless(img))
    assert np.array_equal(out, img[:, :, :3])


# ------------------------------------------------- container handling


def test_lossy_vp8_raises_typed_error():
    body = b"\x00" * 20
    riff = b"WEBP" + b"VP8 " + len(body).to_bytes(4, "little") + body
    payload = b"RIFF" + len(riff).to_bytes(4, "little") + riff
    with pytest.raises(UnsupportedCodecError):
        decode_webp(payload)


def test_vp8x_wrapped_lossless():
    """Extended container: VP8X metadata chunk before the VP8L chunk
    must be skipped, not fatal."""
    img = np.random.default_rng(3).integers(
        0, 256, size=(5, 5, 3), dtype=np.uint8)
    plain = encode_webp_lossless(img)
    vp8l_chunk = plain[12:]  # strip RIFF....WEBP
    vp8x = b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 10
    riff = b"WEBP" + vp8x + vp8l_chunk
    payload = b"RIFF" + len(riff).to_bytes(4, "little") + riff
    assert np.array_equal(decode_webp(payload), img)


def test_garbage_rejected():
    with pytest.raises(ValueError):
        decode_webp(b"RIFF\x10\x00\x00\x00WEBPJUNK\x00\x00\x00\x00")
    with pytest.raises(ValueError):
        decode_webp(b"not a webp at all")


# ------------------------- hand-crafted streams: decoder-only paths


def test_subtract_green_transform():
    """2x2 image stored G-subtracted; decoder must add G back."""
    img = np.array([[[30, 10, 50], [100, 40, 7]],
                    [[8, 8, 8], [250, 250, 3]]], dtype=np.uint8)
    stored = img.copy().astype(np.int16)
    stored[..., 0] = (stored[..., 0] - stored[..., 1]) % 256
    stored[..., 2] = (stored[..., 2] - stored[..., 1]) % 256
    rgba = np.concatenate([stored.astype(np.uint8),
                           np.full((2, 2, 1), 255, np.uint8)], axis=2)
    bw = LsbWriter()
    _write_header(bw, 2, 2)
    bw.write(1, 1)  # a transform follows
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    _write_literal_image(bw, rgba.reshape(-1, 4), is_level0=True)
    assert np.array_equal(decode_webp(_wrap_riff(bw.flush())), img)


def test_color_indexing_packed():
    """4-color palette -> width_bits=2, four 2-bit indices per byte,
    delta-coded palette entries."""
    palette = np.array([[10, 20, 30, 255], [200, 0, 0, 255],
                        [0, 200, 0, 255], [5, 5, 250, 255]],
                       dtype=np.uint8)
    idx = np.array([[0, 1, 2, 3, 1], [3, 3, 0, 2, 2]], dtype=np.uint8)
    h, w = idx.shape
    bw = LsbWriter()
    _write_header(bw, w, h)
    bw.write(1, 1)  # a transform follows
    bw.write(3, 2)  # COLOR_INDEXING
    bw.write(palette.shape[0] - 1, 8)
    # palette image: n_colors x 1, entries delta-coded per channel
    deltas = np.diff(np.vstack([np.zeros((1, 4), np.int16),
                                palette.astype(np.int16)]), axis=0) % 256
    _write_literal_image(bw, deltas.astype(np.uint8), is_level0=False)
    bw.write(0, 1)  # no more transforms
    # packed image: ceil(5/4)=2 bytes per row, indices in green, low
    # bits first
    packed_rows = []
    for row in idx:
        b0 = row[0] | (row[1] << 2) | (row[2] << 4) | (row[3] << 6)
        b1 = row[4]
        packed_rows += [[0, b0, 0, 255], [0, b1, 0, 255]]
    _write_literal_image(bw, np.array(packed_rows, np.uint8),
                         is_level0=True)
    out = decode_webp(_wrap_riff(bw.flush()))
    assert np.array_equal(out, palette[idx][:, :, :3])


def test_predictor_transform_left():
    """Predictor image all mode-1 (Left): stored pixels are deltas
    from the left neighbor; top-left seeds from black, top row is
    forced-Left, left column forced-Top per spec edge rules."""
    img = np.array([[[10, 20, 30], [15, 25, 35], [20, 30, 40]],
                    [[12, 22, 32], [17, 27, 37], [22, 32, 42]],
                    [[14, 24, 34], [19, 29, 39], [24, 34, 44]]],
                   dtype=np.uint8)
    h, w = img.shape[:2]
    rgba = np.concatenate([img, np.full((h, w, 1), 255, np.uint8)],
                          axis=2).astype(np.int16)
    # forward predict to get residuals under the spec's edge rules
    res = np.zeros_like(rgba)
    for y in range(h):
        for x in range(w):
            if y == 0 and x == 0:
                pred = np.array([0, 0, 0, 255], np.int16)
            elif y == 0:
                pred = rgba[0, x - 1]
            elif x == 0:
                pred = rgba[y - 1, 0]
            else:
                pred = rgba[y, x - 1]  # mode 1 = Left
            res[y, x] = (rgba[y, x] - pred) % 256
    bw = LsbWriter()
    _write_header(bw, w, h)
    bw.write(1, 1)  # a transform follows
    bw.write(0, 2)  # PREDICTOR
    bw.write(2, 3)  # size_bits = 2+2=4 -> one 16x16 block
    # predictor sub-image: 1x1, mode in green channel
    _write_literal_image(bw, np.array([[0, 1, 0, 255]], np.uint8),
                         is_level0=False)
    bw.write(0, 1)  # no more transforms
    _write_literal_image(bw, res.astype(np.uint8).reshape(-1, 4),
                         is_level0=True)
    assert np.array_equal(decode_webp(_wrap_riff(bw.flush())), img)


def test_color_transform_inverse():
    """One-block color transform with fixed deltas; forward transform
    computed here per spec, decoder must invert it exactly."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    g2r, g2b, r2b = 40, -30, 17  # int8 deltas

    def d(t, c):  # ColorTransformDelta: int8 * int8 >> 5 (arithmetic)
        t8 = ((t + 128) % 256) - 128
        c8 = ((c + 128) % 256) - 128
        return (t8 * c8) >> 5

    h, w = img.shape[:2]
    stored = np.zeros((h, w, 4), np.uint8)
    stored[..., 3] = 255
    for y in range(h):
        for x in range(w):
            r, g, b = (int(v) for v in img[y, x])
            # decoder reconstructs red first (= original r), then uses
            # the sign-extended reconstructed red for the r2b delta
            new_r = (r - d(g2r, g)) % 256
            new_b = (b - d(g2b, g) - d(r2b, r)) % 256
            stored[y, x, :3] = (new_r, g, new_b)
    # decoder: red' = r + d(g2r, g); blue' = b + d(g2b, g) + d(r2b, red'&0xff)
    bw = LsbWriter()
    _write_header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)  # COLOR_TRANSFORM
    bw.write(2, 3)  # size_bits 4 -> one block
    elem = np.array([[r2b % 256, g2b % 256, g2r % 256, 255]], np.uint8)
    _write_literal_image(bw, elem, is_level0=False)
    bw.write(0, 1)
    _write_literal_image(bw, stored.reshape(-1, 4), is_level0=True)
    assert np.array_equal(decode_webp(_wrap_riff(bw.flush())), img)


def test_color_cache_and_lz77():
    """Literal, cache-hit and LZ77 copy (1D distance) in one stream:
    pixels = [P, P(cache), P, P] with the last two via a length-2
    copy at distance 1."""
    bw = LsbWriter()
    _write_header(bw, 4, 1)
    bw.write(0, 1)  # no transforms
    cache_bits = 4
    bw.write(1, 1)
    bw.write(cache_bits, 4)
    bw.write(0, 1)  # no meta
    cache_size = 1 << cache_bits
    # alphabets: green needs literal 77, cache symbol 280+idx,
    # length-code 256+0 (length prefix 0 -> length 1+..): use prefix
    # code 1 (length 2? prefix value: code<4 -> code+1) -> code 1 = len 2
    argb = (255 << 24) | (10 << 16) | (77 << 8) | 33
    idx = (0x1E35A7BD * argb & 0xFFFFFFFF) >> (32 - cache_bits)
    g_tbl = _write_prefix_code(
        bw, {77: 2, 256 + 1: 2, 280 + idx: 1}, 256 + 24 + cache_size)
    r_tbl = _write_prefix_code(bw, {10: 1}, 256)
    b_tbl = _write_prefix_code(bw, {33: 1}, 256)
    a_tbl = _write_prefix_code(bw, {255: 1}, 256)
    # distance prefix symbol 13: offset (2+1)<<5 = 96, so with 5
    # extra bits of 24 the value is 96+24+1 = 121 -> dist_code 121
    # -> the >120 branch -> distance 121-120 = 1
    d_tbl = _write_prefix_code(bw, {13: 1}, 40)

    def emit(tbl, sym):
        code, length = tbl[sym]
        if length:
            bw.write_code(code, length)

    emit(g_tbl, 77)          # literal pixel
    emit(r_tbl, 10)
    emit(b_tbl, 33)
    emit(a_tbl, 255)
    emit(g_tbl, 280 + idx)   # color-cache hit of the same pixel
    emit(g_tbl, 256 + 1)     # LZ77: length prefix 1 -> length 2
    emit(d_tbl, 13)          # zero-bit single-symbol distance code
    bw.write(24, 5)          # its 5 extra bits
    out = decode_webp(_wrap_riff(bw.flush()))
    assert np.array_equal(out, np.tile(_rgba(10, 77, 33)[:3], (1, 4, 1)))


def test_lz77_2d_distance():
    """Distance code 1 maps to (0, 1) = the pixel directly above."""
    bw = LsbWriter()
    _write_header(bw, 3, 2)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    g_tbl = _write_prefix_code(bw, {5: 2, 9: 2, 14: 2, 256 + 2: 2},
                               256 + 24)
    r_tbl = _write_prefix_code(bw, {1: 1}, 256)
    b_tbl = _write_prefix_code(bw, {2: 1}, 256)
    a_tbl = _write_prefix_code(bw, {255: 1}, 256)
    d_tbl = _write_prefix_code(bw, {0: 1}, 40)  # prefix 0 -> dist_code 1

    def emit(tbl, sym):
        code, length = tbl[sym]
        if length:
            bw.write_code(code, length)

    for g in (5, 9, 14):  # top row literals, distinct greens
        emit(g_tbl, g)
        emit(r_tbl, 1)
        emit(b_tbl, 2)
        emit(a_tbl, 255)
    emit(g_tbl, 256 + 2)  # length prefix 2 -> length 3
    emit(d_tbl, 0)        # 2D code 1 -> (0,1) -> dist = xsize = 3
    out = decode_webp(_wrap_riff(bw.flush()))
    assert np.array_equal(out[0], out[1])
    assert list(out[0, :, 1]) == [5, 9, 14]


def test_meta_prefix_groups():
    """Two meta groups with different literal codes: left block uses
    group 0, right block group 1 (meta index in (r<<8)|g of the
    entropy image)."""
    w, h = 4, 2  # meta_bits=2 -> blocks of 4 -> entropy image 1x1? use
    # meta_bits minimum 2 -> block 4: whole image is one block. Use
    # w=8 so two blocks exist.
    w = 8
    bw = LsbWriter()
    _write_header(bw, w, h)
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no cache
    bw.write(1, 1)  # meta prefix codes present
    bw.write(0, 3)  # meta_bits = 0+2 = 2 -> 4-pixel blocks -> 2x1 image
    # entropy image pixels: green channel = group id (r=0)
    _write_literal_image(bw, np.array([[0, 0, 0, 255], [0, 1, 0, 255]],
                                      np.uint8), is_level0=False)
    tables = []
    for lit in (100, 200):
        g = _write_prefix_code(bw, {lit: 1}, 256 + 24)
        r = _write_prefix_code(bw, {lit: 1}, 256)
        b = _write_prefix_code(bw, {lit: 1}, 256)
        a = _write_prefix_code(bw, {255: 1}, 256)
        _write_prefix_code(bw, {0: 1}, 40)
        tables.append((g, r, b, a))
    # all codes are single-symbol zero-bit: no payload bits at all
    out = decode_webp(_wrap_riff(bw.flush()))
    assert np.array_equal(out[:, :4], np.full((2, 4, 3), 100, np.uint8))
    assert np.array_equal(out[:, 4:], np.full((2, 4, 3), 200, np.uint8))


def test_truncated_stream_raises():
    img = np.random.default_rng(5).integers(
        0, 256, size=(8, 8, 3), dtype=np.uint8)
    enc = encode_webp_lossless(img)
    with pytest.raises(ValueError):
        decode_webp(enc[: len(enc) // 2])


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=300), st.integers(0, 2**32 - 1))
def test_fuzz_never_hangs_or_crashes(junk, seed):
    """Arbitrary bytes inside a well-formed RIFF/VP8L shell must
    raise a typed error (ValueError/UnsupportedCodecError) — never
    hang, loop, or escape with an unrelated exception. This is the
    per-row error contract image_features relies on at crawl scale."""
    payload = _wrap_riff(junk)
    try:
        out = decode_webp(payload)
    except ValueError:  # includes UnsupportedCodecError
        return
    # a decode that *succeeds* on junk must still be a sane image
    assert out.ndim == 3 and out.shape[2] == 3


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 2**32 - 1), st.integers(0, 2000))
def test_fuzz_truncation_of_valid_stream(seed, cut):
    """Every truncation point of a real encoded stream errors
    cleanly (or decodes fully when the cut is past the data)."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(12, 9, 3), dtype=np.uint8)
    enc = encode_webp_lossless(img)
    cut = min(cut, len(enc))
    try:
        out = decode_webp(enc[:cut])
    except ValueError:
        return
    assert np.array_equal(out, img)


def test_single_code_length_symbol_roundtrip():
    """Regression (r6 advisory): when a prefix code's used lengths
    collapse to ONE code-length symbol (all 256 literal values
    equally frequent -> every length 8), the encoder must emit the
    tokens in zero bits, mirroring the decoder's single-symbol
    zero-bit table; a canonical 1-bit assignment desyncs the
    bitstream."""
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[..., 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
    for effort in (0, 1):
        out = decode_webp(encode_webp_lossless(img, effort=effort))
        assert np.array_equal(out, img), f"effort={effort}"
    # also exercise the same shape on green/blue/alpha planes
    for chan in (1, 2):
        img2 = np.zeros((16, 16, 3), dtype=np.uint8)
        img2[..., chan] = np.arange(256, dtype=np.uint8).reshape(16, 16)
        for effort in (0, 1):
            out = decode_webp(encode_webp_lossless(img2, effort=effort))
            assert np.array_equal(out, img2)
