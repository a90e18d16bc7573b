"""Pure-Python WebP-lossless (VP8L) codec.

WebP is the second-most-common crawl image format after JPEG; until
this module every ``.webp`` payload was side-channeled as a typed
per-row error by the media operators (r5 verdict gap #8). The
lossless variant (VP8L) is pure entropy coding — LZ77 + canonical
prefix codes + four reversible pixel transforms — so it fits the
no-external-libs rule the same way GIF/PNG did. Implemented from
the public container/bitstream spec (RFC 9649, "WebP Image
Format"); no code is taken from libwebp.

Scope:
- ``decode_webp``: full VP8L decode — RIFF/WEBP container walk
  (including VP8X extended files that carry a VP8L chunk), all four
  transforms (predictor, color, subtract-green, color-indexing with
  sub-byte pixel packing), color cache, meta prefix codes, LZ77
  with the 2D distance mapping. Lossy VP8 payloads raise
  :class:`UnsupportedCodecError` — surfaced per row by the
  multimodal operators, never a job abort.
- ``encode_webp_lossless``: a real, spec-conformant encoder used by
  the round-trip tests and fixture builders: literal-only (no LZ77),
  no transforms, per-channel canonical prefix codes built from the
  actual symbol frequencies (simple 1/2-symbol codes where the
  channel is near-constant). Byte-exact round-trip by construction.

Like the sibling codecs this is a per-row kernel: it runs inside
``mapInPandas`` batches in operators/multimodal.py, embarrassingly
parallel, no shuffle. Reference repo has no media pipeline — this is
SURVEY.md §2.3 extension scope.
"""

from __future__ import annotations

import numpy as np

from .codec import (
    LsbReader,
    LsbWriter,
    UnsupportedCodecError,
    canonical_codes,
    decoder,
    encoder_codes,
)

# Order in which code-length-code lengths are stored (spec §5.2.2).
_CODE_LENGTH_ORDER = [17, 18, 0, 1, 2, 3, 4, 5, 16,
                      6, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_MAX_CODE_LEN = 15

# 2D distance mapping for the 120 closest-neighbor distance codes
# (spec §4.2.2). The spec's table enumerates the (dx, dy) offsets
# with dy in 0..8, dx in -8..8 (dx > 0 when dy == 0), sorted by
# squared euclidean distance, ties broken by larger dy first and
# positive dx before negative — regenerating it from that rule
# reproduces the spec listing exactly.
def _distance_map() -> list[tuple[int, int]]:
    cands = [(dx, dy) for dy in range(9) for dx in range(-8, 9)
             if dy > 0 or dx > 0]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1],
                              -p[1], 0 if p[0] > 0 else 1))
    return cands[:120]


_DIST_MAP = _distance_map()


def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


# VP8L packs bits LSB-first within each byte (like DEFLATE, unlike
# JPEG); prefix codes are read MSB-of-code first (codec.LsbReader).

# ------------------------------------------------- prefix-code plumbing

def _table_from_lengths(lengths) -> dict:
    """Canonical prefix-code decode table from per-symbol lengths
    (codes assigned in (length, symbol) order, the DEFLATE/VP8L
    canonical rule). A single used symbol yields the spec's special
    zero-bit code; otherwise the code must be complete (Kraft == 1)."""
    used = [(l, s) for s, l in enumerate(lengths) if l > 0]
    if not used:
        raise ValueError("VP8L prefix code with no symbols")
    if len(used) == 1:
        return {1: used[0][1]}                # zero-bit code
    kraft = sum(1 << (_MAX_CODE_LEN - l) for l, _ in used)
    if kraft != 1 << _MAX_CODE_LEN:
        raise ValueError("incomplete or oversubscribed VP8L prefix code")
    return canonical_codes(sorted(used))


def _read_prefix_code(br: LsbReader, alphabet_size: int) -> dict:
    """One prefix code: the 'simple' 1/2-symbol form or the normal
    code-length-coded form (spec §5.2.2)."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        lengths = [0] * alphabet_size
        s0 = br.read(8 if first_8bit else 1)
        lengths[s0] = 1
        if num_symbols == 2:
            s1 = br.read(8)
            lengths[s1] = 1
        return _table_from_lengths(lengths)

    num_code_lengths = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_code_lengths):
        cl_lengths[_CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_table = _table_from_lengths(cl_lengths)

    if br.read(1):  # an explicit count of coded symbols follows
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size

    lengths = [0] * alphabet_size
    prev_len = 8
    symbol = 0
    while symbol < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        code_len = br.symbol(cl_table)
        if code_len < 16:
            lengths[symbol] = code_len
            symbol += 1
            if code_len:
                prev_len = code_len
        elif code_len == 16:
            repeat = 3 + br.read(2)
            lengths[symbol:symbol + repeat] = [prev_len] * repeat
            symbol += repeat
        elif code_len == 17:
            symbol += 3 + br.read(3)
        else:  # 18
            symbol += 11 + br.read(7)
        if symbol > alphabet_size:
            raise ValueError("VP8L code lengths overflow alphabet")
    return _table_from_lengths(lengths)


def _prefix_value(br: LsbReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec §4.2.2): 24 length
    and 40 distance codes share the value = offset + extra-bits + 1
    rule."""
    if code < 4:
        return code + 1
    extra_bits = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra_bits
    return offset + br.read(extra_bits) + 1


# -------------------------------------------------------------- decode

def _read_code_group(br: LsbReader, cache_size: int) -> list:
    """The five prefix codes of one meta group: green+length+cache,
    red, blue, alpha, distance."""
    return [_read_prefix_code(br, 256 + 24 + cache_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40)]


def _decode_image_stream(br: LsbReader, xsize: int, ysize: int,
                         is_level0: bool):
    """Decode one entropy-coded image -> (pixels (n, 4) uint8 RGBA,
    transforms list, final xsize). Transforms only exist at level 0
    (the ARGB image); sub-resolution images (entropy/predictor/
    color/palette) are plain entropy-coded images."""
    transforms = []
    if is_level0:
        seen = set()
        while br.read(1):
            ttype = br.read(2)
            if ttype in seen:
                raise ValueError("duplicate VP8L transform")
            seen.add(ttype)
            xsize, tdata = _read_transform(br, ttype, xsize, ysize)
            transforms.append((ttype, tdata))

    cache_bits = br.read(4) if br.read(1) else 0
    if cache_bits and not 1 <= cache_bits <= 11:
        raise ValueError("invalid VP8L color-cache size")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    if is_level0 and br.read(1):  # meta prefix codes
        meta_bits = br.read(3) + 2
        mx = _subsample(xsize, meta_bits)
        my = _subsample(ysize, meta_bits)
        meta_px, _, _ = _decode_image_stream(br, mx, my, False)
        # meta index lives in (red << 8) | green of the entropy image
        meta_idx = (meta_px[:, 0].astype(np.int32) << 8) | meta_px[:, 1]
        n_groups = int(meta_idx.max()) + 1
        meta = (meta_bits, mx, meta_idx)
    else:
        n_groups = 1

    groups = [_read_code_group(br, cache_size) for _ in range(n_groups)]
    pixels = _decode_pixels(br, xsize, ysize, groups, meta, cache_bits)
    return pixels, transforms, xsize


def _decode_pixels(br: LsbReader, xsize: int, ysize: int,
                   groups, meta, cache_bits: int) -> np.ndarray:
    """The LZ77+prefix-coded pixel loop (spec §4.2). Sequential by
    nature (back-references + adaptive color cache); runs inside an
    Arrow batch worker, never on the driver."""
    n = xsize * ysize
    out = np.zeros((n, 4), dtype=np.uint8)  # r, g, b, a
    cache = [0] * (1 << cache_bits) if cache_bits else None
    cache_shift = 32 - cache_bits if cache_bits else 0

    def cache_insert(r, g, b, a):
        argb = (a << 24) | (r << 16) | (g << 8) | b
        cache[(0x1E35A7BD * argb & 0xFFFFFFFF) >> cache_shift] = argb

    group = groups[0]
    pos = 0
    while pos < n:
        if meta is not None:
            meta_bits, mx, meta_idx = meta
            x, y = pos % xsize, pos // xsize
            group = groups[meta_idx[(y >> meta_bits) * mx + (x >> meta_bits)]]
        g_code, r_code, b_code, a_code, d_code = group
        s = br.symbol(g_code)
        if s < 256:  # literal
            g = s
            r = br.symbol(r_code)
            b = br.symbol(b_code)
            a = br.symbol(a_code)
            out[pos] = (r, g, b, a)
            pos += 1
            if cache is not None:
                cache_insert(r, g, b, a)
        elif s < 256 + 24:  # LZ77 back-reference
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, br.symbol(d_code))
            if dist_code > 120:
                dist = dist_code - 120
            else:
                dx, dy = _DIST_MAP[dist_code - 1]
                dist = max(1, dy * xsize + dx)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L back-reference out of range")
            for i in range(length):  # may overlap (dist < length)
                out[pos + i] = out[pos + i - dist]
            if cache is not None:
                for i in range(length):
                    r, g, b, a = out[pos + i]
                    cache_insert(int(r), int(g), int(b), int(a))
            pos += length
        else:  # color-cache hit
            if cache is None:
                raise ValueError("VP8L cache symbol without color cache")
            argb = cache[s - 256 - 24]
            out[pos] = ((argb >> 16) & 0xFF, (argb >> 8) & 0xFF,
                        argb & 0xFF, (argb >> 24) & 0xFF)
            pos += 1
    return out


# ---------------------------------------------------------- transforms

def _read_transform(br: LsbReader, ttype: int, xsize: int, ysize: int):
    """Read one transform's data; returns the (possibly reduced)
    xsize subsequent reads should use plus the data needed to invert
    it later."""
    if ttype == 2:  # subtract green: no data
        return xsize, None
    if ttype in (0, 1):  # predictor / color transform
        size_bits = br.read(3) + 2
        bx = _subsample(xsize, size_bits)
        by = _subsample(ysize, size_bits)
        sub_px, _, _ = _decode_image_stream(br, bx, by, False)
        return xsize, (size_bits, bx, sub_px, xsize)
    if ttype == 3:  # color indexing
        n_colors = br.read(8) + 1
        pal_px, _, _ = _decode_image_stream(br, n_colors, 1, False)
        # palette entries are component-wise delta coded
        palette = np.cumsum(pal_px.astype(np.int64), axis=0) % 256
        palette = palette.astype(np.uint8)
        if n_colors <= 2:
            width_bits = 3
        elif n_colors <= 4:
            width_bits = 2
        elif n_colors <= 16:
            width_bits = 1
        else:
            width_bits = 0
        packed_xsize = _subsample(xsize, width_bits)
        return packed_xsize, (width_bits, palette, xsize)
    raise ValueError(f"unknown VP8L transform {ttype}")


def _avg2(a, b):
    return (a + b) >> 1


def _select(top, left, tl):
    d = 0
    for c in range(4):
        d += abs(int(left[c]) - int(tl[c])) - abs(int(top[c]) - int(tl[c]))
    return top if d <= 0 else left


def _clamp_add_full(l, t, tl):
    return np.clip(l.astype(np.int32) + t.astype(np.int32)
                   - tl.astype(np.int32), 0, 255).astype(np.uint8)


def _clamp_add_half(l, t, tl):
    ave = (l.astype(np.int32) + t.astype(np.int32)) >> 1
    # C-style truncation toward zero on the half-delta
    delta = ave - tl.astype(np.int32)
    half = np.where(delta >= 0, delta >> 1, -((-delta) >> 1))
    return np.clip(ave + half, 0, 255).astype(np.uint8)


def _inverse_predictor(px: np.ndarray, ysize: int, tdata) -> np.ndarray:
    """Invert the predictor transform (spec §4.2.1): pixel-sequential
    add of the per-block predictor, mod 256 per channel."""
    size_bits, bx, sub_px, xsize = tdata
    img = px.reshape(ysize, xsize, 4).astype(np.int32)
    modes = sub_px[:, 1].reshape(-1, bx)  # green channel
    black = np.array([0, 0, 0, 255], dtype=np.int32)
    for y in range(ysize):
        for x in range(xsize):
            if y == 0 and x == 0:
                pred = black
            elif y == 0:
                pred = img[0, x - 1]
            elif x == 0:
                pred = img[y - 1, 0]
            else:
                mode = modes[y >> size_bits, x >> size_bits]
                left = img[y, x - 1]
                top = img[y - 1, x]
                tl = img[y - 1, x - 1]
                # top-right of the last column wraps to the leftmost
                # pixel of the current row (already reconstructed)
                tr = img[y - 1, x + 1] if x + 1 < xsize else img[y, 0]
                if mode == 0:
                    pred = black
                elif mode == 1:
                    pred = left
                elif mode == 2:
                    pred = top
                elif mode == 3:
                    pred = tr
                elif mode == 4:
                    pred = tl
                elif mode == 5:
                    pred = _avg2(_avg2(left, tr), top)
                elif mode == 6:
                    pred = _avg2(left, tl)
                elif mode == 7:
                    pred = _avg2(left, top)
                elif mode == 8:
                    pred = _avg2(tl, top)
                elif mode == 9:
                    pred = _avg2(top, tr)
                elif mode == 10:
                    pred = _avg2(_avg2(left, tl), _avg2(top, tr))
                elif mode == 11:
                    pred = _select(top, left, tl)
                elif mode == 12:
                    pred = _clamp_add_full(left, top, tl)
                elif mode == 13:
                    pred = _clamp_add_half(left, top, tl)
                else:
                    raise ValueError(f"invalid predictor mode {mode}")
            img[y, x] = (img[y, x] + pred) & 0xFF
    return img.astype(np.uint8).reshape(-1, 4)


def _inverse_color_transform(px: np.ndarray, ysize: int, tdata) -> np.ndarray:
    """Invert the color transform (spec §4.2.2): per-block signed
    green->red / green->blue / red->blue deltas, int8 * int8 >> 5."""
    size_bits, bx, sub_px, xsize = tdata
    img = px.reshape(ysize, xsize, 4)
    # element channels: green_to_red in blue, green_to_blue in green,
    # red_to_blue in red
    g2r = sub_px[:, 2].reshape(-1, bx).astype(np.int8)
    g2b = sub_px[:, 1].reshape(-1, bx).astype(np.int8)
    r2b = sub_px[:, 0].reshape(-1, bx).astype(np.int8)
    ys = np.arange(ysize) >> size_bits
    xs = np.arange(xsize) >> size_bits
    byy, bxx = np.meshgrid(ys, xs, indexing="ij")
    g2r_f = g2r[byy, bxx].astype(np.int32)
    g2b_f = g2b[byy, bxx].astype(np.int32)
    r2b_f = r2b[byy, bxx].astype(np.int32)
    green_i8 = img[..., 1].astype(np.int8).astype(np.int32)
    red = (img[..., 0].astype(np.int32)
           + ((g2r_f * green_i8) >> 5)) & 0xFF
    red_i8 = red.astype(np.uint8).astype(np.int8).astype(np.int32)
    blue = (img[..., 2].astype(np.int32)
            + ((g2b_f * green_i8) >> 5)
            + ((r2b_f * red_i8) >> 5)) & 0xFF
    out = img.copy()
    out[..., 0] = red.astype(np.uint8)
    out[..., 2] = blue.astype(np.uint8)
    return out.reshape(-1, 4)


def _inverse_color_indexing(px: np.ndarray, ysize: int, tdata) -> np.ndarray:
    """Invert color indexing (spec §4.2.4): unpack sub-byte packed
    indices from the green channel, then palette-lookup. Indices
    beyond the palette decode to transparent black, matching the
    spec's out-of-range rule."""
    width_bits, palette, orig_xsize = tdata
    n_colors = palette.shape[0]
    greens = px[:, 1].reshape(ysize, -1)
    if width_bits:
        per_byte = 1 << width_bits
        ibits = 8 >> width_bits
        mask = (1 << ibits) - 1
        shifts = (np.arange(per_byte) * ibits).astype(np.uint8)
        idx = ((greens[:, :, None].astype(np.uint16)
                >> shifts[None, None, :]) & mask)
        idx = idx.reshape(ysize, -1)[:, :orig_xsize]
    else:
        idx = greens[:, :orig_xsize].astype(np.uint16)
    safe = np.minimum(idx, n_colors - 1)
    out = palette[safe]
    out[idx >= n_colors] = 0
    return out.reshape(-1, 4)


def _apply_inverse_transforms(px, transforms, ysize):
    """Transforms invert in reverse read order; color indexing
    restores the unpacked width for any transform read before it."""
    for ttype, tdata in reversed(transforms):
        if ttype == 0:
            px = _inverse_predictor(px, ysize, tdata)
        elif ttype == 1:
            px = _inverse_color_transform(px, ysize, tdata)
        elif ttype == 2:
            g = px[:, 1].astype(np.int32)
            px = px.copy()
            px[:, 0] = ((px[:, 0] + g) & 0xFF).astype(np.uint8)
            px[:, 2] = ((px[:, 2] + g) & 0xFF).astype(np.uint8)
        elif ttype == 3:
            px = _inverse_color_indexing(px, ysize, tdata)
    return px


def decode_vp8l(data: bytes) -> np.ndarray:
    """VP8L chunk payload -> (h, w, 3) RGB uint8 (alpha dropped,
    matching the other image codecs)."""
    br = LsbReader(data, underrun="VP8L bitstream truncated")
    if br.read(8) != 0x2F:
        raise ValueError("bad VP8L signature")
    width = br.read(14) + 1
    height = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    px, transforms, _ = _decode_image_stream(br, width, height, True)
    px = _apply_inverse_transforms(px, transforms, height)
    return px.reshape(height, width, 4)[:, :, :3].copy()


@decoder
def decode_webp(payload: bytes) -> np.ndarray:
    """RIFF/WEBP container -> (h, w, 3) RGB uint8. Handles simple
    and VP8X-extended lossless files; lossy VP8 raises
    :class:`UnsupportedCodecError` (per-row data, not a job abort)."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    while pos + 8 <= len(payload):
        fourcc = payload[pos:pos + 4]
        size = int.from_bytes(payload[pos + 4:pos + 8], "little")
        body = payload[pos + 8:pos + 8 + size]
        if fourcc == b"VP8L":
            return decode_vp8l(body)
        if fourcc == b"VP8 ":
            raise UnsupportedCodecError(
                "lossy WebP (VP8 prediction/DCT): no codec in this "
                "build (production swaps in PIL/libwebp here)")
        pos += 8 + size + (size & 1)  # chunks are 2-byte aligned
    raise ValueError("WebP container has no image chunk")


# -------------------------------------------------------------- encode

def _huffman_lengths(freqs: dict, max_len: int) -> dict:
    """Length-limited Huffman code lengths from symbol frequencies.
    Deterministic (ties broken by symbol); if the optimal tree is
    deeper than ``max_len`` the frequencies are flattened (halved)
    and rebuilt — converges to the balanced tree, which is within
    the limit for every alphabet VP8L uses."""
    import heapq

    if not freqs:
        raise ValueError("empty alphabet")
    if len(freqs) == 1:
        # spec special case: one symbol, coded in zero bits (written
        # as a single length-1 entry, accepted by decoders)
        return {next(iter(freqs)): 1}
    cur = dict(freqs)
    while True:
        heap = [(f, (s,)) for s, f in cur.items()]
        heapq.heapify(heap)
        depths = {s: 0 for s in cur}
        while len(heap) > 1:
            f1, s1 = heapq.heappop(heap)
            f2, s2 = heapq.heappop(heap)
            for s in s1 + s2:
                depths[s] += 1
            heapq.heappush(heap, (f1 + f2, tuple(sorted(s1 + s2))))
        if max(depths.values()) <= max_len:
            return depths
        cur = {s: (f + 1) // 2 for s, f in cur.items()}


def _codes_from_lengths(lengths: dict) -> dict:
    """{symbol: (code, length)} with the canonical (length, symbol)
    assignment the decoder mirrors."""
    return encoder_codes(
        canonical_codes(sorted((l, s) for s, l in lengths.items())))


def _write_prefix_code(bw: LsbWriter, lengths: dict,
                       alphabet_size: int) -> dict:
    """Write one prefix code; returns {symbol: (code, length)} for
    the payload pass. Uses the simple form for 1-2 symbols <= 255,
    else the normal code-length-coded form with 17/18 zero-run
    tokens."""
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s <= 255 for s in syms):
        bw.write(1, 1)                      # simple
        bw.write(len(syms) - 1, 1)          # num_symbols - 1
        bw.write(1, 1)                      # first symbol in 8 bits
        bw.write(syms[0], 8)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}        # zero-bit code
        return {syms[0]: (0, 1), syms[1]: (1, 1)}

    bw.write(0, 1)  # normal
    full = [lengths.get(s, 0) for s in range(alphabet_size)]
    # tokenize: literals 0..15 plus zero-run tokens 17 (3-10) / 18
    # (11-138); runs shorter than 3 stay literal zeros
    tokens = []
    i = 0
    while i < alphabet_size:
        if full[i] == 0:
            j = i
            while j < alphabet_size and full[j] == 0:
                j += 1
            run = j - i
            while run >= 11:
                take = min(run, 138)
                tokens.append((18, take - 11, 7))
                run -= take
            while run >= 3:
                take = min(run, 10)
                tokens.append((17, take - 3, 3))
                run -= take
            tokens.extend([(0, None, 0)] * run)
            i = j
        else:
            tokens.append((full[i], None, 0))
            i += 1

    cl_freqs = {}
    for t, _, _ in tokens:
        cl_freqs[t] = cl_freqs.get(t, 0) + 1
    cl_lengths = _huffman_lengths(cl_freqs, 7)
    cl_codes = _codes_from_lengths(cl_lengths)
    if len(cl_lengths) == 1:
        # one used code-length symbol (e.g. every literal is exactly
        # 8 bits): the decoder's table for a single-symbol code is
        # the spec's ZERO-bit code — it reads nothing per token — so
        # the canonical 1-bit assignment above would desync the
        # bitstream. Emit tokens in zero bits to mirror it.
        cl_codes = {next(iter(cl_lengths)): (0, 0)}
    # cover every used code-length symbol in the fixed storage order
    n_needed = max(_CODE_LENGTH_ORDER.index(t) + 1 for t in cl_lengths)
    num_code_lengths = max(4, n_needed)
    bw.write(num_code_lengths - 4, 4)
    for i in range(num_code_lengths):
        bw.write(cl_lengths.get(_CODE_LENGTH_ORDER[i], 0), 3)
    bw.write(0, 1)  # no explicit max_symbol: all entries coded
    for t, extra, nbits in tokens:
        code, clen = cl_codes[t]
        bw.write_code(code, clen)
        if nbits:
            bw.write(extra, nbits)
    if len(lengths) == 1:
        s = syms[0]
        return {s: (0, 0)}
    return _codes_from_lengths(lengths)


def _prefix_encode(v: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value -> (prefix_code,
    n_extra_bits, extra_value)."""
    if v <= 4:
        return v - 1, 0, 0
    x = v - 1
    eb = x.bit_length() - 2
    if x < 3 << eb:
        return 2 * eb + 2, eb, x - (2 << eb)
    return 2 * eb + 3, eb, x - (3 << eb)


# largest distance expressible by the 40-code distance alphabet,
# minus the 120-code 2D-map shift (the encoder always uses the plain
# 1D mapping: dist_code = dist + 120)
_MAX_LZ_DIST = ((3 << 18) + (1 << 18)) - 120
_MAX_LZ_LEN = 4096  # 24 length codes top out at (3<<10) + 1023 + 1

_CACHE_MUL = 0x1E35A7BD


def _tokenize(px: list, cache_bits: int, use_lz77: bool) -> list:
    """Greedy LZ77 + color-cache tokenization over ARGB uint32
    pixels; mirrors the decoder's state transitions exactly (literals
    and copied pixels enter the cache, cache hits don't)."""
    n = len(px)
    cache = [None] * (1 << cache_bits) if cache_bits else None
    shift = 32 - cache_bits if cache_bits else 0
    last3: dict = {}  # 3-gram -> most recent position
    tokens = []
    pos = 0
    while pos < n:
        if use_lz77 and pos + 2 < n:
            key = (px[pos], px[pos + 1], px[pos + 2])
            j = last3.get(key)
            if j is not None and pos - j <= _MAX_LZ_DIST:
                length = 0
                while (pos + length < n and length < _MAX_LZ_LEN
                       and px[j + length] == px[pos + length]):
                    length += 1
                if length >= 3:
                    tokens.append(("copy", length, pos - j))
                    for k in range(pos, pos + length):
                        if cache is not None:
                            cache[(_CACHE_MUL * px[k] & 0xFFFFFFFF)
                                  >> shift] = px[k]
                        if k + 2 < n:
                            last3[(px[k], px[k + 1], px[k + 2])] = k
                    pos += length
                    continue
        v = px[pos]
        if pos + 2 < n:
            last3[(v, px[pos + 1], px[pos + 2])] = pos
        if cache is not None:
            idx = (_CACHE_MUL * v & 0xFFFFFFFF) >> shift
            if cache[idx] == v:
                tokens.append(("cache", idx))
                pos += 1
                continue
            cache[idx] = v
        tokens.append(("lit", v))
        pos += 1
    return tokens


def encode_webp_lossless(img: np.ndarray, effort: int = 1) -> bytes:
    """(h, w, 3) or (h, w, 4) uint8 -> lossless WebP bytes.

    effort=0: literal-only VP8L (no transforms, no LZ77, no cache) —
    the smallest spec surface, used by the hand-crafted format tests.
    effort=1 (default): subtract-green transform + 8-bit color cache
    + greedy LZ77 (3-gram hash chain, 1D distance codes) — real
    compression from the same per-stream canonical prefix codes.
    Either way decode_webp() round-trips byte-exactly."""
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError("expected (h, w, 3|4) uint8 image")
    h, w = img.shape[:2]
    if not (0 < w <= 1 << 14 and 0 < h <= 1 << 14):
        raise ValueError("VP8L dimensions limited to 16384")
    rgba = img if img.shape[2] == 4 else np.concatenate(
        [img, np.full((h, w, 1), 255, dtype=np.uint8)], axis=2)
    flat = rgba.reshape(-1, 4).astype(np.uint32)

    use_sub_green = effort >= 1
    cache_bits = 8 if effort >= 1 else 0
    cache_size = (1 << cache_bits) if cache_bits else 0

    if use_sub_green:
        g = flat[:, 1]
        flat = flat.copy()
        flat[:, 0] = (flat[:, 0] - g) & 0xFF
        flat[:, 2] = (flat[:, 2] - g) & 0xFF

    argb = ((flat[:, 3] << 24) | (flat[:, 0] << 16)
            | (flat[:, 1] << 8) | flat[:, 2])
    px = [int(v) for v in argb]
    tokens = _tokenize(px, cache_bits, use_lz77=effort >= 1)

    # per-stream symbol frequencies
    g_freq: dict = {}
    r_freq: dict = {}
    b_freq: dict = {}
    a_freq: dict = {}
    d_freq: dict = {}
    for tok in tokens:
        kind = tok[0]
        if kind == "lit":
            v = tok[1]
            g_freq[(v >> 8) & 0xFF] = g_freq.get((v >> 8) & 0xFF, 0) + 1
            r_freq[(v >> 16) & 0xFF] = r_freq.get((v >> 16) & 0xFF, 0) + 1
            b_freq[v & 0xFF] = b_freq.get(v & 0xFF, 0) + 1
            a_freq[v >> 24] = a_freq.get(v >> 24, 0) + 1
        elif kind == "cache":
            s = 256 + 24 + tok[1]
            g_freq[s] = g_freq.get(s, 0) + 1
        else:  # copy
            lcode, _, _ = _prefix_encode(tok[1])
            g_freq[256 + lcode] = g_freq.get(256 + lcode, 0) + 1
            dcode, _, _ = _prefix_encode(tok[2] + 120)
            d_freq[dcode] = d_freq.get(dcode, 0) + 1

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if img.shape[2] == 4 else 0, 1)  # alpha hint
    bw.write(0, 3)                              # version
    if use_sub_green:
        bw.write(1, 1)
        bw.write(2, 2)                          # SUBTRACT_GREEN
    bw.write(0, 1)                              # no (more) transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)
    bw.write(0, 1)                              # no meta prefix codes

    def code_table(freqs: dict, alphabet: int) -> dict:
        if not freqs:
            freqs = {0: 1}  # present-but-unused (spec requires a code)
        lengths = _huffman_lengths(freqs, _MAX_CODE_LEN)
        return _write_prefix_code(bw, lengths, alphabet)

    g_codes = code_table(g_freq, 256 + 24 + cache_size)
    r_codes = code_table(r_freq, 256)
    b_codes = code_table(b_freq, 256)
    a_codes = code_table(a_freq, 256)
    d_codes = code_table(d_freq, 40)

    def emit(table: dict, sym: int) -> None:
        code, length = table[sym]
        if length:
            bw.write_code(code, length)

    for tok in tokens:
        kind = tok[0]
        if kind == "lit":
            v = tok[1]
            emit(g_codes, (v >> 8) & 0xFF)
            emit(r_codes, (v >> 16) & 0xFF)
            emit(b_codes, v & 0xFF)
            emit(a_codes, v >> 24)
        elif kind == "cache":
            emit(g_codes, 256 + 24 + tok[1])
        else:
            lcode, lbits, lextra = _prefix_encode(tok[1])
            emit(g_codes, 256 + lcode)
            if lbits:
                bw.write(lextra, lbits)
            dcode, dbits, dextra = _prefix_encode(tok[2] + 120)
            emit(d_codes, dcode)
            if dbits:
                bw.write(dextra, dbits)
    data = bw.flush()

    chunk = b"VP8L" + len(data).to_bytes(4, "little") + data
    if len(data) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + len(riff).to_bytes(4, "little") + riff
