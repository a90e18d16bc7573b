"""JPEG codec in pure numpy — the real decode step behind
``multimodal.image_features`` for the web's dominant image format.

Scope (and the typed error for everything outside it):

- DECODE: baseline sequential DCT (SOF0/SOF1) AND progressive DCT
  (SOF2: spectral selection, successive approximation, DC/AC
  first + refinement scans, EOB runs), 8-bit samples, Huffman
  entropy coding, 1 or 3 components, any sampling factors up to 2x2
  (4:4:4 / 4:2:2 / 4:2:0), restart markers. Arithmetic coding,
  12-bit, lossless and hierarchical streams raise
  :class:`UnsupportedCodecError` — per-row surfaced by the feature
  operators, never a job abort.
- ENCODE: baseline (standard Huffman tables) and progressive (flat
  tables, spectral-selection or full successive-approximation scan
  scripts), quality-scaled Annex-K-style quantization, grayscale /
  4:4:4 / 4:2:0. The encoders exist so the query fixtures can
  synthesize payloads and so the decoder is round-trip tested without
  any media library in the container; baseline and progressive
  encodings of the same image decode to bit-identical pixels (same
  quantized coefficients), which is what the round-trip tests pin.

The per-block transforms (dequantize, IDCT/FDCT, level shift, chroma
up/down-sampling, colorspace) are all vectorized numpy over every
block of the image at once; only the Huffman bit loop is per-symbol
Python, which is the irreducibly sequential part of the format.

Reference parity: the reference repo has no media pipeline at all —
this module belongs to the LLM-training-data extension surface
(SURVEY.md §2.3), not to reference parity.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import (
    MsbReader,
    MsbWriter,
    UnsupportedCodecError,
    canonical_codes,
    decoder,
    encoder_codes,
)

# zigzag scan position -> row-major coefficient index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# orthonormal 8-point DCT-II basis: A @ A.T == I
_A = np.array([[(np.sqrt(1 / 8) if u == 0 else 0.5)
                * np.cos((2 * x + 1) * u * np.pi / 16)
                for x in range(8)] for u in range(8)])

_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99])

_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99])

# standard Huffman table specs: (counts per code length 1..16, symbols)
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _huffman_table(counts, symbols) -> dict:
    """DHT (code counts per length 1..16, symbols in code order) ->
    decode table (see :func:`.codec.canonical_codes`)."""
    lengths = [n for n in range(1, 17) for _ in range(counts[n - 1])]
    return canonical_codes([(n, symbols[k]) for k, n in enumerate(lengths)])


def _encode_codes(counts, symbols):
    """(counts, symbols) -> {symbol: (code, length)} for the writer."""
    return encoder_codes(_huffman_table(counts, symbols))


#: writer tables (DC, AC) for the standard luma and chroma DHTs
_CODES_LUMA = _encode_codes(*_DC_LUMA), _encode_codes(*_AC_LUMA)
_CODES_CHROMA = _encode_codes(*_DC_CHROMA), _encode_codes(*_AC_CHROMA)


def _extend(v: int, s: int) -> int:
    """DIFF/AC magnitude decode: s-bit value -> signed coefficient."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _split_entropy(payload: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from ``start`` to the next non-RST marker:
    unstuff 0xFF00, split segments at restart markers. Returns
    (segments, index of the terminating marker's 0xFF)."""
    segs, cur, i, n = [], bytearray(), start, len(payload)
    while i < n:
        b = payload[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        nxt = payload[i + 1] if i + 1 < n else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:      # RSTn: segment boundary
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, i


def _frame_geometry(comps: list[dict], h: int, w: int) -> dict:
    """Frame-level MCU grid + per-component block dims. Non-
    interleaved scans cover exactly the component's own blocks
    (ceil(comp dims / 8)); interleaved scans cover the (possibly
    larger, MCU-padded) frame grid."""
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    for c in comps:
        cw = -(-(w * c["h"]) // hmax)     # component pixel dims (ceil)
        ch = -(-(h * c["v"]) // vmax)
        c["bw"], c["bh"] = -(-cw // 8), -(-ch // 8)
    return {"hmax": hmax, "vmax": vmax, "mcus_x": mcus_x,
            "mcus_y": mcus_y}


def _mcu_blocks(scan, blocks, frame, mcu):
    """Yield (comp, coef_row) for one MCU in scan order. Interleaved
    scans walk h x v blocks per component per MCU; a single-component
    scan's 'MCU' is one block over the component's own block grid."""
    if len(scan) > 1:
        my, mx = divmod(mcu, frame["mcus_x"])
        for c in scan:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    yield c, blocks[c["id"]][my * c["v"] + by,
                                             mx * c["h"] + bx]
    else:
        c = scan[0]
        by, bx = divmod(mcu, c["bw"])
        yield c, blocks[c["id"]][by, bx]


def _scan_mcu_count(scan, frame) -> int:
    if len(scan) > 1:
        return frame["mcus_x"] * frame["mcus_y"]
    return scan[0]["bw"] * scan[0]["bh"]


@decoder
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline (SOF0/1) or progressive (SOF2) JPEG -> (h, w, 3) RGB
    uint8 (grayscale replicated).

    Raises :class:`UnsupportedCodecError` for arithmetic-coded,
    12-bit, lossless and hierarchical streams and ``ValueError`` for
    malformed data. Progressive streams accumulate coefficients
    across every scan (spectral selection + successive approximation,
    DC and AC first/refinement passes, EOB runs) and reconstruct
    once at EOI.
    """
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}   # (class 0=DC/1=AC, id)
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    progressive = False
    frame: dict | None = None
    blocks: dict[int, np.ndarray] | None = None
    i, n = 2, len(payload)
    while i < n:
        if payload[i] != 0xFF:
            i += 1
            continue
        marker = payload[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xD9:              # EOI
            break
        (seglen,) = struct.unpack(">H", payload[i + 2:i + 4])
        seg = payload[i + 4:i + 2 + seglen]
        if marker == 0xDB:              # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 15
                p += 1
                if pq:
                    vals = np.frombuffer(seg[p:p + 128], dtype=">u2")
                    p += 128
                else:
                    vals = np.frombuffer(seg[p:p + 64], dtype=np.uint8)
                    p += 64
                qt[tq] = vals.astype(np.int32)          # zigzag order
        elif marker == 0xC4:            # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 15
                counts = list(seg[p + 1:p + 17])
                nsym = sum(counts)
                symbols = list(seg[p + 17:p + 17 + nsym])
                huff[(tc, th)] = _huffman_table(counts, symbols)
                p += 17 + nsym
        elif marker in (0xC0, 0xC1, 0xC2):   # SOF0/1 baseline, SOF2 prog
            progressive = marker == 0xC2
            precision = seg[0]
            if precision != 8:
                raise UnsupportedCodecError(
                    f"jpeg: only 8-bit precision (got {precision})")
            h, w = struct.unpack(">HH", seg[1:5])
            comps = []
            for c in range(seg[5]):
                cid, hv, tqi = seg[6 + 3 * c:9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15,
                              "tq": tqi})
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise UnsupportedCodecError(
                f"jpeg: only baseline/progressive Huffman is supported "
                f"(SOF marker 0x{marker:02X})")
        elif marker == 0xDD:            # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:            # SOS
            if not comps:
                raise ValueError("jpeg: SOS before SOF")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c:3 + 2 * c]
                comp = next(x for x in comps if x["id"] == cs)
                comp["td"], comp["ta"] = tdta >> 4, tdta & 15
                scan.append(comp)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 15
            if blocks is None:
                frame = _frame_geometry(comps, h, w)
                blocks = {c["id"]: np.zeros(
                    (frame["mcus_y"] * c["v"], frame["mcus_x"] * c["h"],
                     64), dtype=np.int32) for c in comps}
            segs, i = _split_entropy(payload, i + 2 + seglen)
            if progressive:
                _progressive_scan(scan, segs, huff, blocks, frame,
                                  restart_interval, ss, se, ah, al)
            else:
                _baseline_scan(scan, segs, huff, blocks, frame,
                               restart_interval)
            continue        # i already points at the next marker
        i += 2 + seglen
    if blocks is None:
        raise ValueError("jpeg: no SOS marker found")
    return _reconstruct(comps, blocks, qt, frame, h, w)


def _baseline_scan(scan, entropy_segs, huff, blocks, frame,
                   restart_interval):
    total = _scan_mcu_count(scan, frame)
    per_seg = restart_interval or total
    for seg_idx, seg in enumerate(entropy_segs):
        reader = MsbReader(seg, fill=0xFF)   # fill bits are 1s
        pred = {c["id"]: 0 for c in scan}
        first = seg_idx * per_seg
        for mcu in range(first, min(first + per_seg, total)):
            for c, coef in _mcu_blocks(scan, blocks, frame, mcu):
                dc_tbl = huff.get((0, c["td"]))
                ac_tbl = huff.get((1, c["ta"]))
                if dc_tbl is None or ac_tbl is None:
                    raise ValueError("jpeg: missing Huffman table")
                s = reader.symbol(dc_tbl)
                pred[c["id"]] += _extend(reader.read(s), s)
                coef[0] = pred[c["id"]]
                k = 1
                while k < 64:
                    rs = reader.symbol(ac_tbl)
                    r, s = rs >> 4, rs & 15
                    if s == 0:
                        if r != 15:
                            break       # EOB
                        k += 16         # ZRL
                        continue
                    k += r
                    if k > 63:
                        raise ValueError("jpeg: AC index overflow")
                    coef[k] = _extend(reader.read(s), s)
                    k += 1


def _progressive_scan(scan, entropy_segs, huff, blocks, frame,
                      restart_interval, ss, se, ah, al):
    """One progressive scan into the coefficient grids (T.81 G.2):
    DC first (diffs shifted left by Al) / DC refinement (one bit per
    block at position Al); AC first (band Ss..Se with EOB runs) / AC
    refinement (correction bits for known coefficients + newly
    nonzero +-1<<Al), per jdphuff's arithmetic on signed ints."""
    if ss == 0 and se != 0:
        raise ValueError("jpeg: progressive DC scan must have Se=0")
    if ss > 0 and len(scan) > 1:
        raise ValueError(
            "jpeg: progressive AC scan must be single-component")
    total = _scan_mcu_count(scan, frame)
    per_seg = restart_interval or total
    for seg_idx, seg in enumerate(entropy_segs):
        reader = MsbReader(seg, fill=0xFF)   # fill bits are 1s
        pred = {c["id"]: 0 for c in scan}
        eobrun = 0
        first = seg_idx * per_seg
        for mcu in range(first, min(first + per_seg, total)):
            if ss == 0:
                for c, coef in _mcu_blocks(scan, blocks, frame, mcu):
                    if ah == 0:                      # DC first
                        dc_tbl = huff.get((0, c["td"]))
                        if dc_tbl is None:
                            raise ValueError("jpeg: missing Huffman table")
                        s = reader.symbol(dc_tbl)
                        pred[c["id"]] += _extend(reader.read(s), s)
                        coef[0] = pred[c["id"]] << al
                    elif reader.read(1):          # DC refinement
                        coef[0] |= 1 << al
            else:
                c = scan[0]
                coef = blocks[c["id"]][divmod(mcu, c["bw"])]
                ac_tbl = huff.get((1, c["ta"]))
                if ac_tbl is None:
                    raise ValueError("jpeg: missing Huffman table")
                if ah == 0:
                    eobrun = _ac_first_block(reader, coef, ac_tbl,
                                             ss, se, al, eobrun)
                else:
                    eobrun = _ac_refine_block(reader, coef, ac_tbl,
                                              ss, se, al, eobrun)


def _ac_first_block(reader, coef, ac_tbl, ss, se, al, eobrun) -> int:
    """AC first pass for one block; returns the remaining EOB run
    (counts whole blocks whose band is entirely zero)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.symbol(ac_tbl)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:                  # EOBn: run of 2^r + bits blocks
                eobrun = (1 << r) - 1    # current block counted here
                if r:
                    eobrun += reader.read(r)
                return eobrun
            k += 16                      # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("jpeg: AC index overflow")
        coef[k] = _extend(reader.read(s), s) << al
        k += 1
    return 0


def _ac_refine_block(reader, coef, ac_tbl, ss, se, al, eobrun) -> int:
    """AC successive-approximation refinement for one block: append a
    correction bit to every already-nonzero coefficient visited, and
    place newly nonzero coefficients as +-1<<Al. Mirrors jdphuff's
    signed-int arithmetic (coef & p1 tests the bit under two's
    complement; magnitude grows toward the sign)."""
    p1, m1 = 1 << al, -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.symbol(ac_tbl)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.read(r)
                    break                # rest handled by EOB logic
                # r == 15: ZRL — advance over 16 zero-history coeffs
            else:
                val = p1 if reader.read(1) else m1
            while k <= se:
                if coef[k] != 0:
                    if reader.read(1) and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    if r == 0:
                        break            # target zero-history position
                    r -= 1
                k += 1
            if val and k <= se:
                coef[k] = val
            k += 1
    if eobrun > 0:
        # EOB run covers this block: only correction bits remain
        while k <= se:
            if coef[k] != 0:
                if reader.read(1) and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct(comps, blocks, qt, frame, h, w):
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for c in comps:
        grid = blocks[c["id"]]
        by, bx, _ = grid.shape
        flat = grid.reshape(-1, 64) * qt[c["tq"]][None, :]   # dequantize
        nat = np.zeros_like(flat)
        nat[:, ZIGZAG] = flat                                # dezigzag
        spatial = np.einsum("ui,nuv,vj->nij", _A,
                            nat.reshape(-1, 8, 8).astype(np.float64), _A)
        spatial = np.clip(np.round(spatial) + 128, 0, 255).astype(np.uint8)
        plane = (spatial.reshape(by, bx, 8, 8)
                 .transpose(0, 2, 1, 3).reshape(by * 8, bx * 8))
        cw = -(-(w * c["h"]) // hmax)
        chh = -(-(h * c["v"]) // vmax)
        plane = plane[:chh, :cw]
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1:
            plane = np.repeat(plane, fy, axis=0)
        if fx > 1:
            plane = np.repeat(plane, fx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        return np.repeat(planes[0][..., None], 3, axis=2)
    y, cb, cr = (p.astype(np.float64) for p in planes)
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    return np.clip(np.round(np.stack([r, g, b], axis=-1)),
                   0, 255).astype(np.uint8)


# ------------------------------------------------------------- encoder

def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    quality = min(max(quality, 1), 100)
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    def q(base):
        return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)
    return q(_QT_LUMA), q(_QT_CHROMA)


def _entropy_bytes(bw_: MsbWriter) -> bytes:
    """Flush an entropy segment: 1-fill to a byte boundary, then stuff
    a 0x00 after every 0xFF so no data byte reads as a marker."""
    return bw_.flush(fill=1).replace(b"\xff", b"\xff\x00")


def _fdct_blocks(plane: np.ndarray) -> np.ndarray:
    """(h, w) float plane (level-shifted) -> (n_blocks, 64) zigzag
    coefficients. h and w must be multiples of 8."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    blocks = (plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)
              .reshape(-1, 8, 8))
    coeff = np.einsum("ui,nij,vj->nuv", _A, blocks, _A).reshape(-1, 64)
    return coeff[:, ZIGZAG]


def _magnitude(v: int) -> tuple[int, int]:
    """signed value -> (category s, s-bit code)."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _encode_block(bw_: MsbWriter, coef: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    dc = int(coef[0])
    s, code = _magnitude(dc - pred)
    c, ln = dc_codes[s]
    bw_.write(c, ln)
    if s:
        bw_.write(code, s)
    nz = np.nonzero(coef[1:])[0]
    k = 1
    for idx in nz + 1:
        run = idx - k
        while run >= 16:
            c, ln = ac_codes[0xF0]      # ZRL
            bw_.write(c, ln)
            run -= 16
        s, code = _magnitude(int(coef[idx]))
        c, ln = ac_codes[(run << 4) | s]
        bw_.write(c, ln)
        bw_.write(code, s)
        k = idx + 1
    if k <= 63:
        c, ln = ac_codes[0x00]          # EOB
        bw_.write(c, ln)
    return dc


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = -(-h // mult) * mult, -(-w // mult) * mult
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _quantized_blocks(img: np.ndarray, quality: int, subsampling: str):
    """Shared encoder front half: colorspace, subsampling, FDCT and
    quantization. Returns (comp_blocks, samp, h, w, qtl, qtc, mcus_x,
    mcus_y); comp_blocks[ci] has shape
    (mcus_y * sv, mcus_x * sh, 64) in zigzag order."""
    img = np.asarray(img, dtype=np.uint8)
    gray = img.ndim == 2
    h, w = img.shape[:2]
    qtl, qtc = _quality_tables(quality)   # zigzag order, like the coeffs

    if gray:
        planes = [img.astype(np.float64) - 128]
        samp = [(1, 1)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128
        if subsampling == "4:2:0":
            cbp, crp = _pad_to(cb, 2), _pad_to(cr, 2)
            cb = cbp.reshape(cbp.shape[0] // 2, 2,
                             cbp.shape[1] // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(crp.shape[0] // 2, 2,
                             crp.shape[1] // 2, 2).mean(axis=(1, 3))
            samp = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            samp = [(1, 1), (1, 1), (1, 1)]
        else:
            raise UnsupportedCodecError(
                f"jpeg encoder: subsampling {subsampling!r}")
        planes = [p - 128 for p in (y, cb, cr)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x, mcus_y = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    comp_blocks = []
    for ci, (plane, (sh, sv)) in enumerate(zip(planes, samp)):
        th, tw = mcus_y * sv * 8, mcus_x * sh * 8
        padded = np.pad(plane, ((0, th - plane.shape[0]),
                                (0, tw - plane.shape[1])), mode="edge")
        coeffs = _fdct_blocks(padded)
        qz = qtl if ci == 0 else qtc
        quant = np.round(coeffs / qz[None, :]).astype(np.int32)
        comp_blocks.append(quant.reshape(mcus_y * sv, mcus_x * sh, 64))
    return comp_blocks, samp, h, w, qtl, qtc, mcus_x, mcus_y


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _dht(tc: int, th: int, spec) -> bytes:
    counts, symbols = spec
    return _seg(0xC4, bytes([tc << 4 | th]) + bytes(counts) + bytes(symbols))


def _frame_header(sof: int, qtl, qtc, samp, h: int, w: int) -> bytearray:
    """SOI, the quantization tables and the SOF segment."""
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + qtl.astype(np.uint8).tobytes())
    if len(samp) > 1:
        out += _seg(0xDB, b"\x01" + qtc.astype(np.uint8).tobytes())
    body = struct.pack(">BHHB", 8, h, w, len(samp))
    for ci, (sh, sv) in enumerate(samp):
        body += bytes([ci + 1, sh << 4 | sv, 0 if ci == 0 else 1])
    return out + _seg(sof, body)


def encode_jpeg(img: np.ndarray, quality: int = 85,
                subsampling: str = "4:4:4",
                restart_interval: int = 0) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> baseline JPEG bytes.

    ``subsampling``: '4:4:4' (default) or '4:2:0' (chroma averaged
    2x2 — exercises the decoder's multi-block-MCU/upsampling path).
    ``restart_interval``: emit a DRI segment and RSTn markers every N
    MCUs (0 = none) — what a streaming/error-resilient producer does.
    """
    (comp_blocks, samp, h, w, qtl, qtc,
     mcus_x, mcus_y) = _quantized_blocks(img, quality, subsampling)

    (dc_l, ac_l), (dc_c, ac_c) = _CODES_LUMA, _CODES_CHROMA

    entropy = bytearray()
    bw_ = MsbWriter()
    preds = [0] * len(comp_blocks)
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            entropy += _entropy_bytes(bw_)
            entropy += bytes([0xFF, 0xD0 + (mcu // restart_interval - 1) % 8])
            bw_ = MsbWriter()
            preds = [0] * len(comp_blocks)
        my, mx = divmod(mcu, mcus_x)
        for ci, (sh, sv) in enumerate(samp):
            dc_codes = dc_l if ci == 0 else dc_c
            ac_codes = ac_l if ci == 0 else ac_c
            for by in range(sv):
                for bx in range(sh):
                    coef = comp_blocks[ci][my * sv + by, mx * sh + bx]
                    preds[ci] = _encode_block(bw_, coef, preds[ci],
                                              dc_codes, ac_codes)
    entropy += _entropy_bytes(bw_)

    out = _frame_header(0xC0, qtl, qtc, samp, h, w)
    out += _dht(0, 0, _DC_LUMA) + _dht(1, 0, _AC_LUMA)
    if len(samp) > 1:
        out += _dht(0, 1, _DC_CHROMA) + _dht(1, 1, _AC_CHROMA)
    if restart_interval:
        out += _seg(0xDD, struct.pack(">H", restart_interval))
    ncomp = len(samp)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += _seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# -------------------------------------------- progressive encoder

# Flat Huffman tables for progressive scans. The standard baseline
# tables lack the EOBn symbols (0x10..0xE0) progressive AC coding
# needs, so — like every progressive encoder — we ship our own DHT:
# all DC categories at 4 bits, every AC symbol (EOB0..EOB14, ZRL,
# (run,size) for size 1..10) at 8 bits. Canonically valid (12 <= 2^4,
# 176 <= 2^8, all-ones code unused) and bit-suboptimal, which only
# costs payload size, never correctness.
_DC_PROG = ([0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_AC_PROG_SYMBOLS = ([r << 4 for r in range(15)] + [0xF0]
                    + [(r << 4) | s for r in range(16)
                       for s in range(1, 11)])
_AC_PROG = ([0, 0, 0, 0, 0, 0, 0, len(_AC_PROG_SYMBOLS),
             0, 0, 0, 0, 0, 0, 0, 0], _AC_PROG_SYMBOLS)
_CODES_PROG = _encode_codes(*_DC_PROG), _encode_codes(*_AC_PROG)


def _emit_eobrun(bw_: MsbWriter, ac_codes: dict, state: dict) -> None:
    """Flush the pending EOB run (EOBn symbol + extension bits) and
    the correction bits buffered behind it (refinement scans)."""
    if state["eobrun"] > 0:
        r = state["eobrun"].bit_length() - 1
        c, ln = ac_codes[r << 4]
        bw_.write(c, ln)
        if r:
            bw_.write(state["eobrun"] - (1 << r), r)
        state["eobrun"] = 0
        for b in state["pending"]:
            bw_.write(b, 1)
        state["pending"] = []


def _first_ac_block(bw_, coef, ss, se, al, ac_codes, state) -> None:
    """AC first pass (Ah=0) for one block: band Ss..Se of the point-
    transformed coefficients (magnitude >> Al) with EOB-run
    accumulation across blocks."""
    r = 0
    for k in range(ss, se + 1):
        t = int(coef[k])
        a = abs(t) >> al
        if a == 0:
            r += 1
            continue
        _emit_eobrun(bw_, ac_codes, state)
        while r > 15:
            c, ln = ac_codes[0xF0]
            bw_.write(c, ln)
            r -= 16
        s, code = _magnitude(a if t >= 0 else -a)
        c, ln = ac_codes[(r << 4) | s]
        bw_.write(c, ln)
        bw_.write(code, s)
        r = 0
    if r > 0:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw_, ac_codes, state)


def _refine_ac_block(bw_, coef, ss, se, al, ac_codes, state) -> None:
    """AC refinement pass (Ah=Al+1): one correction bit per already-
    nonzero coefficient, (run, +-1) codes for newly nonzero ones,
    correction bits buffered behind EOB runs — jcphuff's algorithm
    on the signed coefficient values."""
    absv = [abs(int(coef[k])) >> al for k in range(ss, se + 1)]
    eob_k = ss - 1                     # last newly-nonzero position
    for idx, a in enumerate(absv):
        if a == 1:
            eob_k = ss + idx
    r, br = 0, []
    for k in range(ss, se + 1):
        temp = absv[k - ss]
        if temp == 0:
            r += 1
            continue
        while r > 15 and k <= eob_k:   # ZRLs not foldable into EOB
            _emit_eobrun(bw_, ac_codes, state)
            c, ln = ac_codes[0xF0]
            bw_.write(c, ln)
            r -= 16
            for b in br:
                bw_.write(b, 1)
            br = []
        if temp > 1:                   # known coefficient: buffer bit
            br.append(temp & 1)
            continue
        _emit_eobrun(bw_, ac_codes, state)
        c, ln = ac_codes[(r << 4) | 1]
        bw_.write(c, ln)
        bw_.write(0 if int(coef[k]) < 0 else 1, 1)
        for b in br:
            bw_.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        state["eobrun"] += 1
        state["pending"].extend(br)
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw_, ac_codes, state)


def encode_jpeg_progressive(img: np.ndarray, quality: int = 85,
                            subsampling: str = "4:4:4",
                            successive: bool = False) -> bytes:
    """(h, w, 3) RGB or (h, w) grayscale uint8 -> progressive (SOF2)
    JPEG bytes, quantized identically to :func:`encode_jpeg` (so the
    decoded pixels are bit-identical to the baseline encoding's).

    Scan script: DC of all components first, then the full AC band
    per component (spectral selection). With ``successive=True`` each
    of those is split into a coarse pass (Al=1) plus a refinement
    pass (Ah=1, Al=0), exercising every progressive decode path:
    DC/AC first, DC/AC refinement, EOB runs, correction bits.
    """
    (comp_blocks, samp, h, w, qtl, qtc,
     mcus_x, mcus_y) = _quantized_blocks(img, quality, subsampling)
    ncomp = len(comp_blocks)
    dc_codes, ac_codes = _CODES_PROG

    # per-component block dims for non-interleaved AC scans (exclude
    # MCU padding blocks, mirroring the decoder's _frame_geometry)
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    comp_bdims = []
    for sh, sv in samp:
        cw = -(-(w * sh) // hmax)
        ch = -(-(h * sv) // vmax)
        comp_bdims.append((-(-ch // 8), -(-cw // 8)))

    def sos_header(comp_ids: list[int], ss: int, se: int,
                   ah: int, al: int) -> bytes:
        body = bytes([len(comp_ids)])
        for cid in comp_ids:
            body += bytes([cid, 0x00])     # td=0, ta=0 (flat tables)
        body += bytes([ss, se, (ah << 4) | al])
        return _seg(0xDA, body)

    def dc_scan(al: int, refine: bool) -> bytes:
        bw_ = MsbWriter()
        preds = [0] * ncomp
        for mcu in range(mcus_x * mcus_y):
            my, mx = divmod(mcu, mcus_x)
            for ci, (sh, sv) in enumerate(samp):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(comp_blocks[ci][my * sv + by,
                                                 mx * sh + bx][0])
                        if refine:
                            bw_.write((dc >> al) & 1, 1)
                        else:
                            v = dc >> al       # arithmetic shift (G.1.2.1)
                            s, code = _magnitude(v - preds[ci])
                            c, ln = dc_codes[s]
                            bw_.write(c, ln)
                            if s:
                                bw_.write(code, s)
                            preds[ci] = v
        return _entropy_bytes(bw_)

    def ac_scan(ci: int, al: int, refine: bool) -> bytes:
        bw_ = MsbWriter()
        state = {"eobrun": 0, "pending": []}
        bh, bwid = comp_bdims[ci]
        for by in range(bh):
            for bx in range(bwid):
                coef = comp_blocks[ci][by, bx]
                if refine:
                    _refine_ac_block(bw_, coef, 1, 63, al, ac_codes,
                                     state)
                else:
                    _first_ac_block(bw_, coef, 1, 63, al, ac_codes,
                                    state)
        _emit_eobrun(bw_, ac_codes, state)
        return _entropy_bytes(bw_)

    out = _frame_header(0xC2, qtl, qtc, samp, h, w)   # SOF2: progressive
    out += _dht(0, 0, _DC_PROG) + _dht(1, 0, _AC_PROG)

    all_ids = [ci + 1 for ci in range(ncomp)]
    first_al = 1 if successive else 0
    out += sos_header(all_ids, 0, 0, 0, first_al)
    out += dc_scan(first_al, refine=False)
    for ci in range(ncomp):
        out += sos_header([ci + 1], 1, 63, 0, first_al)
        out += ac_scan(ci, first_al, refine=False)
    if successive:
        out += sos_header(all_ids, 0, 0, 1, 0)
        out += dc_scan(0, refine=True)
        for ci in range(ncomp):
            out += sos_header([ci + 1], 1, 63, 1, 0)
            out += ac_scan(ci, 0, refine=True)
    out += b"\xff\xd9"
    return bytes(out)
