"""FLAC decoder (+ minimal encoder) in pure Python/numpy — lossless
audio beyond WAV, no external library.

- DECODE: the full baseline frame toolbox — STREAMINFO parsing,
  frame sync with UTF-8 coded frame numbers, CONSTANT / VERBATIM /
  FIXED (orders 0-4) / LPC (any order) subframes, Rice-coded
  residuals (both 4- and 5-bit parameter methods, partition orders,
  raw-escape partitions), wasted bits, and all four channel
  assignments (independent, left/side, right/side, mid/side).
  Unsupported profiles (non-8/16-bit samples) raise
  :class:`~.codec.UnsupportedCodecError`; malformed data raises
  ``ValueError``. CRCs are not verified (decode-for-features, not
  archival validation — same stance as the JPEG decoder).
- ENCODE: fixed-blocksize, 16-bit, mono or stereo (independent
  channels), choosing per block among CONSTANT, FIXED order 0-2 with
  Rice residuals, or VERBATIM — a real (if unsophisticated) encoder
  whose output any FLAC player accepts, and which exercises every
  decoder path the round-trip tests need. LPC decode is additionally
  covered by a hand-built order-2 LPC frame in the tests.

The per-sample Rice loops are plain Python — the irreducibly
sequential part, same stance as the JPEG Huffman loop.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec import MsbReader, MsbWriter, UnsupportedCodecError, decoder


def _rice_read(bits: MsbReader, param: int) -> int:
    q = bits.unary()
    r = bits.read(param) if param else 0
    v = (q << param) | r
    return (v >> 1) ^ -(v & 1)          # zigzag -> signed


_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}

_BLOCKSIZE_CODE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                   8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                   13: 8192, 14: 16384, 15: 32768}


def _read_utf8_number(bits: MsbReader) -> int:
    first = bits.read(8)
    if first < 0x80:
        return first
    n_follow = 0
    mask = 0x40
    while first & mask:
        n_follow += 1
        mask >>= 1
    if n_follow == 0:
        raise ValueError("flac: bad UTF-8 coded number")
    v = first & (mask - 1)
    for _ in range(n_follow):
        b = bits.read(8)
        v = (v << 6) | (b & 0x3F)
    return v


def _decode_residual(bits: MsbReader, block_size: int,
                     order: int) -> list[int]:
    method = bits.read(2)
    if method not in (0, 1):
        raise ValueError(f"flac: bad residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    part_order = bits.read(4)
    n_parts = 1 << part_order
    res: list[int] = []
    for p in range(n_parts):
        n = (block_size >> part_order) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("flac: partition shorter than predictor order")
        param = bits.read(plen)
        if param == escape:
            raw_bits = bits.read(5)
            res.extend(bits.read_signed(raw_bits) if raw_bits else 0
                       for _ in range(n))
        else:
            res.extend(_rice_read(bits, param) for _ in range(n))
    return res


def _decode_subframe(bits: MsbReader, block_size: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("flac: subframe padding bit set")
    sf_type = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = 1 + bits.unary()
    eff = bps - wasted

    if sf_type == 0:                                  # CONSTANT
        v = bits.read_signed(eff)
        out = [v] * block_size
    elif sf_type == 1:                                # VERBATIM
        out = [bits.read_signed(eff) for _ in range(block_size)]
    elif 8 <= sf_type <= 12:                          # FIXED order 0-4
        order = sf_type - 8
        out = [bits.read_signed(eff) for _ in range(order)]
        res = _decode_residual(bits, block_size, order)
        coefs = _FIXED_COEFS[order]
        for r in res:
            pred = sum(c * out[-k - 1] for k, c in enumerate(coefs))
            out.append(pred + r)
    elif sf_type >= 32:                               # LPC
        order = sf_type - 31
        out = [bits.read_signed(eff) for _ in range(order)]
        precision = bits.read(4) + 1
        if precision == 16:
            raise ValueError("flac: invalid LPC precision escape")
        shift = bits.read_signed(5)
        coefs = [bits.read_signed(precision) for _ in range(order)]
        res = _decode_residual(bits, block_size, order)
        for r in res:
            acc = sum(c * out[-k - 1] for k, c in enumerate(coefs))
            out.append((acc >> shift) + r)
    else:
        raise ValueError(f"flac: reserved subframe type {sf_type}")
    if wasted:
        out = [v << wasted for v in out]
    return out


@decoder
def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """FLAC bytes -> (mono float32 samples in [-1, 1], sample_rate).
    Multi-channel audio is mean-mixed to mono (the WAV decoder's
    contract)."""
    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    i = 4
    rate = None
    bps = None
    n_channels = None
    while True:
        header = payload[i:i + 4]
        if len(header) < 4:
            raise ValueError("flac: truncated metadata")
        last = header[0] & 0x80
        btype = header[0] & 0x7F
        (ln,) = struct.unpack(">I", b"\x00" + header[1:4])
        if btype == 0:                                # STREAMINFO
            si = payload[i + 4:i + 4 + ln]
            packed = int.from_bytes(si[10:18], "big")
            rate = packed >> 44
            n_channels = ((packed >> 41) & 0x7) + 1
            bps = ((packed >> 36) & 0x1F) + 1
        i += 4 + ln
        if last:
            break
    if rate is None or not rate:
        raise ValueError("flac: missing/invalid STREAMINFO")
    if bps not in (8, 16):
        raise UnsupportedCodecError(
            f"flac: only 8/16-bit samples in this build (got {bps})")

    channels: list[list[int]] = [[] for _ in range(n_channels)]
    while i < len(payload) - 1:
        bits = MsbReader(payload, i, underrun="flac: bitstream underrun")
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("flac: lost frame sync")
        bits.read(1)                                  # reserved
        bits.read(1)                                  # blocking strategy
        bs_code = bits.read(4)
        rate_code = bits.read(4)
        chan_code = bits.read(4)
        size_code = bits.read(3)
        bits.read(1)                                  # reserved
        _read_utf8_number(bits)
        if bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        elif bs_code in _BLOCKSIZE_CODE:
            block_size = _BLOCKSIZE_CODE[bs_code]
        else:
            raise ValueError(f"flac: bad block size code {bs_code}")
        if rate_code == 12:
            bits.read(8)
        elif rate_code in (13, 14):
            bits.read(16)
        bits.read(8)                                  # header CRC-8
        del size_code

        if chan_code < 8:
            n_sub = chan_code + 1
            sub_bps = [bps] * n_sub
            mode = "independent"
        elif chan_code in (8, 9, 10):
            n_sub = 2
            # the SIDE channel carries one extra bit
            side_idx = {8: 1, 9: 0, 10: 1}[chan_code]
            sub_bps = [bps + (1 if k == side_idx else 0) for k in range(2)]
            mode = {8: "left_side", 9: "right_side", 10: "mid_side"}[chan_code]
        else:
            raise ValueError(f"flac: bad channel assignment {chan_code}")

        subs = [_decode_subframe(bits, block_size, sub_bps[k])
                for k in range(n_sub)]
        bits.align()
        bits.read(16)                                 # frame CRC-16
        i = bits.byte_pos()

        if mode == "independent":
            for k in range(n_sub):
                channels[k].extend(subs[k])
        elif mode == "left_side":
            left, side = subs
            channels[0].extend(left)
            channels[1].extend(l - s for l, s in zip(left, side))
        elif mode == "right_side":
            side, right = subs
            channels[0].extend(r + s for r, s in zip(right, side))
            channels[1].extend(right)
        else:                                         # mid_side
            mid, side = subs
            for m, s in zip(mid, side):
                l = ((m << 1) | (s & 1)) + s
                channels[0].append(l >> 1)
                channels[1].append((l - (s << 1)) >> 1)

    arr = np.array(channels, dtype=np.float64)
    mono = arr.mean(axis=0)
    return (mono / float(1 << (bps - 1))).astype(np.float32), rate


# ------------------------------------------------------------- encoder

def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _utf8_number(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    bits_needed = n.bit_length()
    n_follow = 1
    while bits_needed > 6 * n_follow + (6 - n_follow):
        n_follow += 1
    lead = (0xFF << (7 - n_follow)) & 0xFF | (n >> (6 * n_follow))
    out.append(lead & 0xFF)
    for k in range(n_follow - 1, -1, -1):
        out.append(0x80 | ((n >> (6 * k)) & 0x3F))
    return bytes(out)


def _rice_write(w: MsbWriter, v: int, param: int) -> None:
    u = (v << 1) if v >= 0 else ((-v) << 1) - 1
    w.unary(u >> param)
    if param:
        w.write(u & ((1 << param) - 1), param)


def _best_rice_param(res: list[int]) -> int:
    if not res:
        return 0
    mean = sum(abs(r) for r in res) / len(res) + 1e-9
    p = max(int(mean).bit_length() - 1, 0)
    return min(p + 1, 14)


def encode_flac(samples: np.ndarray, rate: int,
                block_size: int = 4096) -> bytes:
    """(n,) or (n, ch<=2) int16/float -> FLAC bytes (16-bit,
    independent channels, per-block CONSTANT/FIXED/VERBATIM choice)."""
    s = np.asarray(samples)
    if s.dtype.kind == "f":
        s = np.clip(np.round(s * 32767), -32768, 32767)
    s = s.astype(np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    if ch > 2:
        raise ValueError("flac encoder: at most 2 channels")

    si = bytearray(34)
    si[0:2] = struct.pack(">H", block_size)
    si[2:4] = struct.pack(">H", block_size)
    packed = (rate << 44) | ((ch - 1) << 41) | ((16 - 1) << 36) | n
    si[10:18] = packed.to_bytes(8, "big")
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    for frame_idx, start in enumerate(range(0, n, block_size)):
        blk = s[start:start + block_size]
        bs = len(blk)
        header = bytearray()
        header += b"\xff\xf8"                     # sync + fixed blocking
        header.append((7 << 4) | 0)               # bs code 7 (16-bit), rate 'get from streaminfo'
        header.append(((ch - 1) << 4) | (0b100 << 1))   # independent, 16-bit
        header += _utf8_number(frame_idx)
        header += struct.pack(">H", bs - 1)
        header.append(_crc8(bytes(header)))
        w = MsbWriter()
        for b in bytes(header):
            w.write(b, 8)
        for c in range(ch):
            col = blk[:, c].tolist()
            _write_subframe(w, col)
        frame = w.flush()
        out += frame + struct.pack(">H", _crc16(frame))
    return bytes(out)


def _write_subframe(w: MsbWriter, col: list[int]) -> None:
    if all(v == col[0] for v in col):              # CONSTANT
        w.write(0, 1)
        w.write(0, 6)
        w.write(0, 1)
        w.write(col[0], 16)
        return
    # try FIXED orders 0-2, fall back to VERBATIM if residuals blow up
    best = None
    for order in (2, 1, 0):
        if len(col) <= order:
            continue
        coefs = _FIXED_COEFS[order]
        res = [col[k] - sum(c * col[k - j - 1] for j, c in enumerate(coefs))
               for k in range(order, len(col))]
        if max((abs(r) for r in res), default=0) < (1 << 30):
            best = (order, res)
            break
    if best is None:
        w.write(0, 1)
        w.write(1, 6)                              # VERBATIM
        w.write(0, 1)
        for v in col:
            w.write(v, 16)
        return
    order, res = best
    w.write(0, 1)
    w.write(8 + order, 6)                          # FIXED
    w.write(0, 1)
    for v in col[:order]:
        w.write(v, 16)
    w.write(0, 2)                                  # residual method: rice4
    w.write(0, 4)                                  # partition order 0
    param = _best_rice_param(res)
    w.write(param, 4)
    for r in res:
        _rice_write(w, r, param)
