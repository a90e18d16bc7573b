"""Primitives the media codecs share: the typed error, the malformed-
input contract of the public decoders, MSB- and LSB-first bit I/O,
canonical prefix codes and LZW.

Each codec module (jpeg, png, gif, tiff, webp, flac, avi, mp3, pdf)
keeps only its own format code on top of these. Bit order is the one
thing the formats disagree on: JPEG entropy data, FLAC frames and TIFF
LZW pack MSB-first; VP8L and GIF LZW pack LSB-first.
"""

from __future__ import annotations

import functools
import struct
import zlib


class UnsupportedCodecError(ValueError):
    """Payload is a recognized format but outside the supported
    profile (progressive JPEG, arithmetic coding, mp3, ...). Feature
    operators surface this per row instead of failing the job."""


def decoder(fn):
    """Wrap a public decoder so malformed input raises ``ValueError``:
    the ``IndexError``, ``struct.error`` and ``zlib.error`` a truncated
    or corrupt payload trips deep in the parsing code are re-raised as
    ``ValueError`` (the original chained), which is what the codec
    docstrings and the per-row error column promise."""

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except (IndexError, struct.error, zlib.error) as e:
            raise ValueError(
                f"malformed payload ({type(e).__name__}: {e})") from e

    return wrapped


# -------------------------------------------------------------- bit I/O

class _Reader:
    __slots__ = ()

    def symbol(self, table: dict) -> int:
        """One prefix-coded symbol, code bits read MSB-of-code first,
        from a :func:`canonical_codes` table. A one-entry table keyed
        1 is a zero-bit code (VP8L's one-symbol code): nothing is read."""
        code = 1
        while True:
            sym = table.get(code)
            if sym is not None:
                return sym
            if code >> 16:
                raise ValueError("invalid Huffman code in entropy stream")
            code = (code << 1) | self.read(1)


class MsbReader(_Reader):
    """MSB-first bit reader. Past the end of ``data`` it feeds ``fill``
    bytes (JPEG pads entropy data with 1s) or, with ``fill=None``,
    raises ``ValueError(underrun)``."""

    __slots__ = ("data", "i", "acc", "nbits", "fill", "underrun")

    def __init__(self, data: bytes, start: int = 0, fill: int | None = None,
                 underrun: str = "bitstream underrun"):
        self.data = data
        self.i = start
        self.acc = 0
        self.nbits = 0
        self.fill = fill
        self.underrun = underrun

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.i < len(self.data):
                byte = self.data[self.i]
            elif self.fill is None:
                raise ValueError(self.underrun)
            else:
                byte = self.fill
            self.i += 1
            self.acc = (self.acc << 8) | byte
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        """Count of 0 bits before the next 1 bit (which is consumed)."""
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        """Drop the rest of the current byte."""
        self.nbits -= self.nbits % 8
        self.acc &= (1 << self.nbits) - 1

    def byte_pos(self) -> int:
        """Offset of the first byte not yet (fully) consumed."""
        return self.i - self.nbits // 8


class LsbReader(_Reader):
    """LSB-first bit reader; raises ``ValueError(underrun)`` past the
    end of ``data``."""

    __slots__ = ("data", "i", "acc", "nbits", "underrun")

    def __init__(self, data: bytes, underrun: str = "bitstream underrun"):
        self.data = data
        self.i = 0
        self.acc = 0
        self.nbits = 0
        self.underrun = underrun

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.i >= len(self.data):
                raise ValueError(self.underrun)
            self.acc |= self.data[self.i] << self.nbits
            self.i += 1
            self.nbits += 8
        v = self.acc & ((1 << n) - 1)
        self.acc >>= n
        self.nbits -= n
        return v


class MsbWriter:
    """MSB-first bit writer; ``flush`` pads the last byte with ``fill``
    bits (0 or 1) and returns the bytes written."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
            self.acc &= (1 << self.nbits) - 1

    def unary(self, q: int) -> None:
        """``q`` 0 bits then a 1 bit (the inverse of ``MsbReader.unary``)."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def flush(self, fill: int = 0) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write(((1 << pad) - 1) * fill, pad)
        return bytes(self.out)


class LsbWriter:
    """LSB-first bit writer; ``flush`` zero-pads the last byte and
    returns the bytes written."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, v: int, n: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, code: int, length: int) -> None:
        """A prefix code, MSB of the code first (what ``symbol`` reads)."""
        rev = 0
        for _ in range(length):
            rev = (rev << 1) | (code & 1)
            code >>= 1
        self.write(rev, length)

    def flush(self) -> bytes:
        if self.nbits:
            self.write(0, 8 - self.nbits)
        return bytes(self.out)


# --------------------------------------------------------- prefix codes

def canonical_codes(pairs) -> dict:
    """Canonical prefix code from (length, symbol) pairs already in code
    order (by length; JPEG keeps the DHT's symbol order within a
    length, DEFLATE-style formats sort by symbol). Returns the decode
    table ``symbol`` reads: {(1 << length) | code: symbol}, the leading
    1 bit keeping codes of different lengths apart."""
    table = {}
    code = 0
    prev_len = pairs[0][0] if pairs else 0
    for length, sym in pairs:
        code <<= length - prev_len
        if code >> length == 0:     # an oversubscribed code's overflow
            table[(1 << length) | code] = sym   # can never be read
        code += 1
        prev_len = length
    return table


def encoder_codes(table: dict) -> dict:
    """Invert a :func:`canonical_codes` table: {symbol: (code, length)}."""
    out = {}
    for key, sym in table.items():
        length = key.bit_length() - 1
        out[sym] = (key ^ (1 << length), length)
    return out


# ------------------------------------------------------------------ LZW
#
# GIF and TIFF LZW share one dictionary scheme: CLEAR = 2^min_code_size,
# END = CLEAR + 1, new strings from CLEAR + 2, codes widen up to 12
# bits. They differ in bit order and in "early change": a TIFF encoder
# widens one dictionary entry sooner than a GIF one (at 2^w instead of
# 2^w + 1, because the string about to be stored could be emitted at
# the new width) and clears at 4095 instead of 4096. The decoder's
# table lags the encoder's by one entry, so it widens when its own
# size + early reaches 2^w. These are the libtiff / Java-ImageIO
# interoperable thresholds (tests/fixtures/imageio_lzw*.tif).

_SINGLES = [bytes([i]) for i in range(256)]


def lzw_encode(data: bytes, min_code_size: int, msb: bool,
               early: int) -> bytes:
    """LZW-compress ``data`` (every byte < 2^min_code_size)."""
    clear = 1 << min_code_size
    w = MsbWriter() if msb else LsbWriter()
    write = w.write
    width = min_code_size + 1
    table = {}          # (code of a string << 8) | next byte -> its code
    nxt = clear + 2
    write(clear, width)
    if data:
        cur = data[0]   # code of the string matched so far
        for b in data[1:]:
            key = cur << 8 | b
            code = table.get(key)
            if code is not None:
                cur = code
                continue
            write(cur, width)
            table[key] = nxt
            nxt += 1
            if nxt == (1 << width) + 1 - early and width < 12:
                width += 1
            elif nxt == 4096 - early:       # dictionary full: reset
                write(clear, width)
                table = {}
                nxt = clear + 2
                width = min_code_size + 1
            cur = b
        write(cur, width)
        # an early-change decoder adds one more entry after this last
        # code and may widen before it reads END: write END at that
        # width (libtiff's post-encode step)
        if early and nxt + 1 == 1 << width and width < 12:
            width += 1
    write(clear + 1, width)
    return w.flush()


def lzw_decode(data: bytes, min_code_size: int, msb: bool, early: int,
               bad_first: str = "lzw: bad first code {}",
               bad_code: str = "lzw: bad code {}") -> bytes:
    """Inverse of :func:`lzw_encode`. A stream that ends before its END
    code decodes to what it holds (truncation is tolerated); a code
    the dictionary cannot hold raises ``ValueError`` with ``bad_first``
    (right after a CLEAR) or ``bad_code``, each formatted with the
    code."""
    if min_code_size > 8:
        raise ValueError(f"lzw: minimum code size {min_code_size} > 8")
    clear = 1 << min_code_size
    end = clear + 1
    fresh = _SINGLES[:clear] + [b"", b""]
    table = list(fresh)
    width = min_code_size + 1
    out = bytearray()
    prev = None
    # the bit reading is MsbReader/LsbReader.read inlined: this loop
    # runs once per code and a method call per code costs ~15%
    acc = nbits = pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)           # no END code: truncated
            if msb:
                acc = (acc << 8) | data[pos]
            else:
                acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        nbits -= width
        if msb:
            code = acc >> nbits
            acc &= (1 << nbits) - 1
        else:
            code = acc & ((1 << width) - 1)
            acc >>= width
        if code == clear:
            table = list(fresh)
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if code < len(table):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]         # the KwKwK case
        else:
            raise ValueError((bad_code if prev is not None
                              else bad_first).format(code))
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) + early == 1 << width and width < 12:
                width += 1
        prev = entry
    return bytes(out)
