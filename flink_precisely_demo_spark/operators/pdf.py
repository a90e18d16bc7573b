"""PDF text extraction, from scratch (stdlib + zlib only): the
highest-frequency real-world crawl format with text payloads that
aren't markup. Covers the profile a trainer-data pipeline actually
meets in the wild:

- classic cross-reference TABLES with ``/Prev`` chaining
  (incremental updates), plus a full-file object scan as the
  damaged-xref fallback every robust parser carries;
- indirect objects, nested dictionaries/arrays, literal strings
  (all ISO 32000 escapes: \\n \\r \\t \\b \\f \\( \\) \\\\, octal
  ``\\ddd``, line continuations), hex strings, names, references;
- content streams, raw or ``/FlateDecode`` (zlib), ``/Contents``
  as a single stream or an array of streams;
- the text-showing operators ``Tj``, ``'``, ``\"`` and ``TJ``
  (array form, with the word-spacing heuristic: a kern adjustment
  <= -180/1000 text-space units reads as a word break — the
  standard extractor rule; per-glyph standard-font width tables are
  NOT needed for text recovery, only for exact layout, which is out
  of scope), and the line operators ``Td``/``TD``/``T*``/``Tm``
  inside ``BT``/``ET`` blocks;
- typed :class:`~.codec.UnsupportedCodecError` for the documented
  exotica seam: encrypted documents (``/Encrypt``), PDF 1.5+
  cross-reference STREAMS, CID-keyed (``/Type0``) fonts, and
  unsupported stream filters — per row data, never a job abort,
  exactly like the image/audio codecs.

The encoder (:func:`encode_pdf`) writes real spec-compliant files —
one text line per BT/ET block, optional Flate compression, TJ
word-kerning, hex strings, split content streams — so the decode
path is exercised end-to-end by the driver's oracle differential
(plans/multimodal_queries.py::multimodal_pdf_extract) with payloads
synthesized deterministically from table data.

No reference counterpart (extension scope, SURVEY.md §2.3).
"""

from __future__ import annotations

import re
import zlib

from .codec import UnsupportedCodecError, decoder

# TJ kern adjustment (thousandths of text-space units) at or below
# which extractors read a word break; -250 is the canonical space
# width the encoder writes.
WORD_KERN = -180


# --------------------------------------------------------------- encoder

def _esc_literal(s: str) -> bytes:
    out = []
    for ch in s.encode("latin-1"):
        if ch in (0x28, 0x29, 0x5C):            # ( ) \
            out.append(0x5C)
        out.append(ch)
    return bytes(out)


def _show_ops(line: str, tj_words: bool, hex_strings: bool) -> bytes:
    """The show operator(s) for one text line."""
    if hex_strings:
        return b"<" + line.encode("latin-1").hex().encode() + b"> Tj"
    if tj_words:
        words = line.split(" ")
        # TJ word-kerning is lossless only for single-space joins
        if " ".join(words) == line and len(words) > 1:
            parts = b" -250 ".join(
                b"(" + _esc_literal(w) + b")" for w in words)
            return b"[" + parts + b"] TJ"
    return b"(" + _esc_literal(line) + b") Tj"


def encode_pdf(pages: list[str], flate: bool = True,
               tj_words: bool = False, hex_strings: bool = False,
               split_contents: bool = False) -> bytes:
    """A real multi-page PDF whose page text round-trips through
    :func:`pdf_text_pages`: each page's lines become one BT/ET block
    apiece. ``flate`` compresses the content streams; ``tj_words``
    shows lines as TJ arrays with -250 word kerns; ``hex_strings``
    uses <...> string syntax; ``split_contents`` emits each page's
    content as TWO streams referenced from a /Contents array."""
    objs: dict[int, bytes] = {}
    page_ids = []
    next_id = 4                       # 1=catalog 2=pages 3=font
    for text in pages:
        blocks = []
        y = 760
        for line in text.split("\n"):
            blocks.append(b"BT /F1 11 Tf 72 " + str(y).encode()
                          + b" Td " + _show_ops(line, tj_words,
                                                hex_strings) + b" ET")
            y -= 14
        if split_contents and len(blocks) > 1:
            halves = [b"\n".join(blocks[:len(blocks) // 2]),
                      b"\n".join(blocks[len(blocks) // 2:])]
        else:
            halves = [b"\n".join(blocks)]
        cids = []
        for data in halves:
            filt = b""
            if flate:
                data = zlib.compress(data)
                filt = b" /Filter /FlateDecode"
            objs[next_id] = (b"<< /Length " + str(len(data)).encode()
                             + filt + b" >>\nstream\n" + data
                             + b"\nendstream")
            cids.append(next_id)
            next_id += 1
        contents = (b"[" + b" ".join(b"%d 0 R" % c for c in cids) + b"]"
                    if len(cids) > 1 else b"%d 0 R" % cids[0])
        objs[next_id] = (b"<< /Type /Page /Parent 2 0 R "
                         b"/MediaBox [0 0 612 792] "
                         b"/Resources << /Font << /F1 3 0 R >> >> "
                         b"/Contents " + contents + b" >>")
        page_ids.append(next_id)
        next_id += 1
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (b"<< /Type /Pages /Count " + str(len(pages)).encode()
               + b" /Kids [" + b" ".join(b"%d 0 R" % p
                                         for p in page_ids) + b"] >>")
    objs[3] = (b"<< /Type /Font /Subtype /Type1 "
               b"/BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for oid in sorted(objs):
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objs) + 1
    out += b"xref\n0 %d\n" % n
    out += b"0000000000 65535 f \n"
    for oid in range(1, n):
        out += b"%010d 00000 n \n" % offsets[oid]
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (n, xref_at))
    return bytes(out)


# --------------------------------------------------------------- parser

_WS = b"\x00\t\n\x0c\r "
_TOKEN_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+")
_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


class _Lexer:
    """Recursive-descent PDF object reader over the raw bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data, self.pos = data, pos

    def _skip_ws(self) -> None:
        d, i = self.data, self.pos
        while i < len(d):
            if d[i] in _WS:
                i += 1
            elif d[i] == 0x25:                   # % comment
                j = d.find(b"\n", i)
                i = len(d) if j < 0 else j + 1
            else:
                break
        self.pos = i

    def value(self):
        """One PDF object starting at pos (dict/array/name/number/
        string/hex/ref/bool/null)."""
        self._skip_ws()
        d, i = self.data, self.pos
        if d[i:i + 2] == b"<<":
            return self._dict()
        c = d[i:i + 1]
        if c == b"<":
            return self._hex_string()
        if c == b"(":
            return self._literal_string()
        if c == b"[":
            return self._array()
        if c == b"/":
            return self._name()
        m = _TOKEN_RE.match(d, i)
        if not m:
            raise ValueError(f"pdf parse error at byte {i}")
        tok = m.group()
        # reference lookahead: N G R
        if tok.isdigit():
            save = self.pos
            self.pos = m.end()
            self._skip_ws()
            m2 = _TOKEN_RE.match(d, self.pos)
            if m2 and m2.group().isdigit():
                p2 = m2.end()
                j = p2
                while j < len(d) and d[j] in _WS:
                    j += 1
                m3 = _TOKEN_RE.match(d, j)
                if m3 and m3.group() == b"R":
                    self.pos = m3.end()
                    return Ref(int(tok))
            self.pos = save
        self.pos = m.end()
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        try:
            return int(tok)
        except ValueError:
            return float(tok)

    def _name(self) -> str:
        d = self.data
        i = self.pos + 1
        m = _TOKEN_RE.match(d, i)
        end = m.end() if m else i
        raw = d[i:end]
        # #xx hex escapes in names
        raw = re.sub(rb"#([0-9A-Fa-f]{2})",
                     lambda g: bytes([int(g.group(1), 16)]), raw)
        self.pos = end
        return "/" + raw.decode("latin-1")

    def _dict(self) -> dict:
        self.pos += 2
        out = {}
        while True:
            self._skip_ws()
            if self.data[self.pos:self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.value()
            out[key] = self.value()

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos:self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.value())

    def _hex_string(self) -> bytes:
        d = self.data
        end = d.index(b">", self.pos)
        hx = re.sub(rb"\s", b"", d[self.pos + 1:end])
        if len(hx) % 2:
            hx += b"0"
        self.pos = end + 1
        return bytes.fromhex(hx.decode("ascii"))

    def _literal_string(self) -> bytes:
        d = self.data
        i = self.pos + 1
        depth, out = 1, bytearray()
        while depth:
            ch = d[i]
            if ch == 0x5C:                        # backslash
                nxt = d[i + 1]
                i += 2
                if nxt in b"nrtbf":
                    out += {0x6E: b"\n", 0x72: b"\r", 0x74: b"\t",
                            0x62: b"\b", 0x66: b"\f"}[nxt]
                elif nxt in b"()\\":
                    out.append(nxt)
                elif 0x30 <= nxt <= 0x37:         # octal \d{1,3}
                    oct_s = bytes([nxt])
                    while (len(oct_s) < 3 and i < len(d)
                           and 0x30 <= d[i] <= 0x37):
                        oct_s += d[i:i + 1]
                        i += 1
                    out.append(int(oct_s, 8) & 0xFF)
                elif nxt in b"\r\n":              # line continuation
                    if nxt == 0x0D and d[i:i + 1] == b"\n":
                        i += 1
                # unknown escape: backslash dropped (per spec)
                else:
                    out.append(nxt)
            elif ch == 0x28:
                depth += 1
                out.append(ch)
                i += 1
            elif ch == 0x29:
                depth -= 1
                if depth:
                    out.append(ch)
                i += 1
            else:
                out.append(ch)
                i += 1
        self.pos = i
        return bytes(out)


class _Pdf:
    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            raise ValueError("not a PDF payload")
        self.data = data
        self._cache: dict[int, object] = {}
        self._offsets, self.trailer = self._read_xref()

    # -- xref / trailer ------------------------------------------------
    def _read_xref(self) -> tuple[dict, dict]:
        d = self.data
        tail = d[-256:]
        m = list(re.finditer(rb"startxref\s+(\d+)", tail))
        if not m:
            return self._scan_all(), self._scan_trailer()
        offsets: dict[int, int] = {}
        trailer: dict = {}
        at = int(m[-1].group(1))
        seen = set()
        while at not in seen:
            seen.add(at)
            lx = _Lexer(d, at)
            lx._skip_ws()
            if d[lx.pos:lx.pos + 4] != b"xref":
                # an indirect object here means a PDF 1.5+ xref STREAM
                if _OBJ_RE.match(d, lx.pos):
                    raise UnsupportedCodecError(
                        "cross-reference stream (PDF 1.5+) unsupported")
                offsets = self._scan_all()
                break
            lx.pos += 4
            while True:
                lx._skip_ws()
                if d[lx.pos:lx.pos + 7] == b"trailer":
                    lx.pos += 7
                    t = lx.value()
                    for k, v in t.items():
                        trailer.setdefault(k, v)
                    break
                start = lx.value()
                count = lx.value()
                lx._skip_ws()
                for k in range(count):
                    row = d[lx.pos:lx.pos + 20]
                    if row[17:18] == b"n":
                        offsets.setdefault(start + k, int(row[:10]))
                    lx.pos += 20
            nxt = trailer.get("/Prev")
            if nxt is None:
                break
            at = int(nxt)
        if "/Encrypt" in trailer:
            raise UnsupportedCodecError("encrypted PDF unsupported")
        return offsets, trailer

    def _scan_all(self) -> dict[int, int]:
        """Damaged-xref fallback: rebuild the object map by scanning
        for `N G obj` — last definition wins (incremental updates
        append)."""
        out: dict[int, int] = {}
        for m in _OBJ_RE.finditer(self.data):
            out[int(m.group(1))] = m.start()
        return out

    def _scan_trailer(self) -> dict:
        m = list(re.finditer(rb"trailer", self.data))
        if not m:
            raise ValueError("pdf: no trailer")
        lx = _Lexer(self.data, m[-1].end())
        return lx.value()

    # -- objects --------------------------------------------------------
    def resolve(self, v):
        while isinstance(v, Ref):
            v = self.obj(v.num)
        return v

    def obj(self, num: int):
        if num in self._cache:
            return self._cache[num]
        off = self._offsets.get(num)
        if off is None:
            self._offsets = {**self._scan_all(), **self._offsets}
            off = self._offsets.get(num)
            if off is None:
                raise ValueError(f"pdf: missing object {num}")
        lx = _Lexer(self.data, off)
        m = _OBJ_RE.match(self.data, off)
        if not m or int(m.group(1)) != num:
            # stale xref offset: fall back to the scan map
            off = self._scan_all().get(num)
            if off is None:
                raise ValueError(f"pdf: missing object {num}")
            m = _OBJ_RE.match(self.data, off)
        lx.pos = m.end()
        val = lx.value()
        if isinstance(val, dict):
            lx._skip_ws()
            if self.data[lx.pos:lx.pos + 6] == b"stream":
                lx.pos += 6
                if self.data[lx.pos:lx.pos + 2] == b"\r\n":
                    lx.pos += 2
                elif self.data[lx.pos:lx.pos + 1] == b"\n":
                    lx.pos += 1
                length = self.resolve(val.get("/Length"))
                raw = self.data[lx.pos:lx.pos + int(length)]
                val = ("stream", val, raw)
        self._cache[num] = val
        return val

    def stream_bytes(self, num_or_ref) -> bytes:
        v = self.resolve(num_or_ref)
        if not (isinstance(v, tuple) and v[0] == "stream"):
            raise ValueError("pdf: expected a stream object")
        _, sdict, raw = v
        filt = self.resolve(sdict.get("/Filter"))
        if filt is None:
            return raw
        filts = filt if isinstance(filt, list) else [filt]
        for f in filts:
            f = self.resolve(f)
            if f == "/FlateDecode":
                raw = zlib.decompress(raw)
            else:
                raise UnsupportedCodecError(
                    f"pdf stream filter {f} unsupported")
        return raw


def _check_fonts(pdf: _Pdf, page: dict) -> None:
    res = pdf.resolve(page.get("/Resources")) or {}
    fonts = pdf.resolve(res.get("/Font")) or {}
    for f in fonts.values():
        fd = pdf.resolve(f)
        if isinstance(fd, dict) and fd.get("/Subtype") == "/Type0":
            raise UnsupportedCodecError(
                "CID-keyed (Type0) font unsupported")


def _walk_pages(pdf: _Pdf, node, out: list, depth: int = 0) -> None:
    if depth > 64:
        raise ValueError("pdf: page tree too deep / cyclic")
    node = pdf.resolve(node)
    if node.get("/Type") == "/Page":
        out.append(node)
        return
    for kid in pdf.resolve(node.get("/Kids")) or []:
        _walk_pages(pdf, kid, out, depth + 1)


_SHOW_NL_OPS = (b"Td", b"TD", b"T*", b"Tm")


def _page_text(pdf: _Pdf, page: dict) -> str:
    _check_fonts(pdf, page)
    contents = pdf.resolve(page.get("/Contents"))
    refs = contents if isinstance(contents, list) else [contents]
    data = b"\n".join(pdf.stream_bytes(r) for r in refs if r is not None)
    lx = _Lexer(data)
    blocks: list[str] = []
    frags: list[str] = []
    operands: list = []
    in_bt = False
    shown = False
    while True:
        lx._skip_ws()
        if lx.pos >= len(data):
            break
        c = data[lx.pos:lx.pos + 1]
        if c in b"(<[/" or c.isdigit() or c in b"+-.":
            operands.append(lx.value())
            continue
        m = _TOKEN_RE.match(data, lx.pos)
        if not m:
            lx.pos += 1
            continue
        op = m.group()
        lx.pos = m.end()
        if op == b"BT":
            in_bt, frags, shown = True, [], False
        elif op == b"ET":
            if in_bt:
                blocks.append("".join(frags))
            in_bt = False
        elif in_bt and op == b"Tj":
            if operands and isinstance(operands[-1], bytes):
                frags.append(operands[-1].decode("latin-1"))
                shown = True
        elif in_bt and op in (b"'", b'"'):
            s = operands[-1] if operands else b""
            if isinstance(s, bytes):
                if shown:
                    frags.append("\n")
                frags.append(s.decode("latin-1"))
                shown = True
        elif in_bt and op == b"TJ":
            arr = operands[-1] if operands else []
            if isinstance(arr, list):
                for el in arr:
                    if isinstance(el, bytes):
                        frags.append(el.decode("latin-1"))
                        shown = True
                    elif isinstance(el, (int, float)) and el <= WORD_KERN:
                        frags.append(" ")
        elif in_bt and op in _SHOW_NL_OPS:
            if shown:
                frags.append("\n")
                shown = False
        operands = []
    return "\n".join(blocks)


@decoder
def pdf_text_pages(payload: bytes) -> list[str]:
    """Per-page extracted text of a PDF payload. Raises
    UnsupportedCodecError for the documented exotica (encryption,
    xref streams, Type0 fonts, unknown filters) and ValueError for
    malformed bytes — both surfaced per row by the feature operator,
    never a job abort."""
    pdf = _Pdf(payload)
    root = pdf.resolve(pdf.trailer.get("/Root"))
    if root is None:
        # scan-fallback trailers may lack /Root; find the catalog
        for num in sorted(pdf._scan_all()):
            v = pdf.obj(num)
            if isinstance(v, dict) and v.get("/Type") == "/Catalog":
                root = v
                break
    if not isinstance(root, dict):
        raise ValueError("pdf: no document catalog")
    pages: list[dict] = []
    _walk_pages(pdf, root.get("/Pages"), pages)
    return [_page_text(pdf, p) for p in pages]
