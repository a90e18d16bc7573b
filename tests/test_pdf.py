"""From-scratch PDF text extraction (operators/pdf.py): byte-exact
page roundtrips across every writer profile, the full string-escape
grammar, incremental-update xref chains, damaged-xref recovery, and
the typed-error seam (encryption, xref streams, Type0 fonts, unknown
filters) surfaced per row by the feature operator."""

from __future__ import annotations

import re
import zlib

import pytest

from flink_precisely_demo_spark.operators.codec import UnsupportedCodecError
from flink_precisely_demo_spark.operators.pdf import (
    encode_pdf,
    pdf_text_pages,
)

PAGES = ["hello world line one\nsecond (line) with \\ backslash",
         "page two: parens )( nested (deep (er)) and\ntail",
         "",
         "  leading and trailing spaces  \nmid  double"]


@pytest.mark.parametrize("kw", [
    dict(),
    dict(flate=False),
    dict(tj_words=True),
    dict(hex_strings=True),
    dict(split_contents=True),
    dict(flate=False, tj_words=True, split_contents=True),
])
def test_roundtrip_profiles(kw):
    assert pdf_text_pages(encode_pdf(PAGES, **kw)) == PAGES


def test_string_escape_grammar():
    """Literal-string escapes decoded per ISO 32000: named escapes,
    octal, line continuation, dropped unknown escapes, balanced
    nested parens."""
    raw = (b"%PDF-1.4\n"
           b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
           b"2 0 obj\n<< /Type /Pages /Count 1 /Kids [3 0 R] >>\nendobj\n"
           b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\n"
           b"endobj\n"
           b"4 0 obj\n<< /Length 60 >>\nstream\n"
           b"BT (a\\tb\\nc\\055d\\\ne(f)g\\qh) Tj ET"
           + b" " * 60 + b"\nendstream\nendobj\n"
           b"trailer\n<< /Root 1 0 R >>\n")
    # fix /Length to the real stream body length
    body = b"BT (a\\tb\\nc\\055d\\\ne(f)g\\qh) Tj ET"
    raw = raw.replace(b"/Length 60", b"/Length %d" % len(body))
    raw = raw.replace(body + b" " * 60, body)
    (page,) = pdf_text_pages(raw)
    # \t tab, \n newline, \055 = '-', \<newline> continuation joins,
    # (f) nested parens kept, \q -> q (backslash dropped)
    assert page == "a\tb\nc-de(f)gqh"


def test_incremental_update_prev_chain():
    """An appended incremental update (new xref with /Prev) must win
    for the objects it redefines while older objects resolve through
    the chain."""
    base = encode_pdf(["original text"])
    # append a replacement content stream (object 4 is the content
    # stream in encode_pdf's layout: 1=cat 2=pages 3=font 4=content)
    new_stream = b"BT /F1 11 Tf 72 760 Td (updated text) Tj ET"
    add = bytearray()
    off = len(base)
    add += b"4 0 obj\n<< /Length %d >>\nstream\n" % len(new_stream)
    add += new_stream + b"\nendstream\nendobj\n"
    xref_at = off + len(add)
    prev = int(re.search(rb"startxref\s+(\d+)", base).group(1))
    add += (b"xref\n4 1\n%010d 00000 n \ntrailer\n"
            b"<< /Size 7 /Root 1 0 R /Prev %d >>\n"
            b"startxref\n%d\n%%%%EOF\n" % (off, prev, xref_at))
    assert pdf_text_pages(bytes(base + add)) == ["updated text"]


def test_damaged_xref_falls_back_to_scan():
    d = encode_pdf(["recoverable"])
    dmg = re.sub(rb"startxref\n\d+", b"startxref\n999999999", d)
    assert pdf_text_pages(dmg) == ["recoverable"]


def test_typed_errors():
    d = encode_pdf(["x"])
    with pytest.raises(UnsupportedCodecError, match="encrypted"):
        pdf_text_pages(d.replace(b"/Root 1 0 R",
                                 b"/Root 1 0 R /Encrypt 9 0 R"))
    pos = d.find(b"1 0 obj")
    with pytest.raises(UnsupportedCodecError, match="cross-reference"):
        pdf_text_pages(re.sub(rb"startxref\n\d+",
                              b"startxref\n%d" % pos, d))
    with pytest.raises(UnsupportedCodecError, match="Type0"):
        pdf_text_pages(d.replace(b"/Subtype /Type1", b"/Subtype /Type0"))
    with pytest.raises(UnsupportedCodecError, match="filter"):
        pdf_text_pages(d.replace(b"/Filter /FlateDecode",
                                 b"/Filter /LZWDecode"))
    with pytest.raises(ValueError):
        pdf_text_pages(b"not a pdf at all")


def test_feature_operator_error_rows(spark):
    """Decode failures are rows, not aborts: a good payload, an
    encrypted one, and garbage in one frame — two typed/one malformed
    error rows alongside the good pages."""
    from flink_precisely_demo_spark.operators.multimodal import (
        pdf_text_features)

    good = encode_pdf(["fine page one", "fine page two"])
    enc = encode_pdf(["secret"]).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    rows = [(1, good), (2, enc), (3, b"%PDF-1.4 garbage" + b"\x00" * 30)]
    media = spark.createDataFrame(
        [(i, {"media_type": "document", "format": "pdf",
              "width": None, "height": None, "n_channels": None,
              "sample_rate": None, "duration_ms": None}, p)
         for i, p in rows],
        "media_id long, meta struct<media_type:string,format:string,"
        "width:int,height:int,n_channels:int,sample_rate:int,"
        "duration_ms:bigint>, payload binary")
    out = {(int(r["media_id"]),
            None if r["page"] is None else int(r["page"]),
            r["text"], r["error"] is None)
           for r in pdf_text_features(media).collect()}
    assert (1, 0, "fine page one", True) in out
    assert (1, 1, "fine page two", True) in out
    assert any(m == 2 and not ok for m, _, _, ok in out)
    assert any(m == 3 and not ok for m, _, _, ok in out)
