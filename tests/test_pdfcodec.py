"""PDF text extraction (pipeline/pdfcodec.py): object-parser spec
cases, hostile fixtures (lying xref, nested parens, escapes), filter
paths (our stored-zlib + real zlib DEFLATE, damaged streams), and
roundtrips through the deterministic fixture builder."""

from __future__ import annotations

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hive_clone_spark.pipeline.pdfcodec import (
    PdfDocument,
    PdfError,
    _Lexer,
    _parse_value,
    build_pdf,
    pdf_extract_pages,
    zlib_stored,
)


# ---------------------------------------------------------------------------
# object parser
# ---------------------------------------------------------------------------
def _parse(src: bytes):
    return _parse_value(_Lexer(src))


def test_parse_scalars():
    assert _parse(b"42") == 42
    assert _parse(b"-7") == -7
    assert _parse(b"3.14") == 3.14
    assert _parse(b".5") == 0.5
    assert _parse(b"true") is True
    assert _parse(b"false") is False
    assert _parse(b"null") is None
    assert _parse(b"/Name") == "Name"
    assert _parse(b"/With#20Hash") == "With Hash"  # #xx hex escape


def test_parse_literal_string_escapes():
    assert _parse(rb"(simple)") == b"simple"
    assert _parse(rb"(nested (parens (deep)) ok)") == b"nested (parens (deep)) ok"
    assert _parse(rb"(esc \( \) \\ \n \t \r)") == b"esc ( ) \\ \n \t \r"
    assert _parse(rb"(\101\102\103)") == b"ABC"  # octal
    assert _parse(rb"(\53)") == b"+"  # short octal
    assert _parse(b"(line\\\ncontinued)") == b"linecontinued"
    assert _parse(b"(raw\r\nnewline)") == b"raw\nnewline"  # EOL normalized


def test_parse_hex_string():
    assert _parse(b"<48656C6C6F>") == b"Hello"
    assert _parse(b"<48 65 6C\n6C 6F>") == b"Hello"  # whitespace legal
    assert _parse(b"<484>") == b"H@"  # odd count pads 0


def test_parse_collections():
    assert _parse(b"[1 2 /X (s) [3]]") == [1, 2, "X", b"s", [3]]
    d = _parse(b"<< /A 1 /B [2 3] /C << /D /E >> >>")
    assert d == {"A": 1, "B": [2, 3], "C": {"D": "E"}}


def test_parse_indirect_reference():
    ref = _parse(b"12 0 R")
    assert ref.num == 12 and ref.gen == 0
    # two ints NOT followed by R stay scalars
    assert _parse(b"12") == 12


def test_comments_skipped():
    assert _parse(b"% comment\n42") == 42


# ---------------------------------------------------------------------------
# document-level: xref, hostile offsets, filters
# ---------------------------------------------------------------------------
def test_roundtrip_plain():
    pages = [b"Hello, world!", b"Second (page) with \\ specials\nand newline"]
    assert pdf_extract_pages(build_pdf(pages)) == pages


def test_roundtrip_flate():
    pages = [b"compressed body " * 10]
    assert pdf_extract_pages(build_pdf(pages, compress=True)) == pages


def test_lying_xref_offsets_recovered_by_scan():
    pages = [b"offsets lie", b"but the scan recovers"]
    doc = build_pdf(pages, lie_xref=True)
    assert pdf_extract_pages(doc) == pages


def _flate_page(comp: bytes) -> bytes:
    """One-page document whose content stream is ``comp`` under
    /FlateDecode."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(comp)).encode()
        + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n"
    )


def test_stdlib_deflate_cross_check():
    """A stream compressed by real zlib (dynamic Huffman blocks, not
    the stored blocks ``build_pdf`` writes) decodes inside the PDF walk."""
    comp = zlib.compress(b"BT (Real deflate payload) Tj ET", 9)
    assert pdf_extract_pages(_flate_page(comp)) == [b"Real deflate payload"]


def test_damaged_flate_stream_raises():
    """Outside input must fail closed: a truncated or corrupted
    FlateDecode stream raises PdfError instead of yielding text."""
    comp = zlib.compress(b"BT (Real deflate payload) Tj ET " * 20, 9)
    with pytest.raises(PdfError, match="FlateDecode"):
        pdf_extract_pages(_flate_page(comp[: len(comp) // 2]))
    with pytest.raises(PdfError, match="FlateDecode"):
        pdf_extract_pages(_flate_page(comp[:-1]))
    bad = bytearray(comp)
    bad[-1] ^= 0xFF  # Adler-32 trailer no longer matches
    with pytest.raises(PdfError, match="FlateDecode"):
        pdf_extract_pages(_flate_page(bytes(bad)))


def test_zlib_stored_roundtrips_through_inflate():
    for payload in (b"", b"abc", b"y" * 70000):
        assert zlib.decompress(zlib_stored(payload)) == payload


def test_indirect_length_and_array_contents():
    """Contents as an ARRAY of streams, /Length held in a separate
    indirect object — both resolution paths in one fixture."""
    c1 = b"BT (part one) Tj ET"
    c2 = b"BT ( and two) Tj ET"
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents [ 4 0 R 5 0 R ] >>\nendobj\n"
        b"4 0 obj\n<< /Length 6 0 R >>\nstream\n" + c1 + b"\nendstream\nendobj\n"
        b"5 0 obj\n<< /Length " + str(len(c2)).encode() + b" >>\nstream\n"
        + c2 + b"\nendstream\nendobj\n"
        b"6 0 obj\n" + str(len(c1)).encode() + b"\nendobj\n"
        b"trailer\n<< /Size 7 /Root 1 0 R >>\n"
    )
    assert pdf_extract_pages(body) == [b"part one and two"]


def test_unsupported_filter_raises():
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length 4 /Filter /LZWDecode >>\nstream\nabcd\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n"
    )
    with pytest.raises(PdfError):
        pdf_extract_pages(body)


def test_no_root_raises():
    with pytest.raises(PdfError):
        pdf_extract_pages(b"%PDF-1.4\nnothing here")


# ---------------------------------------------------------------------------
# content-stream interpreter
# ---------------------------------------------------------------------------
def _page_for(content: bytes) -> bytes:
    body = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Length " + str(len(content)).encode() + b" >>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<< /Size 5 /Root 1 0 R >>\n"
    )
    (page,) = pdf_extract_pages(body)
    return page


def test_tj_array_kerning():
    # numbers <= -100 milliunits read as word gaps; small kerns do not
    assert _page_for(b"BT [ (Hel) -20 (lo) -250 (world) ] TJ ET") == b"Hello world"


def test_quote_operators_and_tstar():
    content = b"BT (one) Tj T* (two) Tj ET BT (three) ' (four) \" ET"
    assert _page_for(content) == b"one\ntwo\nthree\nfour"


def test_td_line_advance():
    content = b"BT 72 720 Td (first) Tj 0 -14 Td (second) Tj ET"
    assert _page_for(content) == b"first\nsecond"


def test_text_outside_bt_et_ignored():
    assert _page_for(b"(stray) Tj BT (kept) Tj ET") == b"kept"


def test_hex_string_shown():
    assert _page_for(b"BT <48454C4C4F> Tj ET") == b"HELLO"


# ---------------------------------------------------------------------------
# property: build -> extract is the identity for arbitrary page bytes
# ---------------------------------------------------------------------------
@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.binary(min_size=0, max_size=400), min_size=1, max_size=4),
    st.booleans(),
)
def test_roundtrip_property(pages, compress):
    pages = [p.replace(b"\x00", b".") for p in pages]
    assert pdf_extract_pages(build_pdf(pages, compress=compress)) == pages


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=500))
def test_roundtrip_unicode_text(s):
    page = s.replace("\x00", ".").encode("utf-8")
    assert pdf_extract_pages(build_pdf([page])) == [page]


def test_builder_is_deterministic():
    pages = [b"same input", b"same bytes"]
    assert build_pdf(pages, compress=True) == build_pdf(pages, compress=True)
