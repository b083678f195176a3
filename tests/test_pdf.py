"""PDF kernel contracts (pdf.go semantics; self-generated classic-xref
fixtures per FIXTURES.md §3 / SURVEY.md §2.3)."""

import re

import pytest

from marky_spark import fixtures as fx
from marky_spark.kernels.base import ConvertError, segments_text
from marky_spark.kernels.pdfk import convert_pdf, extract_pdf_text


def test_single_page_flate():
    data = fx.pdf_bytes([[(72, 720, "Hello World")]], compress=True)
    assert extract_pdf_text(data) == "Hello World"


def test_reading_order_y_then_x():
    # content stream emits blocks OUT of reading order; y-desc then x-asc
    data = fx.pdf_bytes([[
        (300, 700, "world"),
        (72, 650, "below"),
        (72, 700, "hello "),
    ]])
    assert extract_pdf_text(data) == "hello world\nbelow"


def test_multi_page_joined_blank_line():
    data = fx.pdf_bytes([
        [(72, 720, "page one")],
        [(72, 720, "page two")],
    ])
    assert extract_pdf_text(data) == "page one\n\npage two"


def test_tj_array_kerning_becomes_space():
    data = fx.pdf_bytes([[(72, 720, "alpha beta gamma")]], use_tj_array=True)
    assert extract_pdf_text(data) == "alpha beta gamma"


def test_uncompressed_and_escapes():
    data = fx.pdf_bytes([[(72, 720, "par(en) and \\ slash")]], compress=False)
    assert extract_pdf_text(data) == "par(en) and \\ slash"


def test_winansi_accents():
    data = fx.pdf_bytes([[(72, 720, "café naïve")]])
    assert extract_pdf_text(data) == "café naïve"


def test_brute_scan_fallback_on_bad_startxref():
    data = fx.pdf_bytes([[(72, 720, "resilient")]])
    # corrupt the startxref offset → xref parse fails → object scan
    import re

    broken = re.sub(rb"startxref\s+\d+", b"startxref\n999999999", data)
    assert extract_pdf_text(broken) == "resilient"


def test_not_pdf_errors():
    with pytest.raises(ConvertError, match="not a PDF"):
        convert_pdf(fx.b64(b"plain text"))


def test_empty_bytes_errors():
    with pytest.raises(ConvertError):
        convert_pdf(fx.b64(b""))


def test_segments_shape():
    data = fx.pdf_bytes([[(72, 720, "x")]])
    segs = convert_pdf(fx.b64(data))
    assert segs == [("markdown", "x", "")]


def test_tj_nested_array_text_survives():
    """parse_object parity: a nested array inside TJ keeps the outer items
    (the nested list itself is ignored, its siblings are emitted)."""
    from marky_spark.kernels.pdfk import _extract_page_runs

    runs = _extract_page_runs(b"BT 1 2 Td [(a) [(x)] (b)] TJ ET")
    assert runs == [(1.0, 2.0, "ab")]


# ---------------------------------------------------------------------------
# ToUnicode CMaps + /Encoding tables (PDF 32000-1 §9.6.6, §9.10.3)
# ---------------------------------------------------------------------------

def _stream_obj(body: bytes) -> bytes:
    return (f"<< /Length {len(body)} >>".encode()
            + b"\nstream\n" + body + b"\nendstream")


def _one_page_pdf(content: bytes, font_obj: bytes,
                  extra: dict[int, bytes] | None = None,
                  resources_on_pages: bool = False) -> bytes:
    from marky_spark.fixtures import pdf_assemble

    res = b"/Resources << /Font << /F1 5 0 R >> >> "
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            + (res if resources_on_pages else b"") + b">>"),
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R "
            + (b"" if resources_on_pages else res) + b">>"),
        4: _stream_obj(content),
        5: font_obj,
    }
    objects.update(extra or {})
    return pdf_assemble(objects)


_CMAP = b"""/CIDInit /ProcSet findresource begin
12 dict begin
begincmap
1 begincodespacerange
<0000> <FFFF>
endcodespacerange
4 beginbfchar
<0001> <0048>
<0002> <0065>
<0003> <006F>
<0004> <00660069>
endbfchar
2 beginbfrange
<0010> <0011> <006C>
<0020> <0021> [<0057> <0058>]
endbfrange
endcmap
CMap currentdict /CMap defineresource pop
end end"""


def test_type0_tounicode_cmap_decodes():
    """A subset-style Type0 font: 2-byte codes resolve through the
    ToUnicode CMap (bfchar singles, incrementing bfrange, array bfrange,
    multi-unit ligature expansion) — the shape every subset-embedded
    real-world PDF uses."""
    font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Subset "
            b"/Encoding /Identity-H /ToUnicode 6 0 R >>")
    # codes: H e l l o,  space via Td move, fi ligature, W X
    content = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm "
               b"<00010002001000100003> Tj "
               b"1 0 0 1 72 680 Tm <0004> Tj "
               b"1 0 0 1 72 660 Tm <00200021> Tj ET")
    blob = _one_page_pdf(content, font, extra={6: _stream_obj(_CMAP)})
    # <0004> expands to TWO UTF-16 units <0066><0069> — 'f','i' (the
    # ligature-to-text expansion shape ToUnicode exists for)
    assert extract_pdf_text(blob) == "Hello\nfi\nWX"


def test_differences_encoding_overrides_base():
    """/Encoding dict: /BaseEncoding /WinAnsiEncoding with /Differences
    remapping codes to AGL glyph names (named, uniXXXX, composed)."""
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /Custom "
            b"/Encoding << /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ 65 /bullet 97 /eacute 98 /uni2020 "
            b"99 /Scaron ] >> >>")
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (A abc dB) Tj ET"
    blob = _one_page_pdf(content, font)
    # A->bullet, a->eacute, b->dagger, c->Scaron; d/B/space from WinAnsi
    assert extract_pdf_text(blob) == "• \xe9†Š dB"


def test_macroman_and_standard_encodings():
    """Named base encodings: MacRoman high bytes and StandardEncoding's
    typographic-quote quirk (0x27/0x60 are curly) decode per Annex D."""
    mac = (b"<< /Type /Font /Subtype /Type1 /BaseFont /H "
           b"/Encoding /MacRomanEncoding >>")
    # MacRoman: 0xA5 bullet, 0x8E e-acute
    blob = _one_page_pdf(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (\xa5 \x8e) Tj ET", mac)
    assert extract_pdf_text(blob) == "• \xe9"
    std = (b"<< /Type /Font /Subtype /Type1 /BaseFont /H "
           b"/Encoding /StandardEncoding >>")
    blob = _one_page_pdf(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (\x27x\x60 \xb1\xd0) Tj ET", std)
    assert extract_pdf_text(blob) == "’x‘ –—"


def test_resources_inherited_from_pages_node():
    """/Resources on the /Pages ancestor applies to kid pages
    (PDF 32000-1 §7.7.3.4 inheritable attributes)."""
    font = (b"<< /Type /Font /Subtype /Type1 /BaseFont /H "
            b"/Encoding /MacRomanEncoding >>")
    blob = _one_page_pdf(
        b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (\xa5) Tj ET", font,
        resources_on_pages=True)
    assert extract_pdf_text(blob) == "•"


def test_fonts_switch_mid_page():
    """Tf switches the active decoder; text state persists across BT/ET."""
    from marky_spark.fixtures import pdf_assemble

    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Contents 4 0 R /Resources << /Font "
            b"<< /F1 5 0 R /F2 6 0 R >> >> >>"),
        4: _stream_obj(
            b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (\xa5) Tj "
            b"/F2 12 Tf (\xa5) Tj ET"),
        5: (b"<< /Type /Font /Subtype /Type1 /BaseFont /H "
            b"/Encoding /MacRomanEncoding >>"),
        6: (b"<< /Type /Font /Subtype /Type1 /BaseFont /H "
            b"/Encoding /WinAnsiEncoding >>"),
    }
    # same byte, two fonts: MacRoman bullet then WinAnsi yen
    assert extract_pdf_text(pdf_assemble(objects)) == "•\xa5"


def test_hostile_cmaps_stay_bounded():
    """A bfrange demanding 2^24 mappings is capped (no hang, no OOM);
    garbage CMap bytes degrade to the fallback decode, never crash."""
    bomb = (b"begincmap 1 beginbfrange <000000> <FFFFFF> <0041> "
            b"endbfrange endcmap")
    font = (b"<< /Type /Font /Subtype /Type0 /BaseFont /B "
            b"/ToUnicode 6 0 R >>")
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm <00000001> Tj ET"
    blob = _one_page_pdf(content, font, extra={6: _stream_obj(bomb)})
    out = extract_pdf_text(blob)  # must return, bounded
    assert len(out) <= 8
    garbage = b"\x00\xffnot a cmap at all <zz> beginbfchar <1"
    blob = _one_page_pdf(content, font, extra={6: _stream_obj(garbage)})
    extract_pdf_text(blob)  # no crash is the assertion


# the section regex _parse_tounicode used before its linear scan: lazy, it
# scans to the end of the stream from every unclosed begin
_SECTION_RE = re.compile(
    rb"begin(bfchar|bfrange|codespacerange)(.*?)end\1", re.DOTALL)
_CHAR = b" <41> <0042> "
_RANGE = b" <50> <52> <0061> "
_SPACE = b" <00> <ff> "

_CMAP_SECTIONS = {
    "closed": _CMAP,
    "unclosed_char": b"beginbfchar" + _CHAR * 3,
    "unclosed_then_closed": (b"beginbfchar" + _CHAR + b"beginbfrange"
                             + _RANGE + b"endbfrange"),
    "closed_then_unclosed": (b"beginbfchar" + _CHAR + b"endbfchar "
                             b"beginbfrange" + _RANGE),
    "unclosed_runs": (b"beginbfchar <41> <42> " * 20
                      + b"begincodespacerange" + _SPACE
                      + b"endcodespacerange"),
    "nested_same_kind": (b"beginbfchar <41> <42> beginbfchar <43> <44> "
                         b"endbfchar <45> <46> endbfchar"),
    "interleaved": (b"beginbfchar" + _CHAR + b"beginbfrange" + _RANGE
                    + b"endbfchar" + _RANGE + b"endbfrange"),
    "end_before_begin": (b"endbfchar beginbfchar" + _CHAR + b"endbfchar"
                         + b"endbfrange"),
    "mixed_unclosed": (b"beginbfrange" + _RANGE + b"begincodespacerange"
                       + _SPACE + b"beginbfchar" + _CHAR + b"endbfchar"
                       + b"begincodespacerange" + _SPACE),
    "glued": b"beginbfcharendbfcharbeginbfchar<41><42>endbfchar",
    "begin_in_a_word": b"xbeginbfchar" + _CHAR + b"endbfcharx",
    "empty": b"",
}


@pytest.mark.parametrize("name", sorted(_CMAP_SECTIONS))
def test_cmap_sections_match_the_regex(name, monkeypatch):
    """The linear section scan gives the same (cmap, nbytes) as the
    lazy regex it replaced, over closed, unclosed, mixed and interleaved
    sections."""
    from marky_spark.kernels import pdfk

    data = _CMAP_SECTIONS[name]
    got = pdfk._parse_tounicode(data)
    monkeypatch.setattr(pdfk, "_cmap_sections", lambda d: (
        m.groups() for m in _SECTION_RE.finditer(d)))
    assert got == pdfk._parse_tounicode(data)


# ---------------------------------------------------------------------------
# stream filters: LZWDecode (ISO 32000-1 §7.4.4), filter chains, /DecodeParms
# and the per-document decoded-bytes budget
# ---------------------------------------------------------------------------

_LINES = [(72, 760 - 14 * i, f"line {i}: the quick brown fox")
          for i in range(12)]


def _content_pdf(filters: str, body: bytes, parms: str = "") -> bytes:
    """The fixture PDF of ``_LINES`` with its page content replaced by
    ``body`` under ``/Filter filters``."""
    from marky_spark.fixtures import pdf_assemble

    objects = fx.pdf_objects([_LINES], compress=False)
    objects[4] = (f"<< /Length {len(body)} /Filter {filters} {parms}>>"
                  .encode() + b"\nstream\n" + body + b"\nendstream")
    return pdf_assemble(objects)


def _content() -> bytes:
    raw = fx.pdf_objects([_LINES], compress=False)[4]
    return raw[raw.index(b"stream\n") + 7:raw.rindex(b"\nendstream")]


def test_lzw_content_stream_matches_flate_twin():
    """Content packed by hand (tests/test_bitio.lzw_literals, > 254 codes,
    so it crosses 9→10 bits) converts like the FlateDecode fixture, with
    /EarlyChange from a /DecodeParms dict or array."""
    import zlib

    from tests.test_bitio import lzw_literals

    body = _content()
    assert len(body) > 300
    flate_md = convert_pdf(_b64(fx.pdf_bytes([_LINES], compress=True)))
    for blob in (
            _content_pdf("/LZWDecode", lzw_literals(body)),
            _content_pdf("/LZWDecode", lzw_literals(body, 0),
                         "/DecodeParms << /EarlyChange 0 >> "),
            _content_pdf("[/LZWDecode]", lzw_literals(body, 0),
                         "/DecodeParms [<< /EarlyChange 0 >>] "),
            # chain, applied in order: LZW first, then Flate
            _content_pdf("[/LZWDecode /FlateDecode]",
                         lzw_literals(zlib.compress(body)))):
        assert convert_pdf(_b64(blob)) == flate_md


def test_truncated_lzw_stream_is_a_typed_error():
    """An LZW stream that ends before its EOD code, between codes or
    inside one, fails as a truncated FlateDecode stream does."""
    from tests.test_bitio import lzw_literals

    packed = lzw_literals(_content())
    for cut in (packed[:len(packed) // 2], packed[:-1]):
        with pytest.raises(ConvertError, match="LZWDecode failed: incomplete"):
            convert_pdf(_b64(_content_pdf("/LZWDecode", cut)))


def test_predictor_is_a_typed_error():
    import zlib

    blob = _content_pdf("/FlateDecode", zlib.compress(_content()),
                        "/DecodeParms << /Predictor 12 /Columns 4 >> ")
    with pytest.raises(ConvertError, match="predictor 12"):
        convert_pdf(_b64(blob))


def test_stream_bombs_stay_within_the_document_budget(monkeypatch):
    """A content stream that decodes past the document's budget is one
    error row, for Flate and LZW alike."""
    import zlib

    from marky_spark.convert import convert_document
    from marky_spark.kernels import pdfk
    from tests.test_bitio import lzw_literals

    monkeypatch.setattr(pdfk, "_MAX_DECODED_BYTES", 4096)
    pad = b" " * 5000
    for blob in (_content_pdf("/FlateDecode", zlib.compress(pad + _content())),
                 _content_pdf("/LZWDecode", lzw_literals(pad))):
        row = convert_document("bomb", [{"kind": "pdf", "text": _b64(blob),
                                         "media_ref": "", "offset": 0}])
        assert row["status"] == "error"
        assert "budget" in row["error"]
    # the budget is per document: a stream under it still converts
    assert convert_pdf(_b64(_content_pdf("/LZWDecode",
                                         lzw_literals(_content()))))


def test_shared_tounicode_is_charged_once(monkeypatch):
    """A Flate ToUnicode CMap shared by every page decodes once per page
    but holds the budget once: a budget that fits each stream a single
    time still converts every page through the CMap."""
    import re
    import zlib

    from marky_spark.fixtures import pdf_assemble
    from marky_spark.kernels import pdfk

    pages = [[(72, 700, f"page {i} \u00e9t\u00e9 caf\u00e9")]
             for i in range(6)]
    objects = fx.pdf_objects(pages, compress=True, encoding="cmap")
    cmap_num = max(objects)
    cmap = re.search(rb"stream\n(.*)\nendstream", objects[cmap_num],
                     re.S).group(1)
    packed = zlib.compress(cmap)
    objects[cmap_num] = (f"<< /Length {len(packed)} /Filter /FlateDecode >>"
                         .encode() + b"\nstream\n" + packed + b"\nendstream")
    contents = sum(len(zlib.decompress(re.search(
        rb"stream\n(.*)\nendstream", objects[4 + 2 * i], re.S).group(1)))
        for i in range(len(pages)))
    monkeypatch.setattr(pdfk, "_MAX_DECODED_BYTES", len(cmap) + contents)
    assert extract_pdf_text(pdf_assemble(objects)) == "\n\n".join(
        p[0][2] for p in pages)
    monkeypatch.setattr(pdfk, "_MAX_DECODED_BYTES", len(cmap) + contents - 1)
    with pytest.raises(ConvertError, match="budget"):
        extract_pdf_text(pdf_assemble(objects))


def _b64(blob: bytes) -> str:
    import base64

    return base64.b64encode(blob).decode()


# ---------------------------------------------------------------------------
# content tokenizer edge cases: results captured from the tokenizer this one
# replaced (a _Lexer per literal string, per-byte font decoding), pinned
# ---------------------------------------------------------------------------

_TOKENIZER_CASES = [
    ('escapes', b'BT 1 2 Td (a\\(b\\)c\\\\d\\n\\t\\r\\b\\f) Tj ET',
     [(1.0, 2.0, 'a(b)c\\d\n\t\r\x08\x0c')]),
    ('octal', b'BT (\\101\\1012\\7\\0053\\777) Tj ET',
     [(0.0, 0.0, 'AA2\x07\x053ÿ')]),
    ('line continuation', b'BT (ab\\\ncd\\\r\nef\\\rgh) Tj ET',
     [(0.0, 0.0, 'abcdefgh')]),
    ('unknown escape', b'BT (\\q\\8) Tj ET',
     [(0.0, 0.0, 'q8')]),
    ('nested parens', b'BT ((a(b)c)d) Tj ET',
     [(0.0, 0.0, '(a(b)c)d')]),
    ('hex whitespace', b'BT <48 65\n6C\t6C 6F> Tj ET',
     [(0.0, 0.0, 'Hello')]),
    ('hex odd length', b'BT <486> Tj ET',
     [(0.0, 0.0, 'H`')]),
    ('hex invalid', b'BT <4G> Tj ET',
     []),
    ('comments between operands', b'BT 1 % one\n2 %two\nTd (x) % s\nTj ET',
     [(1.0, 2.0, 'x')]),
    ('stray close paren', b'BT ) (a) ) Tj ET',
     [(0.0, 0.0, 'a')]),
    ('stray angle and brace', b'BT > { 3 4 } Td (a) > Tj ET',
     [(3.0, 4.0, 'a')]),
    ('string open at EOF', b'BT 1 2 Td (open (nested',
     []),
    ('string open at EOF, escape', b'BT (tail\\',
     []),
    ('nested arrays', b'BT 5 6 Td [(a) [(x) -200] (b) -300 (c)] TJ ET',
     [(5.0, 6.0, 'ab c')]),
    ('unbalanced open array', b'BT [(a) (b) Tj (c) Tj ET',
     [(0.0, 0.0, 'c')]),
    ('unbalanced close array', b'BT (a) ] ] Tj ET',
     [(0.0, 0.0, 'a')]),
    ('kerning', b'BT [(w) -100 (x) -101 (y) -100.5 (z)] TJ ET',
     [(0.0, 0.0, 'wx y z')]),
    ('numbers', b'BT 1. .5 Td (a) Tj +2 -3 Td (b) Tj 007 1.2.3 Td (c) Tj ET',
     [(1.0, 0.5, 'a'), (3.0, -2.5, 'b'), (4.2, -2.2, 'c')]),
    ('leading', b'BT 14 TL 0 700 Td (a) Tj T* (b) Tj (c) \' 1 2 (d) " 0 -20 TD (e) Tj T* (f) Tj ET',
     [(0.0, 700.0, 'a'), (0.0, 686.0, 'b'), (0.0, 672.0, 'c'), (0.0, 658.0, 'd'), (0.0, 638.0, 'e'), (0.0, 618.0, 'f')]),
    ('operator glued to number', b'BT 1 2Td (a)Tj 3 4Tm(b)Tj ET',
     [(1.0, 2.0, 'a'), (3.0, 4.0, 'b')]),
    ('string operands to Td', b'BT (1) (2) Td (a) Tj ET',
     [(1.0, 2.0, 'a')]),
    ('cp1252 undefined byte, no font', b'BT (\x93q\x94) Tj (\x81\x93) Tj ET',
     [(0.0, 0.0, '“q”'), (0.0, 0.0, '\x81\x93')]),
]


@pytest.mark.parametrize("content,runs", [c[1:] for c in _TOKENIZER_CASES],
                         ids=[c[0] for c in _TOKENIZER_CASES])
def test_content_tokenizer_edge_cases(content, runs):
    from marky_spark.kernels.pdfk import _extract_page_runs

    assert _extract_page_runs(content) == runs


_EDGE_CMAP = (b"/CIDInit /ProcSet findresource begin\n1 begincodespacerange\n"
              b"<00> <FF>\nendcodespacerange\n2 beginbfchar\n<41> <0058>\n"
              b"<81> <00E9>\nendbfchar\nendcmap\n")

# the show string (AB\x81\x93) under 1-byte fonts: a table font decodes
# byte by byte (a CMap code first, then the /Encoding table, then cp1252,
# whose undefined 0x81 is U+FFFD in the WinAnsi table); a font with neither
# keeps the no-font fallback, which retries the WHOLE string as latin-1
_FONT_CASES = [
    ('partial ToUnicode over WinAnsi', b'<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding /ToUnicode 6 0 R >>',
     'XBé“'),
    ('partial ToUnicode, no encoding', b'<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R >>',
     'XBé“'),
    ('Differences over WinAnsi', b'<< /Type /Font /Subtype /Type1 /Encoding << /BaseEncoding /WinAnsiEncoding /Differences [ 65 /bullet 129 /Scaron ] >> >>',
     '•BŠ“'),
    ('WinAnsi table', b'<< /Type /Font /Subtype /Type1 /Encoding /WinAnsiEncoding >>',
     'AB�“'),
    ('font without CMap or encoding', b'<< /Type /Font /Subtype /Type1 >>',
     'AB\x81\x93'),
]


@pytest.mark.parametrize("font,text", [c[1:] for c in _FONT_CASES],
                         ids=[c[0] for c in _FONT_CASES])
def test_one_byte_font_decoding_edge_cases(font, text):
    content = b"BT /F1 12 Tf 1 0 0 1 72 700 Tm (AB\x81\x93) Tj ET"
    blob = _one_page_pdf(content, font, extra={6: _stream_obj(_EDGE_CMAP)})
    assert extract_pdf_text(blob) == text
