"""DOCX kernel contracts (docx.go semantics; synthetic minimal OOXML zips
per FIXTURES.md §3)."""

import pytest

from marky_spark import fixtures as fx
from marky_spark.kernels.base import ConvertError, segments_text
from marky_spark.kernels.docxk import convert_docx


def md_of(body, **kw):
    return segments_text(convert_docx(fx.b64(fx.docx_zip(body, **kw))))


def test_plain_paragraphs():
    body = fx.docx_paragraph("Hello") + fx.docx_paragraph("World")
    assert md_of(body) == "Hello\nWorld\n"


def test_run_styling_nesting_order():
    # docx.go:559-604 — strike > bold > italic nesting
    body = (
        fx.docx_paragraph("b", bold=True)
        + fx.docx_paragraph("i", italic=True)
        + fx.docx_paragraph("s", strike=True)
        + fx.docx_paragraph("all", bold=True, italic=True, strike=True)
    )
    assert md_of(body) == "**b**\n*i*\n~~s~~\n~~***all***~~\n"


def test_run_escape_set():
    # escape set *~\ (docx.go:599, escape :167-174)
    body = fx.docx_paragraph("a*b~c\\d")
    assert md_of(body) == "a\\*b\\~c\\\\d\n"


def test_heading_styles():
    body = (
        fx.docx_paragraph("H2", style="Heading2")
        + fx.docx_paragraph("H4", style="4")
        + fx.docx_paragraph("plain", style="Normal")
    )
    assert md_of(body) == "## H2\n#### H4\nplain\n"


def test_code_style_wraps_paragraph():
    body = fx.docx_paragraph("x = 1", style="Code")
    assert md_of(body) == "`x = 1`\n"


def test_hyperlink():
    # docx.go:263-285 — [inner]([] escaped)((rels target, () escaped))
    body = fx.docx_hyperlink("Link [x]", "rId1")
    got = md_of(body, rels={"rId1": "https://ex.com/a(1)"})
    assert got == "[Link \\[x\\]](https://ex.com/a\\(1\\))\n"


def test_hyperlink_missing_rel():
    assert md_of(fx.docx_hyperlink("t", "rId9")) == "[t]()\n"


def test_ordered_list_counters():
    # per-(numId, indent) monotone counters (docx.go:438-447)
    body = (
        fx.docx_list_paragraph("First", ilvl=0)
        + fx.docx_list_paragraph("Second", ilvl=0)
        + fx.docx_list_paragraph("Bullet", ilvl=1)
        + fx.docx_list_paragraph("Third", ilvl=0)
    )
    got = md_of(body, numbering_xml=fx.NUMBERING_XML)
    assert got == (
        "  1. First\n"
        "  2. Second\n"
        "    * Bullet\n"
        "  3. Third\n"
    )


def test_numbering_without_numbering_xml():
    # unresolvable numId → no marker, indent 0 (findNumberingFormat defaults)
    got = md_of(fx.docx_list_paragraph("x"))
    assert got == "x\n"


def test_table_width_padded_with_empty_header():
    body = fx.docx_table_xml([["ab", "c"], ["d", "efgh"]])
    assert md_of(body) == (
        "|  |    |\n"
        "|--|----|\n"
        "|ab|c   |\n"
        "|d |efgh|\n"
        "\n"
    )


def test_table_cjk_width():
    body = fx.docx_table_xml([["中文", "x"], ["ab", "y"]])
    assert md_of(body) == (
        "|    | |\n"
        "|----|-|\n"
        "|中文|x|\n"
        "|ab  |y|\n"
        "\n"
    )


def test_image_extracted_as_data_uri_span():
    # docx.go:196-198 — base64 data URI; media_ref = zip member (O18)
    body = fx.docx_image("rId2")
    segs = convert_docx(
        fx.b64(
            fx.docx_zip(
                body,
                rels={"rId2": "media/image1.png"},
                media={"media/image1.png": b"PNGDATA"},
            )
        )
    )
    img = next(s for s in segs if s[0] == "image")
    assert img == (
        "image",
        "![](data:image/png;base64,UE5HREFUQQ==)",
        "word/media/image1.png",
    )
    assert segments_text(segs) == "![](data:image/png;base64,UE5HREFUQQ==)\n"


def test_textbox_fenced():
    # docx.go:243-250
    assert md_of(fx.docx_textbox("Boxed")) == "\n```\nBoxed\n```\n\n"


def test_invalid_zip_errors():
    with pytest.raises(ConvertError):
        convert_docx(fx.b64(b"not a zip"))


def test_not_base64_errors():
    with pytest.raises(ConvertError):
        convert_docx("!!! not base64 !!!")


def test_zip_without_document_errors():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("other.txt", "x")
    with pytest.raises(ConvertError, match="incorrect document"):
        convert_docx(fx.b64(buf.getvalue()))


def _cell(text):
    return f"<w:tc><w:p><w:r><w:t>{text}</w:t></w:r></w:p></w:tc>"


def test_tables_nested_8_deep_convert():
    """Each level of nesting triples the markdown; 8 levels of one word
    stay well inside the tables' budget."""
    body = "<w:tbl><w:tr><w:tc>" * 8 + fx.docx_paragraph("w") \
        + "</w:tc></w:tr></w:tbl>" * 8
    got = md_of(body)
    assert "w" in got and len(got) > 3 ** 8


@pytest.mark.parametrize("body", [
    # 2,002 padded rows of a 20,000-character column: about 40 M characters
    "<w:tbl><w:tr>" + _cell("y" * 20_000) + "</w:tr>"
    + ("<w:tr>" + _cell("a") + "</w:tr>") * 2_000 + "</w:tbl>",
    # one character tripled by each of 20 levels
    "<w:tbl><w:tr><w:tc>" * 20 + fx.docx_paragraph("w")
    + "</w:tc></w:tr></w:tbl>" * 20,
], ids=["padded_rows", "nested_20_deep"])
def test_tables_over_the_budget_are_an_error(body):
    """A table's markdown can be far larger than its XML: past
    ``_MAX_TABLE_CHARS`` the whole document is one typed error, not an
    empty cell of the table around it."""
    with pytest.raises(ConvertError, match="^tables longer than 33554432 "
                                           "characters$"):
        md_of(body)
