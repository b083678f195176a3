"""EPUB kernel contracts (epub.go semantics; FIXTURES.md §3)."""

import pytest

from marky_spark import fixtures as fx
from marky_spark.kernels.base import ConvertError, segments_text
from marky_spark.kernels.epubk import convert_epub


def test_metadata_header_and_chapters():
    book = fx.epub_zip(
        chapters=[
            ("ch1.xhtml", "<h1>Chapter One</h1><p>First text.</p>"),
            ("ch2.xhtml", "<p>Second text.</p>"),
        ],
        title="My Book",
        creators=["A", "B"],
        language="en",
        identifier="isbn-1",
        missing_spine_ref=True,  # ghost itemref silently skipped
    )
    got = segments_text(convert_epub(fx.b64(book)))
    assert got == (
        "**Title:** My Book\n"
        "**Authors:** A, B\n"
        "**Language:** en\n"
        "**Identifier:** isbn-1"
        "\n\n# Chapter One\n\nFirst text."
        "\n\nSecond text."
    )


def test_no_metadata_only_chapters():
    book = fx.epub_zip(chapters=[("c.xhtml", "<p>body</p>")])
    assert segments_text(convert_epub(fx.b64(book))) == "body"


def test_self_closed_element_in_a_chapter_is_empty():
    """A chapter is XHTML: ``<a id="c1"/>`` is an empty anchor, not an
    element that takes in the heading and paragraph after it."""
    book = fx.epub_zip(chapters=[
        ("c.xhtml", '<a id="c1"/><h1>T</h1><p>b <i/>c</p><ul><li>x<li/>y</ul>'),
    ])
    assert segments_text(convert_epub(fx.b64(book))) == "# T\n\nb c\n\n* x\n* "


def test_all_metadata_fields():
    book = fx.epub_zip(
        chapters=[],
        title="T", creators=["C"], language="it", publisher="P",
        date="2024", description="D", identifier="I",
    )
    assert segments_text(convert_epub(fx.b64(book))) == (
        "**Title:** T\n**Authors:** C\n**Language:** it\n"
        "**Publisher:** P\n**Date:** 2024\n**Description:** D\n"
        "**Identifier:** I"
    )


def test_missing_chapter_file_skipped():
    # manifest points at a file not in the zip → skipped (epub.go:146-149)
    import io
    import zipfile

    book = fx.epub_zip(chapters=[("c.xhtml", "<p>ok</p>")], title="T")
    src = zipfile.ZipFile(io.BytesIO(book))
    members = {n: src.read(n) for n in src.namelist()}
    members["OEBPS/content.opf"] = members["OEBPS/content.opf"].replace(
        b"</manifest>",
        b'<item id="gone" href="gone.xhtml" media-type="application/xhtml+xml"/></manifest>',
    ).replace(b"</spine>", b'<itemref idref="gone"/></spine>')
    got = segments_text(convert_epub(fx.b64(fx._make_zip(members))))
    assert got == "**Title:** T\n\nok"


def test_no_container_errors():
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("mimetype", "application/epub+zip")
    with pytest.raises(ConvertError, match="container.xml"):
        convert_epub(fx.b64(buf.getvalue()))


def test_invalid_zip_errors():
    with pytest.raises(ConvertError):
        convert_epub(fx.b64(b"x"))

def test_relative_href_with_dotdot_resolves():
    """Manifest hrefs containing '../' must normalize to the real zip member
    (Go path.Join cleans paths)."""
    import base64
    import io
    import zipfile

    from marky_spark.kernels.epubk import convert_epub

    container = (b'<?xml version="1.0"?><container>'
                 b'<rootfiles><rootfile full-path="OEBPS/sub/content.opf"/>'
                 b'</rootfiles></container>')
    opf = (b'<?xml version="1.0"?><package>'
           b'<metadata></metadata>'
           b'<manifest><item id="c1" href="../Text/ch1.xhtml"/></manifest>'
           b'<spine><itemref idref="c1"/></spine></package>')
    ch1 = b'<html><body><p>chapter text here</p></body></html>'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("META-INF/container.xml", container)
        z.writestr("OEBPS/sub/content.opf", opf)
        z.writestr("OEBPS/Text/ch1.xhtml", ch1)
    segs = convert_epub(base64.b64encode(buf.getvalue()).decode())
    assert "chapter text here" in "".join(s[1] for s in segs)
