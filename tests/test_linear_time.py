"""Linear-time gate: a kernel's time per input byte on a hostile shape
must not grow with the input.

For each shape, ``convert_document`` runs on one thread at ``n`` and at
``16 n`` repetitions of the shape's unit (the fastest of 5 timings each:
on a shared machine other work only ever adds time, so the minimum is the
steadiest reading of CPU-bound code). The time per byte at ``16 n`` must be
at most 4× the time per byte at ``n``. A ratio cancels the machine's
speed: linear code reads about 1×, code quadratic in its input about 16×.
"""
import time

import pytest

from marky_spark import fixtures as fx
from marky_spark.convert import convert_document

_WORDS = "alpha beta gamma delta epsilon zeta eta theta"


def _nested_div(k):
    return "<div>" * k + "deep text" + "</div>" * k


def _unclosed_li_p(k):
    return "<ul>" + "<li><p>item text " * k


def _nested_blocks(k):
    return "<table><tr><td><ul><li><blockquote>" * k + "x"


def _attributes(k):
    # 500 attributes at n, 8,000 at 16 n
    attrs = " ".join(f'data-a{i}="v{i} &amp; w"' for i in range(k))
    return f"<p {attrs}>text</p>"


def _link_nav(k):
    links = " ".join(f'<a href="/p{i}">link {i}</a>' for i in range(k))
    return (f"<html><body><nav>{links}</nav><div class='menu'>{links}</div>"
            f"<article><p>{_WORDS}</p></article></body></html>")


def _eml_encoded_subject(k):
    words = " ".join(f"=?utf-8?q?w=C3=A9rd{i}?=" for i in range(k))
    return f"From: a@b.c\nTo: d@e.f\nSubject: {words}\n\nbody\n"


def _pdf(content: bytes, n_pages: int = 1) -> str:
    """A classic-xref PDF whose pages share one content stream and one
    WinAnsi font object."""
    kids = " ".join(f"{4 + i} 0 R" for i in range(n_pages))
    objects = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        3: (f"<< /Length {len(content)} >>".encode() + b"\nstream\n"
            + content + b"\nendstream"),
        4 + n_pages: (b"<< /Type /Font /Subtype /Type1 "
                      b"/Encoding /WinAnsiEncoding >>"),
    }
    for i in range(n_pages):
        objects[4 + i] = (
            f"<< /Type /Page /Parent 2 0 R /Contents 3 0 R /Resources "
            f"<< /Font << /F1 {4 + n_pages} 0 R >> >> >>").encode()
    return fx.b64(fx.pdf_assemble(objects))


def _pdf_text(body: bytes) -> bytes:
    return b"BT /F1 12 Tf 72 700 Td " + body + b" ET"


def _pdf_tj_plain_strings(k):
    return _pdf(_pdf_text(b"[" + b" (word)" * k + b"] TJ"))


def _pdf_escaped_strings(k):
    return _pdf(_pdf_text(b"(a\\(b\\\\c\\222d) Tj " * k))


def _pdf_nested_parens(k):
    return _pdf(_pdf_text(b"(" * k + b"x" + b")" * k + b" Tj"))


def _pdf_nested_arrays(k):
    return _pdf(_pdf_text(b"[" * k + b"(x)" + b"]" * k + b" TJ"))


def _pdf_digit_run(k):
    # no xref: the object scan runs over one long run of digits
    return fx.b64(b"%PDF-1.4\n" + b"1234567890" * k + b"\n")


def _pdf_pages_one_font(k):
    return _pdf(_pdf_text(b"(one line of page text) Tj"), n_pages=k)


def _pdf_unclosed_cmap(k):
    # a font whose ToUnicode stream holds k sections with no end
    cmap = b"beginbfchar <41> <42> " * k
    content = _pdf_text(b"(AAAA) Tj")
    return fx.b64(fx.pdf_assemble({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        3: (f"<< /Length {len(content)} >>".encode() + b"\nstream\n"
            + content + b"\nendstream"),
        4: (b"<< /Type /Page /Parent 2 0 R /Contents 3 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> >>"),
        5: b"<< /Type /Font /Subtype /Type1 /ToUnicode 6 0 R >>",
        6: (f"<< /Length {len(cmap)} >>".encode() + b"\nstream\n"
            + cmap + b"\nendstream"),
    }))


def _csv_wide_row(k):
    return (",".join(f"h{i}" for i in range(k)) + "\n"
            + ",".join(f"v{i}" for i in range(k)) + "\n")


def _csv_quote_runs(k):
    # one quoted field of k escaped quotes, then rows of quoted fields
    return ('a,b\n"' + '""' * k + '",x\n'
            + "".join(f'"q""{i}""","r ""{i}"""\n' for i in range(k)))


def _rtf_nested_groups(k):
    return "{\\rtf1 " + "{\\b " * k + "deep text" + "}" * k + "\\par}"


def _feed_entity_runs(k):
    # an item description of entity-escaped HTML, a title of bare entities
    return ('<?xml version="1.0"?><rss version="2.0"><channel><title>'
            + "&amp;&lt;&gt;" * k + "</title><item><title>i</title>"
            "<description>" + "&lt;p&gt;a &amp;amp; b&lt;/p&gt;" * k
            + "</description></item></channel></rss>")


# docx payloads are deflated: each unit carries its own scrambled word,
# so the compression ratio, and with it the time per payload byte, does
# not drift with k
def _word(i):
    return "".join(f"{(i * 4 + j) * 2654435761 % 4294967291:08x}"
                   for j in range(4))


def _docx_runs_in_one_paragraph(k):
    return fx.b64(fx.docx_zip("<w:p>" + "".join(
        f"<w:r><w:rPr><w:b/></w:rPr><w:t>{_word(i)}*</w:t></w:r>"
        for i in range(k)) + "</w:p>"))


def _docx_numbered_paragraphs(k):
    return fx.b64(fx.docx_zip(
        "".join(fx.docx_list_paragraph(_word(i), num_id=1, ilvl=i % 3)
                for i in range(k)),
        numbering_xml=fx.docx_numbering()))


def _docx_nested_tables(k):
    # tables nested 5 deep around a cell of k words: each level triples
    # the markdown, so the output is 243 times the cell, well inside
    # kernels/docxk._MAX_TABLE_CHARS at 16n
    return fx.b64(fx.docx_zip(
        "<w:tbl><w:tr><w:tc>" * 5 + "<w:p><w:r><w:t>"
        + " ".join(_word(i) for i in range(k))
        + "</w:t></w:r></w:p>" + "</w:tc></w:tr></w:tbl>" * 5))


# (kind, shape, n): n repetitions of the unit take a few ms or more
SHAPES = [
    ("html", _nested_div, 2000),
    ("html", _unclosed_li_p, 1000),
    ("html", _nested_blocks, 400),
    ("html", _attributes, 500),
    ("html", _link_nav, 500),
    # 28 KB at n: the stdlib header parser is quadratic in encoded words
    ("eml", _eml_encoded_subject, 1200),
    ("pdf", _pdf_tj_plain_strings, 2000),
    ("pdf", _pdf_escaped_strings, 500),
    ("pdf", _pdf_nested_parens, 2000),
    ("pdf", _pdf_nested_arrays, 2000),
    ("pdf", _pdf_pages_one_font, 100),
    ("pdf", _pdf_digit_run, 2000),
    ("pdf", _pdf_unclosed_cmap, 1000),
    ("docx", _docx_runs_in_one_paragraph, 500),
    ("docx", _docx_numbered_paragraphs, 200),
    ("docx", _docx_nested_tables, 40),
    ("csv", _csv_wide_row, 2000),
    ("csv", _csv_quote_runs, 500),
    ("rtf", _rtf_nested_groups, 1000),
    ("feed", _feed_entity_runs, 500),
]


def _per_byte(kind, text):
    spans = [{"kind": kind, "text": text, "media_ref": "", "offset": 0}]
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        row = convert_document("gate", spans)
        times.append(time.perf_counter() - t0)
    assert row["status"] in ("ok", "error"), row
    return min(times) / len(text)


@pytest.mark.parametrize("kind,shape,n", SHAPES,
                         ids=[f"{k}-{s.__name__.lstrip('_')}"
                              for k, s, _ in SHAPES])
def test_time_per_byte_is_flat(kind, shape, n):
    small = _per_byte(kind, shape(n))
    large = _per_byte(kind, shape(16 * n))
    assert large <= 4 * small, (
        f"{kind} {shape.__name__}: {large * 1e9:.0f} ns/byte at 16n vs "
        f"{small * 1e9:.0f} ns/byte at n")
