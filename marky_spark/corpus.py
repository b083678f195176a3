"""Deterministic synthetic corpus: golden fixture slice + scaled generator.

Two layers (FIXTURES.md §4):

- ``GOLDEN_CASES`` — the exact-string fixture slice ported from the reference
  test suite; pytest checks span-sequence equality ``(kind, text, media_ref,
  order)`` per doc (the BASELINE.json correctness invariant).
- ``synth_batch`` / ``spark_corpus`` — seed-fixed parameterized templates of
  the same kinds for correctness/bench corpora, generated *distributed*
  (``spark.range → mapInPandas``) so corpus creation itself scales; includes
  a skew tail of mega-documents to exercise salted repartitioning.
"""

from __future__ import annotations

import functools as _functools
import json
import random
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .schema import INPUT_SCHEMA

Span = tuple[str, str, str, int]


def _spans(*items: tuple[str, str, str]) -> list[Span]:
    return [(k, t, m, i) for i, (k, t, m) in enumerate(items)]


def _text_span(kind: str, text: str) -> list[Span]:
    return [(kind, text, "", 0)]


# ---------------------------------------------------------------------------
# Golden fixture slice (reference test ports; SURVEY.md §5.1)
# ---------------------------------------------------------------------------

_CSV_BASIC = "Name,Age,City\nJohn,30,New York\nJane,25,Los Angeles"
_CSV_BASIC_MD = (
    "| Name | Age | City |\n| --- | --- | --- |\n"
    "| John | 30 | New York |\n| Jane | 25 | Los Angeles |\n"
)

def _docx_golden_cases() -> list[dict[str, Any]]:
    from . import fixtures as fx

    styled = fx.b64(fx.docx_zip(
        fx.docx_paragraph("Head", style="Heading2")
        + fx.docx_paragraph("bold", bold=True)
        + fx.docx_paragraph("a*b~c")
        + fx.docx_hyperlink("Link", "rId1"),
        rels={"rId1": "https://example.com"},
    ))
    listing = fx.b64(fx.docx_zip(
        fx.docx_list_paragraph("First", ilvl=0)
        + fx.docx_list_paragraph("Second", ilvl=0)
        + fx.docx_list_paragraph("Bullet", ilvl=1),
        numbering_xml=fx.NUMBERING_XML,
    ))
    table = fx.b64(fx.docx_zip(fx.docx_table_xml([["中文", "x"], ["ab", "y"]])))
    img = fx.b64(fx.docx_zip(
        fx.docx_image("rId2"),
        rels={"rId2": "media/image1.png"},
        media={"media/image1.png": b"PNGDATA"},
    ))
    return [
        {
            "doc_id": "docx-styled",
            "spans": _text_span("docx", styled),
            "expected": [("markdown",
                          "## Head\n**bold**\na\\*b\\~c\n"
                          "[Link](https://example.com)\n", "")],
        },
        {
            "doc_id": "docx-lists",
            "spans": _text_span("docx", listing),
            "expected": [("markdown",
                          "  1. First\n  2. Second\n    * Bullet\n", "")],
        },
        {
            "doc_id": "docx-table-cjk",
            "spans": _text_span("docx", table),
            "expected": [("markdown",
                          "|    | |\n|----|-|\n|中文|x|\n|ab  |y|\n\n", "")],
        },
        {
            "doc_id": "docx-image",
            "spans": _text_span("docx", img),
            "expected": [
                ("image", "![](data:image/png;base64,UE5HREFUQQ==)",
                 "word/media/image1.png"),
                ("markdown", "\n", ""),
            ],
        },
        {
            "doc_id": "docx-invalid-error",
            "spans": _text_span("docx", "bm90IGEgemlw"),  # b64("not a zip")
            "expected_status": "error",
        },
    ]


def _xlsx_golden_cases() -> list[dict[str, Any]]:
    from . import fixtures as fx

    basic = fx.b64(fx.xlsx_zip(
        [["Name", "Age", "City"], ["John", "30", "New York"],
         ["Jane", "25", "Los Angeles"]],
        extra_sheets=[("Other", [["IGNORED"]])],
    ))
    return [
        {
            "doc_id": "xlsx-basic-first-sheet-only",
            "spans": _text_span("xlsx", basic),
            "expected": [("markdown", _CSV_BASIC_MD, "")],
        },
        {
            "doc_id": "xlsx-empty",
            "spans": _text_span("xlsx", fx.b64(fx.xlsx_zip([]))),
            "expected": [],
        },
    ]


def _pptx_golden_cases() -> list[dict[str, Any]]:
    from . import fixtures as fx

    deck = fx.b64(fx.pptx_zip(
        slides=[
            fx.pptx_shape("Deck Title") + fx.pptx_shape("Body"),
            fx.pptx_pic(name="Pic", descr="A nice pic")
            + fx.pptx_table([["H1", "H2"], ["a&b", "c"]]),
        ],
        notes={1: "Remember this"},
        media={"ppt/media/image1.png": b"IMG"},
    ))
    return [
        {
            "doc_id": "pptx-two-slides",
            "spans": _text_span("pptx", deck),
            "expected": [
                ("markdown",
                 "<!-- Slide number: 1 -->\n# Deck Title\nBody\n"
                 "\n\n### Notes:\nRemember this"
                 "\n\n<!-- Slide number: 2 -->\n\n", ""),
                ("image", "![A nice pic](data:image/png;base64,SU1H)",
                 "ppt/media/image1.png"),
                ("markdown",
                 "\n| H1 | H2 |\n|---|---|\n| a&amp;b | c |", ""),
            ],
        },
    ]


def _epub_golden_cases() -> list[dict[str, Any]]:
    from . import fixtures as fx

    book = fx.b64(fx.epub_zip(
        chapters=[("ch1.xhtml", "<h1>Chapter One</h1><p>First text.</p>"),
                  ("ch2.xhtml", "<p>Second text.</p>")],
        title="My Book", creators=["A", "B"], language="en",
        identifier="isbn-1",
    ))
    return [
        {
            "doc_id": "epub-book",
            "spans": _text_span("epub", book),
            "expected": [("markdown",
                          "**Title:** My Book\n**Authors:** A, B\n"
                          "**Language:** en\n**Identifier:** isbn-1"
                          "\n\n# Chapter One\n\nFirst text."
                          "\n\nSecond text.", "")],
        },
    ]


def _pdf_golden_cases() -> list[dict[str, Any]]:
    from . import fixtures as fx

    ordered = fx.b64(fx.pdf_bytes([[
        (300, 700, "world"), (72, 650, "below"), (72, 700, "hello "),
    ], [(72, 720, "page two")]]))
    return [
        {
            "doc_id": "pdf-reading-order",
            "spans": _text_span("pdf", ordered),
            "expected": [("markdown",
                          "hello world\nbelow\n\npage two", "")],
        },
        {
            "doc_id": "pdf-invalid-error",
            "spans": _text_span("pdf", "cGxhaW4gdGV4dA=="),  # b64("plain text")
            "expected_status": "error",
        },
    ]


def _mixed_pdf_b64() -> str:
    from . import fixtures as fx

    return fx.b64(fx.pdf_bytes([[(72, 700, "hello pdf")]]))


_MIXED_PDF_B64 = _mixed_pdf_b64()


GOLDEN_CASES: list[dict[str, Any]] = [
    # --- CSV (csv_test.go) ---
    {
        "doc_id": "csv-basic",
        "spans": _text_span("csv", _CSV_BASIC),
        "expected": [("markdown", _CSV_BASIC_MD, "")],
    },
    {
        "doc_id": "csv-header-only",
        "spans": _text_span("csv", "Name,Age,City"),
        "expected": [("markdown", "| Name | Age | City |\n| --- | --- | --- |\n", "")],
    },
    {
        "doc_id": "csv-empty",
        "spans": _text_span("csv", ""),
        "expected": [],
    },
    {
        "doc_id": "csv-quotes",
        "spans": _text_span("csv", 'Name,Quote\n"Smith, John","He said ""hi"""'),
        "expected": [
            ("markdown",
             '| Name | Quote |\n| --- | --- |\n| Smith, John | He said "hi" |\n',
             "")
        ],
    },
    {
        "doc_id": "csv-pipes",
        "spans": _text_span("csv", "Name,Val\nJohn,a|b"),
        "expected": [
            ("markdown", "| Name | Val |\n| --- | --- |\n| John | a\\|b |\n", "")
        ],
    },
    {
        "doc_id": "csv-unicode",
        "spans": _text_span("csv", "名前,年齢,\n田中,30,"),
        "expected": [
            ("markdown",
             "| 名前 | 年齢 |  |\n| --- | --- | --- |\n| 田中 | 30 |  |\n",
             "")
        ],
    },
    {
        "doc_id": "csv-uneven-error",
        "spans": _text_span("csv", "a,b,c\nd,e"),
        "expected_status": "error",
    },
    # --- HTML (html_test.go) ---
    {
        "doc_id": "html-simple",
        "spans": _text_span(
            "html",
            '<h2>Title</h2>\n<p>Simple paragraph with <em>emphasis</em>.</p>\n'
            '<a href="https://example.com">Link</a>',
        ),
        "expected": [
            ("markdown",
             "## Title\n\nSimple paragraph with *emphasis*.\n\n"
             "[Link](https://example.com)",
             "")
        ],
    },
    {
        "doc_id": "html-table",
        "spans": _text_span(
            "html",
            "<table><thead><tr><th>Name</th><th>Age</th></tr></thead>"
            "<tbody><tr><td>John</td><td>30</td></tr></tbody></table>",
        ),
        "expected": [
            ("markdown", "| Name | Age |\n| --- | --- |\n| John | 30 |", "")
        ],
    },
    {
        "doc_id": "html-entities",
        "spans": _text_span("html", "<p>&lt;tag&gt; &amp; &quot;quoted&quot;</p>"),
        "expected": [("markdown", '<tag> & "quoted"', "")],
    },
    {
        "doc_id": "html-code",
        "spans": _text_span(
            "html", "<p>Use <code>x = 1</code> here.</p><pre><code>line1\nline2</code></pre>"
        ),
        "expected": [
            ("markdown", "Use `x = 1` here.\n\n```\nline1\nline2\n```", "")
        ],
    },
    {
        "doc_id": "html-unicode",
        "spans": _text_span("html", "<p>中文 emoji 😀 العربية</p>"),
        "expected": [("markdown", "中文 emoji 😀 العربية", "")],
    },
    {
        "doc_id": "html-image-interleave",
        "spans": _text_span(
            "html", '<p>before <img alt="a" src="x.png"> after</p>'
        ),
        "expected": [
            ("markdown", "before ", ""),
            ("image", "![a](x.png)", "x.png"),
            ("markdown", " after", ""),
        ],
    },
    {
        "doc_id": "html-lists",
        "spans": _text_span(
            "html", "<ul><li>Item 1</li><li>Item 2</li></ul><ol><li>One</li><li>Two</li></ol>"
        ),
        "expected": [
            ("markdown", "* Item 1\n* Item 2\n\n1. One\n2. Two", "")
        ],
    },
    # --- ipynb (ipynb_test.go) ---
    {
        "doc_id": "ipynb-basic",
        "spans": _text_span(
            "ipynb",
            json.dumps(
                {
                    "nbformat": 4,
                    "cells": [
                        {"cell_type": "markdown",
                         "source": ["# My Notebook\n", "\n", "Intro."]},
                        {"cell_type": "code", "source": ["print('hi')"]},
                    ],
                    "metadata": {},
                }
            ),
        ),
        "expected": [
            ("markdown",
             "# My Notebook\n\nIntro.\n\n```python\nprint('hi')\n```", "")
        ],
    },
    {
        "doc_id": "ipynb-meta-title",
        "spans": _text_span(
            "ipynb",
            json.dumps(
                {
                    "nbformat": 4,
                    "cells": [{"cell_type": "code", "source": ["1+1"]}],
                    "metadata": {"title": "Meta Title"},
                }
            ),
        ),
        "expected": [
            ("markdown", "# Meta Title\n\n```python\n1+1\n```", "")
        ],
    },
    {
        "doc_id": "ipynb-invalid-error",
        "spans": _text_span("ipynb", "{not json"),
        "expected_status": "error",
    },
    # --- plain text + media interleaving (FIXTURES.md §1) ---
    {
        "doc_id": "text-media-interleave",
        "spans": _spans(
            ("text", "intro paragraph", ""),
            ("image", "", "media://img-0001"),
            ("text", "outro paragraph", ""),
        ),
        "expected": [
            ("markdown", "intro paragraph", ""),
            ("image", "![](media://img-0001)", "media://img-0001"),
            ("markdown", "outro paragraph", ""),
        ],
        "expected_markdown": "intro paragraph\n\n![](media://img-0001)\n\noutro paragraph",
    },
    {
        "doc_id": "media-only",
        "spans": _spans(("image", "", "media://solo")),
        "expected": [("image", "![](media://solo)", "media://solo")],
    },
    # --- mixed converter kinds in ONE document (the interleaved payload
    # case proper): each span dispatches to its own kernel, order defined
    # by offset (listed shuffled here to pin convert_document's sort) ---
    {
        "doc_id": "mixed-kind-interleave",
        "spans": [
            ("html", "<h2>T</h2><p>x</p>", "", 2),
            ("csv", "a,b\n1,2", "", 0),
            ("pdf", _MIXED_PDF_B64, "", 3),
            ("image", "", "media://mix", 1),
        ],
        "expected": [
            ("markdown", "| a | b |\n| --- | --- |\n| 1 | 2 |\n", ""),
            ("image", "![](media://mix)", "media://mix"),
            ("markdown", "## T\n\nx", ""),
            ("markdown", "hello pdf", ""),
        ],
        "expected_markdown": (
            "| a | b |\n| --- | --- |\n| 1 | 2 |\n\n\n"
            "![](media://mix)\n\n## T\n\nx\n\nhello pdf"
        ),
    },
    # --- DOCX (docx.go; synthetic minimal OOXML zips) ---
    *_docx_golden_cases(),
    # --- XLSX (excel_test.go) ---
    *_xlsx_golden_cases(),
    # --- PPTX (pptx.go) ---
    *_pptx_golden_cases(),
    # --- EPUB (epub.go) ---
    *_epub_golden_cases(),
    # --- PDF (pdf.go; self-generated classic-xref fixtures) ---
    *_pdf_golden_cases(),
    # --- dispatch & isolation (marky.go:41) ---
    {
        "doc_id": "unknown-kind",
        "spans": _text_span("wat", "payload"),
        "expected_status": "unsupported",
    },
]


def golden_input_rows() -> list[dict[str, Any]]:
    """Golden slice in INPUT_SCHEMA shape."""
    return [
        {
            "doc_id": c["doc_id"],
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in c["spans"]
            ],
        }
        for c in GOLDEN_CASES
    ]


def golden_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(golden_input_rows(), schema=INPUT_SCHEMA)


# ---------------------------------------------------------------------------
# Scaled deterministic generator
# ---------------------------------------------------------------------------

_WORDS = (
    "spark data query scan join filter group sort merge shuffle batch stream "
    "table row column value key hash range window partition skew salt vector "
    "token text span media image corpus golden fixture markdown"
).split()

# (kind, weight) — media-interleaved docs exercise the placeholder path
_KIND_WEIGHTS = (
    ("html", 25),
    ("csv", 14),
    ("ipynb", 10),
    ("text", 16),
    ("interleaved", 10),
    ("docx", 8),
    ("xlsx", 5),
    ("pptx", 5),
    ("epub", 4),
    ("pdf", 3),
)
_KIND_CUM = []
_acc = 0
for _k, _w in _KIND_WEIGHTS:
    _acc += _w
    _KIND_CUM.append((_acc, _k))

MEGA_DOC_EVERY = 5000   # skew tail: one mega-doc per 5k docs
MEGA_FACTOR = 400       # ~400× the median body size


_N_VARIANTS = 32

# deterministic 2x2 RGB PNG used as embedded-image media in docx/pptx
# variants (built lazily — pngcodec imports numpy)
_CJK_CELLS = ("漢字テキスト", "中文表格", "カタカナ", "全角１２３")


@_functools.lru_cache(maxsize=1)
def _tiny_png() -> bytes:
    from .ops.pngcodec import png_encode

    return png_encode(bytes(range(12)), 2, 2, 3)


@_functools.lru_cache(maxsize=None)
def _binary_variant(kind: str, variant: int) -> str:
    """Cached deterministic base64 payload for a binary-format template.

    The 32 variants per kind sweep the feature space the reference's own
    tests pin, so the frozen goldens (frozen_golden.py) regression-gate far
    more than a happy-path template: DOCX multi-level list numbering with
    per-numId restarts + CJK width-padded tables + hyperlinks/textboxes/
    images/indents (docx.go:358-447, 504-557, 263-285, 606-618); XLSX
    cached formulas, ignored extra sheets, header-only sheets
    (excel.go:53-64); PPTX groups + escaped tables + pics-with-alt + notes
    (pptx.go:326-422); EPUB multi-chapter spines with '../' hrefs + full
    metadata + missing spine refs (epub.go:134-162, 210-255); PDF TJ arrays,
    uncompressed streams, shuffled Tm ops re-sorted by reading order
    (pdf.go:31-50 semantics)."""
    from . import fixtures as fx

    rng = random.Random(0xBEEF ^ (variant * 7919))
    if kind == "docx":
        body = fx.docx_paragraph(f"Doc variant {variant}",
                                 style=f"Heading{1 + variant % 3}")
        for p in range(4):
            body += fx.docx_paragraph(
                _sentence(rng, 12),
                bold=(p % 3 == 0), italic=(variant % 5 == 0 and p % 2 == 0),
                strike=(variant % 7 == 0 and p == 1))
        # two lists over the same abstract numbering: numId 2 restarts the
        # per-(numId, indent) counters; depth pattern walks ilvl 0/1/2
        depth = (0, 1, 1, 0, 2) if variant % 2 else (0, 0, 1, 2, 0)
        for n, lvl in enumerate(depth):
            body += fx.docx_list_paragraph(f"item {n} {_sentence(rng, 2)}",
                                           num_id=1, ilvl=lvl)
        for n in range(2 + variant % 3):
            body += fx.docx_list_paragraph(f"restart {n}", num_id=2, ilvl=0)
        if variant % 3 == 0:
            cells = [[_CJK_CELLS[variant % 4], str(rng.randint(0, 99))],
                     [_sentence(rng, 1), _CJK_CELLS[(variant + 1) % 4]]]
        elif variant % 4 == 1:
            cells = [["a|b", "pipe|cell"], [_sentence(rng, 1), "x|y"]]
        else:
            cells = [[_sentence(rng, 1), str(rng.randint(0, 99))]
                     for _ in range(4)]
        body += fx.docx_table_xml(cells)
        body += fx.docx_hyperlink(f"link v{variant}", "rId10")
        body += fx.docx_indent_paragraph(_sentence(rng, 6),
                                         left=360 * (1 + variant % 3))
        if variant % 6 == 4:
            body += fx.docx_paragraph(f"code_v{variant}()", style="Code")
        if variant % 3 == 2:
            body += fx.docx_textbox(_sentence(rng, 5))
        rels = {"rId10": f"https://example.com/v{variant}"}
        media = None
        if variant % 4 == 3:
            body += fx.docx_image("rId2")
            rels["rId2"] = "media/image1.png"
            media = {"media/image1.png": _tiny_png()}
        return fx.b64(fx.docx_zip(
            body, rels=rels, media=media,
            numbering_xml=fx.docx_numbering(
                fmts=("decimal", "bullet", "aiueoFullWidth")
                if variant % 2 else ("bullet", "decimal", "decimal"))))
    if kind == "xlsx":
        if variant % 8 == 7:
            rows = [["only", "a", "header"]]
        else:
            cell = (lambda: _CJK_CELLS[rng.randint(0, 3)]) \
                if variant % 3 == 0 else (lambda: _sentence(rng, 1))
            rows = [["name", "value", "note"]] + [
                [cell(), str(rng.randint(0, 999)),
                 "p|pe" if variant % 4 == 1 else _sentence(rng, 3)]
                for _ in range(3 + variant % 6)
            ]
        extra = ([("Ignored", [["should", "never", "render"]])]
                 if variant % 3 == 2 else None)
        formula = (("D1", str(100 + variant)) if variant % 2 == 1 else None)
        return fx.b64(fx.xlsx_zip(rows, extra_sheets=extra,
                                  with_formula=formula))
    if kind == "pptx":
        media = None
        slides = []
        for n in range(1, 2 + variant % 3):
            tree = fx.pptx_shape(f"Slide {n} v{variant}")
            tree += fx.pptx_shape(_sentence(rng, 10))
            if variant % 2 == 0:
                tree += fx.pptx_table(
                    [["a & b", "<tag>"], [_sentence(rng, 1), "c>d"]])
            if variant % 3 == 0:
                tree += fx.pptx_group(
                    fx.pptx_shape(f"grouped {n}"),
                    fx.pptx_pic("grp.png", descr="in  group", embed="rId9"))
                media = {"ppt/media/img1.png": _tiny_png()}
            if variant % 4 == 1:
                tree += fx.pptx_pic(
                    "pic.png", descr=f"  multi   space v{variant} ",
                    embed="rId9")
                media = {"ppt/media/img1.png": _tiny_png()}
            slides.append(tree)
        notes = {}
        if variant % 2 == 1:
            notes[1] = _sentence(rng, 6)
        if variant % 5 == 0 and len(slides) > 1:
            notes[2] = f"note two v{variant}"
        return fx.b64(fx.pptx_zip(slides, notes=notes or None, media=media))
    if kind == "epub":
        chapters = []
        for n in range(1, 3 + variant % 4):
            href = (f"text/../ch{n}.xhtml" if variant % 2 == 1
                    else f"ch{n}.xhtml")
            body = (f"<h1>Chapter {n}</h1><p>{_sentence(rng, 20)} "
                    f"<em>{rng.choice(_WORDS)}</em> "
                    f'<a href="https://x.v/{n}">ref</a></p>')
            if n % 2 == 0:
                body += ("<ul>" + "".join(
                    f"<li>{_sentence(rng, 2)}</li>" for _ in range(3))
                    + "</ul>")
            chapters.append((href, body))
        meta = (dict(title=f"Book v{variant}", creators=["Gen", "Co-Author"],
                     language="en", publisher="Synth Press",
                     date="2024-01-02", description=_sentence(rng, 8),
                     identifier=f"urn:synth:{variant}")
                if variant % 2 == 0
                else dict(title=f"Book v{variant}", creators=["Gen"],
                          language="en"))
        return fx.b64(fx.epub_zip(chapters,
                                  missing_spine_ref=(variant % 8 == 6),
                                  **meta))
    if kind == "pdf":
        pages = []
        for _ in range(1 + variant % 3):
            ops = [(72 + 6 * (line % 4), 720 - 14 * line, _sentence(rng, 8))
                   for line in range(6 + variant % 6)]
            if variant % 3 == 2:
                rng.shuffle(ops)  # reading-order reassembly must re-sort
            pages.append(ops)
        # variants 7,15,23,31: Type0 subset-font shape (hex strings +
        # ToUnicode CMap); 3,11,19,27: /Differences over WinAnsi — the
        # frozen goldens then pin both font-decoding chains forever
        enc = ("cmap" if variant % 8 == 7
               else "differences" if variant % 8 == 3 else "winansi")
        return fx.b64(fx.pdf_bytes(pages,
                                   compress=(variant % 8 != 5),
                                   use_tj_array=(variant % 2 == 1),
                                   encoding=enc))
    raise ValueError(kind)


def _pick_kind(i: int) -> str:
    h = (i * 2654435761) % 100
    for cum, kind in _KIND_CUM:
        if h < cum:
            return kind
    return "text"


_ORDINAL_TABLE_N = 65536


@_functools.lru_cache(maxsize=1)
def _kind_ordinals(n: int = _ORDINAL_TABLE_N) -> list[int]:
    """ordinal[i] = how many docs j < i share doc i's kind. Computed once
    per process (one cheap pass over the deterministic kind sequence) so
    binary-format variants can sweep ALL _N_VARIANTS payloads per kind —
    ``i % _N_VARIANTS`` only hits the residues the kind-hash happens to
    select (e.g. 24/32 for the 60 pdf docs of the 2000-doc golden slice)."""
    counts: dict[str, int] = {}
    ords: list[int] = []
    for i in range(n):
        k = _pick_kind(i)
        ords.append(counts.get(k, 0))
        counts[k] = counts.get(k, 0) + 1
    return ords


def _kind_variant(i: int) -> int:
    if i < _ORDINAL_TABLE_N:
        return _kind_ordinals()[i] % _N_VARIANTS
    return i % _N_VARIANTS  # beyond the table: residue mix is fine at scale


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def make_synth_doc(i: int, mega_every: int = MEGA_DOC_EVERY,
                   mega_factor: int = MEGA_FACTOR) -> dict[str, Any]:
    """Deterministic doc #i (same output for the same i, everywhere).

    ``mega_every``/``mega_factor`` shape the skew tail; the defaults are the
    frozen-golden corpus contract (frozen_golden.py) — benchmarks pass
    denser/heavier values to build adversarial byte-skew corpora."""
    rng = random.Random(0xC0FFEE + i)
    kind = _pick_kind(i)
    scale = mega_factor if (i > 0 and mega_every and i % mega_every == 0) else 1
    spans: list[dict[str, Any]]

    if kind == "csv":
        rows = ["col_a,col_b,col_c"]
        for r in range(3 * scale):
            rows.append(f"{_sentence(rng, 2)},{rng.randint(0, 999)},row {r}")
        spans = [{"kind": "csv", "text": "\n".join(rows), "media_ref": "", "offset": 0}]
    elif kind == "html":
        blocks = [f"<h1>Doc {i}</h1>"]
        for p in range(4 * scale):
            blocks.append(f"<p>{_sentence(rng, 12)} <em>{rng.choice(_WORDS)}</em>.</p>")
        blocks.append('<ul>' + ''.join(f'<li>{_sentence(rng, 3)}</li>' for _ in range(3)) + '</ul>')
        spans = [{"kind": "html", "text": "".join(blocks), "media_ref": "", "offset": 0}]
    elif kind == "ipynb":
        cells = [{"cell_type": "markdown", "source": [f"# Notebook {i}\n", _sentence(rng, 10)]}]
        for c in range(2 * scale):
            cells.append({"cell_type": "code", "source": [f"x_{c} = {rng.randint(0, 99)}\n", "print(x_%d)" % c]})
        spans = [{"kind": "ipynb",
                  "text": json.dumps({"nbformat": 4, "cells": cells, "metadata": {}}),
                  "media_ref": "", "offset": 0}]
    elif kind == "interleaved":
        spans = []
        off = 0
        for seg in range(3):
            spans.append({"kind": "text", "text": _sentence(rng, 15 * scale),
                          "media_ref": "", "offset": off})
            off += 1
            spans.append({"kind": "image", "text": "",
                          "media_ref": f"media://doc{i}/img{seg}", "offset": off})
            off += 1
    elif kind in ("docx", "xlsx", "pptx", "epub", "pdf"):
        payload = _binary_variant(kind, _kind_variant(i))
        spans = [{"kind": kind, "text": payload, "media_ref": "", "offset": 0}]
    else:  # text
        spans = [{"kind": "text", "text": _sentence(rng, 40 * scale),
                  "media_ref": "", "offset": 0}]

    return {"doc_id": f"doc-{i:010d}", "spans": spans}


def spark_corpus(spark: SparkSession, n_docs: int,
                 partitions: int | None = None,
                 mega_every: int = MEGA_DOC_EVERY,
                 mega_factor: int = MEGA_FACTOR) -> DataFrame:
    """Distributed deterministic corpus of ``n_docs`` documents.

    Pass a dense ``mega_every`` (e.g. 50) + heavy ``mega_factor`` to build
    an adversarial byte-skew corpus where a few percent of documents carry
    most of the bytes — the shape ``pipeline.skew_balanced`` exists for."""
    parts = partitions or max(spark.sparkContext.defaultParallelism * 2, 8)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_synth_doc(int(i), mega_every, mega_factor)
                    for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    rng_df = spark.range(0, n_docs, numPartitions=parts)
    return rng_df.mapInPandas(gen, schema=INPUT_SCHEMA)


# ---------------------------------------------------------------------------
# beyond-the-reference kinds (rtf / odt): their own deterministic corpora,
# frozen-oracle pinned like the binary kinds but kept OUT of make_synth_doc
# so the main corpus (and every committed golden) stays byte-identical
# ---------------------------------------------------------------------------

EXTRA_KINDS = ("rtf", "odt", "ods", "odp", "eml", "feed", "tsv")
N_EXTRA = 400          # per-kind corpus size for the convert_rtf/odt queries


@_functools.lru_cache(maxsize=None)
def extra_variant(kind: str, i: int) -> str:
    """Deterministic span text for extra-kind doc #i (rtf: the RTF source
    itself; odt: base64 zip).  Variants sweep the kernels' feature space
    (tokenizer escapes, styling, tables, links, lists, unicode) so the
    frozen goldens regression-gate more than a happy path."""
    from . import fixtures as fx

    v = i % _N_VARIANTS
    rng = random.Random(0xD0C5 ^ (i * 6151))
    if kind == "rtf":
        parts = [r"{\rtf1\ansi\deff0",
                 r"{\fonttbl{\f0 Calibri;}}",
                 r"{\info{\title skip me}}",
                 r"{\*\unknownjunk {\b never emitted}}"]
        parts.append(rf"\pard\outlinelevel{v % 3} Doc {i} "
                     rf"{_sentence(rng, 3)}\par")
        parts.append(rf"Plain {_sentence(rng, 8)} \b bold {v}\b0 "
                     rf"and \i ital\i0 mixed.\par")
        if v % 5 == 0:
            parts.append(r"\uc2 wide ₗ5 ?? fallback\uc1 \par")
        parts.append(rf"Hex caf\'e9 unicode \u945 ? arrow 薔 ? "
                     rf"pair \u-10179 ?\u-8704 ? end.\par")
        parts.append(r"Specials: \emdash\endash\bullet\lquote\rquote "
                     r"esc \\ \{ \} nbsp\~joined.\par")
        if v % 2 == 0:
            url = f"https://example.com/r{i}"
            parts.append(r"{\field{\*\fldinst HYPERLINK " + f'"{url}"' +
                         r"}{\fldrslt " + f"link {v}" + r"}}\par")
        if v % 3 == 0:
            parts.append(r"\trowd\cell head|a\cell " +
                         _sentence(rng, 2) + r"\cell\row" +
                         r"\trowd\cell " + str(rng.randint(0, 99)) +
                         r"\cell tail\cell\row\pard ")
        parts.append(rf"Closing {_sentence(rng, 5)}\line broken"
                     rf"\tab tabbed.\par")
        parts.append("}")
        return "".join(parts)
    if kind == "odt":
        cells = ([["漢字", _sentence(rng, 1)], ["中文", str(rng.randint(0, 99))]]
                 if v % 3 == 0 else
                 [["a|b", "x"], [_sentence(rng, 1), "y|z"]] if v % 4 == 1
                 else [[_sentence(rng, 1), str(rng.randint(0, 99))]
                       for _ in range(3)])
        body = [f'<text:h text:outline-level="{1 + v % 3}">Doc {i} '
                f'{_sentence(rng, 2)}</text:h>',
                f'<text:p>{_sentence(rng, 6)} '
                f'<text:span text:style-name="B1">bold {v}</text:span> '
                f'<text:span text:style-name="I1">ital</text:span> '
                f'<text:span text:style-name="X1">both</text:span>'
                f'</text:p>',
                f'<text:p>Link <text:a xlink:href="https://example.com/'
                f'o{i}">label {v}</text:a> sp<text:s text:c="2"/>aced'
                f'<text:tab/>tab<text:line-break/>broken</text:p>',
                '<text:list><text:list-item><text:p>one</text:p>'
                '</text:list-item><text:list-item><text:p>two</text:p>'
                + ('<text:list><text:list-item><text:p>deep</text:p>'
                   '</text:list-item></text:list>' if v % 2 else '')
                + '</text:list-item></text:list>',
                '<table:table>' + ''.join(
                    '<table:table-row>' + ''.join(
                        f'<table:table-cell><text:p>{c}</text:p>'
                        f'</table:table-cell>' for c in row)
                    + '</table:table-row>' for row in cells)
                + '</table:table>']
        media = None
        if v % 4 == 3:
            body.append('<text:p><draw:frame><draw:image xlink:href='
                        '"Pictures/img.png"/></draw:frame></text:p>')
            media = {"Pictures/img.png": _tiny_png()}
        return fx.b64(fx.odt_zip(
            "".join(body),
            fx.odt_styles(bold=("B1",), italic=("I1",), both=("X1",)),
            media=media))
    if kind == "ods":
        n_rows = 3 + v % 5
        rows = [["name", "value", "note"]] + [
            [_sentence(rng, 1),
             str(rng.randint(0, 9999)),
             ("漢字" if v % 3 == 0 else "p|ipe" if v % 4 == 1
              else _sentence(rng, 2))]
            for _ in range(n_rows)]
        reps = {(1, 1): 2} if v % 2 == 0 else None
        return fx.b64(fx.ods_zip(rows, repeats=reps))
    if kind == "odp":
        pages = []
        for s in range(2 + v % 3):
            pages.append({
                "title": f"Slide {s} doc {i}" if s % 2 == 0 else None,
                "paras": [f"<text:p>{_sentence(rng, 6)}</text:p>"
                          for _ in range(1 + (v + s) % 3)],
                "table": ([[_sentence(rng, 1), str(rng.randint(0, 99))],
                           ["x|y", _sentence(rng, 1)]]
                          if (v + s) % 4 == 0 else None),
            })
        return fx.b64(fx.odp_zip(pages))
    if kind == "eml":
        boundary = f"B{i}"
        html_body = (f"<html><body><h1>Msg {i}</h1><p>"
                     f"{_sentence(rng, 10)} <b>bold {v}</b></p>"
                     f"</body></html>")
        plain = f"Plain {_sentence(rng, 8)}"
        lines = [
            f"From: sender{i} <s{i}@example.com>",
            f"To: r{i}@example.com",
            f"Subject: Report {i} {_sentence(rng, 2)}",
            "Date: Mon, 17 Aug 2026 10:00:00 +0000",
            "MIME-Version: 1.0",
        ]
        if v % 3 == 0:      # multipart/alternative: html wins
            lines += [
                f"Content-Type: multipart/alternative; "
                f"boundary={boundary}", "",
                f"--{boundary}", "Content-Type: text/plain", "",
                plain,
                f"--{boundary}", "Content-Type: text/html", "",
                html_body, f"--{boundary}--", ""]
        elif v % 3 == 1:    # mixed with an attachment marker
            lines += [
                f"Content-Type: multipart/mixed; boundary={boundary}",
                "", f"--{boundary}", "Content-Type: text/plain", "",
                plain,
                f"--{boundary}", "Content-Type: application/pdf",
                f'Content-Disposition: attachment; filename=a{v}.pdf',
                "Content-Transfer-Encoding: base64", "",
                "JVBERi0xLjQK", f"--{boundary}--", ""]
        else:               # plain quoted-printable body
            lines += [
                "Content-Type: text/plain; charset=utf-8",
                "Content-Transfer-Encoding: quoted-printable", "",
                f"caf=C3=A9 {plain} q{v}", ""]
        return "\n".join(lines)
    if kind == "feed":
        if v % 2 == 0:      # RSS
            items = "".join(
                f"<item><title>Post {i}-{k}</title>"
                f"<link>https://example.com/{i}/{k}</link>"
                f"<pubDate>Mon, 1{k} Aug 2026 10:00:00 GMT</pubDate>"
                f"<description>&lt;p&gt;{_sentence(rng, 6)} "
                f"&lt;b&gt;hot {v}&lt;/b&gt;&lt;/p&gt;</description>"
                f"</item>" for k in range(2 + v % 3))
            return (f'<?xml version="1.0"?><rss version="2.0">'
                    f"<channel><title>Feed {i}</title>"
                    f"<description>{_sentence(rng, 4)}</description>"
                    f"{items}</channel></rss>")
        entries = "".join(
            f'<entry><title>Entry {i}-{k}</title>'
            f'<link rel="alternate" href="https://example.com/a/{i}/{k}"/>'
            f'<updated>2026-08-1{k}</updated>'
            f'<summary>{_sentence(rng, 7)}</summary></entry>'
            for k in range(2 + v % 3))
        return (f'<feed xmlns="http://www.w3.org/2005/Atom">'
                f'<title>Atom {i}</title><subtitle>{_sentence(rng, 3)}'
                f'</subtitle>{entries}</feed>')
    if kind == "tsv":
        # quoted fields with embedded tabs/newlines on some variants
        rows = [["name", "value", "note"]]
        for r in range(3 + v % 5):
            note = (f'"multi\nline {r}"' if v % 4 == 0 and r == 1
                    else f'"tab\there"' if v % 4 == 1 and r == 0
                    else _sentence(rng, 2))
            rows.append([_sentence(rng, 1), str(rng.randint(0, 9999)),
                         note])
        return "\n".join("\t".join(row) for row in rows) + "\n"
    raise ValueError(kind)


def make_extra_doc(kind: str, i: int) -> dict[str, Any]:
    return {"doc_id": f"{kind}{i}",
            "spans": _text_span(kind, extra_variant(kind, i))}


def spark_extra_corpus(spark: SparkSession, kind: str,
                       n_docs: int = N_EXTRA,
                       partitions: int = 8) -> DataFrame:
    """Distributed extra-kind corpus (same generate-don't-ship shape as
    spark_corpus: only (kind, i) travels; payloads build worker-side)."""
    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [make_extra_doc(kind, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return (spark.range(0, n_docs, numPartitions=partitions)
            .mapInPandas(gen, schema=INPUT_SCHEMA))
