"""ODT (OpenDocument Text) → Markdown kernel (beyond-the-reference).

The reference converts csv/docx/epub/xlsx/html/ipynb/pdf/pptx
(lib.go:14-21); ODT is the other office format a crawl actually
carries (LibreOffice / OpenOffice exports).  Written from the public
OASIS OpenDocument v1.2 specification (part 1, the ``office:text``
document model).

Implemented subset — the text-content constructs ODF writers emit:

- the zip container (``content.xml`` through the same streaming
  fastzip walk the DOCX kernel uses; the ``mimetype`` member, when
  present, must name an opendocument type),
- ``office:automatic-styles``: ``style:style`` →
  ``style:text-properties`` ``fo:font-weight``/``fo:font-style`` so
  ``text:span`` styling resolves to **bold** / *italic* (the docx
  kernel's escape set ``*~\\`` on text content),
- ``text:h`` with ``text:outline-level`` → ``#``-headings (capped 6),
- ``text:p`` paragraphs, ``text:line-break``, ``text:tab``,
  ``text:s text:c='N'`` run-length spaces,
- ``text:a xlink:href`` → ``[label](target)`` with the docx
  hyperlink escapes (``[]`` label, ``()`` target),
- ``text:list`` / ``text:list-item`` with nesting (two-space indents,
  ``-`` bullets),
- ``table:table`` → the reference's UNIFORM pipe-table renderer
  (mdtable.to_markdown_table, the csv/xlsx emitter),
- ``draw:image xlink:href`` → embedded ``Pictures/*`` members emit
  data-URI image segments exactly like DOCX O18 (docx.go:196-198
  semantics: bytes travel through, never decoded).

Hostile input (bad zip, missing content.xml, malformed XML) raises
:class:`ConvertError` — the registry's poison-pill contract.
"""
from __future__ import annotations

import base64
import xml.etree.ElementTree as ET

from .base import (
    ConvertError,
    Segment,
    decode_binary_payload,
    has_dtd,
    image,
    md,
    merge_markdown,
)
from .fastzip import BadZip, open_zip
from .mdtable import _escape, to_markdown_table

_NS = {
    "office": "urn:oasis:names:tc:opendocument:xmlns:office:1.0",
    "text": "urn:oasis:names:tc:opendocument:xmlns:text:1.0",
    "table": "urn:oasis:names:tc:opendocument:xmlns:table:1.0",
    "draw": "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0",
    "style": "urn:oasis:names:tc:opendocument:xmlns:style:1.0",
    "fo": "urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0",
    "xlink": "http://www.w3.org/1999/xlink",
}


def _q(prefix: str, local: str) -> str:
    return f"{{{_NS[prefix]}}}{local}"


def _parse_xml(data: bytes) -> ET.Element:
    if has_dtd(data):
        raise ConvertError("content.xml carries a DTD (rejected)")
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ConvertError(f"malformed content.xml: {exc}") from exc


def _text_styles(root: ET.Element) -> dict[str, tuple[bool, bool]]:
    """automatic + common styles → {style-name: (bold, italic)}."""
    styles: dict[str, tuple[bool, bool]] = {}
    for scope in ("automatic-styles", "styles"):
        holder = root.find(_q("office", scope))
        if holder is None:
            continue
        for st in holder.findall(_q("style", "style")):
            name = st.get(_q("style", "name"))
            props = st.find(_q("style", "text-properties"))
            if name is None or props is None:
                continue
            bold = props.get(_q("fo", "font-weight")) == "bold"
            italic = props.get(_q("fo", "font-style")) == "italic"
            if bold or italic:
                styles[name] = (bold, italic)
    return styles


class _OdtWalker:
    def __init__(self, zf, styles: dict[str, tuple[bool, bool]]):
        self.zf = zf
        self.styles = styles
        self.parts: list = []     # str blocks | ("img", markdown, ref)

    # ---- inline content --------------------------------------------------
    def inline(self, el: ET.Element, bold: bool = False,
               italic: bool = False) -> str:
        out: list[str] = []

        def emit(s: str | None) -> None:
            if not s:
                return
            body = _escape(s, "*~\\")
            core = body.strip()
            if core and (bold or italic):
                lead = body[:len(body) - len(body.lstrip())]
                trail = body[len(body.rstrip()):]
                if bold:
                    core = f"**{core}**"
                if italic:
                    core = f"*{core}*"
                body = lead + core + trail
            out.append(body)

        emit(el.text)
        for child in el:
            tag = child.tag
            if tag == _q("text", "span"):
                b, i = self.styles.get(
                    child.get(_q("text", "style-name"), ""), (False, False))
                out.append(self.inline(child, bold or b, italic or i))
            elif tag == _q("text", "a"):
                href = child.get(_q("xlink", "href"), "")
                label = self.inline(child)
                out.append(f"[{_escape(label, '[]')}]"
                           f"({_escape(href, '()')})")
            elif tag == _q("text", "s"):
                n_sp = int(child.get(_q("text", "c"), "1") or 1)
                out.append(" " * min(max(n_sp, 0), 4096))
            elif tag == _q("text", "tab"):
                out.append("\t")
            elif tag == _q("text", "line-break"):
                out.append("\n")
            elif tag == _q("draw", "frame") or tag == _q("draw", "image"):
                self._frame(child, out)
            else:
                out.append(self.inline(child, bold, italic))
            emit(child.tail)
        return "".join(out)

    def _frame(self, el: ET.Element, out: list[str]) -> None:
        imgs = ([el] if el.tag == _q("draw", "image")
                else el.findall(_q("draw", "image")))
        for img in imgs:
            href = img.get(_q("xlink", "href"), "")
            if not href:
                continue
            member = href.lstrip("./")
            try:
                blob = self.zf.read(member)
            except KeyError:
                out.append(f"![]({href})")
                continue
            b64 = base64.b64encode(blob).decode("ascii")
            self.parts.append(
                ("img", f"![](data:image/png;base64,{b64})", member))

    # ---- blocks ------------------------------------------------------
    def block(self, el: ET.Element, list_depth: int = 0) -> None:
        tag = el.tag
        if tag == _q("text", "h"):
            level = int(el.get(_q("text", "outline-level"), "1") or 1)
            text = self.inline(el).strip()
            if text:
                self.parts.append("#" * min(max(level, 1), 6) + " " + text)
        elif tag == _q("text", "p"):
            text = self.inline(el).strip()
            if text:
                if list_depth:
                    self.parts.append(
                        "  " * (list_depth - 1) + "- " + text)
                else:
                    self.parts.append(text)
        elif tag == _q("text", "list"):
            for item in el.findall(_q("text", "list-item")):
                for child in item:
                    self.block(child, list_depth + 1)
        elif tag == _q("table", "table"):
            rows = []
            for tr in el.iter(_q("table", "table-row")):
                rows.append([self.inline(tc).strip() for tc in
                             tr.findall(_q("table", "table-cell"))])
            if rows:
                self.parts.append(to_markdown_table(rows).rstrip("\n"))
        else:
            for child in el:
                self.block(child, list_depth)


def convert_odt(text: str) -> list[Segment]:
    """Base64 ODT payload → markdown segments (registry kernel)."""
    data = decode_binary_payload(text)
    try:
        zf = open_zip(data)
    except BadZip as exc:
        raise ConvertError(f"failed to convert document: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "mimetype" in names:
            mt = zf.read("mimetype").decode("ascii", "replace")
            if "opendocument" not in mt:
                raise ConvertError(f"not an ODT (mimetype {mt!r})")
        if "content.xml" not in names:
            raise ConvertError("incorrect document (no content.xml)")
        root = _parse_xml(zf.read("content.xml"))
        body = root.find(_q("office", "body"))
        office_text = body.find(_q("office", "text")) \
            if body is not None else None
        if office_text is None:
            raise ConvertError("incorrect document (no office:text body)")
        walker = _OdtWalker(zf, _text_styles(root))
        for child in office_text:
            walker.block(child)

    segments: list[Segment] = []
    text_blocks: list[str] = []

    def flush() -> None:
        if text_blocks:
            segments.append(md("\n\n".join(text_blocks)))
            text_blocks.clear()

    for p in walker.parts:
        if isinstance(p, str):
            text_blocks.append(p)
        else:
            flush()
            segments.append(image(p[1], p[2]))
    flush()
    return merge_markdown(segments)


# ---------------------------------------------------------------------------
# ODS (spreadsheet) / ODP (presentation) — same container, sibling bodies
# ---------------------------------------------------------------------------

_NS["presentation"] = \
    "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0"

# ODS writers emit number-columns-repeated="16384" trailing fillers; cap
# the expansion so a hostile repeat cannot allocate unbounded cells
_MAX_REPEAT = 1024


def convert_ods(text: str) -> list[Segment]:
    """Base64 ODS payload → markdown segments: FIRST sheet through the
    uniform pipe-table renderer — xlsx-kernel parity (excel.go:31-38
    semantics: one sheet, cached display text).  Handles
    ``table:number-columns-repeated`` / ``number-rows-repeated`` with a
    hostile-repeat cap and trailing-empty trimming."""
    data = decode_binary_payload(text)
    try:
        zf = open_zip(data)
    except BadZip as exc:
        raise ConvertError(f"failed to convert document: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "mimetype" in names:
            mt = zf.read("mimetype").decode("ascii", "replace")
            if "opendocument" not in mt:
                raise ConvertError(f"not an ODS (mimetype {mt!r})")
        if "content.xml" not in names:
            raise ConvertError("incorrect document (no content.xml)")
        root = _parse_xml(zf.read("content.xml"))
        body = root.find(_q("office", "body"))
        sheet_body = body.find(_q("office", "spreadsheet")) \
            if body is not None else None
        if sheet_body is None:
            raise ConvertError("incorrect document (no office:spreadsheet)")
        table = sheet_body.find(_q("table", "table"))
        if table is None:
            return [md("")]
        walker = _OdtWalker(zf, _text_styles(root))
        rows: list[list[str]] = []
        for tr in table.findall(_q("table", "table-row")):
            row_rep = min(int(tr.get(_q("table", "number-rows-repeated"),
                                     "1") or 1), _MAX_REPEAT)
            cells: list[str] = []
            for tc in tr.findall(_q("table", "table-cell")):
                col_rep = min(int(tc.get(
                    _q("table", "number-columns-repeated"), "1") or 1),
                    _MAX_REPEAT)
                cell_text = walker.inline(tc).strip()
                cells.extend([cell_text] * col_rep)
            while cells and not cells[-1]:
                cells.pop()
            if cells:
                rows.extend([list(cells)] * row_rep)
    return [md(to_markdown_table(rows))]


def convert_odp(text: str) -> list[Segment]:
    """Base64 ODP payload → markdown segments: per-slide comment markers
    + frame text through the ODT block walker — pptx-kernel parity
    (pptx.go:227-231 slide loop shape)."""
    data = decode_binary_payload(text)
    try:
        zf = open_zip(data)
    except BadZip as exc:
        raise ConvertError(f"failed to convert document: {exc}") from exc
    with zf:
        names = set(zf.namelist())
        if "mimetype" in names:
            mt = zf.read("mimetype").decode("ascii", "replace")
            if "opendocument" not in mt:
                raise ConvertError(f"not an ODP (mimetype {mt!r})")
        if "content.xml" not in names:
            raise ConvertError("incorrect document (no content.xml)")
        root = _parse_xml(zf.read("content.xml"))
        body = root.find(_q("office", "body"))
        pres = body.find(_q("office", "presentation")) \
            if body is not None else None
        if pres is None:
            raise ConvertError("incorrect document (no office:presentation)")
        walker = _OdtWalker(zf, _text_styles(root))
        slide_no = 0
        for page in pres.findall(_q("draw", "page")):
            slide_no += 1
            walker.parts.append(f"<!-- Slide number: {slide_no} -->")
            for frame in page.iter(_q("draw", "frame")):
                is_title = frame.get(
                    _q("presentation", "class")) == "title"
                for box in frame.findall(_q("draw", "text-box")):
                    for child in box:
                        before = len(walker.parts)
                        walker.block(child)
                        if is_title:
                            for k in range(before, len(walker.parts)):
                                p = walker.parts[k]
                                if isinstance(p, str) \
                                        and not p.startswith("#"):
                                    walker.parts[k] = "# " + p
            for tbl in page.findall(_q("table", "table")):
                walker.block(tbl)

    segments: list[Segment] = []
    text_blocks: list[str] = []

    def flush() -> None:
        if text_blocks:
            segments.append(md("\n\n".join(text_blocks)))
            text_blocks.clear()

    for p in walker.parts:
        if isinstance(p, str):
            text_blocks.append(p)
        else:
            flush()
            segments.append(image(p[1], p[2]))
    flush()
    return merge_markdown(segments)
