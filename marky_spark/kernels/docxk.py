"""DOCX → Markdown kernel (reference parity: internal/converters/docx.go).

stdlib-only: ``zipfile`` + ``xml.etree.ElementTree`` over the OOXML parts.
Payload arrives base64-encoded in the span text (binary formats travel as
strings — SURVEY.md §1.2).

Implemented operators (SURVEY.md §2.1):
- O11 zip+rels+numbering preamble (docx.go:650-699)
- O12 recursive node walk with local-name switch (docx.go:220-259)
- O13 run styling ~~/**/* with escape set ``*~\\`` (docx.go:559-604)
- O14 hyperlink [inner](rels target), ``[]``/``()`` escapes (docx.go:263-285)
- O15 paragraph props: ind→2-space indent ×(left/360), HeadingN/numeric
      pStyle→#×N, Code→backtick wrap (docx.go:287-356)
- O16 stateful list numbering per (numId, indent) (docx.go:358-447)
- O17 width-padded table with empty synthesized header (docx.go:449-557)
- O18 image extract: blip@embed → rels → zip member → base64 data-URI image
      segment, media_ref = zip member path (docx.go:606-618, 176-209; always
      embed-mode — the engine never writes local files)
- O19 textbox → fenced block (docx.go:243-250)

Deliberate deviation, pinned by our goldens: the reference's Code-style
backtick wrap emits both backticks *before* the paragraph text (a quirk of
walking pPr children twice, docx.go:299-313); we wrap the paragraph content
(`` `text` ``) as FIXTURES.md specifies.
"""

from __future__ import annotations

import base64
from xml.etree import ElementTree as ET

from .base import ConvertError, Segment, decode_binary_payload, image, md, merge_markdown
from .base import local_name as _local
from .fastzip import BadZip, open_zip
from .mdtable import _escape, docx_table

# parts model: str = markdown text, tuple = ('img', markdown_text, media_ref)
_Part = str | tuple[str, str, str]


def _attr(el: ET.Element, name: str) -> str | None:
    """The first attribute whose local name is ``name``, in any namespace."""
    suffix = "}" + name
    for k, v in el.attrib.items():
        if k == name or k.endswith(suffix):
            return v
    return None


def _parse_xml(data: bytes) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ConvertError(f"invalid XML: {exc}") from exc


# A cell holds its inner table's rows on one line, and every row is padded
# to its columns' widest cells, so a table's markdown can be far larger
# than its XML (each level of nesting triples it). The tables of one
# document may write about this many characters.
_MAX_TABLE_CHARS = 1 << 25


class _TablesTooLarge(ConvertError):
    """The tables' markdown is over ``_MAX_TABLE_CHARS``: the whole
    document is an error row, not an empty cell."""


class _NumberingLevel:
    __slots__ = ("num_fmt", "start", "indent")

    def __init__(self, num_fmt: str, start: int, indent: int):
        self.num_fmt = num_fmt
        self.start = start
        self.indent = indent


class _DocxFile:
    """Per-document conversion state (reference `file` struct, docx.go:143-149)."""

    def __init__(self, zf):
        self.zf = zf
        self.rels: dict[str, str] = {}
        # numId → abstractNumId; abstractNumId → {ilvl: level}
        self.num_map: dict[str, str] = {}
        self.abstract: dict[str, dict[str, _NumberingLevel]] = {}
        self.list_counters: dict[str, int] = {}
        self.table_chars = 0  # markdown the tables have written

    # -- preamble (O11) ------------------------------------------------------

    def load_preamble(self) -> None:
        names = self.zf.namelist()
        for rels_name in ("word/_rels/document.xml.rels",
                          "word/_rels/document2.xml.rels"):
            if rels_name in names:
                root = _parse_xml(self.zf.read(rels_name))
                for rel in root:
                    if _local(rel.tag) == "Relationship":
                        rid = rel.get("Id")
                        target = rel.get("Target")
                        if rid and target is not None:
                            self.rels[rid] = target
        if "word/numbering.xml" in names:
            self._load_numbering(self.zf.read("word/numbering.xml"))

    def _load_numbering(self, data: bytes) -> None:
        root = _parse_xml(data)
        for el in root:
            name = _local(el.tag)
            if name == "num":
                num_id = _attr(el, "numId")
                for child in el:
                    if _local(child.tag) == "abstractNumId":
                        val = _attr(child, "val")
                        if num_id and val is not None:
                            self.num_map[num_id] = val
            elif name == "abstractNum":
                ab_id = _attr(el, "abstractNumId")
                levels: dict[str, _NumberingLevel] = {}
                for lvl in el:
                    if _local(lvl.tag) != "lvl":
                        continue
                    ilvl = _attr(lvl, "ilvl") or ""
                    num_fmt, start, indent = "", 1, 0
                    for prop in lvl:
                        pname = _local(prop.tag)
                        if pname == "start":
                            try:
                                start = int(_attr(prop, "val") or "")
                            except ValueError:
                                pass
                        elif pname == "numFmt":
                            num_fmt = _attr(prop, "val") or ""
                        elif pname == "pPr":
                            for ind in prop:
                                if _local(ind.tag) == "ind":
                                    try:
                                        indent = int(_attr(ind, "left") or "") // 360
                                    except ValueError:
                                        pass
                    levels[ilvl] = _NumberingLevel(num_fmt, start, indent)
                if ab_id:
                    self.abstract[ab_id] = levels

    # -- walk (O12) ----------------------------------------------------------

    def walk(self, node: ET.Element) -> list[_Part]:
        name = _local(node.tag)
        if name == "hyperlink":
            return self._hyperlink(node)
        if name == "t":
            return ["".join(node.itertext())]
        if name == "tbl":
            return self._table(node)
        if name == "r":
            return self._run(node)
        if name == "p":
            return self._paragraph(node)
        if name == "blip":
            return self._blip(node)
        if name == "Fallback":
            return []
        if name == "txbxContent":
            inner = _parts_text(self._walk_children(node))
            return [f"\n```\n{inner}```\n"]
        return self._walk_children(node)

    def _walk_children(self, node: ET.Element) -> list[_Part]:
        out: list[_Part] = []
        for child in node:
            out.extend(self.walk(child))
        return out

    # -- paragraph + pPr (O15, O16) -------------------------------------------

    def _paragraph(self, node: ET.Element) -> list[_Part]:
        prefix: list[str] = []
        body: list[_Part] = []
        code = False
        for child in node:
            if _local(child.tag) == "pPr":
                code = self._ppr(child, prefix) or code
            else:
                body.extend(self.walk(child))
        if code:
            body = ["`"] + body + ["`"]
        return prefix + body + ["\n"]

    def _ppr(self, node: ET.Element, out: list[str]) -> bool:
        code = False
        for child in node:
            name = _local(child.tag)
            if name == "ind":
                left = _attr(child, "left")
                if left is not None:
                    try:
                        i = int(left)
                        if i > 0:
                            out.append("  " * (i // 360))
                    except ValueError:
                        pass
            elif name == "pStyle":
                val = _attr(child, "val")
                if val is None:
                    continue
                if val.startswith("Heading"):
                    try:
                        i = int(val[7:])
                        if i > 0:
                            out.append("#" * i + " ")
                    except ValueError:
                        pass
                elif val == "Code":
                    code = True
                else:
                    try:
                        i = int(val)
                        if i > 0:
                            out.append("#" * i + " ")
                    except ValueError:
                        pass
            elif name == "numPr":
                self._num_pr(child, out)
        return code

    def _num_pr(self, node: ET.Element, out: list[str]) -> None:
        num_id, ilvl = "", ""
        for child in node:
            name = _local(child.tag)
            if name == "numId":
                num_id = _attr(child, "val") or num_id
            elif name == "ilvl":
                ilvl = _attr(child, "val") or ilvl

        num_fmt, start, indent = "", 1, 0
        level = self.abstract.get(self.num_map.get(num_id, ""), {}).get(ilvl)
        if level is not None:
            num_fmt, start, indent = level.num_fmt, level.start, level.indent

        out.append("  " * indent)
        if num_fmt in ("decimal", "aiueoFullWidth"):
            key = f"{num_id}:{indent}"
            if key not in self.list_counters:
                self.list_counters[key] = start
            else:
                self.list_counters[key] += 1
            out.append(f"{self.list_counters[key]}. ")
        elif num_fmt == "bullet":
            out.append("* ")

    # -- runs (O13) ------------------------------------------------------------

    def _run(self, node: ET.Element) -> list[_Part]:
        bold = italic = strike = False
        for child in node:
            if _local(child.tag) != "rPr":
                continue
            for prop in child:
                pname = _local(prop.tag)
                if pname == "b":
                    bold = True
                elif pname == "i":
                    italic = True
                elif pname == "strike":
                    strike = True
        inner = self._walk_children(node)
        # escape set *~\ applies to text content only (docx.go:599)
        inner = [_escape(p, "*~\\") if isinstance(p, str) else p for p in inner]
        open_marks = ("~~" if strike else "") + ("**" if bold else "") + ("*" if italic else "")
        close_marks = ("*" if italic else "") + ("**" if bold else "") + ("~~" if strike else "")
        if open_marks:
            return [open_marks, *inner, close_marks]
        return inner

    # -- hyperlink (O14) --------------------------------------------------------

    def _hyperlink(self, node: ET.Element) -> list[_Part]:
        inner = self._walk_children(node)
        inner = [_escape(p, "[]") if isinstance(p, str) else p for p in inner]
        target = ""
        rid = _attr(node, "id")
        if rid and rid in self.rels:
            target = _escape(self.rels[rid], "()")
        return ["[", *inner, f"]({target})"]

    # -- table (O17) -------------------------------------------------------------

    def _table(self, node: ET.Element) -> list[_Part]:
        rows: list[list[str]] = []
        for tr in node:
            if _local(tr.tag) != "tr":
                continue
            cols: list[str] = []
            for tc in tr:
                if _local(tc.tag) != "tc":
                    continue
                try:
                    text = _parts_text(self.walk(tc))
                except _TablesTooLarge:
                    raise
                except ConvertError:
                    text = ""  # continue on cell failure (docx.go:484-488)
                cols.append(text.replace("\n", ""))
            if cols:
                rows.append(cols)
        if not rows:
            return []
        # every row is as wide as the longest cells of its columns
        longest = [0] * max(map(len, rows))
        for cols in rows:
            for j, text in enumerate(cols):
                if len(text) > longest[j]:
                    longest[j] = len(text)
        self.table_chars += (len(rows) + 2) * (sum(longest) + len(longest) + 1)
        if self.table_chars > _MAX_TABLE_CHARS:
            raise _TablesTooLarge(
                f"tables longer than {_MAX_TABLE_CHARS} characters")
        return [docx_table(rows)]

    # -- image (O18) ---------------------------------------------------------------

    def _blip(self, node: ET.Element) -> list[_Part]:
        rid = _attr(node, "embed")
        if not rid or rid not in self.rels:
            return []
        target = self.rels[rid]
        member = f"word/{target}"
        try:
            blob = self.zf.read(member)
        except KeyError:
            return []
        b64 = base64.b64encode(blob).decode("ascii")
        return [("img", f"![](data:image/png;base64,{b64})", member)]


def _parts_text(parts: list[_Part]) -> str:
    return "".join(p if isinstance(p, str) else p[1] for p in parts)


def _document_member(names: list[str]) -> str | None:
    """The first member matching ``word/document*.xml``."""
    for n in names:
        if n.startswith("word/document") and n.endswith(".xml") \
                and len(n) >= 17:
            return n
    return None


def convert_docx(text: str) -> list[Segment]:
    data = decode_binary_payload(text)
    try:
        zf = open_zip(data)
    except BadZip as exc:
        raise ConvertError(f"failed to convert document: {exc}") from exc

    with zf:
        doc = _DocxFile(zf)
        doc.load_preamble()
        member = _document_member(zf.namelist())
        if member is None:
            raise ConvertError("incorrect document")
        root = _parse_xml(zf.read(member))
        parts = doc.walk(root)

    segments: list[Segment] = []
    for p in parts:
        if isinstance(p, str):
            segments.append(md(p))
        else:
            segments.append(image(p[1], p[2]))
    return merge_markdown(segments)
