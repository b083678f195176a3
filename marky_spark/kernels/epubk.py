"""EPUB → Markdown kernel (reference parity: internal/converters/epub.go).

- container.xml → first rootfile → OPF (metadata, manifest, spine)
  (epub.go:80-126);
- metadata header ``**Key:** value`` lines joined '\\n' (epub.go:210-255);
- spine items resolved through the manifest id→href map, each XHTML chapter
  converted via the O7 HTML kernel (kernel composition, not a Spark-level
  join), trimmed, empty/missing/broken chapters skipped (epub.go:134-162);
- parts joined '\\n\\n'.
"""

from __future__ import annotations

import posixpath
from xml.etree import ElementTree as ET

from .base import ConvertError, Segment, decode_binary_payload, md
from .base import local_name as _local
from .fastzip import BadZip, open_zip
from .htmlk import convert_html




def _parse(data: bytes, what: str) -> ET.Element:
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ConvertError(f"failed to parse {what}: {exc}") from exc


def _format_metadata(meta: ET.Element | None) -> str:
    """epub.go:210-255."""
    if meta is None:
        return ""
    titles: list[str] = []
    creators: list[str] = []
    single: dict[str, str] = {}
    for el in meta:
        name = _local(el.tag)
        text = (el.text or "").strip()
        if name == "title":
            titles.append(text)
        elif name == "creator":
            creators.append(text)
        elif name in ("language", "publisher", "date", "description",
                      "identifier") and name not in single:
            single[name] = text

    parts: list[str] = []
    if titles and titles[0]:
        parts.append("**Title:** " + titles[0])
    creators = [c for c in creators if c]
    if creators:
        parts.append("**Authors:** " + ", ".join(creators))
    for key, label in (
        ("language", "Language"),
        ("publisher", "Publisher"),
        ("date", "Date"),
        ("description", "Description"),
        ("identifier", "Identifier"),
    ):
        if single.get(key):
            parts.append(f"**{label}:** {single[key]}")
    return "\n".join(parts)


def convert_epub(text: str) -> list[Segment]:
    data = decode_binary_payload(text)
    try:
        zf = open_zip(data)
    except BadZip as exc:
        raise ConvertError(f"failed to open EPUB file: {exc}") from exc

    with zf:
        names = zf.names
        if "META-INF/container.xml" not in names:
            raise ConvertError("failed to find container.xml")
        container = _parse(zf.read("META-INF/container.xml"), "container.xml")

        rootfiles = [
            el for el in container.iter() if _local(el.tag) == "rootfile"
        ]
        if not rootfiles:
            raise ConvertError("no rootfiles found in container.xml")
        opf_path = None
        for k, v in rootfiles[0].attrib.items():
            if _local(k) == "full-path":
                opf_path = v
        if not opf_path or opf_path not in names:
            raise ConvertError(f"failed to find OPF file {opf_path}")

        pkg = _parse(zf.read(opf_path), "OPF file")
        meta = manifest = spine = None
        for el in pkg:
            name = _local(el.tag)
            if name == "metadata":
                meta = el
            elif name == "manifest":
                manifest = el
            elif name == "spine":
                spine = el

        manifest_map: dict[str, str] = {}
        if manifest is not None:
            for item in manifest:
                if _local(item.tag) == "item":
                    iid, href = item.get("id"), item.get("href")
                    if iid and href is not None:
                        manifest_map[iid] = href

        base_dir = posixpath.dirname(opf_path)

        # segment groups joined by '\n\n' (epub.go:162)
        groups: list[list[Segment]] = []
        metadata = _format_metadata(meta)
        if metadata:
            groups.append([md(metadata)])

        if spine is not None:
            for itemref in spine:
                if _local(itemref.tag) != "itemref":
                    continue
                idref = itemref.get("idref")
                href = manifest_map.get(idref or "")
                if href is None:
                    continue
                if base_dir not in (".", ""):
                    # normalize '../'/'./' segments (Go path.Join parity —
                    # epub.go resolves hrefs with a cleaning join)
                    href = posixpath.normpath(posixpath.join(base_dir, href))
                if href not in names:
                    continue  # skip missing files (epub.go:146-149)
                try:
                    chapter = zf.read(href).decode("utf-8", errors="replace")
                    # blacklist-only strip: a chapter IS content — density
                    # pruning would drop legitimate link-dense pages (TOC,
                    # index, title page), which the reference's
                    # html-to-markdown keeps (epub.go:134-162 applies the
                    # plain HTML converter); script/style/nav still drop.
                    # A chapter is XHTML: a self-closed element is empty
                    segs = convert_html(chapter, strip="blacklist",
                                        xhtml=True)
                except Exception:  # noqa: BLE001 — skip broken chapters
                    continue
                if "".join(s[1] for s in segs).strip():
                    groups.append(segs)

    out: list[Segment] = []
    for i, group in enumerate(groups):
        if i:
            out.append(md("\n\n"))
        out.extend(group)
    from .base import merge_markdown

    return merge_markdown(out)
