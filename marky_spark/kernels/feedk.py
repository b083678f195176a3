"""RSS 2.0 / Atom feed → Markdown kernel (beyond-the-reference).

Feeds are crawl staples (every blog/news site publishes one); the
reference registry (lib.go:14-21) has no feed converter.  Written from
the public RSS 2.0 specification and RFC 4287 (Atom).

- RSS: ``<rss><channel>`` → channel title as the ``#`` heading +
  description; each ``<item>`` → ``## [title](link)``, the pubDate as
  an italic line, and the description/content rendered through the
  registry's REAL HTML kernel (descriptions are entity-escaped HTML in
  the wild — kernels/htmlk handles both escaped fragments and plain
  text),
- Atom (RFC 4287): ``<feed>`` → title heading; each ``<entry>`` →
  ``## [title](link@href)`` (the ``rel="alternate"`` link, or the
  first), updated/published as the date line, ``summary``/``content``
  through the same HTML path,
- namespaced variants (content:encoded, the Atom default namespace)
  resolve by LOCAL NAME, the lenient walk real aggregators use.

Hostile input (not XML, neither rss nor feed root) raises
:class:`ConvertError` — the poison-pill contract.
"""
from __future__ import annotations

import xml.etree.ElementTree as ET

from .base import ConvertError, Segment, has_dtd, md, merge_markdown
from .htmlk import convert_html
from .mdtable import _escape


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1] if "}" in tag else tag


def _child_text(el: ET.Element, name: str) -> str:
    for c in el:
        if _local(c.tag) == name:
            return "".join(c.itertext()).strip()
    return ""


def _atom_link(entry: ET.Element) -> str:
    first = ""
    for c in entry:
        if _local(c.tag) == "link":
            href = c.get("href", "")
            if not first:
                first = href
            if c.get("rel", "alternate") == "alternate":
                return href
    return first


def looks_like_feed(text: str) -> bool:
    head = text.lstrip()[:512].lower()
    if head.startswith("<?xml"):
        head = head.split("?>", 1)[-1].lstrip()
    return head.startswith(("<rss", "<feed"))


def _html_to_md(fragment: str) -> str:
    if not fragment.strip():
        return ""
    segs = convert_html(fragment)
    return "\n\n".join(s[1] for s in segs if s[0] == "markdown").strip()


def convert_feed(text: str) -> list[Segment]:
    """RSS/Atom XML text → markdown segments (registry kernel)."""
    if not looks_like_feed(text):
        raise ConvertError("not a feed (no <rss>/<feed> root)")
    if has_dtd(text):
        raise ConvertError("feed carries a DTD (rejected)")
    try:
        root = ET.fromstring(text)
    except ET.ParseError as exc:
        raise ConvertError(f"malformed feed XML: {exc}") from exc

    blocks: list[str] = []
    rootname = _local(root.tag)
    if rootname == "rss":
        channel = next((c for c in root if _local(c.tag) == "channel"),
                       None)
        if channel is None:
            raise ConvertError("RSS feed without a <channel>")
        title = _child_text(channel, "title")
        if title:
            blocks.append(f"# {_escape(title, '*~')}")
        desc = _html_to_md(_child_text(channel, "description"))
        if desc:
            blocks.append(desc)
        for item in channel:
            if _local(item.tag) != "item":
                continue
            ititle = _child_text(item, "title") or "(untitled)"
            link = _child_text(item, "link")
            head = (f"## [{_escape(ititle, '[]')}]({_escape(link, '()')})"
                    if link else f"## {_escape(ititle, '*~')}")
            blocks.append(head)
            date = _child_text(item, "pubDate")
            if date:
                blocks.append(f"*{date}*")
            body = (_child_text(item, "encoded")      # content:encoded
                    or _child_text(item, "description"))
            body_md = _html_to_md(body)
            if body_md:
                blocks.append(body_md)
    elif rootname == "feed":
        title = _child_text(root, "title")
        if title:
            blocks.append(f"# {_escape(title, '*~')}")
        sub = _child_text(root, "subtitle")
        if sub:
            blocks.append(_escape(sub, "*~"))
        for entry in root:
            if _local(entry.tag) != "entry":
                continue
            etitle = _child_text(entry, "title") or "(untitled)"
            link = _atom_link(entry)
            head = (f"## [{_escape(etitle, '[]')}]({_escape(link, '()')})"
                    if link else f"## {_escape(etitle, '*~')}")
            blocks.append(head)
            date = (_child_text(entry, "updated")
                    or _child_text(entry, "published"))
            if date:
                blocks.append(f"*{date}*")
            body = (_child_text(entry, "content")
                    or _child_text(entry, "summary"))
            body_md = _html_to_md(body)
            if body_md:
                blocks.append(body_md)
    else:  # pragma: no cover — looks_like_feed gates the roots
        raise ConvertError(f"unsupported feed root <{rootname}>")
    return merge_markdown([md("\n\n".join(blocks))])
