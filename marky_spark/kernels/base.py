"""Kernel output model shared by all format converters.

A converter kernel takes one source payload (the ``text`` of an input span)
and returns an ordered list of output *segments* ``(kind, text, media_ref)``:

- ``kind='markdown'`` — a run of converted Markdown text (``media_ref=''``)
- ``kind='image'``    — an image placeholder; ``text`` is the exact inline
  Markdown the reference would emit (``![alt](target)``) and ``media_ref`` is
  the opaque reference (src URL / zip member / data-URI), preserved verbatim
  per the BASELINE.json input_hint ("media placeholders survive conversion").

Concatenating ``text`` over all segments of one payload reproduces the
reference's Markdown string for that payload byte-for-byte; splitting at
images is lossless by construction.

Kernels raise :class:`ConvertError` on invalid input; the Spark layer maps
that to a ``status='error'`` row (poison-pill isolation, never a task
failure) — reference analogue: the error return of marky.go:41.
"""

from __future__ import annotations

import base64
import binascii
import re

Segment = tuple[str, str, str]

MARKDOWN = "markdown"
IMAGE = "image"


class ConvertError(Exception):
    """Per-document conversion failure (becomes a status='error' row)."""


_LOCAL_CACHE: dict[str, str] = {}


def local_name(tag: str) -> str:
    """Strip the '{ns}' prefix from an ElementTree tag. Memoized (bounded):
    the OOXML/EPUB tag vocabulary is small and the kernels dispatch on
    localname in their hottest walks."""
    loc = _LOCAL_CACHE.get(tag)
    if loc is None:
        loc = tag.rsplit("}", 1)[-1]
        if len(_LOCAL_CACHE) < 4096:  # bound executor-lifetime growth
            _LOCAL_CACHE[tag] = loc
    return loc


def md(text: str) -> Segment:
    return (MARKDOWN, text, "")


def image(text: str, media_ref: str) -> Segment:
    return (IMAGE, text, media_ref)


def merge_markdown(segments: list[Segment]) -> list[Segment]:
    """Coalesce adjacent markdown segments; drop empty markdown runs.

    Buffered join, not pairwise concatenation — a mega-document collapsing
    tens of thousands of segments into one would otherwise go quadratic."""
    out: list[Segment] = []
    buf: list[str] = []
    for seg in segments:
        if seg[0] == MARKDOWN:
            if seg[1]:
                buf.append(seg[1])
            continue
        if buf:
            out.append((MARKDOWN, "".join(buf), ""))
            buf = []
        out.append(seg)
    if buf:
        out.append((MARKDOWN, "".join(buf), ""))
    return out


def segments_text(segments: list[Segment]) -> str:
    """The reference's Markdown string = concatenation of segment texts."""
    return "".join(s[1] for s in segments)


#: kinds whose kernels take base64 span text (the zip containers and PDF);
#: every other kind travels as its own UTF-8 source text
BINARY_KINDS = frozenset({"docx", "xlsx", "pptx", "epub", "pdf",
                          "odt", "ods", "odp"})


def encode_payload(kind: str, data: bytes) -> str:
    """Raw file bytes → the span ``text`` the ``kind`` kernel expects: the
    inverse of :func:`decode_binary_payload` for binary kinds, UTF-8
    (undecodable bytes replaced) for the rest. Every ingest door and the
    CLI build their spans through this one rule."""
    if kind in BINARY_KINDS:
        return base64.b64encode(data).decode("ascii")
    return data.decode("utf-8", "replace")


def decode_binary_payload(text: str) -> bytes:
    """Binary formats (:data:`BINARY_KINDS`) travel base64-encoded in the
    span ``text`` field (the input table is all-string per the reference's
    type system, SURVEY.md §1.2)."""
    try:
        return base64.b64decode(text, validate=True)
    except (binascii.Error, ValueError) as exc:
        raise ConvertError(f"invalid base64 payload: {exc}") from exc


# a comment, CDATA section or PI (each running to its terminator or, when
# unterminated, to the end, so the scan stays linear), else a bare '<!'
_XML_MARKUP = re.compile(
    r"<(?:!--.*?(?:-->|\Z)|!\[CDATA\[.*?(?:\]\]>|\Z)|\?.*?(?:\?>|\Z)|(!))",
    re.S)
_XML_MARKUP_B = re.compile(_XML_MARKUP.pattern.encode(), re.S)


def has_dtd(xml: str | bytes) -> bool:
    """True when an XML document carries a markup declaration
    (``<!DOCTYPE`` / ``<!ENTITY``) anywhere: the whole prolog, however
    long, with the XML declaration, comments and PIs skipped, and the body
    too, with CDATA sections skipped. xml.etree offers no entity-expansion
    limits, and the formats that call this never carry DTDs, so an
    internal subset is hostile by construction."""
    pattern = _XML_MARKUP if isinstance(xml, str) else _XML_MARKUP_B
    return any(m.group(1) for m in pattern.finditer(xml))
