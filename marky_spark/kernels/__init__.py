"""Converter kernel registry.

Mirrors the reference's ordered converter registry (lib.go:9-24, registration
order CSV, DOCX, EPUB, XLSX, HTML, ipynb, PDF, PPTX; first match wins —
marky.go:35-39). Here dispatch is by the explicit ``kind`` column of the span
table, so the registry is an ordered dict: key order preserves the
reference's precedence for documentation/extension parity, and
``RegisterConverter`` (marky.go:21-23) maps to plain dict assignment.
"""

from __future__ import annotations

from collections.abc import Callable

from .base import (
    IMAGE,
    MARKDOWN,
    ConvertError,
    Segment,
    image,
    md,
    merge_markdown,
    segments_text,
)
from .csvk import convert_csv, convert_tsv
from .docxk import convert_docx
from .emlk import convert_eml
from .epubk import convert_epub
from .feedk import convert_feed
from .htmlk import convert_html
from .ipynbk import convert_ipynb
from .odtk import convert_odp, convert_ods, convert_odt
from .pdfk import convert_pdf
from .pptxk import convert_pptx
from .rtfk import convert_rtf
from .xlsxk import convert_xlsx

Kernel = Callable[[str], list[Segment]]


def _convert_text(text: str) -> list[Segment]:
    """Plain-text / pre-converted markdown passthrough."""
    return [md(text)]


# Ordered to mirror lib.go:14-21 (csv, docx, epub, xlsx, html, ipynb, pdf,
# pptx); the beyond-the-reference kinds append after the reference's eight,
# like RegisterConverter would.
REGISTRY: dict[str, Kernel] = {
    "csv": convert_csv,
    "docx": convert_docx,
    "epub": convert_epub,
    "xlsx": convert_xlsx,
    "html": convert_html,
    "ipynb": convert_ipynb,
    "pdf": convert_pdf,
    "pptx": convert_pptx,
    "rtf": convert_rtf,
    "odt": convert_odt,
    "ods": convert_ods,
    "odp": convert_odp,
    "eml": convert_eml,
    "feed": convert_feed,
    "tsv": convert_tsv,
    "text": _convert_text,
    "markdown": _convert_text,
}

# Media span kinds that pass through conversion unchanged (FIXTURES.md §1).
MEDIA_KINDS = frozenset({"image", "media", "audio", "video"})

# Per-converter accepted extensions + MIME types — the reference Converter
# interface surface (model.go:5-15), lists verbatim from each converter's
# NewBaseConverter call (csv.go:19-22, docx.go:28-35, epub.go:23-30,
# excel.go:19-26, html.go:18-21, ipynb.go:18-21, pdf.go:18-21,
# pptx.go:25-31). Used by the CLI's extension fallback and exposed for API
# parity (a reference user can query the same metadata).
CONVERTER_META: dict[str, dict[str, tuple[str, ...]]] = {
    "csv": {
        "extensions": (".csv",),
        "mime_types": ("text/csv", "application/csv"),
    },
    "docx": {
        "extensions": (".docx", ".doc"),
        "mime_types": (
            "application/vnd.openxmlformats-officedocument."
            "wordprocessingml.document",
            "application/vnd.openxmlformats-officedocument.wordprocessingml",
            "application/msword",
        ),
    },
    "epub": {
        "extensions": (".epub",),
        "mime_types": ("application/epub", "application/epub+zip",
                       "application/x-epub+zip"),
    },
    "xlsx": {
        "extensions": (".xlsx", ".xls"),
        "mime_types": (
            "application/vnd.openxmlformats-officedocument."
            "spreadsheetml.sheet",
            "application/vnd.openxmlformats-officedocument.spreadsheetml",
            "application/vnd.ms-excel",
        ),
    },
    "html": {
        "extensions": (".html", ".htm"),
        "mime_types": ("text/html",),
    },
    "ipynb": {
        "extensions": (".ipynb",),
        "mime_types": ("application/x-ipynb+json", "application/json"),
    },
    "pdf": {
        "extensions": (".pdf",),
        "mime_types": ("application/pdf",),
    },
    "pptx": {
        "extensions": (".pptx",),
        "mime_types": (
            "application/vnd.openxmlformats-officedocument."
            "presentationml.presentation",
            "application/vnd.openxmlformats-officedocument.presentationml",
        ),
    },
    # beyond-the-reference kinds (RegisterConverter extension point,
    # marky.go:21-23): legacy office formats real crawls carry
    "rtf": {
        "extensions": (".rtf",),
        "mime_types": ("application/rtf", "text/rtf"),
    },
    "odt": {
        "extensions": (".odt",),
        "mime_types": ("application/vnd.oasis.opendocument.text",),
    },
    "ods": {
        "extensions": (".ods",),
        "mime_types": ("application/vnd.oasis.opendocument.spreadsheet",),
    },
    "odp": {
        "extensions": (".odp",),
        "mime_types": ("application/vnd.oasis.opendocument.presentation",),
    },
    "eml": {
        "extensions": (".eml", ".mbox"),
        "mime_types": ("message/rfc822",),
    },
    "feed": {
        "extensions": (".rss", ".atom"),
        "mime_types": ("application/rss+xml", "application/atom+xml"),
    },
    "tsv": {
        "extensions": (".tsv", ".tab"),
        "mime_types": ("text/tab-separated-values",),
    },
}


def accepted_extensions(kind: str) -> tuple[str, ...]:
    """Converter.AcceptedExtensions parity (model.go:9-10)."""
    meta = CONVERTER_META.get(kind)
    return meta["extensions"] if meta else ()


def accepted_mime_types(kind: str) -> tuple[str, ...]:
    """Converter.AcceptedMimeTypes parity (model.go:6-7)."""
    meta = CONVERTER_META.get(kind)
    return meta["mime_types"] if meta else ()


def register(kind: str, kernel: Kernel) -> None:
    """Extension point — reference parity: Marky.RegisterConverter (marky.go:21-23)."""
    REGISTRY[kind] = kernel


__all__ = [
    "REGISTRY",
    "MEDIA_KINDS",
    "CONVERTER_META",
    "accepted_extensions",
    "accepted_mime_types",
    "Kernel",
    "register",
    "ConvertError",
    "Segment",
    "IMAGE",
    "MARKDOWN",
    "image",
    "md",
    "merge_markdown",
    "segments_text",
]
