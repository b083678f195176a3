"""Single-file CLI — reference parity: cmd/marky/main.go:15-51.

``python -m marky_spark.cli <input> [-o output]`` converts ONE local file to
Markdown through the same kernels the Spark pipeline runs, with the
reference's dispatch semantics: content sniffing first (magic bytes — the Go
side uses mimetype.DetectFile, marky.go:29), extension fallback, first match
wins in registry order (lib.go:14-21). ``-o console`` (the default) prints to
stdout; any other value writes the file. Exit 1 on any error
(cmd/marky/main.go:23-25, 43).

For corpus-scale conversion use ``scripts/convert_job.py`` (the table-level
driver); this entry point exists so every reference invocation has a drop-in
equivalent.
"""

from __future__ import annotations

import argparse
import io
import json
import sys
import zipfile


def _ext_kind_map() -> dict[str, str]:
    """Extension→kind from the registry's reference-verbatim metadata
    (kernels.CONVERTER_META), plus text/markdown extras the span table
    supports natively."""
    from .kernels import CONVERTER_META

    out = {
        ext.lstrip("."): kind
        for kind, meta in CONVERTER_META.items()
        for ext in meta["extensions"]
    }
    out.update({"xhtml": "html", "md": "markdown", "markdown": "markdown",
                "txt": "text"})
    return out


_EXT_KIND = _ext_kind_map()


# magic-byte table for common UNSUPPORTED types: the reference's mimetype
# library (marky.go:29) detects a large type set, so its "no converter found"
# error names the actual type; this table reproduces that specificity for
# the types most likely to hit a document pipeline. Detection only — none of
# these gain converters.
_UNSUPPORTED_MAGIC: tuple[tuple[bytes, str], ...] = (
    (b"\x89PNG\r\n\x1a\n", "image/png"),
    (b"\xff\xd8\xff", "image/jpeg"),
    (b"GIF87a", "image/gif"),
    (b"GIF89a", "image/gif"),
    (b"BM", "image/bmp"),
    (b"II*\x00", "image/tiff"),
    (b"MM\x00*", "image/tiff"),
    (b"\x1f\x8b", "application/gzip"),
    (b"7z\xbc\xaf\x27\x1c", "application/x-7z-compressed"),
    (b"Rar!\x1a\x07", "application/x-rar-compressed"),
    (b"\x25\x21PS", "application/postscript"),
    (b"OggS", "audio/ogg"),
    (b"fLaC", "audio/flac"),
    (b"ID3", "audio/mpeg"),
    (b"\x00\x00\x00\x1cftyp", "video/mp4"),
    (b"\x00\x00\x00\x18ftyp", "video/mp4"),
    (b"\x1aE\xdf\xa3", "video/webm"),
    (b"%!", "application/postscript"),
    (b"SQLite format 3\x00", "application/vnd.sqlite3"),
    (b"\x7fELF", "application/x-executable"),
    (b"MZ", "application/x-msdownload"),
)


def sniff_mime_unsupported(data: bytes) -> str | None:
    """Best-effort mime of a payload we can detect but not convert — used
    to make the no-converter error as specific as the reference's
    (mimetype.DetectFile names the type; marky.go:41)."""
    if data[:4] == b"RIFF" and len(data) >= 12:
        sub = data[8:12]
        if sub == b"WEBP":
            return "image/webp"
        if sub == b"WAVE":
            return "audio/wav"
        if sub == b"AVI ":
            return "video/x-msvideo"
    for magic, mime in _UNSUPPORTED_MAGIC:
        if data.startswith(magic):
            return mime
    return None


def sniff_kind(path: str, data: bytes) -> str | None:
    """Content sniffing with extension fallback (marky.go:29, :35-39).

    Magic bytes decide PDF and the four zip containers (distinguished by
    their well-known member prefixes, as libmagic/mimetype do); textual
    formats fall back to the extension, then to cheap structure checks.
    """
    if data.startswith(b"%PDF-"):
        return "pdf"
    if data.startswith(b"PK\x03\x04"):
        try:
            zf = zipfile.ZipFile(io.BytesIO(data))
            names = zf.namelist()
        except zipfile.BadZipFile:
            return None
        # the EPUB spec (OCF 3.0 §3.3) makes the 'mimetype' member's
        # CONTENT authoritative — check it before the Office prefixes so
        # an EPUB that also carries a root word/ or xl/ member cannot be
        # misclassified as an Office container
        if "mimetype" in names:
            try:
                mt = zf.read("mimetype").strip()
                if mt == b"application/epub+zip":
                    return "epub"
                if mt == b"application/vnd.oasis.opendocument.text":
                    return "odt"
                if mt == b"application/vnd.oasis.opendocument.spreadsheet":
                    return "ods"
                if mt == b"application/vnd.oasis.opendocument.presentation":
                    return "odp"
            except Exception:  # noqa: BLE001 — unreadable member: fall
                pass           # through to the structural checks below
        # per-name prefix checks: substring containment over the joined list
        # would let a member like 'password/x' match 'word/' (and run before
        # the epub check, misclassifying EPUBs)
        if any(n.startswith("word/") for n in names):
            return "docx"
        if any(n.startswith("xl/") for n in names):
            return "xlsx"
        if any(n.startswith("ppt/") for n in names):
            return "pptx"
        if "META-INF/container.xml" in names or "mimetype" in names:
            return "epub"
        return None
    ext = path.rsplit(".", 1)[-1].lower() if "." in path else ""
    if ext in _EXT_KIND:
        return _EXT_KIND[ext]
    head = data[:256].lstrip()
    if head.startswith(b"{\\rtf"):
        return "rtf"
    if head.startswith(b"<"):
        # feeds are XML that would otherwise sniff as html
        from .kernels.feedk import looks_like_feed

        if looks_like_feed(data[:2048].decode("utf-8", "replace")):
            return "feed"
        return "html"
    first = head.split(b"\n", 1)[0].lower()
    if first.split(b":", 1)[0] in (b"from", b"received", b"return-path",
                                   b"message-id", b"subject", b"to",
                                   b"date", b"mime-version") \
            and b":" in first:
        return "eml"
    if head.startswith(b"{"):
        try:
            if "cells" in json.loads(data.decode("utf-8", "replace")):
                return "ipynb"
        except (ValueError, AttributeError):
            pass
    return None


def convert_file(path: str) -> str:
    """path → Markdown string, or raise ConvertError (marky.go:27-41)."""
    from .kernels import REGISTRY, ConvertError, segments_text
    from .kernels.base import encode_payload

    with open(path, "rb") as f:
        data = f.read()
    kind = sniff_kind(path, data)
    if kind is None or kind not in REGISTRY:
        # marky.go:41 — no converter found for the detected type; name the
        # detected mime when we can (reference: mimetype.DetectFile)
        mime = sniff_mime_unsupported(data)
        detail = f"detected type {mime}" if mime else f"file {path!r}"
        raise ConvertError(f"no converter found for {detail}")
    return segments_text(REGISTRY[kind](encode_payload(kind, data)))


def _write_file_0644(path: str, text: str) -> None:
    """Parity with Go's os.WriteFile(path, data, 0o644)
    (marky-mcp/main.go:58, cmd/marky/main.go:38): create with mode 0644
    (umask still applies, as in Go), truncate if present. Shared by the CLI
    ``-o`` path and the MCP ``output`` param."""
    import os

    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    with os.fdopen(fd, "w", encoding="utf-8") as f:
        f.write(text)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="marky", description="Convert a document to Markdown")
    ap.add_argument("input", help="path of the file to convert")
    ap.add_argument("-o", "--output", default="console",
                    help="output file path, or 'console' for stdout")
    args = ap.parse_args(argv)

    import os

    if not os.path.exists(args.input):  # cmd/marky/main.go:23-25
        print(f"error: input file {args.input!r} does not exist",
              file=sys.stderr)
        return 1
    from .kernels import ConvertError

    try:
        markdown = convert_file(args.input)
    except (ConvertError, OSError) as exc:
        # OSError: permission denied / directory-as-file — the reference
        # surfaces these as conversion errors too (pdf_test.go:66-99)
        print(f"error: {exc}", file=sys.stderr)
        return 1
    if args.output == "console":  # cmd/marky/main.go:33-42
        print(markdown)
    else:
        try:
            _write_file_0644(args.output, markdown)  # WriteFile(..., 0o644)
        except OSError as exc:
            print(f"error: {exc}", file=sys.stderr)
            return 1
        print(f"Content written to {args.output}")  # cmd/marky/main.go:41
    return 0


if __name__ == "__main__":
    sys.exit(main())
