"""EML (RFC 5322 email) → Markdown kernel (beyond-the-reference).

Mail archives are a major real-corpus slice (mailing lists, MBOX
dumps, support exports); the reference's registry (lib.go:14-21) has
no mail converter, so this extends it through the RegisterConverter
extension point (marky.go:21-23).  Parsing rides the stdlib ``email``
package (RFC 5322 headers, MIME multipart, base64 / quoted-printable
transfer decoding, charset resolution) — the kernel's work is the
DOCUMENT MODEL: which parts carry content, in what order, and how they
render.

- header block: Subject → ``#`` heading; From / To / Cc / Date as a
  bold-labeled line each (only those present),
- multipart/alternative: the RICHEST alternative wins (text/html over
  text/plain) — the html part renders through the registry's real
  HTML kernel (tokenizer + DOM + boilerplate, kernels/htmlk), so one
  message exercises both kernels,
- multipart/mixed (and nested multiparts): parts render in order,
- text/plain: verbatim markdown body (charset-decoded, CRLF folded),
- image/* attachments: data-URI image segments exactly like DOCX O18
  (bytes travel through, never decoded),
- other attachments: a one-line ``[attachment: name (type, N bytes)]``
  marker — counted content, never silent.

Hostile input (no RFC-5322 header block at all, or a header field over
65,536 characters) raises :class:`ConvertError`; undecodable charsets
fall back to latin-1 (never a crash — the poison-pill contract).
"""
from __future__ import annotations

import base64
from email.parser import Parser
from email.policy import EmailPolicy

from .base import ConvertError, Segment, image, md, merge_markdown
from .htmlk import convert_html

_HEADER_LINES = ("from:", "to:", "subject:", "date:", "received:",
                 "mime-version:", "return-path:", "message-id:")


# stdlib's structured-header parser splits the rest of a field once per
# RFC 2047 encoded word, so its time grows with the square of the field
# (a 448 KB Subject took 16 s on one core of a 4-vCPU box); every header
# it parses, the MIME walk's Content-Type reads included, is fetched here
_MAX_HEADER_CHARS = 65536


class _BoundedPolicy(EmailPolicy):
    """``email.policy.default`` that refuses to parse an over-long field."""

    def header_fetch_parse(self, name, value):
        if len(value) > _MAX_HEADER_CHARS:
            raise ConvertError(f"header {name[:64]!r} is longer than "
                               f"{_MAX_HEADER_CHARS} characters")
        return super().header_fetch_parse(name, value)


_POLICY = _BoundedPolicy()


def looks_like_eml(text: str) -> bool:
    head = text.lstrip()[:2048].lower()
    return any(line.startswith(_HEADER_LINES)
               for line in head.splitlines()[:30])


def _decode_text(part) -> str:
    payload = part.get_payload(decode=True)
    if payload is None:
        payload = str(part.get_payload()).encode("utf-8", "replace")
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset, "replace")
    except LookupError:          # unknown charset label
        return payload.decode("latin-1", "replace")


def _sep(segments: list[Segment]) -> None:
    """Block separator between sibling parts (merge_markdown joins
    adjacent markdown with plain concatenation)."""
    if segments and segments[-1][0] == "markdown" \
            and not segments[-1][1].endswith("\n\n"):
        segments.append(md("\n\n"))


def _render_part(part, segments: list[Segment]) -> None:
    ctype = part.get_content_type()
    if part.is_multipart():
        if ctype == "multipart/alternative":
            best = None
            for sub in part.iter_parts():
                if sub.get_content_type() == "text/html":
                    best = sub
                elif best is None and sub.get_content_type() == "text/plain":
                    best = sub
            if best is not None:
                _render_part(best, segments)
            return
        for sub in part.iter_parts():
            _render_part(sub, segments)
        return
    filename = part.get_filename()
    disposition = (part.get_content_disposition() or "").lower()
    if ctype == "text/html" and disposition != "attachment":
        _sep(segments)
        segments.extend(convert_html(_decode_text(part)))
        return
    if ctype.startswith("text/") and disposition != "attachment":
        body = _decode_text(part).replace("\r\n", "\n").strip()
        if body:
            _sep(segments)
            segments.append(md(body))
        return
    payload = part.get_payload(decode=True) or b""
    if ctype.startswith("image/"):
        b64 = base64.b64encode(payload).decode("ascii")
        ref = filename or f"inline.{ctype.split('/', 1)[1]}"
        segments.append(image(f"![](data:{ctype};base64,{b64})", ref))
        return
    name = filename or "unnamed"
    _sep(segments)
    segments.append(md(f"[attachment: {name} ({ctype}, "
                       f"{len(payload)} bytes)]"))


def convert_eml(text: str) -> list[Segment]:
    """Raw RFC 5322 message text → markdown segments (registry kernel)."""
    if not looks_like_eml(text):
        raise ConvertError("not an email (no RFC 5322 header block)")
    try:
        msg = Parser(policy=_POLICY).parsestr(text)
    except ConvertError:
        raise
    except Exception as exc:  # noqa: BLE001 — stdlib parser edge cases
        raise ConvertError(f"failed to parse message: {exc}") from exc

    header_lines: list[str] = []
    subject = str(msg.get("Subject", "") or "").strip()
    if subject:
        header_lines.append(f"# {subject}")
    meta = []
    for field in ("From", "To", "Cc", "Date"):
        value = str(msg.get(field, "") or "").strip()
        if value:
            meta.append(f"**{field}:** {value}")
    if meta:
        header_lines.append("\n".join(meta))

    segments: list[Segment] = []
    if header_lines:
        segments.append(md("\n\n".join(header_lines) + "\n\n"))
    try:
        _render_part(msg, segments)
    except ConvertError:
        raise
    except Exception as exc:  # noqa: BLE001 — malformed MIME structure
        raise ConvertError(f"failed to convert message: {exc}") from exc
    return merge_markdown(segments)
