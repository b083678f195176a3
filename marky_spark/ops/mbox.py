"""MBOX streaming walk — a mail archive becomes one doc per message,
the same bounded-memory contract as ops/warc.

Mail corpora ship as mbox files (one file, many RFC 5322 messages,
``From `` separator lines — RFC 4155).  The reference converts single
documents (marky.go:27-41); this module is the crawl-scale walk that
feeds its EML kernel (kernels/emlk) through
``ingest.docs_from_mbox_dir``:

- messages parse ONE AT A TIME from a buffered line stream (transparent
  gzip); peak memory is O(message), never O(file),
- per-message 64 MiB cap + a message-count cap (poison-pill bombs get
  typed rows, not OOM),
- the mboxrd quoting convention un-escapes ``>From `` body lines (one
  ``>`` stripped from ``>+From `` at line start),
- mid-stream corruption SALVAGES the valid prefix: the messages already
  parsed survive, ONE typed error row marks the truncation point,
- ``row_doc`` maps each ``ok`` message row to the door's
  ``(doc_id, kind, bytes)``; the door turns error rows into
  ``_drop_mbox`` docs so the metrics sink accounts for them.
"""
from __future__ import annotations

from collections.abc import Iterator

MAX_MESSAGE_BYTES = 1 << 26     # 64 MiB per message
MAX_MESSAGES = 1 << 20          # per file
CHUNK_ROWS = 8192
CHUNK_BYTES = 32 << 20


class MboxError(ValueError):
    """Malformed / hostile mbox input."""


def _open_stream(f):
    import gzip

    magic = f.read(2)
    f.seek(0)
    if magic == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=f)
    return f


MAX_LINE_BYTES = 1 << 20        # bounded readline: a single multi-GB
                                # physical line cannot buffer whole


def _bounded_lines(stream) -> Iterator[tuple[bytes, bool]]:
    """→ (fragment, at_line_start) pairs; fragments cap at
    MAX_LINE_BYTES so one enormous line streams in pieces."""
    at_start = True
    while True:
        chunk = stream.readline(MAX_LINE_BYTES)
        if not chunk:
            return
        yield chunk, at_start
        at_start = chunk.endswith(b"\n")


def _iter_messages(stream) -> Iterator[tuple[str, bytes]]:
    """Bounded-line mbox walk → (from_line, message_bytes) pairs.
    Memory is bounded by MAX_MESSAGE_BYTES regardless of file size;
    the ``From `` separator and mboxrd unescape apply only at true
    line starts (mid-line fragments of an oversized line never
    misparse as separators)."""
    from_line: str | None = None
    buf: list[bytes] = []
    size = 0
    count = 0
    saw_any = False

    def finish():
        return from_line or "", b"".join(buf)

    for line, at_start in _bounded_lines(stream):
        if at_start and line.startswith(b"From "):
            if from_line is not None:
                count += 1
                if count > MAX_MESSAGES:
                    raise MboxError(f"more than {MAX_MESSAGES} messages")
                yield finish()
            from_line = line.rstrip(b"\r\n").decode("utf-8", "replace")
            buf, size = [], 0
            saw_any = True
            continue
        if from_line is None:
            if line.strip():
                raise MboxError("mbox does not start with a From line")
            continue
        # mboxrd: a body line quoted as '>From ' (any number of leading
        # '>' before 'From ') loses ONE '>'
        if at_start:
            stripped = line.lstrip(b">")
            if stripped.startswith(b"From ") and line.startswith(b">"):
                line = line[1:]
        size += len(line)
        if size > MAX_MESSAGE_BYTES:
            raise MboxError(
                f"message exceeds the {MAX_MESSAGE_BYTES}-byte cap")
        buf.append(line)
    if from_line is not None:
        yield finish()
    elif not saw_any:
        raise MboxError("empty or non-mbox stream")


def _stream_rows(ref: str, raw) -> Iterator[list[tuple]]:
    rows: list[tuple] = []
    nbytes = 0
    idx = 0
    try:
        stream = _open_stream(raw)
        for from_line, payload in _iter_messages(stream):
            rows.append((ref, idx, from_line, payload,
                         len(payload), "ok"))
            idx += 1
            nbytes += len(payload)
            if len(rows) >= CHUNK_ROWS or nbytes >= CHUNK_BYTES:
                yield rows
                rows, nbytes = [], 0
    except MboxError as exc:
        rows.append((ref, idx if idx else None, None, None, None,
                     f"error: {exc}"))
    except Exception as exc:  # noqa: BLE001 — poison isolation
        rows.append((ref, idx if idx else None, None, None, None,
                     f"error: {type(exc).__name__}: {exc}"))
    if rows:
        yield rows


def row_doc(row: tuple) -> tuple[str, str, bytes]:
    """An ``ok`` message row → ``(doc_id, kind, bytes)`` for the ingest
    door: doc_id = ``{file}#{idx}``, one ``eml`` doc per message."""
    ref, idx, _from_line, payload, _n, _ok = row
    return f"{ref}#{idx}", "eml", payload
