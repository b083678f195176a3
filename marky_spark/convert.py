"""The conversion pipeline: interleaved span documents → ordered Markdown spans.

Spark-first design (SURVEY.md §3.4): one Arrow-vectorized ``mapInPandas``
stage holds ALL of the reference's per-document logic (operators O2-O24).
There is no per-row Python UDF dispatch — batches cross the JVM↔Python
boundary as Arrow record batches, and the per-kind kernels run as plain
Python functions over each document's payload inside the batch.

Reference lifecycle parity:
- dispatch (marky.go:35-39)      → REGISTRY lookup on the span ``kind``
- no-converter error (marky.go:41) → status='unsupported' row
- Convert error path             → status='error' row; a poison document can
  never fail the task, only its own row (epub.go:146-155 isolation, doc-level)
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels import MEDIA_KINDS, REGISTRY, ConvertError, image
from .kernels.base import merge_markdown
from .schema import (
    ERROR_TOO_DEEP,
    OUTPUT_SCHEMA,
    STATUS_ERROR,
    STATUS_OK,
    STATUS_UNSUPPORTED,
)

_COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]


def _span_fields(span: Any) -> tuple[str, str, str, int]:
    """Tolerate dict (Arrow) and Row representations of the span struct."""
    if isinstance(span, dict):
        return (
            span.get("kind") or "",
            span.get("text") or "",
            span.get("media_ref") or "",
            span.get("offset") or 0,
        )
    return (
        getattr(span, "kind", "") or "",
        getattr(span, "text", "") or "",
        getattr(span, "media_ref", "") or "",
        getattr(span, "offset", 0) or 0,
    )


def convert_document(doc_id: str, spans: Any) -> dict[str, Any]:
    """Convert one document's ordered span sequence. Pure Python, testable
    without Spark (local-vs-distributed equivalence — SURVEY.md §5.2)."""
    parsed = sorted((_span_fields(s) for s in (spans if spans is not None else [])),
                    key=lambda s: s[3])
    conv_kind = next((k for k, _, _, _ in parsed if k not in MEDIA_KINDS), "")
    n_in = len(parsed)

    # ingest drop markers (kind '_drop_warc' / '_drop_archive' / ...):
    # records/members the front door could NOT produce — cap breaches,
    # stream truncations, non-archive files. They ride the pipeline as
    # error rows so the metrics/lineage sink is the ONE place that
    # accounts for everything the run didn't process (nothing silent).
    if conv_kind.startswith("_drop"):
        reason = next((t for k, t, _, _ in parsed if k == conv_kind), "")
        return _row(doc_id, conv_kind, STATUS_ERROR,
                    reason or "dropped at ingest", n_in, [], "")

    chunks: list[str] = []
    segments: list[tuple[str, str, str]] = []
    try:
        for kind, text, media_ref, _ in parsed:
            if kind in MEDIA_KINDS:
                # media placeholders survive conversion verbatim (FIXTURES.md §1)
                seg = image(f"![]({media_ref})", media_ref)
                segments.append(seg)
                chunks.append(seg[1])
                continue
            kernel = REGISTRY.get(kind)
            if kernel is None:
                # marky.go:41 — no converter found for the detected type
                return _row(doc_id, conv_kind or kind, STATUS_UNSUPPORTED,
                            f"no converter for kind {kind!r}", n_in, [], "")
            segs = merge_markdown(kernel(text))
            segments.extend(segs)
            chunks.append("".join(s[1] for s in segs))
    except ConvertError as exc:
        return _row(doc_id, conv_kind, STATUS_ERROR, str(exc), n_in, [], "")
    except RecursionError:
        return _row(doc_id, conv_kind, STATUS_ERROR, ERROR_TOO_DEEP, n_in, [], "")
    except Exception as exc:  # noqa: BLE001 — poison-pill isolation
        return _row(doc_id, conv_kind, STATUS_ERROR,
                    f"{type(exc).__name__}: {exc}", n_in, [], "")

    markdown = "\n\n".join(c for c in chunks if c)
    return _row(doc_id, conv_kind, STATUS_OK, "", n_in, segments, markdown)


def _row(doc_id, conv_kind, status, error, n_in, segments, markdown):
    return {
        "doc_id": doc_id,
        "conv_kind": conv_kind,
        "status": status,
        "error": error,
        "n_in_spans": n_in,
        "n_out_spans": len(segments),
        "md_chars": len(markdown),
        "out_spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(segments)
        ],
        "markdown": markdown,
    }


def _convert_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [
            convert_document(doc_id, spans)
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"])
        ]
        yield pd.DataFrame(rows, columns=_COLUMNS)


def convert(df: DataFrame, kinds: list[str] | None = None) -> DataFrame:
    """Run the conversion over a span-document DataFrame.

    ``kinds`` optionally restricts to documents whose span set contains one of
    the given kinds — expressed as a *pre-kernel* ``where`` so Catalyst pushes
    the filter into the scan (SURVEY.md §4.2: no custom rule needed).
    """
    if kinds:
        df = df.where(F.arrays_overlap("spans.kind", F.lit(kinds)))
    return df.mapInPandas(_convert_batches, schema=OUTPUT_SCHEMA)
