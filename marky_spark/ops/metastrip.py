"""Metadata stripping — the privacy pass a training-data image pipeline
runs before anything ships.

Crawled images carry EXIF GPS coordinates, camera serials, XMP author
records and IPTC credits; ops/textstats redacts PII from text, and this
module is the binary-side sibling: remove the metadata segments from
image containers LOSSLESSLY (the entropy-coded pixel data is copied
verbatim, so the decoded pixels are bit-identical before and after —
which is exactly what the driver oracle checks).

Per container (all segment/chunk grammars already used by the codecs):

- JPEG: drop APP1 (Exif / XMP), APP13 (IPTC/Photoshop) and COM
  segments from the pre-SOS header; everything from SOS on is copied
  byte-for-byte.  JFIF APP0 and the Adobe APP14 transform flag SURVIVE
  (they are rendering-relevant, not identifying).
- PNG: drop eXIf, tEXt, zTXt, iTXt chunks; every other chunk (incl.
  IDAT, tRNS, PLTE) passes through with its original CRC.
- WebP: drop EXIF and XMP chunks from a VP8X container and clear their
  VP8X flag bits; the RIFF size is rewritten.

Anything that is not one of those containers passes through unchanged
with ``n_stripped = 0`` (a triage op never fails a task: malformed
inputs yield typed error rows at the operator boundary).
"""
from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)


class MetaStripError(ValueError):
    """Malformed container encountered while stripping."""


_JPEG_DROP = {0xE1, 0xED, 0xFE}       # APP1, APP13, COM
_PNG_DROP = {b"eXIf", b"tEXt", b"zTXt", b"iTXt"}
_WEBP_DROP = {b"EXIF", b"XMP "}


def strip_jpeg(data: bytes) -> tuple[bytes, int]:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise MetaStripError("not a JPEG")
    out = bytearray(b"\xff\xd8")
    stripped = 0
    at = 2
    while at + 4 <= len(data):
        if data[at] != 0xFF:
            raise MetaStripError("JPEG marker desync")
        marker = data[at + 1]
        if marker == 0xDA:            # SOS: entropy data follows
            out += data[at:]
            return bytes(out), stripped
        (seg_len,) = struct.unpack_from(">H", data, at + 2)
        if seg_len < 2 or at + 2 + seg_len > len(data):
            raise MetaStripError("JPEG segment overruns the stream")
        total = 2 + seg_len
        if marker in _JPEG_DROP:
            stripped += total
        else:
            out += data[at:at + total]
        at += total
    raise MetaStripError("JPEG ended before SOS")


def strip_png(data: bytes) -> tuple[bytes, int]:
    sig = b"\x89PNG\r\n\x1a\n"
    if not data.startswith(sig):
        raise MetaStripError("not a PNG")
    out = bytearray(sig)
    stripped = 0
    at = len(sig)
    while at + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, at)
        tag = data[at + 4:at + 8]
        total = 12 + ln
        if at + total > len(data):
            raise MetaStripError(f"PNG chunk {tag!r} overruns the stream")
        if tag in _PNG_DROP:
            stripped += total
        else:
            out += data[at:at + total]
        at += total
        if tag == b"IEND":
            break
    return bytes(out), stripped


def strip_webp(data: bytes) -> tuple[bytes, int]:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise MetaStripError("not a WebP")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    end = min(8 + riff_size, len(data))
    body = bytearray()
    stripped = 0
    at = 12
    vp8x_at = None
    while at + 8 <= end:
        fourcc = data[at:at + 4]
        (size,) = struct.unpack_from("<I", data, at + 4)
        total = 8 + size + (size & 1)
        if at + 8 + size > end:
            raise MetaStripError(f"chunk {fourcc!r} overruns the container")
        if fourcc in _WEBP_DROP:
            stripped += total
        else:
            if fourcc == b"VP8X":
                vp8x_at = len(body)
            body += data[at:at + total]
        at += total
    if stripped and vp8x_at is not None and len(body) >= vp8x_at + 9:
        body[vp8x_at + 8] &= ~0x0C    # clear the EXIF (0x08)/XMP (0x04) bits
    return (b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP"
            + bytes(body)), stripped


STRIP_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("payload", BinaryType()),
    StructField("n_bytes", LongType()),
    StructField("n_stripped", LongType()),
    StructField("ok", StringType()),
])


def strip_metadata(media: DataFrame) -> DataFrame:
    """Binary payloads → metadata-free payloads + removed-byte counts.
    Pixels are untouched (lossless segment surgery), so downstream
    dedup/content-addressing keys stay stable across the strip."""
    from .multimodal import map_blobs

    def strip(blob: bytes):
        if blob[:2] == b"\xff\xd8":
            out, n = strip_jpeg(blob)
        elif blob.startswith(b"\x89PNG\r\n\x1a\n"):
            out, n = strip_png(blob)
        elif blob[:4] == b"RIFF" and blob[8:12] == b"WEBP":
            out, n = strip_webp(blob)
        else:
            out, n = blob, 0
        return out, len(out), n

    return map_blobs(media, STRIP_SCHEMA, strip)


def synth_tagged_media(docs: DataFrame) -> DataFrame:
    """Deterministic metadata-laden media from doc ids: the synth
    PNG/TIFF/PPM/WebP rotation's pixel payloads (the existing oracle
    arithmetic) with PLANTED metadata of arithmetic size — JPEGs get an
    APP1 Exif shell of (i*13) % 200 + 30 bytes plus a COM of
    (i*7) % 50 + 10; PNGs a tEXt of (i*13) % 200 + 30 and an eXIf of
    (i*7) % 50 + 10; WebPs an EXIF chunk of (i*13) % 200 + 30 (padded
    even) inside a VP8X wrapper.  Stripping must remove EXACTLY the
    planted bytes (plus fixed per-container framing) and leave the
    decoded pixels bit-identical — both ends SQL-checkable."""
    import hashlib

    from .multimodal import MEDIA_SCHEMA
    from .pngcodec import _chunk, png_encode
    from .webpcodec import webp_encode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 13
                h = 4 + i % 7
                n = w * h * 3
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                px = (hexs * (-(-n // len(hexs))))[:n].encode("ascii")
                big = (i * 13) % 200 + 30
                small = (i * 7) % 50 + 10
                if i % 3 == 0:          # PNG + tEXt + eXIf
                    blob = png_encode(px, w, h, 3)
                    at = blob.index(b"IDAT") - 4
                    planted = (_chunk(b"tEXt", b"A" * big)
                               + _chunk(b"eXIf", b"B" * small))
                    blob = blob[:at] + planted + blob[at:]
                elif i % 3 == 1:        # WebP VP8X + EXIF chunk
                    still = webp_encode(px, w, h, 3)
                    vp8l_chunk = still[12:]
                    exif_body = b"C" * big
                    exif = (b"EXIF" + len(exif_body).to_bytes(4, "little")
                            + exif_body
                            + (b"\x00" if big & 1 else b""))
                    vp8x = (b"VP8X"
                            + (10).to_bytes(4, "little")
                            + bytes((0x08, 0, 0, 0))
                            + (w - 1).to_bytes(3, "little")
                            + (h - 1).to_bytes(3, "little"))
                    body = vp8x + exif + vp8l_chunk
                    blob = (b"RIFF" + (4 + len(body)).to_bytes(4, "little")
                            + b"WEBP" + body)
                else:                   # JPEG (uniform gray) + APP1 + COM
                    from .jpegcodec import jpeg_encode

                    val = (i * 7) % 95 + 32
                    jpg = jpeg_encode(bytes([val]) * (w * h), w, h, 1)
                    app1 = (b"\xff\xe1"
                            + struct.pack(">H", 2 + 6 + big)
                            + b"Exif\x00\x00" + b"D" * big)
                    com = (b"\xff\xfe" + struct.pack(">H", 2 + small)
                           + b"E" * small)
                    blob = jpg[:2] + app1 + com + jpg[2:]
                rows.append((f"st{i}", "application/octet-stream", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)
