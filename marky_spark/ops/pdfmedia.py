"""PDF embedded-image extraction — the PDF twin of the DOCX data-URI
bridge (ops/multimodal.extract_embedded_media).

The reference's PDF converter emits text only (pdf.go never touches
XObjects), so this is pipeline surface, not reference parity: scanned
and figure-heavy PDFs carry their real payload in ``/Subtype /Image``
XObjects, and a multimodal training pipeline wants those bytes routed to
the REAL codecs (a ``/DCTDecode`` image IS a baseline/progressive JPEG
that ops/jpegcodec fully decodes; a Flate RGB/Gray image is raw samples
this module re-wraps as PNG so every downstream consumer sees a standard
container and decode_pixels' content-addressed dedup applies).

Reuses the from-scratch PDF object machinery in kernels/pdfk (xref walk,
object lexer, stream extraction) rather than duplicating it; everything
stays pure stdlib+numpy with the usual bounded-allocation, typed-error,
per-blob-isolation contract.
"""
from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAX_IMAGE_PIXELS = 1 << 26


class PdfMediaError(ValueError):
    """Malformed / hostile PDF while extracting images."""


def _ccitt_to_png(pdf, info, rec: dict, raw: bytes) -> None:
    """Decode a ``/CCITTFaxDecode`` image XObject through ops/faxcodec
    and re-wrap as bilevel-gray PNG (PDF 32000-1 §7.4.6 parameters:
    /K selects G4 (<0) / G3 1-D (0) / G3 2-D (>0), /Columns, /Rows,
    /BlackIs1 default false = 0 bits are black, /EncodedByteAlign).
    Mutates ``rec`` in place with mime/payload/ok."""
    import numpy as np

    from .faxcodec import FaxError, g3_2d_decode, g4_decode, mh_decode
    from .pngcodec import png_encode

    parms = pdf.resolve(info.get("/DecodeParms"))
    if parms is None:
        parms = pdf.resolve(info.get("/DP"))
    if isinstance(parms, list):  # parallel to /Filter; single filter here
        parms = pdf.resolve(parms[0]) if parms else None
    if parms is None:
        parms = {}
    if not isinstance(parms, dict):
        rec["ok"] = "error: CCITT /DecodeParms is not a dictionary"
        return

    def num(key, default):
        v = pdf.resolve(parms.get(key, default))
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            raise PdfMediaError(f"CCITT {key} is not a number")
        return int(v)

    try:
        k = num("/K", 0)
        cols = num("/Columns", 1728)
        rows = num("/Rows", 0) or rec["height"]
    except PdfMediaError as exc:
        rec["ok"] = f"error: {exc}"
        return
    black1 = pdf.resolve(parms.get("/BlackIs1")) is True
    align = pdf.resolve(parms.get("/EncodedByteAlign")) is True
    if cols != rec["width"]:
        rec["ok"] = (f"error: CCITT /Columns {cols} does not match "
                     f"/Width {rec['width']}")
        return
    if rows != rec["height"]:
        rec["ok"] = (f"error: CCITT /Rows {rows} does not match "
                     f"/Height {rec['height']}")
        return
    if cols * rows > MAX_IMAGE_PIXELS:
        rec["ok"] = "error: image exceeds pixel cap"
        return
    try:
        if k < 0:
            px = g4_decode(raw, cols, rows, byte_align=align)
        elif k == 0:
            try:
                px = mh_decode(raw, cols, rows, byte_align=align)
            except FaxError:
                # real K=0 streams sometimes carry T.4 EOLs per row
                # (/EndOfLine true); retry on the EOL-framed path
                px = mh_decode(raw, cols, rows, eol=True)
        else:
            px = g3_2d_decode(raw, cols, rows)
    except FaxError as exc:
        rec["ok"] = f"error: CCITT decode failed: {exc}"
        return
    # fax domain: 1 = black. Filter output bit: BlackIs1 ? px : 1-px;
    # DeviceGray/ImageMask then maps bit b through /Decode (default
    # [0 1]): 0 -> black. Net: gray = 255 * (bit after optional
    # /Decode [1 0] inversion).
    arr = np.frombuffer(px, dtype=np.uint8)
    bit = arr if black1 else 1 - arr
    dec = pdf.resolve(info.get("/Decode"))
    if isinstance(dec, list) and [pdf.resolve(d) for d in dec] == [1, 0]:
        bit = 1 - bit
    rec["mime"] = "image/png"
    rec["payload"] = png_encode((bit * np.uint8(255)).tobytes(),
                                cols, rows, 1)
    rec["ok"] = "ok"


PDF_IMAGE_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("image_idx", IntegerType()),
    StructField("obj_num", IntegerType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("bits", IntegerType()),
    StructField("colorspace", StringType()),
    StructField("pdf_filter", StringType()),
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),
    StructField("n_bytes", LongType()),
    StructField("ok", StringType()),
])


def extract_pdf_images(data: bytes) -> list[dict]:
    """PDF bytes → one dict per ``/Subtype /Image`` XObject, in object
    order. DCTDecode images pass through as JPEG; raw, Flate and LZW 8-bit
    DeviceRGB/DeviceGray/DeviceCMYK images decode through the text
    kernel's filter chain (``_Pdf.decoded``: one decoded-bytes budget per
    document, a ``/Predictor`` is a typed error) and re-wrap as PNG;
    CCITTFaxDecode bilevel images (incl. ImageMasks) decode through
    ops/faxcodec with full /DecodeParms handling (K, Columns, Rows,
    BlackIs1, EncodedByteAlign) and re-wrap as PNG; remaining encodings (JBIG2,
    JPX, non-CCITT masks, indexed palettes) are reported with their
    metadata and ``ok='skipped: ...'`` so callers see what was dropped —
    no silent truncation."""
    from ..kernels.base import ConvertError
    from ..kernels.pdfk import _Pdf, _Stream
    from .pngcodec import png_encode

    try:
        pdf = _Pdf(data)
    except ConvertError as exc:
        raise PdfMediaError(f"bad PDF: {exc}") from None
    out: list[dict] = []
    for num in sorted(pdf.offsets):
        try:
            obj = pdf.get(num)
        except Exception:  # noqa: BLE001 — a broken object is not an image
            continue
        if not isinstance(obj, _Stream):
            continue
        info = obj.info
        try:
            if pdf.resolve(info.get("/Subtype")) != "/Image":
                continue
            width = pdf.resolve(info.get("/Width"))
            height = pdf.resolve(info.get("/Height"))
            bits = pdf.resolve(info.get("/BitsPerComponent")) or 8
            cs = pdf.resolve(info.get("/ColorSpace"))
            if isinstance(cs, list):
                cs = " ".join(str(pdf.resolve(c)) for c in cs[:2]) + " ..."
            filters = pdf.resolve(info.get("/Filter")) or []
            if not isinstance(filters, list):
                filters = [filters]
            filters = [str(pdf.resolve(f)) for f in filters]
        except ConvertError as exc:  # e.g. circular reference chains
            out.append({"obj_num": num, "width": None, "height": None,
                        "bits": None, "colorspace": None,
                        "pdf_filter": None, "mime": None, "payload": None,
                        "ok": f"error: {exc}"})
            continue
        rec = {
            "obj_num": num,
            "width": int(width) if isinstance(width, (int, float)) else None,
            "height": int(height) if isinstance(height, (int, float))
            else None,
            "bits": int(bits) if isinstance(bits, (int, float)) else None,
            "colorspace": str(cs) if cs is not None else None,
            "pdf_filter": "+".join(filters) if filters else "raw",
            "mime": None,
            "payload": None,
            "ok": None,
        }
        if not rec["width"] or not rec["height"] or rec["width"] < 1 \
                or rec["height"] < 1:
            rec["ok"] = "error: image lacks valid dimensions"
            out.append(rec)
            continue
        if filters == ["/DCTDecode"]:
            rec["mime"] = "image/jpeg"
            rec["payload"] = obj.raw
            rec["ok"] = "ok"
        elif filters == ["/CCITTFaxDecode"]:
            # scanned-PDF path: G4/G3 XObjects route through the real
            # fax codec. CCITT data is bilevel: 1 bpc DeviceGray or an
            # ImageMask (whose BitsPerComponent defaults to 1).
            mask = pdf.resolve(info.get("/ImageMask")) is True
            if (rec["bits"] == 1 or (mask and "/BitsPerComponent"
                                     not in info)) and \
                    (mask or cs in (None, "/DeviceGray")):
                _ccitt_to_png(pdf, info, rec, obj.raw)
            else:
                rec["ok"] = (f"skipped: CCITTFaxDecode "
                             f"{rec['colorspace']} {rec['bits']}bpc")
        elif info.get("/ImageMask") is True or rec["bits"] != 8 or \
                str(cs) not in ("/DeviceRGB", "/DeviceGray",
                                "/DeviceCMYK"):
            rec["ok"] = (f"skipped: {rec['pdf_filter']} "
                         f"{rec['colorspace']} {rec['bits']}bpc")
        elif set(filters) <= {"/FlateDecode", "/LZWDecode"}:
            ch = {"/DeviceRGB": 3, "/DeviceGray": 1,
                  "/DeviceCMYK": 4}[str(cs)]
            if rec["width"] * rec["height"] * ch > MAX_IMAGE_PIXELS:
                rec["ok"] = "error: image exceeds pixel cap"
                out.append(rec)
                continue
            try:  # the text kernel's chain and per-document budget
                samples = pdf.decoded(obj)
            except ConvertError as exc:
                rec["ok"] = f"error: {exc}"
                out.append(rec)
                continue
            expect = rec["width"] * rec["height"] * ch
            if len(samples) < expect:
                rec["ok"] = (f"error: image data is {len(samples)} bytes, "
                             f"want {expect}")
                out.append(rec)
                continue
            samples = samples[:expect]
            if ch == 4:
                # DeviceCMYK (print-origin figure): ink-convert to RGB,
                # rgb = (255-ink)*(255-k)/255 — the same plain-ink math
                # jpegcodec applies to APP14-less CMYK JPEGs
                import numpy as np

                cmyk = (255 - np.frombuffer(samples, np.uint8)
                        .reshape(-1, 4).astype(np.uint32))
                rgb = (cmyk[:, :3] * cmyk[:, 3:4] + 127) // 255
                samples = rgb.astype(np.uint8).tobytes()
                ch = 3
            rec["mime"] = "image/png"
            rec["payload"] = png_encode(samples, rec["width"],
                                        rec["height"], ch)
            rec["ok"] = "ok"
        else:
            rec["ok"] = f"skipped: {rec['pdf_filter']}"
        out.append(rec)
    return out


def synth_pdf_media(docs: DataFrame, max_px: int = 64) -> DataFrame:
    """Deterministic PDF corpus over doc ids: a minimal classic-xref PDF
    per doc whose single image XObject carries the first ``max_px`` bytes
    of the doc's text (w = that length, h = 1; empty-text docs are
    skipped on both sides), with the ENCODING rotating by doc_id % 4:

    - 0: raw 8-bit DeviceGray scanline (the original arm) — extraction
      re-wraps as PNG and decode_pixels recovers the bytes exactly
      (pixel_md5 == md5(substr(text, 1, 64)))
    - 1: CCITT G4 (/K -1), bilevel bits = text byte & 1, default
      polarity (black -> gray 0)
    - 2: CCITT Modified Huffman (/K 0) with packed rows and
      /BlackIs1 true (black -> gray 255)
    - 3: CCITT G3 2-D (/K 4) with /Decode [1 0] (inverted mapping)

    so the driver oracle pins the xref/lexer/stream/XObject walk, the
    PNG round-trip, AND the real T.4/T.6 fax bit walks + /DecodeParms
    polarity handling — via decode_pixels' NUL-free pixel_dec_md5
    ('000'/'255' streams) for the CCITT arms. No PDF or fax library on
    the SQL side."""
    from pyspark.sql import functions as F

    from .faxcodec import g3_2d_encode, g4_encode, mh_encode
    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in it:
            rows = []
            for doc_id, text in zip(pdf_batch["doc_id"],
                                    pdf_batch["text"]):
                i = int(doc_id)
                samples = str(text).encode("utf-8")[:max_px]
                w = len(samples)
                mode = i % 4
                if mode == 0:
                    head = (f"<< /Subtype /Image /Width {w} /Height 1 "
                            f"/BitsPerComponent 8 /ColorSpace /DeviceGray "
                            f"/Length {w} >>")
                    stream = samples
                else:
                    bits = bytes(b & 1 for b in samples)
                    if mode == 1:
                        stream = g4_encode(bits, w, 1)
                        parms = f"<< /K -1 /Columns {w} >>"
                        extra = ""
                    elif mode == 2:
                        stream = mh_encode(bits, w, 1, byte_align=False)
                        parms = (f"<< /K 0 /Columns {w} "
                                 f"/BlackIs1 true >>")
                        extra = ""
                    else:
                        stream = g3_2d_encode(bits, w, 1)
                        parms = f"<< /K 4 /Columns {w} >>"
                        extra = "/Decode [1 0] "
                    head = (f"<< /Subtype /Image /Width {w} /Height 1 "
                            f"/BitsPerComponent 1 /ColorSpace /DeviceGray "
                            f"/Filter /CCITTFaxDecode "
                            f"/DecodeParms {parms} {extra}"
                            f"/Length {len(stream)} >>")
                img = head.encode() + \
                    b"\nstream\n" + stream + b"\nendstream"
                objects = {
                    1: b"<< /Type /Catalog /Pages 2 0 R >>",
                    2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
                    3: (b"<< /Type /Page /Parent 2 0 R "
                        b"/MediaBox [0 0 612 792] /Contents 4 0 R "
                        b"/Resources << /XObject << /Im0 5 0 R >> >> >>"),
                    4: b"<< /Length 6 >>\nstream\nBT ET \nendstream",
                    5: img,
                }
                out = bytearray(b"%PDF-1.4\n")
                offsets = {}
                for num in sorted(objects):
                    offsets[num] = len(out)
                    out += f"{num} 0 obj\n".encode() + objects[num] \
                        + b"\nendobj\n"
                xref_at = len(out)
                out += b"xref\n0 6\n0000000000 65535 f \n"
                for num in range(1, 6):
                    out += f"{offsets[num]:010d} 00000 n \n".encode()
                out += (b"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n"
                        + str(xref_at).encode() + b"\n%%EOF\n")
                rows.append((f"f{i}", "application/pdf", bytes(out)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return (docs.where(F.length("text") > 0)
            .select("doc_id", "text")
            .mapInPandas(batches, schema=MEDIA_SCHEMA))


def pdf_media(media: DataFrame) -> DataFrame:
    """PDF payloads → one row per embedded image XObject (the PDF twin of
    extract_embedded_media's fan-out): DCTDecode images as standalone
    JPEGs, Flate RGB/Gray as PNGs — both of which decode_pixels then
    REALLY decodes — and every undecodable image as a metadata row with
    its own skip/error reason. A non-PDF payload is one ``unsupported``
    row, a PDF with no images none. ``mapInPandas``, no shuffle, no
    driver collect; hostile PDFs isolate per blob."""
    from .multimodal import map_blobs

    def images(blob: bytes):
        if not blob.startswith(b"%PDF-"):
            return None
        return [(idx, rec["obj_num"], rec["width"], rec["height"],
                 rec["bits"], rec["colorspace"], rec["pdf_filter"],
                 rec["mime"], rec["payload"],
                 len(rec["payload"]) if rec["payload"] else None, rec["ok"])
                for idx, rec in enumerate(extract_pdf_images(blob))]

    return map_blobs(media, PDF_IMAGE_SCHEMA, images)
