"""PDF embedded-image extraction (ops/pdfmedia): DCTDecode → real JPEG,
Flate RGB/Gray → PNG re-wrap, skip/error classification, hostile
isolation, and the Spark fan-out feeding the real decoders."""
from __future__ import annotations

import zlib

import pytest

from marky_spark.ops.pdfmedia import (
    PdfMediaError,
    extract_pdf_images,
    pdf_media,
)


def _pdf_with_images(images: list[bytes]) -> bytes:
    """Minimal classic-xref PDF whose page references N image XObjects;
    each entry in ``images`` is the full object body after ``N 0 obj``."""
    objects: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        4: b"<< /Length 20 >>\nstream\nBT ET              \nendstream",
    }
    xnames = " ".join(f"/Im{k} {5 + k} 0 R" for k in range(len(images)))
    objects[3] = (
        f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Contents 4 0 R /Resources << /XObject << {xnames} >> >> >>"
    ).encode()
    for k, body in enumerate(images):
        objects[5 + k] = body
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + objects[num] + b"\nendobj\n"
    xref_at = len(out)
    n = max(objects) + 1
    out += f"xref\n0 {n}\n".encode()
    out += b"0000000000 65535 f \n"
    for num in range(1, n):
        out += f"{offsets[num]:010d} 00000 n \n".encode()
    out += (b"trailer\n<< /Size " + str(n).encode()
            + b" /Root 1 0 R >>\nstartxref\n"
            + str(xref_at).encode() + b"\n%%EOF\n")
    return bytes(out)


def _image_obj(head: str, stream: bytes) -> bytes:
    return (head.encode() + b"\nstream\n" + stream + b"\nendstream")


def _jpeg_image(px: bytes, w: int, h: int, ch: int) -> tuple[bytes, bytes]:
    from marky_spark.ops.jpegcodec import jpeg_encode

    jpg = jpeg_encode(px, w, h, ch)
    cs = "/DeviceRGB" if ch == 3 else "/DeviceGray"
    return jpg, _image_obj(
        f"<< /Subtype /Image /Width {w} /Height {h} /BitsPerComponent 8 "
        f"/ColorSpace {cs} /Filter /DCTDecode /Length {len(jpg)} >>", jpg)


def test_dct_and_flate_images_extract():
    px_rgb = bytes((i * 7) % 256 for i in range(16 * 8 * 3))
    px_gray = bytes((i * 13) % 256 for i in range(10 * 6))
    jpg, obj_jpg = _jpeg_image(px_rgb, 16, 8, 3)
    z = zlib.compress(px_rgb)
    obj_flate = _image_obj(
        f"<< /Subtype /Image /Width 16 /Height 8 /BitsPerComponent 8 "
        f"/ColorSpace /DeviceRGB /Filter /FlateDecode /Length {len(z)} >>",
        z)
    obj_raw_gray = _image_obj(
        f"<< /Subtype /Image /Width 10 /Height 6 /BitsPerComponent 8 "
        f"/ColorSpace /DeviceGray /Length {len(px_gray)} >>", px_gray)
    obj_ccitt = _image_obj(
        "<< /Subtype /Image /Width 4 /Height 4 /BitsPerComponent 1 "
        "/ColorSpace /DeviceGray /Filter /CCITTFaxDecode /Length 3 >>",
        b"\x00\x01\x02")
    pdf = _pdf_with_images([obj_jpg, obj_flate, obj_raw_gray, obj_ccitt])
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 4
    by_filter = {r["pdf_filter"]: r for r in imgs}
    # DCT passes through byte-identical and really decodes
    from marky_spark.ops.jpegcodec import jpeg_decode

    dct = by_filter["/DCTDecode"]
    assert dct["ok"] == "ok" and dct["mime"] == "image/jpeg"
    assert bytes(dct["payload"]) == jpg
    assert jpeg_decode(dct["payload"])[:3] == (16, 8, 3)
    # Flate RGB re-wraps as a PNG of EXACTLY the source samples
    from marky_spark.ops.pngcodec import png_decode

    fl = by_filter["/FlateDecode"]
    assert fl["ok"] == "ok" and fl["mime"] == "image/png"
    assert png_decode(fl["payload"]) == (16, 8, 3, px_rgb)
    raw = by_filter["raw"]
    assert raw["ok"] == "ok"
    assert png_decode(raw["payload"]) == (10, 6, 1, px_gray)
    # CCITT now routes through the fax codec; this stream has no
    # /DecodeParms (default /Columns 1728 vs /Width 4) so it is a
    # TYPED error row, never a silent drop or a crash
    cc = by_filter["/CCITTFaxDecode"]
    assert cc["ok"].startswith("error: CCITT /Columns")
    assert cc["payload"] is None
    assert (cc["width"], cc["height"], cc["bits"]) == (4, 4, 1)


def test_reference_pdf_has_no_image_xobjects():
    """test.pdf's /ImageB hits are ProcSet declarations, not images — the
    extractor must not false-positive on them."""
    data = open("/root/reference/test_files/test.pdf", "rb").read()
    assert extract_pdf_images(data) == []


def test_hostile_images_isolate_per_object():
    bad_dims = _image_obj(
        "<< /Subtype /Image /Width 0 /Height 5 /BitsPerComponent 8 "
        "/ColorSpace /DeviceGray /Length 1 >>", b"x")
    bad_flate = _image_obj(
        "<< /Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8 "
        "/ColorSpace /DeviceGray /Filter /FlateDecode /Length 4 >>",
        b"oops")
    short = _image_obj(
        "<< /Subtype /Image /Width 9 /Height 9 /BitsPerComponent 8 "
        "/ColorSpace /DeviceGray /Length 2 >>", b"ab")
    huge = _image_obj(
        "<< /Subtype /Image /Width 60000 /Height 60000 "
        "/BitsPerComponent 8 /ColorSpace /DeviceRGB /Length 1 >>", b"x")
    imgs = extract_pdf_images(_pdf_with_images([bad_dims, bad_flate,
                                                short, huge]))
    oks = [r["ok"] for r in imgs]
    assert any("dimensions" in s for s in oks)
    assert any("FlateDecode failed" in s for s in oks)
    assert any("want 81" in s for s in oks)
    assert any("pixel cap" in s for s in oks)
    assert all(s.startswith("error:") for s in oks)


def test_garbage_pdf_is_typed():
    with pytest.raises(PdfMediaError):
        extract_pdf_images(b"%PDF-1.4 then garbage with no xref at all")


def test_spark_pdf_media_feeds_real_decoders(spark):
    """pdf_media fans out per image and the payloads flow into
    decode_pixels' REAL codecs (content-addressed cross-container dedup:
    the Flate image's PNG hashes identically to the same pixels from any
    other lossless container)."""
    import hashlib

    from marky_spark.ops.multimodal import decode_pixels

    px = bytes((i * 11) % 256 for i in range(12 * 9 * 3))
    _, obj_jpg = _jpeg_image(px, 12, 9, 3)
    z = zlib.compress(px)
    obj_flate = _image_obj(
        f"<< /Subtype /Image /Width 12 /Height 9 /BitsPerComponent 8 "
        f"/ColorSpace /DeviceRGB /Filter /FlateDecode /Length {len(z)} >>",
        z)
    pdf = _pdf_with_images([obj_jpg, obj_flate])
    media = spark.createDataFrame(
        [("doc", bytearray(pdf)), ("txt", bytearray(b"not a pdf"))],
        "media_ref string, payload binary")
    rows = {(r["media_ref"], r["image_idx"]): r
            for r in pdf_media(media).collect()}
    assert rows[("txt", None)]["ok"] == "unsupported"
    assert rows[("doc", 0)]["mime"] == "image/jpeg"
    assert rows[("doc", 1)]["mime"] == "image/png"
    ok = pdf_media(media).where("ok = 'ok'")
    decoded = {r["media_ref"]: r for r in decode_pixels(
        ok.selectExpr("concat(media_ref, '/', image_idx) AS media_ref",
                      "payload")).collect()}
    assert decoded["doc/1"]["pixel_md5"] == hashlib.md5(px).hexdigest()
    assert decoded["doc/0"]["width"] == 12  # the JPEG really decoded


def test_circular_reference_is_typed_not_hung():
    """A self-referencing indirect object (4 0 obj 4 0 R) previously made
    _Pdf.resolve loop FOREVER — the worst failure mode at pipeline scale.
    Both surfaces must now be typed: the text kernel raises ConvertError
    (isolated to an error row by convert) and an image whose metadata
    chains circularly becomes a per-object error row here."""
    from marky_spark.kernels.base import ConvertError
    from marky_spark.kernels.pdfk import extract_pdf_text

    # circular /Contents chain -> text kernel types out
    circ = _image_obj(
        "<< /Subtype /Image /Width 7 0 R /Height 1 /BitsPerComponent 8 "
        "/ColorSpace /DeviceGray /Length 1 >>", b"x")
    pdf = bytearray(_pdf_with_images([circ]))
    # append object 7 referring to itself, rebuild nothing else: easiest is
    # to regenerate with the object included
    objects_extra = b"7 0 obj\n7 0 R\nendobj\n"
    at = pdf.index(b"xref\n")
    # splice object 7 before the xref and extend the xref table by hand is
    # overkill — the brute-scan fallback finds unlisted objects, so just
    # splice and leave the stale xref (pdfk rescans on bad offsets)
    pdf[at:at] = objects_extra
    imgs = extract_pdf_images(bytes(pdf))
    assert imgs and imgs[0]["ok"].startswith("error:")
    assert "circular" in imgs[0]["ok"]
    with pytest.raises(ConvertError, match="circular"):
        # a /Contents that resolves circularly
        body = bytes(pdf).replace(b"/Contents 4 0 R", b"/Contents 7 0 R")
        extract_pdf_text(body)


# ------------------------------------------------- CCITTFaxDecode wiring

def _bilevel(w: int, h: int) -> bytes:
    """Deterministic 0/1 page: a diagonal band of black."""
    return bytes(1 if (x + 2 * y) % 7 < 3 else 0
                 for y in range(h) for x in range(w))


def _ccitt_obj(stream: bytes, w: int, h: int, parms: str,
               extra: str = "", mask: bool = False) -> bytes:
    head = (f"<< /Subtype /Image /Width {w} /Height {h} "
            + ("/ImageMask true "
               if mask else "/BitsPerComponent 1 /ColorSpace /DeviceGray ")
            + f"/Filter /CCITTFaxDecode /DecodeParms << {parms} >> "
            + extra + f"/Length {len(stream)} >>")
    return _image_obj(head, stream)


def _gray_png(payload: bytes) -> tuple[int, int, bytes]:
    from marky_spark.ops.pngcodec import png_decode

    w, h, ch, samples = png_decode(payload)
    assert ch == 1
    return w, h, samples


def _expect_gray(px: bytes) -> bytes:
    # fax domain 1=black -> default PDF polarity: black = gray 0
    return bytes(0 if v else 255 for v in px)


def test_ccitt_g4_image_decodes():
    from marky_spark.ops.faxcodec import g4_encode

    w, h = 23, 9
    px = _bilevel(w, h)
    body = _ccitt_obj(g4_encode(px, w, h), w, h, f"/K -1 /Columns {w}")
    out = extract_pdf_images(_pdf_with_images([body]))
    assert len(out) == 1 and out[0]["ok"] == "ok"
    assert out[0]["mime"] == "image/png"
    assert _gray_png(out[0]["payload"]) == (w, h, _expect_gray(px))


def test_ccitt_k0_packed_and_bytealigned():
    from marky_spark.ops.faxcodec import mh_encode

    w, h = 17, 6
    px = _bilevel(w, h)
    packed = _ccitt_obj(mh_encode(px, w, h, byte_align=False), w, h,
                        f"/K 0 /Columns {w} /Rows {h}")
    aligned = _ccitt_obj(mh_encode(px, w, h), w, h,
                         f"/K 0 /Columns {w} /EncodedByteAlign true")
    eols = _ccitt_obj(mh_encode(px, w, h, eol=True), w, h,
                      f"/K 0 /Columns {w} /EndOfLine true")
    out = extract_pdf_images(_pdf_with_images([packed, aligned, eols]))
    assert [r["ok"] for r in out] == ["ok"] * 3
    for r in out:
        assert _gray_png(r["payload"]) == (w, h, _expect_gray(px))


def test_ccitt_g3_2d_and_imagemask():
    from marky_spark.ops.faxcodec import g3_2d_encode, g4_encode

    w, h = 19, 8
    px = _bilevel(w, h)
    g32d = _ccitt_obj(g3_2d_encode(px, w, h), w, h,
                      f"/K 4 /Columns {w}")
    mask = _ccitt_obj(g4_encode(px, w, h), w, h,
                      f"/K -1 /Columns {w}", mask=True)
    out = extract_pdf_images(_pdf_with_images([g32d, mask]))
    assert [r["ok"] for r in out] == ["ok", "ok"]
    for r in out:
        assert _gray_png(r["payload"]) == (w, h, _expect_gray(px))


def test_ccitt_blackis1_and_decode_inversion():
    from marky_spark.ops.faxcodec import g4_encode

    w, h = 11, 5
    px = _bilevel(w, h)
    stream = g4_encode(px, w, h)
    black1 = _ccitt_obj(stream, w, h, f"/K -1 /Columns {w} /BlackIs1 true")
    inverted = _ccitt_obj(stream, w, h, f"/K -1 /Columns {w}",
                          extra="/Decode [1 0] ")
    both = _ccitt_obj(stream, w, h,
                      f"/K -1 /Columns {w} /BlackIs1 true",
                      extra="/Decode [1 0] ")
    out = extract_pdf_images(_pdf_with_images([black1, inverted, both]))
    assert [r["ok"] for r in out] == ["ok"] * 3
    flipped = bytes(255 if v else 0 for v in px)
    assert _gray_png(out[0]["payload"])[2] == flipped   # BlackIs1
    assert _gray_png(out[1]["payload"])[2] == flipped   # /Decode [1 0]
    assert _gray_png(out[2]["payload"])[2] == _expect_gray(px)  # both
    # defaults stay the baseline polarity
    plain = extract_pdf_images(_pdf_with_images(
        [_ccitt_obj(stream, w, h, f"/K -1 /Columns {w}")]))
    assert _gray_png(plain[0]["payload"])[2] == _expect_gray(px)


def test_ccitt_hostile_stays_typed_rows():
    from marky_spark.ops.faxcodec import g4_encode

    w, h = 13, 4
    px = _bilevel(w, h)
    stream = g4_encode(px, w, h)
    # Columns mismatch vs /Width
    mismatch = _ccitt_obj(stream, w, h, f"/K -1 /Columns {w + 3}")
    # Rows mismatch vs /Height
    rowsbad = _ccitt_obj(stream, w, h, f"/K -1 /Columns {w} /Rows {h + 2}")
    # truncated bitstream
    trunc = _ccitt_obj(stream[:2], w, h, f"/K -1 /Columns {w}")
    # a stream encoded for a WIDER page overruns the declared row
    wide = _ccitt_obj(g4_encode(_bilevel(w + 8, h), w + 8, h), w, h,
                      f"/K -1 /Columns {w}")
    out = extract_pdf_images(
        _pdf_with_images([mismatch, rowsbad, trunc, wide]))
    assert [r["ok"].startswith("error:") for r in out] == [True] * 4
    assert "/Columns" in out[0]["ok"] and "/Rows" in out[1]["ok"]
    assert "CCITT decode failed" in out[2]["ok"]
    assert "CCITT decode failed" in out[3]["ok"]
    # a 2bpc "CCITT" image is skipped, not mis-decoded
    two = _image_obj(
        f"<< /Subtype /Image /Width {w} /Height {h} /BitsPerComponent 2 "
        f"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode "
        f"/DecodeParms << /K -1 /Columns {w} >> /Length {len(stream)} >>",
        stream)
    out2 = extract_pdf_images(_pdf_with_images([two]))
    assert out2[0]["ok"].startswith("skipped: CCITTFaxDecode")


def test_flate_cmyk_image_converts_to_rgb():
    """A /DeviceCMYK Flate image ink-converts to RGB on extraction
    (rgb = (255-ink)*(255-k)/255, rounded) instead of being skipped."""
    import numpy as np

    from marky_spark.ops.pngcodec import png_decode

    w, h = 6, 3
    cmyk = bytes((x * 17 + y * 29 + c * 41) % 256
                 for y in range(h) for x in range(w) for c in range(4))
    z = zlib.compress(cmyk)
    obj = _image_obj(
        f"<< /Subtype /Image /Width {w} /Height {h} /BitsPerComponent 8 "
        f"/ColorSpace /DeviceCMYK /Filter /FlateDecode /Length {len(z)} >>",
        z)
    out = extract_pdf_images(_pdf_with_images([obj]))
    assert len(out) == 1 and out[0]["ok"] == "ok"
    arr = (255 - np.frombuffer(cmyk, np.uint8)
           .reshape(-1, 4).astype(np.uint32))
    exp = ((arr[:, :3] * arr[:, 3:4] + 127) // 255).astype(np.uint8)
    assert png_decode(out[0]["payload"]) == (w, h, 3, exp.tobytes())
    # raw (unfiltered) CMYK too
    obj2 = _image_obj(
        f"<< /Subtype /Image /Width {w} /Height {h} /BitsPerComponent 8 "
        f"/ColorSpace /DeviceCMYK /Length {len(cmyk)} >>", cmyk)
    out2 = extract_pdf_images(_pdf_with_images([obj2]))
    assert out2[0]["ok"] == "ok"
    assert png_decode(out2[0]["payload"]) == (w, h, 3, exp.tobytes())


def _gray_image(w: int, h: int, filters: str, stream: bytes,
                parms: str = "") -> bytes:
    return _image_obj(
        f"<< /Subtype /Image /Width {w} /Height {h} /BitsPerComponent 8 "
        f"/ColorSpace /DeviceGray /Filter {filters} {parms}"
        f"/Length {len(stream)} >>", stream)


def test_flate_predictor_image_is_a_typed_error():
    """PNG-predicted rows carry a filter byte per row; kept as samples
    they gave an ``ok`` image with wrong pixels. Undecoded, the image is
    one typed row."""
    rows = b"\x00\x00\x0a\x14\x1e\x00\x00\x0a\x14\x1e"  # filter 0 per row
    obj = _gray_image(4, 2, "/FlateDecode", zlib.compress(rows),
                      "/DecodeParms << /Predictor 15 /Columns 4 >> ")
    (rec,) = extract_pdf_images(_pdf_with_images([obj]))
    assert rec["ok"] == "error: unsupported PDF predictor 15"
    assert rec["payload"] is None


def test_lzw_image_decodes_to_its_samples():
    """An /LZWDecode image (and an LZW + Flate chain) decodes through
    the same chain as content streams."""
    from marky_spark.ops.pngcodec import png_decode
    from tests.test_bitio import lzw_literals

    px = bytes((i * 37) % 256 for i in range(20 * 15))
    chained = zlib.compress(lzw_literals(px))
    imgs = extract_pdf_images(_pdf_with_images([
        _gray_image(20, 15, "/LZWDecode", lzw_literals(px)),
        _gray_image(20, 15, "[/FlateDecode /LZWDecode]", chained)]))
    assert [r["ok"] for r in imgs] == ["ok", "ok"]
    for rec in imgs:
        assert png_decode(rec["payload"]) == (20, 15, 1, px)


def test_image_bombs_draw_on_the_document_budget(monkeypatch):
    """Images share the document's decoded-bytes budget: an image over
    what is left of it is one typed row, the images before it convert."""
    from marky_spark.kernels import pdfk

    monkeypatch.setattr(pdfk, "_MAX_DECODED_BYTES", 5000)
    px = bytes(range(50)) * 60  # 3,000 samples, 50 x 60
    z = zlib.compress(px)
    imgs = extract_pdf_images(_pdf_with_images(
        [_gray_image(50, 60, "/FlateDecode", z)] * 2))
    assert imgs[0]["ok"] == "ok"
    assert imgs[1]["ok"] == (
        "error: PDF streams exceed the decoded-bytes budget")
    assert imgs[1]["payload"] is None
