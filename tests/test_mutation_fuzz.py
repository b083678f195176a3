"""Structure-aware mutation fuzzing: valid fixture payloads with random
byte flips / truncations / splices / deletions / swaps must stay inside the
poison-pill contract (status ok|error|unsupported, meaningful error text).

Random bytes rarely get past magic-number checks; mutating VALID containers
exercises the deep parser paths (zip central directory, XML structure, PDF
xref/objects). A 44k-mutation campaign of this generator found zero
violations; the in-suite run keeps a smaller always-on regression net.
Scale with MARKY_FUZZ_N (default 150 per kind).
"""

import base64
import os
import random

from marky_spark import fixtures as fx
from marky_spark.convert import convert_document

N = int(os.environ.get("MARKY_FUZZ_N", "150"))


def _variants():
    body = (fx.docx_paragraph("Hello", bold=True)
            + fx.docx_table_xml([["a", "b"], ["1", "2"]])
            + fx.docx_list_paragraph("item"))
    yield "docx", fx.docx_zip(body)
    yield "xlsx", fx.xlsx_zip([["h1", "h2"], ["v1", "v2"]])
    yield "pptx", fx.pptx_zip(
        [fx.pptx_shape("Title") + fx.pptx_table([["x", "y"]])],
        notes={1: "note"})
    yield "epub", fx.epub_zip([("c1.xhtml", "<h1>C1</h1><p>body</p>")],
                              title="T")
    yield "pdf", fx.pdf_bytes([[(72, 700, "line one"), (72, 686, "two")]])
    yield "pdf", fx.pdf_encrypt(
        fx.pdf_objects([[(72, 700, "enc one"), (72, 686, "two")]]),
        "aesv2")


def _mutate(rng: random.Random, data: bytes) -> bytes:
    d = bytearray(data)
    op = rng.randrange(5)
    if op == 0 and d:
        for _ in range(rng.randint(1, 8)):
            i = rng.randrange(len(d))
            d[i] = rng.randrange(256)
    elif op == 1 and d:
        d = d[:rng.randrange(len(d))]
    elif op == 2:
        i = rng.randrange(len(d) + 1)
        d[i:i] = bytes(rng.randrange(256)
                       for _ in range(rng.randint(1, 64)))
    elif op == 3 and len(d) > 8:
        i = rng.randrange(len(d) - 4)
        del d[i:i + rng.randint(1, min(64, len(d) - i))]
    elif len(d) > 16:
        i, j = sorted(rng.randrange(len(d)) for _ in range(2))
        k = rng.randint(1, min(32, len(d) - j))
        d[i:i + k], d[j:j + k] = d[j:j + k], d[i:i + k]
    return bytes(d)


def test_mutated_containers_stay_in_contract():
    rng = random.Random(0xF122)
    for kind, payload in _variants():
        for _ in range(N):
            blob = _mutate(rng, payload)
            r = convert_document("m", [{
                "kind": kind, "text": base64.b64encode(blob).decode(),
                "media_ref": "", "offset": 0,
            }])
            assert r["status"] in ("ok", "error", "unsupported"), r
            if r["status"] == "error":
                assert r["error"]
                assert "Traceback" not in r["error"]


def test_mutated_text_payloads_stay_in_contract():
    rng = random.Random(0xF123)
    texts = [
        ("csv", b"a,b\n1,2\n"),
        ("html", b"<h1>t</h1><p>x<em>y</em></p>"
                 b"<table><tr><td>c</td></tr></table>"),
        ("ipynb", b'{"nbformat":4,"cells":[{"cell_type":"code",'
                  b'"source":["x=1"]}],"metadata":{}}'),
    ]
    for kind, base_text in texts:
        for _ in range(N):
            blob = _mutate(rng, base_text)
            r = convert_document("m", [{
                "kind": kind, "text": blob.decode("latin-1"),
                "media_ref": "", "offset": 0,
            }])
            assert r["status"] in ("ok", "error", "unsupported"), r


def test_image_codec_mutations_stay_typed():
    """Mutations of VALID image payloads must stay inside each codec's
    typed-error contract: decode either succeeds or raises the codec's
    error class (GifError/JpegError/PngError/BmpError, all ValueError, or
    the NotImplementedError unsupported-mode subclass) — never an untyped
    escape, never unbounded output."""
    from marky_spark.ops.avicodec import avi_encode
    from marky_spark.ops.bmpcodec import bmp_encode
    from marky_spark.ops.gifcodec import gif_encode
    from marky_spark.ops.jpegcodec import jpeg_encode, jpeg_encode_progressive
    from marky_spark.ops.multimodal import decode_image
    from marky_spark.ops.pngcodec import MAX_PIXELS, png_encode

    rng = random.Random(0xF00D)
    px = bytes((i * 37) % 256 for i in range(16 * 12 * 3))
    samples = [
        gif_encode(bytes(b % 8 for b in px[:16 * 12]), 16, 12,
                   bytes(range(24))),
        jpeg_encode(px, 16, 12, 3),
        jpeg_encode_progressive(px, 16, 12, 3),
        jpeg_encode_progressive(px, 16, 12, 3, restart_interval=2),
        png_encode(px, 16, 12, 3),
        bmp_encode(px, 16, 12, 3),
        avi_encode([jpeg_encode(px, 16, 12, 3)] * 3, 16, 12),
    ]
    from marky_spark.ops.tiffcodec import tiff_encode
    bl = bytes((i * 7 + i // 16) % 2 for i in range(16 * 12))
    samples += [
        tiff_encode(bl, 16, 12, 1, compression="g4", bits=1),
        tiff_encode(bl, 16, 12, 1, compression="g4", bits=1, tile=(8, 8)),
        tiff_encode(bl, 16, 12, 1, compression="g3", bits=1,
                    rows_per_strip=5),
        tiff_encode(bl, 16, 12, 1, compression="mh", bits=1),
        tiff_encode(px, 16, 12, 3, compression="jpeg", rows_per_strip=8),
        tiff_encode(px, 16, 12, 3, compression="jpeg", jpeg_tables=False),
        tiff_encode(px, 16, 12, 3, compression="deflate", tile=(8, 8)),
        tiff_encode(bl, 16, 12, 1, compression="g32d", bits=1),
        tiff_encode(px[:16 * 12], 16, 12, 1, compression="jpeg6"),
    ]
    import numpy as np
    px12 = (np.frombuffer(px[:16 * 12], dtype=np.uint8)
            .astype("<u2") << 4).tobytes()
    samples += [
        jpeg_encode(px12, 16, 12, 1, precision=12),
        tiff_encode(px12, 16, 12, 1, compression="jpeg", bits=12,
                    rows_per_strip=8),
    ]
    from marky_spark.ops.webpcodec import webp_encode
    pal_px = bytes((b % 4) * 80 for b in px)
    samples += [
        webp_encode(px, 16, 12, 3),
        webp_encode(px, 16, 12, 3, subtract_green=True,
                    color_cache_bits=4, lz77=True),
        webp_encode(pal_px, 16, 12, 3, palette=True),
    ]
    from tests.test_webp import vp8_routed_webps
    samples += vp8_routed_webps().values()
    cmyk = bytes((i * 31) % 256 for i in range(16 * 12 * 4))
    samples += [
        jpeg_encode(cmyk, 16, 12, 4),
        jpeg_encode(cmyk, 16, 12, 4, adobe_transform=2),
        jpeg_encode(cmyk, 16, 12, 4, adobe_transform=None),
        tiff_encode(cmyk, 16, 12, 4, compression="lzw", photometric=5),
    ]
    n = max(N // 2, 50)
    for data in samples:
        for _ in range(n):
            blob = _mutate(rng, data)
            try:
                decoded = decode_image(blob)
            except (ValueError, NotImplementedError):
                continue  # typed rejection — the contract
            if decoded is not None:
                w, h, c, out = decoded
                assert 0 < w * h <= MAX_PIXELS
                assert len(out) == w * h * c
