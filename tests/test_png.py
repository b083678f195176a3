"""Real PNG codec (ops/pngcodec) + its wiring into the multimodal operators.

The encoder cycles all five row filters, so round-trip equality exercises
every decoder filter path; the external-fixture test pins spec conformance
against a PNG this codebase did not produce.
"""

import base64
import hashlib
import struct
import zlib

import numpy as np
import pytest

from marky_spark.ops.pngcodec import PngError, png_decode, png_encode

# The canonical 1×1 semi-transparent red PNG (RGBA), produced by an
# external encoder — spec-conformance pin, not a round-trip tautology.
EXTERNAL_1PX = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
)


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("dims", [(1, 1), (3, 7), (16, 9), (31, 13)])
def test_round_trip_all_filters(channels, dims):
    w, h = dims
    rng = np.random.default_rng(w * 1000 + h * 10 + channels)
    px = rng.integers(0, 256, size=w * h * channels, dtype=np.uint8).tobytes()
    got = png_decode(png_encode(px, w, h, channels))
    assert got == (w, h, channels, px)


def test_external_png_decodes():
    w, h, c, px = png_decode(EXTERNAL_1PX)
    assert (w, h, c) == (1, 1, 4)
    assert list(px) == [255, 0, 0, 127]  # semi-transparent red


def test_palette_expansion():
    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1, 0, 2, 1])  # two filter-0 rows of indices
    data = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert png_decode(data) == (
        2, 2, 3, bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 255, 0]))


def test_garbage_raises_png_error():
    good = png_encode(b"\x00" * 12, 2, 2, 3)
    corrupt_crc = bytearray(good)
    corrupt_crc[-1] ^= 0xFF  # flip a CRC byte
    for bad in (b"not a png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 4,
                bytes(corrupt_crc), good[:30]):
        with pytest.raises(PngError):
            png_decode(bad)


def _raw_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def test_crc_valid_malformed_raises_png_error_not_struct_error():
    """CRC-valid but structurally wrong chunks must stay inside the
    PngError poison-pill contract (a struct.error would escape
    decode_pixels' per-blob isolation and fail the whole task)."""
    sig = b"\x89PNG\r\n\x1a\n"
    # IHDR body of 5 bytes with a correct CRC
    with pytest.raises(PngError, match="IHDR length 5"):
        png_decode(sig + _raw_chunk(b"IHDR", b"\x00" * 5))


def test_decompression_bomb_is_bounded():
    """IDAT inflating past the size IHDR implies must error, not allocate:
    a few-KB payload claiming 2x2 but inflating to 10 MB is the classic
    executor-OOM poison pill."""
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    bomb = (sig + _raw_chunk(b"IHDR", ihdr)
            + _raw_chunk(b"IDAT", zlib.compress(b"\x00" * 10_000_000))
            + _raw_chunk(b"IEND", b""))
    with pytest.raises(PngError, match="inflates past"):
        png_decode(bomb)


def test_absurd_ihdr_dimensions_capped():
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", 100_000, 100_000, 8, 6, 0, 0, 0)
    huge = (sig + _raw_chunk(b"IHDR", ihdr)
            + _raw_chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + _raw_chunk(b"IEND", b""))
    with pytest.raises(PngError, match="pixel cap"):
        png_decode(huge)


def test_resize_nearest_mapping(spark):
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, resize_media

    w, h, ch = 8, 4, 3
    px = bytes(((y * w + x) * 3 + c) & 0xFF
               for y in range(h) for x in range(w) for c in range(ch))
    media = spark.createDataFrame(
        [("m", "image/png", bytearray(png_encode(px, w, h, ch)))],
        schema=MEDIA_SCHEMA)
    row = resize_media(media, width=4, height=2).collect()[0]
    out = png_decode(bytes(row["payload"]))
    arr = np.frombuffer(px, np.uint8).reshape(h, w, ch)
    exp = arr[(np.arange(2) * h // 2)][:, (np.arange(4) * w // 4)].tobytes()
    assert out == (4, 2, 3, exp)


def test_decode_media_auto_uses_real_codec(spark):
    """decode_media's default decoder sniffs the PNG signature: real dims
    for PNG payloads, a typed unsupported row with null dims for bytes no
    codec claims, in the same batch."""
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_media

    real = png_encode(bytes(range(60)), 5, 4, 3)
    rows = [("png", "image/png", bytearray(real)),
            ("jpg", "image/jpeg", bytearray(b"JPEGISH-BYTES"))]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert (got["png"]["width"], got["png"]["height"],
            got["png"]["channels"]) == (5, 4, 3)
    assert (got["jpg"]["width"], got["jpg"]["height"],
            got["jpg"]["channels"], got["jpg"]["n_bytes"],
            got["jpg"]["ok"]) == (None, None, None, None, "unsupported")


def test_resize_media_auto_real_png(spark):
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, resize_media

    px = bytes(i & 0xFF for i in range(10 * 6 * 3))
    media = spark.createDataFrame(
        [("m", "image/png", bytearray(png_encode(px, 10, 6, 3)))],
        schema=MEDIA_SCHEMA)
    row = resize_media(media, width=4, height=4).collect()[0]
    assert row["ok"] == "ok"
    assert (row["in_width"], row["in_height"]) == (10, 6)
    w, h, c, out = png_decode(bytes(row["payload"]))
    assert (w, h, c) == (4, 4, 3)
    arr = np.frombuffer(px, np.uint8).reshape(6, 10, 3)
    exp = arr[(np.arange(4) * 6 // 4)][:, (np.arange(4) * 10 // 4)].tobytes()
    assert out == exp


def test_decode_pixels_digest_and_poison(spark):
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_pixels

    px = hashlib.md5(b"7").hexdigest().encode("ascii")[:24]  # 2x4 RGB
    media = spark.createDataFrame(
        [("ok", "image/png", bytearray(png_encode(px, 2, 4, 3))),
         ("bad", "image/png", bytearray(b"\x89PNG\r\n\x1a\n" + b"junk"))],
        schema=MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in decode_pixels(media).collect()}
    assert got["ok"]["pixel_md5"] == hashlib.md5(px).hexdigest()
    assert got["ok"]["n_pixel_bytes"] == 24
    assert got["bad"]["ok"].startswith("error:")  # poison isolates per blob


def test_synth_png_media_matches_oracle_construction(spark):
    """The generated corpus is the documented doc_id-arithmetic shape the
    driver oracle reconstructs."""
    from marky_spark.ops.multimodal import decode_pixels, synth_png_media

    docs = spark.createDataFrame([(i,) for i in (0, 5, 17)], "doc_id long")
    got = {r["media_ref"]: r
           for r in decode_pixels(synth_png_media(docs)).collect()}
    for i in (0, 5, 17):
        w, h = 4 + i % 13, 4 + i % 7
        n = w * h * 3
        hexs = hashlib.md5(str(i).encode()).hexdigest()
        px = (hexs * (-(-n // len(hexs))))[:n].encode("ascii")
        r = got[f"p{i}"]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["pixel_md5"] == hashlib.md5(px).hexdigest()


def test_docx_embedded_real_png_roundtrip():
    """Reference parity end-to-end: docx.go:196-198 embeds the REAL image
    bytes as a base64 data URI. Build a docx carrying an actual PNG, convert
    through the kernel, and decode the emitted data URI back to the exact
    pixels with the real codec."""
    import re

    from marky_spark import fixtures as fx
    from marky_spark.kernels import REGISTRY

    px = bytes(((x * 7 + y * 13 + c) & 0xFF)
               for y in range(6) for x in range(9) for c in range(3))
    png = png_encode(px, 9, 6, 3)
    doc = fx.b64(fx.docx_zip(
        fx.docx_image("rId7"),
        rels={"rId7": "media/pic.png"},
        media={"media/pic.png": png},
    ))
    segs = REGISTRY["docx"](doc)
    img = next(s for s in segs if s[0] == "image")
    assert img[2] == "word/media/pic.png"
    m = re.match(r"!\[.*\]\(data:image/png;base64,([A-Za-z0-9+/=]+)\)", img[1])
    assert m, img[1]
    assert png_decode(base64.b64decode(m.group(1))) == (9, 6, 3, px)


def test_pptx_embedded_real_png_roundtrip():
    """Same contract for pptx.go:342-343 picture embeds."""
    import re

    from marky_spark import fixtures as fx
    from marky_spark.kernels import REGISTRY

    px = bytes(range(4 * 4 * 3))
    png = png_encode(px, 4, 4, 3)
    deck = fx.b64(fx.pptx_zip(
        slides=[fx.pptx_pic(name="P", descr="real png")],
        media={"ppt/media/image1.png": png},
    ))
    segs = REGISTRY["pptx"](deck)
    img = next(s for s in segs if s[0] == "image")
    m = re.search(r"data:image/png;base64,([A-Za-z0-9+/=]+)\)", img[1])
    assert m, img[1]
    assert png_decode(base64.b64decode(m.group(1))) == (4, 4, 3, px)


def test_extract_embedded_media_end_to_end(spark):
    """Full extraction→multimodal bridge: a docx carrying a real PNG flows
    through the Spark convert stage, the embedded data URI is recovered to
    binary JVM-side, and the real decoder returns the exact pixels — no
    re-read of the source document."""
    from marky_spark import fixtures as fx
    from marky_spark.convert import convert
    from marky_spark.ops.multimodal import decode_pixels, extract_embedded_media
    from marky_spark.schema import INPUT_SCHEMA

    px = bytes(((x + y * 11 + c * 3) & 0xFF)
               for y in range(5) for x in range(7) for c in range(3))
    doc = fx.b64(fx.docx_zip(
        fx.docx_image("rId9"),
        rels={"rId9": "media/emb.png"},
        media={"media/emb.png": png_encode(px, 7, 5, 3)},
    ))
    rows = [{"doc_id": "d-png",
             "spans": [{"kind": "docx", "text": doc, "media_ref": "",
                        "offset": 0}]},
            {"doc_id": "d-ref",  # media_ref-only span: no payload → excluded
             "spans": [{"kind": "image", "text": "", "media_ref": "m://x",
                        "offset": 0}]}]
    out = convert(spark.createDataFrame(rows, schema=INPUT_SCHEMA))
    media = extract_embedded_media(out)
    got = media.collect()
    assert [r["doc_id"] for r in got] == ["d-png"]
    assert got[0]["mime"] == "image/png"
    assert got[0]["media_ref"] == "word/media/emb.png"
    dec = decode_pixels(media).collect()[0]
    assert (dec["width"], dec["height"], dec["channels"]) == (7, 5, 3)
    import hashlib as _h
    assert dec["pixel_md5"] == _h.md5(px).hexdigest()
    # the bridge is narrow: no Exchange anywhere in the chain
    plan = media._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_adam7_and_16bit_round_trip():
    """Adam7 deinterlace + 16-bit decode: the encoder GATHERS pass grids
    the decoder scatters (independent inverses), and 16-bit reduces to
    high bytes (the exact >>8) across every channel count and odd dims."""
    import random

    rng = random.Random(7)
    for ch in (1, 2, 3, 4):
        for w, h in [(1, 1), (7, 5), (16, 16), (3, 9), (8, 1), (1, 8)]:
            px = bytes(rng.randrange(256) for _ in range(w * h * ch))
            blob = png_encode(px, w, h, ch, interlace=True)
            assert png_decode(blob) == (w, h, ch, px)
            px16 = bytes(rng.randrange(256) for _ in range(w * h * ch * 2))
            hi = px16[0::2]
            assert png_decode(png_encode(px16, w, h, ch, depth=16)) \
                == (w, h, ch, hi)
            assert png_decode(png_encode(px16, w, h, ch, depth=16,
                                         interlace=True)) == (w, h, ch, hi)


def test_16bit_palette_and_bad_interlace_are_typed():
    import struct as _struct

    base = png_encode(bytes(27), 3, 3, 3)
    # force IHDR depth=16 color=3 (invalid shape) with a fixed-up CRC
    ihdr_at = base.index(b"IHDR")
    body = bytearray(base[ihdr_at + 4:ihdr_at + 17])
    body[8], body[9] = 16, 3
    import zlib as _zlib

    crc = _zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF
    blob = (base[:ihdr_at + 4] + bytes(body)
            + _struct.pack(">I", crc) + base[ihdr_at + 21:])
    with pytest.raises(PngError, match="16-bit palette"):
        png_decode(blob)
    # unknown interlace method stays typed
    body = bytearray(base[ihdr_at + 4:ihdr_at + 17])
    body[12] = 2
    crc = _zlib.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF
    blob = (base[:ihdr_at + 4] + bytes(body)
            + _struct.pack(">I", crc) + base[ihdr_at + 21:])
    with pytest.raises(PngError, match="interlace"):
        png_decode(blob)


def test_interlaced_mutations_stay_typed():
    """Structure-aware mutations of an interlaced 16-bit PNG either decode
    or raise PngError — never an untyped escape (poison-pill contract)."""
    import random

    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0xADA7)
    px16 = bytes(rng.randrange(256) for _ in range(11 * 9 * 3 * 2))
    base = png_encode(px16, 11, 9, 3, depth=16, interlace=True)
    for _ in range(400):
        blob = _mutate(rng, base)
        try:
            w, h, ch, px = png_decode(blob)
            assert w * h <= MAX_PIXELS and len(px) == w * h * ch
        except PngError:
            pass


def test_exif_chunk_orientation_applies():
    """PNG 1.5 eXIf chunk (bare TIFF IFD): Orientation reorders decoded
    samples into display order, same transform table as JPEG/TIFF;
    malformed EXIF payloads are ignored."""
    import struct
    import zlib as _zlib

    import numpy as np

    w, h = 5, 3
    src = np.arange(w * h * 3, dtype=np.uint8)
    base = png_encode(src.tobytes(), w, h, 3)

    def with_exif(png: bytes, tiff: bytes) -> bytes:
        chunk = (struct.pack(">I", len(tiff)) + b"eXIf" + tiff
                 + struct.pack(">I", _zlib.crc32(b"eXIf" + tiff)
                               & 0xFFFFFFFF))
        at = 8 + 12 + 13  # just after IHDR
        return png[:at] + chunk + png[at:]

    def ifd(o: int) -> bytes:
        return (b"II" + struct.pack("<HI", 42, 8) + struct.pack("<H", 1)
                + struct.pack("<HHIHH", 274, 3, 1, o, 0)
                + struct.pack("<I", 0))

    g = src.reshape(h, w, 3)
    expect = {
        3: g[::-1, ::-1], 6: np.swapaxes(g, 0, 1)[:, ::-1],
        8: np.swapaxes(g, 0, 1)[::-1, :],
    }
    for o, want in expect.items():
        dw, dh, dc, out = png_decode(with_exif(base, ifd(o)))
        assert (dh, dw, dc) == (*want.shape[:2], 3), o
        assert out == np.ascontiguousarray(want).tobytes(), o
    # malformed TIFF payload in the chunk: image still decodes upright
    assert png_decode(with_exif(base, b"QQ garbage"))[3] == src.tobytes()


# --------------------------------------------------------------- APNG

class TestApng:
    def test_roundtrip_full_canvas(self):
        import hashlib

        from marky_spark.ops.pngcodec import (
            looks_like_apng,
            png_decode_frames,
            png_encode,
            png_encode_animated,
        )

        w, h = 7, 5
        frames = []
        for k in range(4):
            hexs = hashlib.md5(f"9:{k}".encode()).hexdigest()
            n = w * h * 3
            frames.append(((hexs * (n // 32 + 1))[:n]).encode("ascii"))
        blob = png_encode_animated(w, h, frames)
        assert looks_like_apng(blob)
        assert not looks_like_apng(png_encode(frames[0], w, h, 3))
        cw, ch, out = png_decode_frames(blob)
        assert (cw, ch) == (w, h)
        assert out == frames

    def test_partial_region_and_dispose(self):
        """Hand-build an APNG: frame 1 full canvas value 10, frame 2 a
        2x2 region at (1,1) value 200 with dispose-to-background, frame
        3 full canvas value 30.  Frame 2's composite shows the region;
        the dispose clears it before frame 3."""
        import struct as _s
        import zlib

        from marky_spark.ops.pngcodec import (
            PNG_SIGNATURE,
            _chunk,
            png_decode_frames,
            png_encode,
        )

        def idat_of(still):
            at = 8
            while at + 8 <= len(still):
                (ln,) = _s.unpack_from(">I", still, at)
                tag = still[at + 4:at + 8]
                if tag == b"IDAT":
                    return still[at + 8:at + 8 + ln]
                at += 12 + ln
            raise AssertionError("no IDAT")

        w = h = 4
        f1 = bytes([10]) * (w * h * 3)
        f2 = bytes([200]) * (2 * 2 * 3)
        f3 = bytes([30]) * (w * h * 3)
        ihdr = _s.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        out = bytearray(PNG_SIGNATURE)
        out += _chunk(b"IHDR", ihdr)
        out += _chunk(b"acTL", _s.pack(">II", 3, 0))
        out += _chunk(b"fcTL", _s.pack(">IIIIIHHBB", 0, w, h, 0, 0,
                                       4, 100, 0, 0))
        out += _chunk(b"IDAT", idat_of(png_encode(f1, w, h, 3)))
        # frame 2: 2x2 at (1,1), dispose_op=1 (background), blend=0
        out += _chunk(b"fcTL", _s.pack(">IIIIIHHBB", 1, 2, 2, 1, 1,
                                       4, 100, 1, 0))
        out += _chunk(b"fdAT", _s.pack(">I", 2)
                      + idat_of(png_encode(f2, 2, 2, 3)))
        out += _chunk(b"fcTL", _s.pack(">IIIIIHHBB", 3, w, h, 0, 0,
                                       4, 100, 0, 0))
        out += _chunk(b"fdAT", _s.pack(">I", 4)
                      + idat_of(png_encode(f3, w, h, 3)))
        out += _chunk(b"IEND", b"")
        cw, ch, frames = png_decode_frames(bytes(out))
        assert len(frames) == 3
        assert frames[0] == f1
        assert frames[1][(0 * w + 0) * 3] == 10     # outside the region
        assert frames[1][(1 * w + 1) * 3] == 200    # inside
        assert frames[1][(2 * w + 2) * 3] == 200
        assert frames[1][(3 * w + 3) * 3] == 10
        assert frames[2] == f3                      # full overwrite

    def test_hostile_apng_is_typed(self):
        import struct as _s

        import pytest

        from marky_spark.ops.pngcodec import (
            PNG_SIGNATURE,
            PngError,
            _chunk,
            png_decode_frames,
            png_encode_animated,
        )

        with pytest.raises(PngError):
            png_decode_frames(b"garbage")
        blob = bytearray(png_encode_animated(4, 4, [bytes(48)]))
        # break the sequence numbers: flip fcTL's seq to 7
        at = blob.find(b"fcTL")
        blob[at + 4:at + 8] = _s.pack(">I", 7)
        # (CRC now wrong too, but the walk checks sequence first; the
        # sub-PNG decode never runs)
        with pytest.raises(PngError, match="sequence|CRC|crc"):
            png_decode_frames(bytes(blob))
        # acTL frame-count mismatch
        blob = bytearray(png_encode_animated(4, 4, [bytes(48)] * 2))
        at = blob.find(b"acTL")
        blob[at + 4:at + 8] = _s.pack(">I", 9)
        with pytest.raises(PngError, match="declares|CRC|crc"):
            png_decode_frames(bytes(blob))
        # frame region outside the canvas
        blob = bytearray(png_encode_animated(4, 4, [bytes(48)]))
        at = blob.find(b"fcTL")
        blob[at + 16:at + 20] = _s.pack(">I", 9)  # frame width 9 > 4
        with pytest.raises(PngError, match="outside|CRC|crc|disagree"):
            png_decode_frames(bytes(blob))


def test_apng_frame_count_is_capped():
    from marky_spark.ops.pngcodec import (
        MAX_APNG_FRAMES,
        png_decode_frames,
        png_encode_animated,
    )

    blob = png_encode_animated(4, 4, [bytes(48)] * 100)
    w, h, frames = png_decode_frames(blob)
    assert len(frames) == MAX_APNG_FRAMES
