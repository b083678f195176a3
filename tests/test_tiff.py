"""TIFF codec: round-trips over all compressions/predictor/strip layouts,
big-endian decode from a hand-built MM fixture, unsupported-shape
classification, hostile-input rejection, mutation fuzz, and the Spark
routing (decode_pixels / resize_media / media_features / synth mix).
"""
from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from marky_spark.ops.tiffcodec import (
    MAX_PIXELS,
    TiffError,
    TiffUnsupportedError,
    looks_like_tiff,
    tiff_decode,
    tiff_encode,
)


@pytest.mark.parametrize("compression", ["none", "packbits", "lzw"])
@pytest.mark.parametrize("predictor", [1, 2])
@pytest.mark.parametrize("channels", [1, 3, 4])
def test_round_trip(compression, predictor, channels):
    rng = random.Random(hash((compression, predictor, channels)) & 0xFFFF)
    w, h = 37, 21
    px = bytes(rng.randrange(256) for _ in range(w * h * channels))
    for rps in (None, 4):
        blob = tiff_encode(px, w, h, channels, compression=compression,
                           predictor=predictor, rows_per_strip=rps)
        assert looks_like_tiff(blob)
        assert tiff_decode(blob) == (w, h, channels, px)


def test_lzw_width_bumps_and_clear():
    """A strip long enough to push the code width through 10/11/12 bits
    and trigger the encoder's mid-stream CLEAR must round-trip exactly.
    A round trip cannot pin the width rule (an encoder and decoder that
    share a wrong rule agree); ``test_lzw_strip_packed_by_hand_decodes``
    does."""
    rng = random.Random(0x71FF)
    w, h = 200, 120
    px = bytes(rng.randrange(256) for _ in range(w * h * 3))
    assert tiff_decode(tiff_encode(px, w, h, 3))[3] == px
    runs = (bytes([7]) * 50000 + px)[:w * h * 3]
    assert tiff_decode(tiff_encode(runs, w, h, 3))[3] == runs


def test_lzw_strip_packed_by_hand_decodes():
    """A 50x50 gray strip of 2,500 literal codes packed from an explicit
    per-code width list (tests/test_bitio.lzw_literals): it crosses
    9→10→11→12 bits, so a decoder that widens one code early misreads
    it."""
    from tests.test_bitio import lzw_literals

    px = bytes(random.Random(0x1A2B).randrange(256) for _ in range(2500))
    assert tiff_decode(_mm_gray(50, 50, 5, lzw_literals(px))) == (
        50, 50, 1, px)


def _mm_gray(width: int, height: int, compression: int,
             strip: bytes) -> bytes:
    """Hand-built MM (big-endian) single-strip 8-bit grayscale TIFF."""
    entries = [
        (256, 3, 1, width),  # SHORT, inline left-justified
        (257, 3, 1, height),
        (258, 3, 1, 8),
        (259, 3, 1, compression),
        (262, 3, 1, 1),
        (273, 4, 1, None),  # strip offset patched below
        (277, 3, 1, 1),
        (278, 4, 1, height),
        (279, 4, 1, len(strip)),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(entries) + 4
    blob = bytearray(b"MM" + struct.pack(">HI", 42, ifd_off))
    blob += struct.pack(">H", len(entries))
    for tag, typ, count, val in entries:
        if val is None:
            val = strip_off
        blob += struct.pack(">HHI", tag, typ, count)
        if typ == 3:
            blob += struct.pack(">H", val) + b"\x00\x00"
        else:
            blob += struct.pack(">I", val)
    blob += struct.pack(">I", 0)
    return bytes(blob + strip)


def test_big_endian_decodes():
    """Hand-built MM (big-endian) uncompressed 3x2 grayscale fixture —
    the encoder only writes II, so this pins the byte-order handling
    asymmetrically."""
    px = bytes([10, 200, 30, 40, 50, 60])
    assert tiff_decode(_mm_gray(3, 2, 1, px)) == (3, 2, 1, px)


def _with_tag(blob: bytes, tag: int, typ: int, values: list) -> bytes:
    """Rebuild a little-endian single-IFD TIFF with one extra inline SHORT
    tag inserted in sorted order, bumping strip/tile offsets by the 12
    bytes the IFD grew."""
    assert typ == 3 and len(values) == 1
    (ifd_off,) = struct.unpack_from("<I", blob, 4)
    (n,) = struct.unpack_from("<H", blob, ifd_off)
    entries = [bytearray(blob[ifd_off + 2 + 12 * k:ifd_off + 14 + 12 * k])
               for k in range(n)]
    entries.append(bytearray(struct.pack("<HHIH", tag, typ, 1, values[0])
                             + b"\x00\x00"))
    entries.sort(key=lambda e: struct.unpack_from("<H", e, 0)[0])
    tsize = {1: 1, 2: 1, 3: 2, 4: 4, 7: 1}
    for e in entries:
        t, ty, cnt = struct.unpack_from("<HHI", e, 0)
        # strip/tile/interchange data offsets AND overflow-value
        # pointers all shift
        if t in (273, 324, 513) or tsize.get(ty, 8) * cnt > 4:
            v = struct.unpack_from("<I", e, 8)[0]
            struct.pack_into("<I", e, 8, v + 12)
    tail = ifd_off + 2 + 12 * n + 4
    return bytes(bytearray(blob[:ifd_off]) + struct.pack("<H", n + 1)
                 + b"".join(entries) + struct.pack("<I", 0) + blob[tail:])


def test_unsupported_shapes_classify():
    px = bytes(range(12))
    base = tiff_encode(px, 2, 2, 3, compression="none")

    def patch_tag(blob: bytes, tag: int, value: int) -> bytes:
        out = bytearray(blob)
        (n,) = struct.unpack_from("<H", out, 8)
        for k in range(n):
            off = 10 + 12 * k
            if struct.unpack_from("<H", out, off)[0] == tag:
                struct.pack_into("<I", out, off + 8, value)
                return bytes(out)
        raise AssertionError(f"tag {tag} not found")

    # compression 6 without a JPEGInterchangeFormat stream (tag 513) —
    # the per-strip old-style tag machinery — stays typed-unsupported
    with pytest.raises(TiffUnsupportedError, match="old-style JPEG"):
        tiff_decode(patch_tag(base, 259, 6))
    # compression 7 is SUPPORTED now — but raw strips are not JPEG streams
    with pytest.raises(TiffError, match="missing SOI"):
        tiff_decode(patch_tag(base, 259, 7))
    # compression 4 (G4) is supported, but only for 1-bit samples
    with pytest.raises(TiffError, match="1-bit"):
        tiff_decode(patch_tag(base, 259, 4))
    with pytest.raises(TiffUnsupportedError, match="photometric"):
        tiff_decode(patch_tag(base, 262, 3))
    with pytest.raises(TiffUnsupportedError, match="samples/pixel"):
        tiff_decode(patch_tag(base, 277, 2))
    with pytest.raises(TiffUnsupportedError, match="FillOrder"):
        tiff_decode(_with_tag(base, 266, 3, [2]))
    assert issubclass(TiffUnsupportedError, NotImplementedError)


def test_hostile_inputs_raise_typed():
    with pytest.raises(TiffError, match="not a TIFF"):
        tiff_decode(b"hello world")
    with pytest.raises(TiffError, match="IFD offset"):
        tiff_decode(b"II" + struct.pack("<HI", 42, 9999))
    # pixel cap enforced before strip reads
    px = bytes(range(12))
    blob = bytearray(tiff_encode(px, 2, 2, 3))
    (n,) = struct.unpack_from("<H", blob, 8)
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", blob, off)[0] == 256:
            struct.pack_into("<I", blob, off + 8, MAX_PIXELS)
    with pytest.raises(TiffError, match="cap"):
        tiff_decode(bytes(blob))
    # strip pointing outside the stream
    blob = bytearray(tiff_encode(px, 2, 2, 3))
    for k in range(n):
        off = 10 + 12 * k
        if struct.unpack_from("<H", blob, off)[0] == 273:
            struct.pack_into("<I", blob, off + 8, len(blob) + 100)
    with pytest.raises(TiffError, match="outside stream"):
        tiff_decode(bytes(blob))


def test_encode_validations():
    with pytest.raises(TiffError, match="channel"):
        tiff_encode(b"\x00\x00", 1, 1, 2)
    with pytest.raises(TiffError, match="pixel buffer"):
        tiff_encode(b"\x00", 2, 2, 1)
    with pytest.raises(TiffError, match="compression"):
        tiff_encode(b"\x00", 1, 1, 1, compression="zip")


def test_mutations_stay_typed():
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0x71F2)
    px = bytes((i * 31) % 256 for i in range(48 * 20 * 3))
    bases = [tiff_encode(px, 48, 20, 3, compression=c,
                         predictor=p, rows_per_strip=r)
             for c in ("none", "packbits", "lzw")
             for p, r in ((1, None), (2, 5))]
    for k in range(600):
        blob = _mutate(rng, bases[k % len(bases)])
        try:
            w, h, c, out = tiff_decode(blob)
        except (TiffError, TiffUnsupportedError):
            continue
        assert w * h * c <= MAX_PIXELS
        assert len(out) == w * h * c


def test_spark_routing_tiff(spark):
    """decode_media / decode_pixels / resize_media / media_features all
    take the REAL path for TIFF payloads; text bytes never do."""
    from marky_spark.ops.multimodal import (
        decode_media,
        decode_pixels,
        media_features,
        resize_media,
    )
    from marky_spark.ops.pngcodec import png_decode

    px = bytes((i * 7) % 256 for i in range(20 * 10 * 3))
    blob = tiff_encode(px, 20, 10, 3, compression="lzw", predictor=2)
    media = spark.createDataFrame(
        [("t", "image/tiff", bytearray(blob)),
         ("x", "image/tiff", bytearray(b"II*\x00garbage")),
         ("s", "text/plain", bytearray(b"just some text"))],
        "media_ref string, mime string, payload binary")
    dec = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert (dec["t"]["width"], dec["t"]["height"], dec["t"]["channels"],
            dec["t"]["ok"]) == (20, 10, 3, "ok")
    assert dec["x"]["ok"].startswith("error:")   # hostile TIFF isolates
    assert (dec["s"]["ok"], dec["s"]["width"]) == ("unsupported", None)
    pix = {r["media_ref"]: r for r in decode_pixels(
        media.where("media_ref = 't'")).collect()}
    import hashlib
    assert pix["t"]["pixel_md5"] == hashlib.md5(px).hexdigest()
    rez = {r["media_ref"]: r for r in resize_media(
        media.where("media_ref = 't'"), width=5, height=5).collect()}
    grid = np.frombuffer(px, np.uint8).reshape(10, 20, 3)
    near = grid[np.arange(5) * 10 // 5][:, np.arange(5) * 20 // 5].tobytes()
    assert png_decode(bytes(rez["t"]["payload"])) == (5, 5, 3, near)
    feats = {r["media_ref"]: list(r["features"]) for r in media_features(
        media.where("media_ref = 't'")).collect()}
    arr = np.frombuffer(px, dtype=np.uint8)
    assert feats["t"][0] == pytest.approx(20 / 1024.0)
    assert feats["t"][3] == pytest.approx(float(arr.mean()) / 255.0)


def test_synth_corpus_mixes_tiff(spark):
    """Every fifth synthetic media doc is a real TIFF of the same pixel
    formula, rotating compression — the mix the driver oracle pins."""
    from marky_spark.ops.multimodal import synth_png_media

    docs = spark.createDataFrame([(i,) for i in range(15)], "doc_id long")
    rows = {r["media_ref"]: r for r in synth_png_media(docs).collect()}
    import hashlib as hl
    n_tiff = 0
    for i in range(15):
        r = rows[f"p{i}"]
        blob = bytes(r["payload"])
        w, h = 4 + i % 13, 4 + i % 7
        hexs = hl.md5(str(i).encode()).hexdigest()
        px = (hexs * (-(-(w * h * 3) // 32)))[:w * h * 3].encode()
        if i % 5 == 4:
            n_tiff += 1
            assert r["mime"] == "image/tiff" and looks_like_tiff(blob)
            assert tiff_decode(blob) == (w, h, 3, px)
        elif i % 5 == 3:
            assert r["mime"] == "image/x-portable-pixmap"  # test_pnm pins it
        elif i % 5 == 1:
            assert r["mime"] == "image/webp"  # test_webp pins the codec
            from marky_spark.ops.webpcodec import webp_decode

            assert webp_decode(blob) == (w, h, 3, px)
        else:
            assert r["mime"] == "image/png" and blob[:4] == b"\x89PNG"
    assert n_tiff == 3


def test_16bit_and_planar_round_trips():
    """16-bit (high-byte reduction) and planar=2 (plane-major strips)
    across compressions, predictor, and strip layouts."""
    import random

    import numpy as np

    rng = random.Random(11)
    w, h = 9, 7
    for ch in (1, 3, 4):
        for comp in ("none", "packbits", "lzw"):
            for pred in (1, 2):
                for planar in (1, 2):
                    px = bytes(rng.randrange(256) for _ in range(w * h * ch))
                    blob = tiff_encode(px, w, h, ch, compression=comp,
                                       predictor=pred, planar=planar,
                                       rows_per_strip=3)
                    assert tiff_decode(blob) == (w, h, ch, px)
                    a16 = np.array([rng.randrange(65536)
                                    for _ in range(w * h * ch)], dtype="<u2")
                    blob = tiff_encode(a16.tobytes(), w, h, ch,
                                       compression=comp, predictor=pred,
                                       planar=planar, bits=16)
                    assert tiff_decode(blob) == \
                        (w, h, ch, (a16 >> 8).astype(np.uint8).tobytes())


def test_planar_strip_count_enforced():
    """planar=2 demands strips_per_plane x samples strips; a chunky strip
    count on a planar file is a typed error, not a mis-parse."""
    import re

    px = bytes(range(54))  # 3x6 RGB... 3*6*3 = 54
    blob = bytearray(tiff_encode(px, 3, 6, 3, compression="none", planar=2,
                                 rows_per_strip=2))
    # patch PlanarConfiguration (tag 284) back to 1: now 9 strips is wrong
    at = blob.find(struct.pack("<HH", 284, 3))
    assert at > 0
    struct.pack_into("<I", blob, at + 8, 1)
    with pytest.raises(TiffError, match="strips"):
        tiff_decode(bytes(blob))


def test_odd_bit_depths_stay_unsupported():
    blob = bytearray(tiff_encode(bytes(12), 2, 2, 3, compression="none"))
    at = blob.find(struct.pack("<HH", 258, 3))
    assert at > 0
    # BitsPerSample values live in the overflow area for 3 channels
    (off,) = struct.unpack_from("<I", blob, at + 8)
    struct.pack_into("<HHH", blob, off, 12, 12, 12)
    with pytest.raises(TiffUnsupportedError, match="bit depths"):
        tiff_decode(bytes(blob))


def test_old_style_jpeg_interchange():
    """Compression 6 with a JPEGInterchangeFormat stream (tag 513/514)
    decodes the complete JPEG — the subset real old scanner files carry;
    hostile offsets and channel mismatches stay typed."""
    w, h = 20, 13
    px = bytes([77]) * (w * h)
    blob = tiff_encode(px, w, h, 1, compression="jpeg6")
    assert tiff_decode(blob) == (w, h, 1, px)  # uniform → Annex-K exact
    px3 = bytes([90]) * (w * h * 3)
    assert tiff_decode(tiff_encode(px3, w, h, 3,
                                   compression="jpeg6"))[3] == px3
    inv = tiff_encode(px, w, h, 1, compression="jpeg6", photometric=0)
    assert tiff_decode(inv)[3] == bytes([255 - 77]) * (w * h)

    def retag(b: bytes, tag: int, v: int) -> bytes:
        out = bytearray(b)
        (n,) = struct.unpack_from("<H", out, 8)
        for k in range(n):
            off = 10 + 12 * k
            if struct.unpack_from("<H", out, off)[0] == tag:
                struct.pack_into("<I", out, off + 8, v)
        return bytes(out)

    with pytest.raises(TiffError, match="outside stream"):
        tiff_decode(retag(blob, 513, 10 ** 7))
    with pytest.raises(TiffError, match="channels"):
        # claim 1 sample/pixel over the 3-channel interchange stream
        rgb = tiff_encode(px3, w, h, 3, compression="jpeg6")
        tiff_decode(retag(rgb, 277, 1))
    # encoder contract: old-style writes ONE stream, never strips/tiles
    with pytest.raises(TiffError, match="interchange"):
        tiff_encode(px, w, h, 1, compression="jpeg6", rows_per_strip=4)


def test_orientation_tag_274():
    """All 8 EXIF/TIFF orientations decode to display order; 5-8 swap
    the returned dimensions. Checked against numpy-computed expectations
    on an asymmetric grid."""
    w, h = 5, 3
    src = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    base = tiff_encode(src.tobytes(), w, h, 3, compression="none")
    expect = {
        1: src, 2: src[:, ::-1], 3: src[::-1, ::-1], 4: src[::-1, :],
        5: np.swapaxes(src, 0, 1), 6: np.swapaxes(src, 0, 1)[:, ::-1],
        7: np.swapaxes(src, 0, 1)[::-1, ::-1],
        8: np.swapaxes(src, 0, 1)[::-1, :],
    }
    for o, want in expect.items():
        blob = base if o == 1 else _with_tag(base, 274, 3, [o])
        dw, dh, dc, out = tiff_decode(blob)
        assert (dh, dw) == want.shape[:2], o
        assert out == np.ascontiguousarray(want).tobytes(), o
    with pytest.raises(TiffError, match="orientation"):
        tiff_decode(_with_tag(base, 274, 3, [9]))
    # orientation composes with the old-style JPEG early-return path
    g = tiff_encode(bytes([70]) * 12, 4, 3, 1, compression="jpeg6")
    dw, dh, _, out = tiff_decode(_with_tag(g, 274, 3, [6]))
    assert (dw, dh) == (3, 4) and out == bytes([70]) * 12


def test_12bit_jpeg_in_tiff():
    """BitsPerSample 12 with compression 7/6: the medical-scan TIFF
    shape; lattice values v<<4 decode to exactly v."""
    w, h = 20, 13
    px12 = np.frombuffer(bytes(0 for _ in range(0)), dtype="<u2")
    px12 = np.full(w * h, 77 << 4, dtype="<u2").tobytes()
    for comp, kw in (("jpeg", {"rows_per_strip": 8}), ("jpeg6", {})):
        blob = tiff_encode(px12, w, h, 1, compression=comp, bits=12, **kw)
        assert tiff_decode(blob) == (w, h, 1, bytes([77]) * (w * h)), comp
    rgb = np.full(w * h * 3, 90 << 4, dtype="<u2").tobytes()
    blob = tiff_encode(rgb, w, h, 3, compression="jpeg6", bits=12)
    assert tiff_decode(blob)[3] == bytes([90]) * (w * h * 3)
    # 12-bit is JPEG-only on both sides
    with pytest.raises(TiffError, match="JPEG-in-TIFF only"):
        tiff_encode(px12, w, h, 1, compression="lzw", bits=12)
    (_, _, _, _) = tiff_decode(blob)  # still valid after the reject


def test_planar_ycbcr_jpeg_is_typed():
    """photometric 6 + PlanarConfiguration 2 would decode as three
    separate 1-channel JPEGs with no YCbCr->RGB conversion — raw YCbCr
    silently labeled RGB. Must be a typed unsupported error instead.
    (The encoder refuses to write this combo, so relocate the IFD to
    EOF with a PlanarConfiguration=2 entry spliced in.)"""
    import struct

    w, h = 8, 8
    rgb = bytes((x * 3 + y * 5 + c) % 256
                for y in range(h) for x in range(w) for c in range(3))
    blob = bytearray(tiff_encode(rgb, w, h, 3, compression="jpeg"))
    off = struct.unpack_from("<I", blob, 4)[0]
    n = struct.unpack_from("<H", blob, off)[0]
    entries = [bytes(blob[off + 2 + 12 * i: off + 14 + 12 * i])
               for i in range(n)]
    entries.append(struct.pack("<HHII", 284, 3, 1, 2))
    entries.sort(key=lambda e: struct.unpack_from("<H", e)[0])
    new_off = len(blob)
    blob += (struct.pack("<H", len(entries)) + b"".join(entries)
             + b"\x00\x00\x00\x00")
    struct.pack_into("<I", blob, 4, new_off)
    with pytest.raises(TiffUnsupportedError, match="planar YCbCr"):
        tiff_decode(bytes(blob))


def test_separated_cmyk_converts_to_rgb():
    """Photometric 5 (Separated/CMYK — prepress scans): all four
    lossless codecs, chunky + planar, 8- and 16-bit, ink-convert to
    the exact rounded RGB; wrong sample counts and non-CMYK InkSet
    stay typed."""
    import numpy as np

    w, h = 9, 5
    cmyk = bytes((x * 17 + y * 29 + c * 41) % 256
                 for y in range(h) for x in range(w) for c in range(4))
    inv = 255 - np.frombuffer(cmyk, np.uint8).reshape(-1, 4).astype(
        np.uint32)
    exp = ((inv[:, :3] * inv[:, 3:4] + 127) // 255).astype(
        np.uint8).tobytes()
    for comp in ("none", "lzw", "packbits", "deflate"):
        for planar in (1, 2):
            for bits in (8, 16):
                payload = cmyk
                if bits == 16:
                    a = bytearray(2 * len(cmyk))
                    a[0::2] = bytes([7]) * len(cmyk)  # low bytes (LE)
                    a[1::2] = cmyk                    # high = samples
                    payload = bytes(a)
                blob = tiff_encode(payload, w, h, 4, compression=comp,
                                   planar=planar, photometric=5,
                                   bits=bits)
                assert tiff_decode(blob) == (w, h, 3, exp), \
                    (comp, planar, bits)
    # 3-sample photometric-5 is malformed, not mis-decoded
    with pytest.raises(TiffError, match="CMYK needs 4"):
        tiff_decode(tiff_encode(cmyk[:w * h * 3], w, h, 3,
                                compression="none", photometric=5))
