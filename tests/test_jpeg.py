"""JPEG codec (ops/jpegcodec) — the fourth real image codec.

Baseline DCT round-trips (Huffman entropy coding, quantization, color
conversion), grayscale, quality scaling, hostile inputs, the strict sniff,
real-world 4:2:0 pins from the reference's own test files, and Spark-side
routing through the multimodal operators.
"""

import hashlib
import struct
import zipfile

import numpy as np
import pytest

from marky_spark.ops.jpegcodec import (
    JpegError,
    JpegUnsupportedError,
    jpeg_decode,
    jpeg_encode,
    looks_like_jpeg,
)


def _gradient(w, h, channels=3):
    xx, yy = np.meshgrid(np.arange(w), np.arange(h))
    if channels == 1:
        return ((xx * 5 + yy * 3) % 256).astype(np.uint8)[..., None]
    return np.stack(
        [(xx * 3) % 256, (yy * 4) % 256, ((xx + yy) * 2) % 256], -1
    ).astype(np.uint8)


@pytest.mark.parametrize("dims", [(8, 8), (17, 9), (64, 48), (33, 41)])
def test_round_trip_close(dims):
    """Lossy but bounded: smooth content at quality 95 must round-trip
    within a few code values (exercises FDCT/IDCT, quant, Huffman both
    directions, edge-replication padding for non-multiple-of-8 dims)."""
    w, h = dims
    img = _gradient(w, h)
    data = jpeg_encode(img.tobytes(), w, h, 3, quality=95)
    assert looks_like_jpeg(data)
    gw, gh, gc, px = jpeg_decode(data)
    assert (gw, gh, gc) == (w, h, 3)
    dec = np.frombuffer(px, np.uint8).reshape(h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.max() <= 12 and err.mean() < 2.0, (err.max(), err.mean())


def test_uniform_block_exact():
    """A uniform color is DC-only and survives quantization exactly."""
    uni = np.full((16, 16, 3), [10, 200, 99], dtype=np.uint8)
    gw, gh, gc, px = jpeg_decode(jpeg_encode(uni.tobytes(), 16, 16, 3))
    assert np.array_equal(
        np.frombuffer(px, np.uint8).reshape(16, 16, 3), uni)


def test_grayscale_round_trip():
    img = _gradient(24, 16, channels=1)
    data = jpeg_encode(img.tobytes(), 24, 16, 1, quality=92)
    gw, gh, gc, px = jpeg_decode(data)
    assert (gw, gh, gc) == (24, 16, 1)
    err = np.abs(np.frombuffer(px, np.uint8).reshape(16, 24, 1).astype(int)
                 - img.astype(int))
    assert err.mean() < 2.0


def test_quality_scales_size():
    img = np.random.default_rng(7).integers(
        0, 256, (48, 48, 3), dtype=np.uint8)
    lo = jpeg_encode(img.tobytes(), 48, 48, 3, quality=20)
    hi = jpeg_encode(img.tobytes(), 48, 48, 3, quality=95)
    assert len(lo) < len(hi)


def test_sniff_rejects_text_and_garbage():
    assert not looks_like_jpeg(b"")
    assert not looks_like_jpeg(b"\xff\xd8")  # SOI alone
    assert not looks_like_jpeg(b"\xff\xd8 not a real marker stream")
    assert not looks_like_jpeg(b"JPEG is an image format " * 3)


def test_malformed_raises_jpeg_error():
    good = jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3)
    bads = [
        good[:30],           # truncated mid-tables
        good[:2],            # SOI only
        b"\xff\xd8\xff\xda\x00\x04\x01\x00",  # SOS before SOF
    ]
    for bad in bads:
        with pytest.raises(JpegError):
            jpeg_decode(bad)


def test_arithmetic_coding_rejected_cleanly():
    """SOF9 (arithmetic coding) must raise JpegError naming the mode, not
    decode garbage or escape with a different exception."""
    good = bytearray(jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3))
    idx = bytes(good).find(b"\xff\xc0")
    good[idx + 1] = 0xC9
    with pytest.raises(JpegError, match="SOF9"):
        jpeg_decode(bytes(good))


def test_progressive_decode_matches_baseline():
    """The progressive encoder quantizes identically to the baseline one,
    so decoding the two encodings of the same pixels must be byte-identical
    — this pins every SOF2 path: interleaved DC scans, spectral-selection
    AC bands, successive-approximation refinement (correction bits, newly-
    nonzero insertion, ZRL descent), EOBn runs, and DC bit refinement."""
    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    rng = np.random.RandomState(3)
    for (w, h, ch, q) in [(16, 16, 3, 90), (13, 11, 3, 50), (7, 3, 1, 25),
                          (64, 48, 3, 75), (1, 1, 1, 90), (33, 41, 3, 10)]:
        img = _gradient(w, h, ch)
        img = (img.astype(np.int32)
               + rng.randint(-40, 40, img.shape)).clip(0, 255)
        px = img.astype(np.uint8).tobytes()
        base = jpeg_decode(jpeg_encode(px, w, h, ch, quality=q))
        prog = jpeg_decode(jpeg_encode_progressive(px, w, h, ch, quality=q))
        assert base == prog


def test_progressive_restart_markers():
    """RSTn markers inside progressive scans: fresh bit reader per
    restart segment, DC predictions and the EOB run reset."""
    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, (24, 40, 3)).astype(np.uint8)
    px = img.tobytes()
    for ri in (1, 3, 7):
        base = jpeg_decode(jpeg_encode(px, 40, 24, 3, quality=60,
                                       restart_interval=ri))
        prog = jpeg_decode(jpeg_encode_progressive(
            px, 40, 24, 3, quality=60, restart_interval=ri))
        assert base == prog
        assert jpeg_encode_progressive(
            px, 40, 24, 3, quality=60,
            restart_interval=ri).count(b"\xff\xd0") >= 1


def test_progressive_uniform_is_exact():
    """A uniform image survives quantization exactly (DC-only blocks), so
    the progressive decode must reproduce it bit-exactly — same invariant
    the AVI frame oracle relies on for baseline."""
    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    for val in (0, 1, 77, 128, 254, 255):
        px = bytes([val]) * (24 * 16 * 3)
        w, h, ch, out = jpeg_decode(
            jpeg_encode_progressive(px, 24, 16, 3, quality=90))
        assert (w, h, ch) == (24, 16, 3)
        assert out == px


def test_progressive_truncated_and_malformed():
    """Truncated or bit-flipped progressive streams must stay inside the
    typed-error contract (JpegError), never IndexError/struct.error."""
    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    img = _gradient(16, 16, 3)
    good = jpeg_encode_progressive(img.tobytes(), 16, 16, 3)
    assert jpeg_decode(good)  # sanity
    for cut in (4, len(good) // 3, len(good) // 2, len(good) - 3):
        try:
            jpeg_decode(good[:cut])
        except JpegError:
            pass


def test_dimension_cap():
    good = bytearray(jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3))
    idx = bytes(good).find(b"\xff\xc0")
    struct.pack_into(">HH", good, idx + 5, 60000, 60000)
    with pytest.raises(JpegError, match="dimensions"):
        jpeg_decode(bytes(good))


# Real-world pins: the JPEGs embedded in the reference's own test files —
# all baseline 4:2:0 with real encoder Huffman tables. Hash-locked decoded
# pixels; any decoder regression flips these red.
_REAL_JPEG_PINS = [
    ("test.pptx", "docProps/thumbnail.jpeg", 256, 144,
     "23d4a91f5d6cc4a8a913110f46d7c9ce"),
    ("test.pptx", "ppt/media/image1.jpeg", 631, 768,
     "1bcc1ccb1aee73165e867426148055b6"),
    ("test.epub", "cover_image.jpg", 1200, 1600,
     "8bfa22c4fb1c6535f7fb4783d778b8e6"),
]

_FILES = "/root/reference/test_files"


@pytest.mark.skipif(not __import__("os").path.exists(_FILES),
                    reason="reference fixtures not present")
def test_real_world_jpegs_decode_pinned():
    for zf, member, w, h, md5 in _REAL_JPEG_PINS:
        data = zipfile.ZipFile(f"{_FILES}/{zf}").read(member)
        gw, gh, gc, px = jpeg_decode(data)
        assert (gw, gh, gc) == (w, h, 3), member
        assert hashlib.md5(px).hexdigest() == md5, member


@pytest.mark.skipif(not __import__("os").path.exists(_FILES),
                    reason="reference fixtures not present")
def test_real_world_jpeg_self_consistency():
    """Re-encoding the decoded slide thumbnail with our encoder at high
    quality and decoding again must reproduce the pixels closely — a
    decoder whose IDCT/color path were wrong would diverge wildly under
    its own inverse."""
    data = zipfile.ZipFile(f"{_FILES}/test.pptx").read(
        "docProps/thumbnail.jpeg")
    w, h, c, px = jpeg_decode(data)
    again = jpeg_encode(px, w, h, c, quality=97)
    w2, h2, c2, px2 = jpeg_decode(again)
    a = np.frombuffer(px, np.uint8).astype(int)
    b = np.frombuffer(px2, np.uint8).astype(int)
    assert np.abs(a - b).mean() < 3.0


def test_spark_routing_jpeg(spark):
    """JPEG through the multimodal surface: real dims from decode_media,
    decoded-pixel digest from decode_pixels, resize gives a PNG of the
    nearest-neighbour decoded samples (no second lossy encode), and
    media_features derives from pixels (matches the PNG vector for the
    same content up to JPEG loss)."""
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        decode_pixels,
        pixel_features,
        resize_media,
    )
    from marky_spark.ops.pngcodec import png_decode

    w, h = 24, 16
    img = _gradient(w, h)
    jp = jpeg_encode(img.tobytes(), w, h, 3, quality=95)
    media = spark.createDataFrame(
        [Row(media_ref="j1", mime="image/jpeg", payload=jp)],
        schema=MEDIA_SCHEMA)

    dec = decode_media(media).collect()[0]
    assert (dec["width"], dec["height"], dec["channels"], dec["ok"]) == \
        (w, h, 3, "ok")

    exp_px = jpeg_decode(jp)[3]
    pix = decode_pixels(media).collect()[0]
    assert pix["pixel_md5"] == hashlib.md5(exp_px).hexdigest()
    assert pix["ok"] == "ok"

    res = resize_media(media, width=6, height=4).collect()[0]
    assert (res["in_width"], res["in_height"]) == (w, h)
    grid = np.frombuffer(exp_px, np.uint8).reshape(h, w, 3)
    near = grid[np.arange(4) * h // 4][:, np.arange(6) * w // 6].tobytes()
    assert png_decode(bytes(res["payload"])) == (6, 4, 3, near)

    pf = pixel_features(media).collect()[0]
    arr = np.frombuffer(exp_px, np.uint8)
    assert pf["ok"] == "ok"
    assert pf["sum_c0"] == int(arr[0::3].sum())


def test_restart_marker_round_trip():
    """DRI + RSTn markers: DC predictors reset and the bit reader
    resynchronizes at each restart boundary."""
    img = _gradient(40, 24)
    data = jpeg_encode(img.tobytes(), 40, 24, 3, quality=95,
                       restart_interval=3)
    assert b"\xff\xdd" in data and b"\xff\xd0" in data
    gw, gh, gc, px = jpeg_decode(data)
    assert (gw, gh, gc) == (40, 24, 3)
    err = np.abs(np.frombuffer(px, np.uint8).reshape(24, 40, 3).astype(int)
                 - img.astype(int))
    assert err.max() <= 12


@pytest.mark.skipif(not __import__("os").path.exists(_FILES),
                    reason="reference fixtures not present")
def test_real_pptx_embedded_jpeg_end_to_end(spark):
    """The full extraction→multimodal chain on the reference's REAL
    test.pptx: convert (pptx kernel embeds ppt/media/image1.jpeg as a data
    URI labeled image/png — reference parity with pptx.go:342-343's
    hardcoded mime) → extract_embedded_media → decode_media, where the
    signature sniff must ignore the wrong mime label and real-decode the
    JPEG to its true 631x768x3."""
    import base64

    from pyspark.sql import Row

    from marky_spark.convert import convert
    from marky_spark.ops.multimodal import decode_media, extract_embedded_media
    from marky_spark.schema import INPUT_SCHEMA

    raw = open(f"{_FILES}/test.pptx", "rb").read()
    docs = spark.createDataFrame(
        [Row(doc_id="real-pptx",
             spans=[Row(kind="pptx",
                        text=base64.b64encode(raw).decode(),
                        media_ref="", offset=0)])],
        schema=INPUT_SCHEMA)
    out = convert(docs)
    media = extract_embedded_media(out)
    assert media.collect()[0]["mime"] == "image/png"  # the (wrong) label
    rows = decode_media(media).collect()
    assert len(rows) == 1
    got = rows[0]
    assert (got["width"], got["height"], got["channels"], got["ok"]) == \
        (631, 768, 3, "ok")  # ...but the sniff decoded the actual JPEG


def test_arithmetic_classifies_codec_unavailable(spark):
    """SOF9 (arithmetic coding) is a recognized-but-unimplemented mode: the
    operators must classify it codec_unavailable (JpegUnsupportedError is
    a NotImplementedError), not an error row and never a fake decode."""
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_media, decode_pixels

    arith = bytearray(jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3))
    idx = bytes(arith).find(b"\xff\xc0")
    arith[idx + 1] = 0xC9
    media = spark.createDataFrame(
        [Row(media_ref="aj", mime="image/jpeg", payload=bytes(arith))],
        schema=MEDIA_SCHEMA)
    assert decode_media(media).collect()[0]["ok"] == "codec_unavailable"
    assert decode_pixels(media).collect()[0]["ok"] == "codec_unavailable"


def test_progressive_decodes_through_spark_operators(spark):
    """Progressive JPEG is now a REAL decode path: decode_media must
    report true dims and decode_pixels the same pixels as the local
    decoder, for a payload the baseline decoder alone could not read."""
    from pyspark.sql import Row

    from marky_spark.ops.jpegcodec import jpeg_encode_progressive
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_media, decode_pixels

    img = _gradient(24, 18, 3)
    prog = jpeg_encode_progressive(img.tobytes(), 24, 18, 3, quality=85)
    assert prog[3] != 0xC0 and b"\xff\xc2" in prog
    media = spark.createDataFrame(
        [Row(media_ref="pj", mime="image/jpeg", payload=prog)],
        schema=MEDIA_SCHEMA)
    drow = decode_media(media).collect()[0]
    assert drow["ok"] == "ok"
    assert (drow["width"], drow["height"], drow["channels"]) == (24, 18, 3)
    prow = decode_pixels(media).collect()[0]
    local = jpeg_decode(prog)[3]
    assert prow["pixel_md5"] == hashlib.md5(local).hexdigest()


def test_jpeg_pixel_cap_is_jpeg_specific():
    """A small payload declaring huge dimensions must be rejected before
    any allocation: the JPEG cap (2^24) is far below the PNG cap because
    decode allocates ~50-100 bytes of float64 intermediates per pixel."""
    from marky_spark.ops.jpegcodec import JPEG_MAX_PIXELS

    assert JPEG_MAX_PIXELS < (1 << 28)
    good = bytearray(jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3))
    idx = bytes(good).find(b"\xff\xc0")
    struct.pack_into(">HH", good, idx + 5, 16384, 16384)  # 2^28 pixels
    with pytest.raises(JpegError, match="dimensions"):
        jpeg_decode(bytes(good))


def test_encode_u16_dimension_guard():
    with pytest.raises(JpegError, match="u16"):
        jpeg_encode(bytes(70000 * 3), 70000, 1, 3)


def test_dqt_segments_are_standard_annex_k():
    """The emitted DQT must carry the Annex-K table (zigzag-serialized from
    the natural-order literals): a scrambled matrix round-trips
    self-consistently but diverges from standard quality semantics."""
    from marky_spark.ops.jpegcodec import _STD_LUMA_Q, _ZIGZAG

    data = jpeg_encode(bytes(8 * 8 * 3), 8, 8, 3, quality=50)  # scale = 1:1
    i = data.find(b"\xff\xdb")
    body = data[i + 5:i + 5 + 64]  # skip marker+len+Pq/Tq byte
    natural = [0] * 64
    for k in range(64):
        natural[_ZIGZAG[k]] = body[k]
    assert natural == _STD_LUMA_Q


def test_exif_orientation_applies():
    """APP1 EXIF Orientation (tag 274) reorders decoded samples into
    display order; 5-8 swap dimensions; malformed EXIF is ignored
    (browser/libtiff forgiveness — the image itself is still valid)."""
    import struct

    import numpy as np

    w, h = 12, 8
    px = bytes([55]) * (w * h)
    base = jpeg_encode(px, w, h, 1, quality=90)

    def with_exif(jpeg: bytes, orientation: int, order: bytes = b"II"):
        fmt = "<" if order == b"II" else ">"
        tiff = (order + struct.pack(fmt + "HI", 42, 8)
                + struct.pack(fmt + "H", 1)
                + struct.pack(fmt + "HHIHH", 274, 3, 1, orientation, 0)
                + struct.pack(fmt + "I", 0))
        body = b"Exif\x00\x00" + tiff
        return (jpeg[:2] + b"\xff\xe1"
                + struct.pack(">H", len(body) + 2) + body + jpeg[2:])

    for o in range(1, 9):
        for order in (b"II", b"MM"):
            dw, dh, _, out = jpeg_decode(with_exif(base, o, order))
            assert (dw, dh) == ((w, h) if o < 5 else (h, w)), (o, order)
            assert out == px, (o, order)
    dw0, dh0, _, p0 = jpeg_decode(base)
    g0 = np.frombuffer(p0, dtype=np.uint8).reshape(dh0, dw0)
    _, _, _, p6 = jpeg_decode(with_exif(base, 6))
    assert p6 == np.ascontiguousarray(
        np.swapaxes(g0, 0, 1)[:, ::-1]).tobytes()
    # out-of-range and malformed EXIF leave the image untouched
    assert jpeg_decode(with_exif(base, 0))[3] == p0
    assert jpeg_decode(
        with_exif(base, 6).replace(b"II", b"XX", 1))[:2] == (w, h)


def test_12bit_precision_decodes():
    """12-bit (SOF1 extended-sequential) JPEG — the medical/archival
    scan shape: u16 lattice samples, wide-category Huffman tables,
    level shift 2048, output reduced to 8 bits by the exact >> 4."""
    import numpy as np

    w, h = 20, 13
    for s8 in (0, 77, 255):
        px12 = np.full(w * h, s8 << 4, dtype="<u2").tobytes()
        blob = jpeg_encode(px12, w, h, 1, quality=90, precision=12)
        dw, dh, dc, out = jpeg_decode(blob)
        assert (dw, dh, dc) == (w, h, 1) and set(out) == {s8}, s8
    # gray-valued RGB keeps the chroma centers (2048) exact
    px12 = np.full(w * h * 3, 90 << 4, dtype="<u2").tobytes()
    assert set(jpeg_decode(jpeg_encode(px12, w, h, 3, quality=90,
                                       precision=12))[3]) == {90}
    # gradient content survives the quantizer + >>4 reduction exactly
    # at high quality (each 8x8 block is a linear ramp)
    grad = np.tile(np.arange(w, dtype="<u2") * (4095 // (w - 1)), h)
    dec = jpeg_decode(jpeg_encode(grad.tobytes(), w, h, 1, quality=95,
                                  precision=12))[3]
    ref = (grad.reshape(h, w) >> 4).astype(np.uint8)
    assert dec == ref.tobytes()
    # 12-bit precision inside a baseline SOF0 frame is malformed
    blob = bytearray(jpeg_encode(px12, w, h, 3, quality=90, precision=12))
    at = blob.find(b"\xff\xc1")
    blob[at + 1] = 0xC0
    with pytest.raises(JpegError, match="SOF0"):
        jpeg_decode(bytes(blob))
    with pytest.raises(JpegError, match="above 4095"):
        jpeg_encode(np.full(4, 5000, dtype="<u2").tobytes(), 2, 2, 1,
                    precision=12)
    with pytest.raises(JpegUnsupportedError, match="precision"):
        # precision 16 stays typed-unsupported
        b2 = bytearray(jpeg_encode(bytes(16), 4, 4, 1))
        at = b2.find(b"\xff\xc0")
        b2[at + 4] = 16
        jpeg_decode(bytes(b2))


def test_12bit_progressive_matches_baseline():
    """12-bit PROGRESSIVE (SOF2 prec 12): the two encodings of one image
    decode byte-identically, pinning the successive-approximation and
    spectral-selection paths on the wide lattice."""
    import numpy as np

    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    w, h = 20, 13
    grad = np.tile(np.arange(w, dtype="<u2") * (4095 // (w - 1)),
                   h).tobytes()
    for q in (75, 95):
        assert jpeg_decode(jpeg_encode_progressive(
            grad, w, h, 1, quality=q, precision=12)) == \
            jpeg_decode(jpeg_encode(grad, w, h, 1, quality=q, precision=12))
    px3 = np.full(w * h * 3, 90 << 4, dtype="<u2").tobytes()
    out = jpeg_decode(jpeg_encode_progressive(
        px3, w, h, 3, quality=90, precision=12, restart_interval=2))
    assert out == (w, h, 3, bytes([90]) * (w * h * 3))


# ------------------------------------------- CMYK / YCCK (4-component)

def _cmyk_expected(vals, adobe):
    c, m, y, k = vals
    if adobe:
        return tuple(int(np.round(v * k / 255)) for v in (c, m, y))
    return tuple(int(np.round((255 - v) * (255 - k) / 255))
                 for v in (c, m, y))


def test_cmyk_uniform_exact_all_transforms():
    """Uniform 4-component blocks decode to the exact ink-converted RGB
    for Adobe CMYK (APP14 transform 0), YCCK (transform 2, gray ink)
    and APP14-less plain CMYK."""
    w, h = 16, 16
    for vals, tf in [((40, 200, 120, 220), 0),
                     ((17, 33, 211, 100), 0),
                     ((90, 90, 90, 64), 2),      # YCCK: C=M=Y exact
                     ((40, 200, 120, 220), None),
                     ((0, 255, 128, 255), None)]:
        cmyk = np.full((h, w, 4), vals, np.uint8)
        blob = jpeg_encode(cmyk.tobytes(), w, h, 4, adobe_transform=tf)
        gw, gh, gc, px = jpeg_decode(blob)
        assert (gw, gh, gc) == (w, h, 3)
        exp = _cmyk_expected(vals, tf is not None)
        got = np.frombuffer(px, np.uint8).reshape(h, w, 3)
        assert np.array_equal(got, np.full((h, w, 3), exp, np.uint8)), \
            (vals, tf, tuple(got[0, 0]), exp)


def test_ycck_smooth_round_trip_close():
    """Non-uniform YCCK content: the full forward/backward transform
    chain stays within a few code values of the direct ink math."""
    w, h = 24, 16
    grad = np.zeros((h, w, 4), np.uint8)
    for y in range(h):
        for x in range(w):
            grad[y, x] = ((x * 9) % 200 + 20, (y * 11) % 200 + 20,
                          ((x + y) * 7) % 200 + 20, 180)
    blob = jpeg_encode(grad.tobytes(), w, h, 4, adobe_transform=2,
                       quality=95)
    gw, gh, gc, px = jpeg_decode(blob)
    got = np.frombuffer(px, np.uint8).reshape(h, w, 3).astype(int)
    exp = np.round(grad[..., :3].astype(float)
                   * grad[..., 3:4].astype(float) / 255.0)
    err = np.abs(got - exp)
    assert err.max() <= 14 and err.mean() < 3.0, (err.max(), err.mean())


def test_adobe_transform_flag_changes_3comp_interpretation():
    """Splicing an APP14 transform-0 marker into a 3-component JPEG
    makes the decoder treat the planes as RGB: a uniform gray (Y=v,
    Cb=Cr=128) then decodes to (v, 128, 128) instead of (v, v, v)."""
    v = 100
    uni = np.full((16, 16, 3), v, np.uint8)
    plain = jpeg_encode(uni.tobytes(), 16, 16, 3)
    gw, gh, gc, px = jpeg_decode(plain)
    assert tuple(np.frombuffer(px, np.uint8)[:3]) == (v, v, v)
    app14 = (bytes([0xFF, 0xEE, 0, 14]) + b"Adobe"
             + struct.pack(">HHHB", 100, 0, 0, 0))
    spliced = plain[:2] + app14 + plain[2:]
    gw, gh, gc, px = jpeg_decode(spliced)
    assert tuple(np.frombuffer(px, np.uint8)[:3]) == (v, 128, 128)
    # transform 1 (declared YCbCr) keeps the standard conversion
    app14_1 = (bytes([0xFF, 0xEE, 0, 14]) + b"Adobe"
               + struct.pack(">HHHB", 100, 0, 0, 1))
    gw, gh, gc, px = jpeg_decode(plain[:2] + app14_1 + plain[2:])
    assert tuple(np.frombuffer(px, np.uint8)[:3]) == (v, v, v)


def test_cmyk_synth_corpus_matches_documented_arithmetic(spark):
    """synth_cmyk_media rows decode (via decode_pixels) to exactly the
    doc_id arithmetic the driver oracle reconstructs."""
    from marky_spark.ops.multimodal import decode_pixels, synth_cmyk_media

    docs = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
    got = {r["media_ref"]: r
           for r in decode_pixels(synth_cmyk_media(docs)).collect()}
    import hashlib
    for i in range(9):
        w, h = 4 + i % 13, 4 + i % 7
        c1 = (i * 7) % 95 + 32
        c2 = c1 if i % 3 == 1 else (i * 11) % 95 + 32
        c3 = c1 if i % 3 == 1 else (i * 13) % 95 + 32
        k = (i * 5) % 95 + 32
        rgb = _cmyk_expected((c1, c2, c3, k), i % 3 != 2)
        dec = ("%03d%03d%03d" % rgb) * (w * h)
        r = got[f"sk{i}"]
        assert r["ok"] == "ok" and (r["width"], r["height"]) == (w, h)
        assert r["pixel_dec_md5"] == \
            hashlib.md5(dec.encode()).hexdigest(), i
