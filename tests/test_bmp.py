"""BMP codec (ops/bmpcodec) — the second real image codec.

Round-trips, layout variants (bottom-up/top-down, row padding), the strict
payload sniff (arbitrary text bytes must NEVER take the BMP path — the
media_decode driver query feeds document text as payloads), and the
format-agnostic pixel digest through decode_pixels.
"""

import hashlib
import random
import struct

import pytest

from marky_spark.ops.bmpcodec import (
    BmpError,
    bmp_decode,
    bmp_encode,
    looks_like_bmp,
)


@pytest.mark.parametrize("channels", [3, 4])
@pytest.mark.parametrize("dims", [(1, 1), (3, 5), (7, 2), (16, 9)])
def test_round_trip(channels, dims):
    w, h = dims
    rng = random.Random(w * 100 + h * 10 + channels)
    px = bytes(rng.randrange(256) for _ in range(w * h * channels))
    data = bmp_encode(px, w, h, channels)
    assert looks_like_bmp(data)
    assert bmp_decode(data) == (w, h, channels, px)


def test_top_down_decode():
    """Negative height means rows are stored top-down (no flip)."""
    px = bytes(range(2 * 2 * 3))
    data = bytearray(bmp_encode(px, 2, 2, 3))
    # flip height sign AND reverse the stored row order to keep pixels equal
    struct.pack_into("<i", data, 22, -2)
    row = (2 * 3 + 3) & ~3
    body = bytes(data[54:])
    data[54:] = body[row:] + body[:row]
    assert bmp_decode(bytes(data)) == (2, 2, 3, px)


def test_row_padding():
    """width*3 not divisible by 4 exercises the 4-byte row alignment."""
    w, h = 3, 2  # stride 9 → padded 12
    px = bytes(range(w * h * 3))
    data = bmp_encode(px, w, h, 3)
    assert len(data) == 54 + 12 * h
    assert bmp_decode(data) == (w, h, 3, px)


def test_sniff_rejects_text_and_garbage():
    """Strict structural sniff: text starting with 'BM' (a real risk — the
    media_decode query feeds document text bytes) and random blobs must
    stay unclaimed (typed unsupported rows)."""
    assert not looks_like_bmp(b"BM is a stock ticker, not a bitmap " * 4)
    assert not looks_like_bmp(b"")
    assert not looks_like_bmp(b"BM" + b"\x00" * 52)  # header size 0
    rng = random.Random(11)
    for _ in range(200):
        blob = b"BM" + bytes(rng.randrange(256) for _ in range(80))
        if looks_like_bmp(blob):  # would need a fully plausible DIB header
            pytest.fail(f"sniff accepted random blob {blob[:30]!r}")


def test_malformed_raises_bmp_error():
    good = bmp_encode(bytes(12), 2, 2, 3)
    for bad in (
        good[:40],                      # truncated pixel data
        good[:28] + b"\x08\x00" + good[30:],   # bpp 8
        good[:30] + b"\x01\x00\x00\x00" + good[34:],  # RLE compression
    ):
        with pytest.raises(BmpError):
            bmp_decode(bad)


def test_dimension_cap():
    data = bytearray(bmp_encode(bytes(12), 2, 2, 3))
    struct.pack_into("<ii", data, 18, 100_000, 100_000)
    with pytest.raises(BmpError, match="pixel cap"):
        bmp_decode(bytes(data))


def test_decode_media_auto_takes_real_bmp_path(spark):
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_media

    px = bytes(range(4 * 3 * 3))
    media = spark.createDataFrame(
        [Row(media_ref="b1", mime="image/bmp",
             payload=bmp_encode(px, 4, 3, 3))],
        schema=MEDIA_SCHEMA)
    got = decode_media(media).collect()[0]
    assert (got["width"], got["height"], got["channels"], got["ok"]) == \
        (4, 3, 3, "ok")


def test_pixel_digest_format_agnostic(spark):
    """The same pixels as PNG and as BMP hash to the same pixel_md5 —
    exact image dedup keys on content, not container."""
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_pixels
    from marky_spark.ops.pngcodec import png_encode

    px = bytes((i * 31) % 256 for i in range(5 * 4 * 3))
    media = spark.createDataFrame(
        [Row(media_ref="png", mime="image/png",
             payload=png_encode(px, 5, 4, 3)),
         Row(media_ref="bmp", mime="image/bmp",
             payload=bmp_encode(px, 5, 4, 3))],
        schema=MEDIA_SCHEMA)
    rows = {r["media_ref"]: r for r in decode_pixels(media).collect()}
    want = hashlib.md5(px).hexdigest()
    assert rows["png"]["pixel_md5"] == want
    assert rows["bmp"]["pixel_md5"] == want
    assert rows["png"]["ok"] == rows["bmp"]["ok"] == "ok"


# -------------------------------------------------- palettized / RLE

class TestIndexed:
    def test_roundtrip_matrix(self):
        import random

        from marky_spark.ops.bmpcodec import bmp_decode, bmp_encode_indexed

        rng = random.Random(2)
        for bpp in (1, 4, 8):
            for rle in (False, True):
                if rle and bpp == 1:
                    continue
                w, h = rng.randint(2, 19), rng.randint(2, 13)
                npal = min(1 << bpp, 7)
                pal = [(rng.randrange(256), rng.randrange(256),
                        rng.randrange(256)) for _ in range(npal)]
                idx = bytes(rng.randrange(npal) for _ in range(w * h))
                blob = bmp_encode_indexed(idx, w, h, pal, bpp=bpp, rle=rle)
                dw, dh, ch, px = bmp_decode(blob)
                assert (dw, dh, ch) == (w, h, 3)
                assert px == b"".join(bytes(pal[v]) for v in idx), (bpp, rle)

    def test_rle8_absolute_and_delta_escapes(self):
        """Hand-built RLE8 stream: run, absolute mode (word padded),
        delta skip (skipped pixels stay index 0), end escapes."""
        import struct as _s

        from marky_spark.ops.bmpcodec import bmp_decode

        w = h = 4
        pal = [(0, 0, 0), (10, 20, 30), (40, 50, 60), (70, 80, 90)]
        table = b"".join(bytes((b, g, r, 0)) for r, g, b in pal)
        # bottom row (y=3): run of 4 index 1;  row y=2: absolute 3
        # pixels (2,3,2) + pad, then 1 more pixel index 3; row y=1:
        # delta (2, 1) from (0,1)->... deltas move +x, -y(up): from
        # start of y=2's next line (x=0,y=1): delta dx=2 dy=0 then two
        # pixels index 2; top row left as index 0 via end-of-bitmap.
        stream = (bytes((4, 1)) + b"\x00\x00"
                  + bytes((0, 3, 2, 3, 2, 0)) + bytes((1, 3)) + b"\x00\x00"
                  + bytes((0, 2, 2, 0)) + bytes((2, 2))
                  + b"\x00\x01")
        px_offset = 54 + len(table)
        blob = (b"BM" + _s.pack("<IHHI", px_offset + len(stream), 0, 0,
                                px_offset)
                + _s.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(stream),
                          2835, 2835, len(pal), 0)
                + table + stream)
        dw, dh, ch, px = bmp_decode(blob)
        assert (dw, dh, ch) == (w, h, 3)

        def at(x, y):
            return tuple(px[(y * w + x) * 3:(y * w + x) * 3 + 3])

        assert all(at(x, 3) == pal[1] for x in range(4))     # bottom run
        assert at(0, 2) == pal[2] and at(1, 2) == pal[3]     # absolute
        assert at(2, 2) == pal[2] and at(3, 2) == pal[3]
        assert at(0, 1) == pal[0] and at(1, 1) == pal[0]     # delta skip
        assert at(2, 1) == pal[2] and at(3, 1) == pal[2]
        assert all(at(x, 0) == pal[0] for x in range(4))     # untouched

    def test_hostile_indexed_is_typed(self):
        import pytest

        from marky_spark.ops.bmpcodec import (
            BmpError,
            bmp_decode,
            bmp_encode_indexed,
        )

        pal = [(1, 2, 3)] * 4
        blob = bytearray(bmp_encode_indexed(bytes(16), 4, 4, pal, bpp=8,
                                            rle=True))
        # truncate: the end-of-bitmap escape disappears
        with pytest.raises(BmpError):
            bmp_decode(bytes(blob[:-4]))
        # RLE8 must be 8 bpp
        bad = bytearray(blob)
        import struct as _s
        _s.pack_into("<H", bad, 28, 4)
        with pytest.raises(BmpError):
            bmp_decode(bytes(bad))
        # palette index outside the declared color table
        with pytest.raises(BmpError):
            bmp_encode_indexed(bytes([9]), 1, 1, pal, bpp=8)
