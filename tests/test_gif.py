"""GIF codec (ops/gifcodec) — the third real image codec.

Real-LZW round-trips (dictionary growth, code widening, clear-on-overflow),
interlaced row order, local color tables, the strict payload sniff, hostile
inputs, and the Spark-side routing through
decode_media / decode_pixels / resize_media / media_features /
pixel_features.
"""

import hashlib
import random
import struct

import numpy as np
import pytest

from marky_spark.ops.gifcodec import (
    GifError,
    gif_decode,
    gif_encode,
    looks_like_gif,
)


def _expected_rgb(idx: bytes, palette: bytes) -> bytes:
    pal = np.frombuffer(palette, np.uint8).reshape(len(palette) // 3, 3)
    return pal[np.frombuffer(idx, np.uint8)].tobytes()


@pytest.mark.parametrize("n_colors", [2, 5, 16, 256])
@pytest.mark.parametrize("dims", [(1, 1), (3, 2), (16, 10), (31, 31)])
def test_round_trip(dims, n_colors):
    w, h = dims
    rng = random.Random(w * 1000 + h * 10 + n_colors)
    palette = bytes(rng.randrange(256) for _ in range(n_colors * 3))
    idx = bytes(rng.randrange(n_colors) for _ in range(w * h))
    data = gif_encode(idx, w, h, palette)
    assert looks_like_gif(data)
    assert gif_decode(data) == (w, h, 3, _expected_rgb(idx, palette))


def test_lzw_dictionary_overflow_and_code_widening():
    """Long runs drive the LZW table through every code width to 4096 and
    force a mid-stream clear — the compressed form must still decode
    exactly."""
    idx = (b"\x00" * 500 + b"\x01" * 499 + b"\x02") * 40
    palette = bytes(range(9))
    data = gif_encode(idx, 200, 200, palette)
    assert len(data) < len(idx) // 10  # actually compressed
    assert gif_decode(data) == (200, 200, 3, _expected_rgb(idx, palette))


def test_interlaced_decode():
    """Rows of an interlaced GIF arrive in 4 passes (8/8/4/2 stride);
    the decoder must reassemble scan order."""
    w, h, nc = 4, 11, 4
    rng = random.Random(7)
    palette = bytes(rng.randrange(256) for _ in range(nc * 3))
    idx = bytes(rng.randrange(nc) for _ in range(w * h))
    plain = bytearray(gif_encode(idx, w, h, palette))
    # rewrite the image data with rows pre-shuffled into interlace order
    # and the interlace flag set
    rows = np.frombuffer(idx, np.uint8).reshape(h, w)
    order = [r for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
             for r in range(start, h, step)]
    shuffled = rows[order].tobytes()
    inter = bytearray(gif_encode(shuffled, w, h, palette))
    # image descriptor: 0x2C at offset 13+3*GCT; set packed interlace bit
    gct_len = 3 * (2 << (plain[10] & 0x07))
    desc = 13 + gct_len
    assert inter[desc] == 0x2C
    inter[desc + 9] |= 0x40
    assert gif_decode(bytes(inter)) == (w, h, 3, _expected_rgb(idx, palette))


def test_local_color_table_overrides_global():
    w, h = 3, 2
    lct = bytes(range(6))          # 2 colors
    idx = bytes([0, 1, 1, 0, 1, 0])
    data = gif_encode(idx, w, h, bytes(6)[::-1])  # global: different colors
    # splice a local color table into the image descriptor
    gct_len = 3 * (2 << (data[10] & 0x07))
    desc = 13 + gct_len
    assert data[desc] == 0x2C
    out = bytearray(data)
    out[desc + 9] = 0x80 | 0  # LCT flag, size 0 → 2 entries
    out[desc + 10:desc + 10] = lct
    assert gif_decode(bytes(out)) == (w, h, 3, _expected_rgb(idx, lct))


def test_sniff_rejects_text_and_garbage():
    assert not looks_like_gif(b"")
    assert not looks_like_gif(b"GIF89a")  # too short for a descriptor
    assert not looks_like_gif(b"GIFs are a web format " * 3)
    bomb = b"GIF89a" + struct.pack("<HH", 65535, 65535) + b"\x00" * 40
    assert not looks_like_gif(bomb)  # over the pixel cap


def test_malformed_raises_gif_error():
    palette = bytes(range(12))
    good = gif_encode(bytes([0, 1, 2, 3]), 2, 2, palette)
    bads = [
        good[:20],                     # truncated mid-structure
        good[:-5],                     # truncated image data
        good[:6] + good[6:].replace(b"\x2c", b"\x7f", 1),  # unknown block
        b"GIF89a" + struct.pack("<HH", 2, 2) + b"\x00\x00\x00" + b"\x3b",
    ]
    for bad in bads:
        with pytest.raises(GifError):
            gif_decode(bad)


def test_lzw_bomb_is_bounded():
    """A stream whose LZW expansion exceeds w*h must not allocate beyond
    the declared frame: decode either succeeds with exactly w*h pixels or
    raises GifError — never unbounded growth."""
    idx = bytes([0, 1] * 50)  # encode 100 indices...
    data = bytearray(gif_encode(idx, 10, 10, bytes(6)))
    # ...then shrink the declared frame to 2x2 (expansion now 25x the frame)
    gct_len = 3 * (2 << (data[10] & 0x07))
    desc = 13 + gct_len
    struct.pack_into("<HH", data, desc + 5, 2, 2)
    w, h, _, px = gif_decode(bytes(data))
    assert (w, h, len(px)) == (2, 2, 2 * 2 * 3)


def test_spark_routing_decode_resize_features(spark):
    """One GIF through the whole multimodal surface: decode_media (real
    dims), decode_pixels (format-agnostic digest vs the same pixels as
    PNG), resize_media (a PNG of the nearest-neighbour RGB samples),
    media_features (pixel statistics
    of the decoded content), pixel_features (exact integers)."""
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        decode_media,
        decode_pixels,
        media_features,
        pixel_features,
        resize_media,
    )
    from marky_spark.ops.pngcodec import png_decode, png_encode

    w, h, nc = 6, 4, 8
    rng = random.Random(5)
    palette = bytes(rng.randrange(256) for _ in range(nc * 3))
    idx = bytes(rng.randrange(nc) for _ in range(w * h))
    gif = gif_encode(idx, w, h, palette)
    px = _expected_rgb(idx, palette)
    media = spark.createDataFrame(
        [Row(media_ref="g1", mime="image/gif", payload=gif),
         Row(media_ref="p1", mime="image/png", payload=png_encode(px, w, h, 3))],
        schema=MEDIA_SCHEMA)

    dec = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert (dec["g1"]["width"], dec["g1"]["height"], dec["g1"]["channels"],
            dec["g1"]["ok"]) == (w, h, 3, "ok")

    pix = {r["media_ref"]: r for r in decode_pixels(media).collect()}
    want = hashlib.md5(px).hexdigest()
    assert pix["g1"]["pixel_md5"] == pix["p1"]["pixel_md5"] == want

    res = {r["media_ref"]: r for r in
           resize_media(media, width=3, height=2).collect()}
    assert (res["g1"]["in_width"], res["g1"]["in_height"]) == (w, h)
    grid = np.frombuffer(px, np.uint8).reshape(h, w, 3)
    near = grid[np.arange(2) * h // 2][:, np.arange(3) * w // 3].tobytes()
    assert png_decode(bytes(res["g1"]["payload"])) == (3, 2, 3, near)

    feats = {r["media_ref"]: r["features"] for r in
             media_features(media).collect()}
    arr = np.frombuffer(px, np.uint8)
    assert feats["g1"] == pytest.approx(feats["p1"])  # content, not container
    assert feats["g1"][0] == pytest.approx(w / 1024.0)
    assert feats["g1"][3] == pytest.approx(float(arr.mean()) / 255.0, abs=1e-6)

    pf = {r["media_ref"]: r for r in pixel_features(media).collect()}
    for ref in ("g1", "p1"):
        assert pf[ref]["ok"] == "ok"
        assert pf[ref]["sum_c0"] == int(arr[0::3].sum())
        assert pf[ref]["sum_c3"] is None
        assert pf[ref]["hist_0"] == int((arr >> 6 == 0).sum())


def test_media_features_typed_rows_for_non_images(spark):
    """Non-decodable payloads are typed rows with a null vector (the
    media_features oracle in __spark_entry__ pins exactly this): text is
    unsupported, and a GIF whose decode fails is an error row."""
    from pyspark.sql import Row

    from marky_spark.ops.multimodal import MEDIA_SCHEMA, media_features

    media = spark.createDataFrame(
        [Row(media_ref="t1", mime="text/plain",
             payload=b"just some document text, not an image"),
         Row(media_ref="g1", mime="image/gif", payload=b"GIF89a\x04\x00\x04\x00\x80\x00\x00")],
        schema=MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in media_features(media).collect()}
    assert (got["t1"]["ok"], got["t1"]["features"]) == ("unsupported", None)
    assert got["g1"]["ok"].startswith("error: ")
    assert got["g1"]["features"] is None


# Real-world pins: every GIF embedded in the reference's own test.epub
# (24 Alice-in-Wonderland illustrations — real encoder output with local
# color tables, long LZW streams, varied dimensions). Hash-locked decoded
# pixels; any decoder regression flips these red.
_REAL_GIF_PINS = [
    ("images/alice01a.gif", 440, 633, "58bb7c42dedb2b7dd7e009c709b09003"),
    ("images/alice02a.gif", 320, 480, "1c79b9b621470a1c84f8fa1150751acb"),
    ("images/alice03a.gif", 644, 610, "221b20c291ffb9dd93ad0c2d23a2fc96"),
    ("images/alice04a.gif", 301, 448, "b61d628bbdbc971e55f1284a71f0f09f"),
    ("images/alice05a.gif", 202, 480, "70eea43d7c535bb0dbb46becdee72036"),
    ("images/alice06a.gif", 392, 480, "3ca7f40194fd131737519313024d6ec2"),
    ("images/alice07a.gif", 640, 503, "d6061e69308fc2bfb377620287577963"),
    ("images/alice08a.gif", 640, 419, "aee1fcbe3b1c5bd497894c4c75fa7253"),
    ("images/alice09a.gif", 427, 480, "e74d8a6fc7f082b174dbf64e3140d022"),
    ("images/alice10a.gif", 640, 487, "aef3eeb44af6c1ef6f97c1c549355a8b"),
    ("images/alice11a.gif", 640, 448, "ceac74165a2391a0ecd88d614200a545"),
    ("images/alice12a.gif", 334, 480, "9dff14aadb10d408217de07a9de27971"),
    ("images/alice13a.gif", 174, 480, "f0aa6b5150887b45d83d4023f5c5a9ba"),
    ("images/alice14a.gif", 407, 480, "7e3d61e8cffa33360532bc2ba1abc0e9"),
    ("images/alice15a.gif", 363, 480, "d35302a49bc009ce925dd057e911adf4"),
    ("images/alice16a.gif", 640, 477, "c84a42ee3e91f2ef0accd7997405756c"),
    ("images/alice17a.gif", 640, 480, "6b68d343aa3fb9a8b9df07af5c22e78b"),
    ("images/alice18a.gif", 640, 482, "cb4a6f0b92bad8eb6c511cbb6b2cd457"),
    ("images/alice19a.gif", 640, 483, "9ba641d0f28c58ee8174a4b9df67b029"),
    ("images/alice20a.gif", 398, 480, "f4f56f2178bb95497a82845ad98e8952"),
    ("images/alice21a.gif", 640, 530, "1dc9a3d708f4502773d00227e83931ef"),
    ("images/alice22a.gif", 329, 482, "4cab3230e0ccb17824291a886085a9c0"),
    ("images/alice23a.gif", 342, 480, "78d022dae5029d2e568aff365124ab62"),
    ("images/alice24a.gif", 640, 435, "da31b3ac447be7e68c5c90660f642a58"),
]

_EPUB_PATH = "/root/reference/test_files/test.epub"


@pytest.mark.skipif(not __import__("os").path.exists(_EPUB_PATH),
                    reason="reference fixture not present")
def test_real_world_gifs_decode_pinned():
    import zipfile

    z = zipfile.ZipFile(_EPUB_PATH)
    for name, w, h, md5 in _REAL_GIF_PINS:
        gw, gh, gc, px = gif_decode(z.read(name))
        assert (gw, gh, gc) == (w, h, 3), name
        assert hashlib.md5(px).hexdigest() == md5, name


def test_encode_u16_dimension_guard():
    palette = bytes(range(12))
    with pytest.raises(GifError, match="u16"):
        gif_encode(bytes(70000), 70000, 1, palette)


def test_animated_frames_compositing():
    """gif_decode_frames honors offsets, transparency and disposal: each
    emitted frame is the full logical screen as a viewer would show it."""
    from marky_spark.ops.gifcodec import gif_decode_frames, gif_encode_animated

    pal = bytes(v for i in range(8) for v in (i * 30, i * 30, i * 30))
    base = bytes([1] * 24)         # 6x4 full screen (value 30)
    patch = bytes([3] * 4)         # 2x2 at (2,1)   (value 90)
    holes = bytes([7, 0, 7, 0])    # 2x2, idx 0 transparent
    data = gif_encode_animated(
        6, 4, pal,
        [(base, 0, 0, 6, 4), (patch, 2, 1, 2, 2), (holes, 0, 0, 2, 2)],
        disposals=[1, 3, 0], transparents=[None, None, 0])
    sw, sh, frames = gif_decode_frames(data)
    assert (sw, sh, len(frames)) == (6, 4, 3)
    f1 = np.frombuffer(frames[1], np.uint8).reshape(4, 6, 3)
    assert (f1[1:3, 2:4] == 90).all()       # patch drawn at offset
    assert f1[0, 0, 0] == 30                # base persists around it
    f2 = np.frombuffer(frames[2], np.uint8).reshape(4, 6, 3)
    assert f2[2, 2, 0] == 30                # disposal 3 restored the patch
    assert f2[0, 0, 0] == 210               # idx 7 drawn...
    assert f2[0, 1, 0] == 30                # ...transparent hole shows base


def test_frame_sample_real_gif_frames(spark):
    """frame_sample emits REAL evenly-spaced animation frames for GIF
    payloads — PNG-encoded full-canvas composites — while a payload with
    no frames is one typed unsupported row."""
    from pyspark.sql import Row

    from marky_spark.ops.gifcodec import gif_decode_frames, gif_encode_animated
    from marky_spark.ops.multimodal import MEDIA_SCHEMA, frame_sample
    from marky_spark.ops.pngcodec import png_decode

    pal = bytes(v for i in range(16) for v in (i * 16, 0, 255 - i * 16))
    frames_in = [(bytes([i] * 12), 0, 0, 4, 3) for i in range(10)]
    gif = gif_encode_animated(4, 3, pal, frames_in)
    media = spark.createDataFrame(
        [Row(media_ref="anim", mime="image/gif", payload=gif),
         Row(media_ref="blob", mime="video/fake", payload=b"0123456789abcdef")],
        schema=MEDIA_SCHEMA)
    rows = {(r["media_ref"], r["frame_idx"]): r
            for r in frame_sample(media, n_frames=4).collect()}
    # GIF: 4 evenly spaced real frames (animation indices 0,2,4,6)
    _, _, expect = gif_decode_frames(gif)
    for i, fi in enumerate([0, 2, 4, 6]):
        row = rows[("anim", i)]
        assert row["frame_offset"] == fi
        w, h, c, px = png_decode(bytes(row["frame_bytes"]))
        assert (w, h, c) == (4, 3, 3)
        assert px == expect[fi]
    # non-GIF: one unsupported row, null frame fields
    assert [(k, r["frame_offset"], r["frame_bytes"], r["ok"])
            for k, r in rows.items() if k[0] == "blob"] == \
        [(("blob", None), None, None, "unsupported")]


def test_animated_frame_bomb_bounded():
    """A GIF declaring thousands of frames stops at max_frames."""
    from marky_spark.ops.gifcodec import gif_decode_frames, gif_encode_animated

    pal = bytes(6)
    many = [(bytes([0]), 0, 0, 1, 1)] * 500
    data = gif_encode_animated(1, 1, pal, many)
    _, _, frames = gif_decode_frames(data, max_frames=16)
    assert len(frames) == 16


def test_min_code_size_over_8_is_typed():
    """LZW minimum code size is a byte-valued-literal parameter, so 9-11
    must be typed errors (fuzz-found: they previously escaped as
    ValueError from bytes([code]) with code > 255)."""
    from marky_spark.ops.gifcodec import GifError, gif_decode

    blob = bytearray(gif_encode(bytes([1, 0, 1, 0]), 2, 2, bytes(range(6))))
    at = blob.index(b"\x2c")  # image descriptor; min code size is +10
    for mcs in (9, 10, 11, 12, 0, 1):
        blob[at + 10] = mcs
        with pytest.raises(GifError, match="minimum code size"):
            gif_decode(bytes(blob))
