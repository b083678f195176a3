"""Netpbm codec (binary P4/P5/P6): round-trips, header grammar (comments,
whitespace), P4 bit expansion, ASCII variants, 16-bit maxvals (2-byte
big-endian rasters), hostile inputs, mutation fuzz, Spark routing, and
the synth-corpus mix."""
from __future__ import annotations

import random

import numpy as np
import pytest

from marky_spark.ops.pnmcodec import (
    MAX_PIXELS,
    PnmError,
    PnmUnsupportedError,
    looks_like_pnm,
    pnm_decode,
    pnm_encode,
)


@pytest.mark.parametrize("channels", [1, 3])
def test_round_trip(channels):
    rng = random.Random(channels)
    w, h = 23, 11
    px = bytes(rng.randrange(256) for _ in range(w * h * channels))
    blob = pnm_encode(px, w, h, channels)
    assert looks_like_pnm(blob)
    assert pnm_decode(blob) == (w, h, channels, px)


def test_header_comments_and_whitespace():
    """The header grammar allows comments and arbitrary whitespace between
    fields — decode must skip them (common in tool-generated files)."""
    px = bytes(range(6))
    blob = b"P6 # tool comment\n# another\n 2\t1 # dims\n255\n" + px
    assert pnm_decode(blob) == (2, 1, 3, px)


def test_p4_bit_expansion():
    """P4 packs rows MSB-first with row padding; 1 = black = 0, 0 = white
    = 255 per the spec's white-is-zero convention."""
    # 10x2: row 0 = bits 1010101010, row 1 = all ones
    blob = b"P4\n10 2\n" + bytes([0b10101010, 0b10000000,
                                  0b11111111, 0b11000000])
    w, h, c, px = pnm_decode(blob)
    assert (w, h, c) == (10, 2, 1)
    assert px[:10] == bytes([0, 255] * 5)
    assert px[10:] == bytes([0] * 10)


def test_ascii_variants_decode():
    """P1/P2/P3 decode for real: whitespace/comment-separated samples,
    P1 digits optionally unseparated, white-is-zero for P1."""
    assert pnm_decode(b"P2\n2 2\n255\n1 2\n3 4\n") == \
        (2, 2, 1, bytes([1, 2, 3, 4]))
    assert pnm_decode(b"P3 # rgb\n1 2\n255\n10 20 30   40 50 60") == \
        (1, 2, 3, bytes([10, 20, 30, 40, 50, 60]))
    assert pnm_decode(b"P1\n4 2\n0110\n1001\n") == \
        (4, 2, 1, bytes([255, 0, 0, 255, 0, 255, 255, 0]))
    with pytest.raises(PnmError, match="ASCII raster"):
        pnm_decode(b"P2\n2 2\n255\n1 2 3")  # one sample short
    with pytest.raises(PnmError, match="exceeds maxval"):
        pnm_decode(b"P2\n1 1\n100\n200")
    with pytest.raises(PnmError, match="P1 digit"):
        pnm_decode(b"P1\n2 1\n02")


def test_sub255_maxval_rescales_to_full_intensity():
    """maxval < 255 means 'maxval IS full intensity' (spec): samples are
    rescaled onto the 8-bit lattice so e.g. a maxval-15 PGM is full-scale,
    not near-black — two encodings of one image embed identically."""
    # ASCII P2, maxval 15: 0→0, 15→255, 7→round(7*255/15)=119
    assert pnm_decode(b"P2\n3 1\n15\n0 7 15\n") == \
        (3, 1, 1, bytes([0, 119, 255]))
    # binary P5, maxval 100: 0→0, 50→round-half-up 128, 100→255
    assert pnm_decode(b"P5\n3 1\n100\n" + bytes([0, 50, 100])) == \
        (3, 1, 1, bytes([0, 128, 255]))
    # binary samples above maxval are malformed, never silently scaled
    with pytest.raises(PnmError, match="exceeds maxval"):
        pnm_decode(b"P5\n1 1\n100\n" + bytes([200]))
    # P3 RGB keeps channel interleave through the rescale
    assert pnm_decode(b"P3\n1 1\n3\n1 2 3\n") == \
        (1, 1, 3, bytes([85, 170, 255]))


def test_16bit_decodes_for_real():
    """maxval > 255: binary rasters are 2-byte big-endian, rescaled onto
    the 8-bit lattice (round-half-up); spec caps maxval at 65535."""
    # P5 maxval 65535: 0→0, 32896(=128*257)→128, 65535→255, 257→1
    blob = b"P5\n4 1\n65535\n" + bytes.fromhex("0000 8080 ffff 0101"
                                               .replace(" ", ""))
    assert pnm_decode(blob) == (4, 1, 1, bytes([0, 128, 255, 1]))
    # ASCII P2 carries the same lattice in decimal
    assert pnm_decode(b"P2\n4 1\n65535\n0 32896 65535 257") == \
        (4, 1, 1, bytes([0, 128, 255, 1]))
    # encode→decode identity for every 8-bit value at a spread of maxvals
    px = bytes(range(256))
    for m in (256, 300, 1000, 4095, 65535):
        assert pnm_decode(pnm_encode(px, 16, 16, 1, maxval=m)) == \
            (16, 16, 1, px)
    # 16-bit samples above maxval / maxval above the spec cap are typed
    with pytest.raises(PnmError, match="exceeds maxval"):
        pnm_decode(b"P5\n1 1\n1000\n\xff\xff")
    with pytest.raises(PnmError, match="bad maxval"):
        pnm_decode(b"P5\n1 1\n65536\n\x00\x00")
    with pytest.raises(PnmError, match="raster"):
        pnm_decode(b"P5\n2 2\n65535\n" + bytes(7))  # odd/truncated
    assert issubclass(PnmUnsupportedError, NotImplementedError)


def test_hostile_inputs_raise_typed():
    with pytest.raises(PnmError, match="not a Netpbm"):
        pnm_decode(b"P7\n")
    with pytest.raises(PnmError, match="not a Netpbm"):
        pnm_decode(b"P5\nabc 2\n255\n")  # strict sniff rejects bad headers
    with pytest.raises(PnmError, match="raster"):
        pnm_decode(b"P5\n4 4\n255\n" + bytes(3))
    with pytest.raises(PnmError, match="dimensions"):
        pnm_decode(b"P5\n99999999 99999999\n255\n")
    with pytest.raises(PnmError, match="not a Netpbm"):
        pnm_decode(b"P5\n1111111111111111 2\n255\n")  # absurd field len
    # text starting with P5 but no whitespace separator never sniffs
    assert not looks_like_pnm(b"P5x not an image")
    # ordinary prose opening with the magic never takes the real path
    assert not looks_like_pnm(b"P5 is a chess opening?")
    assert not looks_like_pnm(b"P6 people in a boat")


def test_mutations_stay_typed():
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0x9B77)
    px = bytes((i * 13) % 256 for i in range(30 * 12 * 3))
    bases = [pnm_encode(px, 30, 12, 3), pnm_encode(px[:30 * 12], 30, 12, 1),
             b"P4\n30 12\n" + bytes(4 * 12),
             pnm_encode(px[:30 * 12], 30, 12, 1, maxval=65535)]
    for k in range(600):
        blob = _mutate(rng, bases[k % len(bases)])
        try:
            w, h, c, out = pnm_decode(blob)
        except (PnmError, PnmUnsupportedError):
            continue
        assert w * h * c <= MAX_PIXELS
        assert len(out) == w * h * c


def test_spark_routing_pnm(spark):
    from marky_spark.ops.multimodal import (
        decode_media,
        decode_pixels,
        resize_media,
    )
    from marky_spark.ops.pngcodec import png_decode

    px = bytes((i * 11) % 256 for i in range(12 * 6 * 3))
    blob = pnm_encode(px, 12, 6, 3)
    media = spark.createDataFrame(
        [("p", "image/x-portable-pixmap", bytearray(blob)),
         ("s", "text/plain", bytearray(b"P5 is a chess opening?"))],
        "media_ref string, mime string, payload binary")
    dec = {r["media_ref"]: r for r in decode_media(media).collect()}
    assert (dec["p"]["width"], dec["p"]["height"], dec["p"]["ok"]) == \
        (12, 6, "ok")
    # text that merely starts with "P5" is not a PNM: a typed row
    assert (dec["s"]["ok"], dec["s"]["width"]) == ("unsupported", None)
    import hashlib
    pix = decode_pixels(media.where("media_ref = 'p'")).collect()[0]
    assert pix["pixel_md5"] == hashlib.md5(px).hexdigest()
    rez = resize_media(media.where("media_ref = 'p'"),
                       width=4, height=3).collect()[0]
    grid = np.frombuffer(px, np.uint8).reshape(6, 12, 3)
    near = grid[np.arange(3) * 6 // 3][:, np.arange(4) * 12 // 4].tobytes()
    assert png_decode(bytes(rez["payload"])) == (4, 3, 3, near)


def test_synth_corpus_mixes_ppm(spark):
    """Docs with i%5==3 are binary PPMs of the same oracle pixel formula."""
    import hashlib as hl

    from marky_spark.ops.multimodal import synth_png_media

    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    rows = {r["media_ref"]: r for r in synth_png_media(docs).collect()}
    for i in (3, 8):
        r = rows[f"p{i}"]
        blob = bytes(r["payload"])
        w, h = 4 + i % 13, 4 + i % 7
        hexs = hl.md5(str(i).encode()).hexdigest()
        px = (hexs * (-(-(w * h * 3) // 32)))[:w * h * 3].encode()
        assert r["mime"] == "image/x-portable-pixmap"
        assert pnm_decode(blob) == (w, h, 3, px)
