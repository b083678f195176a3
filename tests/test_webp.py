"""WebP lossless codec (ops/webpcodec): hand-assembled bit-level
vectors (independent of the encoder), round-trips across the VP8L
feature matrix, decoder-only transform paths (predictor, cross-color,
meta prefix groups) crafted bit by bit, container walking, hostile
inputs, and hand-built lossy VP8 containers that must stay typed
unsupported."""
from __future__ import annotations

import struct

import pytest

from marky_spark.ops.webpcodec import (
    WebpError,
    WebpUnsupportedError,
    looks_like_webp,
    webp_decode,
    webp_encode,
)


def _px(w, h, ch=3, seed=0):
    return bytes((x * 37 + y * 11 + c * 5 + seed) % 256
                 for y in range(h) for x in range(w) for c in range(ch))


# ------------------------------------------------------------ container
def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    chunk = fourcc + struct.pack("<I", len(payload)) + payload
    return chunk + b"\x00" if len(payload) & 1 else chunk


def _riff(*chunks: bytes) -> bytes:
    body = b"".join(chunks)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def _wrap(payload: bytes) -> bytes:
    return _riff(_chunk(b"VP8L", payload))


class _W:
    """Independent LSB-first bit writer for hand-built vectors (a
    second implementation so the test does not trust the module's)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def b(self, v, n):
        for k in range(n):
            self.acc |= ((v >> k) & 1) << self.n
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0
        return self

    def code(self, c, length):  # prefix code: MSB of code first
        for k in range(length - 1, -1, -1):
            self.b((c >> k) & 1, 1)
        return self

    def bytes(self):
        return builtins_bytes(self.out + (bytearray([self.acc])
                                          if self.n else bytearray()))


builtins_bytes = bytes


def _header(w, h, alpha=0):
    bw = _W()
    bw.b(0x2F, 8).b(w - 1, 14).b(h - 1, 14).b(alpha, 1).b(0, 3)
    return bw


def _simple_code(bw, syms):
    """Write one simple prefix code over 1-2 symbols < 256."""
    bw.b(1, 1)                # simple
    bw.b(len(syms) - 1, 1)
    first = syms[0]
    if first > 1:
        bw.b(1, 1).b(first, 8)
    else:
        bw.b(0, 1).b(first, 1)
    if len(syms) == 2:
        bw.b(syms[1], 8)


def _trivial_trees(bw, g, r, b, a):
    """Five single-symbol trees: every pixel decodes with ZERO payload
    bits — pins the header/tree bit layout exactly."""
    _simple_code(bw, [g])
    _simple_code(bw, [r])
    _simple_code(bw, [b])
    _simple_code(bw, [a])
    _simple_code(bw, [0])  # distance, unused


def _flat_vp8l(w, h, v):
    """Hand-assembled VP8L payload of one opaque gray value."""
    bw = _header(w, h)
    bw.b(0, 1).b(0, 1).b(0, 1)  # no transforms / color cache / meta
    _trivial_trees(bw, g=v, r=v, b=v, a=255)
    return bw.bytes()


def _vp8x(flags, w, h):
    return _chunk(b"VP8X", bytes((flags, 0, 0, 0))
                  + (w - 1).to_bytes(3, "little")
                  + (h - 1).to_bytes(3, "little"))


def _anim(w, h, *frames, blend=False):
    """Animated WebP whose full-canvas ANMF frames carry the given
    subchunk bytes (ALPH / VP8L / VP8 chunks)."""
    return _riff(_vp8x(0x02, w, h),
                 _chunk(b"ANIM", b"\xff" * 4 + b"\x00\x00"),
                 *(_chunk(b"ANMF", b"\x00" * 6
                          + (w - 1).to_bytes(3, "little")
                          + (h - 1).to_bytes(3, "little")
                          + (40).to_bytes(3, "little")
                          + bytes((0x00 if blend else 0x02,)) + f)
                   for f in frames))


# lossy VP8 keyframe header alone (RFC 6386 §9.1): frame tag (key frame,
# version 0, shown, first partition size 0), start code 9d 01 2a, 14-bit
# width 8 and height 8 with no scaling
_VP8_KEYFRAME_8X8 = bytes.fromhex("100000" "9d012a" "0800" "0800")


def vp8_routed_webps() -> dict[str, bytes]:
    """The three containers whose image is lossy VP8, built by hand: a
    plain still, a VP8X + ALPH + VP8 still, and an animation whose
    second frame is VP8 (its first is a VP8L frame that decodes)."""
    vp8 = _chunk(b"VP8 ", _VP8_KEYFRAME_8X8)
    return {
        "still": _riff(vp8),
        "alph_still": _riff(_vp8x(0x10, 8, 8),
                            _chunk(b"ALPH", b"\x00" + b"\x80" * 64), vp8),
        "anim": _anim(8, 8, _chunk(b"VP8L", _flat_vp8l(8, 8, 10)), vp8),
    }


def test_hand_assembled_1x1():
    """A fully hand-assembled bitstream: 1x1, no transforms/cache/meta,
    five simple one-symbol codes. Byte-exact independent of the
    encoder — pins the LSB-first field order and simple-code layout."""
    bw = _header(1, 1)
    bw.b(0, 1)  # no transforms
    bw.b(0, 1)  # no color cache
    bw.b(0, 1)  # no meta prefix
    _trivial_trees(bw, g=200, r=10, b=30, a=255)
    out = webp_decode(_wrap(bw.bytes()))
    assert out == (1, 1, 3, bytes([10, 200, 30]))


def test_hand_assembled_two_symbol():
    """2x2 with a two-symbol green simple code: pins the two-symbol
    simple code's 0/1 assignment and the literal channel read order."""
    bw = _header(2, 2)
    bw.b(0, 1).b(0, 1).b(0, 1)
    _simple_code(bw, [7, 8])
    _simple_code(bw, [1])
    _simple_code(bw, [2])
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    # four literals: greens 7,8,8,7 → bits 0,1,1,0
    bw.b(0, 1).b(1, 1).b(1, 1).b(0, 1)
    out = webp_decode(_wrap(bw.bytes()))
    assert out == (2, 2, 3, bytes([1, 7, 2, 1, 8, 2, 1, 8, 2, 1, 7, 2]))


def test_hand_assembled_color_cache():
    """4x1 with a 1-bit color cache: one literal, then cache hits on
    its slot — pins the cache hash (0x1e35a7bd * argb) >> 31, the
    280+index symbol space, and the full (code-length-coded) tree path
    with an exact explicit token budget."""
    px = (255 << 24) | (9 << 16) | (5 << 8) | 7
    slot = ((0x1E35A7BD * px) & 0xFFFFFFFF) >> 31
    # green tree lengths: {5: 1, 280+slot: 1}; token stream: 5 zeros,
    # literal, gap zeros, literal — all runs length 3..10
    tokens = [(17, 5)]         # 5 zeros (symbols 0..4)
    tokens.append((1, None))   # symbol 5 -> length 1
    gap = 280 + slot - 6
    while gap:
        k = min(gap, 10)
        if 0 < gap - k < 3:
            k = gap - 3
        tokens.append((17, k))
        gap -= k
    tokens.append((1, None))   # symbol 280+slot -> length 1
    bw = _header(4, 1)
    bw.b(0, 1)       # no transforms
    bw.b(1, 1)       # color cache present
    bw.b(1, 4)       # cache_bits = 1
    bw.b(0, 1)       # no meta
    # full tree path; cl code: symbols 1 and 17, both length 1
    bw.b(0, 1)       # not simple
    bw.b(0, 4)       # num_code_lengths = 4 -> order [17, 18, 0, 1]
    bw.b(1, 3).b(0, 3).b(0, 3).b(1, 3)
    bw.b(1, 1)       # explicit token budget
    bw.b(3, 3)       # length_nbits = 2 + 2*3 = 8
    bw.b(len(tokens) - 2, 8)
    cl = {1: (0, 1), 17: (1, 1)}
    for sym, run in tokens:
        bw.code(*cl[sym])
        if sym == 17:
            bw.b(run - 3, 3)
    # green canonical: symbol 5 -> code 0, symbol 280+slot -> code 1
    _simple_code(bw, [9])             # red
    _simple_code(bw, [7])             # blue
    _simple_code(bw, [255])           # alpha
    _simple_code(bw, [0])             # distance
    bw.b(0, 1)                        # literal: green code 0
    bw.b(1, 1).b(1, 1).b(1, 1)        # three cache hits (code 1)
    out = webp_decode(_wrap(bw.bytes()))
    assert out == (4, 1, 3, bytes([9, 5, 7] * 4))


def test_hand_assembled_lz77_copy():
    """4x1: one literal then an LZ77 copy of length 3 at distance 1
    (plane code 2 = offset (1, 0)) — pins the length/distance
    prefix-value split and the generated neighborhood table's layout,
    independent of the encoder."""
    # green tree {0, 257} both length 1: literal green 0, then length
    # code 1 -> copy length 2? No: length code symbol 257 = code 1 ->
    # _prefix_value(1) = 2. Use symbol 258 (code 2 -> value 3) for a
    # 3-pixel copy: lengths {0: 1, 258: 1}.
    tokens = [(1, None)]       # symbol 0 -> length 1
    gap = 257                  # zeros for symbols 1..257
    while gap:
        k = min(gap, 10)
        if 0 < gap - k < 3:
            k = gap - 3
        tokens.append((17, k))
        gap -= k
    tokens.append((1, None))   # symbol 258 -> length 1
    bw = _header(4, 1)
    bw.b(0, 1).b(0, 1).b(0, 1)
    bw.b(0, 1)                 # green: full path
    bw.b(0, 4)
    bw.b(1, 3).b(0, 3).b(0, 3).b(1, 3)
    bw.b(1, 1).b(3, 3).b(len(tokens) - 2, 8)
    cl = {1: (0, 1), 17: (1, 1)}
    for sym, run in tokens:
        bw.code(*cl[sym])
        if sym == 17:
            bw.b(run - 3, 3)
    _simple_code(bw, [40])     # red
    _simple_code(bw, [60])     # blue
    _simple_code(bw, [255])    # alpha
    # distance: two symbols {1, 2}: code for prefix 1 -> dist_code 2
    _simple_code(bw, [1, 2])
    bw.b(0, 1)                 # literal: green 0 (code 0)
    bw.b(1, 1)                 # green symbol 258 -> copy length 3
    bw.b(0, 1)                 # distance prefix 1 -> dist_code 2
    # dist_code 2 -> plane (1, 0) -> distance 1
    out = webp_decode(_wrap(bw.bytes()))
    assert out == (4, 1, 3, bytes([40, 0, 60] * 4))


# --------------------------------------------------------- round trips
@pytest.mark.parametrize("sg", [False, True])
@pytest.mark.parametrize("cc", [0, 2, 6])
@pytest.mark.parametrize("lz", [False, True])
def test_round_trip_matrix(sg, cc, lz):
    w, h = 13, 7
    px = _px(w, h)
    blob = webp_encode(px, w, h, 3, subtract_green=sg,
                       color_cache_bits=cc, lz77=lz)
    assert looks_like_webp(blob)
    assert webp_decode(blob) == (w, h, 3, px)


def test_round_trip_shapes():
    for w, h, ch in [(1, 1, 3), (1, 9, 3), (9, 1, 3), (16, 16, 4),
                     (5, 3, 1), (31, 2, 4)]:
        px = _px(w, h, ch)
        got = webp_decode(webp_encode(px, w, h, ch))
        if ch == 1:
            exp = b"".join(bytes([v] * 3) for v in px)
            assert got == (w, h, 3, exp)
        elif ch == 4 and all(
                px[i] == 255 for i in range(3, len(px), 4)):
            assert got[:3] == (w, h, 3)
        else:
            assert got == (w, h, ch, px)


def test_round_trip_palette():
    w, h = 17, 5
    for n_colors in (2, 3, 4, 9, 16, 17, 200):
        px = bytes(((x + y) % n_colors) * (255 // n_colors)
                   for y in range(h) for x in range(w)
                   for _ in range(3))
        blob = webp_encode(px, w, h, 3, palette=True)
        assert webp_decode(blob) == (w, h, 3, px)


def test_round_trip_rgba_transparency():
    w, h = 6, 4
    px = bytearray(_px(w, h, 4))
    px[3] = 0  # one transparent pixel keeps the alpha channel
    blob = webp_encode(bytes(px), w, h, 4)
    assert webp_decode(blob) == (w, h, 4, bytes(px))


def test_constant_image_lz77_compresses():
    w, h = 64, 64
    px = bytes([77]) * (w * h * 3)
    small = webp_encode(px, w, h, 3, lz77=True)
    big = webp_encode(px, w, h, 3, lz77=False)
    assert webp_decode(small) == (w, h, 3, px)
    assert len(small) < len(big)


# ------------------------------------- decoder-only paths (hand-built)\ndef test_predictor_transform_decodes():
    """Craft a stream with the predictor transform (decoder-only path):
    residuals all zero, one 1x1 mode sub-image per mode — the output
    must equal the predictor chain itself, computed independently
    here."""
    w, h = 4, 3
    for mode in range(14):
        bw = _header(w, h)
        bw.b(1, 1)          # transform present
        bw.b(0, 2)          # predictor
        bw.b(2, 3)          # size_bits = 2 + 2 = 4 → 1x1 sub-image
        # sub-image (1x1): no cache bit, no meta (level != 0), five
        # trees, one pixel: green = mode
        bw.b(0, 1)          # no cache
        _trivial_trees(bw, g=mode, r=0, b=0, a=255)
        bw.b(0, 1)          # end of transforms
        bw.b(0, 1)          # no cache (main)
        bw.b(0, 1)          # no meta
        _trivial_trees(bw, g=0, r=0, b=0, a=0)  # residual 0x00000000
        out_w, out_h, ch, samples = webp_decode(_wrap(bw.bytes()))
        assert (out_w, out_h) == (w, h)
        exp = _predict_image(mode, w, h)
        got = _to_argb(ch, samples)
        assert got == exp, f"mode {mode}"


def _avg2(a, b):
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _predict_image(mode, w, h):
    """Independent model: residual 0 + predictor chain."""
    out = []
    for pos in range(w * h):
        x, y = pos % w, pos // w
        if x == 0 and y == 0:
            p = 0xFF000000
        elif x == 0:
            p = out[pos - w]
        elif y == 0:
            p = out[pos - 1]
        else:
            left, top = out[pos - 1], out[pos - w]
            tl, tr = out[pos - w - 1], out[pos - w + 1]
            if mode == 0:
                p = 0xFF000000
            elif mode == 1:
                p = left
            elif mode == 2:
                p = top
            elif mode == 3:
                p = tr
            elif mode == 4:
                p = tl
            elif mode == 5:
                p = _avg2(_avg2(left, tr), top)
            elif mode == 6:
                p = _avg2(left, tl)
            elif mode == 7:
                p = _avg2(left, top)
            elif mode == 8:
                p = _avg2(tl, top)
            elif mode == 9:
                p = _avg2(top, tr)
            elif mode == 10:
                p = _avg2(_avg2(left, tl), _avg2(top, tr))
            elif mode == 11:
                pl = pt = 0
                for sh in (24, 16, 8, 0):
                    est = ((left >> sh) & 255) + ((top >> sh) & 255) \
                        - ((tl >> sh) & 255)
                    pl += abs(est - ((left >> sh) & 255))
                    pt += abs(est - ((top >> sh) & 255))
                p = left if pl < pt else top
            elif mode == 12:
                p = 0
                for sh in (24, 16, 8, 0):
                    c = ((left >> sh) & 255) + ((top >> sh) & 255) \
                        - ((tl >> sh) & 255)
                    p |= max(0, min(255, c)) << sh
            else:
                p = 0
                for sh in (24, 16, 8, 0):
                    a2 = (((left >> sh) & 255)
                          + ((top >> sh) & 255)) >> 1
                    d = a2 - ((tl >> sh) & 255)
                    c = a2 + (abs(d) >> 1) * (1 if d >= 0 else -1)
                    p |= max(0, min(255, c)) << sh
        out.append(p)  # residual zero: pixel == predictor
    return out


def _to_argb(ch, samples):
    out = []
    for i in range(0, len(samples), ch):
        if ch == 3:
            r, g, b = samples[i:i + 3]
            a = 255
        else:
            r, g, b, a = samples[i:i + 4]
        out.append((a << 24) | (r << 16) | (g << 8) | b)
    return out


def test_cross_color_transform_decodes():
    """Cross-color transform with known multipliers over a constant
    residual: checks the int8 delta math (t * c) >> 5 on both signs."""
    w, h = 2, 2
    for g2r, g2b, r2b in [(32, 0, 0), (224, 64, 160), (255, 1, 128)]:
        cte_px = (0xFF << 24) | (r2b << 16) | (g2b << 8) | g2r
        bw = _header(w, h)
        bw.b(1, 1)          # transform present
        bw.b(1, 2)          # cross-color
        bw.b(2, 3)          # size_bits 4 → 1x1 sub-image
        bw.b(0, 1)          # sub: no cache
        _trivial_trees(bw, g=(cte_px >> 8) & 255, r=(cte_px >> 16) & 255,
                       b=cte_px & 255, a=255)
        bw.b(0, 1)          # end transforms
        bw.b(0, 1).b(0, 1)  # no cache, no meta
        _trivial_trees(bw, g=100, r=50, b=20, a=255)
        _, _, ch, samples = webp_decode(_wrap(bw.bytes()))

        def i8(v):
            return v - 256 if v >= 128 else v

        g = 100
        r = (50 + ((i8(g2r) * i8(g)) >> 5)) & 255
        b = (20 + ((i8(g2b) * i8(g)) >> 5)
             + ((i8(r2b) * i8(r)) >> 5)) & 255
        exp = [(0xFF << 24) | (r << 16) | (100 << 8) | b] * 4
        assert _to_argb(ch, samples) == exp, (g2r, g2b, r2b)


def test_meta_prefix_groups_decode():
    """Two prefix-code groups selected by a meta sub-image: left tile
    decodes green 11, right tile green 22 — pins the (red<<8|green)
    group-index convention and per-tile group switching."""
    w, h = 8, 2
    bw = _header(w, h)
    bw.b(0, 1)              # no transforms
    bw.b(0, 1)              # no cache
    bw.b(1, 1)              # meta prefix present
    bw.b(0, 3)              # meta_bits = 2 → tiles of 4 → meta is 2x1
    # meta sub-image (2x1): pixels (r<<8|g) = group 0 and 1
    bw.b(0, 1)              # no cache
    _simple_code(bw, [0, 1])   # green: group low byte
    _simple_code(bw, [0])      # red: group high byte
    _simple_code(bw, [0])
    _simple_code(bw, [255])
    _simple_code(bw, [0])
    bw.b(0, 1).b(1, 1)      # meta pixels: green 0 then green 1
    # two groups
    _trivial_trees(bw, g=11, r=1, b=2, a=255)
    _trivial_trees(bw, g=22, r=3, b=4, a=255)
    out = webp_decode(_wrap(bw.bytes()))
    exp = (bytes([1, 11, 2]) * 4 + bytes([3, 22, 4]) * 4) * 2
    assert out == (w, h, 3, exp)


# ------------------------------------------------------------- hostile
def test_hostile_inputs_are_typed():
    w, h = 5, 4
    good = webp_encode(_px(w, h), w, h, 3)
    cases = [
        b"",                                   # empty
        b"RIFF\x00\x00\x00\x00WAVE",           # wrong form type
        good[:11],                             # truncated container
        good[:20],                             # truncated VP8L
        good[:-3],                             # truncated bitstream
    ]
    for blob in cases:
        with pytest.raises((WebpError, ValueError)):
            webp_decode(blob)
    # bad VP8L signature byte
    bad = bytearray(good)
    at = bad.find(b"VP8L") + 8
    bad[at] = 0x2E
    with pytest.raises(WebpError, match="signature"):
        webp_decode(bytes(bad))
    # version != 0 (bit 37 of the VP8L payload: 8+14+14+1 = 37)
    bw = _header(2, 2)
    raw = bytearray(bw.bytes())
    raw[4] |= 0x20  # set a version bit (bit 37 → byte 4, bit 5)
    with pytest.raises(WebpError, match="version"):
        webp_decode(_wrap(bytes(raw) + b"\x00" * 8))


def test_lossy_routes_and_animated_is_codec_unavailable(spark):
    """Lossy VP8 is a typed unsupported mode, never pixels: webp_decode /
    decode_image raise WebpUnsupportedError, decode_pixels and
    pixel_features give codec_unavailable rows with null dims, and
    frame_sample gives one typed row per blob: unsupported for the stills
    (no frames) and codec_unavailable for the animation."""
    from marky_spark.ops.multimodal import (
        MEDIA_SCHEMA,
        decode_image,
        decode_pixels,
        frame_sample,
        pixel_features,
    )
    from marky_spark.ops.webpcodec import webp_decode_frames

    blobs = vp8_routed_webps()
    for blob in blobs.values():
        with pytest.raises(WebpUnsupportedError):
            decode_image(blob)
    with pytest.raises(WebpUnsupportedError, match="lossy VP8"):
        webp_decode_frames(blobs["anim"])
    anim = (b"RIFF" + struct.pack("<I", 16) + b"WEBP"
            + b"ANIM" + struct.pack("<I", 4) + b"\x00" * 4)
    with pytest.raises(WebpUnsupportedError):
        webp_decode(anim)

    media = spark.createDataFrame(
        [(ref, "image/webp", blob) for ref, blob in blobs.items()],
        schema=MEDIA_SCHEMA)
    for op in (decode_pixels, pixel_features):
        rows = op(media).collect()
        assert sorted(r["media_ref"] for r in rows) == sorted(blobs)
        for r in rows:
            assert r["ok"] == "codec_unavailable", (op.__name__, r)
            assert r["width"] is None and r["height"] is None
    got = sorted((r["media_ref"], r["frame_idx"], r["frame_offset"],
                  r["frame_bytes"], r["ok"])
                 for r in frame_sample(media, n_frames=4).collect())
    assert got == [("alph_still", None, None, None, "unsupported"),
                   ("anim", None, None, None, "codec_unavailable"),
                   ("still", None, None, None, "unsupported")]


def test_vp8x_container_walks_to_vp8l():
    w, h = 3, 3
    px = _px(w, h)
    plain = webp_encode(px, w, h, 3)
    vp8l_chunk = plain[12:]
    vp8x = b"VP8X" + struct.pack("<I", 10) + b"\x00" * 10
    payload = vp8x + vp8l_chunk
    blob = b"RIFF" + struct.pack("<I", 4 + len(payload)) + b"WEBP" \
        + payload
    assert webp_decode(blob) == (w, h, 3, px)


def test_lz77_before_start_is_typed():
    """A copy reaching before pixel 0 must be a typed error."""
    # green tree: symbols {0, 256} both length 1 (complete); token
    # stream: literal 1, 255 zeros, literal 1 — exact budget
    tokens = [(1, None)]
    gap = 255
    while gap:
        k = min(gap, 10)
        if 0 < gap - k < 3:
            k = gap - 3
        tokens.append((17, k))
        gap -= k
    tokens.append((1, None))
    bw = _header(2, 1)
    bw.b(0, 1).b(0, 1).b(0, 1)
    bw.b(0, 1)         # green: not simple
    bw.b(0, 4)         # 4 code lengths: order 17,18,0,1
    bw.b(1, 3).b(0, 3).b(0, 3).b(1, 3)
    bw.b(1, 1)         # explicit token budget
    bw.b(3, 3)         # length_nbits = 8
    bw.b(len(tokens) - 2, 8)
    cl = {1: (0, 1), 17: (1, 1)}
    for sym, run in tokens:
        bw.code(*cl[sym])
        if sym == 17:
            bw.b(run - 3, 3)
    _simple_code(bw, [0])          # red
    _simple_code(bw, [0])          # blue
    _simple_code(bw, [0])          # alpha
    _simple_code(bw, [0])          # distance -> code 0 -> dist_code 1
    # first symbol: green code 1 = symbol 256 -> copy length 1,
    # distance via plane code 1 = (0, 1) -> dist = 1*2+0 = 2 > pos 0
    bw.b(1, 1)
    with pytest.raises(WebpError, match="before the image"):
        webp_decode(_wrap(bw.bytes()))


def test_dimension_cap_is_typed():
    bw = _header(1 << 14, 1 << 14)
    with pytest.raises(WebpError, match="pixel cap"):
        webp_decode(_wrap(bw.bytes() + b"\x00" * 16))


def test_palette_index_out_of_range_is_typed():
    """A 3-color palette with a pixel indexing slot 3 (bundled 2-bit
    indices can name it) must error, not read out of bounds."""
    w, h = 4, 1
    px = bytes([0, 0, 0] * 3 + [60, 60, 60])  # 2 colors → 1-bit... use 3
    px = bytes(((x % 3) * 60, (x % 3) * 60, (x % 3) * 60)[c]
               for x in range(w) for c in range(3))
    blob = bytearray(webp_encode(px, w, h, 3, palette=True))
    # flipping payload bits must never escape WebpError/correct decode
    for i in range(21, len(blob)):
        for bit in range(8):
            mut = bytearray(blob)
            mut[i] ^= 1 << bit
            try:
                webp_decode(bytes(mut))
            except (WebpError, WebpUnsupportedError):
                pass


def test_simple_code_symbol_out_of_alphabet_is_typed():
    """Distance tree simple code naming symbol 45 (alphabet 40) must be
    typed."""
    bw = _header(1, 1)
    bw.b(0, 1).b(0, 1).b(0, 1)
    _simple_code(bw, [1])
    _simple_code(bw, [2])
    _simple_code(bw, [3])
    _simple_code(bw, [4])
    _simple_code(bw, [45])   # distance alphabet is 40
    with pytest.raises(WebpError, match="alphabet"):
        webp_decode(_wrap(bw.bytes()))


def test_decode_pixels_routes_webp(spark):
    """Spark surface: a WebP blob flows through decode_pixels' real
    decode and lands content-addressed (same pixel_md5 as the PNG of
    the same pixels)."""
    import hashlib

    import pandas as pd

    from marky_spark.ops.multimodal import MEDIA_SCHEMA, decode_pixels
    from marky_spark.ops.pngcodec import png_encode

    w, h = 9, 5
    px = _px(w, h)
    media = spark.createDataFrame(
        pd.DataFrame(
            [("w1", "image/webp", webp_encode(px, w, h, 3)),
             ("p1", "image/png", png_encode(px, w, h, 3)),
             ("bad", "image/webp", b"RIFF\x10\x00\x00\x00WEBPxxxx")],
            columns=[f.name for f in MEDIA_SCHEMA.fields]),
        schema=MEDIA_SCHEMA)
    got = {r["media_ref"]: r for r in decode_pixels(media).collect()}
    assert got["w1"]["ok"] == "ok"
    assert got["w1"]["pixel_md5"] == hashlib.md5(px).hexdigest()
    assert got["w1"]["pixel_md5"] == got["p1"]["pixel_md5"]
    assert got["bad"]["ok"].startswith("error:")


# ------------------------------------------------------------- animation

def test_animated_webp_mixed_codecs_roundtrip():
    """Full-canvas overwrite frames: composite k == frame k for VP8L
    frames; one lossy VP8 frame makes the whole animation typed
    unsupported rather than partially decoded."""
    from marky_spark.ops.webpcodec import webp_decode_frames, webp_encode_anim

    w, h = 8, 8
    px0 = bytes((48 + i % 55) for i in range(w * h * 3))
    px1 = bytes((60 + i % 40) for i in range(w * h * 3))
    cw, ch_, frames = webp_decode_frames(webp_encode_anim(
        w, h, [webp_encode(px0, w, h, 3), webp_encode(px1, w, h, 3)]))
    assert (cw, ch_) == (w, h) and len(frames) == 2
    assert frames == [px0, px1]
    vp8 = _chunk(b"VP8 ", _VP8_KEYFRAME_8X8)
    for order in ((vp8, _chunk(b"VP8L", _flat_vp8l(w, h, 10))),
                  (_chunk(b"VP8L", _flat_vp8l(w, h, 10)), vp8)):
        with pytest.raises(WebpUnsupportedError):
            webp_decode_frames(_anim(w, h, *order))


def test_animated_webp_partial_frame_composites():
    """A second frame covering only a sub-rectangle leaves the rest of
    the canvas at frame 1's content (overwrite blending)."""
    from marky_spark.ops.webpcodec import (
        _webp_payload,
        webp_decode_frames,
        webp_encode,
        webp_encode_anim,
    )
    import struct

    base = webp_encode(bytes([10]) * (8 * 8 * 3), 8, 8, 3)
    small = _webp_payload(webp_encode(bytes([200]) * (4 * 4 * 3), 4, 4, 3))
    blob = webp_encode_anim(8, 8, [base])
    # hand-add a 4x4 frame at (2, 2): x/2 = 1, y/2 = 1
    sub = _chunk(b"VP8L", small)
    anmf = ((1).to_bytes(3, "little") + (1).to_bytes(3, "little")
            + (3).to_bytes(3, "little") + (3).to_bytes(3, "little")
            + (40).to_bytes(3, "little") + bytes((0x02,)) + sub)
    chunk = b"ANMF" + len(anmf).to_bytes(4, "little") + anmf
    if len(anmf) & 1:
        chunk += b"\x00"
    blob = blob + chunk
    blob = blob[:4] + struct.pack("<I", len(blob) - 8) + blob[8:]
    w, h, frames = webp_decode_frames(blob)
    assert len(frames) == 2
    f = frames[1]
    assert f[(0 * 8 + 0) * 3] == 10           # untouched corner
    assert f[(2 * 8 + 2) * 3] == 200          # overwritten rect
    assert f[(5 * 8 + 5) * 3] == 200          # rect extends to (5,5)
    assert f[(6 * 8 + 6) * 3] == 10           # beyond the rect


def test_animated_webp_hostile_is_typed():
    from marky_spark.ops.webpcodec import webp_decode_frames, webp_encode_anim

    with pytest.raises(WebpError):
        webp_decode_frames(b"RIFF\x04\x00\x00\x00WEBP")
    # a still (non-animated) WebP is no animation: frame_sample's walker
    # never hands it here (an unsupported row), and a direct call raises
    still = webp_encode(bytes(8 * 8 * 3), 8, 8, 3)
    with pytest.raises(WebpError):
        webp_decode_frames(still)
    # declared rect disagreeing with the payload dims
    f = webp_encode(bytes([1]) * (8 * 8 * 3), 8, 8, 3)
    blob = webp_encode_anim(4, 4, [f])
    with pytest.raises(WebpError, match="disagree"):
        webp_decode_frames(blob)
    # frame rect pushed outside the canvas: patch ANMF x/2 to 1 (x=2,
    # 2+8 > 8).  The ANMF header starts after RIFF(12) + VP8X(8+10) +
    # ANIM(8+6) + 'ANMF'+size(8).
    blob = bytearray(webp_encode_anim(8, 8, [f]))
    anmf_at = blob.find(b"ANMF")
    assert anmf_at > 0
    blob[anmf_at + 8] = 1
    with pytest.raises(WebpError, match="outside the canvas"):
        webp_decode_frames(bytes(blob))


# ----------------------------------------------------------- alpha plane
# ALPH is defined only for a lossy VP8 image: before VP8L it is malformed

def test_alph_with_vp8l_is_typed_error():
    blob = _riff(_chunk(b"ALPH", b"\x00" + b"\x80" * 64),
                 _chunk(b"VP8L", _flat_vp8l(8, 8, 0)))
    with pytest.raises(WebpError, match="ALPH"):
        webp_decode(blob)


def test_anmf_alph_with_vp8l_frame_is_typed_error():
    """An opaque VP8L frame after a half-transparent ALPH plane is
    malformed, not an alpha-blended composite."""
    from marky_spark.ops.webpcodec import webp_decode_frames

    plane = b"\x00" * 32 + b"\xff" * 32
    blob = _anim(8, 8, _chunk(b"VP8L", _flat_vp8l(8, 8, 10)),
                 _chunk(b"ALPH", b"\x00" + plane)
                 + _chunk(b"VP8L", _flat_vp8l(8, 8, 200)), blend=True)
    with pytest.raises(WebpError, match="ALPH"):
        webp_decode_frames(blob)


def test_animation_frame_count_is_capped():
    """A hostile animation declaring hundreds of frames composites only
    the first MAX_ANIM_FRAMES (O(frames x canvas) bound)."""
    from marky_spark.ops.webpcodec import (
        MAX_ANIM_FRAMES,
        webp_decode_frames,
        webp_encode_anim,
    )

    f = webp_encode(bytes([7]) * (4 * 4 * 3), 4, 4, 3)
    w, h, frames = webp_decode_frames(webp_encode_anim(4, 4, [f] * 300))
    assert len(frames) == MAX_ANIM_FRAMES
