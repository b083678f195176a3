"""WebP lossless (VP8L) codec — pure stdlib + numpy.

WebP is among the most common modern web image formats (favicons, CDN
thumbnails), and the one mainstream still-image container this repo's
decode matrix lacked. The reference never decodes media (it base64s
embedded bytes verbatim, docx.go:196-198), so like the other codecs this
is training-data-pipeline surface, consumed by ops/multimodal's
decode_pixels / media_features.

Written from the public "WebP Lossless Bitstream Specification" and the
RIFF container layout (both published by Google under CC-BY; datatracker
RFC 9649 carries the same text):

- RIFF walk: 'RIFF' size 'WEBP', then chunks; 'VP8L' is the lossless
  payload, 'VP8X' extended headers are walked for the embedded still,
  and 'VP8 ' (lossy VP8, with or without its 'ALPH' plane) and
  'ANIM'/'ANMF' (animation, see :func:`webp_decode_frames`) are a typed
  :class:`WebpUnsupportedError`. Lossy VP8 is deliberately not decoded:
  with no reference decoder or real VP8 fixture in reach, its pixels
  could not be verified. 'ALPH' is defined only for a 'VP8 ' image, so
  'ALPH' before 'VP8L' is a :class:`WebpError`.
- VP8L header: 0x2f signature, 14-bit w-1 / h-1, alpha hint, version 0.
  All reads are LSB-first within little-endian bytes; prefix-code bits
  are consumed MSB-of-code-first (the DEFLATE convention).
- Up to four transforms (each at most once): PREDICTOR (14 modes over
  per-block mode sub-image), CROSS-COLOR (green_to_red / green_to_blue /
  red_to_blue int8 multipliers, delta = (int8(t) * int8(c)) >> 5),
  SUBTRACT-GREEN, and COLOR-INDEXING (delta-coded palette with 1/2/4-bit
  pixel bundling). Inverses applied in reverse read order; each records
  the image width current at its read position.
- Spatially-coded image: optional color cache (hash
  (0x1e35a7bd * argb) >> (32 - bits)), optional meta-prefix sub-image
  selecting one of N groups of five prefix codes (green+length+cache /
  red / blue / alpha / distance), LZ77 backward references whose 120
  smallest distance codes map to a 2-D neighborhood. That neighborhood
  table is GENERATED, not transcribed: it is exactly every offset
  (dx in -7..8, dy in 0..7) with dy > 0 or dx > 0, sorted by squared
  euclidean distance, ties by larger dy first, positive dx before
  negative — which reproduces the spec's table (spot-checked against
  the published plane-code list).

The encoder is the decoder's adversarial inverse (real histogram-built
canonical prefix codes, optional subtract-green / palette / color cache
/ LZ77 run emission), which is what lets round-trip tests, the
hand-assembled bit-level vectors in tests/test_webp.py, and the driver's
SQL pixel oracle pin the decode.

Hostile input raises :class:`WebpError`; recognized-but-unimplemented
modes (lossy VP8, animation as a still) raise
:class:`WebpUnsupportedError` — the usual poison-pill /
codec_unavailable contract. Dimensions are capped before any
allocation.
"""
from __future__ import annotations

import struct

from .bitio import LsbReader, LsbWriter

MAX_WEBP_PIXELS = 1 << 26
_HASH_MUL = 0x1E35A7BD


class WebpError(ValueError):
    """Malformed / hostile WebP input."""


class WebpUnsupportedError(NotImplementedError):
    """Recognized WebP feature outside the supported subset (animation,
    animation)."""


def looks_like_webp(data: bytes) -> bool:
    return (len(data) >= 12 and data[:4] == b"RIFF"
            and data[8:12] == b"WEBP")


def _write_code(bw: LsbWriter, code: int, length: int) -> None:
    """A prefix code: its bits go out MSB-of-code first."""
    for k in range(length - 1, -1, -1):
        bw.write((code >> k) & 1, 1)


# --------------------------------------------------------- prefix codes
def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """code lengths → {symbol: (code, length)} (DEFLATE canonical:
    codes assigned in symbol order within ascending lengths)."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 1)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (next_code[ln], ln)
            next_code[ln] += 1
    return out


_ROOT_BITS = 8


class _PrefixCode:
    """Decoder for one canonical prefix code: one table lookup per symbol.

    The table is indexed by the next bits as ``peek`` returns them (the
    code's first bit lowest). A root table covers ``_ROOT_BITS``; a code
    longer than that has a root entry ``~i`` naming second-level table
    ``i``, indexed by the bits past the root, as libwebp builds it. An
    entry is ``symbol << 4 | length``. The Kraft check makes the code
    complete, so every entry is filled."""
    __slots__ = ("root", "sub", "max_len", "root_bits", "root_mask")

    def __init__(self, lengths: list[int]):
        used = [ln for ln in lengths if ln]
        if not used:
            raise WebpError("prefix code with no symbols")
        kraft = sum(1 << (15 - ln) for ln in used)
        if kraft != (1 << 15):
            raise WebpError(
                "prefix code is not complete "
                f"(kraft {kraft}/{1 << 15} over {len(used)} symbols)")
        self.max_len = max(used)
        root_bits = self.root_bits = min(self.max_len, _ROOT_BITS)
        self.root_mask = (1 << root_bits) - 1
        self.root = root = [0] * (1 << root_bits)
        long_codes: dict[int, list[tuple[int, int, int]]] = {}
        for sym, (code, ln) in _canonical_codes(lengths).items():
            rev = int(f"{code:0{ln}b}"[::-1], 2)  # first code bit lowest
            if ln <= root_bits:
                for i in range(rev, len(root), 1 << ln):
                    root[i] = sym << 4 | ln
            else:
                long_codes.setdefault(rev & self.root_mask, []).append(
                    (rev >> root_bits, ln - root_bits, sym << 4 | ln))
        self.sub = []
        for prefix, codes in long_codes.items():
            width = max(ln for _, ln, _ in codes)
            table = [0] * (1 << width)
            for rest, ln, entry in codes:
                for i in range(rest, len(table), 1 << ln):
                    table[i] = entry
            root[prefix] = ~len(self.sub)
            self.sub.append((len(table) - 1, table))

    def read(self, br: LsbReader) -> int:
        bits = br.peek(self.max_len)
        entry = self.root[bits & self.root_mask]
        if entry < 0:
            mask, table = self.sub[~entry]
            entry = table[(bits >> self.root_bits) & mask]
        br.consume(entry & 15)
        return entry >> 4


class _SimpleCode:
    """The VP8L 'simple code' path: 1 symbol (zero bits) or 2 (one
    bit each)."""
    __slots__ = ("syms",)

    def __init__(self, syms: list[int]):
        self.syms = syms

    def read(self, br: LsbReader) -> int:
        if len(self.syms) == 1:
            return self.syms[0]
        return self.syms[br.read(1)]


_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8,
             9, 10, 11, 12, 13, 14, 15, 16)


def _read_prefix_code(br: LsbReader, alphabet: int):
    """One prefix code: the simple path or the code-length-coded path
    (spec §6.2.2 'Decoding of meta prefix codes' / 'Prefix code
    lengths')."""
    if br.read(1):  # simple
        n = br.read(1) + 1
        if br.read(1):
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        syms = [s0]
        if n == 2:
            syms.append(br.read(8))
        for s in syms:
            if s >= alphabet:
                raise WebpError(f"simple-code symbol {s} outside "
                                f"alphabet {alphabet}")
        if n == 2 and syms[0] == syms[1]:
            raise WebpError("simple code repeats its symbol")
        return _SimpleCode(syms)
    num_codes = 4 + br.read(4)
    cl_lengths = [0] * 19
    for i in range(num_codes):
        cl_lengths[_CL_ORDER[i]] = br.read(3)
    cl_code = _PrefixCode(cl_lengths)
    if br.read(1):  # explicit max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet:
            raise WebpError(f"max_symbol {max_symbol} exceeds "
                            f"alphabet {alphabet}")
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    sym = 0
    prev = 8
    while sym < alphabet and max_symbol > 0:
        max_symbol -= 1
        t = cl_code.read(br)
        if t < 16:
            lengths[sym] = t
            sym += 1
            if t:
                prev = t
        else:
            if t == 16:
                repeat, fill = 3 + br.read(2), prev
            elif t == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if sym + repeat > alphabet:
                raise WebpError("code-length repeat overruns alphabet")
            for _ in range(repeat):
                lengths[sym] = fill
                sym += 1
    return _PrefixCode(lengths)


# ------------------------------------------------------ lz77 primitives
def _prefix_value(br: LsbReader, code: int) -> int:
    """Length/distance prefix decoding (spec §6.2.3): small codes are
    literal, larger split into (offset, extra bits)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _prefix_token(value: int) -> tuple[int, int, int]:
    """Inverse of :func:`_prefix_value`: value → (code, extra_val,
    extra_bits)."""
    if value < 5:
        return value - 1, 0, 0
    v = value - 1
    extra = v.bit_length() - 2
    rem = v - (2 << extra)
    code = 2 * extra + 2 + (rem >> extra)
    return code, rem & ((1 << extra) - 1), extra


def _plane_table() -> list[tuple[int, int]]:
    """The 120 short-distance codes' (dx, dy) offsets, generated by the
    spec's ordering rule (module docstring)."""
    cands = [(dx, dy) for dy in range(8) for dx in range(-7, 9)
             if dy > 0 or dx > 0]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], p[0] < 0))
    return cands[:120]


_PLANE = _plane_table()
_PLANE_INV = {off: i + 1 for i, off in enumerate(_PLANE)}


def _plane_to_dist(code: int, xsize: int) -> int:
    if code > 120:
        return code - 120
    dx, dy = _PLANE[code - 1]
    return max(1, dy * xsize + dx)


# ------------------------------------------------------------- decoding
_GREEN, _RED, _BLUE, _ALPHA, _DIST = range(5)


def _read_group(br: LsbReader, cache_size: int) -> list:
    sizes = (256 + 24 + cache_size, 256, 256, 256, 40)
    return [_read_prefix_code(br, s) for s in sizes]


def _sub_size(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _decode_image(br: LsbReader, w: int, h: int, level0: bool,
                  depth: int = 0) -> list:
    """One VP8L-coded ARGB image → flat list of uint32, applying the
    inverse transforms when ``level0``."""
    if depth > 2:
        raise WebpError("VP8L sub-image nesting too deep")
    transforms = []  # (type, data...) in READ order
    cur_w = w
    if level0:
        seen = set()
        while br.read(1):
            t = br.read(2)
            if t in seen:
                raise WebpError(f"transform {t} appears twice")
            seen.add(t)
            if t == 0 or t == 1:  # predictor / cross-color
                size_bits = br.read(3) + 2
                sub = _decode_image(
                    br, _sub_size(cur_w, size_bits),
                    _sub_size(h, size_bits), False, depth + 1)
                transforms.append((t, size_bits, sub, cur_w))
            elif t == 2:  # subtract green
                transforms.append((2,))
            else:  # color indexing
                n_colors = br.read(8) + 1
                pal = _decode_image(br, n_colors, 1, False, depth + 1)
                for i in range(1, n_colors):
                    pal[i] = _add_pixels(pal[i], pal[i - 1])
                if n_colors <= 2:
                    xbits = 3
                elif n_colors <= 4:
                    xbits = 2
                elif n_colors <= 16:
                    xbits = 1
                else:
                    xbits = 0
                transforms.append((3, xbits, pal, cur_w))
                cur_w = _sub_size(cur_w, xbits)

    cache_size = 0
    cache = None
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebpError(f"color cache of {cache_bits} bits")
        cache_size = 1 << cache_bits
        cache = [0] * cache_size
        cache_shift = 32 - cache_bits

    meta = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read(1):
        meta_bits = br.read(3) + 2
        meta = _decode_image(br, _sub_size(cur_w, meta_bits),
                             _sub_size(h, meta_bits), False, depth + 1)
        n_groups = max(((p >> 8) & 0xFFFF) for p in meta) + 1
    groups = [_read_group(br, cache_size) for _ in range(n_groups)]

    n = cur_w * h
    out: list[int] = []
    meta_w = _sub_size(cur_w, meta_bits) if meta is not None else 0
    group = groups[0]
    while len(out) < n:
        pos = len(out)
        x = pos % cur_w
        if meta is not None:
            y = pos // cur_w
            gi = (meta[(y >> meta_bits) * meta_w + (x >> meta_bits)]
                  >> 8) & 0xFFFF
            group = groups[gi]
        s = group[_GREEN].read(br)
        if s < 256:
            r = group[_RED].read(br)
            b = group[_BLUE].read(br)
            a = group[_ALPHA].read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out.append(px)
            if cache is not None:
                cache[((_HASH_MUL * px) & 0xFFFFFFFF) >> cache_shift] = px
        elif s < 280:
            length = _prefix_value(br, s - 256)
            dist_code = _prefix_value(br, group[_DIST].read(br))
            dist = _plane_to_dist(dist_code, cur_w)
            if dist > pos:
                raise WebpError("LZ77 distance reaches before the image")
            if pos + length > n:
                raise WebpError("LZ77 copy overruns the image")
            for _ in range(length):
                px = out[-dist]
                out.append(px)
                if cache is not None:
                    cache[((_HASH_MUL * px) & 0xFFFFFFFF)
                          >> cache_shift] = px
        else:
            idx = s - 280
            if cache is None or idx >= cache_size:
                raise WebpError("color-cache symbol without a cache slot")
            out.append(cache[idx])

    for tr in reversed(transforms):
        out = _inverse_transform(tr, out, h)
    return out


def _add_pixels(a: int, b: int) -> int:
    """Per-channel byte addition mod 256."""
    return (((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00) | \
           (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF)


def _inverse_transform(tr: tuple, px: list, h: int) -> list:
    t = tr[0]
    if t == 2:  # add green back to red and blue
        import numpy as np

        arr = np.array(px, dtype=np.uint32)
        g = (arr >> 8) & 0xFF
        r = (((arr >> 16) & 0xFF) + g) & 0xFF
        b = ((arr & 0xFF) + g) & 0xFF
        return ((arr & 0xFF00FF00) | (r << 16) | b).tolist()
    if t == 3:  # color indexing: unbundle then palette lookup
        _, xbits, pal, full_w = tr
        packed_w = _sub_size(full_w, xbits)
        bpp = 8 >> xbits if xbits else 8
        mask = (1 << bpp) - 1
        per = (1 << xbits) - 1
        out = []
        for y in range(h):
            row = px[y * packed_w:(y + 1) * packed_w]
            for x in range(full_w):
                packed = row[x >> xbits] if xbits else row[x]
                idx = ((packed >> 8) & 0xFF)
                if xbits:
                    idx = (idx >> ((x & per) * bpp)) & mask
                if idx >= len(pal):
                    raise WebpError(
                        f"palette index {idx} >= {len(pal)} colors")
                out.append(pal[idx])
        return out
    if t == 1:  # cross-color
        _, bits, sub, full_w = tr
        sub_w = _sub_size(full_w, bits)
        out = []
        for pos, v in enumerate(px):
            x, y = pos % full_w, pos // full_w
            cte = sub[(y >> bits) * sub_w + (x >> bits)]
            g2r = _i8(cte & 0xFF)
            g2b = _i8((cte >> 8) & 0xFF)
            r2b = _i8((cte >> 16) & 0xFF)
            g = _i8((v >> 8) & 0xFF)
            r = (((v >> 16) & 0xFF) + ((g2r * g) >> 5)) & 0xFF
            b = ((v & 0xFF) + ((g2b * g) >> 5) + ((r2b * _i8(r)) >> 5)) \
                & 0xFF
            out.append((v & 0xFF00FF00) | (r << 16) | b)
        return out
    # t == 0: predictor
    _, bits, sub, full_w = tr
    sub_w = _sub_size(full_w, bits)
    out: list[int] = []
    for pos, v in enumerate(px):
        x, y = pos % full_w, pos // full_w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif x == 0:
            pred = out[pos - full_w]
        elif y == 0:
            pred = out[pos - 1]
        else:
            mode = (sub[(y >> bits) * sub_w + (x >> bits)] >> 8) & 0xFF
            pred = _predict(mode, out, pos, full_w)
        out.append(_add_pixels(v, pred))
    return out


def _i8(v: int) -> int:
    return v - 256 if v >= 128 else v


def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _predict(mode: int, out: list, pos: int, w: int) -> int:
    """Spec §5.2 predictor modes; neighbors via LINEAR addressing, so
    the top-right of a rightmost pixel is the current row's first pixel
    (the spec's note on the pixel array layout)."""
    left = out[pos - 1]
    top = out[pos - w]
    tl = out[pos - w - 1]
    tr = out[pos - w + 1]
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select
        p_l = p_t = 0
        for sh in (24, 16, 8, 0):
            lc = (left >> sh) & 0xFF
            tc = (top >> sh) & 0xFF
            tlc = (tl >> sh) & 0xFF
            p = lc + tc - tlc
            p_l += abs(p - lc)
            p_t += abs(p - tc)
        return left if p_l < p_t else top
    if mode == 12:  # ClampAddSubtractFull
        v = 0
        for sh in (24, 16, 8, 0):
            c = ((left >> sh) & 0xFF) + ((top >> sh) & 0xFF) \
                - ((tl >> sh) & 0xFF)
            v |= max(0, min(255, c)) << sh
        return v
    if mode == 13:  # ClampAddSubtractHalf
        v = 0
        for sh in (24, 16, 8, 0):
            a = (((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)) >> 1
            d = a - ((tl >> sh) & 0xFF)
            # C integer division truncates toward zero
            c = a + (abs(d) >> 1) * (1 if d >= 0 else -1)
            v |= max(0, min(255, c)) << sh
        return v
    raise WebpError(f"predictor mode {mode} out of range")


# ------------------------------------------------------------ container
def _webp_payload(data: bytes) -> bytes:
    """RIFF walk → the VP8L chunk payload of the still image.  Typed
    errors for lossy, animated and malformed containers."""
    if not looks_like_webp(data):
        raise WebpError("not a WebP (no RIFF/WEBP signature)")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if riff_size + 8 > len(data) or riff_size < 4:
        raise WebpError("RIFF size field outside the file")
    at = 12
    end = 8 + riff_size
    alph = False
    while at + 8 <= end:
        fourcc = data[at:at + 4]
        (size,) = struct.unpack_from("<I", data, at + 4)
        payload_at = at + 8
        if payload_at + size > end:
            raise WebpError(f"chunk {fourcc!r} overruns the container")
        if fourcc == b"ALPH":
            alph = True
        elif fourcc == b"VP8 ":
            raise WebpUnsupportedError("lossy VP8 WebP not implemented")
        elif fourcc == b"VP8L":
            if alph:
                raise WebpError(
                    "ALPH chunk with a VP8L image (VP8L has alpha)")
            return data[payload_at:payload_at + size]
        elif fourcc == b"ANMF" or fourcc == b"ANIM":
            raise WebpUnsupportedError("animated WebP not implemented")
        at = payload_at + size + (size & 1)
    raise WebpError("no VP8L/VP8 chunk in WebP container")


def webp_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """WebP bytes → ``(width, height, channels, 8-bit samples)`` —
    RGB when fully opaque, RGBA otherwise (the PNG-decoder convention
    decode_pixels keys on)."""
    import numpy as np

    payload = _webp_payload(data)
    br = LsbReader(payload, WebpError)
    if br.read(8) != 0x2F:
        raise WebpError("bad VP8L signature byte")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint (informative)
    if br.read(3) != 0:
        raise WebpError("VP8L version != 0")
    if w * h > MAX_WEBP_PIXELS:
        raise WebpError(f"{w}x{h} exceeds pixel cap")
    px = _decode_image(br, w, h, True)
    if len(px) != w * h:
        raise WebpError("decoded pixel count mismatch")
    arr = np.array(px, dtype=np.uint32)
    a = (arr >> 24).astype(np.uint8)
    r = (arr >> 16).astype(np.uint8)
    g = (arr >> 8).astype(np.uint8)
    b = arr.astype(np.uint8)
    if bool((a == 255).all()):
        return w, h, 3, np.stack([r, g, b], axis=-1).tobytes()
    return w, h, 4, np.stack([r, g, b, a], axis=-1).tobytes()


# ------------------------------------------------------------- encoding
def _huffman_lengths(freqs: dict[int, int], limit: int) -> dict[int, int]:
    """Histogram → code lengths capped at ``limit`` (halving-rebuild on
    overflow — freqs stay positive so the cap always converges)."""
    import heapq

    f = {s: c for s, c in freqs.items() if c > 0}
    if not f:
        return {}
    if len(f) == 1:
        return {next(iter(f)): 1}
    while True:
        heap = [(c, s, None) for s, c in f.items()]
        heapq.heapify(heap)
        nodes = []
        while len(heap) > 1:
            c1, t1, n1 = heapq.heappop(heap)
            c2, t2, n2 = heapq.heappop(heap)
            nodes.append(((t1, n1), (t2, n2)))
            heapq.heappush(heap, (c1 + c2, min(t1, t2),
                                  len(nodes) - 1))
        lengths: dict[int, int] = {}

        def walk(tag, node, depth):
            if node is None:
                lengths[tag] = max(depth, 1)
                return
            (t1, n1), (t2, n2) = nodes[node]
            walk(t1, n1, depth + 1)
            walk(t2, n2, depth + 1)

        _, tag, node = heap[0]
        walk(tag, node, 0)
        if max(lengths.values()) <= limit:
            return lengths
        f = {s: (c + 1) // 2 for s, c in f.items()}


def _pad_to_complete(lengths: dict[int, int], alphabet: int,
                     limit: int) -> dict[int, int]:
    """A 1-symbol code is incomplete (kraft 1/2); pad with an unused
    symbol so the decoder's completeness check holds."""
    if len(lengths) == 1:
        (sym,) = lengths
        pad = 0 if sym else 1
        if pad >= alphabet:
            raise WebpError("cannot pad single-symbol code")
        return {sym: 1, pad: 1}
    return lengths


def _write_prefix_code(bw: LsbWriter, lengths: dict[int, int],
                       alphabet: int) -> dict[int, tuple[int, int]]:
    """Emit one prefix code; returns {symbol: (code, len)} for payload
    emission. Uses the simple path when possible."""
    syms = sorted(lengths)
    if 1 <= len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)                    # simple
        bw.write(len(syms) - 1, 1)        # num_symbols - 1
        first = syms[0]
        if first > 1:
            bw.write(1, 1)                # 8-bit first symbol
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        if len(syms) == 1:
            return {syms[0]: (0, 0)}
        return {syms[0]: (0, 1), syms[1]: (1, 1)}

    bw.write(0, 1)  # full path
    full = [lengths.get(s, 0) for s in range(alphabet)]
    # token stream: literal lengths + 17/18 zero-runs
    tokens: list[tuple[int, int, int]] = []  # (symbol, extra, extra_bits)
    trailing_zeros = False
    i = 0
    while i < alphabet:
        if full[i] == 0:
            j = i
            while j < alphabet and full[j] == 0:
                j += 1
            run = j - i
            if j == alphabet:
                trailing_zeros = True
                break  # implicit via the explicit-max_symbol field
            while run:
                if run >= 11:
                    k = min(run, 138)
                    tokens.append((18, k - 11, 7))
                    run -= k
                elif run >= 3:
                    k = min(run, 10)
                    tokens.append((17, k - 3, 3))
                    run -= k
                else:
                    for _ in range(run):
                        tokens.append((0, 0, 0))
                    run = 0
            i = j
        else:
            tokens.append((full[i], 0, 0))
            i += 1
    if trailing_zeros and len(tokens) < 2:
        # the explicit token budget can't encode < 2; spell the zeros out
        covered = 0
        for t, ex, eb in tokens:
            covered += 1 if t < 16 else (3 + ex if t == 17 else 11 + ex)
        run = alphabet - covered
        while run:
            if run >= 11:
                k = min(run, 138)
                tokens.append((18, k - 11, 7))
                run -= k
            elif run >= 3:
                k = min(run, 10)
                tokens.append((17, k - 3, 3))
                run -= k
            else:
                for _ in range(run):
                    tokens.append((0, 0, 0))
                run = 0
        trailing_zeros = False
    cl_freq: dict[int, int] = {}
    for t, _, _ in tokens:
        cl_freq[t] = cl_freq.get(t, 0) + 1
    cl_lengths = _pad_to_complete(_huffman_lengths(cl_freq, 7), 19, 7)
    cl_codes = _canonical_codes(
        [cl_lengths.get(s, 0) for s in range(19)])
    # num_code_lengths covers the largest ORDER index used
    used_order = max(i for i, s in enumerate(_CL_ORDER)
                     if cl_lengths.get(s, 0)) + 1
    num_codes = max(4, used_order)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths.get(_CL_ORDER[i], 0), 3)
    if trailing_zeros:
        # explicit token budget: the decoder stops after len(tokens)
        # tokens and fills the tail with zeros
        bw.write(1, 1)
        val = len(tokens) - 2
        nbitpairs = max(1, (val.bit_length() + 1) // 2)
        bw.write(nbitpairs - 1, 3)
        bw.write(val, nbitpairs * 2)
    else:
        bw.write(0, 1)  # token stream covers the whole alphabet
    for t, extra, ebits in tokens:
        code, ln = cl_codes[t]
        _write_code(bw, code, ln)
        if ebits:
            bw.write(extra, ebits)
    return _canonical_codes(full)


def webp_encode(pixels: bytes, width: int, height: int,
                channels: int = 3, *, subtract_green: bool = False,
                palette: bool = False, color_cache_bits: int = 0,
                lz77: bool = False) -> bytes:
    """Interleaved 8-bit samples → lossless WebP (the decoder's fixture
    inverse). ``subtract_green`` / ``palette`` / ``color_cache_bits`` /
    ``lz77`` turn on the corresponding bitstream features so round-trip
    tests cover each decode path."""
    import numpy as np

    if channels not in (1, 3, 4):
        raise WebpError(f"{channels}-channel input")
    if width < 1 or height < 1 or \
            len(pixels) != width * height * channels:
        raise WebpError("pixel buffer does not match dimensions")
    if width > 1 << 14 or height > 1 << 14:
        raise WebpError("dimension exceeds VP8L's 14-bit limit")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(-1, channels)
    if channels == 1:
        r = g = b = arr[:, 0].astype(np.uint32)
        a = np.full(len(arr), 255, dtype=np.uint32)
    else:
        r = arr[:, 0].astype(np.uint32)
        g = arr[:, 1].astype(np.uint32)
        b = arr[:, 2].astype(np.uint32)
        a = (arr[:, 3].astype(np.uint32) if channels == 4
             else np.full(len(arr), 255, dtype=np.uint32))
    argb = ((a << 24) | (r << 16) | (g << 8) | b).tolist()

    bw = LsbWriter()
    bw.write(0x2F, 8)
    bw.write(width - 1, 14)
    bw.write(height - 1, 14)
    bw.write(1 if channels == 4 else 0, 1)
    bw.write(0, 3)  # version

    enc_w = width
    if palette:
        colors = []
        index_of = {}
        for px in argb:
            if px not in index_of:
                index_of[px] = len(colors)
                colors.append(px)
        if len(colors) > 256:
            raise WebpError("palette mode with more than 256 colors")
        bw.write(1, 1)
        bw.write(3, 2)  # color indexing
        bw.write(len(colors) - 1, 8)
        deltas = [colors[0]] + [
            _sub_pixels(colors[i], colors[i - 1])
            for i in range(1, len(colors))]
        _encode_subimage(bw, deltas)
        n = len(colors)
        xbits = 3 if n <= 2 else 2 if n <= 4 else 1 if n <= 16 else 0
        if xbits:
            bpp = 8 >> xbits
            enc_w = _sub_size(width, xbits)
            packed = []
            for y in range(height):
                row = argb[y * width:(y + 1) * width]
                for bx in range(enc_w):
                    v = 0
                    for k in range(1 << xbits):
                        x = (bx << xbits) + k
                        if x < width:
                            v |= index_of[row[x]] << (k * bpp)
                    packed.append(0xFF000000 | (v << 8))
            argb = packed
        else:
            argb = [0xFF000000 | (index_of[px] << 8) for px in argb]
    elif subtract_green:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green
        argb = [((px & 0xFF00FF00)
                 | ((((px >> 16) & 0xFF) - ((px >> 8) & 0xFF)) & 0xFF)
                 << 16
                 | ((px & 0xFF) - ((px >> 8) & 0xFF)) & 0xFF)
                for px in argb]
    bw.write(0, 1)  # end of transforms

    # tokenize: literals / cache hits / dist-1 runs
    cache = None
    cache_shift = 0
    if color_cache_bits:
        if not 1 <= color_cache_bits <= 11:
            raise WebpError(f"color cache of {color_cache_bits} bits")
        cache = [None] * (1 << color_cache_bits)
        cache_shift = 32 - color_cache_bits
    bw.write(1 if cache is not None else 0, 1)
    if cache is not None:
        bw.write(color_cache_bits, 4)
    bw.write(0, 1)  # no meta prefix codes

    tokens = []  # ('lit', px) | ('cache', idx) | ('copy', len, dist_code)
    g_freq: dict[int, int] = {}
    r_freq: dict[int, int] = {}
    b_freq: dict[int, int] = {}
    a_freq: dict[int, int] = {}
    d_freq: dict[int, int] = {}
    i = 0
    n = len(argb)
    while i < n:
        px = argb[i]
        if lz77 and i and argb[i - 1] == px:
            run = 1
            while i + run < n and argb[i + run] == px and run < 4096:
                run += 1
            if run >= 3:
                code, _, _ = _prefix_token(run)
                g_freq[256 + code] = g_freq.get(256 + code, 0) + 1
                dist_code = _PLANE_INV[(1, 0)]  # distance 1
                dcode, _, _ = _prefix_token(dist_code)
                d_freq[dcode] = d_freq.get(dcode, 0) + 1
                tokens.append(("copy", run, dist_code))
                if cache is not None:
                    cache[((_HASH_MUL * px) & 0xFFFFFFFF)
                          >> cache_shift] = px
                i += run
                continue
        if cache is not None:
            idx = ((_HASH_MUL * px) & 0xFFFFFFFF) >> cache_shift
            if cache[idx] == px:
                sym = 280 + idx
                g_freq[sym] = g_freq.get(sym, 0) + 1
                tokens.append(("cache", idx))
                i += 1
                continue
            cache[idx] = px
        tokens.append(("lit", px))
        g_freq[(px >> 8) & 0xFF] = g_freq.get((px >> 8) & 0xFF, 0) + 1
        r_freq[(px >> 16) & 0xFF] = r_freq.get((px >> 16) & 0xFF, 0) + 1
        b_freq[px & 0xFF] = b_freq.get(px & 0xFF, 0) + 1
        a_freq[(px >> 24) & 0xFF] = a_freq.get((px >> 24) & 0xFF, 0) + 1
        i += 1

    cache_size = (1 << color_cache_bits) if color_cache_bits else 0
    green_alpha = 256 + 24 + cache_size
    if not d_freq:
        d_freq[0] = 1  # unused tree still needs a valid code
    codes = []
    for freq, alpha in ((g_freq, green_alpha), (r_freq, 256),
                        (b_freq, 256), (a_freq, 256), (d_freq, 40)):
        if not freq:
            freq[0] = 1
        lengths = _pad_to_complete(
            _huffman_lengths(freq, 15), alpha, 15)
        codes.append(_write_prefix_code(bw, lengths, alpha))
    gc, rc, bc, ac, dc = codes

    for tok in tokens:
        if tok[0] == "lit":
            px = tok[1]
            for table, sh in ((gc, 8), (rc, 16), (bc, 0), (ac, 24)):
                code, ln = table[(px >> sh) & 0xFF]
                _write_code(bw, code, ln)
        elif tok[0] == "cache":
            code, ln = gc[280 + tok[1]]
            _write_code(bw, code, ln)
        else:
            _, run, dist_code = tok
            lcode, extra, ebits = _prefix_token(run)
            code, ln = gc[256 + lcode]
            _write_code(bw, code, ln)
            if ebits:
                bw.write(extra, ebits)
            dcode, dextra, debits = _prefix_token(dist_code)
            code, ln = dc[dcode]
            _write_code(bw, code, ln)
            if debits:
                bw.write(dextra, debits)

    payload = bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _sub_pixels(a: int, b: int) -> int:
    """Per-channel byte subtraction mod 256 (palette delta inverse)."""
    out = 0
    for sh in (0, 8, 16, 24):
        out |= ((((a >> sh) & 0xFF) - ((b >> sh) & 0xFF)) & 0xFF) << sh
    return out


def _encode_subimage(bw: LsbWriter, argb: list) -> None:
    """A sub-image (palette rows etc.): no transforms bit is NOT
    present for sub-images; no cache, no meta — just one group of
    literal codes."""
    bw.write(0, 1)  # no color cache
    g_freq: dict[int, int] = {}
    r_freq: dict[int, int] = {}
    b_freq: dict[int, int] = {}
    a_freq: dict[int, int] = {}
    for px in argb:
        g_freq[(px >> 8) & 0xFF] = g_freq.get((px >> 8) & 0xFF, 0) + 1
        r_freq[(px >> 16) & 0xFF] = r_freq.get((px >> 16) & 0xFF, 0) + 1
        b_freq[px & 0xFF] = b_freq.get(px & 0xFF, 0) + 1
        a_freq[(px >> 24) & 0xFF] = a_freq.get((px >> 24) & 0xFF, 0) + 1
    codes = []
    for freq, alpha in ((g_freq, 256 + 24), (r_freq, 256),
                        (b_freq, 256), (a_freq, 256), ({0: 1}, 40)):
        lengths = _pad_to_complete(_huffman_lengths(freq, 15), alpha, 15)
        codes.append(_write_prefix_code(bw, lengths, alpha))
    gc, rc, bc, ac, _ = codes
    for px in argb:
        for table, sh in ((gc, 8), (rc, 16), (bc, 0), (ac, 24)):
            code, ln = table[(px >> sh) & 0xFF]
            _write_code(bw, code, ln)


# ----------------------------------------------------------- animation
MAX_ANIM_FRAMES = 64    # hostile-input bound: compositing work and the
                        # output list are O(frames x canvas) — same cap
                        # as ops/gifcodec.gif_decode_frames
MAX_ANIM_OUT_BYTES = 256 << 20  # and a total-output bound: 64 frames of
                                # a near-cap canvas would still be GBs
MAX_ANIM_PIXELS = 1 << 20       # animated canvases cap far below the
                                # still-image cap: compositing runs
                                # per-pixel in Python, so this cap IS
                                # the per-blob time bound; real
                                # animations are small


def webp_decode_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """Animated WebP (VP8X + ANIM + ANMF chunks) → ``(canvas_w,
    canvas_h, [rgb_frame_bytes])`` — the composited canvas after each
    frame, like ops/gifcodec.gif_decode_frames.

    Per the WebP container spec: each ANMF carries the frame rectangle
    (x/2, y/2, w-1, h-1 as 24-bit fields), a duration, and two flag
    bits — blending (0 = alpha-blend onto the canvas, 1 = overwrite)
    and disposal (1 = fill the rect with the ANIM background color
    after the frame is rendered).  A frame's subchunks take the still
    walk (``webp_decode``), so only a VP8L frame decodes: a lossy VP8
    frame raises :class:`WebpUnsupportedError` and ALPH before a VP8L
    frame raises :class:`WebpError`.  Non-animated files raise
    :class:`WebpError` (callers fall back to ``webp_decode``)."""
    if not looks_like_webp(data):
        raise WebpError("not a WebP (no RIFF/WEBP signature)")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if riff_size + 8 > len(data) or riff_size < 4:
        raise WebpError("RIFF size field outside the file")
    at = 12
    end = 8 + riff_size
    canvas_w = canvas_h = None
    bg = (255, 255, 255, 255)
    frames_out: list[bytes] = []
    canvas = None
    saw_anim = False

    def u24(b: bytes, o: int) -> int:
        return b[o] | (b[o + 1] << 8) | (b[o + 2] << 16)

    while at + 8 <= end:
        fourcc = data[at:at + 4]
        (size,) = struct.unpack_from("<I", data, at + 4)
        payload_at = at + 8
        if payload_at + size > end:
            raise WebpError(f"chunk {fourcc!r} overruns the container")
        payload = data[payload_at:payload_at + size]
        if fourcc == b"VP8X":
            if size < 10:
                raise WebpError("short VP8X chunk")
            if not payload[0] & 0x02:
                raise WebpError("VP8X without the animation flag")
            canvas_w = u24(payload, 4) + 1
            canvas_h = u24(payload, 7) + 1
            if canvas_w * canvas_h > MAX_ANIM_PIXELS:
                raise WebpError("animated canvas exceeds pixel cap")
            canvas = bytearray(
                bytes(bg) * (canvas_w * canvas_h))
        elif fourcc == b"ANIM":
            if size < 6:
                raise WebpError("short ANIM chunk")
            # spec byte order: [blue, green, red, alpha]
            bg = (payload[2], payload[1], payload[0], payload[3])
            saw_anim = True
            if canvas is not None:
                canvas[:] = bytes(bg) * (canvas_w * canvas_h)
        elif fourcc == b"ANMF":
            if canvas is None or not saw_anim:
                raise WebpError("ANMF before VP8X/ANIM")
            if len(frames_out) >= MAX_ANIM_FRAMES or (
                    frames_out and len(frames_out)
                    * len(frames_out[0]) >= MAX_ANIM_OUT_BYTES):
                break    # bounded: keep the frames already composited
            if size < 16:
                raise WebpError("short ANMF chunk")
            fx = u24(payload, 0) * 2
            fy = u24(payload, 3) * 2
            fw = u24(payload, 6) + 1
            fh = u24(payload, 9) + 1
            flags = payload[15]
            no_blend = bool(flags & 0x02)
            dispose_bg = bool(flags & 0x01)
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise WebpError("ANMF frame outside the canvas")
            sub = payload[16:]
            pw, ph, ch, px = webp_decode(
                b"RIFF" + (4 + len(sub)).to_bytes(4, "little") + b"WEBP"
                + sub)
            if (pw, ph) != (fw, fh):
                raise WebpError("ANMF frame dims disagree with payload")
            # composite the rect
            for r in range(fh):
                dst = ((fy + r) * canvas_w + fx) * 4
                src = r * fw * ch
                for c in range(fw):
                    d = dst + c * 4
                    s = src + c * ch
                    if ch == 3:
                        sr, sg, sb, sa = px[s], px[s + 1], px[s + 2], 255
                    else:
                        sr, sg, sb, sa = px[s], px[s + 1], px[s + 2], px[s + 3]
                    if no_blend or sa == 255:
                        canvas[d:d + 4] = bytes((sr, sg, sb, sa))
                    elif sa:
                        da = canvas[d + 3]
                        oa = sa + da * (255 - sa) // 255
                        if oa:
                            canvas[d] = (sr * sa + canvas[d] * da
                                         * (255 - sa) // 255) // oa
                            canvas[d + 1] = (sg * sa + canvas[d + 1] * da
                                             * (255 - sa) // 255) // oa
                            canvas[d + 2] = (sb * sa + canvas[d + 2] * da
                                             * (255 - sa) // 255) // oa
                        canvas[d + 3] = oa
            # emit the composite as RGB over the background color
            frame = bytearray(canvas_w * canvas_h * 3)
            for p in range(canvas_w * canvas_h):
                a = canvas[p * 4 + 3]
                for ci in range(3):
                    v = canvas[p * 4 + ci]
                    frame[p * 3 + ci] = v if a == 255 else (
                        v * a + bg[ci] * (255 - a)) // 255
            frames_out.append(bytes(frame))
            if dispose_bg:
                for r in range(fh):
                    dst = ((fy + r) * canvas_w + fx) * 4
                    canvas[dst:dst + fw * 4] = bytes(bg) * fw
        at = payload_at + size + (size & 1)
    if not frames_out:
        raise WebpError("no ANMF frames in WebP container")
    return canvas_w, canvas_h, frames_out


def webp_encode_anim(width: int, height: int, stills: list[bytes],
                     duration_ms: int = 40) -> bytes:
    """Assemble an animated WebP from full-canvas VP8L stills
    (``webp_encode`` output), one frame each.  Frames overwrite the
    canvas (blend bit set), disposal none — the compositing identity the
    synth corpus and its SQL oracle lean on."""
    if not stills:
        raise WebpError("animated WebP needs at least one frame")
    body = bytearray()
    vp8x = bytes((0x02, 0, 0, 0)) \
        + (width - 1).to_bytes(3, "little") \
        + (height - 1).to_bytes(3, "little")
    body += b"VP8X" + len(vp8x).to_bytes(4, "little") + vp8x
    anim = bytes((255, 255, 255, 255)) + (0).to_bytes(2, "little")
    body += b"ANIM" + len(anim).to_bytes(4, "little") + anim
    for still in stills:
        payload = _webp_payload(still)
        sub = b"VP8L" + len(payload).to_bytes(4, "little") + payload
        if len(payload) & 1:
            sub += b"\x00"
        anmf = ((0).to_bytes(3, "little")          # x/2
                + (0).to_bytes(3, "little")        # y/2
                + (width - 1).to_bytes(3, "little")
                + (height - 1).to_bytes(3, "little")
                + duration_ms.to_bytes(3, "little")
                + bytes((0x02,))                   # no-blend, keep
                + sub)
        body += b"ANMF" + len(anmf).to_bytes(4, "little") + anmf
        if len(anmf) & 1:
            body += b"\x00"
    return (b"RIFF" + (4 + len(body)).to_bytes(4, "little")
            + b"WEBP" + bytes(body))
