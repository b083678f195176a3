"""Pure-stdlib BMP decoder — the second real image codec behind
ops/multimodal (after ops/pngcodec).

Windows BMP (BITMAPINFOHEADER or the V4/V5 extensions): 24-bit BGR and
32-bit BGRX/BGRA uncompressed (numpy row slicing), plus palettized
1/4/8-bit rasters and the BI_RLE8 / BI_RLE4 run-length encodings
(run / absolute / end-of-line / delta escapes, bottom-up as the format
requires). That covers what office
documents actually embed (reference parity: docx.go:196-198 /
pptx.go:342-343 carry embedded images through as data URIs regardless of
format; BMP is the other format that appears there uncompressed).

``looks_like_bmp`` is deliberately strict — header size, plane count,
bit depth, compression and dimensions must all be plausible — because
the codec table in :mod:`marky_spark.ops.multimodal` sniffs arbitrary
binary payloads (including document text bytes that may happen to start
with "BM") and must never claim a non-BMP blob, which stays an
``unsupported`` row.
"""

from __future__ import annotations

import struct

from .pngcodec import MAX_PIXELS

_HEADER_SIZES = frozenset({40, 52, 56, 108, 124})  # BITMAPINFO/V2/V3/V4/V5


class BmpError(ValueError):
    """Malformed or unsupported BMP payload."""


def _parse_header(data: bytes) -> tuple[int, int, bool, int, int, int, int]:
    """→ (width, height, top_down, bits_per_pixel, compression,
    pixel_offset, header_size)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise BmpError("not a BMP (bad signature)")
    px_offset = struct.unpack_from("<I", data, 10)[0]
    hdr_size = struct.unpack_from("<I", data, 14)[0]
    if hdr_size not in _HEADER_SIZES:
        raise BmpError(f"unsupported DIB header size {hdr_size}")
    w, h, planes, bpp, comp = struct.unpack_from("<iiHHI", data, 18)
    if planes != 1:
        raise BmpError(f"plane count {planes}, want 1")
    # BI_RGB at 1/4/8/24/32 bpp, BI_RLE8 (1) at 8 bpp, BI_RLE4 (2) at
    # 4 bpp — bitfields and embedded PNG/JPEG stay typed errors
    if comp == 0:
        if bpp not in (1, 4, 8, 24, 32):
            raise BmpError(f"unsupported bit depth {bpp}")
    elif comp == 1:
        if bpp != 8:
            raise BmpError(f"BI_RLE8 with bit depth {bpp}")
    elif comp == 2:
        if bpp != 4:
            raise BmpError(f"BI_RLE4 with bit depth {bpp}")
    else:
        raise BmpError(f"unsupported compression {comp}")
    top_down = h < 0
    height = -h if top_down else h
    if comp and top_down:
        raise BmpError("RLE BMPs are bottom-up only")
    if w <= 0 or height <= 0:
        raise BmpError(f"bad dimensions {w}x{h}")
    if w * height > MAX_PIXELS:
        raise BmpError(
            f"image {w}x{height} exceeds the {MAX_PIXELS}-pixel cap")
    return w, height, top_down, bpp, comp, px_offset, hdr_size


def looks_like_bmp(data: bytes) -> bool:
    """Strict structural sniff (see module docstring)."""
    try:
        _parse_header(data)
        return True
    except BmpError:
        return False


def _palette(data: bytes, hdr_size: int, bpp: int,
             px_offset: int) -> list[tuple[int, int, int]]:
    """BGRX color table after the DIB header → [(r, g, b), ...]."""
    n_used = struct.unpack_from("<I", data, 46)[0] if len(data) >= 50 else 0
    n = n_used or (1 << bpp)
    if n > (1 << bpp):
        raise BmpError(f"palette of {n} entries at {bpp} bpp")
    at = 14 + hdr_size
    if at + 4 * n > min(len(data), px_offset):
        raise BmpError("color table overruns the pixel data")
    return [(data[at + 4 * i + 2], data[at + 4 * i + 1], data[at + 4 * i])
            for i in range(n)]


def _decode_rle(data: bytes, at: int, w: int, h: int,
                four_bit: bool) -> bytearray:
    """BI_RLE8 / BI_RLE4 → palette-index raster (top-down rows).  The
    stream addresses a bottom-up grid; escapes: 0,0 end-of-line, 0,1
    end-of-bitmap, 0,2 delta, 0,n absolute run (word-aligned)."""
    idx = bytearray(w * h)          # unwritten pixels default to index 0
    x, y = 0, h - 1                 # bottom-up cursor

    def put(v: int) -> None:
        nonlocal x
        if x < w and 0 <= y < h:
            idx[y * w + x] = v
        x += 1

    while at + 2 <= len(data):
        count, val = data[at], data[at + 1]
        at += 2
        if count:
            if four_bit:
                for k in range(count):
                    put((val >> 4) if k % 2 == 0 else (val & 0x0F))
            else:
                for _ in range(count):
                    put(val)
        elif val == 0:              # end of line
            x, y = 0, y - 1
        elif val == 1:              # end of bitmap
            return idx
        elif val == 2:              # delta
            if at + 2 > len(data):
                raise BmpError("RLE delta overruns the stream")
            x += data[at]
            y -= data[at + 1]
            at += 2
        else:                       # absolute run of `val` pixels
            if four_bit:
                nbytes = (val + 1) // 2
                if at + nbytes > len(data):
                    raise BmpError("RLE absolute run overruns the stream")
                for k in range(val):
                    b = data[at + k // 2]
                    put((b >> 4) if k % 2 == 0 else (b & 0x0F))
                at += (nbytes + 1) & ~1      # word-aligned
            else:
                if at + val > len(data):
                    raise BmpError("RLE absolute run overruns the stream")
                for k in range(val):
                    put(data[at + k])
                at += (val + 1) & ~1
    raise BmpError("RLE stream ended without an end-of-bitmap escape")


def bmp_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """BMP bytes → (width, height, channels, raw interleaved 8-bit RGB(A)
    samples, rows top-down) — the same contract as ``png_decode``."""
    import numpy as np

    width, height, top_down, bpp, comp, px_offset, hdr_size = \
        _parse_header(data)
    if bpp in (1, 4, 8):
        pal = _palette(data, hdr_size, bpp, px_offset)
        if comp:
            if px_offset < 54 or px_offset > len(data):
                raise BmpError("bad RLE pixel offset")
            idx = _decode_rle(data, px_offset, width, height, comp == 2)
        else:
            row_bits = width * bpp
            row_size = ((row_bits + 31) // 32) * 4
            need = px_offset + row_size * height
            if px_offset < 54 or len(data) < need:
                raise BmpError(
                    f"truncated pixel data: {len(data)} bytes, want {need}")
            idx = bytearray(width * height)
            for r in range(height):
                src_row = px_offset + r * row_size
                dst_row = (r if top_down else height - 1 - r) * width
                for c in range(width):
                    if bpp == 8:
                        v = data[src_row + c]
                    elif bpp == 4:
                        b = data[src_row + c // 2]
                        v = (b >> 4) if c % 2 == 0 else (b & 0x0F)
                    else:
                        v = (data[src_row + c // 8] >> (7 - c % 8)) & 1
                    idx[dst_row + c] = v
        n_pal = len(pal)
        out = bytearray(width * height * 3)
        for p, v in enumerate(idx):
            if v >= n_pal:
                raise BmpError(f"palette index {v} outside the color table")
            out[p * 3:p * 3 + 3] = bytes(pal[v])
        return width, height, 3, bytes(out)

    ch = bpp // 8
    row_size = (width * ch + 3) & ~3  # rows pad to 4-byte boundaries
    need = px_offset + row_size * height
    if px_offset < 54 or len(data) < need:
        raise BmpError(
            f"truncated pixel data: {len(data)} bytes, want {need}")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=row_size * height, offset=px_offset
    ).reshape(height, row_size)[:, :width * ch].reshape(height, width, ch)
    if not top_down:
        rows = rows[::-1]
    # stored byte order is BGR / BGRA → emit RGB / RGBA
    rows = rows[:, :, ::-1] if ch == 3 else rows[:, :, [2, 1, 0, 3]]
    return width, height, ch, np.ascontiguousarray(rows).tobytes()


def bmp_encode(pixels: bytes, width: int, height: int,
               channels: int = 3) -> bytes:
    """Raw interleaved RGB(A) samples (rows top-down) → bottom-up BI_RGB
    BMP — the test-fixture inverse of :func:`bmp_decode`."""
    import numpy as np

    if channels not in (3, 4):
        raise BmpError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise BmpError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"want {width * height * channels}")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, channels)
    arr = arr[:, :, ::-1] if channels == 3 else arr[:, :, [2, 1, 0, 3]]
    row_size = (width * channels + 3) & ~3
    padded = np.zeros((height, row_size), dtype=np.uint8)
    padded[:, :width * channels] = arr.reshape(height, width * channels)
    body = padded[::-1].tobytes()  # bottom-up
    return (
        b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, channels * 8,
                      0, len(body), 2835, 2835, 0, 0)
        + body
    )


def bmp_encode_indexed(indices: bytes, width: int, height: int,
                       palette: list[tuple[int, int, int]],
                       bpp: int = 8, rle: bool = False) -> bytes:
    """Palette-index raster (rows top-down) → palettized BMP, optionally
    BI_RLE8 / BI_RLE4 — the test-fixture inverse of the new decode
    paths.  The RLE writer emits plain runs with end-of-line /
    end-of-bitmap escapes (absolute/delta escapes are exercised by
    hand-built vectors in the tests)."""
    if bpp not in (1, 4, 8):
        raise BmpError(f"indexed encode supports 1/4/8 bpp, not {bpp}")
    if rle and bpp == 1:
        raise BmpError("no RLE at 1 bpp")
    if len(indices) != width * height:
        raise BmpError("index buffer size mismatch")
    if len(palette) > (1 << bpp):
        raise BmpError("palette too large for the bit depth")
    if any(v >= len(palette) for v in indices):
        raise BmpError("index outside the palette")
    table = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    body = bytearray()
    if not rle:
        row_size = ((width * bpp + 31) // 32) * 4
        for r in range(height - 1, -1, -1):   # bottom-up
            row = bytearray(row_size)
            for c in range(width):
                v = indices[r * width + c]
                if bpp == 8:
                    row[c] = v
                elif bpp == 4:
                    row[c // 2] |= v << (4 if c % 2 == 0 else 0)
                else:
                    row[c // 8] |= v << (7 - c % 8)
            body += row
        comp = 0
    else:
        comp = 1 if bpp == 8 else 2
        for r in range(height - 1, -1, -1):
            c = 0
            while c < width:
                if bpp == 8:
                    v = indices[r * width + c]
                    run = 1
                    while (c + run < width and run < 255
                           and indices[r * width + c + run] == v):
                        run += 1
                    body += bytes((run, v))
                else:
                    v0 = indices[r * width + c]
                    v1 = indices[r * width + c + 1] if c + 1 < width else v0
                    run = 0
                    while (c + run < width and run < 254
                           and indices[r * width + c + run]
                           == (v0 if run % 2 == 0 else v1)):
                        run += 1
                    body += bytes((run, (v0 << 4) | v1))
                c += run
            body += b"\x00\x00" if r else b"\x00\x01"
        if height == 0:
            body += b"\x00\x01"
    px_offset = 54 + len(table)
    return (
        b"BM" + struct.pack("<IHHI", px_offset + len(body), 0, 0, px_offset)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, bpp,
                      comp, len(body), 2835, 2835, len(palette), 0)
        + table + bytes(body)
    )
