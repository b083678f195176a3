"""Pure-stdlib GIF decoder/encoder — the third real image codec behind
ops/multimodal (after ops/pngcodec and ops/bmpcodec).

GIF87a/GIF89a with real LZW: variable-width codes (up to 12 bits), clear /
end-of-information codes, global and local color tables, interlaced row
order. The decoder returns the FIRST image frame (animated GIFs: frame 1,
the parallel of pptx.go:424-444's first-media-member semantics) as raw
interleaved 8-bit RGB samples, rows top-down — the same contract as
``png_decode`` / ``bmp_decode``, so every downstream operator
(decode_pixels, resize_media, media_features, pixel_features) composes
unchanged.

Hostile-input hardening mirrors ops/pngcodec: a pixel-count cap before any
allocation, LZW output bounded at exactly width×height indices (a
decompression bomb cannot outgrow the declared frame), and every malformed
structure raises :class:`GifError` so the operators isolate the blob into a
per-row error instead of failing the task.

``looks_like_gif`` is strict (signature + version + plausible descriptor)
because the codec table in :mod:`marky_spark.ops.multimodal` sniffs
arbitrary binary payloads and must never claim a non-GIF blob, which
stays an ``unsupported`` row.
"""

from __future__ import annotations

import struct

from .bitio import lzw_decode, lzw_encode
from .pngcodec import MAX_PIXELS

GIF_SIGNATURES = (b"GIF87a", b"GIF89a")


class GifError(ValueError):
    """Malformed or unsupported GIF payload."""


def looks_like_gif(data: bytes) -> bool:
    """Strict structural sniff (see module docstring)."""
    if len(data) < 13 or data[:6] not in GIF_SIGNATURES:
        return False
    w, h = struct.unpack_from("<HH", data, 6)
    return 0 < w and 0 < h and w * h <= MAX_PIXELS


def _color_table(data: bytes, pos: int, packed: int) -> tuple[bytes, int]:
    """Read a color table if the packed byte's table flag is set."""
    if not packed & 0x80:
        return b"", pos
    n = 2 << (packed & 0x07)  # 2^(size+1) entries
    end = pos + 3 * n
    if end > len(data):
        raise GifError("truncated color table")
    return data[pos:end], end


def _skip_subblocks(data: bytes, pos: int) -> int:
    while True:
        if pos >= len(data):
            raise GifError("truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        pos += n
        if pos > len(data):
            raise GifError("truncated sub-block")


def _iter_frames(data: bytes):
    """Walk the block stream yielding one tuple per image frame:
    ``(left, top, w, h, idx ndarray rows top-down, table bytes,
    disposal, transparent_index_or_None)`` — the shared scanner behind
    :func:`gif_decode` (first frame) and
    :func:`gif_decode_frames` (animation compositing)."""
    import numpy as np

    if len(data) < 13 or data[:6] not in GIF_SIGNATURES:
        raise GifError("not a GIF (bad signature)")
    gct, pos = _color_table(data, 13, data[10])
    disposal = 0
    transparent = None
    while True:
        if pos >= len(data):
            raise GifError("no trailer before end of data")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label byte + sub-blocks
            if pos >= len(data):
                raise GifError("truncated extension")
            label = data[pos]
            if label == 0xF9 and pos + 6 <= len(data) and data[pos + 1] >= 4:
                packed = data[pos + 2]
                disposal = (packed >> 2) & 0x07
                transparent = data[pos + 5] if packed & 0x01 else None
            pos = _skip_subblocks(data, pos + 1)
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02x}")
        # image descriptor
        if pos + 9 > len(data):
            raise GifError("truncated image descriptor")
        left, top, w, h = struct.unpack_from("<HHHH", data, pos)
        packed = data[pos + 8]
        pos += 9
        if w <= 0 or h <= 0:
            raise GifError(f"bad frame dimensions {w}x{h}")
        if w * h > MAX_PIXELS:
            raise GifError(
                f"frame {w}x{h} exceeds the {MAX_PIXELS}-pixel cap")
        lct, pos = _color_table(data, pos, packed)
        table = lct or gct
        if not table:
            raise GifError("no color table for frame")
        if pos >= len(data):
            raise GifError("missing LZW minimum code size")
        min_code = data[pos]
        pos += 1
        # gather the compressed sub-blocks
        chunks = []
        while True:
            if pos >= len(data):
                raise GifError("truncated image data")
            n = data[pos]
            pos += 1
            if n == 0:
                break
            if pos + n > len(data):
                raise GifError("truncated image sub-block")
            chunks.append(data[pos:pos + n])
            pos += n
        # literals are byte-valued palette indices, so the minimum code
        # size can never exceed 8 — a larger value would put codes > 255
        # in the literal range (fuzz-found: bytes([i]) blew up untyped at
        # 9-11)
        if not 2 <= min_code <= 8:
            raise GifError(f"bad LZW minimum code size {min_code}")
        indices, _ = lzw_decode(b"".join(chunks), min_code, False, 0, w * h,
                             GifError)
        if len(indices) < w * h:
            raise GifError(
                f"LZW stream yields {len(indices)} indices, want {w * h}")
        idx = np.frombuffer(bytes(indices[:w * h]), dtype=np.uint8)
        n_colors = len(table) // 3
        if int(idx.max(initial=0)) >= n_colors:
            raise GifError("palette index out of range")
        if packed & 0x40:  # interlaced: rows arrive in 4 passes
            idx = idx.reshape(h, w)
            out = np.empty_like(idx)
            src = 0
            for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
                n_rows = len(range(start, h, step))
                out[start::step] = idx[src:src + n_rows]
                src += n_rows
            idx = out.reshape(-1)
        yield (left, top, w, h, idx, bytes(table[:n_colors * 3]),
               disposal, transparent)
        disposal = 0
        transparent = None


def gif_decode_frames(data: bytes,
                      max_frames: int = 64) -> tuple[int, int, list[bytes]]:
    """Animated GIF → (screen_w, screen_h, list of composited RGB frames,
    rows top-down, one ``bytes`` of screen_w*screen_h*3 per frame).

    Real animation semantics: frames draw at their (left, top) offset onto
    the logical screen, transparent indices leave the underlying canvas
    visible, and the graphic-control disposal methods are honored
    (0/1 leave, 2 restore-to-background, 3 restore-to-previous). The
    canvas starts as the background color (GCT[bg] when a GCT exists,
    else black). ``max_frames`` bounds decode work on hostile inputs
    (a million-frame bomb stops at the cap, caller sees the prefix)."""
    import numpy as np

    sw, sh = struct.unpack_from("<HH", data, 6)
    if sw <= 0 or sh <= 0 or sw * sh > MAX_PIXELS:
        raise GifError(f"bad screen dimensions {sw}x{sh}")
    gct, _ = _color_table(data, 13, data[10])
    if gct:
        bg_i = data[11]
        n_colors = len(gct) // 3
        bg = gct[3 * bg_i:3 * bg_i + 3] if bg_i < n_colors else b"\x00\x00\x00"
    else:
        bg = b"\x00\x00\x00"
    canvas = np.tile(np.frombuffer(bg, dtype=np.uint8), sw * sh).reshape(
        sh, sw, 3)
    frames: list[bytes] = []
    for left, top, w, h, idx, table, disposal, transparent in \
            _iter_frames(data):
        if len(frames) >= max_frames or (
                frames and len(frames) * len(frames[0]) >= (256 << 20)):
            break    # frame-count AND total-output bounds
        pal = np.frombuffer(table, dtype=np.uint8).reshape(
            len(table) // 3, 3)
        grid = idx.reshape(h, w)
        # clip the frame rect to the logical screen
        cw = min(w, max(sw - left, 0))
        ch = min(h, max(sh - top, 0))
        before = canvas.copy() if disposal == 3 else None
        if cw > 0 and ch > 0:
            region = canvas[top:top + ch, left:left + cw]
            clipped = grid[:ch, :cw]
            rgb = pal[clipped]
            if transparent is not None:
                mask = clipped != transparent
                region[mask] = rgb[mask]
            else:
                region[:] = rgb
        frames.append(canvas.tobytes())
        if disposal == 2 and cw > 0 and ch > 0:  # restore background
            canvas[top:top + ch, left:left + cw] = np.frombuffer(
                bg, dtype=np.uint8)
        elif disposal == 3 and before is not None:  # restore previous
            canvas = before
    if not frames:
        raise GifError("no image descriptor in GIF")
    return sw, sh, frames


def gif_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """GIF bytes → (width, height, 3, raw interleaved 8-bit RGB samples of
    the first frame, rows top-down) — the same contract as ``png_decode``.
    Transparency is flattened (the transparent index renders its palette
    color)."""
    import numpy as np

    for _left, _top, w, h, idx, table, _disp, _tr in _iter_frames(data):
        pal = np.frombuffer(table, dtype=np.uint8).reshape(-1, 3)
        return w, h, 3, pal[idx].tobytes()
    raise GifError("no image descriptor in GIF")


def gif_encode_animated(screen_w: int, screen_h: int, palette: bytes,
                        frames: list[tuple[bytes, int, int, int, int]],
                        disposals: list[int] | None = None,
                        transparents: list[int | None] | None = None
                        ) -> bytes:
    """Multi-frame GIF89a: ``frames`` is a list of (palette indices rows
    top-down, left, top, w, h); per-frame ``disposals`` /
    ``transparents`` emit graphic control extensions. The test-fixture
    inverse of :func:`gif_decode_frames` (shared global color table)."""
    if not frames:
        raise GifError("no frames")
    if not (0 < screen_w <= 65535 and 0 < screen_h <= 65535):
        raise GifError(f"dimensions {screen_w}x{screen_h} exceed u16 fields")
    if not palette or len(palette) % 3 or len(palette) > 768:
        raise GifError(f"bad palette size {len(palette)}")
    n_colors = len(palette) // 3
    bits = max(1, (max(n_colors - 1, 1)).bit_length())
    table = palette + b"\x00" * (3 * (2 << (bits - 1)) - len(palette))
    min_code = max(2, bits)
    out = bytearray(
        b"GIF89a"
        + struct.pack("<HHBBB", screen_w, screen_h, 0x80 | (bits - 1), 0, 0)
        + table)
    for fi, (indices, left, top, w, h) in enumerate(frames):
        if not (0 < w <= 65535 and 0 < h <= 65535):
            raise GifError(f"dimensions {w}x{h} exceed u16 fields")
        if len(indices) != w * h:
            raise GifError(
                f"frame {fi}: index buffer is {len(indices)} bytes, "
                f"want {w * h}")
        if max(indices, default=0) >= n_colors:
            raise GifError("palette index out of range")
        disposal = (disposals or [0] * len(frames))[fi]
        transparent = (transparents or [None] * len(frames))[fi]
        packed = ((disposal & 0x07) << 2) | (1 if transparent is not None
                                             else 0)
        out += (b"\x21\xf9\x04" + bytes([packed]) + b"\x00\x00"
                + bytes([transparent or 0]) + b"\x00")
        out += b"\x2c" + struct.pack("<HHHHB", left, top, w, h, 0)
        compressed = lzw_encode(indices, min_code, False, 0)
        out.append(min_code)
        for i in range(0, len(compressed), 255):
            part = compressed[i:i + 255]
            out.append(len(part))
            out += part
        out.append(0)
    out += b"\x3b"
    return bytes(out)


def gif_encode(indices: bytes, width: int, height: int,
               palette: bytes) -> bytes:
    """Palette indices (rows top-down) + RGB palette (≤256×3 bytes, padded
    to a power of two) → single-frame GIF89a — the test-fixture inverse of
    :func:`gif_decode`."""
    if not (0 < width <= 65535 and 0 < height <= 65535):
        raise GifError(f"dimensions {width}x{height} exceed u16 fields")
    if len(indices) != width * height:
        raise GifError(
            f"index buffer is {len(indices)} bytes, want {width * height}")
    if not palette or len(palette) % 3 or len(palette) > 768:
        raise GifError(f"bad palette size {len(palette)}")
    n_colors = len(palette) // 3
    if max(indices, default=0) >= n_colors:
        raise GifError("palette index out of range")
    # GCT size must be a power of two ≥ 2
    bits = max(1, (max(n_colors - 1, 1)).bit_length())
    table = palette + b"\x00" * (3 * (2 << (bits - 1)) - len(palette))
    min_code = max(2, bits)
    compressed = lzw_encode(indices, min_code, False, 0)
    blocks = bytearray()
    for i in range(0, len(compressed), 255):
        part = compressed[i:i + 255]
        blocks.append(len(part))
        blocks += part
    blocks.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0x80 | (bits - 1), 0, 0)
        + table
        + b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
        + bytes([min_code]) + bytes(blocks)
        + b"\x3b"
    )
