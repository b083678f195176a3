"""Pure-stdlib PNG codec (RFC 2083 / W3C PNG spec) — the real image codec
behind ops/multimodal.

The sandbox has no PIL/ffmpeg, but PNG needs only ``zlib`` + ``struct``:
chunk framing with CRC-32, IHDR/PLTE/IDAT/IEND, DEFLATE-compressed
scanlines, and the five per-row filters (None/Sub/Up/Average/Paeth).
This module implements both directions:

- :func:`png_decode` — signature + chunk walk (CRC-verified), concatenated
  IDAT inflate, filter reconstruction, Adam7 deinterlacing, palette
  expansion. Supports bit depths 8 and 16 (16-bit reduces to high bytes,
  the exact ``>> 8``), color types 0 (gray), 2 (RGB), 3 (palette),
  4 (gray+alpha), 6 (RGBA), interlace methods 0 and 1 — scanned-document
  corpora carry both (reference parity: docx.go:196-198 / pptx.go:342-343
  embed exactly such image payloads as data URIs).
- :func:`png_encode` — the inverse, used by fixtures and the resize path;
  per-row filter types cycle 0..4 so a decoder must implement every filter
  to round-trip (a filter bug cannot hide behind an all-None encoder);
  ``depth=16`` / ``interlace=True`` write the matching inverse shapes.

Scale note: these run per-blob inside Arrow-batched ``mapInPandas``
stages (ops/multimodal) — zlib is C-speed; None/Up/Sub unfiltering is
numpy-vectorized across each scanline (Sub via wrap-around per-channel
cumsum) and the sequential Average/Paeth recurrences run as plain-int
bytearray loops. Hostile inputs are bounded: inflate is capped at the
size IHDR implies, total pixels at :data:`MAX_PIXELS`, and every malformed
shape raises :class:`PngError` so the multimodal operators can emit a
per-blob error row instead of failing the task.
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

# Decode-side sanity cap (2^28 px ≈ a 16k×16k image): document-embedded
# images are orders of magnitude smaller, and the cap bounds what a crafted
# IHDR can make the unfilter/palette stages allocate.
MAX_PIXELS = 1 << 28

# color type → samples per pixel
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
_COLOR_TYPE_FOR_CHANNELS = {1: 0, 2: 4, 3: 2, 4: 6}


class PngError(ValueError):
    """Malformed or unsupported PNG payload."""


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + tag + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_rows(arr, bpp: int) -> bytearray:
    """(rows, stride) uint8 array → filtered scanline bytes, filter types
    cycling ``row % 5`` (None, Sub, Up, Average, Paeth) so every decoder
    filter path is exercised by any image ≥ 5 rows. ``bpp`` is the
    per-pixel byte offset the left-neighbor filters use."""
    import numpy as np

    height, stride = arr.shape
    zero = np.zeros(stride, dtype=np.uint8)
    out = bytearray()
    prev = zero
    for y in range(height):
        row = arr[y]
        ft = y % 5
        if ft == 0:
            filt = row
        elif ft == 1:  # Sub: left neighbor (same-pixel offset = bpp)
            left = np.concatenate([zero[:bpp], row[:-bpp]])
            filt = (row.astype(np.int16) - left) % 256
        elif ft == 2:  # Up
            filt = (row.astype(np.int16) - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([zero[:bpp], row[:-bpp]])
            filt = (row.astype(np.int16)
                    - (left.astype(np.int16) + prev.astype(np.int16)) // 2) % 256
        else:  # Paeth — scalar loop only here; rows are short
            left = np.concatenate([zero[:bpp], row[:-bpp]])
            upleft = np.concatenate([zero[:bpp], prev[:-bpp]])
            filt = np.empty(stride, dtype=np.int16)
            for i in range(stride):
                filt[i] = (int(row[i])
                           - _paeth(int(left[i]), int(prev[i]),
                                    int(upleft[i]))) % 256
        out.append(ft)
        out.extend(filt.astype(np.uint8).tobytes())
        prev = row
    return out


def png_encode(pixels: bytes, width: int, height: int,
               channels: int = 3, depth: int = 8,
               interlace: bool = False) -> bytes:
    """Raw interleaved samples → PNG bytes (8-bit, or big-endian 16-bit
    with ``depth=16``; ``interlace=True`` writes Adam7 passes).

    The interlaced writer GATHERS pass sub-images with the same strided
    grid the decoder scatters onto — an independent inverse, so a
    deinterlace bug cannot round-trip.
    """
    if channels not in _COLOR_TYPE_FOR_CHANNELS:
        raise PngError(f"unsupported channel count {channels}")
    if depth not in (8, 16):
        raise PngError(f"unsupported encode depth {depth}")
    bps = depth // 8
    pixel_bytes = channels * bps
    stride = width * pixel_bytes
    if len(pixels) != stride * height:
        raise PngError(
            f"pixel buffer is {len(pixels)} bytes, want {stride * height}")
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(
        height, width, pixel_bytes)
    if interlace:
        out = bytearray()
        for x0, y0, dx, dy, w_p, h_p in _adam7_passes(width, height,
                                                      pixel_bytes):
            sub = np.ascontiguousarray(arr[y0::dy, x0::dx])
            out += _filter_rows(sub.reshape(h_p, w_p * pixel_bytes),
                                pixel_bytes)
    else:
        out = _filter_rows(arr.reshape(height, stride), pixel_bytes)
    ihdr = struct.pack(">IIBBBBB", width, height, depth,
                       _COLOR_TYPE_FOR_CHANNELS[channels], 0, 0,
                       1 if interlace else 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: bytes, width: int, height: int, bpp: int,
              stride: int) -> bytes:
    """Reverse the per-row filters. None/Up are numpy-vectorized; Sub is
    vectorized per channel via wrap-around ``cumsum`` (uint8 cumsum IS the
    mod-256 left-recurrence); Average/Paeth carry a genuinely sequential
    left-to-right dependency and run as plain-int bytearray loops (no
    per-element numpy scalar boxing)."""
    import numpy as np

    if len(raw) != (stride + 1) * height:
        raise PngError(
            f"decompressed stream is {len(raw)} bytes, want "
            f"{(stride + 1) * height}")
    out = bytearray(height * stride)
    prev = bytes(stride)  # reconstructed previous row
    pos = 0
    for y in range(height):
        ft = raw[pos]
        if ft == 0:
            rec = raw[pos + 1:pos + 1 + stride]
        elif ft == 1:  # Sub: per-channel mod-256 prefix sum
            row = np.frombuffer(raw, dtype=np.uint8,
                                count=stride, offset=pos + 1)
            arr = np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8)
            rec = arr.tobytes()
        elif ft == 2:  # Up
            row = np.frombuffer(raw, dtype=np.uint8,
                                count=stride, offset=pos + 1)
            rec = (row + np.frombuffer(prev, dtype=np.uint8)).tobytes()
        elif ft == 3:  # Average
            rb = bytearray(raw[pos + 1:pos + 1 + stride])
            for i in range(stride):
                left = rb[i - bpp] if i >= bpp else 0
                rb[i] = (rb[i] + (left + prev[i]) // 2) & 0xFF
            rec = bytes(rb)
        elif ft == 4:  # Paeth (inlined predictor)
            rb = bytearray(raw[pos + 1:pos + 1 + stride])
            for i in range(stride):
                a = rb[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                rb[i] = (rb[i] + pred) & 0xFF
            rec = bytes(rb)
        else:
            raise PngError(f"unknown filter type {ft} on row {y}")
        pos += stride + 1
        out[y * stride:(y + 1) * stride] = rec
        prev = rec
    return bytes(out)


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _adam7_passes(width: int, height: int,
                  pixel_bytes: int) -> list[tuple[int, int, int, int, int, int]]:
    """Non-empty Adam7 passes as (x0, y0, dx, dy, pass_w, pass_h)."""
    out = []
    for x0, y0, dx, dy in _ADAM7:
        w_p = (width - x0 + dx - 1) // dx
        h_p = (height - y0 + dy - 1) // dy
        if w_p > 0 and h_p > 0:
            out.append((x0, y0, dx, dy, w_p, h_p))
    return out


def _deinterlace(raw: bytes, width: int, height: int,
                 pixel_bytes: int) -> bytes:
    """Adam7: each pass is an independently-filtered sub-image; unfilter
    each and scatter its pixels onto the (y0::dy, x0::dx) grid (vectorized
    numpy strided assignment — no per-pixel Python)."""
    import numpy as np

    out = np.zeros((height, width, pixel_bytes), dtype=np.uint8)
    pos = 0
    for x0, y0, dx, dy, w_p, h_p in _adam7_passes(width, height, pixel_bytes):
        stride_p = w_p * pixel_bytes
        need = (stride_p + 1) * h_p
        sub = _unfilter(raw[pos:pos + need], w_p, h_p, pixel_bytes, stride_p)
        pos += need
        arr = np.frombuffer(sub, dtype=np.uint8).reshape(h_p, w_p, pixel_bytes)
        out[y0::dy, x0::dx] = arr
    if pos != len(raw):
        raise PngError("interlaced stream has trailing bytes")
    return out.tobytes()


def png_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """PNG bytes → (width, height, channels, raw interleaved 8-bit samples).

    Palette images (color type 3) are expanded to RGB, so ``channels``
    reports the *decoded* sample layout. 16-bit images decode to their
    high bytes (``sample >> 8`` — the standard 16→8 reduction, exact and
    SQL-reconstructible); Adam7 interlaced streams deinterlace. CRCs are
    verified; truncated or corrupt streams raise :class:`PngError` (the
    multimodal operators turn that into a per-blob error row —
    poison-pill isolation, never a task failure).
    """
    if not data.startswith(PNG_SIGNATURE):
        raise PngError("not a PNG (bad signature)")
    pos = len(PNG_SIGNATURE)
    ihdr = None
    palette = b""
    idat = bytearray()
    orientation = 1
    while pos + 8 <= len(data):
        (length,), tag = struct.unpack(">I", data[pos:pos + 4]), \
            data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise PngError(f"truncated {tag!r} chunk")
        (crc,) = struct.unpack(
            ">I", data[pos + 8 + length:pos + 12 + length])
        if crc != (zlib.crc32(tag + body) & 0xFFFFFFFF):
            raise PngError(f"bad CRC on {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            # length check BEFORE unpack: a CRC-valid IHDR with a short
            # body must raise PngError (the poison-pill contract), not
            # struct.error
            if length != 13:
                raise PngError(f"IHDR length {length}, want 13")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            palette = body
        elif tag == b"IDAT":
            idat.extend(body)
        elif tag == b"eXIf":
            # PNG 1.5 EXIF chunk: a bare TIFF IFD (no Exif\0\0 prefix);
            # only Orientation matters to pixel consumers, and malformed
            # EXIF is ignored exactly like the JPEG APP1 path
            from .jpegcodec import _exif_orientation

            orientation = _exif_orientation(body) or orientation
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise PngError("missing IHDR")
    width, height, depth, color_type, comp, filt, interlace = ihdr
    if width <= 0 or height <= 0:
        raise PngError(f"bad dimensions {width}x{height}")
    if comp != 0 or filt != 0:
        raise PngError("unknown compression/filter method")
    if interlace not in (0, 1):
        raise PngError(f"unknown interlace method {interlace}")
    if depth not in (8, 16):
        raise PngError(f"bit depth {depth} not supported (8/16 only)")
    if color_type not in _CHANNELS:
        raise PngError(f"unknown color type {color_type}")
    if depth == 16 and color_type == 3:
        raise PngError("16-bit palette is not a valid PNG shape")
    channels = _CHANNELS[color_type]
    bps = depth // 8
    pixel_bytes = channels * bps
    stride = width * pixel_bytes
    if width * height > MAX_PIXELS:
        raise PngError(
            f"image {width}x{height} exceeds the {MAX_PIXELS}-pixel cap")
    # Bounded inflate: cap at the exact size IHDR implies, so a crafted
    # few-KB decompression bomb cannot allocate beyond the declared (and
    # capped) image size — it raises an error row instead of OOMing the
    # executor.
    if interlace:
        expected = sum((w_p * pixel_bytes + 1) * h_p for _, _, _, _, w_p, h_p
                       in _adam7_passes(width, height, pixel_bytes))
    else:
        expected = (stride + 1) * height
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(bytes(idat), expected)
        if dec.unconsumed_tail and dec.decompress(dec.unconsumed_tail, 1):
            raise PngError(
                f"IDAT inflates past the {expected} bytes IHDR implies")
    except zlib.error as exc:
        raise PngError(f"IDAT inflate failed: {exc}") from exc
    if interlace:
        pixels = _deinterlace(raw, width, height, pixel_bytes)
    else:
        pixels = _unfilter(raw, width, height, pixel_bytes, stride)
    if depth == 16:
        # big-endian high bytes == sample >> 8, the exact 16→8 reduction
        pixels = pixels[0::2]
    if color_type == 3:
        if not palette:
            raise PngError("palette image without PLTE")
        import numpy as np

        pal = np.frombuffer(palette, dtype=np.uint8)
        if len(pal) % 3:
            raise PngError("PLTE length not a multiple of 3")
        pal = pal.reshape(-1, 3)
        idx = np.frombuffer(pixels, dtype=np.uint8)
        if idx.max(initial=0) >= len(pal):
            raise PngError("palette index out of range")
        return _oriented(width, height, 3, pal[idx].tobytes(), orientation)
    return _oriented(width, height, channels, bytes(pixels), orientation)


def _oriented(w: int, h: int, ch: int, px: bytes, orientation: int):
    """Apply an eXIf Orientation so callers get display-order rasters
    (shared transform table with the JPEG/TIFF paths)."""
    if orientation == 1:
        return w, h, ch, px
    from .jpegcodec import _exif_apply

    return _exif_apply((w, h, ch, px), orientation)


# ------------------------------------------------------------- APNG
def looks_like_apng(data: bytes) -> bool:
    """True when a PNG carries an acTL chunk before its first IDAT."""
    if not data.startswith(PNG_SIGNATURE):
        return False
    at = 8
    while at + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, at)
        tag = data[at + 4:at + 8]
        if tag == b"acTL":
            return True
        if tag in (b"IDAT", b"IEND"):
            return False
        at += 12 + ln
    return False


MAX_APNG_FRAMES = 64    # hostile-input bound (the gif/webp cap)
MAX_ANIM_OUT_BYTES = 256 << 20  # total composited-output bound
MAX_ANIM_PIXELS = 1 << 20       # animated canvases cap far below the
                                # still cap: per-pixel Python
                                # compositing makes this the time bound


def png_decode_frames(data: bytes) -> tuple[int, int, list[bytes]]:
    """APNG (acTL / fcTL / fdAT) → ``(canvas_w, canvas_h,
    [rgb_frame_bytes])`` — the composited canvas after each animation
    frame, mirroring gif_decode_frames / webp_decode_frames.

    Each frame region is decoded by REBUILDING a standalone PNG from
    the parent IHDR (frame dims swapped in) plus the parent PLTE/tRNS
    and the fdAT/IDAT byte stream, through the ordinary png_decode —
    so the inflate/unfilter/palette walk is the same audited path.
    dispose_op none/background/previous and blend_op source/over are
    honored; the canvas starts transparent and emitted frames composite
    over white."""
    if not data.startswith(PNG_SIGNATURE):
        raise PngError("not a PNG")
    at = 8
    ihdr = None
    aux = b""          # PLTE / tRNS chunks passed through to sub-PNGs
    actl = None
    entries = []       # [fcTL_body, bytearray(idat_stream)]
    seqs = []
    saw_idat = False
    pending_fctl = None
    while at + 8 <= len(data):
        (ln,) = struct.unpack_from(">I", data, at)
        tag = data[at + 4:at + 8]
        if at + 12 + ln > len(data):
            raise PngError(f"chunk {tag!r} overruns the file")
        body = data[at + 8:at + 8 + ln]
        if tag == b"IHDR":
            ihdr = body
        elif tag in (b"PLTE", b"tRNS"):
            aux += _chunk(tag, body)
        elif tag == b"acTL":
            if len(body) < 8:
                raise PngError("short acTL chunk")
            actl = struct.unpack(">II", body[:8])
        elif tag == b"fcTL":
            if len(body) < 26:
                raise PngError("short fcTL chunk")
            seqs.append(struct.unpack_from(">I", body, 0)[0])
            pending_fctl = body
            entries.append([body, bytearray()])
        elif tag == b"IDAT":
            saw_idat = True
            if pending_fctl is not None and len(entries) == 1:
                entries[0][1] += body
        elif tag == b"fdAT":
            if len(body) < 4:
                raise PngError("short fdAT chunk")
            seqs.append(struct.unpack_from(">I", body, 0)[0])
            if not entries:
                raise PngError("fdAT before any fcTL")
            entries[-1][1] += body[4:]
        elif tag == b"IEND":
            break
        at += 12 + ln
    if ihdr is None or actl is None:
        raise PngError("not an animated PNG (no IHDR/acTL)")
    if not saw_idat:
        raise PngError("APNG without a default image")
    if seqs != list(range(len(seqs))):
        raise PngError("APNG sequence numbers not consecutive")
    if ihdr[12]:
        raise NotImplementedError("interlaced APNG frames")
    if actl[0] != len(entries):
        raise PngError(
            f"acTL declares {actl[0]} frames, found {len(entries)}")
    if len(entries) > MAX_APNG_FRAMES:
        entries = entries[:MAX_APNG_FRAMES]   # bounded compositing work
    w, h = struct.unpack_from(">II", ihdr, 0)
    if w * h > MAX_ANIM_PIXELS:
        raise PngError("APNG canvas exceeds pixel cap")
    if len(entries) * w * h * 3 > MAX_ANIM_OUT_BYTES:
        entries = entries[:max(
            1, MAX_ANIM_OUT_BYTES // (w * h * 3))]  # total-output bound

    canvas = bytearray(w * h * 4)          # transparent RGBA
    frames_out = []
    for fctl, stream in entries:
        (_, fw, fh, fx, fy, _dnum, _dden) = struct.unpack_from(
            ">IIIIIHH", fctl, 0)
        dispose = fctl[24]
        blend = fctl[25]
        if fx + fw > w or fy + fh > h or fw == 0 or fh == 0:
            raise PngError("APNG frame region outside the canvas")
        if not stream:
            raise PngError("APNG frame without image data")
        sub = (PNG_SIGNATURE
               + _chunk(b"IHDR", struct.pack(">II", fw, fh) + ihdr[8:])
               + aux
               + _chunk(b"IDAT", bytes(stream))
               + _chunk(b"IEND", b""))
        pw, ph, ch, px = png_decode(sub)
        if (pw, ph) != (fw, fh):
            raise PngError("APNG frame dims disagree with payload")
        before = bytes(canvas) if dispose == 2 else None
        for r in range(fh):
            dst = ((fy + r) * w + fx) * 4
            src = r * fw * ch
            for c in range(fw):
                d = dst + c * 4
                s = src + c * ch
                if ch == 1:
                    sr = sg = sb = px[s]
                    sa = 255
                elif ch == 2:
                    sr = sg = sb = px[s]
                    sa = px[s + 1]
                elif ch == 3:
                    sr, sg, sb, sa = px[s], px[s + 1], px[s + 2], 255
                else:
                    sr, sg, sb, sa = (px[s], px[s + 1], px[s + 2],
                                      px[s + 3])
                if blend == 0 or sa == 255:
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
        # emit RGB over white
        frame = bytearray(w * h * 3)
        for p in range(w * h):
            a = canvas[p * 4 + 3]
            for ci in range(3):
                v = canvas[p * 4 + ci]
                frame[p * 3 + ci] = v if a == 255 else (
                    v * a + 255 * (255 - a)) // 255
        frames_out.append(bytes(frame))
        if dispose == 1:                    # background: clear region
            for r in range(fh):
                dst = ((fy + r) * w + fx) * 4
                canvas[dst:dst + fw * 4] = bytes(fw * 4)
        elif dispose == 2 and before is not None:
            canvas[:] = before
    return w, h, frames_out


def png_encode_animated(width: int, height: int,
                        frames: list[bytes], channels: int = 3,
                        delay_num: int = 4,
                        delay_den: int = 100) -> bytes:
    """Full-canvas RGB(A) frames → an APNG (blend source, dispose none
    — composite k == frame k, the identity the synth corpus and its
    SQL oracle lean on).  Frame 1 rides the default IDAT; later frames
    become fdAT chunks carrying the same zlib stream png_encode
    produces."""
    if not frames:
        raise PngError("animated PNG needs at least one frame")
    idats = []
    for f in frames:
        still = png_encode(f, width, height, channels)
        # our encoder writes exactly one IDAT: signature(8) + IHDR(25)
        at = 8
        payload = None
        while at + 8 <= len(still):
            (ln,) = struct.unpack_from(">I", still, at)
            tag = still[at + 4:at + 8]
            if tag == b"IDAT":
                payload = still[at + 8:at + 8 + ln]
                break
            at += 12 + ln
        idats.append(payload)
    out = bytearray(PNG_SIGNATURE)
    ihdr = struct.pack(">IIBBBBB", width, height, 8,
                       _COLOR_TYPE_FOR_CHANNELS[channels], 0, 0, 0)
    out += _chunk(b"IHDR", ihdr)
    out += _chunk(b"acTL", struct.pack(">II", len(frames), 0))
    seq = 0
    for k, payload in enumerate(idats):
        fctl = struct.pack(">IIIIIHHBB", seq, width, height, 0, 0,
                           delay_num, delay_den, 0, 0)
        out += _chunk(b"fcTL", fctl)
        seq += 1
        if k == 0:
            out += _chunk(b"IDAT", payload)
        else:
            out += _chunk(b"fdAT",
                          struct.pack(">I", seq) + payload)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)
