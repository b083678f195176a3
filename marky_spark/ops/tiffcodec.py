"""Real baseline-TIFF codec — pure stdlib + numpy, no imaging library.

The reference never decodes media (it base64s embedded bytes verbatim,
docx.go:196-198), so TIFF support is part of this repo's training-data
pipeline surface: scanned-document corpora — the core extraction
workload — ship as TIFF more than any other container. Implemented from
the public TIFF 6.0 layout:

- decode: II/MM byte order, IFD entry walk (inline vs offset values),
  8-bit AND 16-bit grayscale / RGB / RGBA (16-bit reduces to high bytes,
  the exact ``>> 8`` — scanner output is commonly 16-bit gray), chunky
  AND separate (planar = 2, strips plane-major) configurations, strip
  organization (RowsPerStrip + StripOffsets/StripByteCounts),
  compressions 1 (none), 32773 (PackBits) and 5 (TIFF LZW: MSB-first
  codes, 9→12-bit widths with the spec's early code-width change,
  CLEAR/EOI), horizontal predictor (tag 317 = 2, per-sample within each
  plane), strict bounds before any allocation.
- encode (fixture inverse): little-endian writer for the same pixel
  shapes with the same three compressions + optional predictor,
  multi-strip, 16-bit, and planar layouts — lossless both ways, which is
  what lets the driver oracle pin the decoder on SQL-reconstructible
  pixel streams exactly like PNG (ops/pngcodec) and FLAC (ops/flaccodec).

Same poison-pill contract as every other codec: hostile input raises
:class:`TiffError`, recognized-but-unimplemented shapes raise
:class:`TiffUnsupportedError` (a ``NotImplementedError`` →
``codec_unavailable`` rows).
"""
from __future__ import annotations

import struct

from .bitio import lzw_decode, lzw_encode

MAX_PIXELS = 1 << 26  # total samples (w*h*channels) a decode may allocate

TIFF_LITTLE = b"II*\x00"
TIFF_BIG = b"MM\x00*"


class TiffError(ValueError):
    """Malformed / hostile TIFF input (the poison-pill contract)."""


class TiffUnsupportedError(NotImplementedError):
    """Recognized TIFF whose shape this codec does not implement (e.g.
    uncompressed fax mode, strip-table old-style JPEG, odd bit depths)
    — surfaces as ``codec_unavailable``."""


def looks_like_tiff(data: bytes) -> bool:
    """Signature sniff: the classic II*\\0 / MM\\0* header."""
    return len(data) >= 8 and data[:4] in (TIFF_LITTLE, TIFF_BIG)


_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 7: 1}  # BYTE, ASCII, SHORT, LONG, UNDEF

# FillOrder 2 (tag 266): bits within each byte stored LSB-first — the
# fax-machine byte order scanned-document TIFFs commonly carry
_BITREV = bytes(int(f"{v:08b}"[::-1], 2) for v in range(256))


def _read_ifd(data: bytes, order: str):
    """First IFD → {tag: [values...]} (BYTE/SHORT/LONG only; other entry
    types are skipped — none of the baseline tags use them)."""
    (ifd_off,) = struct.unpack_from(order + "I", data, 4)
    if ifd_off + 2 > len(data):
        raise TiffError("IFD offset outside stream")
    (n_entries,) = struct.unpack_from(order + "H", data, ifd_off)
    if n_entries == 0:
        raise TiffError("empty IFD")
    if ifd_off + 2 + 12 * n_entries > len(data):
        raise TiffError("IFD overruns stream")
    tags: dict[int, list[int]] = {}
    for k in range(n_entries):
        off = ifd_off + 2 + 12 * k
        tag, typ, count = struct.unpack_from(order + "HHI", data, off)
        if typ not in _TYPE_SIZE or count == 0:
            continue
        size = _TYPE_SIZE[typ] * count
        if size > 4:
            (voff,) = struct.unpack_from(order + "I", data, off + 8)
            if voff + size > len(data):
                raise TiffError(f"tag {tag} values outside stream")
            raw = data[voff:voff + size]
        else:
            raw = data[off + 8:off + 8 + size]
        if typ in (1, 2, 7):
            tags[tag] = list(raw)
        elif typ == 3:
            tags[tag] = list(struct.unpack(order + "H" * count, raw))
        else:
            tags[tag] = list(struct.unpack(order + "I" * count, raw))
    return tags


def _packbits_decode(src: bytes, expect: int) -> bytes:
    out = bytearray()
    i = 0
    while i < len(src) and len(out) < expect:
        n = src[i]
        i += 1
        if n < 128:      # literal run of n+1
            if i + n + 1 > len(src):
                raise TiffError("PackBits literal run overruns strip")
            out += src[i:i + n + 1]
            i += n + 1
        elif n > 128:    # repeat next byte 257-n times
            if i >= len(src):
                raise TiffError("PackBits repeat run overruns strip")
            out += bytes([src[i]]) * (257 - n)
            i += 1
        # n == 128: no-op
    if len(out) != expect:
        raise TiffError(
            f"PackBits strip decoded {len(out)} bytes, want {expect}")
    return bytes(out)


def _packbits_encode(src: bytes) -> bytes:
    """Simple spec-valid PackBits: runs of >= 3 equal bytes become repeat
    packets, everything else literal packets (max 128 each)."""
    out = bytearray()
    i = 0
    n = len(src)
    while i < n:
        run = 1
        while i + run < n and run < 128 and src[i + run] == src[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, src[i]])
            i += run
            continue
        lit = i
        while (i < n and i - lit < 128
               and not (i + 2 < n and src[i] == src[i + 1] == src[i + 2])):
            i += 1
        out += bytes([i - lit - 1]) + src[lit:i]
    return bytes(out)


def _zlib_decode(src: bytes, expect: int) -> bytes:
    import zlib
    try:
        d = zlib.decompressobj()
        out = d.decompress(src, expect)
        overrun = len(out) == expect and d.decompress(b"", 1)
    except zlib.error as exc:
        raise TiffError(f"bad Deflate strip: {exc}") from None
    if len(out) != expect or overrun:
        raise TiffError(
            f"Deflate strip decoded {len(out)} bytes, want {expect}")
    return out


def _decompress(raw: bytes, expect: int, compression: int,
                where: str) -> bytes:
    """Byte-oriented strip/tile codecs (fax and JPEG are handled by the
    caller — their output is pixels, not a raw byte plane)."""
    if compression == 1:
        if len(raw) != expect:
            raise TiffError(f"{where} is {len(raw)} bytes, want {expect}")
        return raw
    if compression == 32773:
        return _packbits_decode(raw, expect)
    if compression in (8, 32946):  # Deflate (new + old code)
        return _zlib_decode(raw, expect)
    out, _ = lzw_decode(raw, 8, True, 1, expect, TiffError)  # LZW
    if len(out) != expect:
        raise TiffError(f"LZW strip decoded {len(out)} bytes, want {expect}")
    return bytes(out)


def _unpack_bilevel(strip: bytes, rows: int, width: int,
                    photometric: int):
    """Row-packed MSB-first 1-bit raster → (rows, width) uint8 grid in
    8-bit intensity (bit extraction + the photometric polarity)."""
    import numpy as np

    row_bytes = (width + 7) // 8
    arr = np.frombuffer(strip, dtype=np.uint8).reshape(rows, row_bytes)
    bits = np.unpackbits(arr, axis=1)[:, :width]
    # photometric 0 = WhiteIsZero (the fax polarity): stored 0 → white
    if photometric == 0:
        return (1 - bits) * np.uint8(255)
    return bits * np.uint8(255)


def _jpeg_segment_decode(seg: bytes, jpeg_tables: bytes | None,
                         where: str):
    """One JPEG-compressed strip/tile → (w, h, channels, uint8 grid).

    New-style TIFF JPEG (compression 7): when a JPEGTables tag is
    present its abbreviated table stream (SOI…EOI) supplies the shared
    DQT/DHT segments; each strip/tile is then an abbreviated image
    stream spliced after those tables (TIFF 6.0 TechNote #2)."""
    import numpy as np

    from .jpegcodec import JpegError, jpeg_decode

    if len(seg) < 4 or seg[:2] != b"\xff\xd8":
        raise TiffError(f"{where}: JPEG strip missing SOI")
    if jpeg_tables is not None:
        if (len(jpeg_tables) < 4 or jpeg_tables[:2] != b"\xff\xd8"
                or jpeg_tables[-2:] != b"\xff\xd9"):
            raise TiffError("JPEGTables is not an SOI…EOI table stream")
        seg = b"\xff\xd8" + jpeg_tables[2:-2] + seg[2:]
    try:
        w, h, ch, px = jpeg_decode(seg)
    except NotImplementedError as exc:
        raise TiffUnsupportedError(f"{where}: {exc}") from None
    except JpegError as exc:
        raise TiffError(f"{where}: {exc}") from None
    return w, h, ch, np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)


def tiff_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """TIFF bytes → ``(width, height, channels, pixels)`` with pixels the
    raw 8-bit chunky sample stream — the same convention as png_decode.

    Strip AND tile organization; compressions 1 (none), 5 (LZW),
    8/32946 (Deflate), 32773 (PackBits), 2/3/4 (CCITT fax via
    ops/faxcodec: Modified Huffman, G3 1-D and 2-D per T4Options, G4
    MMR) and
    7 (new-style JPEG with the shared JPEGTables stream, via
    ops/jpegcodec); 1-bit bilevel, 8-bit and 16-bit samples; chunky and
    planar; photometric 0 (WhiteIsZero), 1 and 2 (plus 6 for JPEG, where
    the entropy stream itself is YCbCr and decodes to RGB)."""
    import numpy as np

    from .faxcodec import FaxError, g3_2d_decode, g4_decode, mh_decode

    if not looks_like_tiff(data):
        raise TiffError("not a TIFF (no II*/MM* header)")
    order = "<" if data[:2] == b"II" else ">"
    tags = _read_ifd(data, order)
    try:
        width = tags[256][0]
        height = tags[257][0]
    except KeyError as exc:
        raise TiffError(f"missing required TIFF tag {exc}") from None
    spp = tags.get(277, [1])[0]
    bits = tags.get(258, [8] * spp)
    compression = tags.get(259, [1])[0]
    photometric = tags.get(262, [1])[0]
    planar = tags.get(284, [1])[0]
    predictor = tags.get(317, [1])[0]
    fill_order = tags.get(266, [1])[0]
    orientation = tags.get(274, [1])[0]
    if orientation not in range(1, 9):
        raise TiffError(f"unknown orientation {orientation}")

    if compression not in (1, 2, 3, 4, 5, 6, 7, 8, 32773, 32946):
        raise TiffError(f"unknown TIFF compression {compression}")
    if fill_order not in (1, 2):
        raise TiffError(f"unknown FillOrder {fill_order}")
    if planar not in (1, 2):
        raise TiffError(f"unknown planar config {planar}")
    if spp not in (1, 3, 4):
        raise TiffUnsupportedError(f"{spp} samples/pixel not implemented")
    if len(bits) < spp:
        raise TiffError(f"BitsPerSample has {len(bits)} entries for "
                        f"{spp} samples/pixel")
    fax = compression in (2, 3, 4)
    jpeg = compression == 7
    jpeg6 = compression == 6
    if all(b == 8 for b in bits[:spp]):
        bps = 1
    elif all(b == 16 for b in bits[:spp]):
        bps = 2  # scanned-document scanners commonly emit 16-bit gray
    elif bits[:spp] == [1]:
        bps = 0  # bilevel: row-packed MSB-first (or fax-coded)
    elif (all(b == 12 for b in bits[:spp])
          and compression in (6, 7)):
        # 12-bit JPEG-in-TIFF (medical / archival scans): the JPEG
        # codec decodes the wide lattice and reduces to 8-bit samples
        bps = 1
    else:
        raise TiffUnsupportedError(f"bit depths {bits} not implemented")
    if fax and bps != 0:
        raise TiffError(f"CCITT compression {compression} requires "
                        f"1-bit samples, got {bits}")
    if fill_order == 2 and not (fax or (bps == 0 and compression == 1)):
        # FillOrder 2 occurs in the wild only on fax-origin bit streams;
        # for byte-oriented codecs its meaning is contested, so stay typed
        raise TiffUnsupportedError(
            "FillOrder 2 (LSB-first) only implemented for CCITT/bilevel "
            "uncompressed data")
    if (jpeg or jpeg6) and bps != 1:
        raise TiffError("JPEG-in-TIFF requires 8-bit samples")
    if bps == 0 and predictor == 2:
        raise TiffError("horizontal predictor is undefined for 1-bit data")
    g3_2d = False
    if compression == 3:
        t4 = tags.get(292, [0])[0]
        g3_2d = bool(t4 & 1)
        if t4 & 2:
            raise TiffUnsupportedError("uncompressed fax mode not "
                                       "implemented")
    if compression == 4 and tags.get(293, [0])[0] & 2:
        raise TiffUnsupportedError("uncompressed fax mode not implemented")
    if jpeg or jpeg6:
        ok_photo = (0, 1, 2, 6)  # YCbCr decodes to RGB inside the JPEG
        # ... but only via the interleaved path: separated planes decode
        # as three 1-channel JPEGs, so no YCbCr→RGB conversion happens
        # and we'd silently return raw YCbCr labeled RGB.
        if photometric == 6 and planar == 2:
            raise TiffUnsupportedError(
                "planar YCbCr JPEG-in-TIFF not implemented (conversion "
                "only happens inside the interleaved-JPEG path)")
    else:
        ok_photo = (0, 1, 2, 5)
    if photometric not in ok_photo:
        raise TiffUnsupportedError(
            f"photometric {photometric} not implemented")
    if photometric == 5:
        # Separated (prepress scans): CMYK only, the lossless paths
        if spp != 4:
            raise TiffError(
                f"photometric 5 with {spp} samples (CMYK needs 4)")
        if tags.get(332, [1])[0] != 1:
            raise TiffUnsupportedError(
                f"InkSet {tags.get(332)[0]} not implemented (CMYK only)")
        if bps == 0:
            raise TiffUnsupportedError(
                "bilevel separated data not implemented")
    if predictor not in (1, 2):
        raise TiffError(f"unknown predictor {predictor}")
    if width < 1 or height < 1:
        raise TiffError(f"bad dimensions {width}x{height}")
    if width * height * spp > MAX_PIXELS:
        raise TiffError(f"{width}x{height}x{spp} exceeds pixel cap")

    if jpeg6:
        # Old-style JPEG-in-TIFF (TIFF 6.0 §22, deprecated by TechNote
        # #2). The per-strip tag-512/517-521 table machinery was never
        # implemented interoperably; what real old scanner files carry —
        # and what libtiff itself reads — is JPEGInterchangeFormat
        # (tag 513/514) pointing at one COMPLETE JPEG stream. Decode
        # that subset; files without an interchange stream stay typed.
        if 513 not in tags:
            raise TiffUnsupportedError(
                "old-style JPEG-in-TIFF (compression 6) without a "
                "JPEGInterchangeFormat stream not implemented")
        if planar == 2:
            raise TiffError("old-style JPEG cannot be planar")
        jif_off = tags[513][0]
        jif_len = tags.get(514, [len(data) - jif_off])[0]
        if jif_off < 0 or jif_len < 2 or jif_off + jif_len > len(data):
            raise TiffError("JPEGInterchangeFormat outside stream")
        jw, jh, jch, jgrid = _jpeg_segment_decode(
            data[jif_off:jif_off + jif_len], None, "interchange stream")
        if jch != spp:
            raise TiffError(
                f"interchange JPEG has {jch} channels, want {spp}")
        if jw < width or jh < height:
            raise TiffError(
                f"interchange JPEG is {jw}x{jh}, smaller than the "
                f"{width}x{height} image")
        out = jgrid[:height, :width].astype(np.int64)
        if photometric == 0 and jch == 1:
            out = 255 - out
        return _oriented(out.astype(np.uint8), orientation, spp)

    tiled = any(t in tags for t in (322, 323, 324, 325))
    if tiled:
        try:
            tile_w = tags[322][0]
            tile_h = tags[323][0]
            offsets = tags[324]
            counts = tags[325]
        except KeyError as exc:
            raise TiffError(f"tiled TIFF missing tag {exc}") from None
        if 273 in tags:
            raise TiffError("TIFF carries both strip and tile offsets")
        if not (1 <= tile_w <= 1 << 16 and 1 <= tile_h <= 1 << 16):
            raise TiffError(f"bad tile size {tile_w}x{tile_h}")
        across = -(-width // tile_w)
        down = -(-height // tile_h)
        if across * down * tile_w * tile_h * spp > 4 * MAX_PIXELS:
            raise TiffError("tile grid exceeds pixel cap")
        n_regions = across * down
    else:
        try:
            offsets = tags[273]
            counts = tags[279]
        except KeyError as exc:
            raise TiffError(f"missing required TIFF tag {exc}") from None
        rows_per_strip = tags.get(278, [height])[0] or height
        strips_per_plane = -(-height // rows_per_strip)
        n_regions = strips_per_plane
    if len(offsets) != len(counts):
        raise TiffError("offsets/byte-counts length mismatch")
    n_planes = spp if planar == 2 else 1
    if len(offsets) != n_regions * n_planes:
        raise TiffError(
            f"{len(offsets)} strips/tiles, want {n_regions * n_planes}")

    jpeg_tables = bytes(tags[347]) if jpeg and 347 in tags else None
    sample_bytes = max(bps, 1)
    plane_ch = 1 if planar == 2 else spp
    # decode into one int64 grid; planes land in their own channel slice
    grid = np.zeros((height, width, spp), dtype=np.int64)
    mask = (1 << (8 * sample_bytes)) - 1

    for s, (off, cnt) in enumerate(zip(offsets, counts)):
        if cnt < 0 or off + cnt > len(data):
            raise TiffError(f"strip/tile {s} outside stream")
        raw = data[off:off + cnt]
        if fill_order == 2:
            raw = raw.translate(_BITREV)
        region = s % n_regions
        plane = s // n_regions
        if tiled:
            ty, tx = divmod(region, across)
            y0, x0 = ty * tile_h, tx * tile_w
            rows, cols = tile_h, tile_w
        else:
            y0, x0 = region * rows_per_strip, 0
            rows = min(rows_per_strip, height - y0)
            cols = width
        where = f"{'tile' if tiled else 'strip'} {s}"
        if fax:
            try:
                if compression == 4:
                    px = g4_decode(raw, cols, rows)
                elif g3_2d:
                    px = g3_2d_decode(raw, cols, rows)
                else:
                    px = mh_decode(raw, cols, rows, eol=compression == 3)
            except FaxError as exc:
                raise TiffError(f"{where}: {exc}") from None
            part = np.frombuffer(px, dtype=np.uint8).reshape(rows, cols)
            part = part.astype(np.int64)
            # fax color domain: 0 = white, 1 = black. photometric 0
            # (the fax default) → white = 255
            if photometric == 0:
                part = (1 - part) * 255
            else:
                part = part * 255
            part = part[:, :, None]
        elif jpeg:
            jw, jh, jch, jgrid = _jpeg_segment_decode(raw, jpeg_tables,
                                                      where)
            if jch != plane_ch:
                raise TiffError(
                    f"{where}: JPEG has {jch} channels, want {plane_ch}")
            if jw < min(cols, width - x0) or jh < min(rows, height - y0):
                raise TiffError(
                    f"{where}: JPEG is {jw}x{jh}, smaller than its "
                    f"{cols}x{rows} region")
            part = jgrid[:rows, :cols].astype(np.int64)
            if photometric == 0 and jch == 1:
                part = 255 - part
        elif bps == 0:
            expect = rows * ((cols + 7) // 8)
            strip = _decompress(raw, expect, compression, where)
            part = _unpack_bilevel(strip, rows, cols, photometric)
            part = part.astype(np.int64)[:, :, None]
        else:
            expect = rows * cols * plane_ch * sample_bytes
            strip = _decompress(raw, expect, compression, where)
            arr = np.frombuffer(
                strip, dtype=np.uint8 if sample_bytes == 1 else order + "u2")
            part = arr.reshape(rows, cols, plane_ch).astype(np.int64)

        # clip tiles that overhang the right/bottom image edge
        use_r = min(rows, height - y0)
        use_c = min(cols, width - x0)
        if use_r <= 0 or use_c <= 0:
            raise TiffError(f"{where} lies outside the image")
        part = part[:use_r, :use_c]
        if planar == 2:
            grid[y0:y0 + use_r, x0:x0 + use_c, plane] = part[:, :, 0]
        else:
            grid[y0:y0 + use_r, x0:x0 + use_c, :] = part

    if predictor == 2:
        # horizontal differencing ran per strip/tile row segment at
        # encode time; cumsum must restart at every region's left edge
        if tiled:
            for x0 in range(0, width, tile_w):
                seg = grid[:, x0:min(x0 + tile_w, width), :]
                np.cumsum(seg, axis=1, out=seg)
                seg &= mask
        else:
            np.cumsum(grid, axis=1, out=grid)
            grid &= mask
    if sample_bytes == 2 and not fax and not jpeg and bps != 0:
        grid = grid >> 8  # the exact 16→8 reduction, same as png_decode
    if photometric == 5:
        # ink-convert CMYK -> RGB: rgb = round((255-ink)*(255-k)/255),
        # the same plain-ink math the CMYK JPEG path applies
        inv = 255 - grid
        grid = (inv[:, :, :3] * inv[:, :, 3:4] + 127) // 255
        spp = 3
    return _oriented(grid.astype(np.uint8), orientation, spp)


def _oriented(grid, orientation: int, spp: int):
    """Apply TIFF/EXIF Orientation (tag 274) so callers always get
    display-order rasters — scanner output is routinely stored rotated.
    Values 5-8 transpose, so the returned (width, height) swap."""
    import numpy as np

    if orientation == 2:
        grid = grid[:, ::-1]
    elif orientation == 3:
        grid = grid[::-1, ::-1]
    elif orientation == 4:
        grid = grid[::-1, :]
    elif orientation == 5:          # transpose about the main diagonal
        grid = np.swapaxes(grid, 0, 1)
    elif orientation == 6:          # stored row 0 = display right edge
        grid = np.swapaxes(grid, 0, 1)[:, ::-1]
    elif orientation == 7:          # transverse
        grid = np.swapaxes(grid, 0, 1)[::-1, ::-1]
    elif orientation == 8:          # stored row 0 = display left edge
        grid = np.swapaxes(grid, 0, 1)[::-1, :]
    h, w = grid.shape[:2]
    return w, h, spp, np.ascontiguousarray(grid).tobytes()


def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Full JPEG → (abbreviated JPEGTables stream, abbreviated image
    stream): DQT/DHT/DRI segments move to the tables stream (TIFF 6.0
    TechNote #2 layout, what libtiff writes for compression 7)."""
    if stream[:2] != b"\xff\xd8":
        raise TiffError("not a JPEG stream")
    tables = bytearray(b"\xff\xd8")
    image = bytearray(b"\xff\xd8")
    i = 2
    while i + 4 <= len(stream):
        if stream[i] != 0xFF:
            raise TiffError("bad JPEG segment marker")
        marker = stream[i + 1]
        if marker == 0xD9:
            break
        ln = struct.unpack_from(">H", stream, i + 2)[0]
        seg = stream[i:i + 2 + ln]
        if marker in (0xDB, 0xC4, 0xDD):
            tables += seg
        else:
            image += seg
        i += 2 + ln
        if marker == 0xDA:  # entropy data runs to EOI
            image += stream[i:]
            break
    tables += b"\xff\xd9"
    return bytes(tables), bytes(image)


def tiff_encode(pixels: bytes, width: int, height: int, channels: int = 3,
                compression: str = "lzw", predictor: int = 1,
                rows_per_strip: int | None = None, bits: int = 8,
                planar: int = 1, tile: tuple[int, int] | None = None,
                photometric: int | None = None, quality: int = 90,
                jpeg_tables: bool = True, fill_order: int = 1) -> bytes:
    """Chunky samples → little-endian TIFF — the decoder's adversarial
    inverse for every shape it reads.

    Compressions "none" / "packbits" / "lzw" / "deflate" (lossless, any
    depth), "g4" / "mh" / "g3" / "g32d" (CCITT fax, ``bits=1`` only —
    "g32d" writes T.4 2-D lines with T4Options bit 0 set), pixels one
    0/1 byte each) and "jpeg" (compression 7; abbreviated streams with a
    shared JPEGTables tag when ``jpeg_tables``, per-strip full streams
    otherwise). ``tile=(tw, th)`` writes a tiled layout (tags 322-325,
    edge tiles zero-padded) instead of strips; ``bits=16`` takes
    little-endian u16 samples; ``planar=2`` writes separate sample
    planes; ``photometric`` overrides the polarity tag (0 flags
    WhiteIsZero — the decoder then inverts bilevel/gray output);
    ``fill_order=2`` writes fax/bilevel strips LSB-first (tag 266)."""
    import numpy as np

    if channels not in (1, 3, 4):
        raise TiffError(f"unsupported channel count {channels}")
    if bits not in (1, 8, 12, 16):
        raise TiffError(f"unsupported encode bit depth {bits}")
    if planar not in (1, 2):
        raise TiffError(f"unknown planar config {planar}")
    comp_tag = {"none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
                "g4": 4, "mh": 2, "g3": 3, "g32d": 3,
                "jpeg": 7, "jpeg6": 6}.get(compression)
    if comp_tag is None:
        raise TiffError(f"unknown compression {compression!r}")
    g3_2d = compression == "g32d"
    fax = comp_tag in (2, 3, 4)
    jpeg = comp_tag == 7
    jpeg6 = comp_tag == 6
    if fax and bits != 1:
        raise TiffError("CCITT compressions require bits=1")
    if fill_order not in (1, 2):
        raise TiffError(f"unknown FillOrder {fill_order}")
    if fill_order == 2 and not (fax or (bits == 1 and comp_tag == 1)):
        raise TiffError("FillOrder 2 encode is fax/bilevel-only")
    if bits == 1:
        if channels != 1 or planar != 1:
            raise TiffError("bilevel encode requires 1 chunky channel")
        if predictor != 1:
            raise TiffError("predictor is undefined for 1-bit data")
    if bits == 12 and not (jpeg or jpeg6):
        raise TiffError("12-bit encode is JPEG-in-TIFF only")
    if jpeg or jpeg6:
        if bits not in (8, 12) or planar != 1 or channels not in (1, 3):
            raise TiffError(
                "JPEG encode requires 8/12-bit chunky gray/RGB")
        if predictor != 1:
            raise TiffError("predictor is undefined for JPEG data")
        if jpeg6 and (tile is not None or rows_per_strip):
            raise TiffError("old-style JPEG writes one interchange "
                            "stream, not strips/tiles")
    bps = 1 if bits == 1 else (2 if bits in (12, 16) else 1)
    if width < 1 or height < 1 or width * height * channels > MAX_PIXELS:
        raise TiffError(f"bad dimensions {width}x{height}")
    if len(pixels) != width * height * channels * bps:
        raise TiffError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"want {width * height * channels * bps}")
    if predictor not in (1, 2):
        raise TiffError(f"unknown predictor {predictor}")
    if photometric is None:
        if bits == 1:
            photometric = 0  # the fax/scan default: WhiteIsZero
        elif (jpeg or jpeg6) and channels == 3:
            photometric = 6  # YCbCr inside the entropy stream
        else:
            photometric = 1 if channels == 1 else 2
    if tile is not None:
        tile_w, tile_h = tile
        if tile_w < 1 or tile_h < 1:
            raise TiffError(f"bad tile size {tile_w}x{tile_h}")
        rows_per_strip = None
    else:
        rows_per_strip = rows_per_strip or height
        if rows_per_strip < 1:
            raise TiffError("rows_per_strip must be positive")

    mask = (1 << bits) - 1
    sdtype = np.uint8 if bps == 1 else "<u2"
    grid = np.frombuffer(pixels, dtype=sdtype).reshape(
        height, width, channels).astype(np.int64)
    strips: list[bytes] = []
    jpeg_tables_blob: bytes | None = None

    def encode_region(part: "np.ndarray") -> bytes:
        """(rows, cols, plane_ch) int64 samples → one strip/tile blob."""
        nonlocal jpeg_tables_blob
        rows, cols, pch = part.shape
        if fax:
            from .faxcodec import g3_2d_encode, g4_encode, mh_encode
            raw = part[:, :, 0].astype(np.uint8).tobytes()
            if comp_tag == 4:
                return g4_encode(raw, cols, rows)
            if g3_2d:
                return g3_2d_encode(raw, cols, rows)
            return mh_encode(raw, cols, rows, eol=comp_tag == 3)
        if jpeg or jpeg6:
            from .jpegcodec import jpeg_encode
            raw12 = bits == 12
            stream = jpeg_encode(
                part.astype("<u2" if raw12 else np.uint8).tobytes(),
                cols, rows, pch, quality=quality,
                precision=12 if raw12 else 8)
            if jpeg and jpeg_tables:
                tables, image = _split_jpeg_tables(stream)
                if jpeg_tables_blob is None:
                    jpeg_tables_blob = tables
                return image
            return stream
        if bits == 1:
            packed = np.packbits(part[:, :, 0].astype(np.uint8), axis=1)
            plane_bytes = packed.tobytes()
        else:
            p = part
            if predictor == 2:
                p = p.copy()
                p[:, 1:, :] = (p[:, 1:, :] - p[:, :-1, :]) & mask
            plane_bytes = p.astype(sdtype).tobytes()
        if comp_tag == 1:
            return plane_bytes
        if comp_tag == 32773:
            return _packbits_encode(plane_bytes)
        if comp_tag == 8:
            import zlib
            return zlib.compress(plane_bytes, 6)
        return lzw_encode(plane_bytes, 8, True, 1)

    n_planes = channels if planar == 2 else 1
    plane_views = (np.transpose(grid, (2, 0, 1))[:, :, :, None]
                   if planar == 2 else [grid])
    for plane in range(n_planes):
        pv = plane_views[plane]
        if tile is not None:
            for y0 in range(0, height, tile_h):
                for x0 in range(0, width, tile_w):
                    part = np.zeros((tile_h, tile_w, pv.shape[2]),
                                    dtype=np.int64)
                    r = min(tile_h, height - y0)
                    c = min(tile_w, width - x0)
                    part[:r, :c] = pv[y0:y0 + r, x0:x0 + c]
                    strips.append(encode_region(part))
        else:
            for top in range(0, height, rows_per_strip):
                rows = min(rows_per_strip, height - top)
                strips.append(encode_region(pv[top:top + rows]))

    entries = [
        (256, 4, [width]),
        (257, 4, [height]),
        (258, 3, [bits] * channels),
        (259, 3, [comp_tag]),
        (262, 3, [photometric]),
        (277, 3, [channels]),
    ]
    if jpeg6:
        # one interchange stream: tag 513 points at the full JPEG
        entries += [(513, 4, [0]),                  # patched below
                    (514, 4, [len(strips[0])])]
        offsets_tag = 513
    elif tile is not None:
        entries += [(322, 4, [tile_w]), (323, 4, [tile_h]),
                    (324, 4, [0] * len(strips)),   # patched below
                    (325, 4, [len(s) for s in strips])]
        offsets_tag = 324
    else:
        entries += [(273, 4, [0] * len(strips)),   # patched below
                    (278, 4, [rows_per_strip]),
                    (279, 4, [len(s) for s in strips])]
        offsets_tag = 273
    if fill_order == 2:
        strips = [s.translate(_BITREV) for s in strips]
        entries.append((266, 3, [2]))
    if comp_tag == 3:
        # T4Options: bit 0 = 2-D coding allowed, no uncompressed, no fill
        entries.append((292, 4, [1 if g3_2d else 0]))
    if predictor == 2:
        entries.append((317, 3, [predictor]))
    if planar == 2:
        entries.append((284, 3, [planar]))
    if jpeg_tables_blob is not None:
        entries.append((347, 7, list(jpeg_tables_blob)))
    entries.sort(key=lambda e: e[0])

    header = b"II" + struct.pack("<HI", 42, 8)
    ifd_size = 2 + 12 * len(entries) + 4
    # layout: header(8) | IFD | overflow values | strips
    overflow = bytearray()
    overflow_base = 8 + ifd_size
    fixed = []
    for tag, typ, values in entries:
        size = _TYPE_SIZE[typ] * len(values)
        fixed.append([tag, typ, values, size])
    # first pass to size the overflow region so strip offsets are known
    ov = 0
    for tag, typ, values, size in fixed:
        if size > 4:
            ov += size
    strips_base = overflow_base + ov
    strip_offsets = []
    at = strips_base
    for s in strips:
        strip_offsets.append(at)
        at += len(s)
    for row in fixed:
        if row[0] == offsets_tag:
            row[2] = strip_offsets
    ifd = bytearray(struct.pack("<H", len(fixed)))
    for tag, typ, values, size in fixed:
        ifd += struct.pack("<HHI", tag, typ, len(values))
        pack = {1: "B", 3: "H", 4: "I", 7: "B"}[typ]
        if size > 4:
            ifd += struct.pack("<I", overflow_base + len(overflow))
            for v in values:
                overflow += struct.pack("<" + pack, v)
        else:
            cell = b"".join(struct.pack("<" + pack, v) for v in values)
            ifd += cell + b"\x00" * (4 - len(cell))
    ifd += struct.pack("<I", 0)  # no next IFD
    return header + bytes(ifd) + bytes(overflow) + b"".join(strips)
