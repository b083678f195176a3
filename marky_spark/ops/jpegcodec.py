"""Pure numpy baseline JPEG decoder/encoder — the fourth real image codec
behind ops/multimodal (after PNG, BMP, GIF).

Baseline sequential DCT (SOF0/1) and progressive DCT (SOF2), 8-bit
and 12-bit samples (12-bit reduces to 8 via the exact high-bits shift,
the 16-bit-TIFF convention), 1- or 3-component scans, arbitrary sampling
factors up to 2×2 (4:4:4 / 4:2:2 / 4:2:0 / grayscale), restart markers,
JFIF YCbCr color.
Decoding is honestly structural: marker walk, quantization/Huffman table
management, entropy-decoded MCU stream (bit reader over the byte-unstuffed
scan), dequantize → de-zigzag → 2-D IDCT (numpy matrix form) → plane
assembly → chroma upsample → color convert. Progressive decoding follows
T.81 §G.1.2 — spectral selection (per-band scans with EOBn run lengths)
plus successive approximation (DC bit refinement, AC correction-bit
descent) accumulated into a zigzag coefficient store across scans, then
the same batched IDCT. Arithmetic coding and
hierarchical modes raise :class:`JpegUnsupportedError` (a
NotImplementedError, so the multimodal operators classify those blobs as
``codec_unavailable``); malformed payloads raise plain :class:`JpegError`
(per-blob ``error:`` rows) — never task failures either way.

The encoders (test-fixture inverses) emit baseline 4:4:4 with the standard
Annex-K quantization (libjpeg-style quality scaling) and Huffman tables —
real entropy coding, so decoder round-trips exercise the full bit path —
and progressive 4:4:4 (:func:`jpeg_encode_progressive`) whose bit layout
mirrors the spec decoder's reads, quantizing identically to baseline so
the two encodings of one image must decode byte-identically.

Hostile-input hardening mirrors the other codecs: pixel-count cap before
any allocation, every malformed structure → JpegError.

Reference parity note: marky itself never decodes embedded images (it
base64s bytes verbatim, docx.go:196-198 / pptx.go:342-343); this codec
serves the training-data side (decode_pixels / media_features /
pixel_features) where JPEG is what office documents actually embed
(e.g. ppt/media/image1.jpeg in the reference's own test.pptx).
"""

from __future__ import annotations

import struct

from .bitio import MsbReader, MsbWriter
from .pngcodec import MAX_PIXELS  # noqa: F401 — re-exported cap family

JPEG_SOI = b"\xff\xd8"

# JPEG's own pixel cap is far below the PNG one: decoding allocates float64
# intermediates (coefficient matrices, spatial planes, the stacked RGB) of
# ~50-100 bytes per pixel plus a pure-Python entropy loop per block, so the
# 2^28 PNG cap would let a small hostile payload force >10 GB of
# allocations. 2^24 pixels (e.g. 4096x4096) bounds peak decode memory at
# ~1.5 GB and the entropy loop at ~260k blocks.
JPEG_MAX_PIXELS = 1 << 24


class JpegError(ValueError):
    """Malformed or unsupported JPEG payload."""


class JpegUnsupportedError(JpegError, NotImplementedError):
    """Recognized JPEG, but a mode this codec does not implement
    (arithmetic coding, hierarchical mode). Subclasses
    NotImplementedError so the multimodal operators classify these blobs
    as ``codec_unavailable`` (the payload is fine — the codec is partial),
    distinct from malformed-payload ``error:`` rows."""


def looks_like_jpeg(data: bytes) -> bool:
    return len(data) > 3 and data[:2] == JPEG_SOI and data[2] == 0xFF


# zigzag order: index i of the scan → (row, col) in the 8x8 block
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _dct_matrix():
    import numpy as np

    x = np.arange(8)
    m = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    m[0] /= np.sqrt(2.0)
    return m  # coef = M @ spatial @ M.T ; spatial = M.T @ coef @ M


def _build_huffman(counts: bytes, symbols: bytes) -> tuple[dict, list]:
    """Canonical JPEG assignment → ((length, code) → symbol, plus a
    256-entry fast LUT for codes of ≤8 bits keyed by the next byte)."""
    table: dict[tuple[int, int], int] = {}
    fast8: list = [None] * 256
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise JpegError("Huffman table symbol underrun")
            if code >= (1 << length):
                # counts claim more codes than fit at this bit length —
                # not a canonical Huffman table (found by mutation fuzzing:
                # the overflow previously escaped as IndexError in the LUT)
                raise JpegError("overfull Huffman table")
            table[(length, code)] = symbols[k]
            if length <= 8:
                lo = code << (8 - length)
                for p in range(lo, lo + (1 << (8 - length))):
                    fast8[p] = (symbols[k], length)
            code += 1
            k += 1
        code <<= 1
    return table, fast8


def _huff_decode(reader: MsbReader, huff: tuple[dict, list]) -> int:
    table, fast8 = huff
    v16 = reader.peek(16)
    hit = fast8[v16 >> 8]
    if hit is not None:
        reader.consume(hit[1])
        return hit[0]
    for length in range(9, 17):
        sym = table.get((length, v16 >> (16 - length)))
        if sym is not None:
            reader.consume(length)
            return sym
    raise JpegError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """JPEG EXTEND: map magnitude bits to signed value."""
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _unstuff(data: bytes, start: int) -> tuple[bytes, list, int]:
    """Byte-unstuff one entropy-coded segment starting at ``start``.

    Returns (unstuffed bytes, restart-marker offsets within the unstuffed
    stream, absolute offset of the terminating marker's 0xFF — or
    ``len(data)`` if the segment runs to end of input)."""
    out = bytearray()
    rst_points: list[int] = []
    i = start
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0xFF:
            if i + 1 >= n:
                return bytes(out), rst_points, n
            nxt = data[i + 1]
            if nxt == 0x00:
                out.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                rst_points.append(len(out))
                i += 2
                continue
            return bytes(out), rst_points, i  # EOI or next marker
        out.append(b)
        i += 1
    return bytes(out), rst_points, n


def jpeg_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """JPEG bytes → (width, height, channels, raw interleaved 8-bit
    samples, rows top-down) — the same contract as ``png_decode``.
    channels is 3 (YCbCr→RGB) or 1 (grayscale)."""
    import numpy as np

    if len(data) < 4 or data[:2] != JPEG_SOI:
        raise JpegError("not a JPEG (bad SOI)")
    pos = 2
    qtables: dict[int, "np.ndarray"] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    restart_interval = 0
    exif_orientation = 1
    adobe_transform = None  # APP14: 0 = RGB/CMYK, 1 = YCbCr, 2 = YCCK
    frame = None  # (w, h, comps, prec) — comps: [(cid, hs, vs, tq)]
    scan = None
    progressive = False
    prog_coefs = None  # per-comp int32 (by, bx, 64) zigzag-order coefficients
    prog_geom = None  # (hmax, vmax, mcus_x, mcus_y)
    prog_scans = 0

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise JpegError(f"expected marker at {pos}")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker == 0xD8:  # stray SOI
            pos += 2
            continue
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seg_len = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4:pos + 2 + seg_len]
        if len(body) != seg_len - 2:
            raise JpegError("truncated segment")
        if marker == 0xEE and body[:5] == b"Adobe" and len(body) >= 12:
            # APP14 color-transform flag (Adobe TN #5116): 0 = none
            # (RGB for 3 comps, CMYK for 4), 1 = YCbCr, 2 = YCCK
            adobe_transform = body[11]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            # EXIF rides an APP1 TIFF IFD; only Orientation (274) matters
            # to pixel consumers. Malformed EXIF is IGNORED (browser /
            # libtiff behavior) — the image itself is still valid.
            exif_orientation = _exif_orientation(body[6:]) \
                or exif_orientation
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                n = 64 * (2 if pq else 1)
                if i + n > len(body):
                    raise JpegError("truncated DQT")
                if pq:
                    vals = np.frombuffer(body[i:i + n], dtype=">u2")
                else:
                    vals = np.frombuffer(body[i:i + n], dtype=np.uint8)
                q = np.zeros(64, dtype=np.float64)
                q[_ZIGZAG] = vals
                qtables[tq] = q.reshape(8, 8)
                i += n
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                counts = body[i + 1:i + 17]
                n = sum(counts)
                symbols = body[i + 17:i + 17 + n]
                if len(symbols) != n:
                    raise JpegError("truncated DHT")
                t = _build_huffman(counts, symbols)
                (ac_tables if tc else dc_tables)[th] = t
                i += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            if len(body) < 6:
                raise JpegError("truncated SOF header")
            prec, h, w, nc = struct.unpack_from(">BHHB", body, 0)
            if prec not in (8, 12):
                raise JpegUnsupportedError(f"unsupported precision {prec}")
            if prec == 12 and marker == 0xC0:
                # T.81: SOF0 (baseline) is 8-bit only; 12-bit rides the
                # extended-sequential (SOF1) / progressive (SOF2) frames
                raise JpegError("12-bit precision in a baseline SOF0")
            if w <= 0 or h <= 0 or w * h > JPEG_MAX_PIXELS:
                raise JpegError(f"bad dimensions {w}x{h}")
            if nc not in (1, 3, 4):
                raise JpegError(f"unsupported component count {nc}")
            if len(body) < 6 + 3 * nc:
                raise JpegError("truncated SOF component list")
            comps = []
            for c in range(nc):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * c)
                hs, vs = hv >> 4, hv & 0x0F
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise JpegError(f"unsupported sampling {hs}x{vs}")
                comps.append((cid, hs, vs, tq))
            frame = (w, h, comps, prec)
            progressive = marker == 0xC2
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise JpegUnsupportedError(
                f"unsupported JPEG mode (SOF{marker - 0xC0}) — "
                "baseline and progressive Huffman only")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise JpegError("truncated DRI")
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            if len(body) < 1 or len(body) < 1 + 2 * body[0] + 3:
                raise JpegError("truncated SOS header")
            ns = body[0]
            if not (1 <= ns <= 4):
                raise JpegError(f"bad scan component count {ns}")
            if not progressive:
                sel = {}
                for c in range(ns):
                    cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                    sel[cs] = (tt >> 4, tt & 0x0F)
                scan = (sel, pos + 2 + seg_len)
                break
            # progressive: decode this scan now, keep walking markers
            w, h, comps, _prec = frame
            cid_index = {c[0]: i for i, c in enumerate(comps)}
            scan_list = []
            for c in range(ns):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                if cs not in cid_index:
                    raise JpegError(f"scan component {cs} not in frame")
                scan_list.append((cid_index[cs], tt >> 4, tt & 0x0F))
            ss = body[1 + 2 * ns]
            se = body[2 + 2 * ns]
            ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0x0F
            if prog_coefs is None:
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                mcus_x = -(-w // (8 * hmax))
                mcus_y = -(-h // (8 * vmax))
                prog_geom = (hmax, vmax, mcus_x, mcus_y)
                prog_coefs = [
                    np.zeros((mcus_y * c[2], mcus_x * c[1], 64),
                             dtype=np.int64)
                    for c in comps]
            pos = _decode_prog_scan(
                data, pos + 2 + seg_len, frame, prog_geom, scan_list,
                ss, se, ah, al, dc_tables, ac_tables, restart_interval,
                prog_coefs)
            prog_scans += 1
            continue
        # APPn / COM / others: skip
        pos += 2 + seg_len

    if progressive:
        if prog_coefs is None or prog_scans == 0:
            raise JpegError("missing SOS")
        w, h, comps, prec = frame
        hmax, vmax, mcus_x, mcus_y = prog_geom
        M = _dct_matrix()
        full = []
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            if tq not in qtables:
                raise JpegError("undefined quantization table")
            z = prog_coefs[ci].reshape(-1, 64).astype(np.float64)
            nat = np.zeros_like(z)
            nat[:, _ZIGZAG] = z
            blocks = nat.reshape(-1, 8, 8) * qtables[tq]
            spatial = M.T @ blocks @ M + float(1 << (prec - 1))
            bx_n = mcus_x * hs
            p = (spatial.reshape(mcus_y * vs, bx_n, 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(mcus_y * vs * 8, bx_n * 8))
            if hs < hmax:
                p = np.repeat(p, hmax // hs, axis=1)
            if vs < vmax:
                p = np.repeat(p, vmax // vs, axis=0)
            full.append(p[:h, :w])
        return _exif_apply(
            _color_assemble(full, w, h, prec, adobe_transform),
            exif_orientation)

    if frame is None or scan is None:
        raise JpegError("missing SOF/SOS")
    w, h, comps, prec = frame
    sel, entropy_start = scan

    # byte-unstuff the entropy segment, recording restart-marker positions
    stream, rst_points, _ = _unstuff(data, entropy_start)
    reader = MsbReader(stream, JpegError)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-w // mcu_w)
    mcus_y = -(-h // mcu_h)

    M = _dct_matrix()
    # entropy-decode every block's coefficients first (serial bit stream),
    # then dequantize + IDCT all blocks per component in ONE stacked numpy
    # matmul — identical float64 math to per-block, ~3× less Python time
    n_mcus = mcus_x * mcus_y
    coefs = []
    for cid, hs, vs, tq in comps:
        if cid not in sel:
            raise JpegError(f"component {cid} missing from scan")
        td, ta = sel[cid]
        if td not in dc_tables or ta not in ac_tables:
            raise JpegError("scan references undefined Huffman table")
        if tq not in qtables:
            raise JpegError("undefined quantization table")
        coefs.append(np.zeros((n_mcus * hs * vs, 64), dtype=np.float64))

    preds = [0] * len(comps)
    rst_iter = iter(rst_points)
    next_rst = next(rst_iter, None)
    bi = [0] * len(comps)  # per-component block counter, decode order
    zz = _ZIGZAG
    for n_mcu in range(n_mcus):
        if restart_interval and n_mcu and n_mcu % restart_interval == 0:
            # align to the recorded restart boundary
            reader.align()
            if next_rst is not None:
                if reader.tell() > next_rst << 3:
                    raise JpegError("restart marker overrun")
                reader.seek(next_rst << 3)
                next_rst = next(rst_iter, None)
            preds = [0] * len(comps)
        for ci, (cid, hs, vs, tq) in enumerate(comps):
            td, ta = sel[cid]
            dc_t, ac_t = dc_tables[td], ac_tables[ta]
            carr = coefs[ci]
            for _ in range(hs * vs):
                row = carr[bi[ci]]
                bi[ci] += 1
                t = _huff_decode(reader, dc_t)
                if t > 15:
                    raise JpegError(f"bad DC category {t}")
                diff = _extend(reader.read(t), t) if t else 0
                preds[ci] += diff
                row[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = _huff_decode(reader, ac_t)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        raise JpegError("AC run past block end")
                    row[zz[k]] = _extend(reader.read(s), s)
                    k += 1

    # batched dequantize + IDCT + scatter (pure reshape/transpose: blocks
    # arrive as (my, mx, by, bx) → plane rows (my, by, 8) × cols (mx, bx, 8))
    full = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        blocks = coefs[ci].reshape(-1, 8, 8) * qtables[tq]
        spatial = M.T @ blocks @ M + float(1 << (prec - 1))
        p = (spatial.reshape(mcus_y, mcus_x, vs, hs, 8, 8)
             .transpose(0, 2, 4, 1, 3, 5)
             .reshape(mcus_y * vs * 8, mcus_x * hs * 8))
        if hs < hmax:
            p = np.repeat(p, hmax // hs, axis=1)
        if vs < vmax:
            p = np.repeat(p, vmax // vs, axis=0)
        full.append(p[:h, :w])

    return _exif_apply(_color_assemble(full, w, h, prec, adobe_transform),
                       exif_orientation)


def _exif_orientation(tiff: bytes):
    """Orientation (tag 274) from an APP1-embedded TIFF IFD0, or None.
    Bounded, never raises — malformed EXIF does not poison a valid
    image (the same forgiveness browsers and libtiff apply)."""
    try:
        if tiff[:2] == b"II":
            u16, u32 = "<H", "<I"
        elif tiff[:2] == b"MM":
            u16, u32 = ">H", ">I"
        else:
            return None
        if struct.unpack_from(u16, tiff, 2)[0] != 42:
            return None
        (ifd,) = struct.unpack_from(u32, tiff, 4)
        (n,) = struct.unpack_from(u16, tiff, ifd)
        for k in range(min(n, 256)):
            at = ifd + 2 + 12 * k
            tag = struct.unpack_from(u16, tiff, at)[0]
            typ = struct.unpack_from(u16, tiff, at + 2)[0]
            if tag == 274 and typ == 3:
                v = struct.unpack_from(u16, tiff, at + 8)[0]
                return v if 1 <= v <= 8 else None
    except struct.error:
        return None
    return None


def _exif_apply(res, orientation: int):
    """Reorder decoded samples into display order per EXIF orientation
    (values 5-8 swap the returned width/height)."""
    if orientation == 1:
        return res
    import numpy as np

    w, h, ch, px = res
    grid = np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch)
    if orientation == 2:
        grid = grid[:, ::-1]
    elif orientation == 3:
        grid = grid[::-1, ::-1]
    elif orientation == 4:
        grid = grid[::-1, :]
    elif orientation == 5:
        grid = np.swapaxes(grid, 0, 1)
    elif orientation == 6:
        grid = np.swapaxes(grid, 0, 1)[:, ::-1]
    elif orientation == 7:
        grid = np.swapaxes(grid, 0, 1)[::-1, ::-1]
    elif orientation == 8:
        grid = np.swapaxes(grid, 0, 1)[::-1, :]
    h2, w2 = grid.shape[:2]
    return w2, h2, ch, np.ascontiguousarray(grid).tobytes()


def _color_assemble(full, w: int, h: int, prec: int = 8,
                    adobe=None) -> tuple[int, int, int, bytes]:
    """Cropped float sample planes → (w, h, channels, bytes): grayscale
    pass-through, JFIF YCbCr → RGB (or Adobe transform-0 RGB
    pass-through), and 4-component CMYK/YCCK → RGB. Adobe (APP14)
    4-component files store INVERTED ink values (255 = no ink, the
    Photoshop convention), so RGB = C·K/top; files WITHOUT an APP14
    marker store plain CMYK, RGB = (top−C)·(top−K)/top. YCCK first maps
    (Y, Cb, Cr) → inverted CMY through the standard YCbCr math. 12-bit
    planes clip on the wide lattice and reduce to 8 bits by the exact
    high-bits shift (>> 4), the same convention as 16-bit TIFF/PNG's
    >> 8."""
    import numpy as np

    center = float(1 << (prec - 1))
    top = (1 << prec) - 1
    shift = prec - 8

    def pack(planes):
        out = np.stack(planes, axis=-1)
        out = np.clip(np.round(out), 0, top).astype(np.int32)
        return (w, h, len(planes),
                (out >> shift).astype(np.uint8).tobytes())

    def ycc_to_rgb(y, cb, cr):
        r = y + 1.402 * (cr - center)
        g = y - 0.344136 * (cb - center) - 0.714136 * (cr - center)
        b = y + 1.772 * (cb - center)
        return r, g, b

    if len(full) == 1:
        gray = np.clip(np.round(full[0]), 0, top).astype(np.int32)
        return w, h, 1, (gray >> shift).astype(np.uint8).tobytes()
    if len(full) == 3:
        if adobe == 0:
            return pack(full)  # Adobe transform 0: planes ARE RGB
        return pack(ycc_to_rgb(*full))
    # 4 components: round to integer SAMPLES first (the decoded CMYK
    # values), then ink-convert — the libjpeg layering
    if adobe == 2:  # YCCK: YCbCr carries the inverted C, M, Y
        c, m, y_ink = ycc_to_rgb(full[0], full[1], full[2])
        k = full[3]
    else:
        c, m, y_ink, k = full
    c, m, y_ink, k = (np.clip(np.round(p), 0, top)
                      for p in (c, m, y_ink, k))
    if adobe is None:
        # plain CMYK (no APP14): ink 0 = no coverage
        c, m, y_ink, k = top - c, top - m, top - y_ink, top - k
    return pack((c * k / top, m * k / top, y_ink * k / top))


def _decode_prog_scan(data: bytes, entropy_start: int, frame, geom,
                      scan_list, ss: int, se: int, ah: int, al: int,
                      dc_tables: dict, ac_tables: dict,
                      restart_interval: int, coefs_z: list) -> int:
    """Decode one progressive (SOF2) scan into ``coefs_z`` in place and
    return the absolute offset of the terminating marker.

    Implements T.81 §G.1.2 spectral selection + successive approximation:
    DC first/refine (point transform = arithmetic shift, refinement ORs in
    bit ``al``), AC first (EXTEND << al, EOBn run lengths), and AC
    refinement (correction bits at every nonzero-history coefficient passed
    during the zero-run descent, newly-nonzero values ±1<<al). Coefficients
    are stored two's-complement in zigzag order, so DC bit-OR refinement is
    exact for negative values. ``scan_list`` is [(comp_index, td, ta)] in
    SOS order; restart intervals split the unstuffed stream at the recorded
    RSTn offsets, resetting predictions and the EOB run."""
    w, h, comps, _prec = frame
    hmax, vmax, mcus_x, mcus_y = geom

    ns = len(scan_list)
    if ss == 0:
        if se != 0:
            raise JpegError("progressive DC scan must have Se == 0")
    else:
        if ns != 1:
            raise JpegError("progressive AC scan must be non-interleaved")
        if not (ss <= se <= 63):
            raise JpegError("bad spectral selection")
    if al > 13 or ah > 13:
        raise JpegError("bad successive-approximation bits")
    for ci, td, ta in scan_list:
        if ss == 0 and ah == 0 and td not in dc_tables:
            raise JpegError("scan references undefined DC Huffman table")
        if ss > 0 and ta not in ac_tables:
            raise JpegError("scan references undefined AC Huffman table")

    stream, rst_points, end_pos = _unstuff(data, entropy_start)
    if restart_interval and rst_points:
        bounds = rst_points + [len(stream)]
        segments = [stream[:rst_points[0]]] + [
            stream[a:b] for a, b in zip(rst_points, bounds[1:])]
    else:
        segments = [stream]
    seg_iter = iter(segments)
    reader = MsbReader(next(seg_iter), JpegError)

    p1 = 1 << al
    preds = [0] * len(comps)
    state = {"eobrun": 0}

    def maybe_restart(unit_idx: int) -> None:
        nonlocal reader
        if restart_interval and unit_idx and unit_idx % restart_interval == 0:
            nxt = next(seg_iter, None)
            if nxt is None:
                raise JpegError("missing restart segment")
            reader = MsbReader(nxt, JpegError)
            state["eobrun"] = 0
            for i in range(len(preds)):
                preds[i] = 0

    def refine_nonzero(row, k: int) -> None:
        # correction bit: add 1<<al toward larger magnitude if set and the
        # bit is not already present (two's-complement & matches C ints)
        if reader.read(1) and (int(row[k]) & p1) == 0:
            row[k] += p1 if row[k] >= 0 else -p1

    def dc_first(row, ci: int, dc_t) -> None:
        t = _huff_decode(reader, dc_t)
        if t > 15:
            raise JpegError(f"bad DC category {t}")
        diff = _extend(reader.read(t), t) if t else 0
        preds[ci] += diff
        row[0] = preds[ci] << al

    def dc_refine(row) -> None:
        if reader.read(1):
            row[0] = int(row[0]) | p1

    def ac_first(row, ac_t) -> None:
        if state["eobrun"] > 0:
            state["eobrun"] -= 1
            return
        k = ss
        while k <= se:
            rs = _huff_decode(reader, ac_t)
            r, s = rs >> 4, rs & 0x0F
            if s:
                k += r
                if k > se:
                    raise JpegError("AC run past band end")
                row[k] = _extend(reader.read(s), s) << al
                k += 1
            else:
                if r < 15:
                    state["eobrun"] = (1 << r) - 1
                    if r:
                        state["eobrun"] += reader.read(r)
                    return
                k += 16  # ZRL

    def ac_refine(row, ac_t) -> None:
        k = ss
        if state["eobrun"] == 0:
            while k <= se:
                rs = _huff_decode(reader, ac_t)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:
                        state["eobrun"] = 1 << r
                        if r:
                            state["eobrun"] += reader.read(r)
                        break
                    # r == 15 (ZRL): descend over 16 zero-history slots
                else:
                    if s != 1:
                        raise JpegError("invalid refinement magnitude")
                    newval = p1 if reader.read(1) else -p1
                # advance over nonzero-history coefficients (reading their
                # correction bits) and r still-zero coefficients
                while k <= se:
                    if row[k] != 0:
                        refine_nonzero(row, k)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    row[k] = newval
                k += 1
        if state["eobrun"] > 0:
            while k <= se:
                if row[k] != 0:
                    refine_nonzero(row, k)
                k += 1
            state["eobrun"] -= 1

    if ns > 1:
        # interleaved scan (DC bands only): MCU order, SOS component order
        n_mcus = mcus_x * mcus_y
        for n_mcu in range(n_mcus):
            maybe_restart(n_mcu)
            my, mx = divmod(n_mcu, mcus_x)
            for ci, td, ta in scan_list:
                _, hs, vs, _ = comps[ci]
                dc_t = dc_tables.get(td)
                carr = coefs_z[ci]
                for v in range(vs):
                    for u in range(hs):
                        row = carr[my * vs + v, mx * hs + u]
                        if ah == 0:
                            dc_first(row, ci, dc_t)
                        else:
                            dc_refine(row)
    else:
        # non-interleaved: the component's own (unpadded) block raster
        ci, td, ta = scan_list[0]
        _, hs, vs, _ = comps[ci]
        cw = -(-(w * hs) // hmax)
        ch = -(-(h * vs) // vmax)
        bw_c = -(-cw // 8)
        bh_c = -(-ch // 8)
        carr = coefs_z[ci]
        dc_t = dc_tables.get(td)
        ac_t = ac_tables.get(ta)
        for bidx in range(bw_c * bh_c):
            maybe_restart(bidx)
            by, bx = divmod(bidx, bw_c)
            row = carr[by, bx]
            if ss == 0:
                if ah == 0:
                    dc_first(row, ci, dc_t)
                else:
                    dc_refine(row)
            elif ah == 0:
                ac_first(row, ac_t)
            else:
                ac_refine(row, ac_t)
    return end_pos


# ---------------------------------------------------------------------------
# Encoder (baseline 4:4:4, standard Annex-K tables)
# ---------------------------------------------------------------------------

_STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]
# Annex K.3 standard Huffman specifications: (counts, symbols)
# 12-bit (extended-sequential) Huffman tables: Annex K's tables only
# cover 8-bit category ranges, so the 12-bit encoder emits simple wide
# canonical tables — DC categories 0..15 as sixteen 5-bit codes, AC
# (run,size) symbols with size 1..14 plus EOB/ZRL as 8-bit codes (226
# symbols < 255, so the forbidden all-ones code stays unused). Any
# consistent DHT is legal; the decoder reads whatever the stream carries.
_EXT12_DC = (
    bytes([0, 0, 0, 0, 16] + [0] * 11),
    bytes(range(16)),
)
_EXT12_AC = (
    bytes([0, 0, 0, 0, 0, 0, 0, 226] + [0] * 8),
    bytes(sorted([0x00, 0xF0] + [(r << 4) | s
                                 for r in range(16) for s in range(1, 15)])),
)

_STD_DC_LUMA = (
    bytes([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]),
    bytes(range(12)),
)
_STD_DC_CHROMA = (
    bytes([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]),
    bytes(range(12)),
)
_STD_AC_LUMA = (
    bytes([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]),
    bytes([
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
)
_STD_AC_CHROMA = (
    bytes([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]),
    bytes([
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ]),
)


def _encode_huffman_codes(counts: bytes, symbols: bytes) -> dict:
    """symbol → (code, length) — inverse of _build_huffman."""
    enc: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            enc[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return enc


def _close_segment(writer: MsbWriter, out: bytearray) -> None:
    """Append the entropy-coded bytes written so far to ``out``: the last
    byte padded with 1 bits, a 0x00 stuffed after each 0xFF (T.81
    F.1.2.3)."""
    writer.align(1)
    out += writer.out.replace(b"\xff", b"\xff\x00")
    writer.out.clear()


def _quality_scale(q: list, quality: int):
    import numpy as np

    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    t = np.maximum(1, np.minimum(255, (np.array(q) * s + 50) // 100))
    return t.astype(np.int64)


def _category(v: int) -> int:
    return abs(v).bit_length()


def jpeg_encode(pixels: bytes, width: int, height: int,
                channels: int = 3, quality: int = 90,
                restart_interval: int = 0, precision: int = 8,
                adobe_transform=0) -> bytes:
    """Raw interleaved RGB (or single-channel gray) samples, rows top-down
    → baseline 4:4:4 JFIF JPEG — the test-fixture inverse of
    :func:`jpeg_decode` (lossy: round-trips are close, not exact).
    ``restart_interval`` > 0 emits a DRI segment and RSTn markers every
    that many MCUs (exercises the decoder's restart resynchronization).
    ``precision=12`` takes little-endian u16 samples on the 0..4095
    lattice and writes an extended-sequential (SOF1) stream with
    wide-category Huffman tables — the archival-scan shape.
    ``channels=4`` takes CMYK samples (as stored) and writes a
    4-component stream: ``adobe_transform`` 0 emits an APP14 marker
    (Adobe inverted-ink convention), 2 emits YCCK (CMY forward-mapped
    through YCbCr), and None omits APP14 (plain CMYK) — the print-
    origin shapes :func:`jpeg_decode` converts back to RGB."""
    import numpy as np

    if channels not in (1, 3, 4):
        raise JpegError(f"unsupported channel count {channels}")
    if channels == 4 and adobe_transform not in (0, 2, None):
        raise JpegError(f"bad Adobe transform {adobe_transform} "
                        "for CMYK (0, 2 or None)")
    if precision not in (8, 12):
        raise JpegError(f"unsupported encode precision {precision}")
    if not (0 < width <= 65535 and 0 < height <= 65535):
        raise JpegError(f"dimensions {width}x{height} exceed u16 fields")
    sample_bytes = 1 if precision == 8 else 2
    if len(pixels) != width * height * channels * sample_bytes:
        raise JpegError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"want {width * height * channels * sample_bytes}")
    center = float(1 << (precision - 1))
    arr = np.frombuffer(
        pixels, dtype=np.uint8 if precision == 8 else "<u2").reshape(
        height, width, channels).astype(np.float64)
    if precision == 12 and arr.max(initial=0) > 4095:
        raise JpegError("12-bit sample above 4095")
    if channels >= 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        if channels == 4 and adobe_transform != 2:
            comps = [arr[..., c] for c in range(4)]  # CMYK as stored
        else:
            y = 0.299 * r + 0.587 * g + 0.114 * b
            cb = center - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = center + 0.5 * r - 0.418688 * g - 0.081312 * b
            comps = [y, cb, cr]
            if channels == 4:
                comps.append(arr[..., 3])  # K rides beside YCC (YCCK)
    else:
        comps = [arr[..., 0]]

    # the Annex-K literals above are in NATURAL (raster) order: use them
    # directly as the quantization matrices, and reorder to zigzag only
    # when serializing the DQT segments below (a previous revision wrote
    # them as-if-zigzag, scrambling the effective matrix — self-consistent
    # round trips hid it, but rate/quality diverged from the standard)
    ql = _quality_scale(_STD_LUMA_Q, quality)
    qc = _quality_scale(_STD_CHROMA_Q, quality)
    qmat = [np.asarray(q, dtype=np.float64).reshape(8, 8)
            for q in ([ql, qc] if channels >= 3 else [ql])]

    M = _dct_matrix()
    bw = 8 * (-(-width // 8))
    bh = 8 * (-(-height // 8))

    if precision == 8:
        dc_tabs = (_STD_DC_LUMA, _STD_DC_CHROMA)
        ac_tabs = (_STD_AC_LUMA, _STD_AC_CHROMA)
    else:
        # 12-bit DC categories reach 15 and AC sizes 14 — outside the
        # Annex-K (8-bit) tables, so emit simple wide canonical tables
        dc_tabs = (_EXT12_DC, _EXT12_DC)
        ac_tabs = (_EXT12_AC, _EXT12_AC)
    dc_enc = [_encode_huffman_codes(*dc_tabs[0]),
              _encode_huffman_codes(*dc_tabs[1])]
    ac_enc = [_encode_huffman_codes(*ac_tabs[0]),
              _encode_huffman_codes(*ac_tabs[1])]

    writer = MsbWriter()
    entropy = bytearray()
    preds = [0] * channels
    n_mcu = 0
    rst_idx = 0
    # pad planes by edge replication to full blocks
    padded = []
    for p in comps:
        pp = np.empty((bh, bw), dtype=np.float64)
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]
        pp[:, width:] = pp[:, width - 1:width]
        padded.append(pp - center)

    inv_zz = np.array(_ZIGZAG)
    for my in range(bh // 8):
        for mx in range(bw // 8):
            if restart_interval and n_mcu and n_mcu % restart_interval == 0:
                _close_segment(writer, entropy)
                entropy += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) % 8
                preds = [0] * channels
            n_mcu += 1
            for ci in range(channels):
                ti = 0 if ci == 0 else 1
                block = padded[ci][my * 8:my * 8 + 8, mx * 8:mx * 8 + 8]
                coef = M @ block @ M.T
                qz = np.round(coef / qmat[ti]).astype(np.int64)
                if precision == 12:
                    # T.81 caps 12-bit AC categories at 14 (±16383); a
                    # pathological block at quality ~100 could otherwise
                    # quantize past the table and KeyError mid-encode
                    qz.clip(-16383, 16383, out=qz)
                zz = qz.reshape(-1)[inv_zz]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                t = _category(diff)
                code, ln = dc_enc[ti][t]
                writer.write(code, ln)
                if t:
                    writer.write(diff if diff >= 0 else
                                 diff + (1 << t) - 1, t)
                run = 0
                last_nz = 0
                for k in range(63, 0, -1):
                    if zz[k]:
                        last_nz = k
                        break
                for k in range(1, last_nz + 1):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_enc[ti][0xF0]  # ZRL
                        writer.write(code, ln)
                        run -= 16
                    s = _category(v)
                    code, ln = ac_enc[ti][(run << 4) | s]
                    writer.write(code, ln)
                    writer.write(v if v >= 0 else v + (1 << s) - 1, s)
                    run = 0
                if last_nz < 63:
                    code, ln = ac_enc[ti][0x00]  # EOB
                    writer.write(code, ln)
    _close_segment(writer, entropy)

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(JPEG_SOI)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if channels == 4 and adobe_transform is not None:
        out += seg(0xEE, b"Adobe" + struct.pack(
            ">HHHB", 100, 0, 0, adobe_transform))
    zl = bytes(int(ql[_ZIGZAG[i]]) for i in range(64))
    out += seg(0xDB, b"\x00" + zl)
    if channels >= 3:
        zc = bytes(int(qc[_ZIGZAG[i]]) for i in range(64))
        out += seg(0xDB, b"\x01" + zc)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sof = struct.pack(">BHHB", precision, height, width, channels)
    for c in range(channels):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    # 12-bit is formally extended-sequential → SOF1 (T.81 table B.1)
    out += seg(0xC0 if precision == 8 else 0xC1, sof)
    out += seg(0xC4, b"\x00" + dc_tabs[0][0] + dc_tabs[0][1])
    out += seg(0xC4, b"\x10" + ac_tabs[0][0] + ac_tabs[0][1])
    if channels >= 3:
        out += seg(0xC4, b"\x01" + dc_tabs[1][0] + dc_tabs[1][1])
        out += seg(0xC4, b"\x11" + ac_tabs[1][0] + ac_tabs[1][1])
    sos = bytes([channels])
    for c in range(channels):
        sos += bytes([c + 1, 0x00 if c == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Progressive encoder (test fixture for the SOF2 decode path)
# ---------------------------------------------------------------------------

def _quantized_planes(pixels: bytes, width: int, height: int,
                      channels: int, quality: int, precision: int = 8):
    """Raw samples → per-component quantized coefficient arrays of shape
    (blocks_y, blocks_x, 64) in ZIGZAG order (4:4:4, same color transform,
    padding, DCT and quantization as the baseline encoder — so a baseline
    and a progressive encode of the same pixels decode identically)."""
    import numpy as np

    center = float(1 << (precision - 1))
    arr = np.frombuffer(
        pixels, dtype=np.uint8 if precision == 8 else "<u2").reshape(
        height, width, channels).astype(np.float64)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = center - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = center + 0.5 * r - 0.418688 * g - 0.081312 * b
        comps = [y, cb, cr]
    else:
        comps = [arr[..., 0]]
    ql = _quality_scale(_STD_LUMA_Q, quality)
    qc = _quality_scale(_STD_CHROMA_Q, quality)
    qmat = [np.asarray(q, dtype=np.float64).reshape(8, 8)
            for q in ([ql, qc] if channels == 3 else [ql])]
    M = _dct_matrix()
    bw = 8 * (-(-width // 8))
    bh = 8 * (-(-height // 8))
    planes = []
    for ci, p in enumerate(comps):
        pp = np.empty((bh, bw), dtype=np.float64)
        pp[:height, :width] = p
        pp[height:, :width] = p[-1:, :]
        pp[:, width:] = pp[:, width - 1:width]
        pp -= center
        blocks = (pp.reshape(bh // 8, 8, bw // 8, 8)
                  .transpose(0, 2, 1, 3))  # (by, bx, 8, 8)
        coef = M @ blocks @ M.T
        qz = np.round(coef / qmat[0 if ci == 0 else 1]).astype(np.int64)
        if precision == 12:
            qz.clip(-16383, 16383, out=qz)  # T.81 12-bit category cap
        planes.append(qz.reshape(bh // 8, bw // 8, 64)[:, :, _ZIGZAG])
    return planes, ql, qc


def _uniform_huffman(symbols: set) -> tuple[bytes, bytes, dict]:
    """All used symbols at one canonical code length L with 2**L > n, so
    the all-ones code is never assigned — (counts16, symbols, sym→(code,
    len)). Rate-suboptimal on purpose: the encoder is a test fixture."""
    syms = sorted(symbols) or [0x00]
    n = len(syms)
    length = 1
    while (1 << length) <= n:
        length += 1
    counts = bytearray(16)
    counts[length - 1] = n
    enc = {s: (i, length) for i, s in enumerate(syms)}
    return bytes(counts), bytes(syms), enc


def jpeg_encode_progressive(pixels: bytes, width: int, height: int,
                            channels: int = 3, quality: int = 90,
                            restart_interval: int = 0,
                            precision: int = 8) -> bytes:
    """Progressive (SOF2) JFIF encoder mirroring the T.81 §G.1.2 decoder
    bit placement exactly: an interleaved DC-first scan (Al=1), per-
    component AC spectral-selection scans at Al=2, AC successive-
    approximation refinements (Ah=2→1 then 1→0) with correction bits laid
    out by simulating the decoder's zero-run descent, cross-block EOBn runs
    in AC-first scans, and a final DC refinement scan. Quantization matches
    :func:`jpeg_encode`, so ``jpeg_decode`` of the two encodings of the
    same pixels is byte-identical — the round-trip test that pins every
    progressive decode path. Per-scan Huffman tables are rebuilt from the
    symbols the scan actually uses (exercising DHT redefinition between
    scans). ``restart_interval`` > 0 inserts RSTn markers in every scan."""
    import struct as _struct

    if channels not in (1, 3):
        raise JpegError(f"unsupported channel count {channels}")
    if not (0 < width <= 65535 and 0 < height <= 65535):
        raise JpegError(f"dimensions {width}x{height} exceed u16 fields")
    if precision not in (8, 12):
        raise JpegError(f"unsupported encode precision {precision}")
    sample_bytes = 1 if precision == 8 else 2
    if len(pixels) != width * height * channels * sample_bytes:
        raise JpegError(
            f"pixel buffer is {len(pixels)} bytes, "
            f"want {width * height * channels * sample_bytes}")
    planes, ql, qc = _quantized_planes(pixels, width, height,
                                       channels, quality, precision)
    by, bx = planes[0].shape[0], planes[0].shape[1]

    def tid_of(ci: int) -> int:
        return 0 if ci == 0 else 1

    def dc_scan_ops(comp_ids, al_: int, refine: bool) -> list:
        ops = []
        preds = {ci: 0 for ci in comp_ids}
        n_mcu = 0
        for yy in range(by):
            for xx in range(bx):
                if restart_interval and n_mcu and \
                        n_mcu % restart_interval == 0:
                    ops.append(("rst",))
                    for ci in comp_ids:
                        preds[ci] = 0
                n_mcu += 1
                for ci in comp_ids:
                    v = int(planes[ci][yy, xx, 0])
                    if refine:
                        ops.append(("b", (v >> al_) & 1, 1))
                        continue
                    sv = v >> al_  # DC point transform: arithmetic shift
                    diff = sv - preds[ci]
                    preds[ci] = sv
                    t = _category(diff)
                    ops.append(("s", 0, tid_of(ci), t))
                    if t:
                        ops.append(("b", diff if diff >= 0 else
                                    diff + (1 << t) - 1, t))
        return ops

    def ac_first_ops(ci: int, ss: int, se: int, al_: int) -> list:
        ops = []
        tid = tid_of(ci)
        pending = [0]

        def flush_eob():
            while pending[0]:
                r = min(14, pending[0].bit_length() - 1)
                run = min(pending[0], (1 << (r + 1)) - 1)
                ops.append(("s", 1, tid, r << 4))
                if r:
                    ops.append(("b", run - (1 << r), r))
                pending[0] -= run

        n_blk = 0
        for yy in range(by):
            for xx in range(bx):
                if restart_interval and n_blk and \
                        n_blk % restart_interval == 0:
                    flush_eob()
                    ops.append(("rst",))
                n_blk += 1
                row = planes[ci][yy, xx]
                band = []
                for k in range(ss, se + 1):
                    v = int(row[k])
                    a = abs(v) >> al_
                    band.append(a if v >= 0 else -a)
                last = -1
                for i, v in enumerate(band):
                    if v:
                        last = i
                if last < 0:
                    pending[0] += 1
                    continue
                flush_eob()
                run = 0
                for i in range(last + 1):
                    v = band[i]
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ops.append(("s", 1, tid, 0xF0))
                        run -= 16
                    s = _category(v)
                    ops.append(("s", 1, tid, (run << 4) | s))
                    ops.append(("b", v if v >= 0 else
                                v + (1 << s) - 1, s))
                    run = 0
                if last < len(band) - 1:
                    pending[0] += 1
        flush_eob()
        return ops

    def ac_refine_ops(ci: int, ss: int, se: int, ah_: int,
                      al_: int) -> list:
        # mirrors the decoder's descent exactly; EOB0 per block (no
        # cross-block EOB runs — their buffered correction bits aren't
        # worth the complexity in a fixture encoder)
        ops = []
        tid = tid_of(ci)
        n_blk = 0
        for yy in range(by):
            for xx in range(bx):
                if restart_interval and n_blk and \
                        n_blk % restart_interval == 0:
                    ops.append(("rst",))
                n_blk += 1
                row = planes[ci][yy, xx]
                vals = [int(row[k]) for k in range(ss, se + 1)]
                hist = [abs(v) >> ah_ != 0 for v in vals]
                corr = [(abs(v) >> al_) & 1 for v in vals]
                newly = [i for i, v in enumerate(vals)
                         if not hist[i] and (abs(v) >> al_) == 1]
                n = len(vals)
                k = 0
                for nk in newly:
                    while True:
                        nzeros = sum(1 for j in range(k, nk)
                                     if not hist[j])
                        if nzeros <= 15:
                            break
                        ops.append(("s", 1, tid, 0xF0))
                        cnt = 0
                        j = k
                        while cnt < 16:
                            if hist[j]:
                                ops.append(("b", corr[j], 1))
                            else:
                                cnt += 1
                            j += 1
                        k = j
                    ops.append(("s", 1, tid, (nzeros << 4) | 1))
                    ops.append(("b", 1 if vals[nk] > 0 else 0, 1))
                    for j in range(k, nk):
                        if hist[j]:
                            ops.append(("b", corr[j], 1))
                    k = nk + 1
                if k < n:
                    ops.append(("s", 1, tid, 0x00))
                    for j in range(k, n):
                        if hist[j]:
                            ops.append(("b", corr[j], 1))
        return ops

    # scan script: DC first (Al=1) → AC bands (Al=2) → AC refines
    # (2→1, 1→0) → DC refine
    all_comps = list(range(channels))
    scans = [(all_comps, 0, 0, 0, 1, dc_scan_ops(all_comps, 1, False))]
    for ci in all_comps:
        scans.append(([ci], 1, 5, 0, 2, ac_first_ops(ci, 1, 5, 2)))
    for ci in all_comps:
        scans.append(([ci], 6, 63, 0, 2, ac_first_ops(ci, 6, 63, 2)))
    for ci in all_comps:
        scans.append(([ci], 1, 63, 2, 1, ac_refine_ops(ci, 1, 63, 2, 1)))
    for ci in all_comps:
        scans.append(([ci], 1, 63, 1, 0, ac_refine_ops(ci, 1, 63, 1, 0)))
    scans.append((all_comps, 0, 0, 1, 0, dc_scan_ops(all_comps, 0, True)))

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + _struct.pack(
            ">H", len(body) + 2) + body

    out = bytearray(JPEG_SOI)
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    zl = bytes(int(ql[_ZIGZAG[i]]) for i in range(64))
    out += seg(0xDB, b"\x00" + zl)
    if channels == 3:
        zc = bytes(int(qc[_ZIGZAG[i]]) for i in range(64))
        out += seg(0xDB, b"\x01" + zc)
    if restart_interval:
        out += seg(0xDD, _struct.pack(">H", restart_interval))
    sof = _struct.pack(">BHHB", precision, height, width, channels)
    for c in range(channels):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += seg(0xC2, sof)

    for comp_ids, ss, se, ah, al, ops in scans:
        # per-scan Huffman tables from the symbols actually used
        used: dict[tuple[int, int], set] = {}
        for op in ops:
            if op[0] == "s":
                used.setdefault((op[1], op[2]), set()).add(op[3])
        # a scan that huff-decodes needs its table defined even if the
        # op stream happens to be symbol-free
        if ss == 0 and ah == 0:
            for ci in comp_ids:
                used.setdefault((0, tid_of(ci)), set())
        elif ss > 0:
            for ci in comp_ids:
                used.setdefault((1, tid_of(ci)), set())
        enc: dict[tuple[int, int], dict] = {}
        for (tc, th), syms in sorted(used.items()):
            counts, symbols, table = _uniform_huffman(syms)
            out += seg(0xC4, bytes([(tc << 4) | th]) + counts + symbols)
            enc[(tc, th)] = table
        sos = bytes([len(comp_ids)])
        for ci in comp_ids:
            t = tid_of(ci)
            sos += bytes([ci + 1, (t << 4) | t])
        sos += bytes([ss, se, (ah << 4) | al])
        out += seg(0xDA, sos)
        writer = MsbWriter()
        rst_idx = 0
        for op in ops:
            if op[0] == "s":
                code, ln = enc[(op[1], op[2])][op[3]]
                writer.write(code, ln)
            elif op[0] == "b":
                writer.write(op[1], op[2])
            else:  # rst
                _close_segment(writer, out)
                out += bytes([0xFF, 0xD0 + rst_idx])
                rst_idx = (rst_idx + 1) % 8
        _close_segment(writer, out)
    out += b"\xff\xd9"
    return bytes(out)
