"""CCITT Group 3 / Group 4 fax codec (ITU-T T.4 / T.6) — pure stdlib.

Scanned-document corpora — the core extraction workload — ship bilevel
pages as G4-compressed TIFF more than any other encoding (it is the
default output of office scanners and fax archives). The reference
never decodes media (it base64s embedded bytes verbatim,
docx.go:196-198), so this codec is part of this repo's training-data
pipeline surface, consumed by ops/tiffcodec for TIFF compressions
2 (Modified Huffman), 3 (T.4 Group 3 1-D with EOLs) and 4 (T.6
Group 4 two-dimensional MMR).

Written from the public ITU-T tables:

- T.4 §2 terminating (0..63) + make-up (64..1728) run-length codes for
  white and black, plus the shared extended make-ups (1792..2560)
- T.4 §2.2.4 / T.6 §4.2 two-dimensional modes: vertical V(0|±1|±2|±3),
  horizontal (001 + two 1-D runs), pass (0001)
- the G4 reference-line algorithm over changing elements (a0, a1, a2,
  b1, b2) with the imaginary all-white line above row 0

Decode returns one byte per pixel, 0 = white run / 1 = black run (the
CCITT color domain; the caller applies PhotometricInterpretation).
Encoders are the exact fixture inverses, which is what lets round-trip
tests and the driver's SQL pixel oracle pin a REAL bit-level decode.

Hostile input raises :class:`FaxError` (the poison-pill contract):
codes outside the tables, runs overrunning the row, streams ending
mid-row, and oversized dimensions are all typed errors, never crashes.
"""
from __future__ import annotations

from .bitio import MsbReader

MAX_FAX_PIXELS = 1 << 26


class FaxError(ValueError):
    """Malformed / hostile CCITT bitstream."""


# ---------------------------------------------------------------- tables
# (run_length, code_as_bit_string) straight from ITU-T T.4 tables 2/3/4.
_WHITE = [
    (0, "00110101"), (1, "000111"), (2, "0111"), (3, "1000"),
    (4, "1011"), (5, "1100"), (6, "1110"), (7, "1111"),
    (8, "10011"), (9, "10100"), (10, "00111"), (11, "01000"),
    (12, "001000"), (13, "000011"), (14, "110100"), (15, "110101"),
    (16, "101010"), (17, "101011"), (18, "0100111"), (19, "0001100"),
    (20, "0001000"), (21, "0010111"), (22, "0000011"), (23, "0000100"),
    (24, "0101000"), (25, "0101011"), (26, "0010011"), (27, "0100100"),
    (28, "0011000"), (29, "00000010"), (30, "00000011"),
    (31, "00011010"), (32, "00011011"), (33, "00010010"),
    (34, "00010011"), (35, "00010100"), (36, "00010101"),
    (37, "00010110"), (38, "00010111"), (39, "00101000"),
    (40, "00101001"), (41, "00101010"), (42, "00101011"),
    (43, "00101100"), (44, "00101101"), (45, "00000100"),
    (46, "00000101"), (47, "00001010"), (48, "00001011"),
    (49, "01010010"), (50, "01010011"), (51, "01010100"),
    (52, "01010101"), (53, "00100100"), (54, "00100101"),
    (55, "01011000"), (56, "01011001"), (57, "01011010"),
    (58, "01011011"), (59, "01001010"), (60, "01001011"),
    (61, "00110010"), (62, "00110011"), (63, "00110100"),
    # make-up codes
    (64, "11011"), (128, "10010"), (192, "010111"), (256, "0110111"),
    (320, "00110110"), (384, "00110111"), (448, "01100100"),
    (512, "01100101"), (576, "01101000"), (640, "01100111"),
    (704, "011001100"), (768, "011001101"), (832, "011010010"),
    (896, "011010011"), (960, "011010100"), (1024, "011010101"),
    (1088, "011010110"), (1152, "011010111"), (1216, "011011000"),
    (1280, "011011001"), (1344, "011011010"), (1408, "011011011"),
    (1472, "010011000"), (1536, "010011001"), (1600, "010011010"),
    (1664, "011000"), (1728, "010011011"),
]

_BLACK = [
    (0, "0000110111"), (1, "010"), (2, "11"), (3, "10"),
    (4, "011"), (5, "0011"), (6, "0010"), (7, "00011"),
    (8, "000101"), (9, "000100"), (10, "0000100"), (11, "0000101"),
    (12, "0000111"), (13, "00000100"), (14, "00000111"),
    (15, "000011000"), (16, "0000010111"), (17, "0000011000"),
    (18, "0000001000"), (19, "00001100111"), (20, "00001101000"),
    (21, "00001101100"), (22, "00000110111"), (23, "00000101000"),
    (24, "00000010111"), (25, "00000011000"), (26, "000011001010"),
    (27, "000011001011"), (28, "000011001100"), (29, "000011001101"),
    (30, "000001101000"), (31, "000001101001"), (32, "000001101010"),
    (33, "000001101011"), (34, "000011010010"), (35, "000011010011"),
    (36, "000011010100"), (37, "000011010101"), (38, "000011010110"),
    (39, "000011010111"), (40, "000001101100"), (41, "000001101101"),
    (42, "000011011010"), (43, "000011011011"), (44, "000001010100"),
    (45, "000001010101"), (46, "000001010110"), (47, "000001010111"),
    (48, "000001100100"), (49, "000001100101"), (50, "000001010010"),
    (51, "000001010011"), (52, "000000100100"), (53, "000000110111"),
    (54, "000000111000"), (55, "000000100111"), (56, "000000101000"),
    (57, "000001011000"), (58, "000001011001"), (59, "000000101011"),
    (60, "000000101100"), (61, "000001011010"), (62, "000001100110"),
    (63, "000001100111"),
    # make-up codes
    (64, "0000001111"), (128, "000011001000"), (192, "000011001001"),
    (256, "000001011011"), (320, "000000110011"), (384, "000000110100"),
    (448, "000000110101"), (512, "0000001101100"), (576, "0000001101101"),
    (640, "0000001001010"), (704, "0000001001011"), (768, "0000001001100"),
    (832, "0000001001101"), (896, "0000001110010"), (960, "0000001110011"),
    (1024, "0000001110100"), (1088, "0000001110101"),
    (1152, "0000001110110"), (1216, "0000001110111"),
    (1280, "0000001010010"), (1344, "0000001010011"),
    (1408, "0000001010100"), (1472, "0000001010101"),
    (1536, "0000001011010"), (1600, "0000001011011"),
    (1664, "0000001100100"), (1728, "0000001100101"),
]

# extended make-ups 1792..2560 are shared between white and black (T.4 §2)
_EXT = [
    (1792, "00000001000"), (1856, "00000001100"), (1920, "00000001101"),
    (1984, "000000010010"), (2048, "000000010011"),
    (2112, "000000010100"), (2176, "000000010101"),
    (2240, "000000010110"), (2304, "000000010111"),
    (2368, "000000011100"), (2432, "000000011101"),
    (2496, "000000011110"), (2560, "000000011111"),
]

_EOL = "000000000001"

# 2-D mode codes (T.4 table 4 / T.6 §4.2.1)
_MODE_P = "0001"
_MODE_H = "001"
_MODE_V = {0: "1", 1: "011", -1: "010", 2: "000011", -2: "000010",
           3: "0000011", -3: "0000010"}

# decode dictionaries keyed by (bit_length, code_value)
def _build(table):
    enc: dict[int, str] = {}
    dec: dict[tuple[int, int], int] = {}
    for run, code in table:
        enc[run] = code
        dec[(len(code), int(code, 2))] = run
    return enc, dec


_WHITE_ENC, _WHITE_DEC = _build(_WHITE + _EXT)
_BLACK_ENC, _BLACK_DEC = _build(_BLACK + _EXT)
_MODE_DEC = {(len(c), int(c, 2)): d for d, c in _MODE_V.items()}
_MODE_DEC[(len(_MODE_H), int(_MODE_H, 2))] = "H"
_MODE_DEC[(len(_MODE_P), int(_MODE_P, 2))] = "P"
_MAX_RUN_CODE_LEN = 13   # longest run code (black make-ups)
_MAX_MODE_CODE_LEN = 7   # longest vertical code


def _read_run(br: MsbReader, white: bool, max_run: int) -> int:
    """One complete run length: zero or more make-ups + one terminating
    code (make-ups are multiples of 64; terminating codes are 0..63).
    ``max_run`` (the row width) bounds the make-up chain — a legal run
    of W pixels needs at most W//2560 + 1 make-ups."""
    dec = _WHITE_DEC if white else _BLACK_DEC
    total = 0
    while True:
        length = 0
        value = 0
        run = None
        while length < _MAX_RUN_CODE_LEN:
            value = (value << 1) | br.read(1)
            length += 1
            run = dec.get((length, value))
            if run is not None:
                break
        if run is None:
            raise FaxError(
                f"invalid {'white' if white else 'black'} run code "
                f"{value:0{length}b}")
        total += run
        if total > max_run:
            raise FaxError("fax run exceeds the row width")
        if run < 64:  # terminating code ends the run
            return total


def _read_mode(br: MsbReader):
    length = 0
    value = 0
    while length < _MAX_MODE_CODE_LEN:
        value = (value << 1) | br.read(1)
        length += 1
        mode = _MODE_DEC.get((length, value))
        if mode is not None:
            return mode
    # 0000000... prefix: EOL / EOFB / extension territory
    raise FaxError(f"invalid 2-D mode code {value:0{length}b}")


def _transitions(row: bytearray) -> list[int]:
    """Positions where the color changes, starting from white; the k-th
    transition starts a black run for even k, white for odd k."""
    out = []
    prev = 0
    for x, v in enumerate(row):
        if v != prev:
            out.append(x)
            prev = v
    return out


def _decode_2d_row(br: MsbReader, ref: list[int],
                   width: int) -> tuple[bytearray, list[int]]:
    """Decode ONE two-dimensionally coded line against the reference
    line's changing elements — the walk shared verbatim by T.6 (G4,
    every line) and T.4 2-D (G3, lines whose EOL tag bit is 0)."""
    from bisect import bisect_right

    row = bytearray(width)
    a0 = -1
    color = 0  # 0 white, 1 black
    cur: list[int] = []
    while a0 < width:
        # b1: first changing element on ref line right of a0 with
        # color opposite to a0's color (black-start = even index)
        idx = bisect_right(ref, a0)
        if (idx & 1) != color:
            # parity mismatch: the element at idx starts the WRONG
            # color; the next one starts the right color
            idx += 1
        b1 = ref[idx] if idx < len(ref) else width
        b2 = ref[idx + 1] if idx + 1 < len(ref) else width
        mode = _read_mode(br)
        if mode == "P":
            if color:
                row[max(a0, 0):b2] = b"\x01" * (b2 - max(a0, 0))
            a0 = b2
        elif mode == "H":
            start = max(a0, 0)
            r1 = _read_run(br, white=color == 0, max_run=width)
            r2 = _read_run(br, white=color == 1, max_run=width)
            a1 = start + r1
            a2 = a1 + r2
            if a2 > width or a1 > width:
                raise FaxError("horizontal runs overrun the row")
            if color:
                row[start:a1] = b"\x01" * (a1 - start)
            else:
                row[a1:a2] = b"\x01" * (a2 - a1)
            if a1 < width:
                cur.append(a1)
            if a2 < width:
                cur.append(a2)
            a0 = a2
        else:  # vertical mode, delta in -3..3
            a1 = b1 + mode
            if a1 < 0 or a1 > width:
                raise FaxError("vertical mode outside the row")
            if color:
                row[max(a0, 0):a1] = b"\x01" * (a1 - max(a0, 0))
            if a1 < width:
                cur.append(a1)
            a0 = a1
            color ^= 1
    if len(cur) > 1 and any(cur[k] >= cur[k + 1]
                            for k in range(len(cur) - 1)):
        raise FaxError("non-monotonic changing elements")
    return row, cur


def g4_decode(data: bytes, width: int, height: int, *,
              byte_align: bool = False) -> bytes:
    """T.6 (Group 4 MMR) → one byte per pixel (0 white / 1 black),
    row-major, ``width*height`` bytes. Trailing EOFB is tolerated.
    ``byte_align`` is PDF CCITTFaxDecode's /EncodedByteAlign: each
    coded line starts on a byte boundary."""
    if width < 1 or height < 1 or width * height > MAX_FAX_PIXELS:
        raise FaxError(f"bad fax dimensions {width}x{height}")
    br = MsbReader(data, FaxError)
    out = bytearray()
    ref: list[int] = []  # changing elements of the reference line
    for _y in range(height):
        if byte_align:
            br.align()
        row, cur = _decode_2d_row(br, ref, width)
        out += row
        ref = cur
    return bytes(out)


def g4_encode(pixels: bytes, width: int, height: int) -> bytes:
    """One byte per pixel (0/1) → T.6 stream + EOFB, byte-padded. The
    exact fixture inverse of :func:`g4_decode`."""
    if width < 1 or height < 1 or len(pixels) != width * height:
        raise FaxError("pixel buffer does not match dimensions")
    bits: list[str] = []
    ref: list[int] = []
    for y in range(height):
        cur = _row_transitions(pixels, y, width)
        _encode_2d_row(bits, cur, ref, width)
        ref = cur
    bits.append(_EOL + _EOL)  # EOFB
    return _pack_bits("".join(bits))


def _row_transitions(pixels: bytes, y: int, width: int) -> list[int]:
    row = bytearray(pixels[y * width:(y + 1) * width])
    if any(v not in (0, 1) for v in row):
        raise FaxError("fax pixels must be 0 or 1")
    return _transitions(row)


def _encode_2d_row(bits: list[str], cur: list[int], ref: list[int],
                   width: int) -> None:
    """Emit ONE two-dimensionally coded line (changing elements ``cur``)
    against the reference line ``ref`` — shared by G4 and G3 2-D."""
    from bisect import bisect_right

    a0 = -1
    color = 0
    while a0 < width:
        # a1: next changing element on the coding line right of a0
        j = bisect_right(cur, a0 if a0 >= 0 else -1)
        # a1 must start the OPPOSITE color of the current color;
        # transitions alternate black,white,black,... so parity fixes it
        if j < len(cur) and (j & 1) != color:
            j += 1
        a1 = cur[j] if j < len(cur) else width
        idx = bisect_right(ref, a0)
        if (idx & 1) != color:
            idx += 1
        b1 = ref[idx] if idx < len(ref) else width
        b2 = ref[idx + 1] if idx + 1 < len(ref) else width
        if b2 < a1:
            bits.append(_MODE_P)
            a0 = b2
        elif abs(a1 - b1) <= 3:
            bits.append(_MODE_V[a1 - b1])
            a0 = a1
            color ^= 1
        else:
            # horizontal: two runs from max(a0,0)
            j2 = bisect_right(cur, a1 if a1 >= 0 else -1)
            if j2 < len(cur) and (j2 & 1) == color:
                j2 += 1
            a2 = cur[j2] if j2 < len(cur) else width
            start = max(a0, 0)
            bits.append(_MODE_H)
            bits.append(_encode_run(a1 - start, white=color == 0))
            bits.append(_encode_run(a2 - a1, white=color == 1))
            a0 = a2


def _encode_run(run: int, white: bool) -> str:
    enc = _WHITE_ENC if white else _BLACK_ENC
    out = []
    while run >= 2624:  # 2560 + 63: repeat the largest make-up
        out.append(enc[2560])
        run -= 2560
    if run >= 64:
        # make-ups exist for every multiple of 64 up to 2560
        out.append(enc[run - run % 64])
        run %= 64
    out.append(enc[run])
    return "".join(out)


def _pack_bits(s: str) -> bytes:
    pad = (-len(s)) % 8
    s += "0" * pad
    return bytes(int(s[k:k + 8], 2) for k in range(0, len(s), 8))


def mh_decode(data: bytes, width: int, height: int, *,
              eol: bool = False, byte_align: bool = True) -> bytes:
    """T.4 one-dimensional Modified Huffman → one byte per pixel.

    ``eol=False`` is TIFF compression 2 (each row starts on a byte
    boundary, no EOL codes); ``eol=True`` is TIFF compression 3 with
    T4Options=0 (an EOL precedes every row, fill bits tolerated).
    ``eol=False, byte_align=False`` is PDF CCITTFaxDecode K=0 without
    /EncodedByteAlign: rows are packed back-to-back with no alignment;
    an EOL marker at a row start is consumed if present (PDF's
    /EndOfLine is optional, and 000000000001 is reserved by T.4 — no
    run code collides with it)."""
    if width < 1 or height < 1 or width * height > MAX_FAX_PIXELS:
        raise FaxError(f"bad fax dimensions {width}x{height}")
    br = MsbReader(data, FaxError)
    out = bytearray()
    for y in range(height):
        if eol:
            _scan_eol(br, y)
        elif byte_align:
            if y:
                br.align()
        else:
            while br.bits_left() >= 12 and br.peek(12) == 1:
                br.consume(12)
        out += _decode_1d_row(br, width, y)
    return bytes(out)


def _scan_eol(br: MsbReader, y: int) -> None:
    """Scan forward over fill bits to the 000000000001 EOL marker. T.4
    fill (inserted to meet minimum scan-line transmission time in real
    fax captures) is UNBOUNDED zero bits — consumption is naturally
    bounded by the stream length."""
    while br.peek(12) != 1:
        if br.bits_left() < 12:
            raise FaxError(f"missing EOL before row {y}")
        if br.read(1):
            raise FaxError("non-zero fill bit before EOL")
    br.consume(12)


def _decode_1d_row(br: MsbReader, width: int, y: int) -> bytearray:
    row = bytearray(width)
    x = 0
    white = True
    while x < width:
        run = _read_run(br, white, max_run=width)
        if x + run > width:
            raise FaxError(f"run overruns row {y}")
        if not white:
            row[x:x + run] = b"\x01" * run
        x += run
        white = not white
    return row


def g3_2d_decode(data: bytes, width: int, height: int) -> bytes:
    """T.4 two-dimensional Group 3 (TIFF compression 3 with T4Options
    bit 0 set) → one byte per pixel. Every row is preceded by an EOL
    (fill bits tolerated) plus the T.4 §2.2.4 tag bit: 1 = the row is
    1-D (MH) coded, 0 = 2-D coded against the previous row — the same
    vertical/horizontal/pass walk as G4."""
    if width < 1 or height < 1 or width * height > MAX_FAX_PIXELS:
        raise FaxError(f"bad fax dimensions {width}x{height}")
    br = MsbReader(data, FaxError)
    out = bytearray()
    ref: list[int] = []
    for y in range(height):
        _scan_eol(br, y)
        if br.read(1):  # tag bit 1 → 1-D line
            row = _decode_1d_row(br, width, y)
            cur = _transitions(row)
        else:              # tag bit 0 → 2-D line vs the previous row
            if y == 0:
                raise FaxError("first G3 2-D row has no reference line")
            row, cur = _decode_2d_row(br, ref, width)
        out += row
        ref = cur
    return bytes(out)


def g3_2d_encode(pixels: bytes, width: int, height: int, *,
                 k: int = 4) -> bytes:
    """One byte per pixel (0/1) → T.4 2-D stream (the fixture inverse of
    :func:`g3_2d_decode`): every ``k``-th row is 1-D coded (the T.4
    K-parameter error-containment rhythm), the rest 2-D against the
    previous row."""
    if width < 1 or height < 1 or len(pixels) != width * height:
        raise FaxError("pixel buffer does not match dimensions")
    if k < 1:
        raise FaxError(f"bad K parameter {k}")
    bits: list[str] = []
    ref: list[int] = []
    for y in range(height):
        cur = _row_transitions(pixels, y, width)
        one_d = y % k == 0
        bits.append(_EOL + ("1" if one_d else "0"))
        if one_d:
            _emit_1d_row(bits, pixels[y * width:(y + 1) * width], width)
        else:
            _encode_2d_row(bits, cur, ref, width)
        ref = cur
    bits.append(_EOL + "1")  # trailing EOL keeps strict readers happy
    return _pack_bits("".join(bits))


def _emit_1d_row(bits: list[str], row: bytes, width: int) -> None:
    """Append one T.4 1-D (MH) coded line's run codes — shared by
    mh_encode and g3_2d_encode's tagged 1-D lines."""
    x = 0
    white = True
    while x < width:
        run = 0
        want = 0 if white else 1
        while x + run < width and row[x + run] == want:
            run += 1
        bits.append(_encode_run(run, white))
        x += run
        white = not white


def mh_encode(pixels: bytes, width: int, height: int, *,
              eol: bool = False, byte_align: bool = True) -> bytes:
    """One byte per pixel (0/1) → T.4 1-D stream (the fixture inverse of
    :func:`mh_decode`, same ``eol``/``byte_align`` conventions —
    ``eol=False, byte_align=False`` packs rows back-to-back, the PDF
    CCITTFaxDecode K=0 default)."""
    if width < 1 or height < 1 or len(pixels) != width * height:
        raise FaxError("pixel buffer does not match dimensions")
    chunks: list[str] = []
    for y in range(height):
        row = pixels[y * width:(y + 1) * width]
        if any(v not in (0, 1) for v in row):
            raise FaxError("fax pixels must be 0 or 1")
        bits = [_EOL] if eol else []
        _emit_1d_row(bits, row, width)
        s = "".join(bits)
        if not eol and byte_align:
            s += "0" * ((-len(s)) % 8)  # rows byte-aligned (compression 2)
        chunks.append(s)
    stream = "".join(chunks)
    if eol:
        stream += _EOL  # RTC-style trailing EOL keeps strict readers happy
    return _pack_bits(stream)
