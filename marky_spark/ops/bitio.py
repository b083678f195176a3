"""Bit-stream I/O shared by the codecs: one MSB-first and one LSB-first
reader, their two writers, and one LZW coder.

- MSB-first (the first bit of a field is a byte's high bit): JPEG entropy
  data, CCITT fax, FLAC frames, TIFF and PDF LZW.
- LSB-first (the first bit is a byte's low bit): WebP lossless (VP8L) and
  GIF LZW.

Readers buffer whole bytes in an int accumulator, so a field costs a
shift and a mask rather than a loop over its bits. ``peek(n)`` shows the
next n bits, zero-padded past the end of data (a Huffman lookup may look
past the last code); ``consume(n)`` drops n bits a peek has buffered.
``read``/``consume`` raise the ``error`` class the caller passes when the
stream runs out, so a truncated stream stays typed as the codec's own
error (``FaxError``, ``FlacError``, ``JpegError``, ...). The MSB
reader's ``tell`` and ``seek`` work in absolute bit positions.

Format rules stay with their codecs: JPEG's 0xFF stuffing and 1-bit
padding, WebP's bit-reversed prefix codes, FLAC's CRC spans.
"""

from __future__ import annotations

_FILL = 8  # bytes a reader buffers per refill: any field up to 64 bits

_TRUNCATED = "bit stream truncated"

_MASK = tuple((1 << n) - 1 for n in range(65))


class MsbReader:
    """MSB-first bit reader over ``data`` raising ``error`` on
    exhaustion."""

    __slots__ = ("data", "pos", "acc", "nbits", "error")

    def __init__(self, data: bytes, error: type[Exception]):
        self.data = data
        self.pos = 0      # next byte to buffer
        self.acc = 0      # buffered bits; only the low ``nbits`` are live
        self.nbits = 0
        self.error = error

    def _fill(self) -> None:
        pos = self.pos
        chunk = self.data[pos:pos + _FILL]
        k = len(chunk)
        self.pos = pos + k
        self.acc = (((self.acc & ((1 << self.nbits) - 1)) << (k << 3))
                    | int.from_bytes(chunk, "big"))
        self.nbits += k << 3

    def peek(self, n: int) -> int:
        """The next ``n`` bits without consuming them, zero-padded past
        the end of data."""
        if self.nbits < n:
            self._fill()
            if self.nbits < n:
                return (self.acc << (n - self.nbits)) & _MASK[n]
        return (self.acc >> (self.nbits - n)) & _MASK[n]

    def consume(self, n: int) -> None:
        """Drop ``n`` bits that a ``peek`` of at least ``n`` buffered."""
        if n > self.nbits:
            raise self.error(_TRUNCATED)
        self.nbits -= n

    def read(self, n: int) -> int:
        """The next ``n``-bit unsigned big-endian field."""
        nbits = self.nbits - n
        if nbits < 0:
            self._fill()
            nbits = self.nbits - n
            if nbits < 0:
                raise self.error(_TRUNCATED)
        self.nbits = nbits
        return (self.acc >> nbits) & _MASK[n]

    def read_unary(self, limit: int) -> int:
        """Count of 0 bits before the next 1 bit; consumes both. Raises
        ``error`` once the count passes ``limit``, so a run of zeros in
        hostile data stops at the caller's bound, not at the end of data."""
        q = 0
        while True:
            live = self.acc & ((1 << self.nbits) - 1)
            if live:
                rest = live.bit_length() - 1  # bits after the 1
                q += self.nbits - 1 - rest
                self.nbits = rest
                if q > limit:
                    break
                return q
            q += self.nbits
            self.nbits = 0
            if q > limit:
                break
            self._fill()
            if not self.nbits:
                raise self.error(_TRUNCATED)
        raise self.error(f"unary run exceeds {limit} bits")

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.nbits -= self.nbits & 7

    def tell(self) -> int:
        return (self.pos << 3) - self.nbits

    def seek(self, bit: int) -> None:
        self.pos = bit >> 3
        self.nbits = 0
        if bit & 7:
            self.read(bit & 7)

    def bits_left(self) -> int:
        return ((len(self.data) - self.pos) << 3) + self.nbits


class LsbReader:
    """LSB-first bit reader over ``data`` raising ``error`` on
    exhaustion."""

    __slots__ = ("data", "pos", "acc", "nbits", "error")

    def __init__(self, data: bytes, error: type[Exception]):
        self.data = data
        self.pos = 0      # next byte to buffer
        self.acc = 0      # exactly the ``nbits`` buffered bits
        self.nbits = 0
        self.error = error

    def _fill(self) -> None:
        pos = self.pos
        chunk = self.data[pos:pos + _FILL]
        self.pos = pos + len(chunk)
        self.acc |= int.from_bytes(chunk, "little") << self.nbits
        self.nbits += len(chunk) << 3

    def peek(self, n: int) -> int:
        """The next ``n`` bits without consuming them, zero-padded past
        the end of data."""
        if self.nbits < n:
            self._fill()
        return self.acc & _MASK[n]

    def consume(self, n: int) -> None:
        """Drop ``n`` bits that a ``peek`` of at least ``n`` buffered."""
        if n > self.nbits:
            raise self.error(_TRUNCATED)
        self.acc >>= n
        self.nbits -= n

    def read(self, n: int) -> int:
        """The next ``n``-bit unsigned little-endian field."""
        nbits = self.nbits - n
        if nbits < 0:
            self._fill()
            nbits = self.nbits - n
            if nbits < 0:
                raise self.error(_TRUNCATED)
        acc = self.acc
        self.acc = acc >> n
        self.nbits = nbits
        return acc & _MASK[n]

    def align(self) -> None:
        """Skip to the next byte boundary."""
        self.consume(self.nbits & 7)


class MsbWriter:
    """MSB-first bit writer; ``getvalue`` zero-pads the last byte."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """The low ``n`` bits of ``value`` (two's complement for a
        negative one), high bit first."""
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        """``q`` 0 bits, then a 1 bit."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self, fill: int = 0) -> None:
        """Pad to a byte boundary with ``fill`` bits (0 or 1)."""
        pad = -self.nbits & 7
        if pad:
            self.write(-fill, pad)

    def getvalue(self) -> bytes:
        self.align()
        return bytes(self.out)


class LsbWriter:
    """LSB-first bit writer; ``getvalue`` zero-pads the last byte."""

    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        """The low ``n`` bits of ``value``, low bit first."""
        self.acc |= (value & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def getvalue(self) -> bytes:
        if self.nbits:
            self.write(0, -self.nbits & 7)
        return bytes(self.out)


# LZW (GIF 89a appendix F; TIFF 6.0 section 13; ISO 32000-1 7.4.4). Codes
# below ``1 << literal_bits`` are literals, then come the clear and the
# end-of-information codes; codes start one bit wider than a literal and
# never pass 12 bits. One width rule serves every format: the width grows
# once table entry ``(1 << width) - early_change`` has been created
# (GIF: early_change 0; TIFF and PDF: 1, PDF's /EarlyChange default). The
# decoder builds each entry one code after the encoder does, so it grows
# the width when its table holds ``(1 << width) - early_change`` entries.


def lzw_decode(data: bytes, literal_bits: int, msb: bool, early_change: int,
               max_out: int, error: type[Exception]
               ) -> tuple[bytearray, bool]:
    """LZW codes → bytes. Stops at the end-of-information code, at the end
    of data (a partial last code is dropped) or once ``max_out`` bytes are
    out (the last entry may pass it), and returns what it decoded and
    whether it met the end-of-information code: each caller applies its
    own truncation rule. Raises ``error`` for a code beyond the table."""
    clear = 1 << literal_bits
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [None, None]  # clear, EOI
    read = (MsbReader if msb else LsbReader)(data, error).read
    out = bytearray()
    table = list(base)
    width = literal_bits + 1
    grow_at = (1 << width) - early_change  # table size that widens codes
    prev = None
    while len(out) < max_out:
        try:
            code = read(width)
        except error:  # the data ends inside this code
            break
        size = len(table)
        if code < size:
            entry = table[code]
            if entry is None:
                if code == eoi:
                    return out, True
                table = list(base)
                width = literal_bits + 1
                grow_at = (1 << width) - early_change
                prev = None
                continue
        elif code == size and prev is not None:
            entry = prev + prev[:1]
        else:
            raise error(f"LZW code {code} beyond table")
        if prev is not None:
            table.append(prev + entry[:1])
            if size + 1 == grow_at:
                width += 1
                grow_at = (1 << width) - early_change if width < 12 else 0
        out += entry
        prev = entry
    return out, False


def lzw_encode(data: bytes, literal_bits: int, msb: bool,
               early_change: int) -> bytes:
    """Bytes (each below ``1 << literal_bits``) → LZW codes, opening with
    a clear code and closing with end-of-information. A full table is
    cleared at the next miss; with early change the table stops at entry
    4093, as libtiff's writer does, else at 4095."""
    clear = 1 << literal_bits
    eoi = clear + 1
    limit = 4094 if early_change else 4096  # first code never assigned
    literals = {bytes([i]): i for i in range(clear)}
    writer = MsbWriter() if msb else LsbWriter()
    width = literal_bits + 1
    writer.write(clear, width)
    table = dict(literals)
    nxt = eoi + 1
    run = b""
    for b in data:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        writer.write(table[run], width)
        if nxt == limit:
            writer.write(clear, width)
            table = dict(literals)
            nxt = eoi + 1
            width = literal_bits + 1
        else:
            table[cand] = nxt
            if nxt == (1 << width) - early_change and width < 12:
                width += 1
            nxt += 1
        run = bytes([b])
    if run:
        writer.write(table[run], width)
    writer.write(eoi, width)
    return writer.getvalue()
