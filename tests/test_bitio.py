"""The shared bit-stream module (ops/bitio): both readers, both writers and
the LZW coder, plus a guard that no other module grows its own copy.

``lzw_literals`` packs an LZW stream by hand from an explicit per-code
width list (string bits, no ``bitio`` code), so the width rule is pinned
by an independent packer, not by a round trip through ``lzw_encode``.
"""
from __future__ import annotations

import ast
import pathlib
import random

import pytest

from marky_spark.ops.bitio import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    lzw_decode,
    lzw_encode,
)


class _Err(ValueError):
    pass


def lzw_literals(data: bytes, early_change: int = 1) -> bytes:
    """A clear code, every byte of ``data`` as an 8-bit literal code, then
    end-of-information, packed MSB-first. The decoder adds one table entry
    per code after the first, so the 10-, 11- and 12-bit codes start at
    code 254, 766 and 1790 after the clear with early change (ISO 32000-1
    7.4.4.2: the first 10-bit code follows the creation of entry 511), one
    code later without."""
    starts = (254, 766, 1790) if early_change else (255, 767, 1791)
    codes = [256, *data, 257]
    widths = [9] + [9 + sum(k >= s for s in starts)
                    for k in range(len(data) + 1)]
    bits = "".join(format(c, f"0{w}b") for c, w in zip(codes, widths))
    bits += "0" * (-len(bits) % 8)
    return int(bits, 2).to_bytes(len(bits) // 8, "big")


# ------------------------------------------------------------------ readers
@pytest.mark.parametrize("cls", [MsbReader, LsbReader])
def test_reader_read_peek_align_and_exhaustion(cls):
    data = bytes([0b10110010, 0b01111000, 0xA5])
    r = cls(data, _Err)
    msb = cls is MsbReader
    assert r.peek(3) == (0b101 if msb else 0b010)
    assert r.read(3) == (0b101 if msb else 0b010)
    r.align()
    assert r.read(8) == 0b01111000
    assert r.peek(12) == (0xA50 if msb else 0x0A5)  # zero-padded at the end
    r.consume(4)
    with pytest.raises(_Err):
        r.consume(5)
    with pytest.raises(_Err):
        r.read(5)
    assert r.read(4) == (0x5 if msb else 0xA)
    with pytest.raises(_Err):
        r.read(1)


def test_msb_and_lsb_read_the_same_bytes_in_mirrored_order():
    data = bytes(random.Random(3).randrange(256) for _ in range(40))
    big, little = int.from_bytes(data, "big"), int.from_bytes(data, "little")
    msb, lsb = MsbReader(data, _Err), LsbReader(data, _Err)
    pos = 0
    for n in [1, 7, 13, 33, 8, 64, 2, 19, 5, 64, 31, 0, 12, 1]:
        assert msb.read(n) == (big >> (320 - pos - n)) & ((1 << n) - 1)
        assert lsb.read(n) == (little >> pos) & ((1 << n) - 1)
        pos += n
        assert msb.tell() == pos


def test_msb_reader_unary_and_seek():
    r = MsbReader(bytes([0b00010000, 0, 0, 0b00000001, 0b10000000]), _Err)
    assert r.read_unary(3) == 3
    assert r.read_unary(27) == 27
    assert r.read_unary(0) == 0
    r.seek(5)
    assert r.read(3) == 0b000 and r.tell() == 8
    r.seek(0)
    assert r.read(4) == 0b0001
    with pytest.raises(_Err):
        MsbReader(b"\x00\x00", _Err).read_unary(100)
    for limit in (0, 2, 63, 64, 65):  # inside and past one 64-bit fill
        with pytest.raises(_Err, match="unary run"):
            MsbReader(bytes(9) + b"\x01", _Err).read_unary(limit)


# ------------------------------------------------------------------ writers
def test_writers_mirror_their_readers():
    rng = random.Random(9)
    fields = [(rng.randrange(1 << n) if n else 0, n)
              for n in (rng.randrange(0, 40) for _ in range(200))]
    for writer, reader in ((MsbWriter, MsbReader), (LsbWriter, LsbReader)):
        w = writer()
        for v, n in fields:
            w.write(v, n)
        r = reader(w.getvalue(), _Err)
        assert [r.read(n) for _, n in fields] == [v for v, _ in fields]
        r.align()
        with pytest.raises(_Err):
            r.read(1)


def test_msb_writer_masks_pads_and_writes_unary():
    w = MsbWriter()
    w.write(-1, 3)          # two's complement: the low 3 bits
    w.align(1)              # pad with ones
    w.write(0b101, 3)
    w.write_unary(40)
    assert w.getvalue() == bytes([0xFF, 0b10100000, 0, 0, 0, 0, 0b00010000])


# ---------------------------------------------------------------------- LZW
@pytest.mark.parametrize("msb, early, bits", [(False, 0, 2), (False, 0, 8),
                                              (True, 1, 8), (True, 0, 8)])
def test_lzw_round_trips_through_clears(msb, early, bits):
    rng = random.Random(bits)
    data = bytes(rng.randrange(1 << bits) for _ in range(30000))
    data += bytes([1]) * 20000
    packed = lzw_encode(data, bits, msb, early)
    out, ended = lzw_decode(packed, bits, msb, early, len(data) + 1, _Err)
    assert ended and bytes(out) == data


def test_lzw_width_rule_matches_hand_packed_stream():
    data = bytes(random.Random(5).randrange(256) for _ in range(2500))
    for early in (1, 0):
        out, ended = lzw_decode(lzw_literals(data, early), 8, True, early,
                                10**6, _Err)
        assert ended and bytes(out) == data
    # every digram distinct: the encoder can only emit literals
    unique = bytes(range(256)) + bytes(3 * k for k in range(1, 60))
    assert lzw_encode(unique, 8, True, 1) == lzw_literals(unique)


@pytest.mark.parametrize("msb", [True, False])
def test_lzw_decode_stops_at_max_out_and_end_of_data(msb):
    data = bytes([7]) * 100000
    early = 1 if msb else 0
    packed = lzw_encode(data, 8, msb, early)
    out, ended = lzw_decode(packed, 8, msb, early, 1000, _Err)
    assert 1000 <= len(out) < 1000 + 500 and set(out) == {7} and not ended
    short, ended = lzw_decode(packed[:len(packed) // 2], 8, msb, early, 10**6,
                              _Err)
    assert 0 < len(short) < len(data) and not ended


def test_lzw_decode_rejects_codes_beyond_table():
    w = MsbWriter()
    for code in (256, 65, 300):
        w.write(code, 9)
    with pytest.raises(_Err, match="beyond table"):
        lzw_decode(w.getvalue(), 8, True, 1, 100, _Err)
    w = MsbWriter()
    w.write(256, 9)
    w.write(258, 9)  # KwKwK needs a previous code
    with pytest.raises(_Err, match="beyond table"):
        lzw_decode(w.getvalue(), 8, True, 1, 100, _Err)


# -------------------------------------------------------------------- guard
_PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "marky_spark"


def _copies(tree: ast.AST) -> list[str]:
    """Bit reader/writer classes and LZW coders a module defines."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ClassDef):
            name = node.name.lower()
            attrs = {t.attr for n in ast.walk(node)
                     if isinstance(n, (ast.Assign, ast.AugAssign))
                     for t in (n.targets if isinstance(n, ast.Assign)
                               else [n.target])
                     if isinstance(t, ast.Attribute)}
            if (("reader" in name or "writer" in name)
                    and ("bit" in name or "msb" in name or "lsb" in name)
                    or {"acc", "nbits"} <= attrs or {"pos", "bit"} <= attrs):
                found.append(node.name)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if "lzw" in node.name.lower():
                found.append(node.name)
    return found


def test_no_module_but_bitio_defines_bit_io_or_lzw():
    offenders = {}
    for path in sorted(_PACKAGE.rglob("*.py")):
        if path == _PACKAGE / "ops" / "bitio.py":
            continue
        found = _copies(ast.parse(path.read_text(encoding="utf-8")))
        if found:
            offenders[str(path.relative_to(_PACKAGE))] = found
    assert offenders == {}
