"""FLAC codec: round-trips, hand-crafted decoder-only paths (LPC, side
channel assignments, wasted bits, rice escapes), hostile inputs, and the
Spark audio_features routing.

The encoder only emits independent-channel CONSTANT/VERBATIM/FIXED-2
frames, so every other decode path is pinned here by assembling frames
bit-by-bit from the RFC 9639 layout — asymmetric evidence that the
decoder follows the spec, not the encoder's habits.
"""
from __future__ import annotations

import random
import struct

import numpy as np
import pytest

from marky_spark.ops.bitio import MsbWriter
from marky_spark.ops.flaccodec import (
    MAX_SAMPLES,
    FlacError,
    FlacUnsupportedError,
    _crc8,
    _crc16,
    flac_decode,
    flac_encode,
    looks_like_flac,
)


def _streaminfo(rate: int, ch: int, bits: int, total: int) -> bytes:
    info = bytearray()
    info += struct.pack(">HH", 16, 65535)
    info += b"\x00\x00\x00" * 2
    info += bytes([
        (rate >> 12) & 0xFF, (rate >> 4) & 0xFF,
        ((rate & 0x0F) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4),
        (((bits - 1) & 0x0F) << 4) | ((total >> 32) & 0x0F),
    ])
    info += struct.pack(">I", total & 0xFFFFFFFF)
    info += b"\x00" * 16
    return (b"fLaC" + struct.pack(">I", (1 << 31) | len(info)) + bytes(info))


def _frame(body_bits, rate_code=0, bs_code=6, bs_extra=None, ch_code=0,
           ss_code=4, block_size=4) -> bytes:
    """Assemble one frame: header (+CRC8), body bits, CRC16."""
    bw = MsbWriter()
    bw.write(0b11111111111110, 14)
    bw.write(0, 2)  # reserved + fixed blocking
    bw.write(bs_code, 4)
    bw.write(rate_code, 4)
    bw.write(ch_code, 4)
    bw.write(ss_code, 3)
    bw.write(0, 1)
    bw.write(0, 8)  # frame number 0 (UTF-8 single byte)
    if bs_extra is not None:
        bw.write(*bs_extra)
    bw.align()
    header = bw.getvalue()
    bw = MsbWriter()
    body_bits(bw)
    bw.align()
    body = header + bytes([_crc8(header)]) + bw.getvalue()
    return body + struct.pack(">H", _crc16(body))


def test_lpc_subframe_decodes():
    """LPC order 1, coefficient 1, shift 0 — prediction is the previous
    sample, residuals are deltas."""
    samples = [10, 12, 9, 9]

    def body(bw):
        bw.write(0, 1)
        bw.write(0b100000, 6)  # LPC order 1
        bw.write(0, 1)         # no wasted bits
        bw.write(samples[0], 16)
        bw.write(3, 4)         # precision-1 = 3 -> 4-bit coefficients
        bw.write(0, 5)         # shift 0
        bw.write(1, 4)         # coefficient 1
        bw.write(0, 2)         # rice method 0
        bw.write(0, 4)         # partition order 0
        bw.write(2, 4)         # rice parameter 2
        for v in (2, -3, 0):   # the residuals (deltas)
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            bw.write_unary(u >> 2)
            bw.write(u & 3, 2)

    blob = _streaminfo(8000, 1, 16, 4) + _frame(body, bs_extra=(3, 8))
    rate, ch, bits, out = flac_decode(blob)
    assert out[:, 0].tolist() == samples


def test_lpc_shift_applies():
    """LPC with shift 1 and coefficient 2 — prediction (2*prev)>>1."""
    samples = [9, 11]

    def body(bw):
        bw.write(0, 1)
        bw.write(0b100000, 6)
        bw.write(0, 1)
        bw.write(samples[0], 16)
        bw.write(3, 4)
        bw.write(1, 5)   # shift 1
        bw.write(2, 4)   # coefficient 2 -> pred = (2*9)>>1 = 9, resid 2
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(0, 4)   # rice parameter 0
        bw.write_unary(4)  # zigzag(2) = 4

    blob = _streaminfo(8000, 1, 16, 2) + _frame(body, bs_extra=(1, 8),
                                                block_size=2)
    assert flac_decode(blob)[3][:, 0].tolist() == samples


@pytest.mark.parametrize("ch_code,left,right", [
    (8, [100, 50], [40, 60]),    # left/side: ch1 = left - right
    (9, [100, 50], [40, 60]),    # right/side: ch0 = side, ch1 = right
    (10, [7, -3], [4, 8]),       # mid/side
    (10, [7, -4], [4, 9]),       # mid/side with odd l+r (parity bit path)
])
def test_side_channel_assignments(ch_code, left, right):
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]

    def verb(bw, vals, bits):
        bw.write(0, 1); bw.write(1, 6); bw.write(0, 1)
        for v in vals:
            bw.write(v, bits)

    def body(bw):
        if ch_code == 8:
            verb(bw, left, 16); verb(bw, side, 17)
        elif ch_code == 9:
            verb(bw, side, 17); verb(bw, right, 16)
        else:
            verb(bw, mid, 16); verb(bw, side, 17)

    blob = _streaminfo(8000, 2, 16, 2) + _frame(
        body, ch_code=ch_code, bs_extra=(1, 8), block_size=2)
    _, ch, _, out = flac_decode(blob)
    assert ch == 2
    assert out[:, 0].tolist() == left
    assert out[:, 1].tolist() == right


def test_wasted_bits_shift_back():
    """A subframe with 2 wasted bits stores samples >> 2 at bits-2 and the
    decoder must shift them back."""
    samples = [-8, 4, 12]

    def body(bw):
        bw.write(0, 1); bw.write(1, 6)
        bw.write(1, 1)        # wasted-bits flag
        bw.write_unary(1)     # unary 1 -> wasted = 2
        for v in samples:
            bw.write(v >> 2, 14)

    blob = _streaminfo(8000, 1, 16, 3) + _frame(body, bs_extra=(2, 8),
                                                block_size=3)
    assert flac_decode(blob)[3][:, 0].tolist() == samples


def test_rice_escape_partition_and_rice2():
    """An escaped rice partition stores raw n-bit residuals; method 1 uses
    5-bit parameters. Both in one two-partition FIXED-0 subframe."""
    vals = [5, -6, 7, -8]

    def body(bw):
        bw.write(0, 1); bw.write(8, 6); bw.write(0, 1)  # FIXED order 0
        bw.write(1, 2)    # method 1 (rice2, 5-bit params)
        bw.write(1, 4)    # partition order 1 -> two partitions of 2
        bw.write(31, 5)   # escape
        bw.write(6, 5)    # 6-bit raw residuals
        bw.write(vals[0], 6)
        bw.write(vals[1], 6)
        bw.write(2, 5)    # normal rice2 parameter for partition 2
        for v in vals[2:]:
            u = (v << 1) if v >= 0 else ((-v) << 1) - 1
            bw.write_unary(u >> 2)
            bw.write(u & 3, 2)

    blob = _streaminfo(8000, 1, 16, 4) + _frame(body, bs_extra=(3, 8))
    assert flac_decode(blob)[3][:, 0].tolist() == vals


def test_escape_partition_zero_raw_means_zeros():
    def body(bw):
        bw.write(0, 1); bw.write(8, 6); bw.write(0, 1)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(15, 4)  # escape (method 0)
        bw.write(0, 5)   # 0 raw bits -> all-zero residuals

    blob = _streaminfo(8000, 1, 16, 4) + _frame(body, bs_extra=(3, 8))
    assert flac_decode(blob)[3][:, 0].tolist() == [0, 0, 0, 0]


def test_standard_block_size_and_rate_codes():
    """Code-table block size (192) and sample rate (44100, code 9)."""
    def body(bw):
        bw.write(0, 1); bw.write(0, 6); bw.write(0, 1)
        bw.write(-5, 16)  # CONSTANT -5

    blob = _streaminfo(44100, 1, 16, 192) + _frame(
        body, rate_code=9, bs_code=1, bs_extra=None, block_size=192)
    rate, _, _, out = flac_decode(blob)
    assert rate == 44100
    assert out.shape == (192, 1) and set(out[:, 0].tolist()) == {-5}


def test_crc_mismatches_are_typed():
    sig = np.array([[i % 50 - 25] for i in range(64)], dtype=np.int64)
    good = flac_encode(sig, 8000, block_size=64)
    bad = bytearray(good)
    bad[-1] ^= 0xFF  # frame CRC-16
    with pytest.raises(FlacError, match="CRC-16"):
        flac_decode(bytes(bad))
    # header CRC-8: flip the frame-number byte (byte 4 of the frame)
    frame_at = len(good) - (len(good) - (4 + 4 + 34))
    frame_start = 4 + 4 + 34
    bad = bytearray(good)
    bad[frame_start + 4] ^= 0x01
    with pytest.raises(FlacError, match="CRC-8|sync|UTF-8"):
        flac_decode(bytes(bad))


def test_streaminfo_disagreements_are_typed():
    sig = np.array([[1], [2], [3]], dtype=np.int64)
    good = flac_encode(sig, 8000)
    # claim a different total in STREAMINFO
    bad = bytearray(good)
    bad[8 + 13] = (bad[8 + 13] & 0xF0) | 0
    bad[8 + 14:8 + 18] = struct.pack(">I", 99)
    with pytest.raises(FlacError, match="STREAMINFO"):
        flac_decode(bytes(bad))


def test_hostile_inputs_raise_typed():
    with pytest.raises(FlacError, match="fLaC"):
        flac_decode(b"RIFFxxxx")
    with pytest.raises(FlacError, match="truncated|overruns|no STREAMINFO"):
        flac_decode(b"fLaC" + b"\x00\x00\x00\x22")
    # sample cap enforced from STREAMINFO before any frame decode
    blob = _streaminfo(8000, 8, 16, MAX_SAMPLES)
    with pytest.raises(FlacError, match="cap"):
        flac_decode(blob)
    # 12-bit is recognized but the sample-size is unsupported only for
    # non-implemented depths: 12 IS implemented; 4-bit is not expressible
    # in frame codes and surfaces as unsupported from STREAMINFO
    blob = _streaminfo(8000, 1, 4, 4)
    with pytest.raises(FlacUnsupportedError):
        flac_decode(blob)


def test_long_zero_runs_are_typed():
    """A run of zero bits in the wasted-bits field or in a rice quotient
    stops at its bound as a FlacError, not at the end of the data."""
    def wasted(bw):
        bw.write(0, 1); bw.write(1, 6)
        bw.write(1, 1)        # wasted-bits flag
        bw.write(0, 60)       # unary run far past the 16-bit depth
        bw.write(1, 1)
        bw.write(0, 14 * 3)

    def rice(bw):
        bw.write(0, 1); bw.write(8, 6); bw.write(0, 1)  # FIXED order 0
        bw.write(0, 2); bw.write(0, 4); bw.write(0, 4)  # rice, 1 part, k=0
        bw.write_unary((1 << 22) + 1)  # one quotient past the bound
        bw.write_unary(0); bw.write_unary(0); bw.write_unary(0)

    with pytest.raises(FlacError, match="unary run|wasted"):
        flac_decode(_streaminfo(8000, 1, 16, 3)
                    + _frame(wasted, bs_extra=(2, 8), block_size=3))
    with pytest.raises(FlacError, match="unary run exceeds"):
        flac_decode(_streaminfo(8000, 1, 16, 4)
                    + _frame(rice, bs_extra=(3, 8)))


def test_no_frames_rejected():
    with pytest.raises(FlacError, match="no audio frames"):
        flac_decode(_streaminfo(8000, 1, 16, 0))


def test_sniff():
    assert looks_like_flac(b"fLaC" + b"\x00" * 8)
    assert not looks_like_flac(b"fLa")
    assert not looks_like_flac(b"RIFFfLaC")


def test_round_trip_multiframe_randomized():
    rng = random.Random(0xF1AC)
    for bits in (8, 16):
        lim = 1 << (bits - 1)
        for ch in (1, 2):
            n = rng.randint(1, 700)
            sig = np.array([[rng.randint(-lim, lim - 1) for _ in range(ch)]
                            for _ in range(n)], dtype=np.int64)
            for strat in ("fixed", "verbatim"):
                rate, c, b, out = flac_decode(
                    flac_encode(sig, 22050, bits=bits, block_size=96,
                                strategy=strat))
                assert (rate, c, b) == (22050, ch, bits)
                assert (out == sig).all()


def test_flac_mutations_stay_typed():
    """Same mutation contract as every other codec."""
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0xF1AC2)
    sig = np.array([[(i * 37) % 400 - 200, ((i * 11) % 400) - 200]
                    for i in range(150)], dtype=np.int64)
    base = flac_encode(sig, 16000, block_size=64)
    for _ in range(400):
        blob = _mutate(rng, base)
        try:
            _, ch, _, samples = flac_decode(blob)
        except (FlacError, FlacUnsupportedError):
            continue
        assert samples.size <= MAX_SAMPLES
        assert samples.shape[1] == ch


def test_wav_feature_vec_container_invariant():
    """A FLAC and a PCM16 WAV of the SAME signal embed IDENTICALLY (both
    lossless, same decoded scale) — the audio analogue of the image
    cross-format pixel_md5 dedup property."""
    from marky_spark.ops.audio import wav_feature_vec
    from marky_spark.ops.wavcodec import wav_encode

    rng = random.Random(0xC0DE)
    sig = np.array([[rng.randint(-30000, 30000), rng.randint(-30000, 30000)]
                    for _ in range(256)], dtype=np.int64)
    v_wav = wav_feature_vec(wav_encode(sig, 16000, bits=16))
    v_flac = wav_feature_vec(flac_encode(sig, 16000, block_size=100))
    assert v_flac == v_wav


def test_audio_features_routes_flac(spark):
    """audio_features really decodes FLAC payloads and isolates malformed
    FLAC per blob; text, which no codec claims, is unsupported."""
    from marky_spark.ops.audio import audio_features

    sig = np.array([[i % 40 - 20] for i in range(64)], dtype=np.int64)
    good = flac_encode(sig, 8000, block_size=16)
    rows = {r["media_ref"]: r for r in audio_features(spark.createDataFrame(
        [("f", "audio/flac", bytearray(good)),
         ("cut", "audio/flac", bytearray(good[:30])),
         ("txt", "text/plain", bytearray(b"hello"))],
        "media_ref string, mime string, payload binary")).collect()}
    assert rows["f"]["ok"] == "ok"
    assert rows["f"]["n_frames"] == 64
    assert rows["f"]["sum_c0"] == int(sig[:, 0].sum())
    assert rows["cut"]["ok"].startswith("error:")
    assert rows["txt"]["ok"] == "unsupported"


def test_divergent_predictor_is_typed_not_overflow():
    """An adversarial LPC stream (coefficient 2, shift 0, zero residuals)
    doubles each predicted sample — must surface as FlacError, not an
    untyped Python-int OverflowError at ndarray conversion."""
    def body(bw):
        bw.write(0, 1)
        bw.write(0b100000, 6)  # LPC order 1
        bw.write(0, 1)
        bw.write(3, 16)        # warm-up 3
        bw.write(3, 4)         # 4-bit coefficients
        bw.write(0, 5)         # shift 0
        bw.write(2, 4)         # coefficient 2 -> s[i] = 2*s[i-1]
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(15, 4)        # escape
        bw.write(0, 5)         # all-zero residuals

    blob = _streaminfo(8000, 1, 16, 128) + _frame(body, bs_extra=(127, 8),
                                                  block_size=128)
    with pytest.raises(FlacError, match="overflows"):
        flac_decode(blob)


def test_divergent_fixed_predictor_is_typed():
    """Same contract for FIXED order-4 feedback: the predictor extrapolates
    a cubic through the warm-ups (polynomial growth), so a steep third
    difference over a long block must hit the typed overflow guard."""
    def body(bw):
        bw.write(0, 1); bw.write(8 + 4, 6); bw.write(0, 1)  # FIXED order 4
        for v in (0, 0, 0, 30000):  # third difference 30000 -> ~5000*i^3
            bw.write(v, 16)
        bw.write(0, 2)
        bw.write(0, 4)
        bw.write(15, 4)
        bw.write(0, 5)

    blob = _streaminfo(8000, 1, 16, 2048) + _frame(
        body, bs_code=11, bs_extra=None, block_size=2048)
    with pytest.raises(FlacError, match="overflows"):
        flac_decode(blob)
