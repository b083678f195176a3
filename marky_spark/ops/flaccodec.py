"""Real FLAC codec — pure stdlib + numpy, no audio library.

The reference never decodes media (it base64s embedded bytes verbatim,
docx.go:196-198), so FLAC support is part of this repo's training-data
pipeline surface: FLAC is the dominant lossless container real speech /
music corpora arrive in, and because it is LOSSLESS the decode path can
be pinned by the same exact-integer driver oracle as PCM — any
deterministic sample formula survives encode→decode bit-for-bit.

Implemented from the public spec (RFC 9639 / the flac format docs):

- decode: fLaC marker, metadata-block walk (STREAMINFO parsed, others
  skipped), frame sync + header (block-size/sample-rate/channel
  assignment/sample-size codes, UTF-8-coded frame number, CRC-8),
  subframes CONSTANT / VERBATIM / FIXED (orders 0-4) / LPC (any order,
  quantized coefficients + shift), rice residuals (4- and 5-bit
  parameters, escape-to-raw partitions), wasted bits, all four channel
  assignments (independent, left/side, right/side, mid/side), frame
  CRC-16.
- encode (fixture inverse): independent channels, fixed blocking,
  CONSTANT / VERBATIM / FIXED-order-2 subframes with real rice coding,
  correct CRC-8/CRC-16 and STREAMINFO (including the unencoded-audio
  md5); small block sizes exercise the 8/16-bit block-size-at-end header
  forms and multi-frame streams.

Same poison-pill contract as the other codecs: hostile input raises
:class:`FlacError`, recognized-but-unimplemented shapes raise
:class:`FlacUnsupportedError` (a ``NotImplementedError`` →
``codec_unavailable`` rows), and allocations are bounded before they
happen.
"""
from __future__ import annotations

import hashlib
import struct

from .bitio import MsbReader, MsbWriter

MAX_SAMPLES = 1 << 26  # total samples (frames x channels) a decode may allocate
MAX_CHANNELS = 8
MAX_RATE = 1_000_000
MAX_BLOCK = 1 << 16
_MAX_RICE_QUOTIENT = 1 << 22  # zero bits one rice quotient may run

FLAC_SIGNATURE = b"fLaC"

_BLOCK_SIZE_CODES = {  # code -> fixed block size (None = read from header end)
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}
_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}

_FIXED_COEFFS = {  # prediction = sum(c * s[i-1-k]) for k, c in enumerate(...)
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


class FlacError(ValueError):
    """Malformed / hostile FLAC input (the poison-pill contract)."""


class FlacUnsupportedError(NotImplementedError):
    """Recognized FLAC whose shape this codec does not implement —
    surfaces as ``codec_unavailable``."""


def looks_like_flac(data: bytes) -> bool:
    """Signature sniff: the fLaC stream marker."""
    return len(data) >= 8 and data[:4] == FLAC_SIGNATURE


def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the frame
    header checksum."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 — the
    whole-frame checksum."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


def _read_signed(br: MsbReader, n: int) -> int:
    """``n``-bit two's-complement field."""
    v = br.read(n)
    return v - (1 << n) if v >> (n - 1) else v


def _read_utf8_number(br: MsbReader) -> int:
    """UTF-8-style variable-length number (frame/sample index), extended
    to the 7-byte/36-bit form the spec allows."""
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise FlacError(f"bad UTF-8 coded number lead byte {b0:#x}")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise FlacError("bad UTF-8 coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _write_utf8_number(bw: MsbWriter, v: int) -> None:
    if v < 0x80:
        bw.write(v, 8)
        return
    for n in range(1, 7):  # continuation-byte count
        payload = 6 - n if n < 6 else 0
        if v < (1 << (payload + 6 * n)):
            break
    else:
        raise FlacError("number exceeds 36-bit UTF-8 coding")
    bw.write(((0xFF << (7 - n)) & 0xFF) | (v >> (6 * n)), 8)
    for k in range(n - 1, -1, -1):
        bw.write(0x80 | ((v >> (6 * k)) & 0x3F), 8)


def _decode_residual(br: MsbReader, block_size: int, pred_order: int):
    """Rice-coded residual section → list of ints (length
    block_size - pred_order)."""
    method = br.read(2)
    if method > 1:
        raise FlacError(f"reserved residual coding method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if (block_size >> porder) << porder != block_size:
        raise FlacError("block size not divisible by rice partition count")
    if (block_size >> porder) < pred_order:
        raise FlacError("rice partition smaller than predictor order")
    out = []
    for p in range(nparts):
        count = (block_size >> porder) - (pred_order if p == 0 else 0)
        param = br.read(pbits)
        if param == escape:
            raw = br.read(5)
            if raw == 0:
                out.extend([0] * count)
            else:
                out.extend(_read_signed(br, raw) for _ in range(count))
        else:
            for _ in range(count):
                q = br.read_unary(_MAX_RICE_QUOTIENT)
                u = (q << param) | br.read(param)
                out.append((u >> 1) ^ -(u & 1))  # rice zigzag unfold
    return out


def _encode_residual(bw: MsbWriter, residual: list[int]) -> None:
    """Single-partition 4-bit rice coding with a simple mean-based
    parameter choice (the fixture encoder's inverse of
    :func:`_decode_residual`)."""
    bw.write(0, 2)   # method 0: 4-bit rice
    bw.write(0, 4)   # partition order 0
    total = sum((v << 1) ^ (v >> 63) if v >= 0 else ((-v << 1) - 1)
                for v in residual)
    mean = total // max(len(residual), 1)
    param = 0
    while (1 << (param + 1)) < mean + 1 and param < 14:
        param += 1
    bw.write(param, 4)
    for v in residual:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        bw.write_unary(u >> param)
        bw.write(u & ((1 << param) - 1), param)


def _decode_subframe(br: MsbReader, block_size: int, bits: int):
    """One subframe → list of ints (block_size samples)."""
    if br.read(1):
        raise FlacError("subframe header pad bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = 1 + br.read_unary(bits)
        if wasted >= bits:
            raise FlacError("wasted bits exceed sample size")
    # predictor feedback with a hostile coefficient (e.g. LPC coef 2,
    # shift 0, zero residuals) doubles every step — unchecked, Python
    # ints grow without bound and surface as an untyped OverflowError at
    # ndarray conversion. A spec-valid stream never leaves the declared
    # depth, so anything past a generous headroom bound is malformed.
    limit = 1 << 35

    def _check(v: int) -> int:
        if -limit <= v <= limit:
            return v
        raise FlacError("predicted sample overflows declared depth")

    eff = bits - wasted
    if stype == 0:          # CONSTANT
        v = _read_signed(br, eff)
        samples = [v] * block_size
    elif stype == 1:        # VERBATIM
        samples = [_read_signed(br, eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        if order > block_size:
            raise FlacError("fixed order exceeds block size")
        samples = [_read_signed(br, eff) for _ in range(order)]
        residual = _decode_residual(br, block_size, order)
        coefs = _FIXED_COEFFS[order]
        for r in residual:
            pred = 0
            for k, c in enumerate(coefs):
                pred += c * samples[-1 - k]
            samples.append(_check(r + pred))
    elif stype >= 32:       # LPC, order = (stype & 31) + 1
        order = (stype & 31) + 1
        if order > block_size:
            raise FlacError("LPC order exceeds block size")
        samples = [_read_signed(br, eff) for _ in range(order)]
        prec = br.read(4)
        if prec == 15:
            raise FlacError("invalid LPC coefficient precision")
        prec += 1
        shift = _read_signed(br, 5)
        if shift < 0:
            raise FlacError("negative LPC shift")
        coefs = [_read_signed(br, prec) for _ in range(order)]
        residual = _decode_residual(br, block_size, order)
        for r in residual:
            acc = 0
            for k, c in enumerate(coefs):
                acc += c * samples[-1 - k]
            samples.append(_check(r + (acc >> shift)))
    else:
        raise FlacError(f"reserved subframe type {stype:#08b}")
    if wasted:
        samples = [_check(s << wasted) for s in samples]
    return samples


def flac_decode(data: bytes):
    """FLAC bytes → ``(sample_rate, n_channels, bits, samples)`` with
    ``samples`` an int32 ndarray of shape (n_frames, n_channels) — the
    same convention as :func:`marky_spark.ops.wavcodec.wav_decode`."""
    import numpy as np

    if not looks_like_flac(data):
        raise FlacError("not a FLAC (no fLaC marker)")
    pos = 4
    streaminfo = None
    last = False
    while not last:
        if pos + 4 > len(data):
            raise FlacError("truncated metadata block header")
        hdr = struct.unpack_from(">I", data, pos)[0]
        last = bool(hdr >> 31)
        btype = (hdr >> 24) & 0x7F
        blen = hdr & 0xFFFFFF
        pos += 4
        if pos + blen > len(data):
            raise FlacError("metadata block overruns stream")
        if btype == 0:
            if blen < 34:
                raise FlacError(f"STREAMINFO is {blen} bytes, want >= 34")
            streaminfo = data[pos:pos + 34]
        elif btype == 127:
            raise FlacError("invalid metadata block type 127")
        pos += blen
    if streaminfo is None:
        raise FlacError("no STREAMINFO metadata block")
    rate = (streaminfo[10] << 12) | (streaminfo[11] << 4) | (streaminfo[12] >> 4)
    channels = ((streaminfo[12] >> 1) & 0x07) + 1
    bits = (((streaminfo[12] & 1) << 4) | (streaminfo[13] >> 4)) + 1
    total = ((streaminfo[13] & 0x0F) << 32) | struct.unpack_from(
        ">I", streaminfo, 14)[0]
    if not (1 <= rate <= MAX_RATE):
        raise FlacError(f"bad sample rate {rate}")
    if channels > MAX_CHANNELS:
        raise FlacError(f"bad channel count {channels}")
    if bits not in (8, 12, 16, 20, 24, 32):
        raise FlacUnsupportedError(f"sample size {bits} not implemented")
    if total * channels > MAX_SAMPLES:
        raise FlacError(f"{total}x{channels} samples exceed cap {MAX_SAMPLES}")

    out = []
    n_out = 0
    br = MsbReader(data, FlacError)
    br.seek(pos << 3)
    while pos < len(data):
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise FlacError(f"bad frame sync {sync:#016b} at byte {pos}")
        if br.read(1):
            raise FlacError("frame header reserved bit set")
        br.read(1)  # blocking strategy (frame- vs sample-numbered)
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise FlacError("frame header reserved bit set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise FlacError("reserved block size code 0")
        elif bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        else:
            block_size = _BLOCK_SIZE_CODES[bs_code]
        if sr_code == 12:
            frame_rate = br.read(8) * 1000
        elif sr_code == 13:
            frame_rate = br.read(16)
        elif sr_code == 14:
            frame_rate = br.read(16) * 10
        elif sr_code == 15:
            raise FlacError("invalid sample rate code 15")
        elif sr_code == 0:
            frame_rate = rate
        else:
            frame_rate = _SAMPLE_RATE_CODES[sr_code]
        if frame_rate != rate:
            raise FlacError("frame sample rate disagrees with STREAMINFO")
        if ss_code == 0:
            frame_bits = bits
        elif ss_code == 3:
            raise FlacError("reserved sample size code 3")
        else:
            frame_bits = _SAMPLE_SIZE_CODES[ss_code]
        if frame_bits != bits:
            raise FlacError("frame sample size disagrees with STREAMINFO")
        if ch_code < 8:
            frame_ch = ch_code + 1
            assignment = "independent"
        elif ch_code == 8:
            frame_ch, assignment = 2, "left_side"
        elif ch_code == 9:
            frame_ch, assignment = 2, "right_side"
        elif ch_code == 10:
            frame_ch, assignment = 2, "mid_side"
        else:
            raise FlacError(f"reserved channel assignment {ch_code}")
        if frame_ch != channels:
            raise FlacError("frame channel count disagrees with STREAMINFO")
        header_end = (br.tell() + 7) >> 3
        crc8 = br.read(8)
        if _crc8(data[pos:header_end]) != crc8:
            raise FlacError("frame header CRC-8 mismatch")
        if block_size > MAX_BLOCK:
            raise FlacError(f"block size {block_size} exceeds cap")
        if (n_out + block_size) * channels > MAX_SAMPLES:
            raise FlacError("frames exceed sample cap")

        chans = []
        for c in range(frame_ch):
            ch_bits = frame_bits
            if (assignment == "left_side" and c == 1) or \
               (assignment == "right_side" and c == 0) or \
               (assignment == "mid_side" and c == 1):
                ch_bits += 1  # the side channel carries one extra bit
            chans.append(_decode_subframe(br, block_size, ch_bits))
        br.align()
        frame_end = br.tell() >> 3
        crc16 = br.read(16)
        if _crc16(data[pos:frame_end]) != crc16:
            raise FlacError("frame CRC-16 mismatch")
        pos = br.tell() >> 3

        if assignment == "left_side":
            left, side = chans
            chans = [left, [l - s for l, s in zip(left, side)]]
        elif assignment == "right_side":
            side, right = chans
            chans = [[r + s for r, s in zip(right, side)], right]
        elif assignment == "mid_side":
            mid, side = chans
            left = [(((m << 1) | (s & 1)) + s) >> 1 for m, s in zip(mid, side)]
            chans = [left, [l - s for l, s in zip(left, side)]]
        out.append(np.array(chans, dtype=np.int64).T)
        n_out += block_size

    if not out:
        raise FlacError("stream has no audio frames")
    samples = np.concatenate(out, axis=0)
    if total and samples.shape[0] != total:
        raise FlacError(
            f"decoded {samples.shape[0]} frames, STREAMINFO says {total}")
    if np.abs(samples).max(initial=0) >= (1 << 31):
        raise FlacError("decoded samples overflow int32")
    return rate, channels, bits, samples.astype(np.int32)


def _encode_subframe(bw: MsbWriter, samples: list[int], bits: int,
                     strategy: str) -> None:
    if all(s == samples[0] for s in samples):
        bw.write(0, 1); bw.write(0, 6); bw.write(0, 1)
        bw.write(samples[0], bits)
        return
    if strategy == "verbatim" or len(samples) <= 2:
        bw.write(0, 1); bw.write(1, 6); bw.write(0, 1)
        for s in samples:
            bw.write(s, bits)
        return
    # FIXED order 2
    bw.write(0, 1); bw.write(8 + 2, 6); bw.write(0, 1)
    bw.write(samples[0], bits)
    bw.write(samples[1], bits)
    residual = [samples[i] - 2 * samples[i - 1] + samples[i - 2]
                for i in range(2, len(samples))]
    _encode_residual(bw, residual)


def flac_encode(samples, sample_rate: int, bits: int = 16,
                block_size: int = 4096, strategy: str = "fixed") -> bytes:
    """int samples (ndarray shape (n_frames, n_channels) or nested
    sequence) → FLAC bytes: independent channels, fixed blocking,
    CONSTANT/VERBATIM/FIXED-2 subframes. Lossless by construction, so
    ``flac_decode`` of the output returns the input exactly — the
    fixture inverse the synthetic-corpus oracle relies on."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    if arr.ndim != 2 or arr.shape[0] < 1:
        raise FlacError(f"samples must be (n_frames, n_channels), got "
                        f"shape {arr.shape}")
    n_frames, channels = arr.shape
    if not (1 <= channels <= MAX_CHANNELS):
        raise FlacError(f"bad channel count {channels}")
    if not (1 <= sample_rate <= MAX_RATE):
        raise FlacError(f"bad sample rate {sample_rate}")
    if bits not in (8, 16):
        raise FlacError(f"fixture encoder supports 8/16-bit, not {bits}")
    lim = 1 << (bits - 1)
    if arr.min() < -lim or arr.max() > lim - 1:
        raise FlacError(f"{bits}-bit samples out of range")
    if not (1 <= block_size <= MAX_BLOCK):
        raise FlacError(f"bad block size {block_size}")

    frames = bytearray()
    for fi, start in enumerate(range(0, n_frames, block_size)):
        block = arr[start:start + block_size]
        bs = block.shape[0]
        bw = MsbWriter()
        bw.write(0b11111111111110, 14)
        bw.write(0, 1)  # reserved
        bw.write(0, 1)  # fixed blocking: number is the frame index
        if bs - 1 < 256:
            bw.write(6, 4)   # 8-bit block size at header end
        else:
            bw.write(7, 4)   # 16-bit block size at header end
        bw.write(0, 4)       # sample rate: from STREAMINFO
        bw.write(channels - 1, 4)
        bw.write({8: 1, 16: 4}[bits], 3)
        bw.write(0, 1)       # reserved
        _write_utf8_number(bw, fi)
        if bs - 1 < 256:
            bw.write(bs - 1, 8)
        else:
            bw.write(bs - 1, 16)
        bw.align()
        header = bw.getvalue()
        bw = MsbWriter()
        for c in range(channels):
            _encode_subframe(bw, [int(v) for v in block[:, c]], bits,
                             strategy)
        bw.align()
        body = header + bytes([_crc8(header)]) + bw.getvalue()
        frames += body + struct.pack(">H", _crc16(body))

    md5 = hashlib.md5()
    if bits == 8:
        md5.update(arr.astype(np.int8).tobytes())
    else:
        md5.update(arr.astype("<i2").tobytes())
    info = bytearray()
    # Fixed-blocksize stream (frames address by frame number, blocking
    # strategy 0): RFC 9639 marks such streams with min==max blocksize and
    # explicitly allows a shorter FINAL block, so a ragged tail does NOT
    # lower the min (writing the tail's size would both violate the
    # 16-sample floor and mislabel the stream variable-blocksize).
    # Single-block streams use the actual block size as min==max.
    eff_bs = block_size if n_frames > block_size else n_frames
    info += struct.pack(">HH", eff_bs, eff_bs)
    info += b"\x00\x00\x00" * 2  # min/max frame size unknown
    info += bytes([
        (sample_rate >> 12) & 0xFF, (sample_rate >> 4) & 0xFF,
        ((sample_rate & 0x0F) << 4) | ((channels - 1) << 1)
        | ((bits - 1) >> 4),
        (((bits - 1) & 0x0F) << 4) | ((n_frames >> 32) & 0x0F),
    ])
    info += struct.pack(">I", n_frames & 0xFFFFFFFF)
    info += md5.digest()
    header = FLAC_SIGNATURE + struct.pack(
        ">I", (1 << 31) | (0 << 24) | len(info)) + bytes(info)
    return header + bytes(frames)
