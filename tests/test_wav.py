"""WAV codec (ops/wavcodec) + audio_features operator (ops/audio).

Round-trips (8/16-bit, mono → 8 channels), RIFF chunk-walk details (odd
chunk padding, unknown chunks, LIST before fmt), the strict signature
sniff (arbitrary text bytes must NEVER take the WAV path), typed hostile-
input rejection, the exact-decimation property of the linear resampler,
and the Spark audio_features statistics against hand-computed values.
"""

import random
import struct

import numpy as np
import pytest

from marky_spark.ops.wavcodec import (
    MAX_SAMPLES,
    WavError,
    WavUnsupportedError,
    looks_like_wav,
    wav_decode,
    wav_encode,
    wav_resample_linear,
)


@pytest.mark.parametrize("bits", [8, 16])
@pytest.mark.parametrize("channels", [1, 2, 8])
def test_round_trip(bits, channels):
    rng = random.Random(bits * 10 + channels)
    lo, hi = (-128, 127) if bits == 8 else (-32768, 32767)
    frames = [[rng.randint(lo, hi) for _ in range(channels)]
              for _ in range(37)]
    data = wav_encode(frames, 16000, bits=bits)
    assert looks_like_wav(data)
    rate, ch, b, samples = wav_decode(data)
    assert (rate, ch, b) == (16000, channels, bits)
    assert samples.tolist() == frames


def test_8bit_recentered_to_signed():
    """8-bit PCM is stored unsigned (0..255); decode recenters to
    stored-128 so both depths share the signed convention."""
    data = wav_encode([[-128], [0], [127]], 8000, bits=8)
    # stored bytes are 0, 128, 255
    assert data[-4:] == bytes([0, 128, 255, 0])  # + final pad (3 is odd)
    assert wav_decode(data)[3].ravel().tolist() == [-128, 0, 127]


def test_odd_data_chunk_is_padded():
    """RIFF word alignment: odd-sized chunks carry a pad byte the walk
    must skip (an 8-bit mono frame count that's odd exercises it)."""
    data = wav_encode([[1], [2], [3]], 8000, bits=8)
    assert len(data) % 2 == 0
    assert wav_decode(data)[3].ravel().tolist() == [1, 2, 3]


def test_unknown_chunks_are_skipped():
    """Real WAVs carry LIST/INFO, fact, cue chunks — the walk must skip
    unknown ids (even BEFORE fmt) and still find fmt + data."""
    base = wav_encode([[5], [-5]], 8000, bits=16)
    fmt_and_data = base[12:]
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # odd + pad
    body = b"WAVE" + extra + fmt_and_data[:]
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    assert wav_decode(data)[3].ravel().tolist() == [5, -5]


def test_sniff_rejects_text_and_short():
    assert not looks_like_wav(b"")
    assert not looks_like_wav(b"RIFF")
    assert not looks_like_wav(b"hello world, this is a document")
    assert not looks_like_wav(b"RIFF\x00\x00\x00\x00AVI ")  # RIFF, not WAVE
    with pytest.raises(WavError):
        wav_decode(b"not a wav at all")


@pytest.mark.parametrize("mutate, msg", [
    (lambda d: d[:30], "declares"),                      # truncated chunk
    (lambda d: _patch(d, 20, "<H", 2), "unknown WAV format tag"),
    (lambda d: _patch(d, 22, "<H", 0), "bad channel count"),
    (lambda d: _patch(d, 22, "<H", 9), "bad channel count"),
    (lambda d: _patch(d, 24, "<I", 0), "bad sample rate"),
    (lambda d: _patch(d, 34, "<H", 24), "unsupported PCM bit depth"),
    (lambda d: _patch(d, 32, "<H", 7), "block align"),
])
def test_hostile_inputs_raise_typed(mutate, msg):
    base = wav_encode([[1, 2], [3, 4]], 8000, bits=16)
    with pytest.raises(WavError, match=msg):
        wav_decode(mutate(base))


def _patch(data: bytes, off: int, fmt: str, val: int) -> bytes:
    d = bytearray(data)
    struct.pack_into(fmt, d, off, val)
    return bytes(d)


def test_extensible_dispatches_on_subformat():
    """WAVE_FORMAT_EXTENSIBLE carries the real tag in the SubFormat GUID;
    a PCM GUID decodes exactly like tag 1, a truncated extension is a
    typed error, and a nested-extensible GUID is malformed."""
    samples = [[1000, -1000], [2000, -2000], [3000, -3000]]
    base = wav_encode(samples, 8000, bits=16)
    guid_suffix = bytes.fromhex("000000001000800000aa00389b71")
    ext = struct.pack("<HHI", 22, 16, 0x3) + struct.pack("<H", 1) \
        + guid_suffix
    fmt = struct.pack("<HHIIHH", 0xFFFE, 2, 8000, 32000, 4, 16) + ext
    at = base.index(b"data")
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + base[at:])
    blob = b"RIFF" + struct.pack("<I", len(body)) + body
    rate, ch, bits, out = wav_decode(blob)
    assert (rate, ch, bits) == (8000, 2, 16)
    assert out.tolist() == samples
    # short extension: typed
    with pytest.raises(WavError, match="SubFormat"):
        wav_decode(_patch(base, 20, "<H", 0xFFFE))
    # float with a non-float bit width is malformed, not a decode
    with pytest.raises(WavError, match="IEEE-float"):
        wav_decode(_patch(base, 20, "<H", 3))
    # extensible IMA ADPCM: offset 18 is a UNION (wValidBitsPerSample /
    # wSamplesPerBlock) so the plain-fmt geometry parse does not apply —
    # the contract is an explicit typed reject, never a mis-decode
    adpcm_guid = struct.pack("<H", 0x11) + guid_suffix
    ext_adpcm = struct.pack("<HHI", 22, 4, 0x3) + adpcm_guid
    fmt_adpcm = struct.pack("<HHIIHH", 0xFFFE, 2, 8000, 32000, 4, 16) \
        + ext_adpcm
    body_adpcm = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_adpcm))
                  + fmt_adpcm + base[at:])
    with pytest.raises(WavError, match="extensible IMA ADPCM"):
        wav_decode(b"RIFF" + struct.pack("<I", len(body_adpcm)) + body_adpcm)
    assert issubclass(WavUnsupportedError, NotImplementedError)


def test_float_wav_decodes_exactly():
    """IEEE-float WAVs (tag 3) decode for real: every 16-bit lattice value
    round-trips exactly through the /32767 normalized convention at both
    float widths."""
    from marky_spark.ops.wavcodec import wav_encode_float

    rng = random.Random(0xF10A7)
    sig = np.array([[rng.randint(-32767, 32767), rng.randint(-32767, 32767)]
                    for _ in range(128)], dtype=np.int64)
    for bits in (32, 64):
        rate, ch, b, out = wav_decode(wav_encode_float(sig, 16000, bits))
        assert (rate, ch, b) == (16000, 2, 16)
        assert (out == sig).all(), bits
    # non-finite samples are typed errors, not NaN propagation
    import struct as _s
    blob = bytearray(wav_encode_float(sig[:2], 8000))
    at = blob.index(b"data") + 8
    blob[at:at + 4] = _s.pack("<f", float("nan"))
    with pytest.raises(WavError, match="non-finite"):
        wav_decode(bytes(blob))


def test_partial_frame_rejected():
    data = bytearray(wav_encode([[1], [2], [3]], 8000, bits=16))
    # grow the declared data size past the actual payload → chunk walk
    # catches the lie before frame math runs
    with pytest.raises(WavError):
        wav_decode(_patch(bytes(data), 40, "<I", 7))


def test_sample_cap_enforced_before_allocation():
    """A header claiming more samples than MAX_SAMPLES must be rejected
    by arithmetic (the data would be huge; the decl check fires first)."""
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    huge = MAX_SAMPLES + 1
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", huge))
    data = b"RIFF" + struct.pack("<I", len(body) + huge) + body
    with pytest.raises(WavError):
        wav_decode(data)


def test_encode_range_checks():
    with pytest.raises(WavError):
        wav_encode([[200]], 8000, bits=8)
    with pytest.raises(WavError):
        wav_encode([[40000]], 8000, bits=16)
    with pytest.raises(WavError):
        wav_encode([[1]], 0)
    with pytest.raises(WavError):
        wav_encode(np.zeros((0, 1), dtype=int), 8000)


def test_resample_half_rate_is_exact_decimation():
    """Even frame count + half-rate target → the interpolation grid lands
    exactly on even source indices: out[i] == in[2i], no rounding at all.
    This is the property the driver oracle reconstructs in SQL."""
    rng = random.Random(7)
    frames = [[rng.randint(-1000, 1000), rng.randint(-1000, 1000)]
              for _ in range(64)]
    out = wav_resample_linear(frames, 16000, 8000)
    assert out.tolist() == frames[::2]


def test_resample_upsample_interpolates():
    out = wav_resample_linear([[0], [100]], 8000, 16000)
    # 4 output frames at t = 0, 0.5, 1.0, 1.5 (clamped) → 0, 50, 100, 100
    assert out.ravel().tolist() == [0, 50, 100, 100]


def test_wav_mutations_stay_typed():
    """Same contract as the image codecs: mutations of a valid WAV either
    decode (bounded) or raise WavError/WavUnsupportedError — never an
    untyped escape."""
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0xA0D10)
    base = wav_encode([[i % 100 - 50, -(i % 100 - 50)] for i in range(50)],
                      16000, bits=16)
    for _ in range(300):
        blob = _mutate(rng, base)
        try:
            _, ch, _, samples = wav_decode(blob)
        except (WavError, WavUnsupportedError):
            continue
        assert samples.size <= MAX_SAMPLES
        assert samples.shape[1] == ch


def test_audio_features_spark(spark):
    """Drive the full Spark path on the synthetic corpus and check one
    doc's statistics against a hand computation."""
    from marky_spark.ops.audio import audio_features, synth_wav_media

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    feats = {r["media_ref"]: r
             for r in audio_features(synth_wav_media(docs)).collect()}
    assert len(feats) == 16  # 'w{i}' PCM/G.711/FLAC + 'wa{i}' IMA ADPCM
    import hashlib

    def sample(code: int, law: int) -> int:
        # mirror of synth_wav_media's per-class value formula: PCM scaled
        # ascii, or the G.711 law's exact decoded-lattice point
        if law == 0:
            return (code - 100) * 13
        sign = 1 if code % 2 == 0 else -1
        exp, mant = code % 8, code % 16
        if law == 1:
            return sign * ((mant << (exp + 3)) + 132 * ((1 << exp) - 1))
        return sign * ((mant * 16 + 8) if exp == 0
                       else (mant * 16 + 264) << (exp - 1))

    # PCM16, mu-law, A-law (i % 3), and FLAC (i % 4 == 3, PCM formula)
    for i in (0, 1, 5, 3, 7):
        ch = 1 + i % 2
        n = 64 + 2 * (i % 32)
        hexs = hashlib.md5(str(i).encode()).hexdigest()
        stream = (hexs * (-(-(n * ch) // len(hexs))))[:n * ch]
        vals = [sample(ord(c), 0 if i % 4 == 3 else i % 3) for c in stream]
        c0 = vals[::ch]
        r = feats[f"w{i}"]
        assert r["ok"] == "ok"
        assert (r["sample_rate"], r["channels"], r["bits"]) == (
            8000 + (i % 4) * 4000, ch, 16)
        assert r["n_frames"] == n
        assert r["sum_c0"] == sum(c0)
        assert r["sum_c1"] == (sum(vals[1::ch]) if ch > 1 else None)
        assert r["zc_c0"] == sum(
            1 for a, b in zip(c0, c0[1:]) if a * b < 0)
        assert r["peak"] == max(abs(v) for v in vals)
        assert r["ds_frames"] == n // 2
        assert r["ds_sum_c0"] == sum(c0[::2])

    # branch 'wa': IMA ADPCM, checked against an in-test state-machine
    # replay written from the IMA/DVI spec (the corpus nibbles are md5
    # arithmetic — neither the repo encoder NOR decoder is involved here)
    step_t = __import__("marky_spark.ops.wavcodec",
                        fromlist=["_IMA_STEP_TABLE"])._IMA_STEP_TABLE
    idx_t = (-1, -1, -1, -1, 2, 4, 6, 8)
    for i in (0, 2, 5, 7):
        db = 4 * (2 + i % 4)
        spb = 1 + 2 * db
        hexs = hashlib.md5(str(i).encode()).hexdigest()
        chars = (hexs * (-(-(4 * db) // len(hexs))))[:4 * db]
        c0 = []
        for b in range(2):
            pred = ((i * 157 + b * 101) % 1024) - 512
            idx = (i * 7 + b * 13) % 89
            c0.append(pred)
            for ch_ in chars[b * 2 * db:(b + 1) * 2 * db]:
                nib = int(ch_, 16)
                step = step_t[idx]
                diff = step >> 3
                if nib & 4:
                    diff += step
                if nib & 2:
                    diff += step >> 1
                if nib & 1:
                    diff += step >> 2
                pred = max(-32768, min(32767,
                           pred - diff if nib & 8 else pred + diff))
                idx = max(0, min(88, idx + idx_t[nib & 7]))
                c0.append(pred)
        r = feats[f"wa{i}"]
        assert r["ok"] == "ok"
        assert (r["channels"], r["bits"], r["n_frames"]) == (1, 16, 2 * spb)
        assert r["sum_c0"] == sum(c0)
        assert r["zc_c0"] == sum(1 for a, b in zip(c0, c0[1:]) if a * b < 0)
        assert r["peak"] == max(abs(v) for v in c0)
        assert (r["ds_frames"], r["ds_sum_c0"]) == (spb, sum(c0[::2]))


def test_audio_features_poison_isolation(spark):
    """Non-WAV, malformed-WAV and float-WAV payloads isolate into rows."""
    from marky_spark.ops.audio import audio_features

    good = wav_encode([[1], [2]], 8000, bits=16)
    rows = {r["media_ref"]: r for r in audio_features(spark.createDataFrame(
        [("ok", "audio/wav", bytearray(good)),
         ("txt", "text/plain", bytearray(b"just some document text")),
         ("bad", "audio/wav", bytearray(_patch(good, 22, "<H", 0))),
         ("flt", "audio/wav", bytearray(_patch(good, 20, "<H", 3))),
         ("nul", "audio/wav", None)],
        "media_ref string, mime string, payload binary",
    )).collect()}
    assert rows["ok"]["ok"] == "ok" and rows["ok"]["n_frames"] == 2
    assert rows["txt"]["ok"] == "unsupported"  # no codec claims text
    assert rows["bad"]["ok"].startswith("error: bad channel count")
    # tag 3 with a PCM16 bit width is malformed (real float is decoded)
    assert rows["flt"]["ok"].startswith("error: IEEE-float")
    assert rows["nul"]["ok"] == "unsupported"
    for ref in ("txt", "bad", "flt", "nul"):
        assert (rows[ref]["sample_rate"], rows[ref]["n_frames"],
                rows[ref]["peak"]) == (None, None, None)


def test_wav_feature_vec_content_derived():
    """The media_features audio branch: real statistics over the decoded
    samples, hand-checked; non-WAV returns None; malformed raises typed."""
    from marky_spark.ops.audio import wav_feature_vec

    # mono 16-bit: half full-negative, half full-positive-ish
    samples = [[-32768]] * 10 + [[32767]] * 10
    vec = wav_feature_vec(wav_encode(samples, 24000, bits=16))
    assert vec is not None and len(vec) == 16
    assert vec[0] == pytest.approx(24000 / 48000.0)
    assert vec[1] == pytest.approx(1 / 4.0)
    assert vec[2] == pytest.approx(20 / 1e6)
    assert vec[3] == pytest.approx((10 * -1.0 + 10 * (32767 / 32768)) / 20)
    assert vec[4] == pytest.approx(vec[3])       # channel-0 mean == global
    assert vec[5:8] == [0.0, 0.0, 0.0]           # zero-padded channels
    hist = vec[8:16]
    assert hist[0] == pytest.approx(0.5)         # bucket 0: [-1, -0.75)
    assert hist[7] == pytest.approx(0.5)         # bucket 7: [0.75, 1)
    assert sum(hist) == pytest.approx(1.0)

    assert wav_feature_vec(b"plain document text bytes") is None
    with pytest.raises(WavError):
        wav_feature_vec(_patch(wav_encode(samples, 24000), 22, "<H", 0))


def test_wav_feature_vec_depth_invariant():
    """An 8-bit and a 16-bit encoding of the same full-scale-normalized
    signal embed (near-)identically — the content-derived property."""
    from marky_spark.ops.audio import wav_feature_vec

    rng = random.Random(0xFEA7)
    s8 = [[rng.randint(-128, 127)] for _ in range(200)]
    s16 = [[v[0] * 256] for v in s8]
    v8 = wav_feature_vec(wav_encode(s8, 16000, bits=8))
    v16 = wav_feature_vec(wav_encode(s16, 16000, bits=16))
    assert v8 == pytest.approx(v16, abs=1e-9)


def test_media_features_routes_wav(spark):
    """media_features computes the audio vector for WAV payloads; text no
    codec claims is an unsupported row and a truncated WAV an error row,
    both with a null vector (poison isolation, no task failure)."""
    from marky_spark.ops.audio import wav_feature_vec
    from marky_spark.ops.multimodal import media_features

    good = wav_encode([[i * 100 - 500] for i in range(32)], 8000, bits=16)
    rows = {r["media_ref"]: r
            for r in media_features(spark.createDataFrame(
                [("wav", "audio/wav", bytearray(good)),
                 ("txt", "text/plain", bytearray(b"some text")),
                 ("cut", "audio/wav", bytearray(good[:20]))],
                "media_ref string, mime string, payload binary",
            )).collect()}
    assert rows["wav"]["ok"] == "ok"
    assert list(rows["wav"]["features"]) == pytest.approx(
        wav_feature_vec(good))
    assert (rows["txt"]["ok"], rows["txt"]["features"]) == \
        ("unsupported", None)
    assert rows["cut"]["ok"].startswith("error: ")
    assert rows["cut"]["features"] is None


def test_zero_frame_wav_rejected_not_nan():
    """A valid header over an EMPTY data chunk must be a typed error, not
    a NaN-producing decode (empty-array means would poison the feature
    vector downstream)."""
    from marky_spark.ops.audio import wav_feature_vec

    blob = wav_encode([[1]], 8000, bits=16)
    # shrink the data chunk to zero bytes: header stays valid
    at = blob.index(b"data")
    empty = blob[:at] + b"data" + struct.pack("<I", 0)
    empty = empty[:4] + struct.pack("<I", len(empty) - 8) + empty[8:]
    with pytest.raises(WavError, match="zero frames"):
        wav_decode(empty)
    with pytest.raises(WavError, match="zero frames"):
        wav_feature_vec(empty)


# --- G.711 mu-law / A-law (fmt tags 7 / 6) ---------------------------------


def test_g711_decode_anchor_values():
    """The derived LUTs must reproduce the classic published table anchors
    (ITU-T G.711): mu-law full scale ±32124 with two zero codes, A-law
    ±32256 with ±8 as the smallest magnitudes (no zero)."""
    from marky_spark.ops.wavcodec import _g711_lut

    mu, al = _g711_lut(7), _g711_lut(6)
    assert mu[0x00] == -32124 and mu[0x80] == 32124
    assert mu[0x7F] == 0 and mu[0xFF] == 0
    assert al[0x2A] == -32256 and al[0xAA] == 32256
    assert al[0x55] == -8 and al[0xD5] == 8
    # odd symmetry: flipping the sign bit negates the sample
    assert (mu[np.arange(128)] == -mu[np.arange(128) + 128]).all()
    assert (al[np.arange(256) ^ 0x80] == -al[np.arange(256)]).all()
    assert (np.abs(al[np.arange(256)]) >= 8).all()  # A-law has no zero


def test_g711_reencode_identity_all_codes():
    """decode → encode returns the original code for all 256 codes of both
    laws — except mu-law 0x7F ("negative zero"), which canonically
    collapses onto 0xFF like every standard encoder does."""
    from marky_spark.ops.wavcodec import (
        _g711_lut,
        linear_to_alaw,
        linear_to_mulaw,
    )

    codes = np.arange(256, dtype=np.uint8)
    back = linear_to_mulaw(_g711_lut(7)[codes])
    mismatch = codes[back != codes]
    assert list(mismatch) == [0x7F] and back[0x7F] == 0xFF
    assert (linear_to_alaw(_g711_lut(6)[codes]) == codes).all()


@pytest.mark.parametrize("law,tag", [("mulaw", 7), ("alaw", 6)])
def test_g711_container_round_trip_exact_on_lattice(law, tag):
    """Lattice samples (every decodable value) survive the full WAV
    container round-trip exactly, stereo, reported at 16-bit scale."""
    from marky_spark.ops.wavcodec import _g711_lut, wav_encode_g711

    vals = _g711_lut(tag)[np.arange(256)].astype(np.int64).reshape(-1, 2)
    blob = wav_encode_g711(vals, 8000, law)
    assert struct.unpack_from("<H", blob, 20)[0] == tag
    rate, ch, bits, samples = wav_decode(blob)
    assert (rate, ch, bits) == (8000, 2, 16)
    assert (samples == vals).all()


def test_g711_quantizes_off_lattice_to_nearest_segment():
    """Arbitrary 16-bit PCM compressed to G.711 decodes within the
    segment's quantization step (the telephony loss contract), and
    re-compressing the decoded value is idempotent."""
    from marky_spark.ops.wavcodec import _g711_lut, linear_to_mulaw

    rng = random.Random(0x6711)
    xs = np.array([rng.randint(-32635, 32635) for _ in range(4096)],
                  dtype=np.int64)
    dec = _g711_lut(7)[linear_to_mulaw(xs)].astype(np.int64)
    # step at magnitude |x| is 8 << exp where exp is the segment of |x|+bias
    m = np.abs(xs) + 0x84
    exp = np.zeros_like(m)
    for e in range(1, 8):
        exp = np.where(m >= (0x100 << (e - 1)), e, exp)
    assert (np.abs(dec - xs) <= (8 << exp)).all()
    assert (linear_to_mulaw(dec) == linear_to_mulaw(xs)).all()


def test_g711_malformed_fmt_rejected():
    """G.711 with a non-8-bit code size or wrong block align is malformed
    (typed error), not a decode."""
    from marky_spark.ops.wavcodec import wav_encode_g711

    blob = bytearray(wav_encode_g711(np.arange(16).reshape(-1, 1), 8000))
    blob[34:36] = struct.pack("<H", 16)  # bits field inside fmt
    with pytest.raises(WavError, match="8-bit codes"):
        wav_decode(bytes(blob))
    blob = bytearray(wav_encode_g711(np.arange(16).reshape(-1, 1), 8000))
    blob[32:34] = struct.pack("<H", 5)  # block align
    with pytest.raises(WavError, match="block align"):
        wav_decode(bytes(blob))


def test_g711_mutations_stay_typed():
    """Mutation contract extends to the G.711 container path."""
    from tests.test_mutation_fuzz import _mutate
    from marky_spark.ops.wavcodec import wav_encode_g711

    rng = random.Random(0xA1A3)
    base = wav_encode_g711(
        np.array([[(i * 37) % 2000 - 1000] for i in range(64)]), 8000,
        "alaw")
    for _ in range(300):
        blob = _mutate(rng, base)
        try:
            _, ch, _, samples = wav_decode(blob)
        except (WavError, WavUnsupportedError):
            continue
        assert samples.size <= MAX_SAMPLES
        assert samples.shape[1] == ch


def test_wav_feature_vec_g711_near_invariant_to_pcm():
    """A G.711 encoding of a PCM16 signal must embed CLOSE to the PCM
    embedding (same decoded scale; only segment quantization differs) —
    the audio analogue of the image depth-invariance test."""
    from marky_spark.ops.audio import wav_feature_vec
    from marky_spark.ops.wavcodec import wav_encode_g711

    rng = random.Random(0xFEA7)
    sig = np.array([[rng.randint(-30000, 30000)] for _ in range(256)],
                   dtype=np.int64)
    v_pcm = wav_feature_vec(wav_encode(sig, 16000, bits=16))
    v_mu = wav_feature_vec(wav_encode_g711(sig, 16000, "mulaw"))
    v_al = wav_feature_vec(wav_encode_g711(sig, 16000, "alaw"))
    for v in (v_mu, v_al):
        assert v is not None
        # rate/channels/frames identical; means/hist within quant error
        assert v[0] == v_pcm[0] and v[1] == v_pcm[1] and v[2] == v_pcm[2]
        assert max(abs(a - b) for a, b in zip(v, v_pcm)) < 0.05


# --- IMA ADPCM (fmt tag 0x11) ----------------------------------------------


def _adpcm_representable(n=504, seed=7):
    """A clamp-free signal the ADPCM state machine can represent exactly
    (generated BY the decoder's own state steps, sign-steered away from
    the int16 clamp where encode/decode nibble choices may legally
    diverge)."""
    from marky_spark.ops.wavcodec import _IMA_STEP_TABLE, _ima_decode_nibble

    rng = random.Random(seed)
    state, vals = [0, 0], [0]
    for _ in range(n):
        step = _IMA_STEP_TABLE[state[1]]
        mag = rng.randint(0, 7) if step < 3000 else rng.randint(0, 3)
        move = ((step >> 3) + (step if mag & 4 else 0)
                + ((step >> 1) if mag & 2 else 0)
                + ((step >> 2) if mag & 1 else 0))
        if vals[-1] + move > 20000:
            nb = mag | 8
        elif vals[-1] - move < -20000:
            nb = mag
        else:
            nb = mag | (8 if rng.random() < .5 else 0)
        vals.append(_ima_decode_nibble(state, nb))
    return vals


def test_adpcm_representable_round_trip_exact():
    """Signals on the state machine's own trajectory (no clamping)
    survive encode→decode bit-exactly — encoder and decoder share one
    state machine."""
    from marky_spark.ops.wavcodec import wav_encode_adpcm

    sig = np.array(_adpcm_representable(), dtype=np.int64).reshape(-1, 1)
    rate, ch, bits, out = wav_decode(wav_encode_adpcm(sig, 8000))
    assert (rate, ch, bits) == (8000, 1, 16)
    assert (out[:, 0] == sig[:, 0]).all()


def test_adpcm_smooth_signal_tracks():
    """After the cold-start adaptation window, a speech-band sine decodes
    within a few quantization steps, mono and stereo."""
    import math

    from marky_spark.ops.wavcodec import wav_encode_adpcm

    for ch in (1, 2):
        sig = np.array([[int(20000 * math.sin(i / 15 + c))
                         for c in range(ch)] for i in range(1000)],
                       dtype=np.int64)
        rate, c, bits, out = wav_decode(wav_encode_adpcm(sig, 8000))
        assert (rate, c, bits) == (8000, ch, 16)
        assert out.shape == (1000, ch)
        assert np.abs(out.astype(np.int64) - sig)[100:].max() < 3500


def test_adpcm_fact_chunk_trims_tail_padding():
    """A stream whose length is not a whole number of blocks comes back at
    its true frame count (the fact chunk records it)."""
    from marky_spark.ops.wavcodec import wav_encode_adpcm

    sig = np.arange(700, dtype=np.int64).reshape(-1, 1) % 256
    _, _, _, out = wav_decode(wav_encode_adpcm(sig, 8000,
                                               samples_per_block=505))
    assert out.shape == (700, 1)


def test_adpcm_malformed_rejected():
    from marky_spark.ops.wavcodec import wav_encode_adpcm

    sig = np.zeros((505, 1), dtype=np.int64)
    good = wav_encode_adpcm(sig, 8000)
    # step index out of range in the block header
    data_at = good.index(b"data") + 8
    bad = bytearray(good)
    bad[data_at + 2] = 99
    with pytest.raises(WavError, match="step index"):
        wav_decode(bytes(bad))
    # reserved header byte set
    bad = bytearray(good)
    bad[data_at + 3] = 1
    with pytest.raises(WavError, match="reserved"):
        wav_decode(bytes(bad))
    # samples_per_block disagrees with block align
    bad = bytearray(good)
    fmt_at = bad.index(b"fmt ") + 8
    bad[fmt_at + 18:fmt_at + 20] = struct.pack("<H", 121)
    with pytest.raises(WavError, match="samples_per_block"):
        wav_decode(bytes(bad))
    # even samples_per_block rejected at encode
    with pytest.raises(WavError, match="multiple of 8"):
        wav_encode_adpcm(sig, 8000, samples_per_block=10)


def test_adpcm_mutations_stay_typed():
    from tests.test_mutation_fuzz import _mutate
    from marky_spark.ops.wavcodec import MAX_SAMPLES, wav_encode_adpcm

    rng = random.Random(0xADC)
    sig = np.array(_adpcm_representable(200, seed=3),
                   dtype=np.int64).reshape(-1, 1)
    base = wav_encode_adpcm(np.concatenate([sig, -sig], axis=1), 8000,
                            samples_per_block=105)
    for _ in range(300):
        blob = _mutate(rng, base)
        try:
            _, ch, _, samples = wav_decode(blob)
        except (WavError, WavUnsupportedError):
            continue
        assert samples.size <= MAX_SAMPLES
        assert samples.shape[1] == ch


def test_audio_features_routes_adpcm(spark):
    """audio_features really decodes IMA ADPCM WAVs at the 16-bit scale."""
    from marky_spark.ops.audio import audio_features
    from marky_spark.ops.wavcodec import wav_encode_adpcm

    sig = np.array(_adpcm_representable(), dtype=np.int64).reshape(-1, 1)
    blob = wav_encode_adpcm(sig, 8000)
    rows = {r["media_ref"]: r for r in audio_features(spark.createDataFrame(
        [("a", "audio/wav", bytearray(blob))],
        "media_ref string, mime string, payload binary")).collect()}
    r = rows["a"]
    assert r["ok"] == "ok"
    assert (r["bits"], r["n_frames"]) == (16, 505)
    assert r["sum_c0"] == int(sig[:, 0].sum())  # exact: representable signal


def test_adpcm_ragged_block_rejected_not_truncated():
    """A block align that leaves a non-word data region must be a typed
    error, not silent frame loss."""
    from marky_spark.ops.wavcodec import wav_encode_adpcm

    sig = np.zeros((27, 2), dtype=np.int64)
    good = wav_encode_adpcm(sig, 8000, samples_per_block=9)  # 3×16-byte blocks
    fmt_at = good.index(b"fmt ") + 8
    # block_align 16 -> 12: still whole blocks (48 % 12 == 0) but the
    # 4-byte data region is not a whole per-channel word set (ragged)
    bad = _patch(good, fmt_at + 12, "<H", 12)
    with pytest.raises(WavError, match="whole per-channel words"):
        wav_decode(bad)


def _ima_wav(blocks: bytes, channels: int = 1, spb: int = 9,
             block_align: int = 8, rate: int = 8000) -> bytes:
    """Hand-assembled IMA-ADPCM WAV (fmt tag 0x11) around raw block bytes."""
    fmt = struct.pack("<HHIIHH", 0x11, channels, rate,
                      rate * block_align // spb, block_align, 4)
    fmt += struct.pack("<HH", 2, spb)  # cbSize, samples_per_block
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(blocks)) + blocks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_ima_adpcm_hand_computed_vectors():
    """Decode pinned against a NIBBLE TRACE computed by hand from the
    IMA/DVI spec formulas (diff = step>>3 (+step if b4) (+step>>1 if b2)
    (+step>>2 if b1); index += [-1,-1,-1,-1,2,4,6,8][n&7]) — fully
    independent of the repo's encoder, so a shared encoder/decoder bug
    cannot self-hide."""
    # vector A: pred=0, idx=0; nibbles 3,4,8,15,0,2,12,7 (low nibble first)
    hdr = struct.pack("<hBB", 0, 0, 0)
    data = bytes([0x43, 0xF8, 0x20, 0x7C])
    rate, ch, bits, out = wav_decode(_ima_wav(hdr + data))
    assert (rate, ch, bits) == (8000, 1, 16)
    assert out[:, 0].tolist() == [0, 4, 11, 10, -5, -3, 7, -8, 23]

    # vector B: clamping at both rails — pred=32760, idx=88 (step 32767);
    # nibbles 7 (clamps high), 15 (big negative), then six zeros decay
    hdr = struct.pack("<hBB", 32760, 88, 0)
    data = bytes([0xF7, 0x00, 0x00, 0x00])
    _, _, _, out = wav_decode(_ima_wav(hdr + data))
    # n=7 clamps high (diff = 4095+32767+16383+8191); n=15's index
    # bump (+8) CLAMPS at 88, so step stays 32767 for the big negative;
    # the six zero nibbles then decay by step>>3 with the index walking
    # down 88,87,86,... (29794>>3=3724, 27086>>3=3385, ...)
    assert out[:, 0].tolist() == [32760, 32767, -28669, -24574, -20850,
                                  -17465, -14388, -11590, -9047]


def test_ima_adpcm_stereo_word_interleave_hand_computed():
    """Stereo blocks interleave 4-byte nibble words per channel; each
    channel's state machine advances independently (hand trace: left is
    vector A's first 8 nibbles, right decodes all-zero nibbles from
    pred=100, idx=4 → repeated +step>>3 with the index decaying)."""
    hdr = struct.pack("<hBB", 0, 0, 0) + struct.pack("<hBB", 100, 4, 0)
    left = bytes([0x43, 0xF8, 0x20, 0x7C])
    right = bytes([0x00, 0x00, 0x00, 0x00])
    blob = _ima_wav(hdr + left + right, channels=2, block_align=16)
    _, ch, _, out = wav_decode(blob)
    assert ch == 2
    assert out[:, 0].tolist() == [0, 4, 11, 10, -5, -3, 7, -8, 23]
    # right: step_table[4]=11 → +1 (11>>3); idx 4-1=3 (10) → +1; idx 2
    # (9) → +1; idx 1 (8) → +1; idx 0 (7) → +0 for the rest (7>>3 = 0)
    assert out[:, 1].tolist() == [100, 101, 102, 103, 104, 104, 104,
                                  104, 104]
