"""AVI/MJPEG container codec (ops/avicodec) + the frame_sample video path.

Round-trips, RIFF LIST-walk details (JUNK/idx1 skipping, word alignment),
typed hostile-input rejection, structure-aware mutation fuzzing, the
exhaustive uniform-JPEG exactness sweep the synthetic-corpus oracle relies
on, and the Spark frame_sample integration (real frames out, a typed
error row for a malformed payload).
"""

import random
import struct

import pytest

from marky_spark.ops.avicodec import (
    AviError,
    avi_decode_frames,
    avi_encode,
    looks_like_avi,
)
from marky_spark.ops.jpegcodec import jpeg_decode, jpeg_encode


def _mjpeg(values, w=16, h=8):
    return [jpeg_encode(bytes([v]) * (w * h), w, h, 1) for v in values]


def test_round_trip():
    frames = _mjpeg([40, 41, 42, 43, 44])
    blob = avi_encode(frames, 16, 8)
    assert looks_like_avi(blob)
    assert avi_decode_frames(blob) == (16, 8, frames)


def test_frames_decode_as_real_jpegs():
    frames = _mjpeg([50, 90, 130, 200])
    _, _, out = avi_decode_frames(avi_encode(frames, 16, 8))
    for k, f in enumerate(out):
        w, h, c, px = jpeg_decode(f)
        assert (w, h, c) == (16, 8, 1)
        assert set(px) == {[50, 90, 130, 200][k]}


def test_uniform_jpeg_roundtrip_exact_all_values():
    """The synthetic-AVI oracle depends on this: EVERY uniform 8-bit value
    survives encode→decode exactly (DC-only block, quantization error
    under the IDCT rounding threshold at the default quality)."""
    for v in range(256):
        _, _, _, px = jpeg_decode(jpeg_encode(bytes([v]) * 64, 8, 8, 1))
        assert set(px) == {v}, v


def test_uniform_progressive_roundtrip_exact_all_values():
    """synth_avi_media now encodes every third frame progressively; the
    same oracle arithmetic only holds if EVERY uniform value also
    round-trips exactly through the SOF2 scan sequence (with and without
    restart markers, as the corpus emits both)."""
    from marky_spark.ops.jpegcodec import jpeg_encode_progressive

    for v in range(256):
        for ri in (0, 1):
            _, _, _, px = jpeg_decode(jpeg_encode_progressive(
                bytes([v]) * 64, 8, 8, 1, restart_interval=ri))
            assert set(px) == {v}, (v, ri)


def test_unknown_chunks_and_junk_are_skipped():
    """Real AVIs carry JUNK padding, idx1 indexes, extra LISTs — the walk
    must skip them (before AND after hdrl/movi) and odd-sized chunks must
    be pad-aligned."""
    frames = _mjpeg([60, 61, 62])
    blob = avi_encode(frames, 16, 8)
    # graft: JUNK (odd size → padded) up front, idx1 at the end
    body = (b"AVI " + b"JUNK" + struct.pack("<I", 3) + b"pad\x00"
            + blob[12:len(blob)]
            + b"idx1" + struct.pack("<I", 4) + b"\x00" * 4)
    grafted = b"RIFF" + struct.pack("<I", len(body)) + body
    assert avi_decode_frames(grafted) == (16, 8, frames)


def test_non_frame_movi_members_are_skipped():
    """movi members that are not ##dc/##db (e.g. '01wb' audio) are not
    frames."""
    frames = _mjpeg([70, 71])
    blob = avi_encode(frames, 16, 8)
    # rename the second frame chunk to an audio id
    patched = blob.replace(b"00dc", b"01wb", 1)
    _, _, out = avi_decode_frames(patched)
    assert out == frames[1:]


@pytest.mark.parametrize("mutate, msg", [
    (lambda b: b"not an avi at all", "signature"),
    (lambda b: b[:40], "declares"),
    (lambda b: b.replace(b"avih", b"zzzz", 1), "avih"),
    (lambda b: b.replace(b"movi", b"mxvi", 1), "movi"),
])
def test_hostile_inputs_raise_typed(mutate, msg):
    blob = avi_encode(_mjpeg([80]), 16, 8)
    with pytest.raises(AviError):
        avi_decode_frames(mutate(blob))


def test_zero_width_rejected():
    blob = avi_encode(_mjpeg([80]), 16, 8)
    # avih dwWidth lives 32 bytes into the avih body
    at = blob.index(b"avih") + 8 + 32
    with pytest.raises(AviError, match="dimensions"):
        avi_decode_frames(blob[:at] + struct.pack("<I", 0) + blob[at + 4:])


def test_encode_guards():
    with pytest.raises(AviError, match="at least one"):
        avi_encode([], 16, 8)
    with pytest.raises(AviError, match="dimensions"):
        avi_encode([b"x"], 0, 8)
    with pytest.raises(AviError, match="fps"):
        avi_encode([b"x"], 16, 8, fps=0)


def test_avi_mutations_stay_typed():
    """Same contract as the other codecs: mutations of a valid AVI either
    decode (bounded) or raise AviError — never an untyped escape."""
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0xA71)
    base = avi_encode(_mjpeg([90, 91, 92, 93]), 16, 8)
    for _ in range(300):
        blob = _mutate(rng, base)
        try:
            w, h, frames = avi_decode_frames(blob)
        except AviError:
            continue
        assert 1 <= w <= 1 << 16 and 1 <= h <= 1 << 16
        assert len(frames) <= 1 << 16


def test_frame_sample_avi_spark(spark):
    """Spark integration: real AVI fans out to 4 evenly spaced REAL JPEG
    frames; a truncated AVI is one typed error row with null frame
    fields."""
    from marky_spark.ops.multimodal import frame_sample

    frames = _mjpeg(list(range(100, 110)))  # 10 frames, step 2
    blob = avi_encode(frames, 16, 8)
    rows = frame_sample(spark.createDataFrame(
        [("v", "video/avi", bytearray(blob)),
         ("cut", "video/avi", bytearray(blob[:60]))],
        "media_ref string, mime string, payload binary",
    )).collect()
    vids = sorted([r for r in rows if r["media_ref"] == "v"],
                  key=lambda r: r["frame_idx"])
    assert [r["frame_offset"] for r in vids] == [0, 2, 4, 6]
    for r in vids:
        _, _, _, px = jpeg_decode(bytes(r["frame_bytes"]))
        assert set(px) == {100 + r["frame_offset"]}
    cuts = [r for r in rows if r["media_ref"] == "cut"]
    assert len(cuts) == 1 and cuts[0]["ok"].startswith("error: ")
    assert (cuts[0]["frame_idx"], cuts[0]["frame_offset"],
            cuts[0]["frame_bytes"]) == (None, None, None)


def test_synth_avi_media_matches_oracle_arithmetic(spark):
    """The synthetic corpus really contains what the driver oracle
    assumes: doc i frame k decodes to a uniform (i*7 + k*13) % 95 + 32."""
    from marky_spark.ops.multimodal import synth_avi_media

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    n_sof2 = n_sof0 = 0
    for r in synth_avi_media(docs).collect():
        i = int(r["media_ref"][1:])
        w, h, frames = avi_decode_frames(bytes(r["payload"]))
        assert (w, h) == (8 * (1 + i % 3), 8 * (1 + i % 2))
        assert len(frames) == 5 + i % 8
        for k, f in enumerate(frames):
            # the corpus interleaves real progressive frames among the
            # baseline ones, so the driver oracle pins BOTH decode paths
            if (i + k) % 3 == 0:
                assert b"\xff\xc2" in f and b"\xff\xc0" not in f
                n_sof2 += 1
            else:
                assert b"\xff\xc0" in f and b"\xff\xc2" not in f
                n_sof0 += 1
            fw, fh, c, px = jpeg_decode(f)
            assert (fw, fh, c) == (w, h, 1)
            assert set(px) == {(i * 7 + k * 13) % 95 + 32}
    assert n_sof2 > 0 and n_sof0 > 0


def test_media_features_routes_avi_first_frame(spark):
    """media_features embeds a video as its first frame's image vector
    (content-derived, not a digest)."""
    from marky_spark.ops.multimodal import media_features

    frames = _mjpeg([120, 30, 60])
    blob = avi_encode(frames, 16, 8)
    rows = {r["media_ref"]: list(r["features"])
            for r in media_features(spark.createDataFrame(
                [("avi", "video/avi", bytearray(blob)),
                 ("jpg", "image/jpeg", bytearray(frames[0]))],
                "media_ref string, mime string, payload binary",
            )).collect()}
    assert rows["avi"] == pytest.approx(rows["jpg"])
    assert rows["avi"][3] == pytest.approx(120 / 255.0)  # global mean
