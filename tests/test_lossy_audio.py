"""Lossy-audio metadata walk (ops/lossy_audio): MP3 frame grids (ID3
skip, header tables, Xing), Ogg/Vorbis pages (CRC, comments, granule
duration), hostile rejection, mutation fuzz, and the Spark operator."""
from __future__ import annotations

import random
import struct

import pytest

from marky_spark.ops.lossy_audio import (
    LossyAudioError,
    build_mp3,
    build_ogg,
    mp3_meta,
    ogg_meta,
)


def test_mp3_frame_grid_math():
    """CBR grid: duration is frames*1152*1000//rate, rate/bitrate from
    the MPEG-1 header tables, channel mode from the header."""
    m = mp3_meta(build_mp3(50, rate_idx=0, bitrate_idx=9, mono=False))
    assert (m["sample_rate"], m["bitrate_kbps"], m["channels"]) \
        == (44100, 128, 2)
    assert m["n_units"] == 50 and m["vbr"] == 0
    assert m["duration_ms"] == 50 * 1152 * 1000 // 44100
    m = mp3_meta(build_mp3(33, rate_idx=2, bitrate_idx=14, mono=True))
    assert (m["sample_rate"], m["bitrate_kbps"], m["channels"]) \
        == (32000, 320, 1)


def test_mp3_id3_skip_and_xing():
    """ID3v2 syncsafe skip; a Xing tag marks VBR and its frame count is
    authoritative (the Xing frame itself is not an audio frame)."""
    m = mp3_meta(build_mp3(40, 1, 5, mono=True, id3_pad=300, xing=True))
    assert m["vbr"] == 1 and m["n_units"] == 40
    assert m["sample_rate"] == 48000
    assert m["duration_ms"] == 40 * 1152 * 1000 // 48000


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b[:30], "overruns|sync|frames"),
    (lambda b: b"ID3\x04\x00\x00\x80\x00\x00\x00" + b, "syncsafe"),
    (lambda b: bytes(4) + b, "sync|frames"),
    # bitrate index 15 is forbidden
    (lambda b: b[:2] + bytes([b[2] | 0xF0]) + b[3:], "bitrate"),
    # sample-rate index 3 is reserved
    (lambda b: b[:2] + bytes([b[2] | 0x0C]) + b[3:], "sample rate|bitrate"),
])
def test_hostile_mp3_typed(mutate, msg):
    base = build_mp3(8, 0, 9, mono=False)
    with pytest.raises(LossyAudioError, match=msg):
        mp3_meta(mutate(base))


def test_mp3_midstream_rate_change_is_malformed():
    a = build_mp3(4, 0, 9, mono=False)
    b = build_mp3(4, 1, 9, mono=False)
    with pytest.raises(LossyAudioError, match="rate/version"):
        mp3_meta(a + b)


def test_ogg_metadata_and_comments():
    o = ogg_meta(build_ogg(16000, 2, 12345,
                           [("TITLE", "doc7"), ("LANG", "en")]))
    assert (o["sample_rate"], o["channels"]) == (16000, 2)
    assert o["n_units"] == 12345
    assert o["duration_ms"] == 12345 * 1000 // 16000
    assert o["title"] == "doc7"
    # title is optional
    assert ogg_meta(build_ogg(8000, 1, 99, [("X", "y")]))["title"] is None


def test_ogg_crc_is_verified():
    blob = bytearray(build_ogg(16000, 1, 500, []))
    # flip a bit inside the first page body (the id header)
    blob[40] ^= 0x01
    with pytest.raises(LossyAudioError, match="CRC"):
        ogg_meta(bytes(blob))


@pytest.mark.parametrize("mutate,msg", [
    (lambda b: b[:20], "truncated|CRC|overruns"),
    (lambda b: b"NotS" + b[4:], "OggS"),
    (lambda b: b[:4] + b"\x01" + b[5:], "version|CRC"),
])
def test_hostile_ogg_typed(mutate, msg):
    base = build_ogg(16000, 1, 500, [("TITLE", "x")])
    with pytest.raises(LossyAudioError, match=msg):
        ogg_meta(mutate(base))


def test_lossy_audio_mutations_stay_typed():
    from tests.test_mutation_fuzz import _mutate

    rng = random.Random(0x106A)
    bases = [build_mp3(12, 0, 9, mono=False, xing=True, id3_pad=32),
             build_ogg(16000, 2, 777, [("TITLE", "t")])]
    for k in range(800):
        blob = _mutate(rng, bases[k % 2])
        try:
            if blob[:4] == b"OggS":
                ogg_meta(blob)
            else:
                m = mp3_meta(blob)
                assert m["n_units"] <= (1 << 22)
        except LossyAudioError:
            pass
        except struct.error:
            pytest.fail("struct.error escaped the typed contract")


def test_spark_audio_meta_operator(spark):
    """The operator end-to-end: MP3 + Ogg + junk rows → metadata rows
    with poison isolation, no shuffle in the plan."""
    from marky_spark.ops.lossy_audio import audio_meta

    media = spark.createDataFrame(
        [("a", bytearray(build_mp3(20, 0, 9, mono=True))),
         ("b", bytearray(build_ogg(24000, 2, 4800, [("TITLE", "B")]))),
         ("c", bytearray(b"not audio at all")),
         ("d", bytearray(b"OggS" + bytes(10)))],
        "media_ref string, payload binary")
    rows = {r["media_ref"]: r for r in audio_meta(media).collect()}
    assert rows["a"]["container"] == "mp3" and rows["a"]["channels"] == 1
    assert rows["a"]["duration_ms"] == 20 * 1152 * 1000 // 44100
    assert rows["b"]["title"] == "B" and rows["b"]["duration_ms"] == 200
    assert rows["c"]["ok"] == "unsupported"
    assert (rows["c"]["container"], rows["d"]["container"]) == (None, None)
    assert rows["d"]["ok"].startswith("error:")
    plan = audio_meta(media)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
