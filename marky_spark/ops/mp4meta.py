"""MP4 / M4A metadata walk — decode-free video triage (ISO 14496-12).

MP4 is THE crawl video container; at 100 TB the right first pass is a
box walk that yields duration / tracks / codecs / dimensions WITHOUT
touching a single sample (the same triage design as ops/lossy_audio's
MP3/Ogg walks).  The reference never reads media (docx.go:196-198);
this is training-data-pipeline surface.

Written from the public ISO/IEC 14496-12 base-media spec:

- the box grammar: 32-bit size + fourcc, size==1 → 64-bit largesize,
  size==0 → extends to end-of-enclosure; unknown boxes skip by size,
- ``ftyp`` major brand,
- ``moov/mvhd`` v0+v1 (timescale + duration → duration_ms),
- per-``trak``: ``tkhd`` v0+v1 width/height (16.16 fixed point),
  ``mdia/hdlr`` handler (vide / soun), ``mdia/minf/stbl/stsd`` first
  sample-entry fourcc (the codec: avc1 / hev1 / vp09 / av01 / mp4a …),
- hostile-input bounds: nesting depth, box-count, and size-sanity caps
  so a crafted file gets a typed :class:`Mp4Error`, never a hang or
  OOM (the walk never allocates payload bytes — it seeks).

``build_mp4`` assembles a minimal-but-conformant box tree for the synth
corpus, so the driver's SQL oracle can rebuild every field from doc_id
arithmetic while the walk must get sizes, versions, fixed-point and
nesting exactly right to match.
"""
from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAX_BOXES = 65536
MAX_DEPTH = 16


class Mp4Error(ValueError):
    """Malformed / hostile MP4 input."""


def looks_like_mp4(data: bytes) -> bool:
    return len(data) >= 12 and data[4:8] == b"ftyp"


def _iter_boxes(data: bytes, start: int, end: int,
                state: dict) -> Iterator[tuple[bytes, int, int]]:
    """Yield (fourcc, payload_start, payload_end) within [start, end)."""
    at = start
    while at + 8 <= end:
        state["boxes"] = state.get("boxes", 0) + 1
        if state["boxes"] > MAX_BOXES:
            raise Mp4Error(f"more than {MAX_BOXES} boxes")
        (size,) = struct.unpack_from(">I", data, at)
        fourcc = data[at + 4:at + 8]
        payload = at + 8
        if size == 1:
            if at + 16 > end:
                raise Mp4Error("truncated 64-bit box size")
            (size,) = struct.unpack_from(">Q", data, at + 8)
            payload = at + 16
            if size < 16:
                raise Mp4Error(f"bad largesize {size}")
        elif size == 0:
            size = end - at
        elif size < 8:
            raise Mp4Error(f"bad box size {size}")
        box_end = at + size
        if box_end > end:
            raise Mp4Error(f"box {fourcc!r} overruns its enclosure")
        yield fourcc, payload, box_end
        at = box_end


def _find(data: bytes, start: int, end: int, fourcc: bytes,
          state: dict) -> tuple[int, int] | None:
    for fc, p, e in _iter_boxes(data, start, end, state):
        if fc == fourcc:
            return p, e
    return None


def mp4_meta(data: bytes) -> dict:
    """Top-level walk → the triage record."""
    if not looks_like_mp4(data):
        raise Mp4Error("not an MP4 (no ftyp box)")
    state: dict = {}
    brand = ""
    duration_ms = 0
    n_tracks = 0
    video_codec = audio_codec = ""
    width = height = 0

    moov = None
    for fc, p, e in _iter_boxes(data, 0, len(data), state):
        if fc == b"ftyp":
            if e - p < 4:
                raise Mp4Error("short ftyp box")
            brand = data[p:p + 4].decode("ascii", "replace").strip()
        elif fc == b"moov":
            moov = (p, e)
    if moov is None:
        raise Mp4Error("no moov box")

    mvhd = _find(data, moov[0], moov[1], b"mvhd", state)
    if mvhd is None:
        raise Mp4Error("no mvhd box")
    ver = data[mvhd[0]]
    if ver == 1:
        timescale, duration = struct.unpack_from(
            ">IQ", data, mvhd[0] + 4 + 16)
    else:
        timescale, duration = struct.unpack_from(
            ">II", data, mvhd[0] + 4 + 8)
    if timescale == 0:
        raise Mp4Error("mvhd timescale is zero")
    duration_ms = duration * 1000 // timescale

    for fc, p, e in _iter_boxes(data, moov[0], moov[1], state):
        if fc != b"trak":
            continue
        n_tracks += 1
        handler = ""
        codec = ""
        t_w = t_h = 0
        tkhd = _find(data, p, e, b"tkhd", state)
        if tkhd is not None:
            tver = data[tkhd[0]]
            # v0: ver/flags(4) ct(4) mt(4) id(4) rsv(4) dur(4) → 24
            # v1: 8-byte times/duration → 36; then rsv(8) layer(2)
            # alt(2) vol(2) rsv(2) matrix(36) = 52 more to width
            base = tkhd[0] + (36 if tver == 1 else 24) + 52
            if base + 8 <= tkhd[1]:
                w_fx, h_fx = struct.unpack_from(">II", data, base)
                t_w, t_h = w_fx >> 16, h_fx >> 16
        mdia = _find(data, p, e, b"mdia", state)
        if mdia is not None:
            hdlr = _find(data, mdia[0], mdia[1], b"hdlr", state)
            if hdlr is not None and hdlr[1] - hdlr[0] >= 12:
                handler = data[hdlr[0] + 8:hdlr[0] + 12].decode(
                    "ascii", "replace")
            minf = _find(data, mdia[0], mdia[1], b"minf", state)
            if minf is not None:
                stbl = _find(data, minf[0], minf[1], b"stbl", state)
                if stbl is not None:
                    stsd = _find(data, stbl[0], stbl[1], b"stsd", state)
                    if stsd is not None and stsd[1] - stsd[0] >= 16:
                        # ver/flags(4) entry_count(4), first entry:
                        # size(4) fourcc(4)
                        codec = data[stsd[0] + 12:stsd[0] + 16].decode(
                            "ascii", "replace")
        if handler == "vide":
            video_codec = video_codec or codec
            width = width or t_w
            height = height or t_h
        elif handler == "soun":
            audio_codec = audio_codec or codec
    return {
        "brand": brand,
        "duration_ms": int(duration_ms),
        "n_tracks": n_tracks,
        "video_codec": video_codec,
        "audio_codec": audio_codec,
        "width": width,
        "height": height,
    }


VIDEO_META_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("brand", StringType()),
    StructField("duration_ms", LongType()),
    StructField("n_tracks", IntegerType()),
    StructField("video_codec", StringType()),
    StructField("audio_codec", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("ok", StringType()),
])


def video_meta(media: DataFrame) -> DataFrame:
    """MP4 / Matroska / WebM payloads → one triage row each (no sample
    decode — the 100 TB video-curation first pass; container dispatch
    by magic, Matroska via ops/mkvmeta's EBML walk)."""
    from .mkvmeta import looks_like_mkv, mkv_meta
    from .multimodal import map_blobs

    def meta(blob: bytes):
        if not (looks_like_mkv(blob) or looks_like_mp4(blob)):
            return None  # no container claims the payload: not video
        m = mkv_meta(blob) if looks_like_mkv(blob) else mp4_meta(blob)
        return tuple(m[f.name] for f in VIDEO_META_SCHEMA.fields[1:-1])

    return map_blobs(media, VIDEO_META_SCHEMA, meta)


# ------------------------------------------------------------- builder

def _box(fourcc: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I", 1) + fourcc \
            + struct.pack(">Q", 16 + len(payload)) + payload
    return struct.pack(">I", 8 + len(payload)) + fourcc + payload


def build_mp4(*, brand: str = "isom", timescale: int = 1000,
              duration: int = 5000, tracks=(),
              large_moov: bool = False, mvhd_v1: bool = False) -> bytes:
    """Minimal conformant MP4: ftyp + moov(mvhd + trak*).  ``tracks``:
    (handler4cc, codec4cc, width, height) tuples."""
    ftyp = _box(b"ftyp", brand.encode("ascii").ljust(4)[:4]
                + struct.pack(">I", 0) + b"isom")
    if mvhd_v1:
        mvhd = _box(b"mvhd", bytes((1, 0, 0, 0))
                    + struct.pack(">QQIQ", 0, 0, timescale, duration)
                    + bytes(80))
    else:
        mvhd = _box(b"mvhd", bytes(4)
                    + struct.pack(">IIII", 0, 0, timescale, duration)
                    + bytes(80))
    traks = b""
    for tid, (handler, codec, w, h) in enumerate(tracks, start=1):
        tkhd = _box(b"tkhd", bytes(4)
                    + struct.pack(">IIIII", 0, 0, tid, 0, duration)
                    + bytes(52)
                    + struct.pack(">II", w << 16, h << 16))
        hdlr = _box(b"hdlr", bytes(8) + handler.encode("ascii")
                    + bytes(12))
        entry = _box(codec.encode("ascii"), bytes(8))
        stsd = _box(b"stsd", bytes(4) + struct.pack(">I", 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", hdlr + minf)
        traks += _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + traks, large=large_moov)
    return ftyp + moov


def synth_mp4_media(docs: DataFrame) -> DataFrame:
    """Deterministic MP4 media table from doc ids: timescale 1000 (so
    duration_ms == the stored duration = (i*37) % 100000 + 1000),
    video track (codec rotating avc1/hev1/vp09/av01 by i%4, dims
    16*(1 + i%40) x 16*(1 + i%23)), an mp4a audio track on odd ids,
    64-bit moov size on i%5==0 and a v1 mvhd on i%7==0 — all pure
    arithmetic the driver SQL oracle rebuilds."""
    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                tracks = [("vide", ("avc1", "hev1", "vp09", "av01")[i % 4],
                           16 * (1 + i % 40), 16 * (1 + i % 23))]
                if i % 2 == 1:
                    tracks.append(("soun", "mp4a", 0, 0))
                blob = build_mp4(
                    brand=("isom", "mp42", "M4A")[i % 3],
                    duration=(i * 37) % 100000 + 1000,
                    tracks=tracks,
                    large_moov=i % 5 == 0,
                    mvhd_v1=i % 7 == 0)
                rows.append((f"mv{i}", "video/mp4", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_mkv_media(docs: DataFrame) -> DataFrame:
    """Deterministic WebM/Matroska media table from doc ids (codec
    rotation V_VP9/V_AV1/V_VP8 by i%3, A_OPUS audio on odd ids, 8-byte
    Duration floats on i%3==0, matroska doctype on odd ids, dims on the
    same strides as the MP4 arm) — pure arithmetic for the oracle."""
    from .mkvmeta import build_mkv
    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                tracks = [(1, ("V_VP9", "V_AV1", "V_VP8")[i % 3],
                           16 * (1 + i % 40), 16 * (1 + i % 23))]
                if i % 2 == 1:
                    tracks.append((2, "A_OPUS", 0, 0))
                blob = build_mkv(
                    doctype=("webm", "matroska")[i % 2],
                    duration_units=float((i * 37) % 100000 + 1000),
                    tracks=tracks,
                    float8=i % 3 == 0)
                rows.append((f"mk{i}", "video/webm", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)
