"""Lossy-audio METADATA walk: MP3 frame grids and Ogg/Vorbis pages.

A 100 TB curation pipeline must filter audio (by duration, rate,
channel count, tags) without paying for a full decode — the metadata
lives in container framing whose math is exact integer arithmetic, so
the driver's SQL oracle can pin the walk from doc_id arithmetic alone.
Full MP3/Vorbis sample decode is out of scope (the repo's real PCM
codecs are WAV/FLAC in ops/wavcodec + ops/flaccodec); this module is
the container layer on top, implemented from the public specs:

- MP3 (MPEG-1/2/2.5 audio): optional ID3v2 skip (syncsafe size), frame
  sync walk with per-frame header validation (version/layer/bitrate/
  rate tables, padding), frame-size math
  (``144000*kbps//rate + pad`` for MPEG-1 Layer III, 72000 for
  MPEG-2/2.5), samples-per-frame, and the Xing/Info VBR header (frame
  count at the version/mode-dependent side-info offset). Duration is
  ``frames * samples_per_frame * 1000 // rate`` — integer, exact.
- Ogg/Vorbis: "OggS" page walk (version 0, CRC-32 poly 0x04C11DB7
  verified, lacing-value segment table), the ``\\x01vorbis``
  identification header (channels, rate), the ``\\x03vorbis`` comment
  header (vendor + user comments, length-prefixed), and duration from
  the last page's granule position (PCM sample count) — again exact
  integer math.

Operators:
- ``audio_meta`` — MP3/Ogg payloads → one metadata row each via
  ``mapInPandas`` (no shuffle, no collect; poison blobs isolate into
  ``error: ...`` rows — the same contract as every codec).
- ``synth_mp3_media`` / ``synth_ogg_media`` — deterministic corpora
  whose every metadata field derives from doc_id arithmetic, so the
  driver oracle pins the ID3 skip, the frame-grid walk, the Xing path,
  the page walk, the comment parse, and the duration math with no
  audio library on the SQL side.
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

MAX_FRAMES = 1 << 22          # ~12h of 44.1k MPEG-1 audio
MAX_PAGES = 1 << 20
MAX_COMMENTS = 4096
MAX_COMMENT_BYTES = 1 << 16


class LossyAudioError(ValueError):
    """Malformed / hostile MP3 or Ogg input (the poison-pill contract)."""


# ---------------------------------------------------------------------------
# MP3 frame grid
# ---------------------------------------------------------------------------

# bitrate tables (kbps), index 1..14; 0 = free format (unsupported)
_BITRATES_V1_L3 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                   160, 192, 224, 256, 320)
_BITRATES_V2_L3 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
                   96, 112, 128, 144, 160)
_RATES = {3: (44100, 48000, 32000),     # MPEG-1
          2: (22050, 24000, 16000),     # MPEG-2
          0: (11025, 12000, 8000)}      # MPEG-2.5


def _id3v2_size(data: bytes) -> int:
    """Bytes to skip for a leading ID3v2 tag (0 when absent)."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    if any(b & 0x80 for b in data[6:10]):
        raise LossyAudioError("ID3v2 size is not syncsafe")
    size = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
    return 10 + size


def _parse_frame_header(hdr: int) -> dict:
    """32-bit header → fields; raises on anything outside the grammar."""
    if hdr >> 21 != 0x7FF:
        raise LossyAudioError("lost MP3 frame sync")
    version = (hdr >> 19) & 3          # 0=2.5, 1=reserved, 2=MPEG2, 3=MPEG1
    layer = (hdr >> 17) & 3            # 1=III, 2=II, 3=I
    if version == 1 or layer == 0:
        raise LossyAudioError("reserved MPEG version/layer")
    if layer != 1:
        raise LossyAudioError("only Layer III frame math implemented")
    bidx = (hdr >> 12) & 0xF
    ridx = (hdr >> 10) & 3
    if bidx in (0, 15) or ridx == 3:
        raise LossyAudioError("free-format/bad bitrate or bad sample rate")
    rate = _RATES[version][ridx]
    kbps = (_BITRATES_V1_L3 if version == 3 else _BITRATES_V2_L3)[bidx]
    padding = (hdr >> 9) & 1
    mode = (hdr >> 6) & 3              # 3 = mono
    if version == 3:
        size = 144000 * kbps // rate + padding
        spf = 1152
    else:
        size = 72000 * kbps // rate + padding
        spf = 576
    return {"version": version, "rate": rate, "kbps": kbps,
            "channels": 1 if mode == 3 else 2, "size": size, "spf": spf}


def _xing_offset(version: int, channels: int) -> int:
    """Side-info length after the 4-byte header (no CRC), per spec."""
    if version == 3:  # MPEG-1
        return 17 if channels == 1 else 32
    return 9 if channels == 1 else 17


def mp3_meta(data: bytes) -> dict:
    """MP3 bytes → metadata dict (no sample decode).

    Walks every frame: each header re-validates against the first
    frame's rate/version (a mid-stream mismatch is malformed, not a
    resync — crawl-grade strictness). A Xing/Info tag in the first
    frame marks VBR and supplies the authoritative frame count."""
    pos = _id3v2_size(data)
    if pos >= len(data):
        raise LossyAudioError("nothing after the ID3v2 tag")
    first = None
    n_frames = 0
    xing_frames = None
    vbr = 0
    while pos + 4 <= len(data):
        hdr = struct.unpack_from(">I", data, pos)[0]
        f = _parse_frame_header(hdr)
        if first is None:
            first = f
            off = pos + 4 + _xing_offset(f["version"], f["channels"])
            tag = data[off:off + 4]
            if tag in (b"Xing", b"Info"):
                vbr = 1 if tag == b"Xing" else 0
                flags = struct.unpack_from(">I", data, off + 4)[0]
                if flags & 1:
                    xing_frames = struct.unpack_from(">I", data, off + 8)[0]
                    if xing_frames > MAX_FRAMES:
                        raise LossyAudioError("Xing frame count absurd")
                pos += f["size"]  # the Xing frame is not an audio frame
                continue
        elif (f["rate"], f["version"]) != (first["rate"], first["version"]):
            raise LossyAudioError("frame grid changes rate/version")
        n_frames += 1
        if n_frames > MAX_FRAMES:
            raise LossyAudioError("frame count exceeds cap")
        if f["size"] < 4:
            raise LossyAudioError("degenerate frame size")
        if pos + f["size"] > len(data):
            raise LossyAudioError("last frame overruns the stream")
        pos += f["size"]
    if first is None or n_frames == 0:
        raise LossyAudioError("no MP3 frames")
    frames = xing_frames if xing_frames is not None else n_frames
    return {
        "container": "mp3",
        "sample_rate": first["rate"],
        "channels": first["channels"],
        "n_units": frames,
        "duration_ms": frames * first["spf"] * 1000 // first["rate"],
        "bitrate_kbps": first["kbps"],
        "vbr": vbr,
        "title": None,
    }


# ---------------------------------------------------------------------------
# Ogg / Vorbis
# ---------------------------------------------------------------------------

def _ogg_crc_table() -> list[int]:
    table = []
    for i in range(256):
        r = i << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000 else r << 1) \
                & 0xFFFFFFFF
        table.append(r)
    return table


_OGG_CRC = _ogg_crc_table()


def _ogg_crc(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((crc >> 24) & 0xFF) ^ b]
    return crc


def _iter_ogg_pages(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Ogg bytes → (header_type, granule, body) per page, CRC-verified."""
    pos = 0
    n = 0
    while pos < len(data):
        if data[pos:pos + 4] != b"OggS":
            raise LossyAudioError(f"page {n}: missing OggS capture")
        if pos + 27 > len(data):
            raise LossyAudioError("truncated page header")
        if data[pos + 4] != 0:
            raise LossyAudioError("unknown Ogg version")
        htype = data[pos + 5]
        granule = struct.unpack_from("<q", data, pos + 6)[0]
        crc = struct.unpack_from("<I", data, pos + 22)[0]
        nseg = data[pos + 26]
        seg_end = pos + 27 + nseg
        if seg_end > len(data):
            raise LossyAudioError("truncated segment table")
        body_len = sum(data[pos + 27:seg_end])
        end = seg_end + body_len
        if end > len(data):
            raise LossyAudioError("page body overruns the stream")
        page = bytearray(data[pos:end])
        page[22:26] = b"\x00\x00\x00\x00"
        if _ogg_crc(bytes(page)) != crc:
            raise LossyAudioError(f"page {n}: bad CRC")
        yield htype, granule, data[seg_end:end]
        pos = end
        n += 1
        if n > MAX_PAGES:
            raise LossyAudioError("page count exceeds cap")
    if n == 0:
        raise LossyAudioError("no Ogg pages")


def _parse_vorbis_comments(pkt: bytes) -> tuple[int, str | None]:
    """\\x03vorbis packet → (n_comments, TITLE= value if present)."""
    at = 7
    (vlen,) = struct.unpack_from("<I", pkt, at)
    if vlen > MAX_COMMENT_BYTES:
        raise LossyAudioError("vendor string absurd")
    at += 4 + vlen
    (count,) = struct.unpack_from("<I", pkt, at)
    if count > MAX_COMMENTS:
        raise LossyAudioError("comment count absurd")
    at += 4
    title = None
    for _ in range(count):
        (clen,) = struct.unpack_from("<I", pkt, at)
        if clen > MAX_COMMENT_BYTES:
            raise LossyAudioError("comment absurd")
        at += 4
        c = pkt[at:at + clen]
        if len(c) != clen:
            raise LossyAudioError("comment overruns the packet")
        at += clen
        eq = c.find(b"=")
        if eq > 0 and c[:eq].upper() == b"TITLE":
            title = c[eq + 1:].decode("utf-8", "replace")
    return count, title


def ogg_meta(data: bytes) -> dict:
    """Ogg/Vorbis bytes → metadata dict: id-header channels/rate,
    comment count + TITLE, duration from the final granule position."""
    channels = rate = None
    n_comments = 0
    title = None
    last_granule = 0
    for htype, granule, body in _iter_ogg_pages(data):
        if channels is None and body[:7] == b"\x01vorbis":
            if len(body) < 30:
                raise LossyAudioError("short Vorbis id header")
            channels = body[11]
            (rate,) = struct.unpack_from("<I", body, 12)
            if channels < 1 or not (1 <= rate <= 768000):
                raise LossyAudioError("bad Vorbis channels/rate")
        elif body[:7] == b"\x03vorbis":
            try:
                n_comments, title = _parse_vorbis_comments(body)
            except struct.error:
                raise LossyAudioError("truncated comment header") from None
        if granule > 0:
            last_granule = max(last_granule, granule)
    if channels is None or rate is None:
        raise LossyAudioError("no Vorbis identification header")
    return {
        "container": "ogg",
        "sample_rate": rate,
        "channels": channels,
        "n_units": last_granule,
        "duration_ms": last_granule * 1000 // rate,
        "bitrate_kbps": None,
        "vbr": None,
        "title": title,
    }


# ---------------------------------------------------------------------------
# Spark operator + synthetic corpora
# ---------------------------------------------------------------------------

META_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("container", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_units", LongType()),
    StructField("duration_ms", LongType()),
    StructField("bitrate_kbps", IntegerType()),
    StructField("vbr", IntegerType()),
    StructField("title", StringType()),
    StructField("ok", StringType()),
])


def audio_meta(media: DataFrame) -> DataFrame:
    """MP3/Ogg payloads → one metadata row each. Curation filters
    (duration/rate/channel/tag) run on these columns without any sample
    decode — the 100 TB audio-triage path. Other payloads are
    ``unsupported`` rows."""
    from .multimodal import map_blobs

    def meta(blob: bytes):
        if blob[:4] == b"OggS":
            m = ogg_meta(blob)
        elif blob[:3] == b"ID3" or (
                len(blob) > 1 and blob[0] == 0xFF and blob[1] >> 5 == 7):
            m = mp3_meta(blob)
        else:
            return None
        return tuple(m[f.name] for f in META_SCHEMA.fields[1:-1])

    return map_blobs(media, META_SCHEMA, meta)


def build_mp3(n_frames: int, rate_idx: int, bitrate_idx: int,
              mono: bool, id3_pad: int = 0, xing: bool = False) -> bytes:
    """Deterministic MPEG-1 Layer III frame grid (headers + zero filler;
    metadata-valid, not sample-decodable — this module never decodes
    samples). The fixture inverse of :func:`mp3_meta`."""
    rate = _RATES[3][rate_idx]
    kbps = _BITRATES_V1_L3[bitrate_idx]
    hdr = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (bitrate_idx << 12) | (rate_idx << 10) \
        | ((3 if mono else 0) << 6)
    size = 144000 * kbps // rate
    frame = struct.pack(">I", hdr) + bytes(size - 4)
    out = bytearray()
    if id3_pad:
        body = bytes(id3_pad)
        out += b"ID3\x04\x00\x00" + bytes([
            (id3_pad >> 21) & 0x7F, (id3_pad >> 14) & 0x7F,
            (id3_pad >> 7) & 0x7F, id3_pad & 0x7F]) + body
    if xing:
        off = _xing_offset(3, 1 if mono else 2)
        x = bytearray(frame)
        x[4 + off:4 + off + 12] = (b"Xing" + struct.pack(">I", 1)
                                   + struct.pack(">I", n_frames))
        out += bytes(x)
    out += frame * n_frames
    return bytes(out)


def build_ogg(rate: int, channels: int, n_samples: int,
              comments: list[tuple[str, str]]) -> bytes:
    """Deterministic minimal Ogg/Vorbis stream: id-header page (BOS),
    comment-header page, one EOS data page whose granule = n_samples.
    The fixture inverse of :func:`ogg_meta` (CRCs computed for real)."""
    def page(htype: int, granule: int, seq: int, body: bytes) -> bytes:
        segs = []
        rest = len(body)
        while rest >= 255:
            segs.append(255)
            rest -= 255
        segs.append(rest)
        head = (b"OggS\x00" + bytes([htype])
                + struct.pack("<q", granule)
                + struct.pack("<I", 0x5EED)      # serial
                + struct.pack("<I", seq)
                + b"\x00\x00\x00\x00"            # CRC placeholder
                + bytes([len(segs)]) + bytes(segs))
        raw = bytearray(head + body)
        crc = _ogg_crc(bytes(raw))
        raw[22:26] = struct.pack("<I", crc)
        return bytes(raw)

    ident = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
             + struct.pack("<I", rate) + struct.pack("<iii", 0, 0, 0)
             + b"\xb8\x01")
    com = bytearray(b"\x03vorbis")
    vendor = b"marky-spark-synth"
    com += struct.pack("<I", len(vendor)) + vendor
    com += struct.pack("<I", len(comments))
    for k, v in comments:
        kv = f"{k}={v}".encode()
        com += struct.pack("<I", len(kv)) + kv
    com += b"\x01"  # framing bit
    return (page(2, 0, 0, ident)
            + page(0, 0, 1, bytes(com))
            + page(4, n_samples, 2, bytes(8)))


def synth_mp3_media(docs: DataFrame) -> DataFrame:
    """Deterministic MP3 corpus over doc ids — every metadata field is
    doc_id arithmetic: rate idx i%3, bitrate idx 1 + i%14, mono on odd,
    frames 30 + i%40, ID3 pad on i%4==0, Xing VBR tag on i%5==0."""
    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                blob = build_mp3(
                    n_frames=30 + i % 40, rate_idx=i % 3,
                    bitrate_idx=1 + i % 14, mono=bool(i % 2),
                    id3_pad=64 if i % 4 == 0 else 0,
                    xing=(i % 5 == 0))
                rows.append((f"m3{i}", "audio/mpeg", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_ogg_media(docs: DataFrame) -> DataFrame:
    """Deterministic Ogg corpus over doc ids: rate 8000+(i%5)*8000,
    channels 1+i%2, granule 1000+i*7, TITLE=doc<i> plus one extra tag."""
    from .multimodal import MEDIA_SCHEMA

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                blob = build_ogg(
                    rate=8000 + (i % 5) * 8000, channels=1 + i % 2,
                    n_samples=1000 + i * 7,
                    comments=[("TITLE", f"doc{i}"), ("LANG", "en")])
                rows.append((f"og{i}", "audio/ogg", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)
