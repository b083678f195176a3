"""Multimodal columns: opaque binary payloads + typed metadata.

The Spark-side plumbing is real and tested — schema, partitioning, Arrow
batch shape, ``mapInPandas`` signatures. Every per-blob media operator
here and in ops/audio, ops/lossy_audio, ops/metastrip, ops/mp4meta and
ops/pdfmedia maps through one runner (:func:`map_blobs`), and the pixel
and sample operators route through one ordered codec table
(:func:`codec_table`):

- **PNG, BMP, GIF, JPEG (baseline + progressive), TIFF, Netpbm, WebP and
  ICO are real image codecs** (ops/pngcodec, ops/bmpcodec, ops/gifcodec,
  ops/jpegcodec, ops/tiffcodec, ops/pnmcodec, ops/webpcodec,
  ops/icocodec — all pure stdlib+numpy), and the audio/video side is
  real too (ops/wavcodec: PCM + G.711 + IMA ADPCM; ops/flaccodec;
  ops/avicodec: MJPEG). Each row holds one format's signature/structure
  sniff and decoder, plus an optional frame walker; the sniffs check
  distinct magics, so at most one row claims a payload.
- Every image an operator encodes is a PNG (``png_encode``): resized
  images, sampled animation canvases and pdf_media's decoded images,
  whatever the source format. A stored JPEG (an AVI frame, a PDF's
  DCTDecode image) passes through as it is.
- Every value an operator emits comes from a real decode. Each blob's
  ``ok`` column holds one status from one rule (:func:`map_blobs`):
  ``ok``; ``unsupported`` when no codec (or no hook of the claiming
  row) handles the payload, e.g. MP3, MP4 or text; ``codec_unavailable``
  for a recognized-but-unimplemented mode (arithmetic JPEG, interlaced
  APNG, lossy VP8 WebP — each codec's Unsupported error is a
  NotImplementedError); ``error: <msg>`` for a malformed payload. Every
  column of a non-``ok`` row but ``media_ref`` and the status is null.

Operators:
- ``attach_media``      — documents × media side-table join (broadcast)
- ``decode_media``      — binary → (width, height, channels, n_bytes)
- ``decode_pixels``     — decodable image → dims + md5 of decoded samples
- ``pixel_features``    — exact-integer pixel statistics (oracle-checkable)
- ``resize_media``      — decodable image → target-dim PNG + source dims
- ``frame_sample``      — moving images → N evenly spaced frame rows
- ``media_features``    — fixed-width float feature vector per blob
"""

from __future__ import annotations

import functools
import hashlib
from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..schema import ERROR_TOO_DEEP

MEDIA_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("mime", StringType()),
    StructField("payload", BinaryType()),
])


def _blob_rows(fn: Callable, blob: bytes, width: int) -> list[tuple]:
    """One blob's rows (without ``media_ref``) under the status rule of
    :func:`map_blobs`."""
    try:
        got = fn(blob)
    except NotImplementedError:
        status = "codec_unavailable"
    except RecursionError:
        status = f"error: {ERROR_TOO_DEEP}"
    except Exception as exc:  # noqa: BLE001 — poison isolation
        typed = type(exc).__module__.startswith("marky_spark.")
        status = f"error: {exc}" if typed else \
            f"error: {type(exc).__name__}: {exc}"
    else:
        if got is None:
            status = "unsupported"
        else:
            return [row if len(row) == width - 1 else (*row, "ok")
                    for row in (got if isinstance(got, list) else [got])]
    return [(None,) * (width - 2) + (status,)]


def map_blobs(media: DataFrame, schema: StructType,
              fn: Callable) -> DataFrame:
    """The one per-blob runner of the media operators: an Arrow-batched
    ``mapInPandas`` over ``(media_ref, payload)`` whose rows are
    ``schema`` (``media_ref`` first, the status column ``ok`` last).

    ``fn(blob)`` gets the payload as bytes (a null payload is ``b""``)
    and returns the row's values between ``media_ref`` and the status, a
    list of such rows (a fan-out; an empty list emits nothing), or None.
    The status rule: a row is ``ok`` (a fan-out row that fills the status
    column itself keeps it, as pdf_media's per-image skips do); None is
    ``unsupported``; a NotImplementedError is ``codec_unavailable``; an
    error class of this package is ``error: <msg>``; a RecursionError is
    ``error: `` + ``schema.ERROR_TOO_DEEP``; any other exception is
    ``error: <Type>: <msg>``. A non-``ok`` row is null outside
    ``media_ref`` and the status."""
    names = [f.name for f in schema.fields]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                blob = bytes(payload) if payload is not None else b""
                rows += [(ref, *row)
                         for row in _blob_rows(fn, blob, len(names))]
            yield pd.DataFrame(rows, columns=names)

    return media.select("media_ref", "payload").mapInPandas(
        batches, schema=schema)


DECODED_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_bytes", LongType()),
    StructField("ok", StringType()),
])


class Codec(NamedTuple):
    """One row of the codec table. ``pixels`` → (width, height, channels,
    samples) or None (a moving image gives its first frame);
    ``samples`` → (rate, channels, bits, int array); ``frames`` → [(frame
    index, frame payload)] for up to n evenly spaced frames, empty for a
    still. An operator whose hook is None gives an ``unsupported`` row
    for the row's format."""
    name: str
    sniff: Callable[[bytes], bool]
    pixels: Callable | None = None
    samples: Callable | None = None
    frames: Callable | None = None


def _nearest(pixels: bytes, in_w: int, in_h: int, channels: int,
             out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resample of raw interleaved samples: source pixel
    for output (x, y) is (x*in_w//out_w, y*in_h//out_h) — integer
    arithmetic the ANSI-SQL driver oracle reproduces bit-for-bit."""
    import numpy as np

    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(in_h, in_w, channels)
    ys = np.arange(out_h) * in_h // out_h
    xs = np.arange(out_w) * in_w // out_w
    return arr[ys][:, xs].tobytes()


def _picks(total: int, n: int) -> list[int]:
    step = max(total // n, 1)
    return list(range(0, total, step))[:n]


def _canvas_frames(walk):
    """Frame walker over an animation decoder → (w, h, [RGB canvas]):
    each sampled frame re-encoded as a standalone PNG; a still (one
    canvas) has no frames, whatever its format."""
    def frames(blob: bytes, n: int):
        from .pngcodec import png_encode

        w, h, canvases = walk(blob)
        if len(canvases) < 2:
            return []
        return [(k, png_encode(canvases[k], w, h, 3))
                for k in _picks(len(canvases), n)]
    return frames


def _avi_frames(blob: bytes, n: int):
    """MJPEG frames pass through as their standalone JPEG payloads."""
    from .avicodec import avi_decode_frames

    jpegs = avi_decode_frames(blob)[2]
    return [(k, jpegs[k]) for k in _picks(len(jpegs), n)]


def _avi_first_frame(blob: bytes):
    """An AVI's pixels are its FIRST FRAME — the cheap representative a
    real pipeline embeds for video."""
    from .avicodec import avi_decode_frames
    from .jpegcodec import jpeg_decode

    jpegs = avi_decode_frames(blob)[2]
    return jpeg_decode(jpegs[0]) if jpegs else None


@functools.cache
def codec_table() -> tuple[Codec, ...]:
    """The ordered codec table. Every sniff checks a distinct leading
    magic, so at most one row claims a payload (test_codec_table_routing
    pins this) and the order only decides which sniffs run first. Codec
    modules import on first use, not with this module."""
    from .avicodec import looks_like_avi
    from .bmpcodec import bmp_decode, looks_like_bmp
    from .flaccodec import flac_decode, looks_like_flac
    from .gifcodec import gif_decode, gif_decode_frames, looks_like_gif
    from .icocodec import ico_decode, looks_like_ico
    from .jpegcodec import jpeg_decode, looks_like_jpeg
    from .pngcodec import (
        PNG_SIGNATURE,
        looks_like_apng,
        png_decode,
        png_decode_frames,
    )
    from .pnmcodec import looks_like_pnm, pnm_decode
    from .tiffcodec import looks_like_tiff, tiff_decode
    from .wavcodec import looks_like_wav, wav_decode
    from .webpcodec import looks_like_webp, webp_decode, webp_decode_frames

    def apng(blob: bytes):
        return png_decode_frames(blob) if looks_like_apng(blob) else (0, 0, [])

    def awebp(blob: bytes):
        # the animation flag is bit 1 of the VP8X chunk, always the first
        animated = blob[12:16] == b"VP8X" and len(blob) > 20 and blob[20] & 2
        return webp_decode_frames(blob) if animated else (0, 0, [])

    return (
        Codec("png", lambda b: b.startswith(PNG_SIGNATURE), png_decode,
              frames=_canvas_frames(apng)),
        Codec("tiff", looks_like_tiff, tiff_decode),
        Codec("pnm", looks_like_pnm, pnm_decode),
        Codec("bmp", looks_like_bmp, bmp_decode),
        Codec("gif", looks_like_gif, gif_decode,
              frames=_canvas_frames(gif_decode_frames)),
        Codec("jpeg", looks_like_jpeg, jpeg_decode),
        Codec("webp", looks_like_webp, webp_decode,
              frames=_canvas_frames(awebp)),
        Codec("avi", looks_like_avi, _avi_first_frame, frames=_avi_frames),
        Codec("ico", looks_like_ico, ico_decode),
        Codec("wav", looks_like_wav, samples=wav_decode),
        Codec("flac", looks_like_flac, samples=flac_decode),
    )


def codec_for(blob: bytes) -> Codec | None:
    """The table row whose sniff claims ``blob``, else None."""
    return next((c for c in codec_table() if c.sniff(blob)), None)


def decode_image(blob: bytes):
    """→ (width, height, channels, samples) through the claiming row's
    pixel decoder, else None."""
    codec = codec_for(blob)
    return codec.pixels(blob) if codec and codec.pixels else None


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode: binary column in, the claiming row's decoded
    (width, height, channels) and the payload size out; an MJPEG AVI
    gives its first frame's dims."""

    def decode(blob: bytes):
        decoded = decode_image(blob)
        return None if decoded is None else (*decoded[:3], len(blob))

    return map_blobs(media, DECODED_SCHEMA, decode)


FRAME_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_offset", LongType()),
    StructField("frame_bytes", BinaryType()),
    StructField("ok", StringType()),
])


def frame_sample(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Moving-image payloads → N evenly spaced frame records (one input row
    fans out to ≤N output rows — the mapInPandas shape a real ffmpeg
    sampler has), with ``frame_offset`` = the frame's index in the
    animation: animated GIF (LZW decode + per-frame compositing with
    disposal/transparency), animated PNG (acTL/fcTL/fdAT walk,
    dispose/blend compositing) and animated WebP (VP8X/ANIM/ANMF walk,
    per-frame VP8L decode) emit each sampled canvas as a standalone PNG;
    MJPEG AVI (RIFF LIST walk to the ``movi`` members) emits each sampled
    frame's standalone baseline-JPEG payload, which decode_pixels then
    really decodes. A payload with no frames (a still PNG or WebP, an
    empty AVI, text) is one ``unsupported`` row with null frame fields;
    a failed walk is one ``error: …`` row."""

    def frames(blob: bytes):
        codec = codec_for(blob)
        picked = codec.frames(blob, n_frames) \
            if codec and codec.frames else None
        return [(i, k, out) for i, (k, out) in enumerate(picked)] \
            if picked else None

    return map_blobs(media, FRAME_SCHEMA, frames)


RESIZED_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("in_width", IntegerType()),
    StructField("in_height", IntegerType()),
    StructField("payload", BinaryType()),
    StructField("ok", StringType()),
])


def resize_media(media: DataFrame, width: int = 32,
                 height: int = 32) -> DataFrame:
    """Arrow-batched resize: image payload in, (target dims, source dims,
    PNG of the nearest-neighbour resample) out, whatever the source
    format: one decode per blob through the claiming row's pixel decoder
    (an MJPEG AVI resizes its first frame), and a GIF's palette comes
    back as RGB. The target size is checked once, before any blob:
    ValueError unless ``0 < width``, ``0 < height`` and
    ``width * height <= pngcodec.MAX_PIXELS``."""
    from .pngcodec import MAX_PIXELS, png_encode

    if not (0 < width and 0 < height and width * height <= MAX_PIXELS):
        raise ValueError(f"bad target dimensions {width}x{height}")

    def resize(blob: bytes):
        decoded = decode_image(blob)
        if decoded is None:
            return None
        in_w, in_h, ch, px = decoded
        return (width, height, in_w, in_h, png_encode(
            _nearest(px, in_w, in_h, ch, width, height), width, height, ch))

    return map_blobs(media, RESIZED_SCHEMA, resize)


PIXELS_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_pixel_bytes", LongType()),
    StructField("pixel_md5", StringType()),
    StructField("pixel_dec_md5", StringType()),
    StructField("ok", StringType()),
])


def decode_pixels(media: DataFrame) -> DataFrame:
    """Full real decode: image payload → dimensions + a content digest of
    the raw decoded samples (the image-content identity exact image dedup
    keys on — two differently-compressed PNGs of the same pixels collide
    here, while byte-level md5 of the files would not — and a BMP and a
    PNG of the same pixels collide too, since the digest is over the
    decoded samples)."""

    def digest(blob: bytes):
        decoded = decode_image(blob)
        if decoded is None:
            return None
        w, h, c, px = decoded
        # pixel_dec_md5: the samples rendered as 3-digit decimals — the
        # NUL-free content digest a pure-SQL oracle can reconstruct (same
        # trick scan_features uses), since VARCHAR md5 can't hold 0x00
        return (w, h, c, len(px), hashlib.md5(px).hexdigest(),
                hashlib.md5(_dec3(px)).hexdigest())

    return map_blobs(media, PIXELS_SCHEMA, digest)


FEATURE_DIM = 16

FEATURES_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("features", ArrayType(FloatType())),
    StructField("ok", StringType()),
])


def media_features(media: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Fixed-width feature vector per blob, computed from the DECODED
    CONTENT — images (an MJPEG AVI via its first frame): [w/1024, h/1024,
    ch/4, global mean/255, 4 per-channel means/255 (zero-padded), 8
    brightness-histogram fractions]; audio (WAV, FLAC): the mirrored
    layout over full-scale-normalized samples (ops/audio.wav_feature_vec)
    — a real, content-derived signal (two encodings of the same
    pixels/samples embed identically). Production swaps in a real
    embedding model via the same batch shape."""
    import numpy as np

    from .audio import wav_feature_vec

    def features(blob: bytes):
        decoded = decode_image(blob)
        if decoded is None:
            vec = wav_feature_vec(blob, dim)
            return None if vec is None else (vec,)
        w, h, ch, px = decoded
        arr = np.frombuffer(px, dtype=np.uint8)
        means = [float(arr[c::ch].mean()) / 255.0 for c in range(ch)]
        hist = np.bincount(arr >> 5, minlength=8) / arr.size
        vec = ([w / 1024.0, h / 1024.0, ch / 4.0, float(arr.mean()) / 255.0]
               + (means + [0.0] * 4)[:4] + hist.tolist())
        return ((vec + [0.0] * dim)[:dim],)

    return map_blobs(media, FEATURES_SCHEMA, features)


PIXEL_FEATURES_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("sum_c0", LongType()),
    StructField("sum_c1", LongType()),
    StructField("sum_c2", LongType()),
    StructField("sum_c3", LongType()),
    StructField("hist_0", LongType()),
    StructField("hist_1", LongType()),
    StructField("hist_2", LongType()),
    StructField("hist_3", LongType()),
    StructField("ok", StringType()),
])


def pixel_features(media: DataFrame) -> DataFrame:
    """Exact-integer pixel statistics per decodable blob: per-channel sample
    sums (null for absent channels) and a 4-bucket brightness histogram
    (sample >> 6). Everything is integer arithmetic over the REAL decoded
    samples, so an independent engine that can reconstruct the expected
    pixels (the driver oracle does, from doc_id arithmetic for the synthetic
    corpus) can verify the whole decode path bit-exactly."""
    import numpy as np

    def stats(blob: bytes):
        decoded = decode_image(blob)
        if decoded is None:
            return None
        w, h, ch, px = decoded
        arr = np.frombuffer(px, dtype=np.uint8)
        sums = [int(arr[c::ch].sum()) if c < ch else None for c in range(4)]
        hist = np.bincount(arr >> 6, minlength=4)
        return (w, h, ch, *sums, *(int(x) for x in hist))

    return map_blobs(media, PIXEL_FEATURES_SCHEMA, stats)


def extract_embedded_media(docs_out: DataFrame) -> DataFrame:
    """Conversion output → media table of the EMBEDDED images.

    The docx/pptx kernels emit embedded pictures as base64 data URIs inside
    image spans (reference parity: docx.go:196-198, pptx.go:342-343 embed
    the real bytes inline). This recovers them as binary payloads
    (doc_id, media_ref, mime, payload) — the bridge from extraction to the
    multimodal operators (decode_pixels / resize_media / media_features)
    WITHOUT re-reading or re-parsing the source documents. Fully JVM-side
    (explode + regexp_extract + unbase64): narrow, codegen, no Python."""
    spans = (
        docs_out.select("doc_id", F.explode("out_spans").alias("s"))
        .where(F.col("s.kind") == "image")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"),
                F.col("s.text").alias("t"))
    )
    uri_re = r"\(data:([a-z0-9.+/-]+);base64,([A-Za-z0-9+/=]+)\)"
    return (
        spans.select(
            "doc_id", "media_ref",
            F.regexp_extract("t", uri_re, 1).alias("mime"),
            F.regexp_extract("t", uri_re, 2).alias("b64"),
        )
        .where(F.col("b64") != "")
        .select("doc_id", "media_ref", "mime",
                F.unbase64("b64").alias("payload"))
    )


def synth_png_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-image media table derived from doc ids (the test
    / bench corpus for the real codec path). Dimensions are doc_id
    arithmetic (w = 4 + id%13, h = 4 + id%7, RGB) and the pixel samples
    are the doc_id's md5 hex repeated (ASCII) — so an independent SQL
    engine can reconstruct the expected decoded bytes WITHOUT an imaging
    library, which is exactly what the driver oracle for
    ``decode_pixels``/``resize_media`` does. Docs with i % 5 == 4 encode
    the SAME pixels as baseline TIFF instead of PNG (both lossless, so
    the one oracle pins both decoders), rotating the compression by
    i % 3 — LZW / PackBits / uncompressed — with the horizontal
    predictor on odd docs and a 3-row multi-strip layout on i % 2 == 0;
    docs with i % 5 == 3 encode them as binary PPM (ops/pnmcodec); docs
    with i % 5 == 1 encode them as lossless WebP (ops/webpcodec),
    rotating VP8L features. The PNG path pins zlib+filters, the TIFF
    path pins IFD/strip/PackBits/TIFF-LZW/predictor decode, the PPM
    path pins the Netpbm header grammar + raster parse, and the WebP
    path pins the VP8L prefix-code/transform/LZ77 walk, all against the
    same arithmetic."""
    from .pngcodec import png_encode
    from .pnmcodec import pnm_encode
    from .tiffcodec import tiff_encode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 13
                h = 4 + i % 7
                n = w * h * 3
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                px = (hexs * (-(-n // len(hexs))))[:n].encode("ascii")
                if i % 5 == 4:
                    # TIFF shape variants under the same oracle samples:
                    # i%7==3 → separate planes; i%7==5 → 16-bit (high
                    # bytes are the oracle samples, low bytes constant);
                    # i%11==7 → tiled layout (tags 322-325); compression
                    # rotates through all four lossless codecs incl.
                    # Deflate — every shape decodes to the SAME samples
                    payload, bits = px, 8
                    if i % 7 == 5:
                        arr16 = bytearray(2 * n)
                        arr16[0::2] = bytes([i % 249]) * n  # low (LE)
                        arr16[1::2] = px                    # high (LE)
                        payload, bits = bytes(arr16), 16
                    blob = tiff_encode(
                        payload, w, h, 3,
                        compression=("lzw", "packbits", "none",
                                     "deflate")[i % 4],
                        predictor=2 if i % 2 else 1,
                        rows_per_strip=3 if i % 2 == 0 else None,
                        bits=bits, planar=2 if i % 7 == 3 else 1,
                        tile=(8, 8) if i % 11 == 7 else None)
                    rows.append((f"p{i}", "image/tiff", blob))
                    continue
                if i % 5 == 3:
                    # every third PPM id writes the 16-bit (maxval 65535,
                    # 2-byte big-endian) raster — decode rescales back to
                    # the SAME oracle samples, so the pixel oracle pins
                    # the wide path with zero oracle edits
                    mv = 65535 if i % 3 == 0 else 255
                    rows.append((f"p{i}", "image/x-portable-pixmap",
                                 pnm_encode(px, w, h, 3, maxval=mv)))
                    continue
                if i % 5 == 1:
                    # lossless WebP (ops/webpcodec) of the SAME samples,
                    # rotating the VP8L features — subtract-green, color
                    # cache, LZ77 runs — so the one pixel oracle pins the
                    # prefix-code walk, transforms and backward refs
                    from .webpcodec import webp_encode

                    blob = webp_encode(
                        px, w, h, 3,
                        subtract_green=(i % 2 == 0),
                        color_cache_bits=4 if i % 3 == 0 else 0,
                        lz77=(i % 3 == 1))
                    rows.append((f"p{i}", "image/webp", blob))
                    continue
                # PNG shape variants — the ORACLE SAMPLES never change
                # (16-bit high bytes ARE the 8-bit samples; deinterlace
                # reorders nothing), so the same SQL arithmetic pins the
                # Adam7 and 16-bit decode paths too:
                #   i%7==1 → Adam7 8-bit;  i%7==2 → 16-bit (interlaced
                #   on odd ids), low bytes a varying constant
                if i % 7 == 2:
                    arr = bytearray(2 * n)
                    arr[0::2] = px
                    arr[1::2] = bytes([i % 251]) * n
                    blob = png_encode(bytes(arr), w, h, 3, depth=16,
                                      interlace=(i % 2 == 1))
                else:
                    blob = png_encode(px, w, h, 3, interlace=(i % 7 == 1))
                rows.append((f"p{i}", "image/png", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_gif_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-GIF media table derived from doc ids (the test /
    bench corpus for the GIF codec path, ops/gifcodec). Dimensions are
    doc_id arithmetic (w = 4 + id%11, h = 4 + id%5), the palette is 256-gray
    (pal[i] = (i,i,i)), and the indices are the doc_id's md5 hex repeated
    (ASCII) — so the decoded RGB sample stream is each hex character
    repeated three times, a plain ASCII string an independent SQL engine
    reconstructs WITHOUT a GIF library. The encoder's real LZW output must
    survive a genuine LZW decode back to those samples for the driver
    oracle to match."""
    from .gifcodec import gif_encode

    palette = bytes(v for i in range(256) for v in (i, i, i))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 11
                h = 4 + i % 5
                n = w * h
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                idx = (hexs * (-(-n // len(hexs))))[:n].encode("ascii")
                rows.append((f"g{i}", "image/gif",
                             gif_encode(idx, w, h, palette)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_agif_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL animated-GIF media table derived from doc ids
    (the test / bench corpus for the animation path of ``frame_sample``).
    Screen is w = 4 + id%9 by h = 4 + id%6, the animation has
    5 + id%8 full-screen frames, the palette is 256-gray, and frame k's
    palette indices are md5(f"{id}:{k}") hex repeated (ASCII). Full-screen
    frames with no transparency mean the composited canvas for frame k IS
    frame k's own content, so an independent SQL engine reconstructs each
    sampled frame's decoded RGB (hex chars tripled) WITHOUT a GIF
    library — the real LZW round-trip plus the compositing walk must both
    be correct for the driver oracle to match. (Offsets, transparency and
    disposal are exercised by tests/test_gif.py's compositing pins.)"""
    from .gifcodec import gif_encode_animated

    palette = bytes(v for i in range(256) for v in (i, i, i))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 9
                h = 4 + i % 6
                n = w * h
                frames = []
                for k in range(5 + i % 8):
                    hexs = hashlib.md5(f"{i}:{k}".encode()).hexdigest()
                    idx = (hexs * (-(-n // len(hexs))))[:n].encode("ascii")
                    frames.append((idx, 0, 0, w, h))
                rows.append((f"a{i}", "image/gif",
                             gif_encode_animated(w, h, palette, frames)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_avi_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL MJPEG-AVI media table derived from doc ids (the
    test / bench corpus for the video path of ``frame_sample``). Per doc
    i: w = 8*(1 + i%3) by h = 8*(1 + i%2), 5 + i%8 frames, and frame k is
    a UNIFORM grayscale baseline JPEG of value (i*7 + k*13) % 95 + 32.
    A uniform input block has only a DC coefficient, which the Annex-K
    quantizer round-trips exactly at the default quality (|dequant error|
    < 4 over an 8-pixel IDCT spread — verified exhaustively for all 256
    values in tests/test_avi.py), so the decoded frame is EXACTLY the
    uniform source value: an independent SQL engine reconstructs each
    sampled frame's decoded samples as one repeated ASCII char WITHOUT an
    AVI or JPEG library, and the RIFF LIST walk plus the full JPEG entropy
    decode (markers, Huffman, dequant, IDCT) must all be spec-correct for
    the driver oracle to match. Frame k of doc i is PROGRESSIVE (SOF2)
    when (i + k) % 3 == 0 — with restart markers when i is odd — and
    baseline otherwise: the quantized coefficients are identical either
    way (verified exhaustively in tests/test_jpeg.py for the uniform
    values this corpus uses), so the same oracle arithmetic also pins the
    progressive scan paths (DC first/refine, AC spectral selection +
    successive approximation, cross-scan DHT redefinition, RST resync)."""
    from .avicodec import avi_encode
    from .jpegcodec import jpeg_encode, jpeg_encode_progressive

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 8 * (1 + i % 3)
                h = 8 * (1 + i % 2)
                frames = [
                    jpeg_encode_progressive(
                        bytes([(i * 7 + k * 13) % 95 + 32]) * (w * h),
                        w, h, 1, restart_interval=i % 2)
                    if (i + k) % 3 == 0 else
                    jpeg_encode(bytes([(i * 7 + k * 13) % 95 + 32]) * (w * h),
                                w, h, 1)
                    for k in range(5 + i % 8)
                ]
                rows.append((f"v{i}", "video/avi", avi_encode(frames, w, h)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


SCAN_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("n_samples", LongType()),
    StructField("sample_md5", StringType()),
    StructField("black_n", LongType()),
    StructField("ok", StringType()),
])

_DEC3 = None  # lazy: 256-entry lookup of b"000".."255"


def _dec3(px: bytes) -> bytes:
    """Samples → their 3-digit-decimal ASCII stream (vectorized via the
    shared 'S3' lookup table)."""
    import numpy as np

    global _DEC3
    if _DEC3 is None:
        _DEC3 = np.array([b"%03d" % v for v in range(256)], dtype="S3")
    return _DEC3[np.frombuffer(px, dtype=np.uint8)].tobytes()


def scan_features(media: DataFrame) -> DataFrame:
    """Scanned-document TIFF decode, pinned by printable statistics: each
    decoded 8-bit sample renders as its 3-digit decimal ('000'..'255'),
    ``sample_md5`` is the md5 of that ASCII stream in raster order, and
    ``black_n`` counts exactly-black samples. Both are SQL-reconstructible
    (the driver oracle rebuilds the decimal stream from doc_id
    arithmetic), so a real CCITT G4/MH/G3 bit walk or a real JPEG-in-TIFF
    entropy decode must be spec-correct for the hashes to line up.
    Vectorized (uint8 → 'S3' table lookup); a non-TIFF payload is an
    ``unsupported`` row."""
    import numpy as np

    from .tiffcodec import looks_like_tiff, tiff_decode

    def stats(blob: bytes):
        if not looks_like_tiff(blob):
            return None
        w, h, ch, px = tiff_decode(blob)
        arr = np.frombuffer(px, dtype=np.uint8)
        return (w, h, ch, arr.size, hashlib.md5(_dec3(px)).hexdigest(),
                int((arr == 0).sum()))

    return map_blobs(media, SCAN_SCHEMA, stats)


def synth_scan_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL scanned-document TIFF corpus derived from doc
    ids — the test / bench corpus for the fax + JPEG-in-TIFF paths
    (ops/faxcodec, ops/tiffcodec, ops/jpegcodec).

    Branch 'sc' (bilevel, w = 4+i%13 by h = 4+i%7): pixel j is BLACK
    exactly when the j-th char of the doc's repeated md5 hex is a..f, so
    with the fax-default PhotometricInterpretation 0 the decoded sample
    stream is '000'/'255' arithmetic an independent SQL engine rebuilds
    WITHOUT a fax library. Compression rotates G4 / MH / G3-1D /
    bilevel-LZW / Deflate / uncompressed / G3-2D (T4Options bit 0, EOL
    tag bits, K=4 rhythm) by i%7, with a tiled layout on i%12==0, 3-row
    strips on even ids, and FillOrder 2 (LSB-first fax byte order, tag
    266) on the i%5<2 slice of the fax/uncompressed ids
    — a real T.6/T.4 bit walk must be exact for the md5 to match.

    Branch 'sj' (JPEG-in-TIFF, compression 7): 8-row strips, each strip
    uniform value (i*7 + s*13) % 95 + 32 — the Annex-K quantizer
    round-trips uniform blocks in 32..126 exactly (verified exhaustively
    in tests/test_avi.py), and gray-valued RGB (r=g=b) keeps Cb=Cr=128
    exact too, so the decoded samples ARE the strip values: the shared
    JPEGTables splice (on i%3!=0), per-strip entropy decode, and the
    strip-grid assembly are all pinned by the same decimal-stream md5.

    Branch 'sn' (OLD-style JPEG-in-TIFF, compression 6 — deprecated but
    still in old scanner archives): one JPEGInterchangeFormat stream
    (tag 513/514), uniform value (i*7) % 95 + 32 over the whole image so
    the Annex-K round trip stays exact.

    Every fifth id writes the JPEG branches at 12-BIT precision
    (SOF1 extended-sequential, the medical/archival-scan shape): sample
    lattice v<<4 decodes back to exactly v through the high-bits
    reduction, so the SAME oracle pins the wide entropy path."""
    import numpy as np

    from .tiffcodec import tiff_encode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 13
                h = 4 + i % 7
                n = w * h
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                chars = (hexs * (-(-n // len(hexs))))[:n]
                bits = bytes(1 if c >= "a" else 0 for c in chars)
                comp = ("g4", "mh", "g3", "lzw", "deflate", "none",
                        "g32d")[i % 7]
                blob = tiff_encode(
                    bits, w, h, 1, compression=comp, bits=1,
                    tile=(8, 8) if i % 12 == 0 else None,
                    rows_per_strip=3 if i % 12 != 0 and i % 2 == 0
                    else None,
                    # LSB-first fax byte order on a slice of the fax /
                    # uncompressed ids — same decoded samples, so the
                    # SQL oracle pins the FillOrder-2 bit walk for free
                    fill_order=2 if comp not in ("lzw", "deflate")
                    and i % 5 < 2 else 1)
                rows.append((f"sc{i}", "image/tiff", blob))
                ch = 3 if i % 2 else 1
                # every fifth id writes 12-bit precision (medical/archival
                # scans): lattice values v<<4 decode back to exactly v,
                # so the SAME decimal-stream oracle pins the wide path
                b12 = i % 5 == 0
                svals = [(i * 7 + (r // 8) * 13) % 95 + 32
                         for r in range(h) for _ in range(w * ch)]
                vals = (np.array(svals, dtype="<u2") << 4).tobytes() \
                    if b12 else bytes(svals)
                blob = tiff_encode(
                    vals, w, h, ch, compression="jpeg",
                    rows_per_strip=8, jpeg_tables=i % 3 != 0,
                    bits=12 if b12 else 8)
                rows.append((f"sj{i}", "image/tiff", blob))
                # branch 'sn': old-style JPEG-in-TIFF (compression 6,
                # deprecated but still in old scanner archives) — one
                # JPEGInterchangeFormat stream, uniform value so the
                # Annex-K round trip is exact over the whole image
                v6 = (i * 7) % 95 + 32
                vals6 = (np.full(w * h * ch, v6 << 4, dtype="<u2").tobytes()
                         if b12 else bytes([v6]) * (w * h * ch))
                blob = tiff_encode(vals6, w, h, ch, compression="jpeg6",
                                   bits=12 if b12 else 8)
                rows.append((f"sn{i}", "image/tiff", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_cmyk_media(docs: DataFrame) -> DataFrame:
    """Deterministic 4-component (print-origin) JPEG corpus derived from
    doc ids — the test / bench corpus for the CMYK/YCCK decode path
    (ops/jpegcodec APP14 handling). Uniform ink values on the
    Annex-K-exact 32..126 lattice, so the decoded RGB is pure doc_id
    arithmetic the driver SQL oracle rebuilds WITHOUT a JPEG library:

    - i % 3 == 0: Adobe APP14 transform 0 (inverted-ink CMYK planes
      stored directly) with C/M/Y/K = (i*7, i*11, i*13, i*5) % 95 + 32
      → rgb channel = round(ink * k / 255)
    - i % 3 == 1: YCCK (transform 2) with C = M = Y (gray ink keeps
      Cb = Cr = 128 exact through the forward transform) → all three
      RGB channels = round(v1 * k / 255)
    - i % 3 == 2: NO APP14 (plain CMYK, ink 0 = no coverage)
      → rgb channel = round((255-ink) * (255-k) / 255)
    """
    from .jpegcodec import jpeg_encode

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 13
                h = 4 + i % 7
                c1 = (i * 7) % 95 + 32
                c2 = (i * 11) % 95 + 32
                c3 = (i * 13) % 95 + 32
                k = (i * 5) % 95 + 32
                mode = i % 3
                if mode == 1:
                    c2 = c3 = c1
                cmyk = bytes([c1, c2, c3, k]) * (w * h)
                tf = (0, 2, None)[mode]
                blob = jpeg_encode(cmyk, w, h, 4, adobe_transform=tf)
                rows.append((f"sk{i}", "image/jpeg", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic palettized / RLE BMP media table derived from doc
    ids (the legacy-raster arm of the ``scan_decode`` oracle).  Indices
    come from md5(i) hex ASCII over w*h pixels:

    - i % 2 == 0: 8-bit palette (entry v = (v,v,v)), index = the char's
      ASCII code → decoded sample = the code itself;
    - i % 2 == 1: 4-bit palette (entry v = (17v,)*3), index = the hex
      digit's value → decoded sample = 17 * value;
    - i % 3 != 0: BI_RLE8 / BI_RLE4 run-length encoding, else
      uncompressed bit-packed rows.

    Either way the SQL oracle rebuilds every decoded sample from doc_id
    arithmetic while the decoder must run the real palette / RLE walk."""
    from .bmpcodec import bmp_encode_indexed

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 13
                h = 4 + i % 7
                n = w * h
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                chars = (hexs * (-(-n // len(hexs))))[:n]
                rle = i % 3 != 0
                if i % 2 == 0:
                    pal = [(v, v, v) for v in range(256)]
                    idx = chars.encode("ascii")
                    blob = bmp_encode_indexed(idx, w, h, pal,
                                              bpp=8, rle=rle)
                else:
                    pal = [(17 * v,) * 3 for v in range(16)]
                    idx = bytes(int(c, 16) for c in chars)
                    blob = bmp_encode_indexed(idx, w, h, pal,
                                              bpp=4, rle=rle)
                rows.append((f"bm{i}", "image/bmp", blob))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_apng_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL animated-PNG media table derived from doc ids
    (the APNG path of ``frame_sample``).  Canvas w = 4 + i%9,
    h = 4 + i%6 with 5 + i%8 full-canvas frames (blend source, dispose
    none → composite k == frame k); frame k's RGB raster is
    md5(f"{i}:{k}") hex ASCII repeated over w*h*3 bytes, so the SQL
    oracle rebuilds every sampled frame with no PNG library while the
    decode must run the real acTL/fcTL/fdAT walk + inflate/unfilter."""
    from .pngcodec import png_encode_animated

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 + i % 9
                h = 4 + i % 6
                n = w * h * 3
                frames = []
                for k in range(5 + i % 8):
                    hexs = hashlib.md5(f"{i}:{k}".encode()).hexdigest()
                    frames.append(
                        ((hexs * (-(-n // len(hexs))))[:n]).encode("ascii"))
                rows.append((f"ap{i}", "image/apng",
                             png_encode_animated(w, h, frames)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def synth_awebp_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL animated-WebP media table derived from doc ids
    (the animation path of ``frame_sample`` for WebP).  Canvas is
    w = 4*(1 + i%4) by h = 4*(1 + i%2); the animation has 5 + i%8
    full-canvas overwrite frames (no alpha, blend bit set), so the
    composited canvas for frame k IS frame k's own content and the SQL
    oracle reconstructs each sampled frame with no WebP library.  Frame
    k is VP8L lossless of md5(f"{i}:{k}") hex ASCII repeated over w*h*3
    bytes (same construction as the GIF/PNG corpora), so one animation
    pins the VP8X/ANIM/ANMF walk, the per-frame VP8L decode and the
    compositing identity."""
    from .webpcodec import webp_encode, webp_encode_anim

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w = 4 * (1 + i % 4)
                h = 4 * (1 + i % 2)
                n = w * h * 3
                stills = []
                for k in range(5 + i % 8):
                    hexs = hashlib.md5(f"{i}:{k}".encode()).hexdigest()
                    px = (hexs * (-(-n // len(hexs))))[:n]
                    stills.append(webp_encode(px.encode("ascii"), w, h, 3))
                rows.append((f"aw{i}", "image/webp",
                             webp_encode_anim(w, h, stills)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)


def attach_media(docs_out: DataFrame, media: DataFrame,
                 broadcast: bool = False) -> DataFrame:
    """Join conversion output's image spans to the media side-table.

    Strategy is left to AQE by default: an unconditional broadcast hint
    would materialize the whole media table (binary payloads!) on the
    driver and every executor when it is large. Pass ``broadcast=True``
    only when the caller KNOWS the table is small; at 100 TB both sides
    are bucketed on media_ref and the join is shuffle-free (Iceberg
    bucket transform on both tables)."""
    spans = (
        docs_out.select("doc_id", F.explode("out_spans").alias("s"))
        .where(F.col("s.kind") == "image")
        .select("doc_id", F.col("s.media_ref").alias("media_ref"))
    )
    right = F.broadcast(media) if broadcast else media
    return spans.join(right, "media_ref", "left")
