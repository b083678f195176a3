"""Audio columns: opaque WAV payloads + typed, exact-integer features.

The reference never decodes media (it base64s embedded bytes verbatim,
docx.go:196-198), so audio is part of this repo's training-data-pipeline
surface rather than reference parity: a 100 TB multimodal corpus carries
audio blobs, and dedup / quality-filter / windowing operators key on real
sample access, not byte digests. The codec (ops/wavcodec) is a real
RIFF/WAVE PCM implementation — pure stdlib + numpy, same poison-pill
contract as the image codecs.

Operators:
- ``audio_features``  — WAV payload → rate/depth/frames + exact-integer
  per-channel sums, zero-crossing count, peak, and the decimated-resample
  sums (every statistic is integer arithmetic over the REAL decoded
  samples, so an independent SQL engine that can reconstruct the expected
  samples verifies decode + resample bit-exactly — the driver oracle does,
  from doc_id arithmetic over the synthetic corpus).
- ``synth_wav_media`` — deterministic REAL-WAV media table derived from
  doc ids (the test / bench corpus for the audio path).

Scale shape: one ``mapInPandas`` stage, no shuffle, no driver collect —
the same per-blob runner (ops/multimodal.map_blobs) as the image
operators.
"""

from __future__ import annotations

import hashlib
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

from .multimodal import MEDIA_SCHEMA, codec_for, map_blobs

AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("sample_rate", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("bits", IntegerType()),
    StructField("n_frames", LongType()),
    StructField("sum_c0", LongType()),
    StructField("sum_c1", LongType()),
    StructField("zc_c0", LongType()),
    StructField("peak", LongType()),
    StructField("ds_frames", LongType()),
    StructField("ds_sum_c0", LongType()),
    StructField("ok", StringType()),
])


def audio_features(media: DataFrame) -> DataFrame:
    """WAV payloads → exact-integer audio statistics per blob.

    Columns (all integer arithmetic over the decoded samples, so the whole
    decode path is independently verifiable):

    - ``sum_c0`` / ``sum_c1`` — per-channel sample sums (``sum_c1`` null
      for mono)
    - ``zc_c0``  — zero crossings on channel 0 (adjacent products < 0)
    - ``peak``   — max absolute sample across all channels
    - ``ds_frames`` / ``ds_sum_c0`` — frame count and channel-0 sum after
      a REAL linear resample to half the source rate (for even frame
      counts the interpolation grid lands exactly on source samples, so
      the resampler's output is exact decimation — SQL-reconstructible)

    WAV (PCM, G.711 mu/A-law, IMA ADPCM) and FLAC containers are claimed
    by their rows of the ops/multimodal codec table and really decoded;
    other payloads are ``unsupported`` rows, recognized-but-unimplemented
    encodings (extensible, exotic FLAC depths) ``codec_unavailable`` rows
    and malformed containers ``error: ...`` rows (the
    :func:`~marky_spark.ops.multimodal.map_blobs` status rule)."""
    import numpy as np

    from .wavcodec import wav_resample_linear

    def stats(blob: bytes):
        codec = codec_for(blob)
        if codec is None or codec.samples is None:
            return None
        rate, ch, bits, samples = codec.samples(blob)
        ds = wav_resample_linear(samples, rate, max(rate // 2, 1))
        c0 = samples[:, 0].astype(np.int64)
        return (
            rate, ch, bits, samples.shape[0], int(c0.sum()),
            int(samples[:, 1].astype(np.int64).sum()) if ch > 1 else None,
            int(np.count_nonzero(c0[:-1] * c0[1:] < 0)),
            int(np.abs(samples.astype(np.int64)).max())
            if samples.size else 0,
            ds.shape[0], int(ds[:, 0].astype(np.int64).sum()),
        )

    return map_blobs(media, AUDIO_FEATURES_SCHEMA, stats)


def wav_feature_vec(blob: bytes, dim: int = 16) -> list[float] | None:
    """Content-derived audio feature vector for WAV payloads, mirroring
    the decoded-pixel vector layout in ops/multimodal.media_features:
    [rate/48000, channels/4, n_frames/1e6, global mean, 4 per-channel
    means (zero-padded), 8 amplitude-histogram fractions], with samples
    normalized to [-1, 1) by the bit depth's full scale so an 8-bit and a
    16-bit encoding of the same signal embed (near-)identically.

    FLAC payloads embed through the identical layout (both decoders share
    the (rate, channels, bits, samples) convention), so a WAV and a FLAC
    encoding of the same signal embed identically — container-invariance.

    Returns ``None`` for non-audio payloads (media_features then gives an
    ``unsupported`` row); raises the codecs' typed errors for
    audio-shaped-but-bad payloads (the runner isolates them per blob)."""
    import numpy as np

    codec = codec_for(blob)
    if codec is None or codec.samples is None:
        return None
    rate, ch, bits, samples = codec.samples(blob)
    norm = samples.astype(np.float64) / float(1 << (bits - 1))
    means = [float(norm[:, c].mean()) for c in range(min(ch, 4))]
    buckets = np.minimum(((norm.ravel() + 1.0) * 4.0).astype(np.int64), 7)
    hist = np.bincount(buckets, minlength=8) / norm.size
    vec = ([rate / 48000.0, ch / 4.0, samples.shape[0] / 1e6,
            float(norm.mean())]
           + (means + [0.0] * 4)[:4] + hist.tolist())
    return (vec + [0.0] * dim)[:dim]


def _adpcm_blob(i: int, rate: int) -> bytes:
    """Hand-assembled IMA ADPCM WAV (fmt tag 0x11) for doc ``i`` whose
    NIBBLE stream is doc_id arithmetic — the repo's ADPCM encoder is
    never involved, so the driver oracle's recursive-CTE replay of the
    IMA state machine (step/index tables from the IMA/DVI spec) pins the
    DECODER independently: 2 mono blocks, data_bytes = 4*(2 + i%4) per
    block, block b's header predictor = ((i*157 + b*101) % 1024) - 512
    and step index = (i*7 + b*13) % 89, nibble j = hex digit j of
    md5(str(i)) repeated (low nibble first in each byte)."""
    import struct

    db = 4 * (2 + i % 4)           # nibble-word bytes per block
    spb = 1 + 2 * db               # samples per block (header + nibbles)
    nhex = 2 * 2 * db              # nibbles across both blocks
    hexs = hashlib.md5(str(i).encode()).hexdigest()
    chars = (hexs * (-(-nhex // len(hexs))))[:nhex]
    nibs = [int(c, 16) for c in chars]
    data = bytearray()
    for b in range(2):
        pred = ((i * 157 + b * 101) % 1024) - 512
        idx = (i * 7 + b * 13) % 89
        data += struct.pack("<hBB", pred, idx, 0)
        blk = nibs[b * 2 * db:(b + 1) * 2 * db]
        for k in range(0, len(blk), 2):
            data.append(blk[k] | (blk[k + 1] << 4))
    block_align = 4 + db
    fmt = struct.pack("<HHIIHHHH", 0x11, 1, rate,
                      rate * block_align // spb, block_align, 4, 2, spb)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + bytes(data))
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL-WAV media table derived from doc ids (the test /
    bench corpus for the audio codec path). Per doc_id i:

    - channels = 1 + i % 2, rate = 8000 + (i % 4) * 4000
    - container: FLAC when i % 4 == 3 (lossless — PCM-formula samples
      survive encode→decode bit-exactly; block_size=32 so every blob is
      multi-frame and exercises the 8-bit block-size-at-end header form;
      strategy alternates FIXED-rice / VERBATIM by i % 8), else WAV with
      encoding i % 3: 0 → 16-bit PCM, 1 → G.711 mu-law (fmt tag 7),
      2 → G.711 A-law (tag 6) — i%3 and i%2 are coprime, so every law
      covers both mono and stereo
    - n_frames = 64 + 2 * (i % 32)  (always EVEN, so the half-rate
      resample grid is exact decimation — frame count n/2, samples the
      even-index originals)
    - interleaved sample j (frame-major) derives from code_j, the ASCII
      code of position j in md5(str(i)) hex repeated. PCM docs:
      (code_j - 100) * 13 — hex digits give negative samples, ``e``/``f``
      positive, ``d`` zero, so sums, zero crossings, and peaks all
      exercise real sign structure. G.711 docs: sign_j * lattice(exp_j,
      mant_j) with exp_j = code_j % 8, mant_j = code_j % 16, sign_j
      positive iff code_j is even, where lattice() is the law's exact
      decoded magnitude (mu-law: (mant<<(exp+3)) + 132*(2^exp - 1);
      A-law: mant*16+8 for exp 0 else (mant*16+264)<<(exp-1)) — every
      sample sits exactly on the law's decoded lattice, so the G.711
      compress → expand round-trip is EXACT and the same integer-sum
      oracle arithmetic holds.

    Every statistic ``audio_features`` reports is therefore reconstructible
    by an independent SQL engine from doc_id arithmetic alone — no WAV
    library on the oracle side — which means the RIFF layout, the PCM
    parse, AND the G.711 segment encode/decode formulas must ALL be
    spec-correct for the driver oracle to match.

    Each doc additionally emits ``wa{i}``, a hand-assembled IMA ADPCM
    blob (see :func:`_adpcm_blob`) whose nibble stream is itself doc_id
    arithmetic — the driver oracle replays the adaptive state machine in
    a recursive CTE, pinning the ADPCM decoder with the repo's encoder
    nowhere in the loop."""
    import numpy as np

    from .flaccodec import flac_encode
    from .wavcodec import wav_encode, wav_encode_g711

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                ch = 1 + i % 2
                rate = 8000 + (i % 4) * 4000
                n = 64 + 2 * (i % 32)
                hexs = hashlib.md5(str(i).encode()).hexdigest()
                stream = (hexs * (-(-(n * ch) // len(hexs))))[:n * ch]
                codes = np.frombuffer(stream.encode("ascii"),
                                      dtype=np.uint8).astype(np.int64)
                law = i % 3
                if i % 4 == 3:
                    samples = (codes - 100) * 13
                    blob = flac_encode(
                        samples.reshape(n, ch), rate, block_size=32,
                        strategy="verbatim" if i % 8 == 7 else "fixed")
                elif law == 0:
                    samples = (codes - 100) * 13
                    blob = wav_encode(samples.reshape(n, ch), rate)
                else:
                    exp, mant = codes % 8, codes % 16
                    sign = np.where(codes % 2 == 0, 1, -1)
                    if law == 1:
                        mag = (mant << (exp + 3)) + 132 * ((1 << exp) - 1)
                    else:
                        mag = np.where(exp == 0, mant * 16 + 8,
                                       (mant * 16 + 264) <<
                                       np.maximum(exp - 1, 0))
                    blob = wav_encode_g711(
                        (sign * mag).reshape(n, ch), rate,
                        "mulaw" if law == 1 else "alaw")
                rows.append((f"w{i}",
                             "audio/flac" if i % 4 == 3 else "audio/wav",
                             blob))
                rows.append((f"wa{i}", "audio/wav", _adpcm_blob(i, rate)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return docs.select("doc_id").mapInPandas(batches, schema=MEDIA_SCHEMA)
