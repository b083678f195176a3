"""Media-path durability soak: ≥1M REAL binary blobs through the full
decode matrix with crash + resume and exact error-row accounting.

The text-conversion soaks (scripts/soak.py, scripts/archive_soak.py)
prove the convert front door; this one proves the MEDIA path at scale:

- corpus: synth_png_media (PNG / TIFF / PPM / lossless-WebP rotation),
  synth_gif_media (real LZW), synth_cmyk_media (4-component JPEG) and
  synth_wav_media (PCM / G.711 / IMA-ADPCM / FLAC) over a doc_id range
  — all real encoders — plus a PLANTED poison slice (every 997th image
  truncated mid-container) whose rows must surface as counted typed
  errors, never task failures.
- job shape: the convert job's bucketed wave-committed resume protocol,
  through the same pipeline calls (``pending_waves`` plans the waves,
  ``write_wave`` + ``SnapshotStore.commit`` write and commit each one,
  and the committed rows are read from the directories the snapshots
  name), with one INJECTED CRASH mid-run + resume; images through
  decode_pixels and audio through audio_features.
- verification: exactly-once (row count == distinct media_ref == the
  generated corpus size), ok/error split equals the planted poison
  count exactly, per-branch throughput reported.

Usage:
    python scripts/media_soak.py [n_blobs] [cores]
        (defaults: 1_200_000 blobs on local[32])

Prints one JSON line; paste the numbers into BENCH/BASELINE.md.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Spark Python workers import marky_spark too: they inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

POISON_EVERY = 997


def main() -> int:
    n_blobs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_200_000
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out_dir = os.environ.get("MEDIA_SOAK_OUT", "/tmp/media_soak_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from marky_spark.ops.audio import audio_features, synth_wav_media
    from marky_spark.ops.multimodal import (
        decode_pixels,
        frame_sample,
        synth_apng_media,
        synth_awebp_media,
        synth_bmp_media,
        synth_cmyk_media,
        synth_gif_media,
        synth_png_media,
    )
    from marky_spark.pipeline import (
        SnapshotStore,
        pending_waves,
        with_bucket,
        write_wave,
    )
    from marky_spark.session import get_spark

    spark = get_spark(app="media_soak", master=f"local[{cores}]", confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores * 2),
    })
    spark.sparkContext.setLogLevel("ERROR")

    # corpus plan: 6 real-encoder branches over disjoint doc_id ranges
    # (~40% png/tiff/ppm/vp8l-webp rotation, ~20% gif, ~10% cmyk-jpeg,
    # ~10% palettized/RLE BMP, ~5%+5% animated WebP/APNG through
    # frame_sample, ~5% audio — the slow pure-Python paths get presence,
    # not half the budget)
    n_png = int(n_blobs * 0.40)
    n_gif = int(n_blobs * 0.20)
    n_bmp = int(n_blobs * 0.10)
    n_awebp = int(n_blobs * 0.05)
    n_apng = int(n_blobs * 0.05)
    # synth_wav_media emits TWO rows per id (w{i} wav/flac + wa{i} IMA
    # ADPCM) — halve the id range so the blob budget holds
    n_wav_ids = int(n_blobs * 0.05) // 2
    n_audio = 2 * n_wav_ids
    n_cmyk = (n_blobs - n_png - n_gif - n_bmp
              - n_awebp - n_apng - n_audio)

    def ids(n: int) -> "F.DataFrame":
        return spark.range(n).select(F.col("id").alias("doc_id"))

    # poison: every POISON_EVERY-th IMAGE blob is truncated to 9 bytes
    # (keeps a recognizable magic prefix on most, so the codecs must
    # reject structurally, not at the sniff)
    def poisoned(media):
        doc = F.regexp_extract("media_ref", r"(\d+)$", 1).cast("long")
        return media.withColumn(
            "payload",
            F.when(doc % POISON_EVERY == 0,
                   F.substring("payload", 1, 9)).otherwise(
                F.col("payload")))

    images = (poisoned(synth_png_media(ids(n_png)))
              .unionByName(poisoned(
                  synth_gif_media(ids(n_gif)).select(
                      "media_ref", "mime", "payload")))
              .unionByName(poisoned(synth_cmyk_media(ids(n_cmyk))))
              .unionByName(poisoned(synth_bmp_media(ids(n_bmp)))))
    # animations stay unpoisoned: a 9-byte WebP prefix is claimed by no
    # codec, so it would be an unsupported row rather than a counted
    # error, which would skew the planted-poison == error-row identity
    anims = (synth_awebp_media(ids(n_awebp))
             .unionByName(synth_apng_media(ids(n_apng))))
    audio = synth_wav_media(ids(n_wav_ids))
    # the poison predicate keys on the media_ref's trailing digits (the
    # same regexp the job uses); no image prefix (p, a, sk, bm) ends in a
    # digit, so each branch plants ids 0, POISON_EVERY, 2*POISON_EVERY, …
    n_poison = sum(-(-n // POISON_EVERY)
                   for n in (n_png, n_gif, n_cmyk, n_bmp))

    n_buckets, waves = 32, 4

    def run(out: str, tag: str, media, op, fail_after_wave=None):
        store = SnapshotStore(out)
        bucketed = with_bucket(
            media.withColumn("doc_id", F.regexp_extract(
                "media_ref", r"(\d+)$", 1).cast("long")),
            n_buckets).persist(StorageLevel.MEMORY_AND_DISK)
        done = 0
        for k, wave_buckets in pending_waves(store.read(), n_buckets, waves):
            wave = bucketed.where(F.col("bucket").isin(wave_buckets))
            result = with_bucket(
                op(wave.select("media_ref", "mime", "payload"))
                .withColumn("doc_id", F.regexp_extract(
                    "media_ref", r"(\d+)$", 1).cast("long")),
                n_buckets).drop("doc_id")
            write_wave(store, result.withColumn("branch", F.lit(tag)), k)
            store.commit(wave_buckets, {"tag": tag})
            done += 1
            if fail_after_wave is not None and done >= fail_after_wave:
                raise RuntimeError("injected failure")
        bucketed.unpersist()

    def committed_rows(out: str):
        return spark.read.parquet(*SnapshotStore(out).committed_dirs())

    def decode_images(media):
        return decode_pixels(media).select(
            "media_ref", "ok",
            F.coalesce("pixel_md5", F.lit("")).alias("digest"))

    def sample_anims(media):
        # fan out to <=4 REAL composited frames per animation, then fold
        # back to ONE row per blob so the exactly-once accounting holds;
        # a blob's rows share one status (its frames, or one typed row)
        frames = frame_sample(media, n_frames=4)
        return (frames.groupBy("media_ref").agg(
            F.max("ok").alias("ok"),
            F.md5(F.concat_ws("", F.sort_array(
                F.collect_list(F.md5("frame_bytes"))))).alias("digest")))

    def decode_audio(media):
        return audio_features(media).select(
            "media_ref", "ok",
            F.coalesce(F.col("peak").cast("string"), F.lit(""))
            .alias("digest"))

    t0 = time.time()
    crashed = False
    try:
        run(out_dir, "img", images, decode_images, fail_after_wave=2)
    except RuntimeError as exc:
        crashed = "injected" in str(exc)
    assert crashed, "crash injection did not fire"
    run(out_dir, "img", images, decode_images)  # resume to completion
    img_sec = time.time() - t0
    anim_out = out_dir + "_anim"
    shutil.rmtree(anim_out, ignore_errors=True)
    t_anim = time.time()
    run(anim_out, "anim", anims, sample_anims)
    anim_sec = time.time() - t_anim
    audio_out = out_dir + "_audio"
    shutil.rmtree(audio_out, ignore_errors=True)
    t1 = time.time()
    run(audio_out, "aud", audio, decode_audio)
    audio_sec = time.time() - t1
    total_sec = time.time() - t0

    # exactly-once + accounting
    allr = (committed_rows(out_dir).unionByName(committed_rows(audio_out))
            .unionByName(committed_rows(anim_out)))
    agg = allr.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("media_ref").alias("d"),
        F.sum((F.col("ok") == "ok").cast("long")).alias("ok"),
        F.sum((F.col("ok") != "ok").cast("long")).alias("err"),
    ).collect()[0]
    assert agg["n"] == n_blobs, (agg["n"], n_blobs)
    assert agg["d"] == n_blobs, "exactly-once violated"
    assert agg["err"] == n_poison, (agg["err"], n_poison)
    err_kinds = (allr.where(F.col("ok") != "ok")
                 .groupBy("branch").count().collect())

    print(json.dumps({
        "metric": "media blobs decoded/sec (decode_pixels + "
                  "audio_features, crash+resume)",
        "n_blobs": n_blobs,
        "n_images": n_png + n_gif + n_cmyk + n_bmp,
        "n_anims": n_awebp + n_apng,
        "n_audio": n_audio,
        "n_poison_planted": n_poison,
        "n_error_rows": int(agg["err"]),
        "exactly_once": True,
        "img_sec": round(img_sec, 1),
        "anim_sec": round(anim_sec, 1),
        "audio_sec": round(audio_sec, 1),
        "total_sec": round(total_sec, 1),
        "blobs_per_sec": round(n_blobs / total_sec, 1),
        "errors_by_branch": {r["branch"]: r["count"] for r in err_kinds},
        "cores": cores,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
