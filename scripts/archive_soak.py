"""Archive-mix soak: a directory of REAL .zip / .tar.gz / .7z bundles
(plus one planted corrupt file) → streaming member explode → sniff →
resumable bucketed convert with an injected crash → exactly-once
verification. The WARC twin is scripts/soak.py; this one proves the
ARCHIVE front door (including the round-4 7z walk with rotating coders
and encoded headers) composes with the crash/resume pipeline.

Usage: python scripts/archive_soak.py [n_docs] [n_files] [cores]
Prints one JSON line.
"""
from __future__ import annotations

import io
import json
import os
import shutil
import sys
import tarfile
import time
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# the Spark Python workers import marky_spark too: they inherit PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _body(i: int) -> bytes:
    return (f"<html><head><title>Doc {i}</title></head><body>"
            f"<h1>Document {i}</h1><p>Synthetic crawl body {i} with "
            f"enough words to convert meaningfully.</p>"
            f"<ul><li>alpha {i}</li><li>beta {i % 97}</li></ul>"
            f"</body></html>").encode()


def build_bundles(root: str, n_docs: int, n_files: int) -> float:
    """n_files bundles rotating zip / tar.gz / 7z, members spread evenly,
    plus one corrupt .7z that must surface as exactly one drop row."""
    from marky_spark.ops.sevenzip import sevenzip_write

    t0 = time.time()
    os.makedirs(root, exist_ok=True)
    per = -(-n_docs // n_files)
    doc = 0
    for f in range(n_files):
        members = []
        while doc < min(n_docs, (f + 1) * per):
            members.append((f"doc{doc}.html", _body(doc)))
            doc += 1
        if not members:
            break
        kind = f % 3
        if kind == 0:
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                for name, data in members:
                    info = zipfile.ZipInfo(name, (2020, 1, 1, 0, 0, 0))
                    zf.writestr(info, data)
            path, blob = f"bundle{f}.zip", buf.getvalue()
        elif kind == 1:
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w:gz") as tf:
                for name, data in members:
                    ti = tarfile.TarInfo(name)
                    ti.size = len(data)
                    ti.mtime = 0
                    tf.addfile(ti, io.BytesIO(data))
            path, blob = f"bundle{f}.tar.gz", buf.getvalue()
        else:
            blob = sevenzip_write(members, encoded_header=f % 2 == 0,
                                  coder_offset=f)
            path = f"bundle{f}.7z"
        with open(os.path.join(root, path), "wb") as fh:
            fh.write(blob)
    with open(os.path.join(root, "corrupt.7z"), "wb") as fh:
        fh.write(b"7z\xbc\xaf\x27\x1c\x00\x04" + b"\xde\xad" * 16)
    return time.time() - t0


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    n_files = int(sys.argv[2]) if len(sys.argv) > 2 else 48
    cores = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    root = os.environ.get("SOAK_BUNDLE_DIR", "/tmp/soak_bundles")
    out = os.environ.get("SOAK_OUT_DIR", "/tmp/soak_archive_out")
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)

    gen_sec = build_bundles(root, n_docs, n_files)
    bundle_bytes = sum(os.path.getsize(os.path.join(root, p))
                      for p in os.listdir(root))

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from marky_spark.ingest import docs_from_archive_dir
    from marky_spark.pipeline import (
        compact_output,
        read_output,
        run_convert_job,
    )
    from marky_spark.session import get_spark

    spark = get_spark(app="archive-soak", master=f"local[{cores}]", confs={
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(cores * 2),
    })
    spark.sparkContext.setLogLevel("ERROR")

    # stage the explode once (same rationale as soak.py: the wave loop's
    # bucket filter cannot prune a file scan)
    docs = docs_from_archive_dir(spark, root) \
        .persist(StorageLevel.MEMORY_AND_DISK)

    t0 = time.time()
    crashed = False
    try:
        run_convert_job(spark, docs, out, n_buckets=64, waves=8,
                        fail_after_wave=2)
    except RuntimeError as exc:
        crashed = "injected failure" in str(exc)
    assert crashed, "crash injection did not fire"
    run_convert_job(spark, docs, out, n_buckets=64, waves=8)
    convert_sec = time.time() - t0

    final = read_output(spark, out)
    agg = final.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("doc_id").alias("d"),
        F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
        F.sum((F.col("status") != "ok").cast("long")).alias("err"),
    ).collect()[0]
    # n_docs converted pages + exactly ONE drop row from corrupt.7z
    assert agg["n"] == n_docs + 1, (agg["n"], n_docs)
    assert agg["d"] == n_docs + 1
    assert agg["ok"] == n_docs and agg["err"] == 1, dict(agg.asDict())

    t1 = time.time()
    compaction = compact_output(spark, out)
    compact_sec = time.time() - t1

    print(json.dumps({
        "n_docs": n_docs,
        "n_files": n_files + 1,
        "bundle_gib": round(bundle_bytes / (1 << 30), 3),
        "gen_sec": round(gen_sec, 1),
        "convert_sec": round(convert_sec, 1),
        "docs_per_sec": round((n_docs + 1) / convert_sec, 1),
        "exactly_once": True,
        "drop_rows": 1,
        "compaction": compaction,
        "compact_sec": round(compact_sec, 1),
        "cores": cores,
    }))
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
