"""Production driver script (reference CLI parity: cmd/marky/main.go:15-51,
re-shaped for a cluster: one job over a table, not one process per file).

    spark-submit --py-files marky_spark.zip scripts/convert_job.py \
        --input  /data/corpus_spans   (parquet dir or Iceberg table) \
        --output /data/out            (output root: out_spans/lineage/metrics) \
        --buckets 64 --waves 4 [--kinds html,pdf] [--local N]

Resumable: rerunning with the same --output skips committed buckets
(committed snapshots; see marky_spark/pipeline.py). Each run ends by
rewriting lineage/ and metrics/ from the committed output
(pipeline.job_stats), so they describe exactly what is committed. The
manifest.json pins the job configuration (--kinds, --buckets): resuming with
different values is an error, not a silent partial conversion.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# a --local run's Spark Python workers import marky_spark too: they inherit
# PYTHONPATH, not this process's sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])


def _is_local_path(p: str) -> bool:
    """Driver-local existence checks only make sense for scheme-less paths;
    hdfs:// / s3a:// / file: URIs are handed straight to Spark."""
    return "://" not in p and not p.startswith("file:")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="convert_job")
    ap.add_argument("--input", required=True,
                    help="span-table parquet dir (or Iceberg table name); "
                         "with --input-format warc/archive/binary: a "
                         "directory of raw crawl/bundle/document/mailbox files")
    ap.add_argument("--input-format", default="spans",
                    choices=("spans", "warc", "archive", "binary",
                             "mbox"),
                    help="spans (default): parquet/Iceberg span table; "
                         "warc: dir of .warc/.warc.gz crawl files "
                         "(streamed record-at-a-time); archive: dir of "
                         "zip/tar[.gz|.bz2|.xz] bundles (streamed "
                         "member-at-a-time); binary: dir of loose docs")
    ap.add_argument("--glob", default=None,
                    help="pathGlobFilter for the file-based input formats")
    ap.add_argument("--output", required=True, help="output root dir")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--waves", type=int, default=4)
    ap.add_argument("--kinds", default=None,
                    help="comma list: restrict to these span kinds")
    ap.add_argument("--local", type=int, default=None,
                    help="run on local[N] (default: session from spark-submit)")
    ap.add_argument("--compact", action="store_true",
                    help="after the run, compact committed waves to "
                         "~512MB files (Iceberg rewrite_data_files twin)")
    args = ap.parse_args(argv)

    kinds = ([k.strip() for k in args.kinds.split(",") if k.strip()]
             if args.kinds else None)
    kinds = kinds or None  # '--kinds " , "' means no restriction, not 'none'

    # cheap local checks BEFORE the JVM launch
    is_table = args.input_format == "spans" and _is_local_path(args.input) \
        and "/" not in args.input and not os.path.exists(args.input)
    if _is_local_path(args.input) and not is_table \
            and not os.path.exists(args.input):
        print(f"error: input {args.input!r} does not exist", file=sys.stderr)
        return 1  # existence check parity: cmd/marky/main.go:23-25

    # resume-config pin: changing --kinds/--buckets against an existing
    # manifest would silently skip unconverted docs (committed bucket ids
    # only mean "done" under the SAME filter and bucket mapping)
    job_config = {"kinds": kinds, "n_buckets": args.buckets}
    manifest_path = os.path.join(args.output, "manifest.json")
    if _is_local_path(args.output) and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        prior = manifest.get("job_config")
        if prior is not None and prior != job_config:
            print(f"error: resume config mismatch: manifest has {prior!r}, "
                  f"this run asks {job_config!r}; use a fresh --output",
                  file=sys.stderr)
            return 1

    from marky_spark.pipeline import SnapshotStore, job_stats, run_convert_job
    from marky_spark.session import get_spark

    spark = get_spark(app="marky-convert",
                      master=f"local[{args.local}]" if args.local else None)
    spark.sparkContext.setLogLevel("WARN")

    try:
        if args.input_format != "spans":
            from pyspark.storagelevel import StorageLevel

            from marky_spark.ingest import LOADERS

            loader = LOADERS[args.input_format]
            df = (loader(spark, args.input, glob=args.glob) if args.glob
                  else loader(spark, args.input))
            # stage the ingest once: the wave loop's bucket filter cannot
            # prune a file scan, so without this every wave re-parses
            # every archive/WARC (waves x ingest cost). The cluster-scale
            # twin is a staging-table write before the wave loop.
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
        elif is_table:
            df = spark.read.table(args.input)
        else:
            df = spark.read.parquet(args.input)

        if kinds:
            from pyspark.sql import functions as F

            df = df.where(F.arrays_overlap("spans.kind", F.lit(kinds)))

        store = SnapshotStore(args.output)
        manifest = store.read()
        if manifest.get("job_config") is None:
            manifest["job_config"] = job_config
            store.write(manifest)

        t0 = time.time()
        results = run_convert_job(spark, df, args.output,
                                  n_buckets=args.buckets, waves=args.waves)
        n_docs = sum(r.n_docs for r in results)
        n_err = sum(r.n_errors for r in results)
        compaction = None
        if args.compact:
            from marky_spark.pipeline import compact_output

            compaction = compact_output(spark, args.output)
        for name, stats in zip(("lineage", "metrics"),
                               job_stats(spark, args.output)):
            stats.write.mode("overwrite").parquet(
                os.path.join(args.output, name))
        dt = time.time() - t0
        print(json.dumps({
            **({"compaction": compaction} if compaction is not None else {}),
            "docs": n_docs, "errors": n_err, "seconds": round(dt, 2),
            "docs_per_sec": round(n_docs / dt, 1) if dt > 0 else None,
            "waves": len(results), "output": args.output,
            "resumed": len(results) == 0,
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
