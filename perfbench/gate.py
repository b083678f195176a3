"""Correctness gate of the benchmark.

Checked on every run, outside the timed window unless noted:

- the golden slice (``corpus.golden_df``) through Spark ``convert``: one
  row per case, span-sequence equality ``(kind, text, media_ref,
  order)``, and the pinned markdown where a case has one;
- the frozen ``BINARY_GOLDEN`` md5s of the 2000-doc slice, once per
  process, through driver-side ``convert_document``;
- per measured job (the aggregate rides the job's own action): exactly
  one row per input doc, by row count and by an order-independent sum of
  doc-id hashes against the generated inputs, and no unexpected status;
- a seeded sample of output rows against driver-side
  ``convert_document``, byte for byte.

The job aggregate also yields an order-independent digest of the output
rows (drop rows excluded, their ids carry file paths), printed so two
commits' outputs can be compared.
"""
from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from marky_spark.schema import OUTPUT_SCHEMA

COLUMNS = [f.name for f in OUTPUT_SCHEMA.fields]
DROP_KIND = "_drop_warc"


def _hash_sum(*cols: Column | str, where: Column | None = None) -> Column:
    h = F.xxhash64(*cols)
    if where is not None:
        h = F.when(where, h)  # xxhash64 of null is the seed, not null
    return F.sum(h.cast("decimal(38,0)"))


def is_drop(col: str = "doc_id") -> Column:
    return F.col(col).endswith("#drop")


@dataclass
class Expected:
    """What a job's output must hold, derived from the generated inputs."""

    ok_docs: int
    ok_id_sum: int
    drop_docs: int = 0


def expected_ids(ids: DataFrame) -> Expected:
    """``ids`` has one ``doc_id`` column of the ok documents the inputs
    hold; summarised JVM-side (no driver collect of the ids)."""
    row = ids.agg(F.count(F.lit(1)).alias("n"),
                  _hash_sum("doc_id").alias("s")).collect()[0]
    return Expected(row["n"], int(row["s"] or 0))


def summary_aggs(sample_ids: list[str]) -> list[Column]:
    """One aggregation over a job's output: consumed as the job's sink."""
    drop = is_drop()
    bad = F.when(drop, (F.col("status") != "error")
                 | (F.col("conv_kind") != DROP_KIND)
                 ).otherwise(F.col("status") != "ok")
    return [
        F.sum((~drop).cast("long")).alias("rows"),
        F.sum(drop.cast("long")).alias("drops"),
        _hash_sum("doc_id", where=~drop).alias("id_sum"),
        F.sum(bad.cast("long")).alias("bad_status"),
        F.sum((F.col("status") == "ok").cast("long")).alias("ok"),
        _hash_sum(*COLUMNS, where=~drop).alias("digest"),
        F.collect_list(F.when(F.col("doc_id").isin(sample_ids),
                              F.struct(*COLUMNS))).alias("sample"),
    ]


def summarize(out: DataFrame, sample_ids: list[str]) -> dict:
    row = out.agg(*summary_aggs(sample_ids)).collect()[0]
    d = row.asDict(recursive=True)
    for k in ("rows", "drops", "bad_status", "ok"):
        d[k] = int(d[k] or 0)
    d["id_sum"] = int(d["id_sum"] or 0)
    d["digest"] = format(int(d["digest"] or 0) % (1 << 64), "016x")
    return d


def failed_docs(summary: dict, exp: Expected) -> int:
    """Input docs whose row is missing, duplicated or has an unexpected
    status. Count and hash-sum agreement proves exactly-once; when they
    disagree the count difference is a lower bound, and at least one doc
    is failed."""
    failed = summary["bad_status"]
    if summary["rows"] != exp.ok_docs or summary["id_sum"] != exp.ok_id_sum:
        failed += max(1, abs(summary["rows"] - exp.ok_docs))
    failed += abs(summary["drops"] - exp.drop_docs)
    return failed


def sample_mismatches(summary: dict, expected_rows: dict[str, dict]) -> list:
    """Doc ids of sampled output rows that differ from driver-side
    ``convert_document`` (or are missing from the output)."""
    got = {r["doc_id"]: r for r in summary["sample"]}
    return [doc_id for doc_id, want in expected_rows.items()
            if got.get(doc_id) != want]


def golden_slice_errors(spark) -> list[str]:
    """Span-sequence equality on the golden slice through Spark."""
    from marky_spark.convert import convert
    from marky_spark.corpus import GOLDEN_CASES, golden_df

    rows = convert(golden_df(spark)).collect()
    by_id: dict[str, list] = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r)
    errors = []
    for case in GOLDEN_CASES:
        got = by_id.get(case["doc_id"], [])
        if len(got) != 1:
            errors.append(f"{case['doc_id']}: {len(got)} rows")
            continue
        row = got[0]
        if "expected_status" in case:
            if row["status"] != case["expected_status"]:
                errors.append(f"{case['doc_id']}: status {row['status']}")
            continue
        spans = row["out_spans"] or []
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
        order = [s["offset"] for s in spans]
        if (row["status"] != "ok" or seq != case["expected"]
                or order != list(range(len(spans)))):
            errors.append(f"{case['doc_id']}: span sequence differs")
        elif row["markdown"] != case.get("expected_markdown", row["markdown"]):
            errors.append(f"{case['doc_id']}: markdown differs")
    if len(rows) != len(GOLDEN_CASES):
        errors.append(f"golden slice: {len(rows)} rows for "
                      f"{len(GOLDEN_CASES)} cases")
    return errors


def binary_golden_errors() -> list[str]:
    """The frozen md5s of the binary kinds over the 2000-doc slice."""
    from marky_spark.convert import convert_document
    from marky_spark.corpus import make_synth_doc
    from marky_spark.frozen_golden import BINARY_GOLDEN

    errors = []
    for kind, entries in BINARY_GOLDEN.items():
        for doc_id, md5, n_chars in entries:
            doc = make_synth_doc(int(doc_id.split("-", 1)[1]))
            row = convert_document(doc["doc_id"], doc["spans"])
            got = hashlib.md5(row["markdown"].encode()).hexdigest()
            if (row["conv_kind"], got, row["md_chars"]) != (kind, md5, n_chars):
                errors.append(f"{doc_id}: {kind} golden md5 differs")
    return errors
