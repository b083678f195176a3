"""Golden-slice conversion: pure-Python and through the Spark pipeline.

The BASELINE.json correctness invariant: per-document span-sequence equality
(kind, text, media_ref, order) against the golden fixtures, checked both
locally (convert_document) and distributed (mapInPandas) — catching Arrow
round-trip divergence (SURVEY.md §5.2 item 2).
"""

import pytest

from marky_spark.convert import convert, convert_document
from marky_spark.corpus import GOLDEN_CASES, golden_df, make_synth_doc

_CASES = [pytest.param(c, id=c["doc_id"]) for c in GOLDEN_CASES]


def _seq(out_spans):
    return [(s["kind"], s["text"], s["media_ref"]) for s in out_spans]


@pytest.mark.parametrize("case", _CASES)
def test_convert_document_golden(case):
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in case["spans"]
    ]
    row = convert_document(case["doc_id"], spans)
    if "expected_status" in case:
        assert row["status"] == case["expected_status"]
        assert row["out_spans"] == []
    else:
        assert row["status"] == "ok", row["error"]
        assert _seq(row["out_spans"]) == case["expected"]
        if "expected_markdown" in case:
            assert row["markdown"] == case["expected_markdown"]


def test_convert_document_out_of_order_spans_sorted():
    spans = [
        {"kind": "text", "text": "second", "media_ref": "", "offset": 1},
        {"kind": "text", "text": "first", "media_ref": "", "offset": 0},
    ]
    row = convert_document("d", spans)
    assert row["markdown"] == "first\n\nsecond"


def test_spark_golden_slice_matches_local(spark):
    """Distributed equivalence: Spark pipeline == pure-Python kernel."""
    out = convert(golden_df(spark)).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == len(GOLDEN_CASES)
    for case in GOLDEN_CASES:
        row = by_id[case["doc_id"]]
        if "expected_status" in case:
            assert row["status"] == case["expected_status"], case["doc_id"]
        else:
            assert row["status"] == "ok", (case["doc_id"], row["error"])
            got = [(s["kind"], s["text"], s["media_ref"]) for s in row["out_spans"]]
            assert got == case["expected"], case["doc_id"]


def test_poison_pill_isolation(spark):
    """A corrupt doc errors alone; siblings in the same partition convert."""
    from marky_spark.schema import INPUT_SCHEMA

    rows = [
        {"doc_id": "good", "spans": [
            {"kind": "csv", "text": "a,b\n1,2", "media_ref": "", "offset": 0}]},
        {"doc_id": "bad", "spans": [
            {"kind": "ipynb", "text": "\x00 garbage", "media_ref": "", "offset": 0}]},
    ]
    df = spark.createDataFrame(rows, schema=INPUT_SCHEMA).coalesce(1)
    out = {r["doc_id"]: r for r in convert(df).collect()}
    assert out["good"]["status"] == "ok"
    assert out["bad"]["status"] == "error"
    assert out["bad"]["error"]


def test_extreme_span_offsets_convert_like_local(spark):
    """Span offsets a full int32 range apart order in Python, where no
    subtraction can overflow: the doc converts to the row convert_document
    gives, and a null offset sorts as 0, instead of failing the job."""
    from marky_spark.schema import INPUT_SCHEMA

    docs = {
        "wide": [
            {"kind": "text", "text": "last", "media_ref": "", "offset": 1},
            {"kind": "text", "text": "first", "media_ref": "",
             "offset": -2**31},
            {"kind": "text", "text": "max", "media_ref": "",
             "offset": 2**31 - 1},
        ],
        "null": [
            {"kind": "text", "text": "b", "media_ref": "", "offset": 1},
            {"kind": "text", "text": "a", "media_ref": "", "offset": None},
        ],
    }
    df = spark.createDataFrame(list(docs.items()), schema=INPUT_SCHEMA)
    got = {r["doc_id"]: r.asDict(recursive=True)
           for r in convert(df).collect()}
    for doc_id, spans in docs.items():
        assert got[doc_id] == convert_document(doc_id, spans), doc_id
    assert got["wide"]["markdown"] == "first\n\nlast\n\nmax"


def test_synth_corpus_deterministic_and_convertible(spark):
    d1, d2 = make_synth_doc(7), make_synth_doc(7)
    assert d1 == d2
    from marky_spark.corpus import spark_corpus

    out = convert(spark_corpus(spark, 200, partitions=4))
    agg = out.groupBy("status").count().collect()
    counts = {r["status"]: r["count"] for r in agg}
    assert counts.get("ok", 0) == 200, counts


def test_drop_marker_spans_become_error_rows():
    """Ingest drop markers (_drop_* kinds) surface as error rows carrying
    the front door's reason — the metrics-sink accounting contract."""
    from marky_spark.convert import convert_document

    r = convert_document("f.warc.gz#drop", [
        {"kind": "_drop_warc", "text": "error: records exceed the cap",
         "media_ref": None, "offset": 0}])
    assert r["status"] == "error"
    assert r["conv_kind"] == "_drop_warc"
    assert r["error"] == "error: records exceed the cap"
    assert r["markdown"] == "" and r["out_spans"] == []


def test_recursion_limit_is_one_typed_error():
    """A document whose nesting exhausts the recursion limit is an error
    row with one stable text, not the RecursionError's own message."""
    from marky_spark.convert import convert_document

    deep = '{"nbformat": 4, "cells": ' + "[" * 2000 + "]" * 2000 + "}"
    r = convert_document("deep", [
        {"kind": "ipynb", "text": deep, "media_ref": "", "offset": 0}])
    assert (r["status"], r["conv_kind"]) == ("error", "ipynb")
    assert r["error"] == "nesting exceeds the recursion limit"
    assert r["markdown"] == "" and r["out_spans"] == []
