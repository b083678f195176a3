"""Engine schemas.

Input table shape is fixed by BASELINE.json ``input_hint``:
``(doc_id:string, spans:array<struct<kind,text,media_ref,offset:int>>)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SPAN = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN)),
    ]
)

# Conversion output: ordered out-span sequence + concatenated markdown +
# poison-pill status columns (never throw from the kernel — SURVEY.md §1.3).
OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("conv_kind", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
        StructField("n_in_spans", IntegerType()),
        StructField("n_out_spans", IntegerType()),
        StructField("md_chars", LongType()),
        StructField("out_spans", ArrayType(SPAN)),
        StructField("markdown", StringType()),
    ]
)

STATUS_OK = "ok"
STATUS_ERROR = "error"
STATUS_UNSUPPORTED = "unsupported"

#: the error text of a document or media blob whose conversion exhausted
#: Python's recursion limit (a RecursionError anywhere in its kernel)
ERROR_TOO_DEEP = "nesting exceeds the recursion limit"
