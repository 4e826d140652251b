"""Table schemas for the extraction engine.

The reference has no type system — datablocks are raw bytes
(`/root/reference/inc/ocr-db.h:25-41`); all interpretation is by
user-code casting. Here every table is explicitly typed; the one
"untyped bytes" survivor is the ``html: binary`` payload column and the
byte-exact ``extracted_text: binary`` output (the north rule's
byte-identical invariant is over these bytes, not decoded strings).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input table (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# Flattened DOM block (intermediate; exposed for tests/debugging).
BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_idx", T.IntegerType(), False),
        T.StructField("tag_path", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), False),
        T.StructField("n_words", T.IntegerType(), False),
        T.StructField("n_link_chars", T.IntegerType(), False),
        T.StructField("link_density", T.DoubleType(), False),
        T.StructField("kept", T.BooleanType(), False),
    ]
)

# Pipeline output.
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.BinaryType(), True),
        T.StructField("n_blocks_kept", T.IntegerType(), True),
        T.StructField("branch", T.StringType(), False),  # html | pdf | text | empty
        T.StructField("error", T.StringType(), True),    # row-level error, never task failure
    ]
)

EXTRACTED_DDL = (
    "url string, extracted_text binary, n_blocks_kept int, branch string, error string"
)
