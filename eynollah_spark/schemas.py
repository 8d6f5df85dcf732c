"""Frozen schemas (SURVEY.md §1: the reference hard-codes its shapes at
eynollah.py:94-99,2052-2060; we make them explicit StructTypes)."""

from pyspark.sql import types as T

# output (FIXTURES.md §2): one row per output span; `ord` is the
# reading order
FLAT_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("ord", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

# extract_flat_input's output: FLAT_OUT_SCHEMA plus the span's input
# geometry and page size, and its document's applied deskew angle in
# degrees (the same on every row of the document)
FLAT_GEOM_OUT_SCHEMA = T.StructType(FLAT_OUT_SCHEMA.fields + [
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    *(T.StructField(c, T.DoubleType()) for c in ("x0", "x1", "y0", "y1")),
    T.StructField("angle_deg", T.DoubleType()),
])

# flat span input (extract_flat_input's columns; flatten's output shape)
FLAT_IN_FIELDS = [
    "doc_id", "width", "height", "rtl",
    "kind", "text", "media_ref", "offset", "x0", "x1", "y0", "y1",
]
