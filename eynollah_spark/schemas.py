"""Frozen schemas (SURVEY.md §1: the reference hard-codes its shapes at
eynollah.py:94-99,2052-2060; we make them explicit StructTypes)."""

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

GEOM_STRUCT = T.StructType([
    T.StructField("x0", T.IntegerType()),
    T.StructField("x1", T.IntegerType()),
    T.StructField("y0", T.IntegerType()),
    T.StructField("y1", T.IntegerType()),
])

META_STRUCT = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("dpi", T.IntegerType()),
    T.StructField("num_col_hint", T.IntegerType()),
    T.StructField("rtl", T.BooleanType()),
])

# input table (BASELINE.json input_hint + FIXTURES.md geometry sidecar)
DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    T.StructField("geom", T.ArrayType(GEOM_STRUCT)),
    T.StructField("meta", META_STRUCT),
])

# nested output (FIXTURES.md §2)
OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("out_spans", T.ArrayType(SPAN_STRUCT)),
])

# flat output (scale-friendly sink shape; `ord` is the reading order)
FLAT_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("ord", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

# flat output without the payload (doc_id, ord, kind, offset): the
# permutation alone, for plans that join text / media_ref back JVM-side
NARROW_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("ord", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("offset", T.IntegerType()),
])

# extract_reading_order self-check: per document, spans whose extracted
# (ord, kind) disagrees with the generator's by-construction order
CHECK_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("n_bad", T.LongType()),
])

# flat exploded input (internal stage shape between flatten and the kernel)
FLAT_IN_FIELDS = [
    "doc_id", "width", "height", "rtl",
    "kind", "text", "media_ref", "offset", "x0", "x1", "y0", "y1",
]
