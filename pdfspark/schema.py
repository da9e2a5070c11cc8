"""Canonical StructType schemas (SURVEY.md §1.3).

The dynamic dicts of the reference collapse to fixed schemas; table
rows keep dynamic column keys only in their map form.
"""

from pyspark.sql import types as T

# One span of an interleaved document (BASELINE.json input_hint).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_IN = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
    ]
)

# Exploded layout table with geometry (FIXTURES.md `spans_geom`).
SPANS_GEOM = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("page_id", T.IntegerType()),
        T.StructField("page_number", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

# Output of the extraction fold: classified spans in document order.
# INTENTIONALLY the same shape as the input span (the fold relabels
# kinds and renumbers offsets but adds no fields) — aliased, not
# duplicated, so a span-shape change cannot update only one of them.
EXTRACTED_SPAN = SPAN

EXTRACTED = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(EXTRACTED_SPAN)),
    ]
)

# Shape of Document.to_dict() (ref src/document.py:115-127), flattened.
SECTIONS_OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("section_id", T.IntegerType()),
        T.StructField("heading", T.StringType()),
        T.StructField("paragraphs", T.ArrayType(T.StringType())),
        T.StructField("figures", T.ArrayType(T.StringType())),
        T.StructField("tables", T.ArrayType(T.StringType())),
    ]
)

# Shape of Table.to_dict() (ref src/document.py:59-69); cells ordered
# left-to-right so the row is an array (the reference's `Column {i}`
# map keys are positional anyway, ref src/table_extractor.py:62).
TABLES_OUT = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("table_id", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
    ]
)

# Per-partition lineage row (BASELINE.json north_rule); a partition
# that folded no document has no row, so doc_count is never NULL.
LINEAGE = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType(), nullable=False),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("spans_out", T.LongType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)
