"""Shared Spark schemas.

The input shape is fixed by BASELINE.json ``input_hint``:
``documents(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``.

The output shape mirrors the reference's DOM as a flat ordered span table
(reference builds a W3C DOM, ``PDFDomTree.java:222-297``; DOM order is
appendChild order, i.e. content-stream order — we materialize it as the
``order`` column).

Floats are float32 throughout to match the reference's ``float`` geometry
(``PDFBoxTree.java:118-129``, ``TextMetrics.java:12``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Input: interleaved text + media documents
# ---------------------------------------------------------------------------

IN_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),       # 'text' | 'image' | 'rect'
        T.StructField("text", T.StringType(), True),        # content-stream fragment / image meta
        T.StructField("media_ref", T.StringType(), True),   # stable payload ref for kind='image'
        T.StructField("offset", T.IntegerType(), False),    # input order within the document
    ]
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(IN_SPAN_STRUCT), False),
    ]
)

# ---------------------------------------------------------------------------
# Output: ordered span sequence (the checked invariant is
# (kind, text, media_ref, order) per doc_id)
# ---------------------------------------------------------------------------

STYLE_STRUCT = T.StructType(
    [
        # identity fields of BoxStyle.equals (BoxStyle.java:366-405)
        T.StructField("font_family", T.StringType(), True),
        T.StructField("font_size", T.FloatType(), True),
        T.StructField("font_weight", T.StringType(), True),
        T.StructField("font_style", T.StringType(), True),
        T.StructField("word_spacing", T.FloatType(), True),
        T.StructField("letter_spacing", T.FloatType(), True),
        T.StructField("color", T.StringType(), True),
        T.StructField("stroke_color", T.StringType(), True),
        # non-identity presentation fields
        T.StructField("line_height", T.FloatType(), True),
        T.StructField("left", T.FloatType(), True),
        T.StructField("top", T.FloatType(), True),
        T.StructField("width", T.FloatType(), True),
        T.StructField("height", T.FloatType(), True),
        # line/rect presentation extras (HtmlDivLine.java:69-83,
        # PDFDomTree.java:337-397)
        T.StructField("angle", T.FloatType(), True),
        T.StructField("stroke_width", T.FloatType(), True),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # page|text|rect|line|image|font
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("style", STYLE_STRUCT, True),
        T.StructField("page_no", T.IntegerType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

# Flat (struct-free) variant used by the kernel and by SQL-oracle queries.
SPAN_FLAT_SCHEMA = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in SPAN_SCHEMA.fields if f.name != "style"]
    + [T.StructField(f"style_{f.name}", f.dataType, True) for f in STYLE_STRUCT.fields]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("doc_count", T.LongType(), False),
        T.StructField("span_count", T.LongType(), False),
        T.StructField("checksum", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

STYLE_FIELDS = [f.name for f in STYLE_STRUCT.fields]
