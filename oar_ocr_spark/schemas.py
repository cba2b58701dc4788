"""Explicit StructType constants (the engine's fixed schema system —
reference has compile-time structs, SURVEY.md §1.3)."""

from __future__ import annotations

from pyspark.sql import types as T

# input: BASELINE.json input_hint shape
IN_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(IN_SPAN)),
    ]
)

# output span: order replaces offset (FIXTURES.md §3); confidence is
# the recognition score for media-derived spans, null for pass-through
# text (TextRegion.confidence, domain/text_region.rs:10-41 — feeds the
# confident/recognized result filters, src/oarocr/result.rs:53-97)
OUT_SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("confidence", T.FloatType()),
    ]
)
RESULTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        # never null: a document with no output spans gets []
        T.StructField("spans", T.ArrayType(OUT_SPAN), False),
    ]
)

# intermediate: one row per crop emitted by the detect stage
CROPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("det_idx", T.IntegerType(), False),
        # zlib-compressed raw grayscale pixels (crops stay compressed
        # across the shuffle + Arrow boundary — the JPEG-crop principle)
        T.StructField("crop", T.BinaryType(), False),
        T.StructField("crop_h", T.IntegerType(), False),
        T.StructField("crop_w", T.IntegerType(), False),
        T.StructField("wh_ratio", T.FloatType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        # detection box in upright-page coordinates (word-box geometry)
        T.StructField("x1", T.FloatType(), False),
        T.StructField("y1", T.FloatType(), False),
        T.StructField("x2", T.FloatType(), False),
        T.StructField("y2", T.FloatType(), False),
    ]
)

# recognition output incl. per-character word boxes (return_word_box
# mode — src/oarocr/ocr.rs:928-1020)
REC_WORDBOX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("det_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType()),
        T.StructField("confidence", T.FloatType()),
        T.StructField(
            "word_boxes", T.ArrayType(T.ArrayType(T.FloatType()))
        ),
    ]
)

# intermediate: recognition output per crop
REC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("det_idx", T.IntegerType(), False),
        T.StructField("text", T.StringType()),
        T.StructField("confidence", T.FloatType()),
    ]
)
