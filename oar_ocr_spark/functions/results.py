"""Result-level span filters and aggregations over results(doc_id,
spans) — pure Catalyst higher-order functions, no Python workers.

Parity targets (reference = GreatV/oar-ocr at /root/reference):
- recognized_text_regions / confident_text_regions / all_text
  iterator filters: src/oarocr/result.rs:53-75
- concatenated_text (join with separator): result.rs:65-75
- average_confidence (mean over recognized regions): result.rs:86-97
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "recognized_spans",
    "confident_spans",
    "concatenated_text",
    "average_confidence",
    "doc_text_stats",
]


def _recognized(spans: Column) -> Column:
    return F.filter(spans, lambda s: s["text"].isNotNull() & (F.length(s["text"]) > 0))


def recognized_spans(df: DataFrame) -> DataFrame:
    """Keep only spans with non-empty text (recognized_text_regions,
    result.rs:53-63)."""
    return df.withColumn("spans", _recognized(F.col("spans")))


def confident_spans(df: DataFrame, min_confidence: float) -> DataFrame:
    """Keep recognized spans whose confidence >= min_confidence
    (confident_text_regions, result.rs:55-63); pass-through text spans
    (null confidence) are kept — they carry source-given text."""
    return df.withColumn(
        "spans",
        F.filter(
            F.col("spans"),
            lambda s: s["text"].isNotNull()
            & (F.length(s["text"]) > 0)
            & (s["confidence"].isNull() | (s["confidence"] >= F.lit(min_confidence))),
        ),
    )


def concatenated_text(spans: Column, sep: str = " ") -> Column:
    """Join all recognized span texts (all_text / concatenated_text,
    result.rs:65-75)."""
    return F.array_join(F.transform(_recognized(spans), lambda s: s["text"]), sep)


def average_confidence(spans: Column) -> Column:
    """Mean recognition confidence over spans that carry one
    (average_confidence, result.rs:86-97); null when none do."""
    scored = F.filter(spans, lambda s: s["confidence"].isNotNull())
    total = F.aggregate(
        scored, F.lit(0.0), lambda acc, s: acc + s["confidence"].cast("double")
    )
    n = F.size(scored)
    return F.when(n > 0, total / n)


def doc_text_stats(results: DataFrame) -> DataFrame:
    """Per-document rollup: concatenated text, span counts, average
    confidence — one pruned scan, whole-stage codegen."""
    spans = F.col("spans")
    return results.select(
        "doc_id",
        concatenated_text(spans).alias("doc_text"),
        F.size(spans).cast("int").alias("n_spans"),
        F.size(_recognized(spans)).cast("int").alias("n_recognized"),
        F.round(average_confidence(spans), 4).alias("avg_confidence"),
    )
