"""Spark structure-analysis DAG (the PP-StructureV3 track).

    documents → explode media spans → [structure_iter Python stage]
      → (doc_id, offset, media_ref, elements:array<struct>, markdown)

Unlike the OCR track, structure analysis is page-local end-to-end
(the reference's complete_page, structure.rs:2568-2805, also runs per
page after batched model phases), so the whole per-page graph — layout
detect → postprocess → overall OCR → matching → text join → enhanced
reading order → markdown — runs fused in one Python boundary; only
small result rows cross back. Heavy-document skew is handled upstream
by the spread on (doc_id, offset) row granularity: one task never
owns more than its hash share of *pages* regardless of per-doc fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .local_ref import ExtractConfig
from .partitioning import python_stage

__all__ = ["STRUCTURE_SCHEMA", "extract_structure", "document_markdown"]

ELEMENT_STRUCT = T.StructType(
    [
        T.StructField("element_type", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("html", T.StringType()),
        T.StructField("score", T.FloatType()),
        T.StructField("order_index", T.IntegerType()),
        T.StructField("num_lines", T.IntegerType()),
        T.StructField("x1", T.FloatType()),
        T.StructField("y1", T.FloatType()),
        T.StructField("x2", T.FloatType()),
        T.StructField("y2", T.FloatType()),
    ]
)

STRUCTURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("elements", T.ArrayType(ELEMENT_STRUCT)),
        T.StructField("markdown", T.StringType()),
        T.StructField("html", T.StringType()),
        # PageContinuationFlags (domain/structure.rs:331-349)
        T.StructField("para_start", T.BooleanType()),
        T.StructField("para_end", T.BooleanType()),
    ]
)

# is_chinese_char ranges (domain/structure.rs:1403-1415): Unified
# Ideographs + Extensions A-F — must match structure._CJK_RANGES
_CJK = (
    "[\\x{4e00}-\\x{9fff}\\x{3400}-\\x{4dbf}\\x{20000}-\\x{2a6df}"
    "\\x{2a700}-\\x{2b73f}\\x{2b740}-\\x{2b81f}\\x{2b820}-\\x{2ceaf}"
    "\\x{2ceb0}-\\x{2ebef}]"
)


def document_markdown(structure_df: DataFrame) -> DataFrame:
    """Per-document markdown honoring PageContinuationFlags — the
    multi-page concat of concatenate_markdown_pages
    (domain/structure.rs:1223-1283) as a pure-Catalyst fold: pages are
    sorted by offset and folded with an (accumulated_markdown,
    prev_page_end) accumulator. A page whose first paragraph continues
    the previous page's unfinished one joins with a single space
    (direct concat when either boundary char is CJK); empty pages only
    forward their end flag; otherwise pages join with a blank line.
    No window state, one shuffle for the groupBy."""
    pages = F.array_sort(
        F.collect_list(F.struct("offset", "markdown", "para_start", "para_end"))
    )

    # Spark's trim/ltrim strip SPACES only; the Python twin (and the
    # reference's trim_start/trim) strip all whitespace — use regexes
    # so the two implementations stay value-identical at newline
    # boundaries (cross-checked in test_document_markdown_catalyst...)
    def _lstrip(c):
        return F.regexp_replace(c, r"^\s+", "")

    def _strip(c):
        return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+$", "")

    def merge(acc, p):
        page_md = F.coalesce(p["markdown"], F.lit(""))
        empty = _strip(page_md) == ""
        last_char = F.substring(acc["md"], -1, 1)
        first_char = F.substring(page_md, 1, 1)
        cjk_boundary = last_char.rlike(_CJK) | first_char.rlike(_CJK)
        continues = (~p["para_start"]) & (~acc["prev_end"])
        joined = (
            F.when(empty, acc["md"])
            .when(
                continues & ~cjk_boundary,
                F.concat(acc["md"], F.lit(" "), _lstrip(page_md)),
            )
            .when(continues, F.concat(acc["md"], _lstrip(page_md)))
            .when(acc["md"] == "", page_md)
            .otherwise(F.concat(acc["md"], F.lit("\n\n"), page_md))
        )
        return F.struct(
            joined.alias("md"),
            F.coalesce(p["para_end"], F.lit(True)).alias("prev_end"),
        )

    folded = F.aggregate(
        pages,
        F.struct(F.lit("").alias("md"), F.lit(True).alias("prev_end")),
        merge,
        lambda acc: _strip(acc["md"]),
    )
    return structure_df.groupBy("doc_id").agg(folded.alias("markdown"))


def extract_structure(
    spark: SparkSession,
    docs: DataFrame,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → one structure row per media span."""
    from .structure import structure_page_record

    cfg = cfg or ExtractConfig()
    P = num_partitions or spark.sparkContext.defaultParallelism
    media = (
        docs.select("doc_id", F.explode_outer("spans").alias("s"))
        .where((F.col("s.kind") == "media") & F.col("s.media_ref").isNotNull())
        .select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.col("s.media_ref").alias("media_ref"),
        )
    )

    def structure_row(doc_id: str, offset: int, media_ref: str) -> list[tuple]:
        els, markdown, html, p_start, p_end = structure_page_record(media_ref, cfg)
        elements = [
            (
                e.element_type,
                e.text,
                e.html,
                float(e.score),
                int(e.order_index),
                int(e.num_lines),
                float(e.bbox[0]),
                float(e.bbox[1]),
                float(e.bbox[2]),
                float(e.bbox[3]),
            )
            for e in els
        ]
        return [(doc_id, int(offset), media_ref, elements, markdown, html, p_start, p_end)]

    return python_stage(
        media,
        structure_row,
        STRUCTURE_SCHEMA,
        "structure_iter",
        parallelism=P,
        by=("doc_id", "offset"),
    )
