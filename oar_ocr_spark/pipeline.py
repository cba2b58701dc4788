"""The Spark extraction DAG (SURVEY.md §7 target DAG).

    documents(doc_id, spans) → explode_outer(spans)
      ├─ text spans: filter(kind='text')            -- pure Catalyst, no UDF
      └─ media spans: filter(kind='media')
           → spread(P, media_ref)                   -- the DAG's one xxhash64
                                                       exchange, per page
           → [detect stage: detect_iter]            -- render→orient→mask→
             (doc_id, offset, media_ref,               resize→DB→sort→crop,
              det_idx, crop, wh_ratio, bucket)         one Python boundary
           → repartition(P, doc_id, offset, det_idx)-- spreads heavy docs
           → [recognize stage: rec_iter]            -- recognize_crops: centre
             (doc_id, offset, det_idx, text, conf)     row per bucket → top-1
                                                       → CTC collapse
      → union → groupBy(doc_id).agg(array_sort(collect_list(struct(
             offset, sub, kind, text, media_ref, confidence))))
      → transform with index
    distinct(doc_id) ⟕ assembled spans             -- shuffled hash join,
      → coalesce(spans, []) → results(doc_id, spans)  doc-id side built

Design notes (scale rationale):
- The reference's per-stage graph (preprocess → detect → crop) is fused
  into ONE per-row Python stage (partitioning.python_stage): pages never
  cross the JVM↔Python boundary more than once, and only small crops
  enter the shuffle (the reference's zero-copy Arc<RgbImage> sharing,
  ocr.rs:565, has the same goal).
- Data moves in front of the costly UDF, not in front of the document:
  the only spread sits directly under detect_iter and hashes pages by
  media_ref, so a heavy document's pages split across detect tasks and
  an input that arrives as one partition (a single-file scan, or a
  groupBy output AQE coalesced) still detects in P tasks.
- The crop repartition is the distributed analog of the reference's
  *global crop pooling* (ocr.rs:594-634): a heavy many-region document
  fans its crops across all partitions (hash on (doc_id, offset,
  det_idx) = built-in key salting), so recognition load is balanced
  regardless of document skew; AQE handles residual imbalance.
- Recognition width uses the *per-crop* bucket, not the Arrow batch
  max (aspect_ratio_bucketing.rs approach), so decoded text is
  independent of batch composition → span output is identical at any
  parallelism (north_rule partition invariance). The reference's
  wh_ratio-sorted batching (ocr.rs:802-831) only saves padding for a
  model that pads to the batch max, so there is no sort.
- Final assembly is pure Catalyst (array_sort + transform): no window
  state. It shuffles twice by doc_id, once for the groupBy and once for
  the doc-id side's distinct; the preservation join reads both
  partitionings as they are, so it adds no exchange and no broadcast
  job.
- Catalyst steps are SQL strings (selectExpr, where, F.expr), one py4j
  round trip each instead of one per Column: run_extraction_job and
  extract_stream build this plan once per batch. Names are backquoted
  (`offset` and `order` are SQL keywords).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .local_ref import ExtractConfig, bucket_ratio, preprocess_page, recognize_crops
from .operators.ctc import ctc_word_boxes
from .partitioning import python_stage
from .schemas import CROPS_SCHEMA, REC_SCHEMA, REC_WORDBOX_SCHEMA, RESULTS_SCHEMA

__all__ = ["extract_spans", "detect_crops_from_flat", "recognize_df", "assemble_results"]


# --------------------------------------------------------------------------
# stage bodies (plain python over numpy, called from the Python stages)
# --------------------------------------------------------------------------

def _detect_one_page(
    cfg: ExtractConfig,
    doc_id: str,
    offset: int,
    media_ref: str,
    payload: bytes | None = None,
) -> list[tuple]:
    """Decode/render + preprocess + detect + reading-order sort + crop
    for one media span. Returns CROPS_SCHEMA tuples with det_idx =
    reading rank. Detection/crop flavor (AABB slice vs min-area-rect
    perspective crop) follows cfg.text_type via
    local_ref.detect_and_crop — the same function the golden generator
    calls. With a binary payload (media_store mode) the page decodes
    from real bytes: functions/multimodal._decode_payload dispatches on
    magic bytes to the PNG, JPEG, GIF, TIFF, BMP, JP2 and JBIG2 codecs.
    Results equal the render path only when those bytes hold the page
    losslessly (PNG, and the grey GIF/TIFF/BMP of legacy_store_df,
    pinned by test_pipeline_golden); JPEG pages and thresholded fax
    pages decode to different pixels."""
    from .local_ref import detect_and_crop

    import zlib

    if payload is not None:
        from .functions.multimodal import _decode_payload

        img = _decode_payload(media_ref, "image", payload)
    else:
        from .fixtures.render import render_page

        img = render_page(media_ref)
    upright, _cls = preprocess_page(img, cfg)
    rows: list[tuple] = []
    for rank, (crop, box) in enumerate(detect_and_crop(upright, cfg)):
        ch, cw = crop.shape
        ratio = float(cw / max(ch, 1))
        rows.append(
            (
                doc_id,
                int(offset),
                media_ref,
                rank,
                # crops stay compressed across the shuffle + Arrow
                # boundary (the JPEG-crop principle): raw pixel payloads
                # made the JVM→python Arrow feed the pipeline bottleneck
                zlib.compress(np.ascontiguousarray(crop).tobytes(), 1),
                ch,
                cw,
                np.float32(ratio),
                bucket_ratio(ratio),
                np.float32(box[0]),
                np.float32(box[1]),
                np.float32(box[2]),
                np.float32(box[3]),
            )
        )
    return rows


def _decode_crops(pdf: pd.DataFrame, cfg: ExtractConfig) -> list[tuple]:
    """Decompress one Arrow batch of crops and recognize them:
    per-crop (text, conf, cols, T) in row order (local_ref.recognize_crops,
    the golden generator's recognizer)."""
    import zlib

    shapes = zip(pdf["crop"].to_numpy(), pdf["crop_h"].to_numpy(), pdf["crop_w"].to_numpy())
    crops = [np.frombuffer(zlib.decompress(b), dtype=np.uint8).reshape(h, w) for b, h, w in shapes]
    return recognize_crops(crops, cfg)


def _rec_frame(pdf: pd.DataFrame, decoded: list[tuple]) -> pd.DataFrame:
    """REC_SCHEMA frame of one crop batch and its _decode_crops output."""
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].to_numpy(),
            "offset": pdf["offset"].to_numpy(),
            "media_ref": pdf["media_ref"].to_numpy(),
            "det_idx": pdf["det_idx"].to_numpy(),
            "text": [d[0] for d in decoded],
            "confidence": np.array([d[1] for d in decoded], dtype=np.float32),
        }
    )


# --------------------------------------------------------------------------
# DataFrame stages
# --------------------------------------------------------------------------

def recognize_with_word_boxes(crops: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Recognition with per-character word boxes (return_word_box mode,
    src/oarocr/ocr.rs:928-1020): decode as usual, then map CTC column
    indices back to x-extents inside the detection box. max_wh_ratio is
    the crop's deterministic bucket (partition-invariant), so
    effective_col_num = T · wh_ratio / bucket exactly reproduces the
    reference's padding-undo math."""

    def wordbox_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = _decode_crops(pdf, cfg)
            boxes = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float32)
            # ctc_word_boxes gives a blanked (empty) text no boxes
            word_boxes = [
                [
                    [float(v) for v in box]
                    for box in ctc_word_boxes(line_bbox, text, cols, T, float(wh), float(b))
                ]
                for (text, _conf, cols, T), line_bbox, wh, b in zip(
                    decoded, boxes, pdf["wh_ratio"], pdf["bucket"]
                )
            ]
            out = _rec_frame(pdf, decoded)
            out["word_boxes"] = word_boxes
            yield out

    return crops.mapInPandas(wordbox_iter, schema=REC_WORDBOX_SCHEMA)


def detect_crops_from_flat(
    spans_flat: DataFrame,
    cfg: ExtractConfig,
    media_store: DataFrame | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, s:struct) exploded spans → crops DataFrame.

    A media span without a ref cannot be resolved; dropping it here
    (instead of crashing the UDF) keeps one malformed row from failing
    a whole partition at corpus scale.

    media_store (media_ref, payload:binary) switches the page source
    from the synthetic renderer to real encoded bytes: media spans
    equi-join their payload on media_ref (the natural shape for an
    Iceberg media side table — hash join, AQE-sized) and the detect UDF
    decodes each payload by its magic bytes (see _detect_one_page for
    the formats, and for when the output equals the render path).
    Spans whose ref is missing from the
    store are dropped (left join + null guard), mirroring the
    malformed-row policy above.

    The pages are spread to num_partitions (default: the session's
    defaultParallelism) by media_ref right before the detect UDF, on
    both paths: neither the input's partitioning nor the payload join's
    AQE-sized output (sized by BYTES, not by the decode+detect compute
    behind each row) decides how many tasks detect."""
    media = spans_flat.where(
        "`s`.`kind` = 'media' AND `s`.`media_ref` IS NOT NULL"
    ).selectExpr("`doc_id`", "`s`.`offset` AS `offset`", "`s`.`media_ref` AS `media_ref`")
    if media_store is not None:
        media = (
            media.join(media_store.selectExpr("`media_ref`", "`payload`"), "media_ref", "left")
            .where("`payload` IS NOT NULL")
            .selectExpr("`doc_id`", "`offset`", "`media_ref`", "`payload`")
        )
    return python_stage(
        media,
        partial(_detect_one_page, cfg),
        CROPS_SCHEMA,
        "detect_iter",
        parallelism=num_partitions or media.sparkSession.sparkContext.defaultParallelism,
        by=("media_ref",),
    )


def recognize_df(crops: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """crops → recognized text per crop (recognize stage)."""

    def rec_iter(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _rec_frame(pdf, _decode_crops(pdf, cfg))

    return crops.mapInPandas(rec_iter, schema=REC_SCHEMA)


# RESULTS_SCHEMA's spans type in SQL, names backquoted (`order` is reserved
# under spark.sql.ansi.enforceReservedKeywords)
_SPANS_SQL_TYPE = "array<struct<%s>>" % ", ".join(
    f"`{f.name}`: {f.dataType.simpleString()}" for f in RESULTS_SCHEMA["spans"].dataType.elementType
)


def assemble_results(
    all_ids: DataFrame, text_spans: DataFrame, media_results: DataFrame
) -> DataFrame:
    """Union pass-through + recognized spans → final ordered spans array.

    Pure Catalyst: array_sort over the whole (offset, sub, kind, text,
    media_ref, confidence) struct, then transform-with-index assigns the
    final 0-based `order` (SURVEY.md §2.5 assign_order_indices analog).
    `all_ids`' doc_id column names every input document — docs whose
    spans produced nothing still appear, with an empty array. The
    doc-id side is the join's build side (a shuffled hash join): both
    inputs arrive hash-partitioned on doc_id, so no broadcast job runs
    and no hash table is built over the assembled spans."""
    assembled = text_spans.unionByName(media_results).groupBy("doc_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(`offset`, `sub`, `kind`, `text`,"
            " `media_ref`, `confidence`))), (s, i) -> struct(s.`kind` AS `kind`,"
            " s.`text` AS `text`, s.`media_ref` AS `media_ref`, i AS `order`,"
            " s.`confidence` AS `confidence`)) AS `spans`"
        )
    )
    all_ids = all_ids.selectExpr("`doc_id`").distinct().hint("shuffle_hash")
    return all_ids.join(assembled, "doc_id", "left").selectExpr(
        "`doc_id`", f"coalesce(`spans`, CAST(array() AS {_SPANS_SQL_TYPE})) AS `spans`"
    )


def extract_spans(
    spark: SparkSession,
    docs: DataFrame,
    cfg: ExtractConfig | None = None,
    num_partitions: int | None = None,
    persist_input: bool = False,
    media_store: DataFrame | None = None,
) -> DataFrame:
    """documents(doc_id, spans) → results(doc_id, spans) (RESULTS_SCHEMA).

    Pages reach detection through the one spread on media_ref
    (detect_crops_from_flat) and crops reach recognition through a
    rebalancing shuffle on (doc_id, offset, det_idx), so one heavy
    document's pages and crops spread over all num_partitions tasks.
    The text branch runs no UDF and is not spread; the assembly groupBy
    shuffles it by doc_id.

    media_store=(media_ref, payload:binary) sources pages from real
    encoded bytes via an equi-join instead of the synthetic renderer;
    _detect_one_page lists the formats and when the output equals the
    render path's.

    The DAG fans the input into three branches (pass-through text,
    media detection, doc-id preservation), and each branch re-reads the
    input: the text and media branches explode the spans from it
    (explode_outer keeps empty docs; no exchange sits between the input
    and the explode), and the doc-id branch is its own doc_id-only
    scan. Nothing is persisted, so a long-lived session keeps no copy
    of the input after the query; a caller whose input lineage is
    expensive writes it to a table first."""
    if persist_input:
        raise ValueError(
            "extract_spans never persists its input; persist_input only accepts False"
        )
    cfg = cfg or ExtractConfig()
    P = num_partitions or spark.sparkContext.defaultParallelism

    spans_flat = docs.selectExpr("`doc_id`", "explode_outer(`spans`) AS `s`")

    text_spans = spans_flat.where("`s`.`kind` = 'text'").selectExpr(
        "`doc_id`", "`s`.`offset` AS `offset`", "-1 AS `sub`", "`s`.`kind` AS `kind`", "`s`.`text` AS `text`",
        "`s`.`media_ref` AS `media_ref`", "CAST(NULL AS FLOAT) AS `confidence`",
    )

    crops = detect_crops_from_flat(
        spans_flat, cfg, media_store=media_store, num_partitions=P
    ).repartition(P, "doc_id", "offset", "det_idx")
    rec = recognize_df(crops, cfg)

    # empty-text drop (structure.rs:2431-2433)
    media_results = rec.where("length(`text`) > 0").selectExpr(
        "`doc_id`", "`offset`", "`det_idx` AS `sub`", "'media' AS `kind`", "`text`", "`media_ref`",
        "`confidence`",
    )
    # doc-id preservation reads the input directly — a doc_id-only
    # pruned scan instead of re-running the explode (plan audit:
    # ReadSchema shrinks to one column on parquet inputs)
    return assemble_results(docs, text_spans, media_results)
