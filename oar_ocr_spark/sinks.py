"""Result sinks: parquet + JSON + annotated-page images.

Parity target: StructureResult::save_results
(/root/reference/oar-ocr-core/src/domain/structure.rs:1072) writes the
result JSON, markdown, AND annotated images (detection boxes drawn on
the ORIGINAL input image) to an output directory. The Spark-first
restatement writes tables, not loose files: results parquet, a JSON
side table (`F.to_json` over the spans struct — to_json_value parity,
structure.rs:1052), and an annotated-pages table whose `binary` column
holds real PNG bytes (functions/png.encode_png) with detection boxes
outlined in ORIGINAL image coordinates — boxes detected on the upright
page are mapped back through rotate_back_to_original
(geometry.rs:848-886), exactly as the reference draws them.

Everything is distributed: annotation runs as one Arrow-batched
Python stage over media refs (pages never reach the driver), and all
three sinks are ordinary DataFrame writes an Iceberg deployment would
point at its tables.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .local_ref import ExtractConfig
from .partitioning import python_stage

__all__ = ["BOX_OUTLINE", "annotate_page", "annotated_pages_df", "save_results"]

#: outline intensity for drawn boxes — distinct from every renderer
#: intensity (ANCHOR=0, WARP_CUE=3, MARKER=15, SEP, CHAR_BASE.., BG=255)
BOX_OUTLINE = 128


def annotate_page(media_ref: str, cfg: ExtractConfig) -> tuple[bytes, int, int, int]:
    """One page → (annotated PNG bytes, width, height, n_boxes).

    Boxes are the crops' boxes of the preprocessed upright page from
    local_ref.detect_and_crop, the detection seam extraction uses (AABB
    or, for text_type="rotated", the quads' AABBs); they are rotated
    back to the ORIGINAL image's coordinate space and drawn as 1-px
    outlines on a copy of the original — the reference's
    annotated-image semantics (structure.rs:1072 + geometry.rs:848)."""
    from .fixtures.render import render_page
    from .local_ref import detect_and_crop, preprocess_page_full
    from .functions.png import encode_png
    from .operators.geometry import rotate_back_to_original

    img = render_page(media_ref)
    upright, _cls, rotation = preprocess_page_full(img, cfg)
    boxes = np.array([box for _crop, box in detect_and_crop(upright, cfg)], dtype=np.float32)
    if rotation is not None and len(boxes):
        angle, rw, rh = rotation
        boxes = rotate_back_to_original(boxes, angle, rw, rh)
    out = img.copy()
    h, w = out.shape
    for b in np.asarray(boxes, dtype=np.float32).reshape(-1, 4):
        x1 = min(max(int(np.floor(b[0])), 0), w - 1)
        y1 = min(max(int(np.floor(b[1])), 0), h - 1)
        x2 = min(max(int(np.ceil(b[2])), x1 + 1), w)
        y2 = min(max(int(np.ceil(b[3])), y1 + 1), h)
        out[y1, x1:x2] = BOX_OUTLINE
        out[y2 - 1, x1:x2] = BOX_OUTLINE
        out[y1:y2, x1] = BOX_OUTLINE
        out[y1:y2, x2 - 1] = BOX_OUTLINE
    return encode_png(out), int(w), int(h), int(len(boxes))


_ANNOTATED_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("annotated_png", T.BinaryType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("n_boxes", T.IntegerType(), False),
    ]
)


def annotated_pages_df(refs: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """(media_ref) → (media_ref, annotated_png, width, height, n_boxes)."""
    cfg = cfg or ExtractConfig()

    return python_stage(
        refs.select("media_ref"),
        lambda ref: [(ref, *annotate_page(ref, cfg))],
        _ANNOTATED_SCHEMA,
        "annotated_pages",
    )


def save_results(
    results: DataFrame,
    out_dir: str,
    media_refs: DataFrame | None = None,
    cfg: ExtractConfig | None = None,
) -> dict[str, str]:
    """save_results parity (structure.rs:1072): write the results table,
    a JSON rendition of each document's spans (to_json_value,
    structure.rs:1052), and — when `media_refs` is given — the
    annotated-pages table with boxes drawn on the original images.

    Returns {artifact: path}. All writes are plain DataFrame sinks
    (swap .parquet for .format("iceberg").saveAsTable at deployment).
    """
    paths = {
        "results": os.path.join(out_dir, "results.parquet"),
        "results_json": os.path.join(out_dir, "results_json.parquet"),
    }
    results.write.mode("overwrite").parquet(paths["results"])
    results.select(
        "doc_id", F.to_json(F.struct("doc_id", "spans")).alias("json")
    ).write.mode("overwrite").parquet(paths["results_json"])
    if media_refs is not None:
        paths["annotated"] = os.path.join(out_dir, "annotated.parquet")
        annotated_pages_df(media_refs, cfg).write.mode("overwrite").parquet(
            paths["annotated"]
        )
    return paths
