"""Single-process reference extraction pipeline (golden generator).

Pure-Python/numpy re-statement of OAROCR::predict
(/root/reference/src/oarocr/ocr.rs:518-659): preprocess (orientation
classify + correct + anchor mask) → detection resize → DB heatmap →
DB postprocess → sort_quad_boxes reading order → crop → line
orientation → recognition resize (bucketed wh_ratio) centre row →
top-1 → CTC collapse → score-threshold blanking → emit in detection
order.

This module exists to compute golden span sequences for the Spark
pipeline's exact-equality tests (FIXTURES.md §3): its operators are the
same functions the Spark UDFs call, each pinned by unit tests ported
from the reference; what the golden check then proves is that the
*distributed* plumbing (explode/shuffle/group-back/ordering) is
faithful and partition-invariant.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .fixtures.render import render_page
from .models.synthetic import (
    VOCAB,
    classify_line_orientation,
    classify_orientation,
    correct_orientation,
    mask_anchor,
    recognize_rows,
)
from .operators.ctc import ctc_collapse_batch
from .operators.db_postprocess import DBPostProcess
from .operators.resize import recognition_row, resize_for_detection
from .operators.sorting import sort_quad_boxes

__all__ = [
    "ExtractConfig",
    "extract_page",
    "extract_document_spans",
    "bucket_ratio",
    "detect_and_crop",
    "recognize_crops",
    "detect_page_quads",
    "detect_page_polys",
]

MAX_BUCKET = 32  # wh_ratio bucket cap (crops here are ≤ ~7)


@dataclass
class ExtractConfig:
    """Engine defaults mirroring the reference general-text config
    (src/oarocr/ocr.rs:314-366; db_postprocess.rs:67-88).

    text_type selects the detection/crop flavor:
    - "general": axis-aligned boxes, AABB slice crops (the fast path;
      reference text_type=general, ocr.rs:314-330)
    - "rotated": min-area-rect quad boxes (rotating calipers) +
      4-point perspective crops with the h≥1.5·w vertical-text rotate
      (get_rotate_crop_image, transform.rs:50-166) — the reference's
      default handle_rotation=true crop path (processors.rs:80-125)
    """

    det_thresh: float = 0.3
    det_box_thresh: float = 0.6
    det_unclip_ratio: float = 2.0
    det_limit_side_len: int = 960
    det_limit_type: str = "max"
    det_max_side_limit: int = 4000
    max_candidates: int = 1000
    rec_target_h: int = 48
    rec_score_threshold: float = 0.0
    use_orientation: bool = True
    use_line_orientation: bool = True
    use_rectification: bool = False
    text_type: str = "general"
    # table-analyzer mode flags (OARStructureBuilder defaults,
    # src/oarocr/structure.rs:228-229: wired tables use cell-detection
    # mode, wireless tables use E2E structure recognition)
    use_e2e_wired_table_rec: bool = False
    use_e2e_wireless_table_rec: bool = True
    use_wired_table_cells_trans_to_html: bool = False
    use_wireless_table_cells_trans_to_html: bool = False
    postprocess: DBPostProcess = field(init=False)

    @classmethod
    def for_text_type(cls, text_type: str = "general", **overrides) -> "ExtractConfig":
        """Reference per-text-type detection defaults
        (src/oarocr/ocr.rs:314-366):
        general: thresh .3 / box .6 / unclip 2.0 / side 960 max
        table:   thresh .3 / box .4 / unclip 2.0 / side 960 max
        seal:    thresh .2 / box .6 / unclip 0.5 / side 736 min
                 + Poly box type (text_detection_adapter.rs:152-160)
        rotated: general numbers + min-area-rect quad boxes."""
        presets: dict[str, dict] = {
            "general": {},
            "rotated": {"text_type": "rotated"},
            "table": {"det_box_thresh": 0.4, "text_type": "table"},
            "seal": {
                "det_thresh": 0.2,
                "det_box_thresh": 0.6,
                "det_unclip_ratio": 0.5,
                "det_limit_side_len": 736,
                "det_limit_type": "min",
                "text_type": "seal",
            },
        }
        kwargs = dict(presets.get(text_type, {}))
        kwargs.update(overrides)
        return cls(**kwargs)

    def __post_init__(self) -> None:
        self.postprocess = DBPostProcess(
            thresh=self.det_thresh,
            box_thresh=self.det_box_thresh,
            max_candidates=self.max_candidates,
            unclip_ratio=self.det_unclip_ratio,
            # rotated boxes fast-score over their AABB mostly on
            # background; slow mode scores the component polygon
            # (ScoreMode::Slow, db_bitmap.rs:117)
            score_mode="slow" if self.text_type == "rotated" else "fast",
        )


def bucket_ratio(wh_ratio: float) -> int:
    """Deterministic per-crop aspect bucket (ceil, clamped ≥1).

    The reference's recognition width is a property of the *batch*
    (max_wh_ratio, ocr.rs:802-831) which would make results depend on
    Arrow batch composition; bucketing each crop independently (as
    processors/aspect_ratio_bucketing.rs does) keeps the decode
    partition-invariant — required for span equality across
    parallelism levels (SURVEY.md §7 hard parts).
    """
    return int(min(max(np.ceil(wh_ratio), 1), MAX_BUCKET))


def preprocess_page(img: np.ndarray, cfg: ExtractConfig) -> tuple[np.ndarray, int]:
    """Orientation classify + correct + anchor mask. Returns
    (upright_img, class_id). Mirrors DocumentPreprocessor.preprocess
    (src/oarocr/preprocess.rs:60-99) + anchor masking (the engine's
    analog of formula-region masking, structure.rs:2189-2203)."""
    upright, class_id, _rotation = preprocess_page_full(img, cfg)
    return upright, class_id


def preprocess_page_full(
    img: np.ndarray, cfg: ExtractConfig
) -> tuple[np.ndarray, int, tuple[int, int, int] | None]:
    """Preprocess with back-mapping metadata.

    Returns (upright_img, class_id, rotation) where rotation =
    (angle, rotated_width, rotated_height) feeds
    operators.geometry.rotate_back_to_original.

    Invariant (preprocess.rs:9-12, 87-91): when rectification is
    applied, `rotation` is None — coordinate back-mapping is not
    supported for warped images; results stay in rectified space. The
    synthetic rectifier (_rectify below) performs a REAL cue-driven
    unwarp of 'warp:' pages and is the identity on flat pages; the
    metadata contract is enforced and tested either way.
    """
    class_id = classify_orientation(img) if cfg.use_orientation else 0
    upright = correct_orientation(img, class_id)
    rotation: tuple[int, int, int] | None = None
    if cfg.use_orientation:
        rotation = (class_id * 90, upright.shape[1], upright.shape[0])
    if cfg.use_rectification:
        upright = _rectify(upright)
        rotation = None  # rectified ⇒ no back-mapping (preprocess.rs:87-91)
    return mask_anchor(upright), class_id, rotation


def _rectify(img: np.ndarray) -> np.ndarray:
    """Synthetic UVDoc rectifier (processors/uvdoc_postprocess.rs
    analog): recovers the per-column sag dy(x) from the warped page's
    cue row (fixtures/render.render_warped_page contract) and
    inverse-shifts each column — an exact closed-form unwarp under the
    integer-shift determinism contract. Pages without a cue (flat
    corpus pages) pass through unchanged. The cue pixels are blanked
    after unwarping so detection never sees them."""
    from .fixtures.render import WARP_CUE

    cue = img == WARP_CUE
    if not cue.any():
        return img
    h, w = img.shape
    has = cue.any(axis=0)
    dy = np.where(has, cue.argmax(axis=0), 0)
    out = np.full_like(img, 255)
    for d in np.unique(dy):
        cols = dy == d
        if d == 0:
            out[:, cols] = img[:, cols]
        else:
            out[: h - d, cols] = img[d:, cols]
    head = out[:2, :]
    head[head == WARP_CUE] = 255
    return out


def detect_page(img: np.ndarray, cfg: ExtractConfig) -> tuple[np.ndarray, np.ndarray]:
    """Upright page → (boxes (N,4) source coords, scores). DB forward +
    postprocess (models/detection/db.rs:122-233 + db_bitmap.rs:84-149)."""
    h, w = img.shape
    resized, _, _ = resize_for_detection(
        img, cfg.det_limit_side_len, cfg.det_limit_type, cfg.det_max_side_limit
    )
    # the synthetic DB map is (255−v)/255, so threshold + score run on
    # the uint8 image directly (no float heatmap — it was the detect
    # stage's dominant memory traffic; see DBPostProcess.apply_uint8_inverted)
    return cfg.postprocess.apply_uint8_inverted(resized, src_w=w, src_h=h)


def detect_page_quads(img: np.ndarray, cfg: ExtractConfig) -> tuple[np.ndarray, np.ndarray]:
    """Upright page → (quads (N,4,2) [tl,tr,br,bl] source coords,
    scores) — the rotated-geometry DB postprocess chain
    (db_bitmap.rs:84-149: contours → min-area rect → score → round-join
    unclip → scale-back)."""
    h, w = img.shape
    resized, _, _ = resize_for_detection(
        img, cfg.det_limit_side_len, cfg.det_limit_type, cfg.det_max_side_limit
    )
    return cfg.postprocess.apply_quad_uint8_inverted(resized, src_w=w, src_h=h)


def detect_page_polys(img: np.ndarray, cfg: ExtractConfig) -> tuple[list[np.ndarray], np.ndarray]:
    """Upright image → (polygons [(K,2) source coords], scores) — the
    Poly box mode used by seal detection (polygons_from_bitmap,
    db_bitmap.rs:16-82; BoxType::Poly selection
    text_detection_adapter.rs:152-160)."""
    h, w = img.shape
    resized, _, _ = resize_for_detection(
        img, cfg.det_limit_side_len, cfg.det_limit_type, cfg.det_max_side_limit
    )
    return cfg.postprocess.apply_poly_uint8_inverted(resized, src_w=w, src_h=h)


def detect_and_crop(
    upright: np.ndarray, cfg: ExtractConfig
) -> list[tuple[np.ndarray, np.ndarray]]:
    """Detect + reading-order sort + crop one upright page.

    Returns [(crop, box)] where box is the detection's float32 AABB
    [x1,y1,x2,y2] (for quads: the quad's AABB). The ONE implementation
    both the Spark detect UDF and the single-process golden generator
    call (CLAUDE.md determinism invariant).

    general: AABB detect (apply_uint8_inverted) + integer slice crops.
    rotated: quad detect (min-area rect) + perspective crops
    (get_rotate_crop_image); reading order sorts the quads' AABBs —
    the reference's sort_quad_boxes reads y_min()/x_min() accessors,
    i.e. AABB extents of the quad (sorting.rs:35-84).
    """
    h, w = upright.shape
    out: list[tuple[np.ndarray, np.ndarray]] = []
    if cfg.text_type == "rotated":
        from .operators.rotated_geometry import get_rotate_crop_image

        quads, _scores = detect_page_quads(upright, cfg)
        if len(quads) == 0:
            return out
        aabbs = np.stack(
            [
                quads[:, :, 0].min(axis=1),
                quads[:, :, 1].min(axis=1),
                quads[:, :, 0].max(axis=1),
                quads[:, :, 1].max(axis=1),
            ],
            axis=1,
        ).astype(np.float32)
        for i in sort_quad_boxes(aabbs):
            crop = get_rotate_crop_image(upright, quads[i])
            if crop is None or crop.size == 0:
                continue
            out.append((np.ascontiguousarray(crop), aabbs[i]))
        return out
    boxes, _scores = detect_page(upright, cfg)
    if len(boxes) == 0:
        return out
    for i in sort_quad_boxes(boxes):
        x1, y1, x2, y2 = (int(v) for v in boxes[i])
        crop = upright[max(y1, 0) : min(y2, h), max(x1, 0) : min(x2, w)]
        if crop.size == 0:
            continue
        out.append((crop, boxes[i]))
    return out


def recognize_crops(
    crops: list[np.ndarray], cfg: ExtractConfig
) -> list[tuple[str, float, list[int], int]]:
    """Crops → per-crop (text, conf, kept CTC columns, T) in input order.

    The ONE recognizer (ocr.rs:755-897 + decode.rs:452-552): the golden
    generator (recognize_crop), the structure track and the Spark
    recognize stages all call it. Line-orient each crop, take its
    bucket_ratio from its own shape, stack one centre-row matrix per
    bucket, run the model, CTC-collapse, and blank low-score text in
    place (index parity, text_recognition_adapter.rs:61-102; the
    columns stay for the caller). Each crop's result depends on that
    crop alone, so any batching gives the same output."""
    oriented: list[np.ndarray] = []
    buckets = np.empty(len(crops), dtype=np.int64)
    for k, crop in enumerate(crops):
        if cfg.use_line_orientation and classify_line_orientation(crop) == 1:
            crop = crop[::-1, ::-1]
        h, w = crop.shape
        buckets[k] = bucket_ratio(w / max(h, 1))
        oriented.append(crop)
    out: list[tuple[str, float, list[int], int]] = [None] * len(crops)
    for b in np.unique(buckets):
        pos = np.flatnonzero(buckets == b)
        rows = np.stack([recognition_row(oriented[p], cfg.rec_target_h, int(b)) for p in pos])
        idx, prob = recognize_rows(rows)
        for p, (text, conf, cols, T) in zip(pos, ctc_collapse_batch(idx, prob, VOCAB)):
            out[p] = ("" if conf < cfg.rec_score_threshold else text, conf, cols, T)
    return out


def recognize_crop(crop: np.ndarray, cfg: ExtractConfig) -> tuple[str, float]:
    """One crop → (text, confidence) through recognize_crops."""
    [(text, conf, _cols, _T)] = recognize_crops([crop], cfg)
    return text, conf


def extract_page(img: np.ndarray, cfg: ExtractConfig | None = None) -> list[tuple[str, float]]:
    """Full single-page OCR → [(text, conf)] in reading order, empty
    texts dropped (structure.rs:2431-2433 empty-text drop)."""
    cfg = cfg or ExtractConfig()
    upright, _cls = preprocess_page(img, cfg)
    out: list[tuple[str, float]] = []
    for crop, _box in detect_and_crop(upright, cfg):
        text, conf = recognize_crop(crop, cfg)
        if text:
            out.append((text, conf))
    return out


def extract_document_spans(
    spans: list[dict], cfg: ExtractConfig | None = None
) -> list[dict]:
    """Golden output for one document.

    Input spans: [{kind, text, media_ref, offset}] (any order).
    Output: [{kind, text, media_ref, order}] — pass-through text spans
    interleaved by offset with recognized spans per media span in
    detection reading order; order = final 0-based position
    (FIXTURES.md §3).
    """
    cfg = cfg or ExtractConfig()
    out: list[dict] = []
    for span in sorted(spans, key=lambda s: s["offset"]):
        if span["kind"] == "text":
            out.append(
                {"kind": "text", "text": span["text"], "media_ref": None, "confidence": None}
            )
        else:
            img = render_page(span["media_ref"])
            for text, conf in extract_page(img, cfg):
                out.append(
                    {
                        "kind": "media",
                        "text": text,
                        "media_ref": span["media_ref"],
                        "confidence": float(conf),
                    }
                )
    for i, s in enumerate(out):
        s["order"] = i
    return out
