"""Image resize operators (nearest-neighbor, deterministic numpy).

Parity targets (reference = GreatV/oar-ocr at /root/reference):
- resize_for_detection: resize_image_type0,
  oar-ocr-core/src/processors/resize_detection.rs:243-320 —
  limit_type Max (shrink iff longest side > limit) / Min (grow iff
  shortest side < limit) / ResizeLong, max_side_limit clamp, then
  dims snapped to multiples of 32 via (v + 16) / 32 * 32 floor-div,
  floor ≥ 32; returns ratios (resize_h/h, resize_w/w).
- recognition_row: fixed target height, width =
  height * max_wh_ratio capped at max_img_w, aspect-preserving resize
  then zero-pad right (processors/resize_recognition.rs:84-130,
  models/recognition/crnn.rs:71-125) — only the centre row the
  synthetic recognizer reads is built.

The reference uses bilinear filters; this engine standardizes on
nearest-neighbor sampling so the synthetic glyph intensities survive
resizing bit-exactly (determinism across parallelism levels is a
north_rule requirement — SURVEY.md §7 "hard parts"). The geometric
contracts (dims, ratios, padding) are identical.
"""

from __future__ import annotations

import numpy as np

__all__ = ["nn_resize", "recognition_row", "resize_for_detection"]


def nn_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W) uint8 image. Deterministic:
    source index = floor((i + 0.5) * src / dst) (OpenCV INTER_NEAREST grid)."""
    h, w = img.shape[:2]
    if (h, w) == (out_h, out_w):
        return img
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return img[ys][:, xs]


def detection_target_dims(
    h: int,
    w: int,
    limit_side_len: int = 960,
    limit_type: str = "max",
    max_side_limit: int = 4000,
) -> tuple[int, int]:
    """Target (resize_h, resize_w) per resize_image_type0
    (resize_detection.rs:243-305). Pure integer math, exact port."""
    if limit_type == "max":
        ratio = limit_side_len / max(h, w) if max(h, w) > limit_side_len else 1.0
    elif limit_type == "min":
        ratio = limit_side_len / min(h, w) if min(h, w) < limit_side_len else 1.0
    elif limit_type == "resize_long":
        ratio = limit_side_len / max(h, w)
    else:
        raise ValueError(f"unknown limit_type {limit_type!r}")
    resize_h = int(h * ratio)  # trunc, as `as u32`
    resize_w = int(w * ratio)
    if max(resize_h, resize_w) > max_side_limit:
        limit_ratio = max_side_limit / max(resize_h, resize_w)
        resize_h = int(resize_h * limit_ratio)
        resize_w = int(resize_w * limit_ratio)
    resize_h = max((resize_h + 16) // 32 * 32, 32)
    resize_w = max((resize_w + 16) // 32 * 32, 32)
    return resize_h, resize_w


def resize_for_detection(
    img: np.ndarray,
    limit_side_len: int = 960,
    limit_type: str = "max",
    max_side_limit: int = 4000,
) -> tuple[np.ndarray, float, float]:
    """Resize an (H, W) image for the detection model.

    Returns (resized, ratio_h, ratio_w) with ratios = resized/src
    (resize_detection.rs:314-318). DB postprocess later maps boxes back
    to source dims with the inverse.
    """
    h, w = img.shape[:2]
    th, tw = detection_target_dims(h, w, limit_side_len, limit_type, max_side_limit)
    out = nn_resize(img, th, tw)
    return out, th / h, tw / w


def recognition_row(
    crop: np.ndarray, target_h: int, bucket: int, max_img_w: int = 3200
) -> np.ndarray:
    """The centre row of the crop resized for recognition, without
    materializing the resized crop.

    Equals row target_h // 2 of the crop nn-resized to (target_h,
    resize_w) and right-padded with background (255) to the bucket
    width: batch width = ceil(target_h * bucket) capped at max_img_w,
    resize_w = ceil(target_h * wh_ratio) capped at the batch width, so
    a crop wider than its bucket is squeezed to the full width. The
    reference zero-pads normalized tensors — the same "no signal"
    semantics as this engine's white background. Keeping the row
    closed-form (instead of the resized crop) removes ~200 MB/batch of
    memory traffic that saturated RAM bandwidth with 16+ concurrent
    workers."""
    h, w = crop.shape
    wh_ratio = w / max(h, 1)
    batch_w = min(int(np.ceil(target_h * bucket)), max_img_w)
    resize_w = max(min(int(np.ceil(target_h * wh_ratio)), batch_w), 1)
    r = min(int((target_h // 2 + 0.5) * h / target_h), h - 1)
    xs = np.minimum(((np.arange(resize_w) + 0.5) * w / resize_w).astype(np.int64), w - 1)
    out = np.full(batch_w, 255, dtype=np.uint8)
    out[:resize_w] = crop[r][xs]
    return out
