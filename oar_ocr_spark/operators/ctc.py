"""CTC decoding + word-box geometry (vectorized numpy).

Parity targets (reference = GreatV/oar-ocr at /root/reference):
- CTC collapse (blank idx 0, consecutive-dup drop on *raw* indices,
  mean confidence over kept glyphs, 0.0 when empty, timestep tracking):
  oar-ocr-core/src/processors/decode.rs:452-552 (apply_with_positions)
  and decode.rs:570-634 (apply).
- Vocabulary layout: blank '\\0' prepended at index 0
  (CTCLabelDecode::new, decode.rs:348-366).
- pred_reverse (RTL alnum-run reversal): decode.rs:130-159.
- ctc_word_boxes: src/oarocr/ocr.rs:949-1020 — effective_col_num =
  seq_len * wh_ratio / max_wh_ratio (undoes batch right-padding),
  cell centers at (idx+0.5)*cell_width, CJK = avg-width centered,
  non-CJK = midpoints between adjacent centers; unit vectors pinned by
  ocr.rs:1198-1232 (seq_len=10, wh=5.0, "ABC" → [0,30],[30,60],[60,100]).
- char_positions_to_word_boxes fallback: ocr.rs:1036-1072.
- is_cjk unicode ranges: ocr.rs:1075-1082.
"""

from __future__ import annotations

import re

import numpy as np

__all__ = [
    "ctc_collapse_batch",
    "ctc_word_boxes",
    "char_positions_to_word_boxes",
    "is_cjk",
    "pred_reverse",
]

BLANK_INDEX = 0  # decode.rs:363

_ALPHANUMERIC_RE = re.compile(r"[a-zA-Z0-9 :*./%+-]")  # decode.rs:22-24


def ctc_collapse_batch(
    idx_all: np.ndarray, prob_all: np.ndarray, characters: list[str]
) -> list[tuple[str, float, list[int], int]]:
    """CTC collapse over per-timestep (index, prob) matrices (B, T).

    Per sequence (decode.rs:452-552): keep timestep i iff
    idx != blank AND idx != raw idx[i-1] (prev updated on every step,
    blanks included) AND idx is in vocab; text = joined glyphs;
    conf = mean(kept probs) or 0.0 if empty; also returns kept
    timesteps (col indices) and seq_len for word-box math.

    The (index, prob) pairs are the model's per-timestep top-1
    (models.synthetic.recognize_rows); its only caller is
    local_ref.recognize_crops. Ties in the reference's argmax resolve
    to the last maximal index (Iterator::max_by, decode.rs:26-42); the
    synthetic model has no ties.
    """
    idx_all = np.asarray(idx_all)
    prob_all = np.asarray(prob_all, dtype=np.float32)
    B, T = idx_all.shape
    nvocab = len(characters)
    prev = np.empty_like(idx_all)
    prev[:, 0] = BLANK_INDEX
    prev[:, 1:] = idx_all[:, :-1]
    keep_all = (idx_all != BLANK_INDEX) & (idx_all != prev) & (idx_all < nvocab)
    out: list[tuple[str, float, list[int], int]] = []
    for b in range(B):
        keep = keep_all[b]
        kept_idx = idx_all[b][keep]
        kept_prob = prob_all[b][keep]
        kept_ts = np.flatnonzero(keep)
        text = "".join(characters[i] for i in kept_idx)
        conf = float(kept_prob.mean()) if kept_prob.size else 0.0
        out.append((text, conf, [int(t) for t in kept_ts], T))
    return out


def ctc_word_boxes(
    line_bbox: np.ndarray,
    text: str,
    col_indices: list[int],
    seq_len: int,
    wh_ratio: float,
    max_wh_ratio: float,
) -> np.ndarray:
    """Per-character boxes from CTC column indices (ocr.rs:949-1020).

    Returns (n_chars, 4) float32 [x1,y1,x2,y2]; empty (0,4) when inputs
    are degenerate (mirrors the early-returns at ocr.rs:957-964).
    """
    empty = np.empty((0, 4), dtype=np.float32)
    if not col_indices or seq_len == 0 or not text:
        return empty
    effective_col_num = np.float32(seq_len) * (np.float32(wh_ratio) / np.float32(max_wh_ratio))
    if effective_col_num <= np.finfo(np.float32).eps:
        return empty
    x_min, y_min, x_max, y_max = (np.float32(v) for v in np.asarray(line_bbox).reshape(4))
    width = x_max - x_min
    cell_width = width / max(effective_col_num, np.finfo(np.float32).eps)
    chars = list(text)
    avg_char_width = width / np.float32(max(len(chars), 1))
    cols = np.asarray(col_indices, dtype=np.float32)
    centers = x_min + (cols + np.float32(0.5)) * cell_width
    boxes = np.empty((len(cols), 4), dtype=np.float32)
    boxes[:, 1] = y_min
    boxes[:, 3] = y_max
    n = len(cols)
    for i in range(n):
        ch = chars[i] if i < len(chars) else "?"
        c = centers[i]
        if is_cjk(ch):
            half = avg_char_width / np.float32(2.0)
            boxes[i, 0] = max(c - half, x_min)
            boxes[i, 2] = min(c + half, x_max)
        else:
            lo = x_min if i == 0 else (centers[i - 1] + c) / np.float32(2.0)
            hi = x_max if i == n - 1 else (c + centers[i + 1]) / np.float32(2.0)
            boxes[i, 0] = max(lo, x_min)
            boxes[i, 2] = min(hi, x_max)
    return boxes


def char_positions_to_word_boxes(
    line_bbox: np.ndarray, char_positions: list[float], char_count: int
) -> np.ndarray:
    """Uniform-width fallback word boxes (ocr.rs:1036-1072)."""
    if not char_positions or char_count == 0:
        return np.empty((0, 4), dtype=np.float32)
    x_min, y_min, x_max, y_max = (np.float32(v) for v in np.asarray(line_bbox).reshape(4))
    width = x_max - x_min
    char_width = width / np.float32(char_count)
    pos = np.asarray(char_positions, dtype=np.float32)
    centers = x_min + pos * width
    out = np.empty((len(pos), 4), dtype=np.float32)
    out[:, 0] = np.maximum(centers - char_width / 2, x_min)
    out[:, 2] = np.minimum(centers + char_width / 2, x_max)
    out[:, 1] = y_min
    out[:, 3] = y_max
    return out


def is_cjk(c: str) -> bool:
    """CJK detection over the reference's exact ranges (ocr.rs:1075-1082)."""
    u = ord(c)
    return (
        0x4E00 <= u <= 0x9FFF
        or 0x3400 <= u <= 0x4DBF
        or 0x20000 <= u <= 0x2A6DF
        or 0x2A700 <= u <= 0x2B73F
        or 0x2B740 <= u <= 0x2B81F
    )


def pred_reverse(pred: str) -> str:
    """Reverse alnum runs while keeping other chars in place (decode.rs:137-159).

    Splits into maximal runs of [a-zA-Z0-9 :*./%+-] vs single other
    chars, then reverses the run list and concatenates.
    """
    parts: list[str] = []
    current = ""
    for ch in pred:
        if not _ALPHANUMERIC_RE.match(ch):
            if current:
                parts.append(current)
                current = ""
            parts.append(ch)
        else:
            current += ch
    if current:
        parts.append(current)
    return "".join(reversed(parts))
