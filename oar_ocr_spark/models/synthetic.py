"""Synthetic deterministic models + the intensity-coding contract.

The engine's "media" pages are grayscale uint8 images produced by
``oar_ocr_spark.fixtures.render``. Text is encoded as vertical
intensity strips; the models below invert that encoding. All values
survive nearest-neighbor resizing and k·90° rotations exactly, which
makes every stage bit-deterministic across partitionings (the
north_rule span-sequence-equality + partition-invariance requirement).

Intensity contract (uint8):
- ANCHOR    = 0    orientation anchor block (top-left corner of an
                   upright page; analog of the document-orientation
                   cue PP-LCNet learns — reference stage:
                   src/oarocr/preprocess.rs:111-163)
- MARKER    = 15   line-start marker strip (the cue the text-line
                   orientation classifier uses — src/oarocr/ocr.rs:755-792)
- CHAR_BASE = 25   char with vocab index i renders as intensity
                   CHAR_BASE + i (i = 1..len(VOCAB)-1) → 26..62
- SEP       = 100  inter-character separator (keeps the region one
                   connected component but decodes as CTC blank)
- BG        = 255  background

Detection heatmap = (255 - pixel)/255 (a LUT inside
DBPostProcess.apply_uint8_inverted), so with DB defaults (thresh 0.3,
db_postprocess.rs:79) every non-background pixel is foreground and
each rendered text line is exactly one component.

Recognition reads the *center row* of a crop: the detected box is the
glyph block symmetrically expanded by the unclip margin
(db_bitmap.rs:279-345), so the center row always passes through the
strips; one timestep per resized column (recognize_rows), CTC
collapse (processors/decode.rs:452-552) recovers the text.
"""

from __future__ import annotations

import numpy as np

ANCHOR = 0
MARKER = 15
CHAR_BASE = 25
SEP = 100
BG = 255

# CTC vocabulary: blank at 0 (decode.rs:348-366), then digits+lowercase
# (the reference default charset, decode.rs:74) + space.
VOCAB: list[str] = ["\0"] + list("0123456789abcdefghijklmnopqrstuvwxyz") + [" "]
CHAR_TO_INDEX = {c: i for i, c in enumerate(VOCAB)}

ANCHOR_SIZE = 8  # anchor block is 8×8 at (4,4) on an upright page
ANCHOR_CLEAR = 16  # mask_anchor whites out the [0:16, 0:16] corner
PEAK_PROB = np.float32(0.95)  # synthetic model confidence at the argmax
BLANK_PROB = np.float32(0.05)  # its top-1 prob at blank timesteps


def classify_orientation(img: np.ndarray) -> int:
    """Document orientation class 0/90/180/270 (class_id 0..3).

    Synthetic stand-in for PP-LCNet 4-class orientation
    (src/oarocr/preprocess.rs:102-143): finds which 16×16 corner holds
    the anchor block. Upright pages carry it top-left; a page rotated
    90° clockwise (class 1, needing a 90° CCW correction) carries it
    top-right, etc.
    """
    h, w = img.shape
    k = ANCHOR_CLEAR
    corners = {
        0: img[:k, :k],  # top-left → upright
        1: img[:k, w - k :],  # top-right → rotated 90
        2: img[h - k :, w - k :],  # bottom-right → rotated 180
        3: img[h - k :, :k],  # bottom-left → rotated 270
    }
    counts = {c: int((v == ANCHOR).sum()) for c, v in corners.items()}
    best = max(counts, key=lambda c: (counts[c], -c))
    return best if counts[best] >= (ANCHOR_SIZE * ANCHOR_SIZE) // 2 else 0


def correct_orientation(img: np.ndarray, class_id: int) -> np.ndarray:
    """Apply the inverse rotation for the detected class
    (preprocess.rs:111-143: 1→rotate270(=90° CCW), 2→rotate180,
    3→rotate90(=90° CW)). np.rot90(img, k=class_id) rotates CCW by
    k·90°, which is exactly that policy."""
    return np.ascontiguousarray(np.rot90(img, k=class_id % 4))


def mask_anchor(img: np.ndarray) -> np.ndarray:
    """White-fill the anchor corner of an upright page before text
    detection — the analog of formula-region masking / mask_regions
    (src/oarocr/structure.rs:2189-2203, utils/image.rs:766)."""
    out = img.copy()
    out[:ANCHOR_CLEAR, :ANCHOR_CLEAR] = BG
    return out


def classify_line_orientation(crop: np.ndarray) -> int:
    """Text-line orientation 0/180 (class 0/1) from the marker strip.

    Stand-in for the 2-class PP-LCNet text-line classifier
    (src/oarocr/ocr.rs:755-792): the marker renders at the line start,
    so a marker in the right half of the center row means the crop is
    upside-down (class 1 → caller rotates 180°).
    """
    row = crop[crop.shape[0] // 2, :]
    pos = np.flatnonzero(row == MARKER)
    if pos.size == 0:
        return 0
    return 1 if float(pos.mean()) >= crop.shape[1] / 2.0 else 0


def recognize_rows(rows: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(B, T) centre rows of resized crops → per-timestep top-1
    (vocab index, prob), each (B, T).

    Stand-in for the CRNN/SVTR forward (models/recognition/crnn.rs:136-278)
    followed by the per-timestep argmax CTC decoding takes
    (decode.rs:26-42): one timestep per column; a char intensity
    decodes to its vocab index at PEAK_PROB, every other intensity to
    blank at BLANK_PROB (blank timesteps never reach a confidence).
    Pure vectorized numpy — one call per aspect bucket of a batch.
    """
    idx = rows.astype(np.int32) - CHAR_BASE
    idx = np.where((idx >= 1) & (idx < len(VOCAB)), idx, 0)
    prob = np.where(idx > 0, PEAK_PROB, BLANK_PROB)
    return idx, prob
