"""Deterministic synthetic "neural" models.

Stand-ins for the reference's ONNX models (DB detector, CRNN/SVTR
recognizer, PP-LCNet orientation classifiers). Each preserves the real
model's *interface contract* — batched tensors in, batched
classifications or per-timestep top-1 (index, prob) out — while being
a closed-form function of the pixels, so outputs are bit-reproducible
on any executor with no weight downloads (SURVEY.md §2.1: model
auto-download not needed; weights are deterministic synthetic params).

Real ONNX/torch backends would slot in behind the same functions (the
recognition-UDF seam described in SURVEY.md §2.10/§2.11).
"""

from .synthetic import (  # noqa: F401
    ANCHOR,
    BG,
    CHAR_BASE,
    MARKER,
    SEP,
    VOCAB,
    classify_line_orientation,
    classify_orientation,
    mask_anchor,
    recognize_rows,
)
