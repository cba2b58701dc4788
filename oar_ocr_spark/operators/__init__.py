"""Numpy ports of the reference's geometric/ordering/decoding operators.

Each module documents the reference file:line it mirrors so parity can
be audited. All functions are pure, operate on plain numpy arrays /
Python scalars, and are safe to call inside pandas UDFs.
"""

from .geometry import (  # noqa: F401
    box_area,
    intersection_area,
    iou,
    overlap_ratio,
    rotate_back_to_original,
    translate_boxes,
)
from .sorting import (  # noqa: F401
    projection_by_bboxes,
    sort_by_xycut,
    sort_poly_boxes,
    sort_quad_boxes,
    sort_with_region_hierarchy,
    split_projection_profile,
)
from .ctc import (  # noqa: F401
    ctc_word_boxes,
    char_positions_to_word_boxes,
    is_cjk,
    pred_reverse,
)
from .db_postprocess import DBPostProcess  # noqa: F401
from .stitching import (  # noqa: F401
    is_non_break_line_end_punctuation,
    is_same_text_line,
    last_non_whitespace_char,
    needs_space_after,
    sort_and_join_texts,
)
from .resize import recognition_row, resize_for_detection  # noqa: F401
