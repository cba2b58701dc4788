"""Text stitching: visual-line grouping + smart text joining.

Parity targets (reference = GreatV/oar-ocr at /root/reference):
- StitchConfig defaults (same_line_y_tolerance 10.0,
  line_height_iou_threshold 0.6, overlap_min_pixels 3.0):
  src/oarocr/stitching.rs:44-73.
- is_same_text_line_bbox (line-height overlap ratio >= threshold, else
  adaptive center-Y fallback): stitching.rs:1795-1812.
- sort_and_join_texts (center-y sort → line grouping → x-sort within
  line → join with: space only after ASCII letters, paragraph break iff
  right-gap > {0.3, 0.5 for English tails}·container width, no break
  after trailing ,;: punctuation, dehyphenation at line wraps, $…$ /
  $$…$$ formula wrapping, trailing-whitespace trim):
  stitching.rs:1814-2000.
- needs_space_after / last_non_whitespace_char /
  is_non_break_line_end_punctuation: stitching.rs:2066-2079.

Runs per page inside the `structure_iter` stage
(`pipeline_structure.extract_structure` → `structure.structure_page_record`);
inputs are plain numpy boxes + python strings, so the same functions
drive both the Spark UDF and the single-process golden generator.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

__all__ = [
    "StitchConfig",
    "is_same_text_line",
    "sort_and_join_texts",
    "needs_space_after",
    "last_non_whitespace_char",
    "is_non_break_line_end_punctuation",
]


@dataclass
class StitchConfig:
    """Defaults from stitching.rs:60-73."""

    overlap_min_pixels: float = 3.0
    same_line_y_tolerance: float = 10.0
    line_height_iou_threshold: float = 0.6


def needs_space_after(c: str) -> bool:
    """Space only after ASCII letters (stitching.rs:2068-2070)."""
    return c.isascii() and c.isalpha()


def last_non_whitespace_char(text: str) -> str | None:
    """stitching.rs:2072-2074."""
    for c in reversed(text):
        if not c.isspace():
            return c
    return None


def is_non_break_line_end_punctuation(c: str) -> bool:
    """Punctuation suppressing hard paragraph breaks (stitching.rs:2077-2079)."""
    return c in {",", "，", "、", ";", "；", ":", "："}


def is_same_text_line(bbox1: np.ndarray, bbox2: np.ndarray, cfg: StitchConfig) -> bool:
    """Same visual line test (stitching.rs:1795-1812).

    Primary: vertical_overlap / min(h1, h2) >= line_height_iou_threshold.
    Fallback: |center_y1 - center_y2| <= max(min(h1,h2)*0.5, 1.0,
    same_line_y_tolerance*0.25).
    """
    b1 = np.asarray(bbox1, dtype=np.float32).reshape(4)
    b2 = np.asarray(bbox2, dtype=np.float32).reshape(4)
    h1 = max(float(b1[3] - b1[1]), 1.0)
    h2 = max(float(b2[3] - b2[1]), 1.0)
    inter_h = max(min(float(b1[3]), float(b2[3])) - max(float(b1[1]), float(b2[1])), 0.0)
    if inter_h / min(h1, h2) >= cfg.line_height_iou_threshold:
        return True
    adaptive_tol = max(min(h1, h2) * 0.5, 1.0)
    center_delta = abs((b1[1] + b1[3]) / 2.0 - (b2[1] + b2[3]) / 2.0)
    return center_delta <= max(adaptive_tol, cfg.same_line_y_tolerance * 0.25)


def sort_and_join_texts(
    boxes: np.ndarray,
    texts: list[str],
    container_bbox: np.ndarray | None = None,
    cfg: StitchConfig | None = None,
    is_formula: list[bool] | None = None,
) -> str:
    """Join text spans into one string in visual order (stitching.rs:1814-2000).

    boxes: (N,4); texts: parallel list; container_bbox enables the
    paragraph-break vs line-wrap decision; is_formula marks spans that
    get $…$/$$…$$ wrapping (stitching.rs:1966-1991).
    """
    cfg = cfg or StitchConfig()
    b = np.asarray(boxes, dtype=np.float32).reshape(-1, 4)
    n = len(b)
    if n == 0:
        return ""
    formula_flags = is_formula or [False] * n
    items = list(range(n))
    # stable sort by center-y (stitching.rs:1827-1833)
    cy = (b[:, 1] + b[:, 3]) / 2.0
    items.sort(key=lambda i: float(cy[i]))
    # group into lines: compare against the FIRST item of the current line
    lines: list[list[int]] = []
    current: list[int] = []
    for i in items:
        if not current:
            current.append(i)
        elif is_same_text_line(b[current[0]], b[i], cfg):
            current.append(i)
        else:
            current.sort(key=lambda k: float((b[k, 0] + b[k, 2]) / 2.0))
            lines.append(current)
            current = [i]
    if current:
        current.sort(key=lambda k: float((b[k, 0] + b[k, 2]) / 2.0))
        lines.append(current)
    ordered = [i for line in lines for i in line]

    result = ""
    prev: int | None = None
    for i in ordered:
        text = texts[i]
        if not text:
            continue
        if prev is not None:
            if not is_same_text_line(b[prev], b[i], cfg):
                # new visual line: newline (paragraph) vs wrap (stitching.rs:1893-1946)
                add_newline = False
                is_line_wrap = False
                if container_bbox is not None:
                    cb = np.asarray(container_bbox, dtype=np.float32).reshape(4)
                    container_width = float(cb[2] - cb[0])
                    right_gap = float(cb[2]) - float(b[prev, 2])
                    tail = last_non_whitespace_char(result)
                    ends_with_non_break = tail is not None and is_non_break_line_end_punctuation(
                        tail
                    )
                    gap_ratio = 0.5 if (tail is not None and tail.isascii() and tail.isalpha()) else 0.3
                    if not ends_with_non_break and right_gap > container_width * gap_ratio:
                        add_newline = True
                    else:
                        is_line_wrap = True
                if result.endswith("-") and is_line_wrap:
                    result = result[:-1]  # dehyphenate at wrap (stitching.rs:1929-1933)
                elif add_newline:
                    if not result.endswith("\n"):
                        result += "\n"
                else:
                    if result and result[-1] != "\n" and needs_space_after(result[-1]):
                        result += " "
            else:
                # same line: smart spacing (stitching.rs:1948-1963)
                needs_spacing = bool(
                    result and result[-1] != "\n" and needs_space_after(result[-1])
                ) or formula_flags[prev]
                if needs_spacing:
                    result += " "
        if formula_flags[i]:
            already = text.startswith("$") or text.startswith("\\(") or text.startswith("\\[")
            if already:
                piece = text
            elif not result or result.endswith("\n"):
                piece = f"$${text}$$"  # display formula
            else:
                piece = f"${text}$"  # inline formula
        else:
            piece = text
        result += piece
        prev = i
    return result.rstrip()
