"""CTC decode + word-box tests.

Vectors ported from /root/reference:
- ctc word boxes: src/oarocr/ocr.rs:1198-1232 (seq_len=10, wh=5.0,
  "ABC" cols [1,4,7] → x-extents [0,30],[30,60],[60,100]).
- CTC collapse semantics: oar-ocr-core/src/processors/decode.rs:452-634.
"""

import numpy as np

from oar_ocr_spark.operators.ctc import (
    char_positions_to_word_boxes,
    ctc_collapse_batch,
    ctc_word_boxes,
    is_cjk,
    pred_reverse,
)

VOCAB = ["\0"] + list("0123456789abcdefghijklmnopqrstuvwxyz") + [" "]


def logits_from_indices(indices, vocab_size=len(VOCAB), peak=10.0):
    t = len(indices)
    out = np.zeros((1, t, vocab_size), dtype=np.float32)
    for i, idx in enumerate(indices):
        out[0, i, idx] = peak
    return out


def collapse_argmax(logits):
    """The per-timestep top-1 of (B, T, V) scores, CTC-collapsed (the
    vectors are tie-free, so first-max argmax equals the reference's
    last-max, decode.rs:26-42)."""
    idx = logits.argmax(axis=2)
    prob = np.take_along_axis(logits, idx[:, :, None], axis=2)[:, :, 0]
    return ctc_collapse_batch(idx, prob, VOCAB)


def test_ctc_blank_and_dup_collapse():
    # raw: a a <b> a b b  → "aab" (dup collapsed, blank splits the a's)
    a, bch = VOCAB.index("a"), VOCAB.index("b")
    logits = logits_from_indices([a, a, 0, a, bch, bch])
    [(text, conf, cols, seq_len)] = collapse_argmax(logits)
    assert text == "aab"
    assert cols == [0, 3, 4]
    assert seq_len == 6
    assert conf > 0


def test_ctc_all_blank_means_empty_zero_conf():
    # decode.rs:623-627: empty → mean_conf 0.0
    logits = logits_from_indices([0, 0, 0])
    [(text, conf, cols, _)] = collapse_argmax(logits)
    assert text == "" and conf == 0.0 and cols == []


def test_ctc_mean_confidence_over_kept_only():
    a, b = VOCAB.index("a"), VOCAB.index("b")
    logits = np.zeros((1, 3, len(VOCAB)), dtype=np.float32)
    logits[0, 0, a] = 0.9
    logits[0, 1, 0] = 0.5  # blank, prob not counted
    logits[0, 2, b] = 0.7
    [(text, conf, _, _)] = collapse_argmax(logits)
    assert text == "ab"
    assert abs(conf - 0.8) < 1e-6


def test_ctc_word_boxes_reference_vector():
    # ocr.rs:1198-1232
    line_bbox = np.array([0.0, 0.0, 100.0, 20.0])
    boxes = ctc_word_boxes(line_bbox, "ABC", [1, 4, 7], 10, 5.0, 5.0)
    assert boxes.shape == (3, 4)
    np.testing.assert_allclose(boxes[:, 0], [0.0, 30.0, 60.0], atol=1e-5)
    np.testing.assert_allclose(boxes[:, 2], [30.0, 60.0, 100.0], atol=1e-5)
    np.testing.assert_allclose(boxes[:, 1], [0.0] * 3, atol=1e-5)
    np.testing.assert_allclose(boxes[:, 3], [20.0] * 3, atol=1e-5)


def test_ctc_word_boxes_padding_undo():
    # wh_ratio 2.5 vs batch max 5.0 → effective cols = 5 of 10; content
    # occupies the left half of the padded tensor
    line_bbox = np.array([0.0, 0.0, 50.0, 20.0])
    boxes = ctc_word_boxes(line_bbox, "AB", [1, 3], 10, 2.5, 5.0)
    # cell_width = 50/5 = 10; centers at 15, 35
    np.testing.assert_allclose(boxes[0], [0.0, 0.0, 25.0, 20.0], atol=1e-4)
    np.testing.assert_allclose(boxes[1], [25.0, 0.0, 50.0, 20.0], atol=1e-4)


def test_ctc_word_boxes_cjk_avg_width():
    line_bbox = np.array([0.0, 0.0, 90.0, 20.0])
    boxes = ctc_word_boxes(line_bbox, "中文字", [1, 4, 7], 9, 4.5, 4.5)
    # avg_char_width = 30; centers at 15, 45, 75 → each box 30 wide
    np.testing.assert_allclose(boxes[:, 2] - boxes[:, 0], [30.0] * 3, atol=1e-4)


def test_ctc_word_boxes_degenerate():
    line_bbox = np.array([0.0, 0.0, 100.0, 20.0])
    assert ctc_word_boxes(line_bbox, "", [1], 10, 5.0, 5.0).shape == (0, 4)
    assert ctc_word_boxes(line_bbox, "A", [], 10, 5.0, 5.0).shape == (0, 4)
    assert ctc_word_boxes(line_bbox, "A", [1], 0, 5.0, 5.0).shape == (0, 4)


def test_char_positions_fallback():
    # ocr.rs:1036-1072: uniform width, clamped to line box
    line_bbox = np.array([0.0, 0.0, 100.0, 20.0])
    boxes = char_positions_to_word_boxes(line_bbox, [0.1, 0.5, 0.9], 4)
    assert boxes.shape == (3, 4)
    np.testing.assert_allclose(boxes[1], [37.5, 0.0, 62.5, 20.0], atol=1e-4)


def test_is_cjk():
    assert is_cjk("中") and is_cjk("文")
    assert not is_cjk("a") and not is_cjk("1") and not is_cjk(" ")


def test_pred_reverse():
    # decode.rs:137-159: alnum runs reversed in block order
    assert pred_reverse("abc") == "abc"
    assert pred_reverse("abc中def") == "def中abc"
    assert pred_reverse("中文") == "文中"
