"""Resize operator tests — geometric contracts from
resize_detection.rs:243-320 and resize_recognition.rs:84-130."""

import numpy as np
import pytest

from oar_ocr_spark.models.synthetic import BG
from oar_ocr_spark.operators.resize import (
    detection_target_dims,
    nn_resize,
    recognition_row,
    resize_for_detection,
)


def test_detection_dims_max_type_no_shrink_below_limit():
    # max side 500 < 960 → ratio 1, snap to multiples of 32
    assert detection_target_dims(500, 300, 960, "max") == (512, 288)


def test_detection_dims_max_type_shrinks():
    # 2000 > 960 → ratio 0.48 → (960, 480) → snap
    h, w = detection_target_dims(2000, 1000, 960, "max")
    assert h == 960 and w == 480
    assert h % 32 == 0 and w % 32 == 0


def test_detection_dims_min_type_grows():
    h, w = detection_target_dims(100, 400, 736, "min")
    # min side 100 < 736 → ratio 7.36 → (736, 2944)
    assert h == 736 and w == 2944


def test_detection_dims_max_side_limit():
    h, w = detection_target_dims(100, 400, 736, "min", max_side_limit=2000)
    assert max(h, w) <= 2016  # snapped to multiple of 32 after clamp
    assert h % 32 == 0 and w % 32 == 0


def test_detection_dims_floor_32():
    assert detection_target_dims(8, 8, 960, "max") == (32, 32)


def test_detection_rounding_16_rule():
    # (v + 16) // 32 * 32: 47 → 32, 48 → 64
    assert detection_target_dims(47, 47, 960, "max") == (32, 32)
    assert detection_target_dims(48, 48, 960, "max") == (64, 64)


def test_nn_resize_preserves_values():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4) * 20
    out = nn_resize(img, 6, 8)
    assert set(np.unique(out)) <= set(np.unique(img))
    assert out.shape == (6, 8)
    assert nn_resize(img, 3, 4) is img  # no-op passthrough


def test_resize_for_detection_ratios():
    img = np.zeros((100, 200), dtype=np.uint8)
    out, rh, rw = resize_for_detection(img)
    assert out.shape == (96, 192)
    assert abs(rh - 0.96) < 1e-9 and abs(rw - 0.96) < 1e-9


def test_recognition_resize_pad_right():
    crop = np.zeros((20, 40), dtype=np.uint8)  # ratio 2.0
    out = recognition_row(crop, target_h=48, bucket=4)
    assert out.shape == (192,)
    # content occupies left ceil(48*2)=96 cols; the rest is background pad
    assert (out[96:] == BG).all()
    assert (out[:96] == 0).all()


def test_recognition_resize_caps_width():
    crop = np.zeros((10, 10000), dtype=np.uint8)
    out = recognition_row(crop, target_h=48, bucket=1000, max_img_w=3200)
    assert out.shape == (3200,)
    assert (out == 0).all()  # squeezed to the full width, no pad


@pytest.mark.parametrize(
    "h, w", [(1, 1), (7, 3), (20, 40), (33, 150), (48, 48), (49, 120), (90, 31), (96, 200), (13, 400)]
)
@pytest.mark.parametrize("bucket", [1, 2, 4, 7, 32])
def test_recognition_row_is_the_padded_centre_row_of_nn_resize(h, w, bucket):
    # the closed form equals resizing the whole crop with nn_resize to
    # (48, resize_w), padding right to the bucket width and reading row 24
    crop = np.random.default_rng(h * 1000 + w).integers(0, 255, (h, w), dtype=np.uint8)
    batch_w = min(int(np.ceil(48 * bucket)), 3200)
    resize_w = max(min(int(np.ceil(48 * w / h)), batch_w), 1)
    full = np.full((48, batch_w), BG, dtype=np.uint8)
    full[:, :resize_w] = nn_resize(crop, 48, resize_w)
    np.testing.assert_array_equal(recognition_row(crop, 48, bucket), full[24])
    flipped = crop[::-1, ::-1]  # line orientation hands the kernel a view
    full[:, :resize_w] = nn_resize(flipped, 48, resize_w)
    np.testing.assert_array_equal(recognition_row(flipped, 48, bucket), full[24])
