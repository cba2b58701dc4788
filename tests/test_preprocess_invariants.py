"""Preprocess metadata invariants (preprocess.rs:9-12, 87-91):
orientation correction carries back-mapping metadata; rectification
disables it (rotation=None)."""

import numpy as np

from oar_ocr_spark.fixtures.render import page_truth, render_page
from oar_ocr_spark.local_ref import ExtractConfig, extract_page, preprocess_page_full
from oar_ocr_spark.operators.geometry import rotate_back_to_original


def test_rotation_metadata_present_without_rectification():
    cfg = ExtractConfig()
    for i in range(8):
        ref = f"inv_{i}"
        truth = page_truth(ref)
        img = render_page(ref)
        upright, cls, rotation = preprocess_page_full(img, cfg)
        assert cls == truth.orientation_class
        assert rotation == (cls * 90, truth.width, truth.height)


def test_rectification_disables_back_mapping():
    cfg = ExtractConfig(use_rectification=True)
    img = render_page("inv_rect")
    upright, _cls, rotation = preprocess_page_full(img, cfg)
    assert rotation is None  # rectified ⇒ results stay in rectified space


def test_rectified_extraction_identical_for_flat_pages():
    # synthetic pages are flat, so the identity rectifier must not
    # change the extraction result — but the metadata contract differs
    ref = "inv_same"
    a = extract_page(render_page(ref), ExtractConfig())
    b = extract_page(render_page(ref), ExtractConfig(use_rectification=True))
    assert a == b


def test_rotate_back_maps_upright_boxes_to_source():
    # end-to-end: detected upright boxes + rotation metadata map back
    # into source-image coordinates (ocr.rs:899-926 semantics)
    from oar_ocr_spark.local_ref import detect_page

    cfg = ExtractConfig()
    for i in range(6):
        ref = f"invmap_{i}"
        truth = page_truth(ref)
        if truth.orientation_class == 0:
            continue
        img = render_page(ref)
        upright, cls, rotation = preprocess_page_full(img, cfg)
        boxes, _ = detect_page(upright, cfg)
        assert rotation is not None
        angle, rw, rh = rotation
        back = rotate_back_to_original(boxes, angle, rw, rh)
        H, W = img.shape
        assert (back[:, 0] >= 0).all() and (back[:, 2] <= W + 0.5).all()
        assert (back[:, 1] >= 0).all() and (back[:, 3] <= H + 0.5).all()
        # round-trip: mapping the source-space boxes forward again must
        # land on the upright boxes (inverse relationship)
        k = cls % 4
        rot_img_boxes = back
        x1, y1, x2, y2 = (rot_img_boxes[:, j] for j in range(4))
        if k == 1:  # correction was 90° CCW: source (x,y) -> (y, W-x)
            fwd = np.stack([y1, W - x2, y2, W - x1], axis=1)
        elif k == 2:
            fwd = np.stack([W - x2, H - y2, W - x1, H - y1], axis=1)
        else:  # k == 3: correction was 90° CW: (x,y) -> (H-y, x)
            fwd = np.stack([H - y2, x1, H - y1, x2], axis=1)
        np.testing.assert_allclose(fwd, boxes, atol=1e-3)


def test_rectification_unwarps_exactly():
    # the UVDoc stand-in now performs a REAL unwarp: the vertical sag
    # (A in 12..16 > half the line height) breaks the unrectified
    # decode, and rectification recovers the exact drawn text
    from oar_ocr_spark.fixtures.render import page_truth, render_page
    from oar_ocr_spark.local_ref import ExtractConfig, extract_page

    rectified_ok = 0
    raw_wrong = 0
    for i in range(12):
        ref = f"warp:t{i}"
        exp = [r.text for r in page_truth(ref).regions]
        img = render_page(ref)
        got = [t for t, _ in extract_page(img, ExtractConfig(use_rectification=True))]
        assert got == exp, (ref, exp, got)
        rectified_ok += 1
        raw = [t for t, _ in extract_page(img, ExtractConfig())]
        if raw != exp:
            raw_wrong += 1
    assert rectified_ok == 12
    assert raw_wrong >= 8  # the warp genuinely matters


def test_rectifier_identity_on_flat_pages():
    import numpy as np

    from oar_ocr_spark.fixtures.render import render_page
    from oar_ocr_spark.local_ref import _rectify

    img = render_page("flat_0")
    assert np.array_equal(_rectify(img), img)


def test_recognize_crops_is_batching_invariant():
    # each crop's result depends on that crop alone: one batch, one crop
    # per call and a shuffled batch agree, also where the score
    # threshold blanks every text
    import random

    from oar_ocr_spark.fixtures.render import render_page
    from oar_ocr_spark.local_ref import (
        ExtractConfig,
        detect_and_crop,
        preprocess_page,
        recognize_crop,
        recognize_crops,
    )

    for cfg, refs in [
        (ExtractConfig(), [f"{i}_m{i % 3}" for i in range(12)]),
        (ExtractConfig(text_type="rotated"), [f"rot:{i}_m0" for i in range(6)]),
        (ExtractConfig(rec_score_threshold=0.99), [f"{i}_m1" for i in range(6)]),
    ]:
        crops = [
            crop
            for ref in refs
            for crop, _box in detect_and_crop(preprocess_page(render_page(ref), cfg)[0], cfg)
        ]
        batch = recognize_crops(crops, cfg)
        assert len(batch) == len(crops) > len(refs)
        assert len({t[3] for t in batch}) > 1  # several buckets in one batch
        assert [recognize_crops([c], cfg)[0] for c in crops] == batch
        assert [recognize_crop(c, cfg) for c in crops] == [t[:2] for t in batch]
        perm = list(range(len(crops)))
        random.Random(5).shuffle(perm)
        shuffled = recognize_crops([crops[p] for p in perm], cfg)
        assert {p: r for p, r in zip(perm, shuffled)} == dict(enumerate(batch))
