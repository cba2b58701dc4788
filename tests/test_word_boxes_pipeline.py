"""return_word_box mode through the Spark DAG: per-character boxes lie
inside their detection box, are contiguous left→right, and one box per
recognized character."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from oar_ocr_spark.local_ref import ExtractConfig
from oar_ocr_spark.pipeline import detect_crops_from_flat, recognize_with_word_boxes
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA


def _crops(docs, cfg):
    flat = docs.select("doc_id", F.explode_outer("spans").alias("s"))
    return detect_crops_from_flat(flat, cfg)


def test_word_boxes_through_pipeline(spark):
    docs = [(f"wb{d}", [("media", None, f"wb{d}_m", 0)]) for d in range(6)]
    df = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    cfg = ExtractConfig()
    crops = _crops(df, cfg)
    rows = recognize_with_word_boxes(crops, cfg).collect()
    assert rows
    checked = 0
    for r in rows:
        if not r["text"]:
            continue
        wb = r["word_boxes"]
        assert len(wb) == len(r["text"])
        xs = [b[0] for b in wb]
        assert xs == sorted(xs)
        # boxes nested within the crop's detection box height
        for b in wb:
            assert b[2] > b[0] and b[3] > b[1]
        checked += 1
    assert checked >= 5


def test_word_boxes_blanked_with_text(spark):
    # when the score threshold blanks a row's text, its word boxes must
    # be blanked too (no empty-text rows with non-empty boxes)
    docs = [(f"wbt{d}", [("media", None, f"wbt{d}_m", 0)]) for d in range(3)]
    df = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    cfg = ExtractConfig(rec_score_threshold=0.99)
    rows = recognize_with_word_boxes(_crops(df, cfg), cfg).collect()
    assert rows
    for r in rows:
        assert r["text"] == ""
        assert r["word_boxes"] == []


def _reference(row, cfg):
    """One crop recognized on its own by the kernel, plus
    ctc_word_boxes, which gives a blanked text no boxes."""
    import zlib

    from oar_ocr_spark.local_ref import recognize_crops
    from oar_ocr_spark.operators.ctc import ctc_word_boxes

    crop = np.frombuffer(zlib.decompress(row["crop"]), dtype=np.uint8).reshape(
        row["crop_h"], row["crop_w"]
    )
    [(text, conf, cols, T)] = recognize_crops([crop], cfg)
    bbox = np.asarray([row["x1"], row["y1"], row["x2"], row["y2"]], dtype=np.float32)
    wb = ctc_word_boxes(bbox, text, cols, T, float(row["wh_ratio"]), float(row["bucket"]))
    return text, np.float32(conf), np.asarray(wb, dtype=np.float32).tolist()


@pytest.mark.parametrize("threshold", [0.0, 0.99])
def test_word_boxes_match_per_crop_reference(spark, threshold):
    from oar_ocr_spark.pipeline import recognize_df

    docs = [(f"wbr{d}", [("media", None, f"wbr{d}_m", 0)]) for d in range(4)]
    df = spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA)
    cfg = ExtractConfig(rec_score_threshold=threshold)
    crops = _crops(df, cfg).localCheckpoint()
    key = ("doc_id", "offset", "det_idx")
    ref = {tuple(r[k] for k in key): _reference(r, cfg) for r in crops.collect()}
    got = {
        tuple(r[k] for k in key): (
            r["text"],
            np.float32(r["confidence"]),
            np.asarray(r["word_boxes"], dtype=np.float32).tolist(),
        )
        for r in recognize_with_word_boxes(crops, cfg).collect()
    }
    assert len(ref) >= 5
    assert got == ref
    plain = {
        tuple(r[k] for k in key): (r["text"], np.float32(r["confidence"]))
        for r in recognize_df(crops, cfg).collect()
    }
    assert plain == {k: v[:2] for k, v in ref.items()}
