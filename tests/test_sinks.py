"""save_results parity: results + JSON + annotated-image sinks
(structure.rs:1072); annotation boxes land on the ORIGINAL image in
back-mapped coordinates."""

import json

import numpy as np
from pyspark.sql import functions as F

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.fixtures.render import render_page
from oar_ocr_spark.functions.png import decode_png
from oar_ocr_spark.local_ref import ExtractConfig, detect_and_crop, preprocess_page_full
from oar_ocr_spark.operators.geometry import rotate_back_to_original
from oar_ocr_spark.pipeline import extract_spans
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA
from oar_ocr_spark.sinks import BOX_OUTLINE, annotate_page, save_results


def test_annotate_page_draws_backmapped_outlines():
    # rotated configs detect quads: the boxes are their AABBs, the same
    # detect_and_crop boxes extraction recognizes
    pages = [(ExtractConfig(), ref) for ref in ["40_m0", "7_m1", "123_m2"]]
    rotated = ExtractConfig(text_type="rotated")
    pages += [(rotated, f"rot:{i}_m0") for i in range(20)]
    for cfg, ref in pages:
        png, w, h, n = annotate_page(ref, cfg)
        img = render_page(ref)
        assert (w, h) == (img.shape[1], img.shape[0])
        annotated = decode_png(png)
        # original pixels never use the outline intensity
        assert not (img == BOX_OUTLINE).any()
        upright, _cls, rotation = preprocess_page_full(img, cfg)
        boxes = np.array([box for _crop, box in detect_and_crop(upright, cfg)], dtype=np.float32)
        assert n == len(boxes) > 0
        if rotation is not None:
            boxes = rotate_back_to_original(boxes, *rotation)
        # every box's top edge is drawn at its back-mapped position
        for b in boxes:
            x1, y1 = max(int(np.floor(b[0])), 0), max(int(np.floor(b[1])), 0)
            x2 = min(int(np.ceil(b[2])), annotated.shape[1])
            assert (annotated[min(y1, annotated.shape[0] - 1), x1:x2] == BOX_OUTLINE).all()
        # outside-of-outline pixels are untouched
        mask = annotated == BOX_OUTLINE
        assert (annotated[~mask] == img[~mask]).all()


def test_save_results_writes_all_artifacts(spark, tmp_path):
    docs = generate_documents(6, seed=21)
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    results = extract_spans(spark, df)
    refs = (
        df.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    paths = save_results(results, str(tmp_path / "out"), media_refs=refs)

    back = spark.read.parquet(paths["results"])
    assert back.count() == 6

    js = spark.read.parquet(paths["results_json"]).collect()
    assert len(js) == 6
    parsed = json.loads(js[0]["json"])
    assert set(parsed) == {"doc_id", "spans"}

    ann = spark.read.parquet(paths["annotated"]).collect()
    assert len(ann) == refs.count()
    sample = ann[0]
    img = decode_png(bytes(sample["annotated_png"]))
    assert img.shape == (sample["height"], sample["width"])
    assert ((img == BOX_OUTLINE).any()) == (sample["n_boxes"] > 0)
