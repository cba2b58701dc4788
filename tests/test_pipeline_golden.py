"""End-to-end golden tests: the Spark pipeline's span output must equal
the single-process reference's span sequence EXACTLY on
(kind, text, media_ref, order) per document, and must be identical
across parallelism levels and page sources (BASELINE.json invariant)."""

import pytest

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.local_ref import ExtractConfig, extract_document_spans
from oar_ocr_spark.pipeline import extract_spans
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA, RESULTS_SCHEMA


def docs_df(spark, docs):
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


def collect_spans(df):
    out = {}
    for row in df.collect():
        out[row["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
        ]
    return out


def golden(docs):
    cfg = ExtractConfig()
    out = {}
    for d in docs:
        out[d["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_document_spans(d["spans"], cfg)
        ]
    return out


@pytest.fixture(scope="module")
def corpus():
    # seed=11 chosen so the corpus includes at least one heavy doc
    docs = generate_documents(120, seed=11)
    assert max(len(d["spans"]) for d in docs) == 200, "want a heavy doc in the corpus"
    return docs


def test_spark_matches_golden_exactly(spark, corpus):
    df = docs_df(spark, corpus)
    result = collect_spans(extract_spans(spark, df, num_partitions=4))
    expected = golden(corpus)
    assert set(result) == set(expected)
    mismatches = [d for d in expected if result[d] != expected[d]]
    assert mismatches == [], f"span mismatch for {mismatches[:3]}: " + str(
        [(result[d][:4], expected[d][:4]) for d in mismatches[:1]]
    )


def test_partition_invariance(spark, corpus):
    docs = corpus[:40]
    df = docs_df(spark, docs)
    a = collect_spans(extract_spans(spark, df, num_partitions=2))
    b = collect_spans(extract_spans(spark, df, num_partitions=13))
    assert a == b


def test_doc_with_no_output_spans_kept(spark):
    docs = [{"doc_id": "empty1", "spans": []}]
    df = docs_df(spark, docs)
    result = collect_spans(extract_spans(spark, df))
    assert result == {"empty1": []}


def test_output_schema(spark, corpus):
    df = docs_df(spark, corpus[:5])
    out = extract_spans(spark, df)
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    span_fields = out.schema["spans"].dataType.elementType.fieldNames()
    assert span_fields == ["kind", "text", "media_ref", "order", "confidence"]
    # the declared schema is what comes out, nullability included
    # (spans is never null: a document with no output spans gets [])
    assert out.schema == RESULTS_SCHEMA
    # the plan is built from SQL strings; every name in them is
    # backquoted, so reserved-keyword enforcement (`offset`, `order`)
    # cannot break it
    prev = spark.conf.get("spark.sql.ansi.enforceReservedKeywords")
    spark.conf.set("spark.sql.ansi.enforceReservedKeywords", "true")
    try:
        assert extract_spans(spark, df).schema == RESULTS_SCHEMA
    finally:
        spark.conf.set("spark.sql.ansi.enforceReservedKeywords", prev)


def test_rotated_text_spark_matches_golden(spark):
    # rotated-text flavor: min-area-rect quads + perspective crops,
    # exercised through the full distributed DAG at two partitionings
    cfg = ExtractConfig(text_type="rotated")
    docs = []
    for d in range(14):
        docs.append(
            {
                "doc_id": f"rotdoc{d}",
                "spans": [
                    {"kind": "text", "text": f"intro {d}", "media_ref": None, "offset": 0},
                    {"kind": "media", "text": None, "media_ref": f"rot:g{d}a", "offset": 1},
                    {"kind": "media", "text": None, "media_ref": f"rot:g{d}b", "offset": 2},
                    {"kind": "text", "text": f"outro {d}", "media_ref": None, "offset": 3},
                ],
            }
        )
    df = docs_df(spark, docs)
    expected = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_document_spans(d["spans"], cfg)
        ]
        for d in docs
    }
    # every page must actually contribute recognized rotated spans
    assert all(len(v) > 2 for v in expected.values())
    for parts in (2, 7):
        result = collect_spans(extract_spans(spark, df, cfg, num_partitions=parts))
        assert result == expected, f"rotated span mismatch at P={parts}"


def test_warped_pages_spark_matches_golden(spark):
    # UVDoc rectification through the distributed DAG: warped media
    # spans decode exactly when use_rectification=True, and the output
    # equals the single-process golden
    cfg = ExtractConfig(use_rectification=True)
    docs = []
    for d in range(10):
        docs.append(
            {
                "doc_id": f"warpdoc{d}",
                "spans": [
                    {"kind": "media", "text": None, "media_ref": f"warp:g{d}", "offset": 0},
                    {"kind": "text", "text": f"tail {d}", "media_ref": None, "offset": 1},
                ],
            }
        )
    df = docs_df(spark, docs)
    expected = {
        d["doc_id"]: [
            (s["kind"], s["text"], s["media_ref"], s["order"])
            for s in extract_document_spans(d["spans"], cfg)
        ]
        for d in docs
    }
    assert all(len(v) >= 2 for v in expected.values())
    result = collect_spans(extract_spans(spark, df, cfg, num_partitions=3))
    assert result == expected
    # and the recovered media text equals the DRAWN truth, not merely
    # the golden (the rectifier inverts the warp exactly)
    from oar_ocr_spark.fixtures.render import page_truth

    for d in docs:
        truth = [r.text for r in page_truth(d["spans"][0]["media_ref"]).regions]
        media_texts = [t for k, t, _, _ in result[d["doc_id"]] if k == "media"]
        assert media_texts == truth


def test_media_store_png_matches_golden(spark, corpus):
    """Real-format source: pages arrive as REAL PNG bytes in a media
    store side table (load_image_from_memory parity) — output must
    equal the render-path golden exactly (PNG is lossless)."""
    from pyspark.sql import functions as F

    from oar_ocr_spark.functions.multimodal import png_store_df

    docs = corpus[:30]
    df = docs_df(spark, docs)
    refs = (
        df.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    store = png_store_df(refs)
    result = collect_spans(
        extract_spans(spark, df, num_partitions=4, media_store=store)
    )
    expected = golden(docs)
    assert result == {d["doc_id"]: expected[d["doc_id"]] for d in docs}


def test_media_store_gif_tiff_bmp_matches_golden(spark, corpus):
    """Legacy-format source: pages arrive as REAL GIF / TIFF / BMP
    bytes (format + encoder options crc32-chosen per ref, so all three
    decoders run) — output must equal the render-path golden exactly
    (all three are lossless on grey pages)."""
    from pyspark.sql import functions as F

    from oar_ocr_spark.functions.multimodal import legacy_store_df

    docs = corpus[:30]
    df = docs_df(spark, docs)
    refs = (
        df.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    store = legacy_store_df(refs)
    # the crc32 format split must actually cover all three decoders
    import zlib

    fmts = {zlib.crc32(r["media_ref"].encode("utf-8")) % 3 for r in refs.collect()}
    assert fmts == {0, 1, 2}
    result = collect_spans(
        extract_spans(spark, df, num_partitions=4, media_store=store)
    )
    expected = golden(docs)
    assert result == {d["doc_id"]: expected[d["doc_id"]] for d in docs}


def test_media_store_missing_ref_dropped(spark):
    """A media span whose ref is absent from the store is dropped (the
    malformed-row policy), not a task failure."""
    from pyspark.sql import functions as F

    from oar_ocr_spark.functions.multimodal import png_store_df

    docs = generate_documents(4, seed=5)
    df = docs_df(spark, docs)
    refs = (
        df.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
        .orderBy("media_ref")
        .limit(1)  # store holds just one ref; the rest are "missing"
    )
    store = png_store_df(refs)
    out = collect_spans(extract_spans(spark, df, media_store=store))
    kept_refs = {
        s[2] for spans in out.values() for s in spans if s[0] == "media"
    }
    assert len(kept_refs) <= 1  # only the stored ref can produce spans
