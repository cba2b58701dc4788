"""Streaming surface test: the extraction DAG via foreachBatch over a
file stream — results equal the batch path, checkpointed restart
doesn't reprocess consumed input."""

import os

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.local_ref import extract_document_spans
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA
from oar_ocr_spark.streaming import extract_stream


def _write_docs(spark, docs, path):
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_stream_extracts_and_resumes(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = generate_documents(16, seed=33)
    _write_docs(spark, docs[:8], inp)
    spark.catalog.clearCache()

    q = extract_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    # no micro-batch leaves a cached copy of its input behind
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    got1 = spark.read.parquet(out)
    assert got1.select("doc_id").distinct().count() == 8

    # second shard arrives; a new availableNow run picks up ONLY it
    _write_docs(spark, docs[8:], inp)
    q2 = extract_stream(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out)
    assert got2.select("doc_id").distinct().count() == 16
    assert got2.count() == 16  # no doc reprocessed/duplicated

    # with no new file the source runs no micro-batch at all, which is
    # why process_batch needs no isEmpty() guard
    batches = sorted(os.listdir(out))
    q3 = extract_stream(spark, inp, out, ckpt)
    q3.awaitTermination(120)
    assert sorted(os.listdir(out)) == batches

    # spans equal the single-process golden for a sample doc
    sample = docs[3]
    row = got2.where(got2.doc_id == sample["doc_id"]).collect()[0]
    exp = extract_document_spans(sample["spans"])
    assert [
        (s["kind"], s["text"], s["media_ref"], s["order"]) for s in row["spans"]
    ] == [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in exp]


def test_dedup_stream_keyed_state_across_batches(spark, tmp_path):
    from oar_ocr_spark.streaming import dedup_stream

    inp = str(tmp_path / "din")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")
    shard1 = [("d1", "alpha beta"), ("d2", "gamma"), ("d3", "Alpha  Beta")]
    shard2 = [("d4", "alpha beta"), ("d5", "delta"), ("d6", "delta")]
    spark.createDataFrame(shard1, "doc_id string, text string").coalesce(1).write.mode(
        "append"
    ).parquet(inp)

    q = dedup_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    got1 = {r["keep_doc_id"] for r in spark.read.parquet(out).collect()}
    # d3 normalizes to d1's fingerprint → dropped within the batch
    assert got1 == {"d1", "d2"}

    spark.createDataFrame(shard2, "doc_id string, text string").coalesce(1).write.mode(
        "append"
    ).parquet(inp)
    q2 = dedup_stream(spark, inp, out, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out).collect()
    got2 = {r["keep_doc_id"] for r in rows}
    # d4 duplicates d1 ACROSS batches → suppressed by keyed state;
    # d6 duplicates d5 within the new batch → suppressed too
    assert got2 == {"d1", "d2", "d5"}
    assert len(rows) == 3


def test_batch_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch retry simulation: re-writing the SAME batch_id
    (even from a partial state) replaces its partition wholesale — no
    duplicate rows survive a replay."""
    from pyspark.sql import functions as F

    from oar_ocr_spark.pipeline import extract_spans
    from oar_ocr_spark.streaming import write_batch_idempotent

    out = str(tmp_path / "replay_out")
    docs = generate_documents(6, seed=9)
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)

    # first (simulated partial) delivery of batch 0: half the docs
    half = df.where(F.col("doc_id").isin([d["doc_id"] for d in docs[:3]]))
    write_batch_idempotent(extract_spans(spark, half), out, batch_id=0)
    assert spark.read.parquet(out).count() == 3

    # the retry re-runs the FULL batch 0 → replaces, never appends
    write_batch_idempotent(extract_spans(spark, df), out, batch_id=0)
    got = spark.read.parquet(out)
    assert got.count() == 6
    assert got.select("doc_id").distinct().count() == 6

    # a second replay of the identical batch is a no-op on row counts
    write_batch_idempotent(extract_spans(spark, df), out, batch_id=0)
    assert spark.read.parquet(out).count() == 6
