"""Structured Streaming surface for the extraction DAG.

The reference is strictly batch (SURVEY.md §2.9) and the north_rule is
batch-over-snapshots, so streaming is not load-bearing — but the stage
DAG ports directly to `foreachBatch`, and this module proves it: a
file/Iceberg stream of documents(doc_id, spans) is extracted
micro-batch by micro-batch with exactly the same `extract_spans` plan.
foreachBatch is an at-least-once contract (a micro-batch can be
retried after a partial write), so the sink write is made IDEMPOTENT:
each batch overwrites its own batch_id=<id> partition directory — a
retry replaces, never duplicates — which combined with the source's
checkpointed offsets gives exactly-once OBSERVABLE results (replay
pinned by test_streaming.test_batch_replay_is_exactly_once).

At corpus scale this is the "continuously arriving crawl shards" mode:
each micro-batch is one snapshot delta; lineage/metrics integration is
the same as the batch path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .local_ref import ExtractConfig
from .pipeline import extract_spans
from .schemas import DOCUMENTS_SCHEMA

__all__ = ["extract_stream", "dedup_stream", "write_batch_idempotent"]


def write_batch_idempotent(df: DataFrame, results_path: str, batch_id: int) -> None:
    """The exactly-once sink both streams use: each micro-batch
    overwrites its own batch_id=<id> partition directory. foreachBatch
    is an at-least-once contract — a batch can be re-run after a
    partial write — but replaying batch N replaces batch N's directory
    wholesale, so observable results are exactly-once (pinned by
    test_streaming.test_batch_replay_is_exactly_once). Combined with
    the source's checkpointed offsets (a COMMITTED batch is never
    redelivered), the end-to-end pipeline is effectively exactly-once.
    """
    df.write.mode("overwrite").parquet(
        os.path.join(results_path, f"batch_id={batch_id}")
    )


def extract_stream(
    spark: SparkSession,
    input_path: str,
    results_path: str,
    checkpoint_path: str,
    cfg: ExtractConfig | None = None,
) -> StreamingQuery:
    """readStream(documents parquet dir) → extract_spans per micro-batch
    → append parquet. Returns the started StreamingQuery, which
    processes the input available at start (trigger availableNow, the
    snapshot-delta mode) and stops."""
    cfg = cfg or ExtractConfig()
    stream = spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(input_path)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the file source starts a batch only when a file is new, so an
        # isEmpty() check would only cost a Spark job per batch
        out = extract_spans(batch_df.sparkSession, batch_df, cfg)
        write_batch_idempotent(out, results_path, batch_id)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_path
    )
    return writer.trigger(availableNow=True).start()


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    results_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Streaming exact dedup with KEYED STATE: a continuously arriving
    corpus of (doc_id, text) rows is deduplicated across micro-batches
    — only the first document per normalized-content fingerprint is
    ever emitted; later arrivals (same batch or any later batch) are
    dropped. This is the custom stateful operator the batch
    exact_dedup cannot express over an unbounded stream: the
    seen-fingerprint set lives in Spark's managed per-key state
    (applyInPandasWithState, checkpointed with the query), so a
    restarted stream keeps its memory of what it already kept.

    Output rows: (fp, keep_doc_id) appended to a batch_id-partitioned
    parquet (idempotent per micro-batch, like extract_stream). Like
    extract_stream, the query processes the input available at start
    (trigger availableNow) and stops.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    in_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = spark.readStream.schema(in_schema).parquet(input_path)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), "\\s+", " ")
    keyed = stream.select(
        F.md5(norm).alias("fp"), F.col("doc_id").cast("string").alias("doc_id")
    ).groupBy("fp")

    out_schema = T.StructType(
        [
            T.StructField("fp", T.StringType()),
            T.StructField("keep_doc_id", T.StringType()),
        ]
    )
    state_schema = T.StructType([T.StructField("seen", T.BooleanType())])

    def first_per_fp(key, pdfs, state: "GroupState"):
        import pandas as pd

        if state.exists:
            # fingerprint already kept in an earlier micro-batch
            for _ in pdfs:
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf["doc_id"].min()
                best = cand if best is None else min(best, cand)
        if best is None:
            return
        state.update((True,))
        yield pd.DataFrame({"fp": [key[0]], "keep_doc_id": [best]})

    deduped = keyed.applyInPandasWithState(
        first_per_fp,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_batch_idempotent(batch_df, results_path, batch_id)

    writer = deduped.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_path
    )
    return writer.trigger(availableNow=True).start()
