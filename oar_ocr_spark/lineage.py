"""Lineage and checkpoint/resume for the bucketed extraction job.

north_rule obligations: per-bucket lineage rows written alongside
results, and a failed run must resume from a checkpoint without
reprocessing completed ranges.

Design (SURVEY.md §2.9/§4):
- The corpus is processed in `n_buckets` hash ranges of doc_id
  (bucket = pmod(xxhash64(doc_id), n_buckets)) — the Iceberg-snapshot
  analog of a hash-range watermark table.
- Pending buckets run in batches of up to BATCH_BUCKETS: one
  extract_spans and one write per batch. The write is partitioned by
  bucket with dynamic partition overwrite, so results land as
  results/bucket=<b>/ and a retried batch replaces its bucket
  directories instead of duplicating them (the idea behind
  streaming.write_batch_idempotent).
- A bucket commits when its lineage row (stage='bucket_complete') is
  written, after its batch's results have landed; rows are written in
  bucket order.
- resume = skip the buckets that have a lineage row. A crash inside a
  batch leaves its later buckets landed but uncommitted; the rerun
  processes them again and replaces their directories.

On a real deployment the parquet dirs become an Iceberg table and the
lineage dir a second table; the control flow is identical.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .local_ref import ExtractConfig
from .partitioning import spread
from .pipeline import extract_spans

__all__ = ["run_extraction_job", "read_lineage"]

# Buckets per batch (one extract_spans and one write). Spark's per-job
# set-up is paid once per batch, not once per bucket; the cap bounds what
# a crash throws away: the 4096-bucket deploy runs 64 batches, and a
# crash loses at most one batch's buckets.
BATCH_BUCKETS = 64
_BUCKET = "CAST(pmod(xxhash64(`doc_id`), {}) AS INT)"


def _bucket_col(n_buckets: int):
    return F.expr(_BUCKET.format(n_buckets))


def _batch_results(spark, docs, cfg, n_buckets: int, batch: list[int]) -> DataFrame:
    """extract_spans over the documents of the `batch` buckets, with their
    `bucket` column, spread so that each bucket goes to one write task:
    one file per bucket at any corpus size, and the batch's files are
    written in parallel."""
    if len(batch) < n_buckets:
        docs = docs.where(f"{_BUCKET.format(n_buckets)} IN ({', '.join(map(str, batch))})")
    out = extract_spans(spark, docs, cfg).withColumn("bucket", _bucket_col(n_buckets))
    return spread(out, spark.sparkContext.defaultParallelism, "bucket")


def _completed_buckets(lineage_path: str) -> set[int]:
    done: set[int] = set()
    if not os.path.isdir(lineage_path):
        return done
    for name in os.listdir(lineage_path):
        if name.startswith("bucket_complete-"):
            with open(os.path.join(lineage_path, name)) as f:
                for line in f:
                    rec = json.loads(line)
                    done.add(int(rec["bucket"]))
    return done


def _landed_docs(bucket_dir: str) -> int:
    """Rows written under one bucket directory, from the parquet footers
    alone: no Spark job, and the extraction DAG is not run again."""
    if not os.path.isdir(bucket_dir):
        return 0
    return sum(
        pq.read_metadata(os.path.join(bucket_dir, name)).num_rows
        for name in os.listdir(bucket_dir)
        if name.endswith(".parquet")
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    results_path: str,
    lineage_path: str,
    cfg: ExtractConfig | None = None,
    n_buckets: int = 8,
    fail_after_bucket: int | None = None,
) -> dict:
    """Extract `docs` in hash buckets with per-bucket commit + resume.

    The pending buckets run BATCH_BUCKETS at a time, one extract_spans
    and one write per batch. Each bucket's lineage row holds `n_docs`
    (the rows that landed in its directory), `batch_buckets` (how many
    buckets its batch held) and `elapsed_ms`: the wall time of the
    whole batch (the extraction, the partitioned write and the parquet
    footer reads that count `n_docs`), shared by every bucket of the
    batch — not a per-bucket time.

    Returns a summary dict. `fail_after_bucket=k` raises after the k-th
    lineage commit of this call (test hook for the resume path); it can
    fall inside a batch, whose later buckets then stay landed but
    uncommitted until a rerun replaces them.
    """
    cfg = cfg or ExtractConfig()
    os.makedirs(lineage_path, exist_ok=True)
    done = _completed_buckets(lineage_path)
    pending = [b for b in range(n_buckets) if b not in done]
    processed = 0
    for i in range(0, len(pending), BATCH_BUCKETS):
        batch = pending[i : i + BATCH_BUCKETS]
        t0 = time.time()
        bucket_dirs = {b: os.path.join(results_path, f"bucket={b}") for b in batch}
        # a bucket that comes out empty writes no directory, so dynamic
        # overwrite alone would keep an earlier attempt's stale one
        for d in bucket_dirs.values():
            shutil.rmtree(d, ignore_errors=True)
        (
            _batch_results(spark, docs, cfg, n_buckets, batch)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(results_path)
        )
        n_docs = {b: _landed_docs(d) for b, d in bucket_dirs.items()}
        elapsed_ms = round((time.time() - t0) * 1000, 3)
        for b in batch:
            # commit: the lineage row is written only after the results land
            rec = {
                "stage": "bucket_complete",
                "bucket": b,
                "n_docs": n_docs[b],
                "batch_buckets": len(batch),
                "elapsed_ms": elapsed_ms,
            }
            with open(os.path.join(lineage_path, f"bucket_complete-{b}.json"), "w") as f:
                f.write(json.dumps(rec) + "\n")
            processed += 1
            if fail_after_bucket is not None and processed >= fail_after_bucket:
                raise RuntimeError(f"injected failure after {processed} buckets")
    return {"processed_buckets": processed, "skipped_buckets": n_buckets - len(pending), "n_buckets": n_buckets}


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Completed-bucket lineage rows as a DataFrame."""
    rows = []
    for name in sorted(os.listdir(lineage_path)):
        if name.startswith("bucket_complete-"):
            with open(os.path.join(lineage_path, name)) as f:
                rows.extend(json.loads(line) for line in f)
    return spark.createDataFrame(
        [
            (r["stage"], int(r["bucket"]), int(r["n_docs"]), int(r.get("batch_buckets", 1)), float(r["elapsed_ms"]))
            for r in rows
        ],
        "stage string, bucket int, n_docs long, batch_buckets int, elapsed_ms double",
    )
