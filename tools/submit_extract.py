"""spark-submit entry point for the extraction job (north-rule packaging).

The north rule requires the pipeline be "run via spark-submit
--py-files on a multi-executor cluster". This is that driver script:
it carries NO pipeline logic — everything imports from the
`oar_ocr_spark` package shipped in the --py-files zip built by
tools/package_pyfiles.py — and consumes a parquet table of exactly
the input_hint shape (doc_id:string,
spans:array<struct<kind,text,media_ref,offset>>).

Cluster usage:

    python tools/package_pyfiles.py dist/oar_ocr_spark.zip
    spark-submit \\
        --master <cluster-master> \\
        --py-files dist/oar_ocr_spark.zip \\
        tools/submit_extract.py \\
        --input  s3://corpus/docs/          # or any parquet dir \\
        --results s3://corpus/spans/ \\
        --lineage s3://corpus/lineage/ \\
        --n-buckets 4096

Sandbox/test usage (what tests/test_spark_submit.py runs):

    spark-submit --master local[2] --py-files dist/oar_ocr_spark.zip \\
        tools/submit_extract.py --input <docs.parquet> \\
        --results /tmp/r --lineage /tmp/l --n-buckets 4

The job is resumable: rerunning with the same --lineage dir skips
committed hash buckets (one lineage row per bucket lands beside the
results — oar_ocr_spark/lineage.py). Pending buckets run in batches of
64, one extract-and-write pass per batch, and commit one by one after
their batch's write. A crash therefore loses at most one batch: the
rerun redoes that batch's uncommitted buckets and replaces their
results/bucket=<b>/ directories, so no document lands twice.

Prints ONE summary JSON line on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="parquet dir: (doc_id string, spans array<struct<"
                         "kind,text,media_ref,offset>>)")
    ap.add_argument("--results", required=True, help="output parquet root")
    ap.add_argument("--lineage", required=True, help="lineage dir: one row per committed bucket")
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="hash-bucket commit granularity (resume unit); "
                         "buckets run up to 64 per batch, one extract-and-"
                         "write pass each, and a crash loses at most one "
                         "batch")
    ap.add_argument("--text-type", default="general",
                    choices=["general", "rotated", "table", "seal"])
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="override spark.sql.shuffle.partitions")
    args = ap.parse_args(argv)

    # Pin per-worker BLAS pools BEFORE any numpy work: Spark tasks carry
    # the data parallelism; intra-op threads only spin-wait (BENCH.md §1).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("oar_ocr_spark_extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if args.shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()  # master comes from spark-submit

    # Imports resolve from the --py-files zip on every node.
    from oar_ocr_spark.lineage import run_extraction_job
    from oar_ocr_spark.local_ref import ExtractConfig

    docs = spark.read.parquet(args.input)
    missing = {"doc_id", "spans"} - set(docs.columns)
    if missing:
        raise SystemExit(f"--input is missing required columns: {sorted(missing)}")

    summary = run_extraction_job(
        spark,
        docs.select("doc_id", "spans"),
        results_path=args.results,
        lineage_path=args.lineage,
        cfg=ExtractConfig.for_text_type(args.text_type),
        n_buckets=args.n_buckets,
    )
    print(json.dumps({"job": "extract", **summary}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
