"""Lineage + checkpoint/resume tests: a failed run must resume without
reprocessing committed buckets, batching pending buckets into one job
must not duplicate rows, and every bucket commits a lineage row."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.lineage import _bucket_col, read_lineage, run_extraction_job
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA


def docs_df(spark, docs):
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


@pytest.fixture()
def corpus_df(spark):
    return docs_df(spark, generate_documents(60, seed=21))


def _cache_empty(spark):
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _files(bucket_dir):
    return {
        name: os.stat(os.path.join(bucket_dir, name)).st_mtime_ns
        for name in os.listdir(bucket_dir)
    }


def test_resume_skips_completed_buckets(spark, corpus_df, tmp_path):
    results = tmp_path / "results"
    lineage = tmp_path / "lineage"
    spark.catalog.clearCache()
    # first run dies after 3 committed buckets: one batch of 6 buckets
    # lands whole, so buckets 3..5 are on disk but uncommitted
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(
            spark, corpus_df, str(results), str(lineage), n_buckets=6, fail_after_bucket=3
        )
    # a long-lived session keeps no cached copy of any batch's input
    assert _cache_empty(spark)
    assert read_lineage(spark, str(lineage)).count() == 3
    assert sorted(os.listdir(lineage)) == [f"bucket_complete-{b}.json" for b in range(3)]
    # each bucket lands as one file, written by one task
    assert all(len(list((results / f"bucket={b}").glob("*.parquet"))) == 1 for b in range(6))
    committed = {b: _files(results / f"bucket={b}") for b in range(3)}
    committed_rows = {b: (lineage / f"bucket_complete-{b}.json").read_text() for b in range(3)}
    # stale rows in an uncommitted bucket: another bucket's documents,
    # as a half-finished earlier attempt might have left them
    src = next(p for p in (results / "bucket=0").iterdir() if p.suffix == ".parquet")
    shutil.copy(src, results / "bucket=4" / "part-stale.parquet")
    assert spark.read.parquet(str(results)).count() > corpus_df.count()

    # resume: completes only the remaining buckets
    summary = run_extraction_job(spark, corpus_df, str(results), str(lineage), n_buckets=6)
    assert summary == {"processed_buckets": 3, "skipped_buckets": 3, "n_buckets": 6}
    assert _cache_empty(spark)
    lin = read_lineage(spark, str(lineage))
    assert lin.count() == 6
    # all docs present exactly once in the results
    out = spark.read.parquet(str(results))
    assert out.count() == corpus_df.count()
    assert out.groupBy("doc_id").count().where("count > 1").count() == 0
    assert {r.doc_id for r in out.select("doc_id").collect()} == {
        r.doc_id for r in corpus_df.select("doc_id").collect()
    }
    # committed buckets were not reprocessed: files and lineage rows untouched
    assert {b: _files(results / f"bucket={b}") for b in range(3)} == committed
    assert {b: (lineage / f"bucket_complete-{b}.json").read_text() for b in range(3)} == committed_rows
    # lineage doc counts add up
    assert lin.agg(F.sum("n_docs")).collect()[0][0] == corpus_df.count()


def test_empty_bucket_commits_zero_docs(spark, tmp_path):
    docs = docs_df(spark, generate_documents(3, seed=5))
    results, lineage = tmp_path / "results", tmp_path / "lineage"
    n = 8  # three documents leave at least five buckets empty
    want = {
        r["b"]: r["count"]
        for r in docs.select(_bucket_col(n).alias("b")).groupBy("b").count().collect()
    }
    # an earlier attempt's rows in a bucket that comes out empty: the
    # write lands nothing there, so the job itself must clear them
    empty = min(b for b in range(n) if b not in want)
    (results / f"bucket={empty}").mkdir(parents=True)
    pq.write_table(pa.table({"doc_id": ["stale"]}), results / f"bucket={empty}" / "part-stale.parquet")
    run_extraction_job(spark, docs, str(results), str(lineage), n_buckets=n)
    lin = {r.bucket: r.n_docs for r in read_lineage(spark, str(lineage)).collect()}
    assert lin == {b: want.get(b, 0) for b in range(n)}
    assert sum(v == 0 for v in lin.values()) >= n - 3
    assert spark.read.parquet(str(results)).count() == 3


def test_bucket_count_does_not_add_jobs(spark, corpus_df, tmp_path):
    sc = spark.sparkContext
    jobs = {}
    for n in (1, 8):
        group = f"lineage-jobs-{n}"
        # cold cache for both: extract_spans persists its exploded input,
        # and an identical plan from the earlier call would hit that cache
        spark.catalog.clearCache()
        sc.setJobGroup(group, group)
        try:
            run_extraction_job(
                spark, corpus_df, str(tmp_path / f"r{n}"), str(tmp_path / f"l{n}"), n_buckets=n
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
        assert read_lineage(spark, str(tmp_path / f"l{n}")).count() == n
    assert 0 < jobs[8] <= jobs[1], jobs


def test_rerun_of_complete_job_is_noop(spark, corpus_df, tmp_path):
    results = str(tmp_path / "results")
    lineage = str(tmp_path / "lineage")
    run_extraction_job(spark, corpus_df, results, lineage, n_buckets=4)
    summary = run_extraction_job(spark, corpus_df, results, lineage, n_buckets=4)
    assert summary["processed_buckets"] == 0
    assert summary["skipped_buckets"] == 4
