"""A long-lived session keeps nothing a query left behind.

Every `__spark_entry__` query that reaches extract_spans, a persist or a
localCheckpoint runs at sf0.001 through the noop sink, in the shared
test session:

- after each one the CacheManager is empty: a Dataset cache that
  nobody unpersists stays for the session's life and serves later
  identical plans (the best-of-N bench trap in CLAUDE.md);
- localCheckpoint blocks have no owner to unpersist them. Once the
  frames are dropped and both the Python and the JVM garbage collectors
  have run, Spark's ContextCleaner must free them, so the block manager
  holds no RDD the session did not hold before the queries ran.
"""

import gc
import time

import pytest

import __spark_entry__ as E
from oar_ocr_spark.pipeline import extract_spans
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA

# extraction_e2e first: it is the plainest extract_spans query
_QUERIES = [
    "extraction_e2e",
    "extraction_text_only",
    "doc_text_stats",
    "extraction_rotated",
    "extraction_warped",
    "pdf_extract",
    "pdf_hybrid_extract",
    "tiff_extract",
    "minhash_candidates",
    "dedup_clusters",
    "ngram_jaccard",
    "ivf_ann",
]
_GC_TIMEOUT_S = 60


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _stored_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs that hold blocks in the block manager."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_extract_spans_refuses_to_persist(spark):
    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    with pytest.raises(ValueError, match="never persists its input"):
        extract_spans(spark, docs, persist_input=True)


def test_queries_leave_no_cache_behind(spark):
    baseline = _stored_rdd_ids(spark)
    assert _cache_manager_empty(spark), "an earlier test left a Dataset cache"
    queries = E.queries()
    for name in _QUERIES:
        _noop(queries[name](spark, E.DEFAULT_SF_DIR))
        assert _cache_manager_empty(spark), f"{name} left a Dataset cache"
    _noop(E.entry(spark))
    assert _cache_manager_empty(spark), "entry() left a Dataset cache"

    jvm = spark.sparkContext._jvm
    deadline = time.monotonic() + _GC_TIMEOUT_S
    while True:
        gc.collect()
        jvm.System.gc()
        left = _stored_rdd_ids(spark) - baseline
        if not left or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert not left, f"RDD blocks still stored {_GC_TIMEOUT_S} s after GC: {sorted(left)}"
