"""The benchmark's own tests: plan guard, metric parsing, output checks,
and agreement between BENCHMARK.json and the metrics the harness emits.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent
sys.path[:0] = [str(BENCH), str(ROOT)]

import layerstats  # noqa: E402
import run  # noqa: E402
from sparkstats import PlanGuardError, parse_metric, plan_guard, plan_node_names  # noqa: E402
from workloads import compare, dedup_rows  # noqa: E402


def test_parse_metric_plain_and_distribution():
    assert parse_metric("9,295").total == 9295
    assert parse_metric("517.0 KiB").total == 517.0 * 1024
    m = parse_metric(
        "total (min, med, max (stageId: taskId))\n1.6 s (308 ms, 400 ms, 521 ms (stage 44.0: task 85))"
    )
    assert (m.total, m.med, m.max) == pytest.approx((1.6, 0.4, 0.521))


def test_plan_node_names_strips_tree_glyphs():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=false\n"
        "+- Project [a#1]\n"
        "   :- MapInPandas detect_iter(a#1)#2, [a#3]\n"
        "   +- *(2) BroadcastHashJoin [a#1], [b#2], Inner\n"
    )
    assert plan_node_names(plan) == ["AdaptiveSparkPlan", "Project", "MapInPandas", "BroadcastHashJoin"]


def test_compare_counts_missing_duplicated_unequal_and_unknown():
    ref = {"a": [["text", "x", None, 0]], "b": [], "c": [], "d": []}
    rows = [
        ("a", [["text", "x", None, 0]]),  # equal
        ("b", []),
        ("b", []),  # duplicated
        ("c", [["media", "y", "r", 0]]),  # unequal
        ("zz", []),  # unknown
    ]  # d is missing
    check = compare(ref, rows)
    assert (check.attempted, check.failed) == (4, 4)


def test_dedup_rows_fail_a_document_listed_twice_or_with_a_wrong_pair():
    ref = dict(dedup_rows(["a", "b", "c"], [("a", "a"), ("b", "a")], [("a", "b", 0.81234)]))
    assert ref == {"a": ["a", [["b", 8123]]], "b": ["a", []], "c": [None, []]}
    assert compare(ref, dedup_rows(ref, [("a", "a"), ("b", "a")], [("a", "b", 0.8123)])).failed == 0
    twice = dedup_rows(ref, [("a", "a"), ("b", "a"), ("b", "a")], [("a", "b", 0.8123)])
    assert compare(ref, twice).failed == 1
    wrong = dedup_rows(ref, [("a", "a"), ("b", "a")], [("a", "b", 0.8124), ("b", "c", 0.5)])
    assert compare(ref, wrong).failed == 2


def test_benchmark_json_matches_emitted_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layerstats.PER_LAYER
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.workloads.WORKLOADS)


@pytest.fixture(scope="module")
def spark():
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="module")
def extraction(spark, tmp_path_factory):
    from oar_ocr_spark.fixtures.corpus import generate_documents
    from oar_ocr_spark.pipeline import extract_spans
    from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA

    rows = [
        (d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in generate_documents(6, seed=3)
    ]
    path = str(tmp_path_factory.mktemp("guard") / "docs")
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA).write.parquet(path)
    return extract_spans(spark, spark.read.parquet(path), persist_input=False)


def test_guard_accepts_the_materialized_extraction(extraction):
    plan_guard(extraction, {"MapInPandas": 2})


def test_guard_refuses_a_count_style_plan(extraction):
    # count() lets Catalyst prune both OCR stages out of the plan
    with pytest.raises(PlanGuardError):
        plan_guard(extraction.groupBy().count(), {"MapInPandas": 2})


def test_every_workload_guard_accepts_its_timed_plan(spark, tmp_path):
    # plans only: nothing here executes the extraction
    from workloads import WORKLOADS, OcrCodecMix

    for name, cls in WORKLOADS.items():
        if cls is OcrCodecMix:
            continue  # its load builds the media store, which executes
        wl = cls(3, 2)
        (tmp_path / name).mkdir()
        wl.load(spark, tmp_path / name)
        wl.guard(spark)
