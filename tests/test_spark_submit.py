"""North-rule packaging: the extraction job must run via
`spark-submit --py-files <zip>` (BASELINE.json north_rule). This test
builds the real artifact (tools/package_pyfiles.py), launches a real
spark-submit subprocess against a fresh local master, and checks the
job extracts, commits lineage, and resumes after a crash inside a
batch of buckets — i.e. the deployment path a 1000-executor cluster
would use, not an in-process shortcut."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from package_pyfiles import build_zip  # noqa: E402


def test_pyfiles_zip_contents_and_reproducibility(tmp_path):
    z1 = build_zip(str(tmp_path / "a.zip"))
    z2 = build_zip(str(tmp_path / "b.zip"))
    with open(z1, "rb") as f1, open(z2, "rb") as f2:
        assert f1.read() == f2.read(), "py-files artifact must be byte-reproducible"
    names = set(zipfile.ZipFile(z1).namelist())
    for required in (
        "oar_ocr_spark/__init__.py",
        "oar_ocr_spark/pipeline.py",
        "oar_ocr_spark/lineage.py",
        "oar_ocr_spark/fixtures/render.py",
        "oar_ocr_spark/operators/ctc.py",
        "oar_ocr_spark/functions/multimodal.py",
    ):
        assert required in names
    # sources only — no bytecode, no oracle parquet in the runtime artifact
    assert all(n.endswith(".py") for n in names)


def test_spark_submit_extract_and_resume(spark, tmp_path):
    docs = generate_documents(12, seed=7)
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    input_dir = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).write.parquet(input_dir)

    zip_path = build_zip(str(tmp_path / "oar_ocr_spark.zip"))
    results = str(tmp_path / "results")
    lineage = str(tmp_path / "lineage")

    env = dict(os.environ)
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[var] = "1"

    cmd = [
        "spark-submit",
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--conf", f"spark.sql.warehouse.dir={tmp_path / 'wh'}",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "submit_extract.py"),
        "--input", input_dir,
        "--results", results,
        "--lineage", lineage,
        "--n-buckets", "4",
        "--shuffle-partitions", "4",
    ]
    run1 = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert run1.returncode == 0, f"spark-submit failed:\n{run1.stdout}\n{run1.stderr}"
    summary1 = json.loads(
        [ln for ln in run1.stdout.splitlines() if ln.startswith('{"job"')][-1]
    )
    assert summary1["processed_buckets"] == 4
    assert summary1["skipped_buckets"] == 0

    out = spark.read.parquet(results)
    assert out.count() == 12
    assert out.select("doc_id").distinct().count() == 12
    # the submitted job ran the REAL pipeline: spans came back non-empty
    assert out.where("size(spans) > 0").count() == 12

    # a crash inside the batch: buckets 2 and 3 landed but their
    # lineage rows were never written, and bucket 3 holds stale rows
    # (another bucket's documents) from a half-finished attempt
    committed = {}
    for b in (0, 1):
        d = os.path.join(results, f"bucket={b}")
        committed[b] = {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)}
    for b in (2, 3):
        os.remove(os.path.join(lineage, f"bucket_complete-{b}.json"))
    stale_src = next(
        os.path.join(results, f"bucket={b}", n)
        for b in (0, 1)
        for n in sorted(committed[b])
        if n.endswith(".parquet")
    )
    os.makedirs(os.path.join(results, "bucket=3"), exist_ok=True)
    shutil.copy(stale_src, os.path.join(results, "bucket=3", "part-stale.parquet"))

    run2 = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert run2.returncode == 0, f"resume failed:\n{run2.stdout}\n{run2.stderr}"
    summary2 = json.loads(
        [ln for ln in run2.stdout.splitlines() if ln.startswith('{"job"')][-1]
    )
    assert summary2["processed_buckets"] == 2
    assert summary2["skipped_buckets"] == 2
    out = spark.read.parquet(results)
    assert out.count() == 12
    assert out.select("doc_id").distinct().count() == 12
    # the committed buckets were not reprocessed
    for b in (0, 1):
        d = os.path.join(results, f"bucket={b}")
        assert {n: os.stat(os.path.join(d, n)).st_mtime_ns for n in os.listdir(d)} == committed[b]

    # a rerun of the completed job must skip every bucket
    run3 = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=600)
    assert run3.returncode == 0, f"rerun failed:\n{run3.stdout}\n{run3.stderr}"
    summary3 = json.loads(
        [ln for ln in run3.stdout.splitlines() if ln.startswith('{"job"')][-1]
    )
    assert summary3["processed_buckets"] == 0
    assert summary3["skipped_buckets"] == 4
    assert spark.read.parquet(results).count() == 12
