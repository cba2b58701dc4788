"""Physical-plan shape pins: the scale properties BENCH.md claims are
asserted here so a refactor cannot silently regress them."""

import ast
import contextlib
import io
import re
import threading
from pathlib import Path

from pyspark.sql import functions as F

import oar_ocr_spark
from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.pipeline import detect_crops_from_flat, extract_spans
from oar_ocr_spark.local_ref import ExtractConfig
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA


def _parquet_docs(spark, tmp_path, docs):
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    path = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _hash_spreads(df) -> list[tuple[str, str]]:
    """(key column, node right above) of every xxhash64 exchange — a
    partitioning.spread — in df's executed plan (AQE's final plan once
    df has run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = [
        line
        for line in plan.split("== Initial Plan ==")[0].splitlines()
        if "ShuffleQueryStage" not in line
    ]
    spreads = []
    for above, line in zip(lines, lines[1:]):
        m = re.search(r"Exchange hashpartitioning\(xxhash64\((\w+)#", line)
        if m:
            spreads.append((m.group(1), re.sub(r"^[\s:+\-*()\d]*", "", above).split("(")[0]))
    return spreads


def _detect_tasks_on_grouped_input(docs, media_store=None) -> int:
    """Tasks that emit crops when detect runs on an input derived from
    groupBy("doc_id") and coalesced to one partition — the shape in
    which a same-key repartition is planned away and an unspread UDF
    runs serially (partitioning.py)."""
    derived = docs.groupBy("doc_id").agg(F.first("spans").alias("spans")).coalesce(1)
    flat = derived.select("doc_id", F.explode_outer("spans").alias("s"))
    crops = detect_crops_from_flat(flat, ExtractConfig(), media_store=media_store)
    return crops.select(F.spark_partition_id()).distinct().count()


def test_extraction_plan_two_python_boundaries_and_pruned_scan(spark, tmp_path):
    docs = _parquet_docs(spark, tmp_path, generate_documents(12, seed=9))
    out = extract_spans(spark, docs)
    plan = _plan(out)
    # exactly two Python boundaries: detect and recognize (formatted
    # explain lists each node once in the tree and once in the detail
    # section — count the numbered detail entries)
    boundaries = re.findall(r"\(\d+\) MapInPandas", plan)
    assert len(boundaries) == 2, plan
    # each boundary is a named plan node, so SQL metrics attribute to
    # its stage (perfbench's layer metrics match these names)
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas detect_iter(" in physical, physical
    assert "MapInPandas rec_iter(" in physical, physical
    # the doc-id preservation branch scans doc_id ONLY (column pruning
    # reaches the parquet scan)
    assert "ReadSchema: struct<doc_id:string>" in plan, plan
    # no cartesian products anywhere in the extraction DAG
    assert "CartesianProduct" not in plan
    # the DAG's one spread hashes pages by media_ref right under the
    # detect UDF; no document-level (doc_id) spread
    assert _hash_spreads(out) == [("media_ref", "MapInPandas detect_iter")], physical
    P = spark.sparkContext.defaultParallelism
    assert _detect_tasks_on_grouped_input(docs) == P


def test_doc_id_join_builds_the_doc_id_side_without_a_broadcast(spark, tmp_path):
    # at the default broadcast threshold, the doc-id preservation join is
    # a shuffled hash join that builds the small doc-id side: both inputs
    # arrive hash-partitioned on doc_id, so no broadcast job runs and no
    # hash table is built over the assembled spans
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "10485760b"
    docs = _parquet_docs(spark, tmp_path, generate_documents(12, seed=9))
    out = extract_spans(spark, docs)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final, final
    assert "BroadcastExchange" not in final, final
    assert "BroadcastHashJoin" not in final, final
    assert re.findall(r"ShuffledHashJoin \[doc_id#\d+\], \[doc_id#\d+\], LeftOuter, BuildLeft", final)
    # a write runs one job per shuffle stage (page spread, crop pool,
    # assembly groupBy, doc-id distinct) plus the write itself
    sc = spark.sparkContext
    sc.setJobGroup("extract-spans-write", "extract-spans-write")
    try:
        extract_spans(spark, docs).write.parquet(str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("extract-spans-write")) == 5


def _py4j_calls(build) -> int:
    """py4j commands this thread sends to the JVM while ``build()`` runs
    (the gateway's object-release thread is not counted)."""
    from py4j.clientserver import ClientServerConnection

    me, calls, send = threading.get_ident(), [0], ClientServerConnection.send_command

    def counting(self, command):
        calls[0] += threading.get_ident() == me
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
    return calls[0]


def test_extraction_plan_builds_in_few_py4j_calls(spark, tmp_path):
    # run_extraction_job and extract_stream build this plan once per
    # batch. Built Column by Column it took 824 calls (932 for the batch
    # plan); built from SQL strings, about 200.
    from oar_ocr_spark.lineage import _batch_results

    docs = _parquet_docs(spark, tmp_path, generate_documents(12, seed=9))
    for build in (
        lambda: extract_spans(spark, docs),
        lambda: _batch_results(spark, docs, ExtractConfig(), 4, [1, 2]),
    ):
        build()  # the first build also resolves JVM classes for the session
        assert 0 < _py4j_calls(build) <= 350


def test_page_store_join_shuffles_above_broadcast_threshold(spark, tmp_path):
    # at corpus scale the PDF/media page store is far beyond the
    # broadcast threshold; the payload join must degrade to a shuffle
    # join (sort-merge / shuffled-hash), NOT a forced broadcast that
    # would OOM the driver at 100×. Simulate "store too big" by
    # disabling auto-broadcast and assert no broadcast join survives
    # anywhere in the extraction DAG (i.e. no broadcast() hint pins the
    # store side).
    from oar_ocr_spark.functions.multimodal import png_store_df

    docs_raw = generate_documents(8, seed=21)
    docs = _parquet_docs(spark, tmp_path, docs_raw)
    refs = docs.select(
        F.explode(
            F.expr(
                "transform(filter(spans, s -> s.kind = 'media' and s.media_ref"
                " is not null), s -> s.media_ref)"
            )
        ).alias("media_ref")
    ).distinct()
    store = png_store_df(refs)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = extract_spans(spark, docs, media_store=store)
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    # and the shuffle join is correct: results equal the renderer path
    a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in out.collect()}
    # the store path spreads exactly where the render path does: by
    # media_ref under the detect UDF, above the payload join whose
    # output AQE sizes by bytes
    assert _hash_spreads(out) == [("media_ref", "MapInPandas detect_iter")]
    P = spark.sparkContext.defaultParallelism
    assert _detect_tasks_on_grouped_input(docs, media_store=store) == P
    b = {
        r["doc_id"]: [tuple(s) for s in r["spans"]]
        for r in extract_spans(spark, docs).collect()
    }
    assert a == b


def test_heavy_doc_crops_spread_across_partitions(spark):
    # the crop repartition on (doc_id, offset, det_idx) must fan a
    # heavy document's pages across partitions (built-in salting) —
    # one task never owns more than its hash share
    all_docs = generate_documents(120, seed=11)
    heavy = [d for d in all_docs if len(d["spans"]) >= 100]
    assert heavy, "corpus should contain a heavy doc"
    docs = heavy[:1] + [d for d in all_docs if len(d["spans"]) < 100][:10]
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    df = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
    cfg = ExtractConfig()
    flat = df.select("doc_id", F.explode_outer("spans").alias("s"))
    crops = detect_crops_from_flat(flat, cfg).repartition(8, "doc_id", "offset", "det_idx")
    dist = (
        crops.where(F.col("doc_id") == heavy[0]["doc_id"])
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = {r["pid"]: r["count"] for r in dist}
    total = sum(counts.values())
    assert len(counts) >= 6, counts  # spread over most of the 8 partitions
    assert max(counts.values()) / total < 0.4, counts  # no single-task hotspot


def test_overlap_join_probe_side_is_spread(spark, tmp_path):
    # the spatial theta-join broadcasts the small dim side (the right
    # 100 TB shape), but its probe side arrives as a single parquet
    # file = one partition — at sf1 that serialized 2G pair
    # evaluations onto one task. The REPARTITION hint must survive
    # into the physical plan so the codegen'd pair loop parallelizes.
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    df = em.queries()["overlap_join"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "RoundRobinPartitioning(32)" in plan, plan
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_the_benchmark_side(spark, tmp_path):
    # BENCH claim: the benchmark gram set broadcasts (it is small by
    # nature), so the corpus side joins map-side without a shuffle
    from oar_ocr_spark.functions.dedup import decontaminate_df

    rows = [(str(i), " ".join(f"w{i}x{j}" for j in range(20)))
            for i in range(50)]
    path = str(tmp_path / "docs_flat.parquet")
    spark.createDataFrame(rows, "doc_id string, text string").write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    plan = _plan(decontaminate_df(df, bench_mod=23, k=8))
    assert "BroadcastHashJoin" in plan, plan
    # the count aggregation is map-side combinable
    assert "partial_count" in plan, plan


# the batch-vectorized kernels that need a whole Arrow batch at once;
# every other Python stage goes through partitioning.python_stage
_BATCH_KERNELS = {
    ("partitioning.py", "python_stage"),
    ("pipeline.py", "recognize_df"),
    ("pipeline.py", "recognize_with_word_boxes"),
    ("functions/dedup.py", "simhash_df"),
    ("functions/similarity.py", "knn_bruteforce"),
    ("functions/similarity.py", "knn_self_join"),
    ("functions/similarity.py", "lsh_bucket_df"),
    ("streaming.py", "dedup_stream"),
}


def _package_modules():
    """(path relative to the package, parsed module) of every package file."""
    root = Path(oar_ocr_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), ast.parse(path.read_text())


def _method_call_sites(match) -> set[tuple[str, str]]:
    """(file, top-level definition) of every `.attr(` call in the
    package whose attribute name satisfies ``match``."""
    found = set()
    for rel, tree in _package_modules():
        for top in tree.body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and match(node.func.attr)
                ):
                    found.add((rel, getattr(top, "name", "<module>")))
    return found


def test_python_stages_go_through_the_seam():
    found = _method_call_sites(lambda a: a.startswith(("mapInPandas", "applyInPandas")))
    assert found == _BATCH_KERNELS


def test_one_recognizer():
    # recognition decodes in local_ref.recognize_crops only: no stage
    # grows a second model call or CTC collapse beside it
    found = set()
    for rel, tree in _package_modules():
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    f = node.func
                    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                    if name in ("ctc_collapse_batch", "recognize_rows"):
                        found.add((rel, getattr(top, "name", "<module>"), name))
    assert found == {
        ("local_ref.py", "recognize_crops", "ctc_collapse_batch"),
        ("local_ref.py", "recognize_crops", "recognize_rows"),
    }


def test_one_partitioning_policy():
    # every spread goes through partitioning.spread; the only other
    # repartition is the crop pool, which perfbench finds by its
    # hashpartitioning(doc_id, offset, det_idx) text
    found = _method_call_sites(lambda a: a == "repartition")
    assert found == {("partitioning.py", "spread"), ("pipeline.py", "extract_spans")}


def test_no_column_name_parameters():
    # the tables have fixed schemas (documents, the media store,
    # embeddings), so a parameter that renames an input column is a
    # knob no caller sets
    found = []
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                for arg in a.posonlyargs + a.args + a.kwonlyargs:
                    if arg.arg.endswith("_col") or arg.arg in ("doc_a", "doc_b"):
                        found.append(f"{rel}:{node.lineno} {arg.arg}")
    assert found == []


def test_parallelism_only_where_a_caller_chooses_it():
    # source stages spread to the session's default parallelism
    # themselves. python_stage keeps the keyword because its None means
    # "inherit the input's partitioning"; the other six keep it only
    # until perfbench, their last caller, stops passing it
    found = set()
    for rel, tree in _package_modules():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                if any(arg.arg == "parallelism" for arg in a.posonlyargs + a.args + a.kwonlyargs):
                    found.add((rel, node.name))
    assert found == {
        ("partitioning.py", "python_stage"),
        ("functions/multimodal.py", "payload_store_df"),
        ("functions/multimodal.py", "png_store_df"),
        ("functions/multimodal.py", "jpeg_store_df"),
        ("functions/multimodal.py", "legacy_store_df"),
        ("functions/dedup.py", "minhash_band_hashes"),
        ("functions/dedup.py", "ngram_jaccard_pairs"),
    }


def test_source_stages_spread_a_one_partition_input(spark):
    # a single-file scan arrives as ONE partition; called without any
    # argument, a source stage still runs its codec on every core
    from oar_ocr_spark.functions.dedup import simhash_df
    from oar_ocr_spark.functions.multimodal import fax_store_df
    from oar_ocr_spark.functions.tiff import tiff_store_df

    docs = generate_documents(4, seed=5)
    rows = [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs]
    one = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA).coalesce(1)
    refs = one.select(F.explode("spans.media_ref").alias("media_ref")).dropna()
    texts = one.select("doc_id", F.concat_ws(" ", "spans.text").alias("text"))
    for df in (one, refs, texts):
        assert df.rdd.getNumPartitions() == 1
    P = spark.sparkContext.defaultParallelism
    assert P > 1
    for stage in (fax_store_df(refs), tiff_store_df(one), simhash_df(texts)):
        assert stage.rdd.getNumPartitions() == P


def test_every_cache_has_an_owner():
    # a Dataset cache nobody unpersists outlives its query in a
    # long-lived session and serves later identical plans; the two
    # iterative loops own their round caches and free them on return
    found = _method_call_sites(lambda a: a in ("persist", "cache"))
    assert found == {
        ("functions/dedup.py", "duplicate_clusters"),
        ("functions/similarity.py", "_train_rounds"),
    }
    # no caller can unpersist a localCheckpoint: its blocks go at driver
    # GC (test_session_hygiene), so each site is a reviewed exception
    found = _method_call_sites(lambda a: a == "localCheckpoint")
    assert found == {
        ("functions/dedup.py", "minhash_candidates"),
        ("functions/dedup.py", "ngram_jaccard_pairs"),
        ("functions/dedup.py", "simhash_candidates"),
        ("functions/dedup.py", "duplicate_clusters"),
        ("functions/similarity.py", "_train_rounds"),
    }
