"""Per-layer metrics of one traced pass, derived from Spark's own SQL-node
and stage metrics (see sparkstats)."""

from __future__ import annotations

import re
import statistics
from collections import defaultdict

from sparkstats import Node, descendants, execution_ids, group_jobs, plan_graph, stage_totals

# every per-layer metric and its unit; a layer a workload does not
# exercise reports 0
PER_LAYER: dict[str, str] = {
    "pipeline.detect.pages": "count",
    "pipeline.detect.crops": "count",
    "pipeline.detect.py_run_s": "s",
    "pipeline.detect.py_init_s": "s",
    "pipeline.detect.task_med_s": "s",
    "pipeline.detect.task_max_s": "s",
    "pipeline.detect.bytes_to_py": "B",
    "pipeline.detect.bytes_from_py": "B",
    "pipeline.detect.call_s": "s",
    "local_ref.preprocess_ms": "ms",
    "local_ref.detect_and_crop_ms": "ms",
    "fixtures.render.render_ms": "ms",
    "partitioning.spread.shuffle_bytes": "B",
    "partitioning.spread.part_max_over_med": "ratio",
    "pipeline.crop_pool.shuffle_bytes": "B",
    "pipeline.crop_pool.part_max_over_med": "ratio",
    "pipeline.recognize.crops": "count",
    "pipeline.recognize.py_run_s": "s",
    "pipeline.recognize.py_init_s": "s",
    "pipeline.recognize.task_max_s": "s",
    "pipeline.recognize.bytes_to_py": "B",
    "pipeline.recognize.kept_frac": "frac",
    "pipeline.recognize.call_s": "s",
    "functions.png.decode_ms": "ms",
    "functions.tiff.decode_ms": "ms",
    "functions.bmp.decode_ms": "ms",
    "functions.gif.decode_ms": "ms",
    "functions.jpeg.decode_ms": "ms",
    "functions.jpeg.progressive_decode_ms": "ms",
    "pipeline.payload_join.shuffle_bytes": "B",
    "pipeline.assemble.agg_build_s": "s",
    "pipeline.assemble.shuffle_bytes": "B",
    "pipeline.assemble.call_s": "s",
    "lineage.buckets": "count",
    "lineage.jobs": "count",
    "lineage.bucket_s_p50": "s",
    "lineage.bucket_s_max": "s",
    "lineage.resume_s": "s",
    "lineage.reprocessed_buckets": "count",
    "lineage.results_bytes": "B",
    "dedup.minhash_band_hashes_s": "s",
    "dedup.minhash_candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.duplicate_clusters_s": "s",
    "dedup.cc_jobs": "count",
    "dedup.ngram_jaccard_pairs_s": "s",
    "dedup.pairs_kept_frac": "frac",
    "dedup.selfjoin_shuffle_bytes": "B",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "B",
    "trace.overhead_frac": "frac",
}

_CROP_POOL = re.compile(r"hashpartitioning\(doc_id#\d+, offset#\d+, det_idx#\d+")


def _total(n: Node, metric: str) -> float:
    m = n.metrics.get(metric)
    return m.total if m else 0.0


def _rows_below(nodes: dict[int, Node], n: Node) -> float:
    """Rows entering ``n``: the nearest row count down its input chain."""
    while n.children:
        n = nodes[n.children[0]]
        for metric in ("number of output rows", "records read"):
            if metric in n.metrics:
                return n.metrics[metric].total
    return 0.0


def _first_above(nodes: dict[int, Node], n: Node, name: str) -> Node | None:
    todo = list(n.parents)
    while todo:
        p = nodes[todo.pop(0)]
        if p.name == name:
            return p
        todo.extend(p.parents)
    return None


def _skew(n: Node) -> float | None:
    """Largest over median bytes read by one reduce partition."""
    read = n.metrics.get("local bytes read")
    return read.max / read.med if read and read.med > 0 else None


def _payload_join_bytes(nodes: dict[int, Node]) -> float:
    """Bytes moved into the join that attaches media payloads: shuffle
    writes of its exchanges, or the broadcast size when planned as a
    broadcast join."""

    def payload_below(i: int) -> bool:
        return any(
            nodes[d].name.startswith("Scan") and "payload" in nodes[d].desc
            for d in descendants(nodes, i)
        )

    joins = [n.id for n in nodes.values() if n.name.endswith("Join") and payload_below(n.id)]
    return sum(
        _join_input_bytes(nodes, j)
        for j in joins
        if not any(d in joins for d in descendants(nodes, j))  # not a join above it
    )


def _join_input_bytes(nodes: dict[int, Node], j: int) -> float:
    """Bytes moved into join ``j``: the shuffle writes of the exchanges
    feeding it, or the broadcast relation's size."""
    total = 0.0
    for c in nodes[j].children:
        n = nodes[c]
        while n.name not in ("Exchange", "BroadcastExchange") and len(n.children) == 1:
            n = nodes[n.children[0]]
        if n.name == "Exchange":
            total += _total(n, "shuffle bytes written")
        elif n.name == "BroadcastExchange":
            total += _total(n, "data size")
    return total


# the LSH band self-join of minhash_candidates and the shingle self-join
# of ngram_jaccard_pairs
_SELF_JOIN = re.compile(r"^\w+ \[(band_id#\d+, band_hash#\d+|sh#\d+)\], \[\S+(, \S+)?\], Inner")


def dedup_metrics(graphs: list[dict[int, Node]]) -> dict[str, float]:
    """functions.dedup, summed over the given SQL executions: bytes moved
    into the two self-joins, and the share of intersecting n-gram pairs
    that pass the Jaccard threshold (the rows leaving the join that
    applies it over the rows entering it)."""
    m: dict[str, float] = defaultdict(float)
    pairs_in = pairs_kept = 0.0
    for nodes in graphs:
        for n in nodes.values():
            if n.name.endswith("Join") and _SELF_JOIN.match(n.desc):
                m["dedup.selfjoin_shuffle_bytes"] += _join_input_bytes(nodes, n.id)
            elif (n.name == "Filter" or n.name.endswith("Join")) and "n_inter#" in n.desc and ">= " in n.desc:
                pairs_in += _rows_below(nodes, n)
                pairs_kept += _total(n, "number of output rows")
    if pairs_in:
        m["dedup.pairs_kept_frac"] = pairs_kept / pairs_in
    return dict(m)


def extraction_metrics(graphs: list[dict[int, Node]]) -> dict[str, float]:
    """The pipeline's layers, summed over the SQL executions of a pass."""
    m: dict[str, float] = defaultdict(float)
    det_med, det_max, rec_max, pool_skew, spread_skew = [], [], [], [], []
    kept = 0.0
    for nodes in graphs:
        for n in nodes.values():
            if n.name == "MapInPandas" and ("detect_iter(" in n.desc or "rec_iter(" in n.desc):
                layer = "pipeline.detect" if "detect_iter(" in n.desc else "pipeline.recognize"
                run = n.metrics.get("time to run Python workers")
                rows = _total(n, "number of output rows")
                m[f"{layer}.crops"] += rows
                m[f"{layer}.py_run_s"] += _total(n, "time to run Python workers")
                m[f"{layer}.py_init_s"] += _total(n, "time to initialize Python workers")
                m[f"{layer}.bytes_to_py"] += _total(n, "data sent to Python workers")
                if layer == "pipeline.detect":
                    m["pipeline.detect.pages"] += _rows_below(nodes, n)
                    m["pipeline.detect.bytes_from_py"] += _total(n, "data returned from Python workers")
                    if run:
                        det_med.append(run.med)
                        det_max.append(run.max)
                else:
                    if run:
                        rec_max.append(run.max)
                    f = _first_above(nodes, n, "Filter")
                    kept += _total(f, "number of output rows") if f else rows
            elif n.name == "Exchange":
                written = _total(n, "shuffle bytes written")
                if "xxhash64(" in n.desc:
                    m["partitioning.spread.shuffle_bytes"] += written
                    spread_skew.append(_skew(n))
                elif _CROP_POOL.search(n.desc):
                    m["pipeline.crop_pool.shuffle_bytes"] += written
                    pool_skew.append(_skew(n))
                elif any(
                    "partial_collect_list(struct(offset" in nodes[c].desc for c in n.children
                ):
                    m["pipeline.assemble.shuffle_bytes"] += written
            elif n.name == "ObjectHashAggregate" and "collect_list(struct(offset" in n.desc:
                m["pipeline.assemble.agg_build_s"] += _total(n, "time in aggregation build")
        m["pipeline.payload_join.shuffle_bytes"] += _payload_join_bytes(nodes)
    if det_med:
        m["pipeline.detect.task_med_s"] = statistics.median(det_med)
        m["pipeline.detect.task_max_s"] = max(det_max)
    if rec_max:
        m["pipeline.recognize.task_max_s"] = max(rec_max)
    if m["pipeline.recognize.crops"]:
        m["pipeline.recognize.kept_frac"] = kept / m["pipeline.recognize.crops"]
    for name, skews in (
        ("partitioning.spread.part_max_over_med", spread_skew),
        ("pipeline.crop_pool.part_max_over_med", pool_skew),
    ):
        skews = [s for s in skews if s is not None]
        if skews:
            m[name] = max(skews)
    return dict(m)


def collect(spark, before: set[int], group: str) -> dict[str, float]:
    """Layer and engine metrics of the SQL executions started since
    ``before`` and the jobs of ``group``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    graphs = [plan_graph(spark, e) for e in execution_ids(spark) if e not in before]
    jobs, stages = group_jobs(spark, group)
    out = extraction_metrics(graphs)
    out.update({f"spark.{k}": v for k, v in stage_totals(spark, stages).items()})
    out["spark.jobs"] = float(len(jobs))
    return out
