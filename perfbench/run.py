"""Extraction benchmark: materialized, span-checked documents/s.

    python3 perfbench/run.py --workload ocr_skewed --seed 1 --seconds 10 --trace 0

Run from the repository root. One Spark job at a time runs from this
single Python process on local[nproc] (a closed loop with one client).
After set-up, timed passes repeat until their summed wall time reaches
--seconds; every pass writes its full result and every document of that
output is checked against a reference computed outside the timed phase.
--trace 1 adds traced passes and per-layer calls after the untraced
ones and reports per-layer metrics instead of end-to-end ones.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A run record (host, versions, load) goes to the line before it and to
.perfbench_work/results/. perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import uuid
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import layerstats
import probes
import workloads
from sparkstats import execution_ids

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
E2E_UNITS = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(run_dir: Path) -> None:
    """Environment this process, the JVM and the Python workers inherit."""
    # one BLAS thread per Python worker: parallelism belongs to Spark
    # tasks, and idle OpenBLAS pools spin-wait
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # the workers import oar_ocr_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    (run_dir / "spark-local").mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None


def start_spark(nproc: int, run_dir: Path):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{nproc}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={run_dir / 'tmp'}")
        .config("spark.local.dir", str(run_dir / "spark-local"))
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.default.parallelism", str(nproc))
        .config("spark.sql.shuffle.partitions", str(max(nproc, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it
    started."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    probes.reap_descendants()


@dataclass
class Passes:
    seconds: list[float] = field(default_factory=list)
    rates: list[float] = field(default_factory=list)
    infos: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0


def run_passes(spark, wl, reference: dict, run_dir: Path, seconds: float, rss=None, tracer=None) -> Passes:
    """Passes until their summed wall time reaches ``seconds``. A traced
    pass also collects its Spark metrics inside its own timing. Each
    output is checked and deleted outside the timing."""
    res = Passes()
    while not res.seconds or sum(res.seconds) < seconds:
        k = len(res.seconds)
        out = run_dir / f"pass-{k}"
        before = group = None
        if tracer is not None:
            group = f"traced-pass-{k}"
            spark.sparkContext.setJobGroup(group, group)
            before = set(execution_ids(spark))
        t0 = time.perf_counter()
        with rss.sampling() if rss is not None else nullcontext():
            if tracer is None:
                info = wl.run_pass(spark, out, probes.NullTracer())
            else:
                with tracer.span(f"pass-{k}"):
                    info = wl.run_pass(spark, out, tracer)
                    with tracer.span("collect_spark_metrics"):
                        info.update(layerstats.collect(spark, before, group))
        dt = time.perf_counter() - t0
        check = wl.check(out, reference)
        shutil.rmtree(out)
        spark.catalog.clearCache()
        res.seconds.append(dt)
        res.rates.append((check.attempted - check.failed) / dt)
        res.infos.append(info)
        res.attempted += check.attempted
        res.failed += check.failed
    return res


def per_layer_metrics(plain: Passes, traced: Passes, layer_calls: dict) -> dict[str, float]:
    values = dict.fromkeys(layerstats.PER_LAYER, 0.0)
    for name in {k for info in traced.infos for k in info}:
        values[name] = statistics.median(info.get(name, 0.0) for info in traced.infos)
    if values["lineage.buckets"]:  # the pass runs nothing but the bucketed job
        values["lineage.jobs"] = values["spark.jobs"]
    values.update(layer_calls)
    values["trace.overhead_frac"] = 1.0 - statistics.median(traced.rates) / statistics.median(plain.rates)
    unknown = set(values) - set(layerstats.PER_LAYER)
    if unknown:
        raise KeyError(f"metrics missing from PER_LAYER: {sorted(unknown)}")
    return values


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "oar_ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no oar_ocr_spark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    started = probes.process_start_time()
    nproc = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    run_dir = WORK / f"run-{run_id}"
    prepare_env(run_dir)
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "loadavg_before": os.getloadavg(),
        "git_commit": git_commit(),
    }
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed, nproc)
        t0 = time.time()
        reference = workloads.cached_reference(WORK, wl, run_dir)
        reference_s = time.time() - t0
        t_session = time.time()
        spark = start_spark(nproc, run_dir)
        t_load = time.time()
        wl.load(spark, run_dir)
        t_warm = time.time()
        wl.warm(spark, run_dir)
        t_ready = time.time()
        setup_s = t_ready - started - reference_s
        record["setup_parts_s"] = {
            "start_to_session": t_session - started - reference_s,
            "session": t_load - t_session,
            "input_load": t_warm - t_load,
            "warm_pass": t_ready - t_warm,
        }
        wl.guard(spark)
        rss = probes.RssSampler()
        plain = run_passes(spark, wl, reference, run_dir, args.seconds, rss=rss)
        attempted, failed = plain.attempted, plain.failed
        if args.trace:
            tracer = probes.Tracer(run_id)
            traced = run_passes(spark, wl, reference, run_dir, args.seconds, tracer=tracer)
            with tracer.span("layer_calls"):
                layer_calls, layer_check = wl.layers(spark, tracer, reference)
            attempted += traced.attempted + layer_check.attempted
            failed += traced.failed + layer_check.failed
            values = per_layer_metrics(plain, traced, layer_calls)
            units = layerstats.PER_LAYER
            trace_path = WORK / "traces" / f"{args.workload}-seed{args.seed}-{run_id}.json"
            tracer.write(trace_path)
            record["trace_file"] = str(trace_path.relative_to(ROOT))
        else:
            values = {
                "docs_per_s": statistics.median(plain.rates),
                "setup_s": setup_s,
                "peak_rss_mb": rss.peak_bytes / 2**20,
            }
            units = E2E_UNITS
        record.update(
            pass_s=plain.seconds,
            reference_s=reference_s,
            pyspark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    record["loadavg_after"] = os.getloadavg()
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{run_id}.json").write_text(json.dumps({"run": record, "result": result}))
    print("perfbench-run " + json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
