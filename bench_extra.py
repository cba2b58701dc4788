"""Extra benchmarks for the optimization round (guide §1) — bench.py is
FROZEN for measurement; everything exploratory lives here.

Subcommands:
  plans [out_dir] [names...]   write .explain("formatted") per query
  time <names...>              best-of-N .count() timing (bench twin)
  noop <names...>              noop-sink timing (materializes every column)
  stages <name>                per-stage breakdown for the heavy queries

Uses the same session shape as bench.make_spark so numbers are
comparable with the official harness.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))


def _session():
    from bench import make_spark, _warm_workers

    spark = make_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    _warm_workers(spark, CPUS)
    return spark


def _explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def cmd_plans(args):
    import __spark_entry__ as E

    out_dir = args[0] if args else "plans/r06"
    names = args[1:] if len(args) > 1 else None
    os.makedirs(out_dir, exist_ok=True)
    spark = _session()
    qs = E.queries()
    suffix = os.environ.get("SPARK_GRAFT_PLAN_SUFFIX", "_before")
    for name, fn in qs.items():
        if names and name not in names:
            continue
        try:
            txt = _explain_str(fn(spark, SF_DIR))
        except Exception as exc:  # noqa: BLE001
            txt = f"EXPLAIN FAILED: {exc!r}"
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
            f.write(txt)
        print(name, "ok")
    spark.stop()


def cmd_time(args):
    import json

    import __spark_entry__ as E

    spark = _session()
    qs = E.queries()
    names = args or list(qs)
    out = {}
    for name in names:
        samples = []
        for _ in range(TRIALS):
            spark.sparkContext.setJobDescription(f"time:{name}")
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        print(name, samples, flush=True)
    print(json.dumps(out))
    spark.stop()


def cmd_noop(args):
    import json

    import __spark_entry__ as E

    spark = _session()
    qs = E.queries()
    out = {}
    for name in args:
        samples = []
        for _ in range(TRIALS):
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = samples
        print(name, samples, flush=True)
    print(json.dumps(out))
    spark.stop()


def _t(spark, label, df, action="noop"):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    if action == "noop":
        df.write.format("noop").mode("overwrite").save()
    else:
        df.count()
    dt = time.time() - t0
    print(f"  {label}: {dt:.3f}s", flush=True)
    return dt


def cmd_stages(args):
    from pyspark.sql import functions as F

    import __spark_entry__ as E

    name = args[0]
    spark = _session()
    E._register_views(spark, SF_DIR)
    if name == "pdf_extract":
        from oar_ocr_spark.functions.pdf import pdf_media_store_df, pdf_store_df
        from oar_ocr_spark.pipeline import extract_spans

        for _ in range(TRIALS):
            docs = E.interleaved_docs_df(spark).where(
                (F.col("doc_id").cast("bigint") % E.PDF_MOD) == 0
            )
            _t(spark, "pdf: interleave+filter", docs)
            store1 = pdf_store_df(docs, mix=True)
            _t(spark, "pdf: +pdf_store", store1)
            store = pdf_media_store_df(store1)
            _t(spark, "pdf: +media_store", store)
            out = E._exploded_results(extract_spans(spark, docs, media_store=store))
            _t(spark, "pdf: full", out)
    elif name == "pdf_text_extract":
        from oar_ocr_spark.functions.pdf import pdf_text_spans_df, pdf_text_store_df

        for _ in range(TRIALS):
            docs = E.interleaved_docs_df(spark).where(
                (F.col("doc_id").cast("bigint") % E.PDFTXT_MOD) == 0
            )
            _t(spark, "pdftxt: interleave+filter", docs)
            store = pdf_text_store_df(docs)
            _t(spark, "pdftxt: +store", store)
            _t(spark, "pdftxt: full", pdf_text_spans_df(store))
    elif name == "ivf_ann":
        from oar_ocr_spark.functions import similarity as S

        for _ in range(TRIALS):
            emb = spark.table("embeddings")
            q = emb.where(F.col("vec_id") % 50 == 0)
            t0 = time.time()
            spark.sparkContext.setJobDescription("ivf: train")
            codebook = S.train_ivf_centroids(emb, centroid_mod=37, iters=2)
            print(f"  ivf: train(eager): {time.time()-t0:.3f}s", flush=True)
            _t(spark, "ivf: probe+rank", S.ivf_ann(emb, q, k=5, nprobe=3, centroids=codebook))
    elif name == "dedup_clusters":
        from oar_ocr_spark.functions import dedup as D

        for _ in range(TRIALS):
            docs = spark.table("documents")
            bands = D.minhash_band_hashes(docs, n_hashes=8, n_bands=2, k=3)
            _t(spark, "ddc: bands", bands)
            cands = D.minhash_candidates(D.minhash_band_hashes(docs, n_hashes=8, n_bands=2, k=3))
            _t(spark, "ddc: bands+cands", cands)
            t0 = time.time()
            spark.sparkContext.setJobDescription("ddc: full")
            D.duplicate_clusters(
                D.minhash_candidates(
                    D.minhash_band_hashes(docs, n_hashes=8, n_bands=2, k=3)
                )
            ).count()
            print(f"  ddc: full: {time.time()-t0:.3f}s", flush=True)
    elif name == "media_png":
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            png_store_df,
        )

        for _ in range(TRIALS):
            refs = E.media_refs_df(spark, E.PNG_MOD)
            _t(spark, "png: refs", refs)
            store = png_store_df(refs)
            _t(spark, "png: +store", store)
            _t(spark, "png: full", image_features_from_bytes_df(store))
    elif name == "overhead":
        # fixed per-query latency floor: a trivial catalyst count through
        # the same with_views wrapper the bench uses
        qs = E.queries()
        for _ in range(max(TRIALS, 4)):
            t0 = time.time()
            qs["token_stats"](spark, SF_DIR).count()
            print(f"  token_stats: {time.time()-t0:.3f}s", flush=True)
    else:
        print(f"no stage breakdown for {name}")
    spark.stop()


def main():
    cmd, *args = sys.argv[1:] or ["time"]
    {"plans": cmd_plans, "time": cmd_time, "noop": cmd_noop, "stages": cmd_stages}[
        cmd
    ](args)


if __name__ == "__main__":
    main()
