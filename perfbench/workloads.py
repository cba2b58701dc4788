"""The benchmark's seeded workloads.

Each workload draws its input from the seed, has per-document reference
outputs computed outside the timed phase, runs one materializing pass as
the timed unit, and checks every document of that pass's written output
against the reference.

Document structure (ids, span counts, heavy documents, payload format
quotas) is fixed per workload; the seed draws the words,
the media refs (and with them the page content) and the span positions.
Runs with different seeds therefore do the same amount of work on
different data.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import shutil
import statistics
import subprocess
import sys
import time
import zlib
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

import numpy as np

import layerstats
from sparkstats import execution_ids, group_jobs, plan_graph, plan_guard

ROOT = Path(__file__).resolve().parent.parent


@dataclass
class Check:
    attempted: int
    failed: int


def compare(reference: dict[str, list], rows: list[tuple[str, list]]) -> Check:
    """A reference document fails when its output is missing, duplicated
    or unequal; an output document the reference does not know fails
    too."""
    seen: Counter = Counter()
    got: dict[str, list] = {}
    for doc_id, value in rows:
        seen[doc_id] += 1
        got[doc_id] = value
    failed = sum(1 for d, want in reference.items() if seen[d] != 1 or got[d] != want)
    failed += sum(1 for d in seen if d not in reference)
    return Check(len(reference), failed)


def read_spans(path: Path) -> list[tuple[str, list]]:
    """(doc_id, [[kind, text, media_ref, order], ...]) per written row."""
    import pyarrow.parquet as pq

    rows = pq.read_table(path, columns=["doc_id", "spans"]).to_pylist()
    return [
        (r["doc_id"], [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in r["spans"]])
        for r in rows
    ]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def source_fingerprint() -> str:
    """Hash of the engine and benchmark sources, so a cached reference
    never outlives the code that produced it."""
    h = hashlib.sha256()
    sources = [ROOT / "__spark_entry__.py"]  # the DuckDB oracles
    for base in ("oar_ocr_spark", "perfbench"):
        sources += sorted((ROOT / base).rglob("*.py"))
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def cached_reference(work: Path, wl: "Extraction", scratch: Path) -> dict:
    """Reference outputs, computed once per (workload, seed, size)."""
    key = f"{wl.name}-seed{wl.seed}-{wl.size}-{source_fingerprint()[:16]}"
    path = work / "refcache" / f"{key}.json.gz"
    if path.is_file():
        with gzip.open(path, "rt") as f:
            return json.load(f)
    ref = wl.reference(scratch)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    with gzip.open(tmp, "wt") as f:
        json.dump(ref, f)
    tmp.replace(path)
    return ref


def _word(rng: np.random.Generator) -> str:
    return "w" + "".join(chr(97 + int(c)) for c in rng.integers(0, 26, 4))


def _doc(
    rng: np.random.Generator, doc_id: str, seed: int, n_spans: int, n_media: int, vocab: list[str] | None = None
) -> dict:
    """One document in the fixtures.corpus.generate_documents shape; text
    words come from ``vocab`` when given."""
    media_at = set(rng.permutation(n_spans)[:n_media].tolist())
    spans = []
    for off in range(n_spans):
        if off in media_at:
            spans.append(
                {"kind": "media", "text": None, "media_ref": f"{doc_id}_s{seed}_m{off}", "offset": off}
            )
        else:
            n = int(rng.integers(1, 9))
            words = [_word(rng) for _ in range(n)] if vocab is None else [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]
            text = " ".join(words)
            spans.append({"kind": "text", "text": text, "media_ref": None, "offset": off})
    return {"doc_id": doc_id, "spans": spans}


def _reference_chunk(docs: list[dict]) -> list[tuple[str, list]]:
    from oar_ocr_spark.local_ref import extract_document_spans

    return [
        (
            d["doc_id"],
            [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in extract_document_spans(d["spans"])],
        )
        for d in docs
    ]


def _median_ms(samples: list[float]) -> float:
    return statistics.median(samples) * 1e3


class Extraction:
    """One extraction workload: documents in, results(doc_id, spans) out."""

    name = ""
    size = ""  # part of the reference-cache key
    guard_spec = {"MapInPandas": 2}
    store_df = None
    WARM_DOCS = 8

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc
        self.rng = np.random.default_rng(seed)
        self.docs = self.make_docs()

    def load(self, spark, run_dir: Path) -> None:
        """The documents table (DOCUMENTS_SCHEMA) as nproc parquet files,
        as a Spark write would leave them, and ``warm_df``: the first
        WARM_DOCS documents, enough to start every Python worker."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        span = pa.struct(
            [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()), ("offset", pa.int32())]
        )
        schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("spans", pa.list_(span))])
        path = run_dir / "docs"
        path.mkdir()
        for i in range(self.nproc):
            pq.write_table(
                pa.Table.from_pylist(self.docs[i :: self.nproc], schema=schema), path / f"part-{i:05d}.parquet"
            )
        self.docs_df = spark.read.parquet(str(path))
        warm = run_dir / "warm-docs"
        warm.mkdir()
        pq.write_table(pa.Table.from_pylist(self.docs[: self.WARM_DOCS], schema=schema), warm / "part-00000.parquet")
        self.warm_df = spark.read.parquet(str(warm))

    def pages(self) -> list[str]:
        return [s["media_ref"] for d in self.docs for s in d["spans"] if s["kind"] == "media"]

    def reference(self, scratch: Path) -> dict:
        """local_ref.extract_document_spans per document, in at most
        nproc fresh interpreters (this file's __main__)."""
        n = max(1, self.nproc)
        procs = []
        for i in range(n):
            src, dst = scratch / f"ref-in-{i}.json", scratch / f"ref-out-{i}.json"
            src.write_text(json.dumps(self.docs[i::n]))
            procs.append((subprocess.Popen([sys.executable, __file__, str(src), str(dst)]), dst))
        out = {}
        for proc, dst in procs:
            if proc.wait() != 0:
                raise RuntimeError(f"reference worker exited with {proc.returncode}")
            out.update(json.loads(dst.read_text()))
        return out

    def extraction(self, spark, docs=None):
        from oar_ocr_spark.pipeline import extract_spans

        docs = self.docs_df if docs is None else docs
        return extract_spans(spark, docs, persist_input=False, media_store=self.store_df)

    def guard(self, spark) -> None:
        plan_guard(self.extraction(spark), self.guard_spec)

    def warm(self, spark, run_dir: Path) -> None:
        """One untimed extraction pass over ``warm_df``, so Python worker
        start-up and JIT compilation land in set-up."""
        out = run_dir / "warm-out"
        self.extraction(spark, self.warm_df).write.parquet(str(out))
        shutil.rmtree(out)

    def run_pass(self, spark, out: Path, tracer) -> dict:
        with tracer.span("pipeline.extract_spans"):
            self.extraction(spark).write.parquet(str(out))
        return {}

    def check(self, out: Path, reference: dict) -> Check:
        return compare(reference, read_spans(out))

    def layers(self, spark, tracer, reference: dict) -> tuple[dict, Check]:
        """Each public pipeline call timed alone, its input materialized
        first, plus single-process per-page costs. Nothing here is
        checked, so the Check is empty."""
        from pyspark.sql import functions as F

        from oar_ocr_spark.local_ref import ExtractConfig
        from oar_ocr_spark.partitioning import spread
        from oar_ocr_spark.pipeline import assemble_results, detect_crops_from_flat, recognize_df

        cfg = ExtractConfig()
        P = spark.sparkContext.defaultParallelism
        flat = (
            spread(self.docs_df, P, "doc_id")
            .select("doc_id", F.explode_outer("spans").alias("s"))
            .localCheckpoint(eager=True)
        )
        with tracer.span("pipeline.detect_crops_from_flat"):
            crops = detect_crops_from_flat(
                flat, cfg, media_store=self.store_df, num_partitions=P
            ).localCheckpoint(eager=True)
        pooled = crops.repartition(P, "doc_id", "offset", "det_idx").localCheckpoint(eager=True)
        with tracer.span("pipeline.recognize_df"):
            rec = recognize_df(pooled, cfg).localCheckpoint(eager=True)
        # the two assembly inputs, projected as extract_spans does
        text_spans = flat.where(F.col("s.kind") == "text").select(
            "doc_id",
            F.col("s.offset").alias("offset"),
            F.lit(-1).alias("sub"),
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.lit(None).cast("float").alias("confidence"),
        ).localCheckpoint(eager=True)
        media_results = rec.filter(F.length("text") > 0).select(
            "doc_id",
            "offset",
            F.col("det_idx").alias("sub"),
            F.lit("media").alias("kind"),
            "text",
            "media_ref",
            "confidence",
        ).localCheckpoint(eager=True)
        ids = self.docs_df.select("doc_id").localCheckpoint(eager=True)
        with tracer.span("pipeline.assemble_results"):
            assemble_results(ids, text_spans, media_results).write.format("noop").mode(
                "overwrite"
            ).save()
        out = {
            "pipeline.detect.call_s": tracer.seconds("pipeline.detect_crops_from_flat"),
            "pipeline.recognize.call_s": tracer.seconds("pipeline.recognize_df"),
            "pipeline.assemble.call_s": tracer.seconds("pipeline.assemble_results"),
        }
        out.update(self.page_costs(tracer))
        return out, Check(0, 0)

    def page_costs(self, tracer, sample: int = 48) -> dict:
        from oar_ocr_spark.fixtures.render import render_page
        from oar_ocr_spark.local_ref import ExtractConfig, detect_and_crop, preprocess_page

        cfg = ExtractConfig()
        pages = self.pages()
        refs = pages[:: max(1, len(pages) // sample)][:sample]
        render, pre, det = [], [], []
        with tracer.span("local_ref.pages"):
            for ref in refs:
                t0 = time.perf_counter()
                img = render_page(ref)
                t1 = time.perf_counter()
                upright, _ = preprocess_page(img, cfg)
                t2 = time.perf_counter()
                detect_and_crop(upright, cfg)
                t3 = time.perf_counter()
                render.append(t1 - t0)
                pre.append(t2 - t1)
                det.append(t3 - t2)
        return {
            "fixtures.render.render_ms": _median_ms(render),
            "local_ref.preprocess_ms": _median_ms(pre),
            "local_ref.detect_and_crop_ms": _median_ms(det),
        }


class OcrSkewed(Extraction):
    """Rendered pages; a few heavy documents carry a large share."""

    name = "ocr_skewed"
    N_LIGHT = 80
    N_HEAVY = 2
    HEAVY_PAGES = 130
    HEAVY_TEXT = 20
    size = f"l{N_LIGHT}-h{N_HEAVY}x{HEAVY_PAGES}"

    def make_docs(self) -> list[dict]:
        docs = []
        for i in range(self.N_LIGHT):
            n = 1 + (i * 37) % 64  # span counts 1..64, about 30% media
            docs.append(_doc(self.rng, f"sk{i:04d}", self.seed, n, round(0.3 * n)))
        for j in range(self.N_HEAVY):
            docs.append(
                _doc(self.rng, f"skh{j}", self.seed, self.HEAVY_PAGES + self.HEAVY_TEXT, self.HEAVY_PAGES)
            )
        return docs


def _sof(payload: bytes) -> int:
    """The JPEG start-of-frame marker byte (0xC0 baseline, 0xC2
    progressive, 0xC9/0xCA their arithmetic twins)."""
    i = 2
    while i + 4 <= len(payload):
        marker = payload[i + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker
        i += 2 + int.from_bytes(payload[i + 2 : i + 4], "big")
    raise ValueError("no JPEG frame header")


def payload_format(payload: bytes) -> str:
    if payload[:4] == b"\x89PNG":
        return "png"
    if payload[:2] == b"\xff\xd8":
        return "jpeg_progressive" if _sof(payload) in (0xC2, 0xCA) else "jpeg"
    if payload[:4] == b"GIF8":
        return "gif"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:2] == b"BM":
        return "bmp"
    raise ValueError("unknown payload format")


class OcrCodecMix(Extraction):
    """Uniform documents whose pages arrive as encoded payloads through
    extract_spans(media_store=...)."""

    name = "ocr_codec_mix"
    N_DOCS = 24
    SPANS = 16
    MEDIA = 5
    # page shares per store; jpeg_store_df picks one of four JPEG layouts
    # and legacy_store_df one of GIF/TIFF/BMP from the crc32 of the ref,
    # so refs are salted until they land on an exact quota of each
    SHARES = {"png": 0.4, "jpeg": 0.3, "legacy": 0.3}
    FLAVORS = {"png": 1, "jpeg": 4, "legacy": 3}
    size = f"d{N_DOCS}x{SPANS}m{MEDIA}"
    guard_spec = {"MapInPandas": 2, ".*Join": 2}

    @staticmethod
    def _routes(ref: str, store: str, flavor: int) -> bool:
        if store == "jpeg":
            return zlib.crc32(("jpeglayout:" + ref).encode("utf-8")) % 4 == flavor
        if store == "legacy":
            return zlib.crc32(ref.encode("utf-8")) % 3 == flavor
        return True

    def make_docs(self) -> list[dict]:
        docs = [
            _doc(self.rng, f"cm{i:04d}", self.seed, self.SPANS, self.MEDIA) for i in range(self.N_DOCS)
        ]
        n_pages = self.N_DOCS * self.MEDIA
        # formats evenly spaced through the pages, so every document gets
        # the same mix and no seed piles the slow decoders on one task
        spaced = []
        for store, share in self.SHARES.items():
            count = round(share * n_pages)
            spaced += [((k + 0.5) / count, store, k % self.FLAVORS[store]) for k in range(count)]
        targets = [(store, flavor) for _, store, flavor in sorted(spaced)]
        self.store_of: dict[str, str] = {}
        media = [s for d in docs for s in d["spans"] if s["kind"] == "media"]
        for span, (store, flavor) in zip(media, targets, strict=True):
            ref, salt = span["media_ref"], 0
            while not self._routes(ref, store, flavor):
                salt += 1
                ref = f"{span['media_ref']}_{salt}"
            span["media_ref"] = ref
            self.store_of[ref] = store
        return docs

    def load(self, spark, run_dir: Path) -> None:
        from oar_ocr_spark.functions.multimodal import jpeg_store_df, legacy_store_df, png_store_df

        super().load(spark, run_dir)
        P = spark.sparkContext.defaultParallelism
        refs = {
            store: spark.createDataFrame(
                [(r,) for r, s in self.store_of.items() if s == store], "media_ref string"
            )
            for store in self.SHARES
        }
        store = (
            png_store_df(refs["png"], parallelism=P)
            .unionByName(jpeg_store_df(refs["jpeg"], quality=100, parallelism=P))
            .unionByName(legacy_store_df(refs["legacy"], parallelism=P))
        )
        self.store_path = run_dir / "media-store"
        store.write.parquet(str(self.store_path))
        self.store_df = spark.read.parquet(str(self.store_path))

    def layers(self, spark, tracer, reference: dict) -> tuple[dict, Check]:
        out, check = super().layers(spark, tracer, reference)
        out.update(self.decode_costs(tracer))
        return out, check

    def decode_costs(self, tracer, per_format: int = 8) -> dict:
        """Single-process decode time per page of the workload's own
        payloads, by format."""
        import pyarrow.parquet as pq

        from oar_ocr_spark.functions import bmp, gif, jpeg, png, tiff

        decoders = {
            "png": (png.decode_png, "functions.png.decode_ms"),
            "jpeg": (jpeg.decode_jpeg, "functions.jpeg.decode_ms"),
            "jpeg_progressive": (jpeg.decode_jpeg, "functions.jpeg.progressive_decode_ms"),
            "gif": (gif.decode_gif, "functions.gif.decode_ms"),
            "tiff": (tiff.decode_tiff, "functions.tiff.decode_ms"),
            "bmp": (bmp.decode_bmp, "functions.bmp.decode_ms"),
        }
        groups: dict[str, list[bytes]] = {}
        for row in pq.read_table(self.store_path, columns=["payload"]).to_pylist():
            groups.setdefault(payload_format(row["payload"]), []).append(row["payload"])
        out = {}
        for fmt, blobs in sorted(groups.items()):
            decode, metric = decoders[fmt]
            times = []
            with tracer.span(f"functions.{fmt}.decode"):
                for blob in blobs[:per_format]:
                    t0 = time.perf_counter()
                    decode(blob)
                    times.append(time.perf_counter() - t0)
            out[metric] = _median_ms(times)
        return out


def dedup_rows(doc_ids, clusters, pairs) -> list[tuple[str, list]]:
    """(doc_id, [cluster_id or None, [[doc_b, jaccard x 1e4], ...]]) per
    document: its duplicate cluster and the Jaccard pairs it leads. A
    document the cluster output lists twice yields two rows."""
    led: dict[str, list] = {}
    for a, b, j in pairs:
        led.setdefault(a, []).append([b, round(j * 1e4)])
    of: dict[str, list] = {}
    for d, c in clusters:
        of.setdefault(d, []).append(c)
    return [
        (d, [c, sorted(led.get(d, []))])
        for d in sorted(set(doc_ids) | set(of) | set(led))
        for c in of.get(d, [None])
    ]


class BucketedCommit(Extraction):
    """A text-heavy corpus through lineage.run_extraction_job, failing
    after half the buckets and resuming. Its documents include planted
    near-duplicates, and the traced run also times functions.dedup on
    their texts, checked against the DuckDB oracles."""

    name = "bucketed_commit"
    N_DOCS = 80
    SPANS = 24
    MEDIA = 1
    CLUSTERS = 15
    CLUSTER_SIZE = 4  # a base document and three copies
    EDITS = 2  # words replaced per copy
    # a small vocabulary, so unrelated documents share a few 3-word
    # shingles and the Jaccard threshold has pairs to reject
    VOCAB = 60
    N_BUCKETS = 4
    size = f"d{N_DOCS}x{SPANS}m{MEDIA}v{VOCAB}-c{CLUSTERS}x{CLUSTER_SIZE}e{EDITS}-b{N_BUCKETS}"
    # the parameters of __spark_entry__'s q_minhash_bands, q_dedup_clusters
    # and q_ngram_jaccard, which the DuckDB oracles mirror
    MINHASH = {"n_hashes": 8, "n_bands": 2, "k": 3}
    JACCARD = {"k": 3, "threshold": 0.2, "max_df": 1000}

    def make_docs(self) -> list[dict]:
        """Singletons plus clusters of a base document and copies that
        differ from it by EDITS words in their text spans."""
        vocab = [_word(self.rng) for _ in range(self.VOCAB)]
        n_single = self.N_DOCS - self.CLUSTERS * self.CLUSTER_SIZE
        docs = [_doc(self.rng, "", self.seed, self.SPANS, self.MEDIA, vocab) for _ in range(n_single)]
        for _ in range(self.CLUSTERS):
            base = _doc(self.rng, "", self.seed, self.SPANS, self.MEDIA, vocab)
            docs.append(base)
            for _ in range(self.CLUSTER_SIZE - 1):
                copy = json.loads(json.dumps(base))
                texts = [s for s in copy["spans"] if s["kind"] == "text"]
                for _ in range(self.EDITS):
                    span = texts[int(self.rng.integers(0, len(texts)))]
                    words = span["text"].split(" ")
                    words[int(self.rng.integers(0, len(words)))] = vocab[int(self.rng.integers(0, self.VOCAB))]
                    span["text"] = " ".join(words)
                docs.append(copy)
        out = []
        for i, k in enumerate(self.rng.permutation(len(docs))):
            doc_id = f"bc{i:04d}"
            spans = [
                dict(s, media_ref=f"{doc_id}_s{self.seed}_m{s['offset']}") if s["kind"] == "media" else s
                for s in docs[k]["spans"]
            ]
            out.append({"doc_id": doc_id, "spans": spans})
        return out

    def texts(self) -> list[dict]:
        """documents(doc_id, text): each document's text spans in order."""
        return [
            {"doc_id": d["doc_id"], "text": " ".join(s["text"] for s in d["spans"] if s["kind"] == "text")}
            for d in self.docs
        ]

    def reference(self, scratch: Path) -> dict:
        """local_ref spans per document, and per document its duplicate
        cluster and Jaccard pairs from oracle_sql()'s dedup_clusters and
        ngram_jaccard in DuckDB."""
        import duckdb
        import pandas as pd

        sys.path.insert(0, str(ROOT))
        from __spark_entry__ import oracle_sql

        spans = super().reference(scratch)
        sql = oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"SET threads TO {max(1, self.nproc)}")
            con.register("documents", pd.DataFrame(self.texts()))
            clusters = con.execute(sql["dedup_clusters"]).fetchall()
            pairs = con.execute(sql["ngram_jaccard"]).fetchall()
        finally:
            con.close()
        return {"spans": spans, "dedup": dict(dedup_rows(spans, clusters, pairs))}

    def load(self, spark, run_dir: Path) -> None:
        """The documents table, and beside it documents(doc_id, text)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        super().load(spark, run_dir)
        schema = pa.schema([pa.field("doc_id", pa.string(), nullable=False), ("text", pa.string())])
        path = run_dir / "texts"
        path.mkdir()
        pq.write_table(pa.Table.from_pylist(self.texts(), schema=schema), path / "part-00000.parquet")
        self.texts_df = spark.read.parquet(str(path))

    def guard(self, spark) -> None:
        """The plan each bucket of run_extraction_job times: extract_spans
        over one bucket's subset of the documents."""
        from oar_ocr_spark.lineage import _bucket_col
        from pyspark.sql import functions as F

        docs_b = self.docs_df.withColumn("_bucket", _bucket_col(self.N_BUCKETS))
        subset = docs_b.where(F.col("_bucket") == 0).drop("_bucket")
        plan_guard(self.extraction(spark, subset), self.guard_spec)

    def warm(self, spark, run_dir: Path) -> None:
        """One untimed one-bucket job over ``warm_df`` in a scratch
        directory: the per-bucket extraction, write and count paths."""
        from oar_ocr_spark.lineage import run_extraction_job

        out = run_dir / "warm-out"
        run_extraction_job(spark, self.warm_df, str(out / "results"), str(out / "lineage"), n_buckets=1)
        shutil.rmtree(out)

    def run_pass(self, spark, out: Path, tracer) -> dict:
        """Fail after half the buckets, then resume."""
        from oar_ocr_spark.lineage import run_extraction_job

        docs = self.docs_df
        n = self.N_BUCKETS
        results, lineage = out / "results", out / "lineage"
        with tracer.span("lineage.run_extraction_job"):
            try:
                run_extraction_job(
                    spark, docs, str(results), str(lineage), n_buckets=n, fail_after_bucket=n // 2
                )
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the injected failure did not fire")
        committed = len(list(lineage.glob("bucket_complete-*.json")))
        t0 = time.perf_counter()
        with tracer.span("lineage.run_extraction_job.resume"):
            summary = run_extraction_job(spark, docs, str(results), str(lineage), n_buckets=n)
        resume_s = time.perf_counter() - t0
        bucket_s = [
            json.loads(line)["elapsed_ms"] / 1e3
            for p in lineage.glob("bucket_complete-*.json")
            for line in p.read_text().splitlines()
        ]
        return {
            "lineage.buckets": float(len(bucket_s)),
            "lineage.bucket_s_p50": statistics.median(bucket_s),
            "lineage.bucket_s_max": max(bucket_s),
            "lineage.resume_s": resume_s,
            "lineage.reprocessed_buckets": float(summary["processed_buckets"] - (n - committed)),
            "lineage.results_bytes": float(dir_bytes(results)),
        }

    def check(self, out: Path, reference: dict) -> Check:
        return compare(reference["spans"], read_spans(out / "results"))

    def layers(self, spark, tracer, reference: dict) -> tuple[dict, Check]:
        out, _ = super().layers(spark, tracer, reference)
        dedup, check = self.dedup_layers(spark, tracer, reference["dedup"])
        out.update(dedup)
        return out, check

    def dedup_layers(self, spark, tracer, reference: dict) -> tuple[dict, Check]:
        """Each dedup call timed alone on a materialized input, in the
        order of __spark_entry__'s dedup_clusters and ngram_jaccard
        queries; both results are checked against the oracles. The CC
        loop's jobs run under their own job group."""
        from oar_ocr_spark.functions import dedup as D

        P = spark.sparkContext.defaultParallelism
        texts = self.texts_df
        sc = spark.sparkContext
        with tracer.span("dedup.minhash_band_hashes"):
            bands = D.minhash_band_hashes(texts, parallelism=P, **self.MINHASH).localCheckpoint(eager=True)
        before = set(execution_ids(spark))
        with tracer.span("dedup.minhash_candidates"):
            D.minhash_candidates(bands).write.format("noop").mode("overwrite").save()
        jaccard = D.ngram_jaccard_pairs(texts, parallelism=P, **self.JACCARD)
        with tracer.span("dedup.ngram_jaccard_pairs"):
            jaccard.write.format("noop").mode("overwrite").save()
        sql = layerstats.dedup_metrics([plan_graph(spark, e) for e in execution_ids(spark) if e not in before])
        cands = D.minhash_candidates(bands).localCheckpoint(eager=True)
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup("dedup.duplicate_clusters", "dedup.duplicate_clusters")
        with tracer.span("dedup.duplicate_clusters"):
            clusters = D.duplicate_clusters(cands)
        cc_jobs, _ = group_jobs(spark, "dedup.duplicate_clusters")
        sc.setJobGroup(group, group)
        rows = dedup_rows(
            reference,
            [tuple(r) for r in clusters.collect()],
            [tuple(r) for r in jaccard.collect()],
        )
        out = {
            "dedup.minhash_band_hashes_s": tracer.seconds("dedup.minhash_band_hashes"),
            "dedup.minhash_candidates_s": tracer.seconds("dedup.minhash_candidates"),
            "dedup.candidate_pairs": float(cands.count()),
            "dedup.duplicate_clusters_s": tracer.seconds("dedup.duplicate_clusters"),
            "dedup.cc_jobs": float(len(cc_jobs)),
            "dedup.ngram_jaccard_pairs_s": tracer.seconds("dedup.ngram_jaccard_pairs"),
        }
        out.update(sql)
        return out, compare(reference, rows)


WORKLOADS = {w.name: w for w in (OcrSkewed, OcrCodecMix, BucketedCommit)}


if __name__ == "__main__":
    # reference worker: python3 workloads.py <docs.json> <out.json>
    sys.path.insert(0, str(ROOT))
    Path(sys.argv[2]).write_text(json.dumps(dict(_reference_chunk(json.loads(Path(sys.argv[1]).read_text())))))
