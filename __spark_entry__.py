"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full extraction DAG over interleaved docs
                 derived from sf0.001 documents.
queries()      — one entry per implemented operator (SURVEY.md §2 +
                 the training-data ops); each takes (spark, sf_dir).
oracle_sql()   — DuckDB-equivalent SQL per query. Every query has one:
                 relational slices are re-expressed directly; the
                 OCR/layout pipeline queries check against
                 golden-fixture parquet computed by the single-process
                 Python twins (tools/make_goldens.py), with all
                 relational structure (span interleaving, ordering,
                 joins) re-derived in SQL.

The interleaved documents table (BASELINE.json input_hint shape) is
derived deterministically from the driver's plain `documents` table by
a transform expressible in BOTH dialects (chunk text into 8-word spans,
insert a media span after every 3rd chunk), so relational slices of the
pipeline are oracle-checkable end-to-end.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# driver-query doc_id filters — single source of truth shared with the
# golden generator (tools/make_goldens.py imports these) and
# interpolated into the oracle SQL below; drift between the three
# would otherwise only surface as a parity row-count failure
E2E_MOD = 5
ROTWARP_MOD = 50
STRUCT_MOD = 25
FEATURES_MOD = 10
PNG_MOD = 20
JPEG_MOD = 20
LEGACY_MOD = 20
LOSSLESS_MOD = 20
DEEPJPEG_MOD = 20
JP2_MOD = 60  # EBCOT Tier-1 is the priciest codec — a thinner slice
FAX_MOD = 20
PDF_MOD = 20
PDFTXT_MOD = 10
HYB_MOD = 20  # must divide by E2E_MOD: reuses the extraction golden
TIFF_MOD = 20
AUDIO_MOD = 10
VIDEO_MOD = 20
HTML_MOD = 10


# view-registration memo: (applicationId -> (sf_dir, fingerprint)).
# Registering the same directory twice is pure metadata work (10 parquet
# schema reads + py4j round-trips, ~0.7 s measured — 8x the cost of a
# small query itself), so repeat calls for the SAME session+dir are
# skipped. This caches no data and no results, but a view pins the file
# listing it was created with, so the key carries a fingerprint of the
# table files: a rewritten table (or a different sf_dir, or a fresh
# session) re-registers.
_REGISTERED_VIEWS: dict[str, tuple[str, tuple]] = {}


def _tables_fingerprint(sf_dir: str) -> tuple:
    """(path, size, mtime) of every table path and the files directly
    inside it; file names are part of it, so a rewrite changes it even
    within the filesystem's timestamp granularity."""
    stamps = []
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            entries = [e.path for e in os.scandir(path)]
        elif os.path.exists(path):
            entries = [path]
        else:
            continue
        for e in sorted(entries):
            st = os.stat(e)
            stamps.append((e, st.st_size, st.st_mtime_ns))
    return tuple(stamps)


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    app_id = spark.sparkContext.applicationId
    key = (sf_dir, _tables_fingerprint(sf_dir))
    if _REGISTERED_VIEWS.get(app_id) == key:
        return
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            spark.read.parquet(path).createOrReplaceTempView(t)
    _REGISTERED_VIEWS[app_id] = key


# ---------------------------------------------------------------------------
# interleaved-span derivation (Spark dialect; DuckDB twin in oracle_sql)
# ---------------------------------------------------------------------------

SPAN_DERIVATION_SPARK = """
with words as (
  select cast(doc_id as string) as doc_id, split(text, ' ') as w from documents
),
chunks as (
  select doc_id, i, array_join(slice(w, i*8+1, 8), ' ') as chunk
  from words lateral view explode(sequence(0, int(ceil(size(w)/8.0))-1)) t as i
),
text_spans as (
  select doc_id, cast(i + int(floor(i/3)) as int) as span_offset, 'text' as kind,
         chunk as span_text, cast(null as string) as media_ref
  from chunks
),
media_spans as (
  select doc_id, cast(i + int(floor(i/3)) + 1 as int) as span_offset, 'media' as kind,
         cast(null as string) as span_text,
         concat(doc_id, '_m', cast(i as string)) as media_ref
  from chunks where (i+1) % 3 = 0
)
select * from text_spans union all select * from media_spans
"""

SPAN_DERIVATION_DUCKDB = """
with words as (
  select cast(doc_id as varchar) as doc_id, string_split(text, ' ') as w from documents
),
chunks as (
  select doc_id, i, array_to_string(w[i*8+1 : i*8+8], ' ') as chunk
  from words, unnest(range(cast(ceil(len(w)/8.0) as bigint))) as t(i)
),
text_spans as (
  select doc_id, cast(i + i//3 as int) as span_offset, 'text' as kind,
         chunk as span_text, cast(null as varchar) as media_ref
  from chunks
),
media_spans as (
  select doc_id, cast(i + i//3 + 1 as int) as span_offset, 'media' as kind,
         cast(null as varchar) as span_text,
         doc_id || '_m' || i as media_ref
  from chunks where (i+1) % 3 = 0
)
select * from text_spans union all select * from media_spans
"""


def derived_spans_df(spark: SparkSession) -> DataFrame:
    """Exploded derived spans (requires registered views)."""
    return spark.sql(SPAN_DERIVATION_SPARK)


def media_refs_df(spark: SparkSession, mod: int) -> DataFrame:
    """Media refs of the doc_id % mod == 0 slice (the shared selection
    every media/audio/video query and its oracle both express)."""
    return (
        derived_spans_df(spark)
        .where((F.col("kind") == "media") & ((F.col("doc_id").cast("bigint") % mod) == 0))
        .select("media_ref")
    )


def interleaved_docs_df(spark: SparkSession, text_only: bool = False) -> DataFrame:
    """Assemble the input_hint-shaped documents table from derived spans."""
    spans = derived_spans_df(spark)
    if text_only:
        spans = spans.where(F.col("kind") == "text").withColumn(
            "span_offset",
            (
                F.row_number().over(Window.partitionBy("doc_id").orderBy("span_offset")) - 1
            ).cast("int"),
        )
    return spans.groupBy("doc_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("span_offset", "kind", "span_text", "media_ref"))
            ),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["span_text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["span_offset"].alias("offset"),
            ),
        ).alias("spans")
    )


def _exploded_results(df: DataFrame) -> DataFrame:
    return df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.order").alias("span_order"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("span_text"),
        F.col("s.media_ref").alias("media_ref"),
    )


# ---------------------------------------------------------------------------
# driver entry points
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction DAG (explode → detect UDF → crop pool →
    recognize UDF → reassemble) on interleaved docs derived from
    sf0.001 documents; returns exploded spans."""
    from oar_ocr_spark.pipeline import extract_spans

    _register_views(spark, DEFAULT_SF_DIR)
    docs = interleaved_docs_df(spark).where(
        (F.col("doc_id").cast("bigint") % E2E_MOD) == 0
    )
    return _exploded_results(extract_spans(spark, docs))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from oar_ocr_spark.functions import dedup as D
    from oar_ocr_spark.functions import similarity as S
    from oar_ocr_spark.functions import text as X
    from oar_ocr_spark.functions.multimodal import image_features_df
    from oar_ocr_spark.pipeline import extract_spans

    def with_views(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _register_views(spark, sf_dir)
            return fn(spark)

        return wrapped

    def docs_tbl(spark):
        return spark.table("documents")

    def q_span_derivation(spark):
        return derived_spans_df(spark)

    def q_span_kind_stats(spark):
        return (
            derived_spans_df(spark)
            .groupBy("doc_id")
            .agg(
                F.sum(F.when(F.col("kind") == "text", 1).otherwise(0))
                .cast("long")
                .alias("n_text"),
                F.sum(F.when(F.col("kind") == "media", 1).otherwise(0))
                .cast("long")
                .alias("n_media"),
                F.max("span_offset").cast("int").alias("max_offset"),
            )
        )

    def q_reading_order(spark):
        # reading-order key sort as a SQL slice (SURVEY.md §2.5):
        # y-bucket (same-line tolerance 10px) then x then id, then y.
        # box_id is NOT unique in this synthetic mapping ((l_orderkey,
        # l_linenumber) repeats in the driver's TPC-H-ish generator), so
        # the trailing y makes the sort total over the OUTPUT columns:
        # any rows still tied are byte-identical except rank, and a
        # contiguous rank block over identical rows yields the same row
        # multiset in every engine (sf1 exposed this; sf0.1 had 2 latent
        # ambiguous ties that both engines happened to break alike).
        return spark.sql(
            """
            with boxes as (
              select l_orderkey*10 + l_linenumber as box_id,
                     cast(l_partkey % 1000 as double) as x,
                     cast(l_suppkey % 500 as double) as y
              from lineitem
            )
            select box_id, x, y,
                   cast(row_number() over (
                     order by cast(floor(y/10) as int), x, box_id, y
                   ) as int) as reading_rank
            from boxes
            """
        )

    def q_overlap_join(spark):
        # spatial theta-join on IoU/IoA (SURVEY.md §2.4) in pure arithmetic.
        # Plan shape: the supplier side is a small broadcastable dim, so
        # Catalyst picks BroadcastNestedLoopJoin — the right 100 TB shape
        # for big-probe x small-dim theta joins — but the probe side is a
        # single parquet file (one partition), which at sf1 serialized 2G
        # pair evaluations onto ONE task. The REPARTITION hint spreads the
        # probe scan so the codegen'd pair loop parallelizes. (A grid-cell
        # equi-join does NOT help here: the synthetic box space is a fixed
        # ~130px square whose density grows with sf, so cell candidate
        # sets exceed the broadcast loop's 2G pairs; for two genuinely
        # large sides the engine's spatial joins key by page instead —
        # structure.py's OCR<->layout matching.)
        return spark.sql(
            """
            with a as (
              select /*+ REPARTITION(32) */ p_partkey as a_id,
                     cast(p_partkey % 100 as double) as x1,
                     cast((p_size * 3) % 100 as double) as y1,
                     cast(p_partkey % 100 + 10 + p_size % 20 as double) as x2,
                     cast((p_size * 3) % 100 + 12 as double) as y2
              from part
            ),
            b as (
              select s_suppkey as b_id,
                     cast(s_suppkey % 100 as double) as x1,
                     cast((s_suppkey * 7) % 100 as double) as y1,
                     cast(s_suppkey % 100 + 25 as double) as x2,
                     cast((s_suppkey * 7) % 100 + 15 as double) as y2
              from supplier
            ),
            j as (
              select a_id, b_id,
                     greatest(0.0, least(a.x2,b.x2) - greatest(a.x1,b.x1)) *
                     greatest(0.0, least(a.y2,b.y2) - greatest(a.y1,b.y1)) as inter,
                     (a.x2-a.x1)*(a.y2-a.y1) as area_a,
                     (b.x2-b.x1)*(b.y2-b.y1) as area_b
              from a join b
                on a.x1 < b.x2 and b.x1 < a.x2 and a.y1 < b.y2 and b.y1 < a.y2
            )
            select a_id, b_id,
                   round(inter / (area_a + area_b - inter), 4) as iou,
                   round(inter / area_a, 4) as ioa
            from j where inter / area_a >= 0.3
            """
        )

    def q_tpch_q1(spark):
        return spark.sql(
            """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) as sum_qty,
                   round(sum(l_extendedprice), 2) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
                   round(avg(l_quantity), 4) as avg_qty,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02 00:00:00'
            group by l_returnflag, l_linestatus
            """
        )

    def q_tpch_q3(spark):
        return spark.sql(
            """
            select o.o_orderkey as orderkey,
                   round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue,
                   o.o_orderdate as orderdate
            from customer c
            join orders o on c.c_custkey = o.o_custkey
            join lineitem l on l.l_orderkey = o.o_orderkey
            where c.c_mktsegment = 'BUILDING'
            group by o.o_orderkey, o.o_orderdate
            order by revenue desc, orderkey
            limit 10
            """
        )

    def q_events_hourly(spark):
        return spark.sql(
            """
            select event_type, date_trunc('hour', ts) as hour_ts,
                   count(*) as n_events, round(sum(value), 2) as sum_value
            from events
            group by event_type, date_trunc('hour', ts)
            """
        )

    def q_dedup_exact(spark):
        return D.exact_dedup(docs_tbl(spark))

    def q_corpus_clean(spark):
        # composed training-data cleaning pipeline: exact-dedup
        # representatives ∩ quality floor ∩ language filter — the
        # realistic pre-training corpus pass, one declarative plan
        from oar_ocr_spark.partitioning import spread

        # three interpreted-HOF branches (quality / lang / dedup) would
        # otherwise each run on the one-partition parquet scan (32 s
        # serial at sf1)
        docs = spread(
            docs_tbl(spark), spark.sparkContext.defaultParallelism, "doc_id"
        )
        q = X.quality_score(docs).select(
            F.col("doc_id").cast("string").alias("doc_id"), "quality"
        )
        lang = X.lang_id(docs).select(
            F.col("doc_id").cast("string").alias("doc_id"), "lang_guess"
        )
        keep = D.exact_dedup(docs).select(F.col("keep_doc_id").alias("doc_id"))
        return (
            q.join(lang, "doc_id")
            .join(keep, "doc_id")
            .where((F.col("quality") >= 0.5) & (F.col("lang_guess") == "en"))
            .select("doc_id", "quality", "lang_guess")
        )

    def q_token_stats(spark):
        return X.token_stats(docs_tbl(spark)).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )

    def q_quality(spark):
        return X.quality_score(docs_tbl(spark)).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )

    def q_lang_id(spark):
        return X.lang_id(docs_tbl(spark)).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )

    def q_fingerprint(spark):
        return X.fingerprint(docs_tbl(spark)).withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )

    def q_minhash_bands(spark):
        return D.minhash_band_hashes(docs_tbl(spark), n_hashes=8, n_bands=2, k=3)

    def q_minhash_candidates(spark):
        return D.minhash_candidates(q_minhash_bands(spark))

    def q_dedup_clusters(spark):
        # duplicate clusters: connected components over the minhash
        # candidate pairs via iterative min-label propagation (one
        # shuffle join per round, fixpoint-stopped)
        return D.duplicate_clusters(D.minhash_candidates(q_minhash_bands(spark)))

    def q_ngram_jaccard(spark):
        return D.ngram_jaccard_pairs(docs_tbl(spark), k=3, threshold=0.2, max_df=1000)

    def q_decontaminate(spark):
        # benchmark decontamination (training-data hygiene): the eval
        # suite is the first-12-words prompt of every doc_id % 23 == 0
        # document (the verbatim-leak model); docs sharing any word
        # 8-gram with a prompt — leak sources and their duplicates —
        # are flagged. Broadcast semi-join shape: benchmark gram sets
        # are small by nature.
        return D.decontaminate_df(docs_tbl(spark), bench_mod=23, k=8)

    def q_knn(spark):
        emb = spark.table("embeddings")
        q = emb.where(F.col("vec_id") % 50 == 0)
        return S.knn_bruteforce(emb, q, k=5)

    def q_simhash(spark):
        return D.simhash_df(docs_tbl(spark))

    def q_lsh_ann(spark):
        # axis-plane flavor: bucketing is pure Catalyst and SQL-
        # expressible, so the whole ANN query is oracle-checked
        # (the random-hyperplane flavor stays recall-tested in pytest)
        emb = spark.table("embeddings")
        q = emb.where(F.col("vec_id") % 50 == 0)
        return S.lsh_ann(emb, q, dim=64, k=5, n_bits=6, n_tables=4, planes="axis")

    def q_knn_self_join(spark):
        # exact full-table top-5 neighbors, distributed block-pair shape
        emb = spark.table("embeddings")
        return S.knn_self_join(emb, k=5, n_blocks=8)

    def q_ivf_ann(spark):
        # IVF coarse-quantizer ANN with a TRAINED codebook: 2 rounds of
        # deterministic sampled-Lloyd k-means (seeds vec_id % 37,
        # 6dp-rounded means), then nprobe=3 probing — training,
        # assignment and probing are broadcast joins + windows, fully
        # SQL-expressible (the oracle unrolls the same k-means rounds)
        emb = spark.table("embeddings")
        q = emb.where(F.col("vec_id") % 50 == 0)
        codebook = S.train_ivf_centroids(emb, centroid_mod=37, iters=2)
        return S.ivf_ann(emb, q, k=5, nprobe=3, centroids=codebook)

    def q_embedding_near_dup(spark):
        # embedding-cosine near-dup pairs, mode="exact": top-5
        # neighborhoods from the distributed block-pair self-join (no
        # driver collect; bounded per-task matmuls) filtered by
        # similarity — the oracle-gate path. The gate corpus's
        # qualifying pairs sit at cosine≈0.3 where hyperplane LSH
        # recall is ~5%, so exact is the only correct mode here (see
        # similarity.embedding_near_dup docstring for the crossover).
        emb = spark.table("embeddings")
        return S.embedding_near_dup(emb, threshold=0.3, mode="exact", k=5, n_blocks=8)

    def q_embedding_near_dup_approx(spark):
        # the 100 TB near-dup path: multi-table LSH candidate
        # generation (bucket self equi-join, no broadcast) + exact
        # cosine re-rank. Axis planes keep it SQL-expressible, so the
        # oracle checks the ALGORITHM exactly (candidates included);
        # the recall bound at a real near-dup threshold (≥0.95 at 0.9)
        # is pinned by the planted-cluster pytest — at this corpus's
        # 0.3 operating point approx recall is low BY DESIGN, which is
        # why embedding_near_dup (exact) is the gate query.
        emb = spark.table("embeddings")
        return S.embedding_near_dup(
            emb, threshold=0.3, mode="approx", dim=64, n_bits=6, n_tables=4, planes="axis"
        )

    def q_media_decode(spark):
        # deterministic subset (doc_id % 10) so the oracle can name the
        # exact ref set; features per ref are golden-fixture-checked
        refs = media_refs_df(spark, FEATURES_MOD)
        return image_features_df(refs)

    def q_media_png_roundtrip(spark):
        # real-format seam: render → encode real PNG bytes (the media
        # store write side) → decode via the pure-numpy PNG codec →
        # features. PNG is lossless, so the oracle is the same golden
        # feature table as media_decode_stats — proving byte-level
        # round-trip fidelity inside the driver gate.
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            png_store_df,
        )

        refs = media_refs_df(spark, PNG_MOD)
        return image_features_from_bytes_df(png_store_df(refs))

    def q_media_jpeg_roundtrip(spark):
        # the LOSSY real-format seam: render → baseline JPEG q100
        # (functions/jpeg.py, pure-numpy T.81 encoder) → decode →
        # features. The oracle golden is computed through the SAME
        # codec twin (media_features_jpeg.parquet), so the gate checks
        # the distributed byte path bit-for-bit without assuming JPEG
        # is lossless (it is not; q100 error is ±1).
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            jpeg_store_df,
        )

        refs = media_refs_df(spark, JPEG_MOD)
        return image_features_from_bytes_df(jpeg_store_df(refs))

    def q_media_legacy_roundtrip(spark):
        # the legacy-format seam: render → encode REAL GIF / TIFF /
        # BMP bytes (format + encoder options crc32-derived per ref —
        # interlaced GIF, packbits TIFF, RLE8 BMP all exercised) →
        # magic-byte dispatch decode → features. Every flavor is
        # lossless on grey pages (identity grey palettes), so the
        # oracle is the same golden feature table as the PNG query.
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            legacy_store_df,
        )

        refs = media_refs_df(spark, LEGACY_MOD)
        return image_features_from_bytes_df(legacy_store_df(refs))

    def q_media_lossless_roundtrip(spark):
        # the predictive-coding seam: render → encode REAL lossless
        # JPEG bytes (SOF3, T.81 Annex H; predictor 1-7 and restart
        # flavor crc32-chosen per ref) → magic-byte dispatch decode →
        # features. SOF3 is lossless by construction, so the oracle is
        # the same golden feature table as the PNG query.
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            lossless_jpeg_store_df,
        )

        refs = media_refs_df(spark, LOSSLESS_MOD)
        return image_features_from_bytes_df(lossless_jpeg_store_df(refs))

    def q_media_deep_jpeg_roundtrip(spark):
        # the deep-DCT seam: render → lift to 12-bit (p8<<4|p8>>4) →
        # encode REAL 12-bit EXTENDED SEQUENTIAL JPEG bytes (SOF1, the
        # lossy DCT layout 12-bit DICOM uses; quality/restart flavor
        # crc32-chosen per ref) → magic-byte dispatch decode (top-8
        # projection at the seam) → features. The DCT is LOSSY, so the
        # oracle golden is computed through the SAME codec twin
        # (media_features_deepjpeg.parquet, the jp2/JPEG-q100 pattern).
        from oar_ocr_spark.functions.multimodal import (
            deep_jpeg_store_df,
            image_features_from_bytes_df,
        )

        refs = media_refs_df(spark, DEEPJPEG_MOD)
        return image_features_from_bytes_df(deep_jpeg_store_df(refs))

    def q_media_jp2_roundtrip(spark):
        # the JPEG 2000 seam: render → encode REAL J2K/JP2 bytes
        # (EBCOT Tier-1/2; depth, container, and transform flavor
        # crc32-chosen per ref — half lossless 5/3 archival, half the
        # irreversible 9/7 + scalar-quantization profile real scanners
        # emit) → magic-byte dispatch decode → features. The 9/7
        # flavors are LOSSY, so the oracle golden is computed through
        # the SAME codec twin (media_features_jp2.parquet, the
        # JPEG-q100 pattern). EBCOT Tier-1 is the engine's priciest
        # per-page codec, so the gate drives a DETERMINISTIC 48-ref
        # slice (first by ref order) — cost stays flat at every sf;
        # the codec itself is unbounded.
        from oar_ocr_spark.functions.multimodal import (
            image_features_from_bytes_df,
            jp2_store_df,
        )

        refs = media_refs_df(spark, JP2_MOD).orderBy("media_ref").limit(48)
        return image_features_from_bytes_df(jp2_store_df(refs))

    def q_media_fax_roundtrip(spark):
        # the scanned-bilevel seam: render → threshold to bilevel →
        # encode REAL CCITT TIFF bytes (G4/G3-2D/G3-1D MH, both
        # photometric polarities, FillOrder 1/2, single- and
        # multi-strip) or REAL JBIG2 files (T.88 arithmetic generic
        # regions, all templates/TPGDON/MMR — functions/jbig2.py) —
        # all crc32-chosen per ref → magic-byte dispatch decode →
        # features. Both codecs are lossless on bilevel input, so the
        # oracle is the fax golden table computed through the same
        # threshold twin (tools/make_goldens._fax_feature_row).
        from oar_ocr_spark.functions.multimodal import (
            fax_store_df,
            image_features_from_bytes_df,
        )

        refs = media_refs_df(spark, FAX_MOD)
        return image_features_from_bytes_df(fax_store_df(refs))

    def q_pdf_extract(spark):
        # PDF container input (ref: hayro dep, Cargo.toml:20; the
        # north-rule's "PDF/layout parse"): pack each doc's pages into
        # ONE real PDF (functions/pdf.py writer), unpack via the real
        # parser into the (media_ref, payload) page store, then run the
        # FULL extraction DAG from those bytes. mix=True crc32-chooses
        # LOSSLESS writer flavors per doc/page — classic xref table vs
        # 1.5 xref stream + /ObjStm, plain vs rc4-128/aes-128 empty-
        # password encryption, and flate vs Separation (type-4
        # calculator tint) vs 2-colorant DeviceN (2-D sampled tint)
        # images — so this one gate row drives the parser's whole
        # structural surface. Every flavor roundtrips bit-exact, so
        # the oracle stays exact span-sequence equality against the
        # same golden as extraction_e2e.
        from oar_ocr_spark.functions.pdf import pdf_media_store_df, pdf_store_df
        from oar_ocr_spark.local_ref import ExtractConfig
        from oar_ocr_spark.pipeline import extract_spans

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % PDF_MOD) == 0
        )
        store = pdf_media_store_df(pdf_store_df(docs, mix=True))
        return _exploded_results(extract_spans(spark, docs, media_store=store))

    def q_pdf_text_extract(spark):
        # born-digital PDF text layer (ref: hayro text extraction,
        # Cargo.toml:20): pack each doc's TEXT spans as real content-
        # stream text pages (crc32-mixed literal/hex/TJ/positioned-
        # words/CID layouts, xref layouts, encryption quarter), then
        # read them back through the §9 text state machine
        # (functions/pdf_text.py) — no rendering, no OCR. Every
        # layout roundtrips the exact string, so the oracle is pure
        # SQL over the span derivation.
        from oar_ocr_spark.functions.pdf import (
            pdf_text_spans_df,
            pdf_text_store_df,
        )

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % PDFTXT_MOD) == 0
        )
        store = pdf_text_store_df(docs)
        return pdf_text_spans_df(store)

    def q_pdf_hybrid_extract(spark):
        # the real-world document loop: each doc exists ONLY as one
        # PDF mixing born-digital text pages with scanned image pages
        # (every span a page). One parse splits them — text pages
        # yield their embedded text layer directly (NO OCR), image
        # pages flow the FULL extraction DAG — and the reassembled
        # span sequence must equal the extraction_e2e golden. The
        # unpack is repartitioned so the docs-shape and media-store
        # consumers share one shuffle (ReusedExchange) instead of
        # parsing twice.
        from oar_ocr_spark.functions.pdf import (
            pdf_hybrid_store_df,
            pdf_hybrid_unpack_df,
        )
        from oar_ocr_spark.pipeline import extract_spans

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % HYB_MOD) == 0
        )
        par = spark.sparkContext.defaultParallelism
        # localCheckpoint (lazy): the unpack feeds THREE consumers
        # (docs-shape groupBy, media store, doc-id preservation) whose
        # column pruning makes the exchange subtrees differ, so plain
        # exchange reuse never fires and the whole parse+render lineage
        # executed once per consumer (18 MapInPandas nodes in the
        # round-6 before-plan). Checkpointing materializes the parse
        # ONCE per run; RDD-level storage is not plan-matched by the
        # CacheManager, so separate runs still recompute from parquet.
        # No one can unpersist it: its blocks go when the driver JVM
        # garbage-collects the RDD after the result frame is dropped and
        # Spark's ContextCleaner removes them (periodic driver GC: every
        # 30 min by default; pinned by tests/test_session_hygiene.py).
        unpacked = (
            pdf_hybrid_unpack_df(pdf_hybrid_store_df(docs))
            .repartition(par, "doc_id")
            .localCheckpoint(eager=False)
        )
        docs2 = unpacked.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("offset", "kind", "text", "media_ref")
                    )
                ),
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    s["text"].alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ).alias("spans")
        )
        media = unpacked.where(F.col("kind") == "media").select(
            "media_ref", "payload"
        )
        return _exploded_results(
            extract_spans(spark, docs2, media_store=media)
        )

    def q_tiff_extract(spark):
        # archival multi-page TIFF container input: pack each doc's
        # pages into ONE real multi-page TIFF (IFD chain, page refs in
        # ImageDescription), unpack via the real parser into the
        # (media_ref, payload) page store, then run the FULL extraction
        # DAG from those bytes. Both container steps are lossless, so
        # the oracle is exact span-sequence equality against the same
        # golden as extraction_e2e (the pdf_extract pattern).
        from oar_ocr_spark.functions.tiff import tiff_media_store_df, tiff_store_df
        from oar_ocr_spark.pipeline import extract_spans

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % TIFF_MOD) == 0
        )
        store = tiff_media_store_df(tiff_store_df(docs))
        return _exploded_results(extract_spans(spark, docs, media_store=store))

    def q_audio_wav_features(spark):
        # audio modality through REAL PCM WAV bytes (functions/wav.py):
        # deterministic waveform fixture → encode → decode → clip
        # features. WAV PCM is lossless; the golden twin runs the same
        # functions single-process (audio_features.parquet).
        from oar_ocr_spark.functions.wav import (
            audio_features_from_bytes_df,
            wav_store_df,
        )

        refs = media_refs_df(spark, AUDIO_MOD)
        return audio_features_from_bytes_df(wav_store_df(refs))

    def q_audio_telephony_roundtrip(spark):
        # the COMPRESSED voice seam: waveform fixture → G.711 mu-law /
        # A-law / IMA ADPCM / MS-ADPCM bytes (crc32-chosen per ref,
        # multi-block ADPCM included) → decode → clip features. All are
        # lossy, so the golden is computed through the same
        # encode-then-decode twin (audio_features_telephony.parquet) —
        # the media_jpeg_roundtrip pattern for audio.
        from oar_ocr_spark.functions.wav import (
            audio_features_from_bytes_df,
            telephony_store_df,
        )

        refs = media_refs_df(spark, AUDIO_MOD)
        return audio_features_from_bytes_df(telephony_store_df(refs))

    def q_video_frame_stats(spark):
        # video modality through a REAL container: AVI-MJPEG
        # (functions/avi.py) with 8 frames per ref; the sampler seeks
        # the container index and decodes ONLY the 4 sampled frames
        # (intra-only codec → exact random access).
        from oar_ocr_spark.functions.avi import (
            frame_sample_from_bytes_df,
            video_store_df,
        )

        refs = media_refs_df(spark, VIDEO_MOD)
        return frame_sample_from_bytes_df(video_store_df(refs, n_frames=8), n_sample=4)

    def q_html_extract(spark):
        # HTML boilerplate strip / DOM heuristics (named by the north
        # rule alongside PDF parse): deterministic template-wrapped
        # pages -> Readability-style density extraction. The oracle is
        # pure SQL: a correct extractor recovers exactly the
        # whitespace-normalized document text, ceil(words/12) kept
        # paragraphs, and the template's fixed boilerplate block count
        # (template id = md5 hex digit % 3, replicated in DuckDB).
        from oar_ocr_spark.fixtures.htmlgen import html_corpus_df
        from oar_ocr_spark.functions.html import html_main_content_df

        docs = (
            spark.table("documents")
            .where((F.col("doc_id").cast("bigint") % HTML_MOD) == 0)
            .select("doc_id", "text")
        )
        pages = html_corpus_df(
            docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        )
        return html_main_content_df(pages)

    def q_extraction_text_only(spark):
        docs = interleaved_docs_df(spark, text_only=True)
        return _exploded_results(extract_spans(spark, docs))

    def q_doc_text_stats(spark):
        # result-level rollup (result.rs:53-97): concatenated_text,
        # recognized counts, average_confidence over the extraction
        # output — pure Catalyst HOFs on the spans array
        from oar_ocr_spark.functions.results import doc_text_stats

        docs = interleaved_docs_df(spark, text_only=True)
        return doc_text_stats(extract_spans(spark, docs))

    def q_extraction_e2e(spark):
        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % E2E_MOD) == 0
        )
        return _exploded_results(extract_spans(spark, docs))

    def q_extraction_rotated(spark):
        # rotated-text flavor: min-area-rect quad detection (rotating
        # calipers) + 4-pt perspective crops; media refs prefixed
        # 'rot:' render skewed lines. Golden-pinned in pytest
        # (test_rotated_geometry / test_pipeline_golden); rows-only
        # here (the OCR pipeline itself is not SQL-expressible).
        from oar_ocr_spark.local_ref import ExtractConfig

        docs = (
            derived_spans_df(spark)
            .where((F.col("doc_id").cast("bigint") % ROTWARP_MOD) == 0)
            .withColumn(
                "media_ref",
                F.when(
                    F.col("kind") == "media", F.concat(F.lit("rot:"), F.col("media_ref"))
                ),
            )
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("span_offset", "kind", "span_text", "media_ref")
                        )
                    ),
                    lambda s: F.struct(
                        s["kind"].alias("kind"),
                        s["span_text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["span_offset"].alias("offset"),
                    ),
                ).alias("spans")
            )
        )
        return _exploded_results(
            extract_spans(spark, docs, ExtractConfig(text_type="rotated"))
        )

    def q_extraction_warped(spark):
        # UVDoc rectification flavor: 'warp:' media refs render pages
        # with a per-column sag that provably breaks unrectified
        # decoding; use_rectification=True recovers the exact text
        # (golden-pinned in test_pipeline_golden / rows-only here)
        from oar_ocr_spark.local_ref import ExtractConfig

        docs = (
            derived_spans_df(spark)
            .where((F.col("doc_id").cast("bigint") % ROTWARP_MOD) == 0)
            .withColumn(
                "media_ref",
                F.when(
                    F.col("kind") == "media", F.concat(F.lit("warp:"), F.col("media_ref"))
                ),
            )
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("span_offset", "kind", "span_text", "media_ref")
                        )
                    ),
                    lambda s: F.struct(
                        s["kind"].alias("kind"),
                        s["span_text"].alias("text"),
                        s["media_ref"].alias("media_ref"),
                        s["span_offset"].alias("offset"),
                    ),
                ).alias("spans")
            )
        )
        return _exploded_results(
            extract_spans(spark, docs, ExtractConfig(use_rectification=True))
        )

    def q_structure_extract(spark):
        # PP-StructureV3 track: layout detect → postprocess → OCR match
        # → text join → xycut_enhanced order → markdown, per media page
        from oar_ocr_spark.pipeline_structure import extract_structure

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % STRUCT_MOD) == 0
        )
        out = extract_structure(spark, docs)
        return out.select(
            "doc_id",
            "media_ref",
            "para_start",
            "para_end",
            F.explode("elements").alias("e"),
        ).select(
            "doc_id",
            "media_ref",
            F.col("e.element_type").alias("element_type"),
            F.col("e.text").alias("element_text"),
            F.col("e.html").alias("element_html"),
            F.col("e.order_index").alias("order_index"),
            "para_start",
            "para_end",
        )

    def q_document_markdown(spark):
        # PageContinuationFlags-aware multi-page markdown concat —
        # pure-Catalyst F.aggregate fold over the per-page structure
        # rows (domain/structure.rs:1223); cross-checked against the
        # Python port in pytest, rows-only here
        from oar_ocr_spark.pipeline_structure import document_markdown, extract_structure

        docs = interleaved_docs_df(spark).where(
            (F.col("doc_id").cast("bigint") % STRUCT_MOD) == 0
        )
        return document_markdown(extract_structure(spark, docs))

    def q_layout_label_map(spark):
        # broadcast label-normalization maps as a checkable relation
        from oar_ocr_spark.operators.layout_types import (
            LABEL_TO_TYPE,
            SEMANTIC_CATEGORY,
            SHOULD_OCR,
        )

        rows = [
            (lbl, canon, SEMANTIC_CATEGORY[canon], canon in SHOULD_OCR)
            for lbl, canon in sorted(LABEL_TO_TYPE.items())
        ]
        return spark.createDataFrame(
            rows, "label string, canonical string, category string, should_ocr boolean"
        )

    def q_lineage_stats(spark):
        return (
            derived_spans_df(spark)
            .withColumn("bucket", (F.col("doc_id").cast("bigint") % 8).cast("int"))
            .groupBy("bucket", "kind")
            .agg(
                F.count("*").alias("n_spans"),
                F.countDistinct("doc_id").alias("n_docs"),
            )
        )

    return {
        "span_derivation": with_views(q_span_derivation),
        "span_kind_stats": with_views(q_span_kind_stats),
        "reading_order_keys": with_views(q_reading_order),
        "overlap_join": with_views(q_overlap_join),
        "tpch_q1_pricing": with_views(q_tpch_q1),
        "tpch_q3_revenue_topk": with_views(q_tpch_q3),
        "events_hourly": with_views(q_events_hourly),
        "dedup_exact": with_views(q_dedup_exact),
        "corpus_clean": with_views(q_corpus_clean),
        "token_stats": with_views(q_token_stats),
        "quality_score": with_views(q_quality),
        "lang_id": with_views(q_lang_id),
        "doc_fingerprint": with_views(q_fingerprint),
        "minhash_bands": with_views(q_minhash_bands),
        "minhash_candidates": with_views(q_minhash_candidates),
        "dedup_clusters": with_views(q_dedup_clusters),
        "ngram_jaccard": with_views(q_ngram_jaccard),
        "decontaminate": with_views(q_decontaminate),
        "knn_bruteforce": with_views(q_knn),
        "knn_self_join": with_views(q_knn_self_join),
        "embedding_near_dup": with_views(q_embedding_near_dup),
        "embedding_near_dup_approx": with_views(q_embedding_near_dup_approx),
        "simhash": with_views(q_simhash),
        "lsh_ann": with_views(q_lsh_ann),
        "ivf_ann": with_views(q_ivf_ann),
        "media_decode_stats": with_views(q_media_decode),
        "media_png_roundtrip": with_views(q_media_png_roundtrip),
        "media_jpeg_roundtrip": with_views(q_media_jpeg_roundtrip),
        "media_gif_tiff_bmp_roundtrip": with_views(q_media_legacy_roundtrip),
        "media_lossless_roundtrip": with_views(q_media_lossless_roundtrip),
        "media_jp2_roundtrip": with_views(q_media_jp2_roundtrip),
        "media_deep_jpeg_roundtrip": with_views(q_media_deep_jpeg_roundtrip),
        "media_fax_roundtrip": with_views(q_media_fax_roundtrip),
        "pdf_extract": with_views(q_pdf_extract),
        "pdf_text_extract": with_views(q_pdf_text_extract),
        "pdf_hybrid_extract": with_views(q_pdf_hybrid_extract),
        "tiff_extract": with_views(q_tiff_extract),
        "audio_wav_features": with_views(q_audio_wav_features),
        "audio_telephony_roundtrip": with_views(q_audio_telephony_roundtrip),
        "video_frame_stats": with_views(q_video_frame_stats),
        "html_extract": with_views(q_html_extract),
        "extraction_text_only": with_views(q_extraction_text_only),
        "doc_text_stats": with_views(q_doc_text_stats),
        "extraction_e2e": with_views(q_extraction_e2e),
        "extraction_rotated": with_views(q_extraction_rotated),
        "extraction_warped": with_views(q_extraction_warped),
        "structure_extract": with_views(q_structure_extract),
        "document_markdown": with_views(q_document_markdown),
        "layout_label_map": with_views(q_layout_label_map),
        "lineage_stats": with_views(q_lineage_stats),
    }


def oracle_sql() -> dict[str, str]:
    from oar_ocr_spark.fixtures.htmlgen import (
        BOILERPLATE_BLOCKS,
        WORDS_PER_PARAGRAPH,
    )

    from oar_ocr_spark.operators.layout_types import (
        LABEL_TO_TYPE,
        SEMANTIC_CATEGORY,
        SHOULD_OCR,
    )

    label_values = ",\n".join(
        f"('{lbl}', '{canon}', '{SEMANTIC_CATEGORY[canon]}', {str(canon in SHOULD_OCR).lower()})"
        for lbl, canon in sorted(LABEL_TO_TYPE.items())
    )
    span_cte = SPAN_DERIVATION_DUCKDB.strip().rstrip()

    def _cos_sql(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform(list_zip({a}, {b}), "
            "x -> cast(x[1] as double) * cast(x[2] as double))) / "
            f"(sqrt(list_sum(list_transform({a}, v -> cast(v as double)*cast(v as double)))) * "
            f"sqrt(list_sum(list_transform({b}, v -> cast(v as double)*cast(v as double)))))"
        )

    def _kmeans_ctes(iters: int) -> str:
        """Unrolled deterministic sampled-Lloyd k-means (the DuckDB twin
        of similarity.train_ivf_centroids): seeds vec_id % 37, per-round
        nearest-centroid assignment under the engine total order, then
        6dp-rounded element-wise member means; empty clusters keep the
        previous centroid. The 6dp rounding pins both engines' float
        paths to identical codebooks."""
        parts = [
            """cent0 as (
  select vec_id as centroid_id,
         list_transform(embedding, v -> cast(v as double)) as cv
  from embeddings where vec_id % 37 = 0
)"""
        ]
        for i in range(1, iters + 1):
            prev = f"cent{i-1}"
            parts.append(
                f"""assign{i} as (
  select vid, centroid_id, v from (
    select e.vec_id as vid, e.embedding as v, c.centroid_id,
           row_number() over (partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.cv')}, 6) desc, c.centroid_id) as rn
    from embeddings e cross join {prev} c
  ) where rn = 1
),
upd{i} as (
  select centroid_id, d.i as pos, round(avg(cast(v[d.i+1] as double)), 6) as m
  from assign{i}, unnest(range(len(v))) as d(i)
  group by centroid_id, d.i
),
updl{i} as (
  select centroid_id, list(m order by pos) as new_cv from upd{i} group by centroid_id
),
cent{i} as (
  select c.centroid_id, coalesce(u.new_cv, c.cv) as cv
  from {prev} c left join updl{i} u using (centroid_id)
)"""
            )
        return ",\n".join(parts)
    # axis-plane LSH buckets (must mirror similarity.axis_bucket_df)
    _n_bits, _n_tables = 6, 4
    _bucket_selects = " union all ".join(
        "select vec_id, {t} as table_id, cast({bits} as int) as bucket from embeddings".format(
            t=t,
            bits=" + ".join(
                f"(case when embedding[{t*_n_bits+i+1}] > 0 then {1 << i} else 0 end)"
                for i in range(_n_bits)
            ),
        )
        for t in range(_n_tables)
    )
    shingles_cte = """
with words as (
  select cast(doc_id as varchar) as doc_id, string_split(text, ' ') as w from documents
),
shingles as (
  select distinct doc_id, array_to_string(w[i+1 : i+3], ' ') as sh
  from words, unnest(range(cast(greatest(len(w)-2, 1) as bigint))) as t(i)
)"""

    # golden-fixture tables for the pipeline-track oracles: recognized
    # texts / structure elements / markdown per media_ref, computed by
    # the single-process Python twins (tools/make_goldens.py — the same
    # functions the Spark UDFs call, pinned by the pytest golden gate).
    # The SQL below re-derives everything relational — span
    # interleaving, reading order, joins, the final row_number order —
    # so the oracle checks the distributed plumbing, not just a replay.
    golden_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "oar_ocr_spark", "fixtures", "golden"
    )

    def _extraction_oracle(doc_mod: int, prefix: str) -> str:
        """Span-sequence twin: pass-through text spans interleaved (by
        offset) with golden recognized spans per media ref in detection
        order; order = row_number per doc (assemble_results semantics)."""
        ref_expr = f"'{prefix}' || media_ref" if prefix else "media_ref"
        return f"""
with spans as ({span_cte}),
filt as (
  select doc_id, span_offset, kind, span_text,
         case when kind = 'media' then {ref_expr} end as media_ref
  from spans where cast(doc_id as bigint) % {doc_mod} = 0
),
media as (
  select f.doc_id, f.span_offset, g.det_rank, 'media' as kind,
         g.rec_text as span_text, f.media_ref
  from filt f
  join read_parquet('{golden_dir}/media_rec.parquet') g on g.media_ref = f.media_ref
  where f.kind = 'media'
),
text_sp as (
  select doc_id, span_offset, -1 as det_rank, 'text' as kind, span_text,
         cast(null as varchar) as media_ref
  from filt where kind = 'text'
),
unioned as (select * from text_sp union all select * from media)
select doc_id,
       cast(row_number() over (
         partition by doc_id order by span_offset, det_rank
       ) - 1 as int) as span_order,
       kind, span_text, media_ref
from unioned
"""
    return {
        "span_derivation": span_cte,
        "span_kind_stats": f"""
with spans as ({span_cte})
select doc_id,
       sum(case when kind='text' then 1 else 0 end)::bigint as n_text,
       sum(case when kind='media' then 1 else 0 end)::bigint as n_media,
       cast(max(span_offset) as int) as max_offset
from spans group by doc_id
""",
        "reading_order_keys": """
with boxes as (
  select l_orderkey*10 + l_linenumber as box_id,
         cast(l_partkey % 1000 as double) as x,
         cast(l_suppkey % 500 as double) as y
  from lineitem
)
select box_id, x, y,
       cast(row_number() over (
         order by cast(floor(y/10) as int), x, box_id, y
       ) as int) as reading_rank
from boxes
""",
        "overlap_join": """
with a as (
  select p_partkey as a_id,
         cast(p_partkey % 100 as double) as x1,
         cast((p_size * 3) % 100 as double) as y1,
         cast(p_partkey % 100 + 10 + p_size % 20 as double) as x2,
         cast((p_size * 3) % 100 + 12 as double) as y2
  from part
),
b as (
  select s_suppkey as b_id,
         cast(s_suppkey % 100 as double) as x1,
         cast((s_suppkey * 7) % 100 as double) as y1,
         cast(s_suppkey % 100 + 25 as double) as x2,
         cast((s_suppkey * 7) % 100 + 15 as double) as y2
  from supplier
),
j as (
  select a_id, b_id,
         greatest(0.0, least(a.x2,b.x2) - greatest(a.x1,b.x1)) *
         greatest(0.0, least(a.y2,b.y2) - greatest(a.y1,b.y1)) as inter,
         (a.x2-a.x1)*(a.y2-a.y1) as area_a,
         (b.x2-b.x1)*(b.y2-b.y1) as area_b
  from a join b
    on a.x1 < b.x2 and b.x1 < a.x2 and a.y1 < b.y2 and b.y1 < a.y2
)
select a_id, b_id,
       round(inter / (area_a + area_b - inter), 4) as iou,
       round(inter / area_a, 4) as ioa
from j where inter / area_a >= 0.3
""",
        "tpch_q1_pricing": """
select l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) as sum_qty,
       round(sum(l_extendedprice), 2) as sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) as sum_disc_price,
       round(avg(l_quantity), 4) as avg_qty,
       count(*) as count_order
from lineitem
where l_shipdate <= timestamp '1998-09-02 00:00:00'
group by l_returnflag, l_linestatus
""",
        "tpch_q3_revenue_topk": """
select o.o_orderkey as orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue,
       o.o_orderdate as orderdate
from customer c
join orders o on c.c_custkey = o.o_custkey
join lineitem l on l.l_orderkey = o.o_orderkey
where c.c_mktsegment = 'BUILDING'
group by o.o_orderkey, o.o_orderdate
order by revenue desc, orderkey
limit 10
""",
        "events_hourly": """
select event_type, date_trunc('hour', ts) as hour_ts,
       count(*) as n_events, round(sum(value), 2) as sum_value
from events
group by event_type, date_trunc('hour', ts)
""",
        "dedup_exact": """
select md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fp,
       min(cast(doc_id as varchar)) as keep_doc_id,
       count(*) as n_dups
from documents group by 1
""",
        "corpus_clean": """
with t as (
  select cast(doc_id as varchar) as doc_id, string_split(text, ' ') as toks, text
  from documents
),
m as (
  select doc_id,
         cast(len(toks) as int) as n_tokens,
         len(list_filter(toks, x -> x in ('the','a','of','and','in','to','is'))) as n_stop,
         length(regexp_replace(text, '[^0-9]', '', 'g')) as digit_chars,
         length(text) as n_chars
  from t
),
q as (
  select doc_id,
         round(0.4 * least(n_stop / cast(n_tokens as double) / 0.1, 1.0)
             + 0.3 * least(n_tokens / 100.0, 1.0)
             + 0.3 * (1 - digit_chars / cast(greatest(n_chars, 1) as double)), 4) as quality
  from m
),
h as (
  select doc_id,
         cast(len(list_intersect(toks, ['der','die','das','und','daten','abfrage'])) as int) as hits_de,
         cast(len(list_intersect(toks, ['the','a','of','and','query','fast'])) as int) as hits_en,
         cast(len(list_intersect(toks, ['el','la','de','y','datos','consulta'])) as int) as hits_es,
         cast(len(list_intersect(toks, ['le','la','de','et','données','requête'])) as int) as hits_fr,
         cast(len(list_intersect(toks, ['的','是','在','和','数据','查询'])) as int) as hits_zh
  from t
),
lang as (
  select doc_id,
         case when hits_de = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'de'
              when hits_en = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'en'
              when hits_es = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'es'
              when hits_fr = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'fr'
              else 'zh' end as lang_guess
  from h
),
keep as (
  select min(cast(doc_id as varchar)) as doc_id
  from documents
  group by md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
)
select q.doc_id, q.quality, lang.lang_guess
from q join lang using (doc_id) join keep using (doc_id)
where q.quality >= 0.5 and lang.lang_guess = 'en'
""",
        "token_stats": """
select cast(doc_id as varchar) as doc_id,
       cast(len(string_split(text, ' ')) as int) as n_tokens,
       cast(length(text) as int) as n_chars,
       round((length(text) - len(string_split(text,' ')) + 1) /
             cast(len(string_split(text,' ')) as double), 4) as avg_token_len
from documents
""",
        "quality_score": """
with t as (
  select cast(doc_id as varchar) as doc_id,
         string_split(text, ' ') as toks,
         text
  from documents
),
m as (
  select doc_id,
         cast(len(toks) as int) as n_tokens,
         len(list_filter(toks, x -> x in ('the','a','of','and','in','to','is'))) as n_stop,
         length(regexp_replace(text, '[^0-9]', '', 'g')) as digit_chars,
         length(text) as n_chars
  from t
)
select doc_id, n_tokens,
       round(n_stop / cast(n_tokens as double), 4) as stop_ratio,
       round(digit_chars / cast(greatest(n_chars, 1) as double), 4) as digit_ratio,
       round(0.4 * least(n_stop / cast(n_tokens as double) / 0.1, 1.0)
           + 0.3 * least(n_tokens / 100.0, 1.0)
           + 0.3 * (1 - digit_chars / cast(greatest(n_chars, 1) as double)), 4) as quality
from m
""",
        "lang_id": """
with t as (
  select cast(doc_id as varchar) as doc_id, string_split(text, ' ') as toks
  from documents
),
h as (
  select doc_id,
         cast(len(list_intersect(toks, ['der','die','das','und','daten','abfrage'])) as int) as hits_de,
         cast(len(list_intersect(toks, ['the','a','of','and','query','fast'])) as int) as hits_en,
         cast(len(list_intersect(toks, ['el','la','de','y','datos','consulta'])) as int) as hits_es,
         cast(len(list_intersect(toks, ['le','la','de','et','données','requête'])) as int) as hits_fr,
         cast(len(list_intersect(toks, ['的','是','在','和','数据','查询'])) as int) as hits_zh
  from t
)
select doc_id,
       case when hits_de = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'de'
            when hits_en = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'en'
            when hits_es = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'es'
            when hits_fr = greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) then 'fr'
            else 'zh' end as lang_guess,
       greatest(hits_de, hits_en, hits_es, hits_fr, hits_zh) as cue_hits
from h
""",
        "doc_fingerprint": """
select cast(doc_id as varchar) as doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) as fingerprint
from documents
""",
        "minhash_bands": f"""
{shingles_cte},
sig as (
  select doc_id, h.seed, min(md5(cast(h.seed as varchar) || '#' || sh)) as mh
  from shingles, unnest(range(8)) as h(seed)
  group by doc_id, h.seed
)
select doc_id, cast(seed//4 as int) as band_id,
       md5(string_agg(mh, '|' order by seed)) as band_hash
from sig group by doc_id, seed//4
""",
        "minhash_candidates": f"""
{shingles_cte},
sig as (
  select doc_id, h.seed, min(md5(cast(h.seed as varchar) || '#' || sh)) as mh
  from shingles, unnest(range(8)) as h(seed)
  group by doc_id, h.seed
),
bands as (
  select doc_id, cast(seed//4 as int) as band_id,
         md5(string_agg(mh, '|' order by seed)) as band_hash
  from sig group by doc_id, seed//4
)
select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_shared_bands
from bands a join bands b
  on a.band_id = b.band_id and a.band_hash = b.band_hash and a.doc_id < b.doc_id
group by a.doc_id, b.doc_id
""",
        "dedup_clusters": f"""
{shingles_cte},
sig as (
  select doc_id, h.seed, min(md5(cast(h.seed as varchar) || '#' || sh)) as mh
  from shingles, unnest(range(8)) as h(seed)
  group by doc_id, h.seed
),
bands as (
  select doc_id, cast(seed//4 as int) as band_id,
         md5(string_agg(mh, '|' order by seed)) as band_hash
  from sig group by doc_id, seed//4
),
pairs as (
  select a.doc_id as doc_a, b.doc_id as doc_b
  from bands a join bands b
    on a.band_id = b.band_id and a.band_hash = b.band_hash and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
),
edges as (
  select doc_a as src, doc_b as dst from pairs
  union all
  select doc_b as src, doc_a as dst from pairs
),
-- exact connected components at ANY diameter: recursive transitive
-- closure (distinct-union recursion reaches a fixpoint), then
-- cluster_id = min reachable node (matches the engine's fixpoint
-- min-label propagation for every component shape)
reach as (
  with recursive r(a, b) as (
    select src, dst from edges
    union
    select r.a, e.dst from r join edges e on e.src = r.b where e.dst != r.a
  )
  select a, b from r
)
select n.doc_id, least(n.doc_id, min(reach.b)) as cluster_id
from (select distinct src as doc_id from edges) n
join reach on reach.a = n.doc_id
group by n.doc_id
""",
        "ngram_jaccard": f"""
{shingles_cte},
sh_df as (select sh, count(*) as df_sh from shingles group by sh),
kept as (
  select s.doc_id, s.sh from shingles s join sh_df using (sh) where df_sh <= 1000
),
sizes as (select doc_id, count(*) as n_sh from kept group by doc_id),
inter as (
  select a.doc_id as doc_a, b.doc_id as doc_b, count(*) as n_inter
  from kept a join kept b on a.sh = b.sh and a.doc_id < b.doc_id
  group by a.doc_id, b.doc_id
)
select doc_a, doc_b,
       round(n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double), 4) as jaccard
from inter
join sizes sa on sa.doc_id = doc_a
join sizes sb on sb.doc_id = doc_b
where n_inter / cast(sa.n_sh + sb.n_sh - n_inter as double) >= 0.2
""",
        "decontaminate": """
with words as (
  select cast(doc_id as varchar) as doc_id, string_split(text, ' ') as w from documents
),
grams as (
  select distinct doc_id, array_to_string(w[i+1 : i+8], ' ') as sh
  from words, unnest(range(cast(greatest(len(w)-7, 1) as bigint))) as t(i)
),
bench_words as (
  select doc_id, w[1:12] as w from words where cast(doc_id as bigint) % 23 = 0
),
bench as (
  select distinct array_to_string(w[i+1 : i+8], ' ') as sh
  from bench_words, unnest(range(cast(greatest(len(w)-7, 1) as bigint))) as t(i)
)
select g.doc_id, count(*) as hit_grams
from grams g join bench using (sh)
group by g.doc_id
""",
        "knn_bruteforce": """
with q as (select vec_id, embedding from embeddings where vec_id % 50 = 0),
pairs as (
  select q.vec_id as query_id, e.vec_id as neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, e.embedding),
                  x -> cast(x[1] as double) * cast(x[2] as double))) /
         (sqrt(list_sum(list_transform(q.embedding, v -> cast(v as double)*cast(v as double)))) *
          sqrt(list_sum(list_transform(e.embedding, v -> cast(v as double)*cast(v as double))))) as cos
  from q, embeddings e where e.vec_id != q.vec_id
),
ranked as (
  select query_id, neighbor_id, round(cos, 4) as cosine,
         row_number() over (partition by query_id order by round(cos, 6) desc, neighbor_id) as rank
  from pairs
)
select query_id, neighbor_id, cosine, cast(rank as int) as rank
from ranked where rank <= 5
""",
        "ivf_ann": f"""
with {_kmeans_ctes(2)},
cent as (select centroid_id, cv from cent2),
assign as (
  select neighbor_id, centroid_id from (
    select e.vec_id as neighbor_id, c.centroid_id,
           row_number() over (partition by e.vec_id
             order by round({_cos_sql('e.embedding', 'c.cv')}, 6) desc, c.centroid_id) as rn
    from embeddings e cross join cent c
  ) where rn = 1
),
probes as (
  select query_id, centroid_id from (
    select q.vec_id as query_id, c.centroid_id,
           row_number() over (partition by q.vec_id
             order by round({_cos_sql('q.embedding', 'c.cv')}, 6) desc, c.centroid_id) as rn
    from embeddings q cross join cent c
    where q.vec_id % 50 = 0
  ) where rn <= 3
),
cand as (
  select distinct p.query_id, a.neighbor_id
  from probes p join assign a using (centroid_id)
  where a.neighbor_id != p.query_id
),
pairs as (
  select c.query_id, c.neighbor_id, {_cos_sql('q.embedding', 'e.embedding')} as cos
  from cand c
  join embeddings e on e.vec_id = c.neighbor_id
  join embeddings q on q.vec_id = c.query_id
),
ranked as (
  select query_id, neighbor_id, round(cos, 4) as cosine,
         row_number() over (partition by query_id order by round(cos, 6) desc, neighbor_id) as rank
  from pairs
)
select query_id, neighbor_id, cosine, cast(rank as int) as rank
from ranked where rank <= 5
""",
        "knn_self_join": """
with pairs as (
  select q.vec_id as query_id, e.vec_id as neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, e.embedding),
                  x -> cast(x[1] as double) * cast(x[2] as double))) /
         (sqrt(list_sum(list_transform(q.embedding, v -> cast(v as double)*cast(v as double)))) *
          sqrt(list_sum(list_transform(e.embedding, v -> cast(v as double)*cast(v as double))))) as cos
  from embeddings q, embeddings e where e.vec_id != q.vec_id
),
ranked as (
  select query_id, neighbor_id, round(cos, 4) as cosine,
         row_number() over (partition by query_id order by round(cos, 6) desc, neighbor_id) as rank
  from pairs
)
select query_id, neighbor_id, cosine, cast(rank as int) as rank
from ranked where rank <= 5
""",
        "embedding_near_dup": """
with pairs as (
  select q.vec_id as query_id, e.vec_id as neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, e.embedding),
                  x -> cast(x[1] as double) * cast(x[2] as double))) /
         (sqrt(list_sum(list_transform(q.embedding, v -> cast(v as double)*cast(v as double)))) *
          sqrt(list_sum(list_transform(e.embedding, v -> cast(v as double)*cast(v as double))))) as cos
  from embeddings q, embeddings e where e.vec_id != q.vec_id
),
ranked as (
  select query_id, neighbor_id, round(cos, 4) as cosine,
         row_number() over (partition by query_id order by round(cos, 6) desc, neighbor_id) as rank
  from pairs
)
select query_id as vec_a, neighbor_id as vec_b, cosine
from ranked where rank <= 5 and cosine >= 0.3 and query_id < neighbor_id
""",
        "embedding_near_dup_approx": f"""
with buckets as ({_bucket_selects}),
cand as (
  select distinct a.vec_id as vec_a, b.vec_id as vec_b
  from buckets a join buckets b
    on a.table_id = b.table_id and a.bucket = b.bucket and a.vec_id < b.vec_id
),
pairs as (
  select c.vec_a, c.vec_b,
         {_cos_sql('ea.embedding', 'eb.embedding')} as cos
  from cand c
  join embeddings ea on ea.vec_id = c.vec_a
  join embeddings eb on eb.vec_id = c.vec_b
)
select vec_a, vec_b, round(cos, 4) as cosine
from pairs where round(cos, 4) >= 0.3
""",
        "extraction_text_only": f"""
with spans as ({span_cte})
select doc_id,
       cast(row_number() over (partition by doc_id order by span_offset) - 1 as int) as span_order,
       kind, span_text, media_ref
from spans where kind = 'text'
""",
        "doc_text_stats": f"""
with spans as ({span_cte})
select doc_id,
       -- only non-empty texts join (string_agg skips NULLs), matching
       -- the engine's recognized-span filter in concatenated_text
       coalesce(string_agg(case when span_text is not null and length(span_text) > 0
                       then span_text end, ' ' order by span_offset), '') as doc_text,
       cast(count(*) as int) as n_spans,
       cast(sum(case when span_text is not null and length(span_text) > 0
                then 1 else 0 end) as int) as n_recognized,
       cast(null as double) as avg_confidence
from spans where kind = 'text'
group by doc_id
""",
        "lineage_stats": f"""
with spans as ({span_cte})
select cast(cast(doc_id as bigint) % 8 as int) as bucket, kind,
       count(*) as n_spans, count(distinct doc_id) as n_docs
from spans group by 1, 2
""",
        "layout_label_map": f"""
select * from (values
{label_values}
) as t(label, canonical, category, should_ocr)
""",
        "simhash": """
with toks as (
  select cast(doc_id as varchar) as doc_id, unnest(string_split(text, ' ')) as tok
  from documents
),
hashed as (
  select doc_id, ('0x' || substr(md5(tok), 1, 16))::ubigint as h from toks
),
votes as (
  select doc_id, b.bit,
         sum(case when (h >> b.bit) & 1 = 1 then 1 else 0 end) as ones,
         count(*) as n
  from hashed, (select unnest(range(64)) as bit) b
  group by doc_id, b.bit
)
select doc_id,
       cast(sum(case when 2*ones > n then
             case when bit = 63 then -9223372036854775807 - 1
                  else (1::bigint << bit) end
           else 0 end) as bigint) as simhash
from votes group by doc_id
""",
        "lsh_ann": f"""
with buckets as ({_bucket_selects}),
cand as (
  select distinct q.vec_id as query_id, e.vec_id as neighbor_id
  from buckets e join buckets q on e.table_id = q.table_id and e.bucket = q.bucket
  where q.vec_id % 50 = 0 and e.vec_id != q.vec_id
),
pairs as (
  select c.query_id, c.neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, e.embedding),
                  x -> cast(x[1] as double) * cast(x[2] as double))) /
         (sqrt(list_sum(list_transform(q.embedding, v -> cast(v as double)*cast(v as double)))) *
          sqrt(list_sum(list_transform(e.embedding, v -> cast(v as double)*cast(v as double))))) as cos
  from cand c
  join embeddings e on e.vec_id = c.neighbor_id
  join embeddings q on q.vec_id = c.query_id
),
ranked as (
  select query_id, neighbor_id, round(cos, 4) as cosine,
         row_number() over (partition by query_id order by round(cos, 6) desc, neighbor_id) as rank
  from pairs
)
select query_id, neighbor_id, cosine, cast(rank as int) as rank
from ranked where rank <= 5
""",
        "extraction_e2e": _extraction_oracle(E2E_MOD, ""),
        "extraction_rotated": _extraction_oracle(ROTWARP_MOD, "rot:"),
        "extraction_warped": _extraction_oracle(ROTWARP_MOD, "warp:"),
        "structure_extract": f"""
with spans as ({span_cte}),
refs as (
  select doc_id, media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {STRUCT_MOD} = 0
)
select r.doc_id, r.media_ref, g.element_type, g.element_text,
       g.element_html, g.order_index, g.para_start, g.para_end
from refs r
join read_parquet('{golden_dir}/structure_pages.parquet') g using (media_ref)
""",
        "document_markdown": f"""
with spans as ({span_cte}),
seq as (
  select doc_id,
         md5(string_agg(media_ref, '|' order by span_offset)) as seq_hash
  from spans
  where kind = 'media' and cast(doc_id as bigint) % {STRUCT_MOD} = 0
  group by doc_id
)
select s.doc_id, g.markdown
from seq s
join read_parquet('{golden_dir}/document_markdown.parquet') g
  using (doc_id, seq_hash)
""",
        "media_decode_stats": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {FEATURES_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features.parquet') g
join refs using (media_ref)
""",
        "media_png_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {PNG_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features.parquet') g
join refs using (media_ref)
""",
        "media_jpeg_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {JPEG_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features_jpeg.parquet') g
join refs using (media_ref)
""",
        "media_gif_tiff_bmp_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {LEGACY_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features.parquet') g
join refs using (media_ref)
""",
        "media_lossless_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {LOSSLESS_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features.parquet') g
join refs using (media_ref)
""",
        "media_jp2_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {JP2_MOD} = 0
  order by media_ref limit 48
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features_jp2.parquet') g
join refs using (media_ref)
""",
        "media_deep_jpeg_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {DEEPJPEG_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features_deepjpeg.parquet') g
join refs using (media_ref)
""",
        "media_fax_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {FAX_MOD} = 0
)
select g.media_ref, g.width, g.height, g.mean_intensity, g.ink_ratio,
       g.n_regions
from read_parquet('{golden_dir}/media_features_fax.parquet') g
join refs using (media_ref)
""",
        "pdf_extract": _extraction_oracle(PDF_MOD, ""),
        "pdf_text_extract": f"""
with spans as ({span_cte})
select doc_id, span_offset, span_text
from spans
where kind = 'text' and cast(doc_id as bigint) % {PDFTXT_MOD} = 0
""",
        "pdf_hybrid_extract": _extraction_oracle(HYB_MOD, ""),
        "tiff_extract": _extraction_oracle(TIFF_MOD, ""),
        "audio_wav_features": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {AUDIO_MOD} = 0
)
select g.media_ref, g.n_samples, g.sample_rate, g.duration_ms, g.rms,
       g.peak, g.zero_crossings
from read_parquet('{golden_dir}/audio_features.parquet') g
join refs using (media_ref)
""",
        "audio_telephony_roundtrip": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {AUDIO_MOD} = 0
)
select g.media_ref, g.n_samples, g.sample_rate, g.duration_ms, g.rms,
       g.peak, g.zero_crossings
from read_parquet('{golden_dir}/audio_features_telephony.parquet') g
join refs using (media_ref)
""",
        "video_frame_stats": f"""
with spans as ({span_cte}),
refs as (
  select distinct media_ref from spans
  where kind = 'media' and cast(doc_id as bigint) % {VIDEO_MOD} = 0
)
select g.media_ref, g.frame_idx, g.height, g.width, g.mean_intensity,
       g.ink_ratio
from read_parquet('{golden_dir}/video_frames.parquet') g
join refs using (media_ref)
""",
        "html_extract": f"""
select cast(doc_id as varchar) as doc_id,
       regexp_replace(trim(text), '\\s+', ' ', 'g') as main_text,
       cast(case when length(trim(text)) = 0 then 0 else ceil(
         len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' '))
         / {WORDS_PER_PARAGRAPH}.0) end as int) as n_blocks_kept,
       (case ascii(substr(md5(cast(doc_id as varchar)), 1, 1)) % 3
          when 0 then {BOILERPLATE_BLOCKS[0]}
          when 1 then {BOILERPLATE_BLOCKS[1]}
          else {BOILERPLATE_BLOCKS[2]} end) as n_blocks_dropped
from documents
where cast(doc_id as bigint) % {HTML_MOD} = 0
""",
    }
