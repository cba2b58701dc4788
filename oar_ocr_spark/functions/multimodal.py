"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video are carried as `binary` columns with typed metadata
structs; decode / feature-extract / resize / frame-sample run as
Arrow-batched Python stages (partitioning.python_stage). The codec seam
(``_decode_payload``) decodes REAL bytes for FIVE image formats —
PNG (functions/png.py, lossless, every legal subformat), JPEG
(functions/jpeg.py: baseline/progressive/restart/multi-scan, lossy,
q=100 measured span-preserving), GIF, TIFF and BMP — dispatched by
magic bytes. Audio and video are real formats too, in their own
modules: WAV (functions/wav.py) and AVI-MJPEG (functions/avi.py).
Formats none of these cover raise the declared
``NotImplementedError``. Synthetic refs without a payload decode via
the deterministic renderer. Everything Spark-side (schema, batching,
partitioning, UDF signature, batch shapes) is real and tested.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import python_stage

__all__ = [
    "MEDIA_META_SCHEMA",
    "decode_media_df",
    "image_features_df",
    "image_features_from_bytes_df",
    "payload_store_df",
    "png_store_df",
    "jpeg_store_df",
    "legacy_store_df",
    "frame_sample_df",
]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_intensity", T.FloatType()),
        T.StructField("ink_ratio", T.FloatType()),
        T.StructField("n_regions", T.IntegerType()),
    ]
)


def _to_grey(img: np.ndarray) -> np.ndarray:
    """Color decodes (RGB PNG / 4:4:4 color JPEG) → the engine's grey
    page type via ITU-R BT.601 luma (the same weights the JPEG
    encoder's Y channel uses), deterministically rounded. Every
    downstream operator keeps its (H,W) contract."""
    if img.ndim == 2:
        return img
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    return np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255).astype(np.uint8)


def _decode_payload(
    media_ref: str, media_type: str, payload: bytes | None = None
) -> np.ndarray:
    """Codec seam (load_image / load_image_from_memory,
    oar-ocr-core/src/utils/image.rs:65-88).

    With a binary payload, the magic bytes pick the codec: PNG
    (functions/png.py — lossless), JPEG (functions/jpeg.py — lossy;
    q=100 measured span-preserving, test_jpeg.py), GIF
    (functions/gif.py), TIFF (functions/tiff.py), BMP
    (functions/bmp.py), JPEG 2000 (functions/jp2.py) and standalone
    JBIG2 (functions/jbig2.py). Audio/video payloads have their own real-format
    operators (functions/wav.py PCM WAV, functions/avi.py AVI-MJPEG);
    byte formats none of these cover raise the declared
    NotImplementedError. Without a payload, synthetic refs decode via
    the deterministic renderer (the media-store stand-in)."""
    if payload is not None:
        from .bmp import BMP_MAGIC, decode_bmp
        from .gif import GIF_MAGIC, decode_gif
        from .jp2 import JP2_SIG, decode_jp2
        from .jpeg import JPEG_SOI, decode_jpeg
        from .png import PNG_SIGNATURE, decode_png
        from .tiff import TIFF_MAGICS, decode_tiff

        if bytes(payload[:8]) == PNG_SIGNATURE:
            return _to_grey(decode_png(bytes(payload)))
        if bytes(payload[:2]) == JPEG_SOI:
            return _to_grey(decode_jpeg(bytes(payload)))
        if bytes(payload[:4]) == GIF_MAGIC:
            return _to_grey(decode_gif(bytes(payload)))
        if bytes(payload[:4]) in TIFF_MAGICS:
            return _to_grey(decode_tiff(bytes(payload)))
        if bytes(payload[:2]) == BMP_MAGIC:
            return _to_grey(decode_bmp(bytes(payload)))
        if bytes(payload[:12]) == JP2_SIG or bytes(payload[:2]) == b"\xffO":
            # JPEG 2000: JP2 box container or raw J2K codestream (SOC)
            return _to_grey(decode_jp2(bytes(payload)))
        from .jbig2 import JBIG2_MAGIC, decode_jbig2

        if bytes(payload[:8]) == JBIG2_MAGIC:
            # standalone JBIG2 (T.88 Annex D): 1 = black → grey
            return ((1 - decode_jbig2(bytes(payload))) * 255).astype(np.uint8)
        raise NotImplementedError(
            "codec for this media payload format not available in this environment"
        )
    if media_type == "image":
        from ..fixtures.render import render_page

        return render_page(media_ref)
    raise NotImplementedError(
        f"codec for media_type={media_type!r} not available in this environment"
    )


PAYLOAD_STORE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
    ]
)


def payload_store_df(
    refs: DataFrame,
    row_fn,
    schema: T.StructType = PAYLOAD_STORE_SCHEMA,
    parallelism: int | None = None,
) -> DataFrame:
    """Shared scaffold for every real-format media store: (media_ref)
    refs → one encoded row per ref via `row_fn(ref) -> tuple` in a
    single Arrow-batched Python stage.

    The refs are spread round-robin into `parallelism` partitions first
    (None: the session's default parallelism). A small single-file
    parquet arrives as ONE scan partition, which would serialize the
    expensive per-ref UDF. Round-robin, not hash-by-ref: these ref sets
    are tiny (tens to hundreds of rows) and each row costs tens to
    hundreds of codec-milliseconds, so hash collisions directly
    lengthen the stage tail (measured: 48 jp2 refs hashed into 32
    partitions put 4-5 EBCOT pages on one task); round-robin gives the
    exact even split, and results are partition-invariant by contract."""
    return python_stage(
        refs.select("media_ref"),
        lambda ref: (row_fn(ref),),
        schema,
        "payload_store",
        parallelism=parallelism or refs.sparkSession.sparkContext.defaultParallelism,
    )


def png_store_df(refs: DataFrame, parallelism: int | None = None) -> DataFrame:
    """(media_ref) → (media_ref, payload) media-store table with REAL
    PNG bytes per page (FIXTURES.md §2 media_store.image): render the
    deterministic page, encode with functions/png.encode_png. The write
    side of the real-format seam; image_features_from_bytes_df /
    extract_spans(media_store=...) are the read side."""

    def row(ref: str) -> tuple:
        from ..fixtures.render import render_page
        from .png import encode_png

        return (ref, encode_png(render_page(ref)))

    return payload_store_df(refs, row, parallelism=parallelism)


def jpeg_store_df(
    refs: DataFrame, quality: int = 100, parallelism: int | None = None
) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store with REAL JPEG
    bytes per page (functions/jpeg.py), the entropy layout crc32-chosen
    per ref — baseline SOF0, progressive SOF2, arithmetic SOF9, or
    progressive-arithmetic SOF10 — so the gate drives all four corners
    of the (Huffman|arithmetic) × (sequential|progressive) DCT entropy
    matrix through the distributed seam. The four fixture writers share
    one DCT/quantization pipeline, so their decodes are IDENTICAL at
    equal quality (pinned in test_jpeg) and the golden twin
    (tools/make_goldens.py media_features_jpeg) stays layout-agnostic.
    The lossy sibling of png_store_df: at quality=100 the
    reconstruction error is ±1 on the synthetic pages (measured;
    provable worst case <8 on adversarial blocks —
    test_codec_properties) and the span pipeline is measured unchanged
    (test_jpeg.py)."""

    def row(ref: str) -> tuple:
        import zlib

        from ..fixtures.render import render_page
        from .jpeg import encode_jpeg, encode_jpeg_progressive
        from .jpeg_arith import encode_jpeg_arith, encode_jpeg_arith_progressive

        page = render_page(ref)
        h = zlib.crc32(("jpeglayout:" + ref).encode("utf-8"))
        # every layout also exercises its restart-marker resync path on
        # a slice of refs (RSTn cadence crc32-chosen); restarts don't
        # change the decode, so the golden twin is unaffected
        ri = 7 if h & 4 else 0
        flavor = h % 4
        if flavor == 1:
            return (ref, encode_jpeg_progressive(page, quality, restart_interval=ri))
        if flavor == 2:
            return (ref, encode_jpeg_arith(page, quality, restart_interval=ri))
        if flavor == 3:
            return (
                ref,
                encode_jpeg_arith_progressive(page, quality, restart_interval=ri),
            )
        return (ref, encode_jpeg(page, quality, restart_interval=ri))

    return payload_store_df(refs, row, parallelism=parallelism)


def lossless_jpeg_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store with REAL
    LOSSLESS JPEG bytes (SOF3, T.81 Annex H — the DICOM / raw-scanner
    process; functions/jpeg.py encode_jpeg_lossless). Per ref the
    predictor (1-7) and a restart-interval flavor are crc32-chosen —
    deterministic across processes, so the oracle can recompute the
    set — and the process is LOSSLESS by construction, so features
    through these bytes equal the golden feature table exactly, like
    PNG. Decode side is the same magic-byte dispatch in
    ``_decode_payload`` (SOI routes to decode_jpeg, which dispatches
    on the SOF marker)."""

    def row(ref: str) -> tuple:
        import zlib

        from ..fixtures.render import render_page
        from .jpeg import encode_jpeg_lossless

        page = render_page(ref)
        h = zlib.crc32(("lossless:" + ref).encode("utf-8"))
        return (
            ref,
            encode_jpeg_lossless(
                page,
                predictor=1 + h % 7,
                restart_interval=(page.shape[1] * 3 + 1) if h & 8 else 0,
            ),
        )

    return payload_store_df(refs, row)


def deep_jpeg_payload_for_ref(ref: str, page=None) -> bytes:
    """Render `ref` (or take `page`), lift it to deterministic 12-bit
    content (`p12 = p8 << 4 | p8 >> 4`, the PNG-16 bit-replication
    convention) and encode it as 12-bit EXTENDED SEQUENTIAL JPEG
    (SOF1, the lossy DCT layout 12-bit DICOM transfer syntaxes use) or
    — for half the refs — 12-bit PROGRESSIVE (SOF2, which quantizes
    identically, so features match SOF1's exactly); quality and
    restart flavor crc32-chosen per ref. ONE
    implementation, two call sites: deep_jpeg_store_df's worker rows
    and the golden generator (tools/make_goldens._deepjpeg_feature_row)
    both call this, so the driver-gate oracle never assumes the lossy
    DCT is lossless — the jp2/JPEG-q100 golden contract."""
    import zlib

    from ..fixtures.render import render_page
    from .jpeg import encode_jpeg_extended, encode_jpeg_progressive

    if page is None:
        page = render_page(ref)
    p12 = (page.astype(np.uint16) << 4) | (page.astype(np.uint16) >> 4)
    h = zlib.crc32(("deepjpeg:" + ref).encode("utf-8"))
    enc = encode_jpeg_progressive if h & 16 else encode_jpeg_extended
    return enc(
        p12,
        quality=(90, 95, 100)[h % 3],
        restart_interval=(page.shape[1] // 8 + 1) if h & 8 else 0,
    )


def deep_jpeg_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store with REAL 12-bit
    extended-sequential JPEG bytes (SOF1 — the DICOM DCT layout;
    flavor per ref via ``deep_jpeg_payload_for_ref``). Features
    through these bytes are checked against the deep-JPEG-specific
    golden computed through the SAME codec twin
    (media_features_deepjpeg.parquet), so the gate never assumes the
    lossy 12-bit DCT is lossless. Decode is the same magic-byte
    dispatch in ``_decode_payload`` (SOI → decode_jpeg, which
    projects >8-bit DCT frames to their top 8 bits at the seam)."""

    def row(ref: str) -> tuple:
        return (ref, deep_jpeg_payload_for_ref(ref))

    return payload_store_df(refs, row)


def jp2_payload_for_ref(ref: str, page=None) -> bytes:
    """Render `ref` (or take `page`) and encode it as the crc32-chosen
    JPEG 2000 flavor: decomposition depth (1-3), container (JP2 box vs
    raw J2K codestream), TILING (half the refs write a 96px tile grid —
    the layout big archival scans ship in), and transform — half the
    refs take the LOSSLESS 5/3 archival path, half the IRREVERSIBLE
    9/7 path real scanners emit (expounded or derived quantization,
    step 0.5 or 0.25; half the TILED 9/7 refs add a per-tile QCD
    quantization override — the A.6.4 first-part-only segment). ONE implementation, two call sites:
    jp2_store_df's worker rows and the golden generator
    (tools/make_goldens._jp2_feature_row) both call this, so the
    driver-gate oracle never assumes the lossy flavors are lossless —
    the same contract as the JPEG-q100 and telephony goldens."""
    import zlib

    from ..fixtures.render import render_page
    from .jp2 import encode_j2k, encode_jp2

    if page is None:
        page = render_page(ref)
    h = zlib.crc32(("jp2:" + ref).encode("utf-8"))
    enc = encode_jp2 if h & 4 else encode_j2k
    ts = 96 if h & 64 else None
    resync = {
        "sop": bool(h & 256),
        "eph": bool(h & 512),
        "prog": ("lrcp", "rlcp", "rpcl", "pcrl", "cprl")[(h >> 10) % 5],
        "layers": 1 + (h >> 13) % 8,
    }
    if (h >> 16) & 1:
        # precinct grid (B.6) — composes with all five progression
        # orders, incl. the position-major interleavings; half the
        # precinct refs take the uniform 128px grid, half the
        # shrinking per-resolution pyramid archival encoders signal
        # (coarse resolutions small, finest large — Kakadu's default
        # Cprecincts shape), rectangular at the finest level
        resync["precinct"] = 7 if (h >> 26) & 1 else [7, (8, 7)]
    if (h >> 17) & 1:
        # CODE-BLOCK STYLES (Table A.23): half the refs carry a styled
        # stream — selective MQ bypass, per-pass termination, context
        # reset, vertical causality, segmentation symbols — composed
        # with whatever layer count the ref already drew (styled
        # multi-layer: segment portions split across contributions)
        resync["bypass"] = bool(h & (1 << 18))
        resync["termall"] = bool(h & (1 << 19))
        resync["causal"] = bool(h & (1 << 20))
        resync["segsym"] = bool(h & (1 << 21))
        resync["reset"] = bool(h & (1 << 22))
    # code-block geometry (A.6.1): spec-default 64x64 for half the
    # refs, the digital-cinema 32x32 and a rectangular low-latency
    # layout for a quarter each (all compose with every flavor above)
    resync["cblk"] = (64, 64, 32, (32, 64))[(h >> 23) & 3]
    if (h >> 27) & 1 and "precinct" not in resync:
        # CHROMA-SUBSAMPLED colour flavor (XRsiz/YRsiz — 4:2:0 or
        # 4:2:2, the layouts lossy archival scanners emit): the grey
        # page expands to equal-channel RGB, whose chroma is zero, so
        # decimation loses nothing and the 5/3 refs stay bit-exact.
        # Declared scope: not combinable with precincts.
        resync["subsampling"] = (2, 2) if (h >> 28) & 1 else (1, 2)
        page = np.repeat(page[:, :, None], 3, axis=2)
    if (h >> 29) & 1:
        # OFFSET-GRID crop flavor (XOsiz/YOsiz, tile anchor at the
        # region origin): decodes by exact translation, so every
        # flavor stays bit-identical to its unoffset twin
        unit = (
            resync.get("subsampling", (1, 1))[0] << (1 + h % 3),
            resync.get("subsampling", (1, 1))[1] << (1 + h % 3),
        )
        resync["origin"] = (unit[0] * (1 + (h >> 30) % 3), unit[1])
    if h & 8:
        if ts and (h >> 25) & 1:
            # per-tile QCD override (A.6.4 precedence, first-part-only
            # segment): tile 0 quantized coarser than the main QCD —
            # the region-of-interest layout geospatial encoders emit
            resync["tile_quant"] = {0: 1.0}
        return enc(
            page,
            levels=1 + h % 3,
            irreversible=True,
            derived=bool(h & 16),
            delta=0.5 if h & 32 else 0.25,
            tile_size=ts,
            **resync,
        )
    return enc(page, levels=1 + h % 3, tile_size=ts, **resync)


def jp2_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store with REAL
    JPEG 2000 bytes (functions/jp2.py: EBCOT Tier-1/2 with the
    lossless 5/3 DWT — the PDF/A archival-scan layout — or the
    irreversible 9/7 + scalar-quantization profile real scanners
    emit; flavor per ref via ``jp2_payload_for_ref``). Features
    through these bytes are checked against the JP2-specific golden
    computed through the SAME codec twin (media_features_jp2.parquet),
    so the gate never assumes the 9/7 flavors are lossless. Decode is
    the same magic-byte dispatch in ``_decode_payload`` (JP2 signature
    box or SOC)."""

    def row(ref: str) -> tuple:
        return (ref, jp2_payload_for_ref(ref))

    return payload_store_df(refs, row)


def legacy_store_df(refs: DataFrame, parallelism: int | None = None) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store with REAL
    GIF/TIFF/BMP bytes — the legacy-format third of the write seam
    (png_store_df / jpeg_store_df are the other two). Per ref the
    format AND its encoder options (GIF interlace, TIFF packbits, BMP
    RLE8 or 32-bit BI_BITFIELDS) are chosen by crc32 of the ref —
    deterministic across
    processes, so the oracle can recompute the set — and every flavor
    is LOSSLESS on grey pages (GIF/BMP use an identity grey palette),
    so features through these bytes equal the golden feature table
    exactly, like PNG. Decode side is the same magic-byte dispatch in
    ``_decode_payload``."""

    def row(ref: str) -> tuple:
        import zlib

        from ..fixtures.render import render_page
        from .bmp import encode_bmp
        from .gif import encode_gif
        from .tiff import encode_tiff

        page = render_page(ref)
        h = zlib.crc32(ref.encode("utf-8"))
        fmt = h % 3
        if fmt == 0:
            grey_palette = np.repeat(
                np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
            )
            data = encode_gif(page, grey_palette, interlace=bool(h & 4))
        elif fmt == 1:
            data = encode_tiff(
                page, compression="packbits" if h & 4 else "none"
            )
        elif h & 8:
            # 32-bit BI_BITFIELDS with byte-aligned masks: lossless on
            # the grey page expanded to RGB; exercises the explicit
            # mask decode path through the distributed seam
            data = encode_bmp(
                np.repeat(page[:, :, None], 3, axis=2), bitfields=True
            )
        else:
            grey_palette = np.repeat(
                np.arange(256, dtype=np.uint8)[:, None], 3, axis=1
            )
            data = encode_bmp(page, palette=grey_palette, rle=bool(h & 4))
        return (ref, data)

    return payload_store_df(refs, row, parallelism=parallelism)


def fax_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store of SCANNED
    BILEVEL bytes: the page is thresholded to bilevel (>=128 → 255)
    and stored either as a CCITT-compressed TIFF (functions/ccitt.py,
    ITU-T T.4/T.6; 3/4 of refs) or as a standalone JBIG2 file
    (functions/jbig2.py, ITU-T T.88; 1/4 of refs, mixing arithmetic
    generic regions — templates, TPGDON, MMR — symbol/text-region
    streams in ARITHMETIC, REFINED (SDREFAGG=1) and HUFFMAN
    (SDHUFF/SBHUFF=1: collective bitmaps raw or MMR, custom type-53
    tables, runcoded symbol IDs) modes, and two-pass refinement
    regions). Per ref every encoder option is crc32-chosen —
    deterministic across processes — so every bilevel decode path
    runs inside the gate. Both codecs are lossless on bilevel input,
    so features through these bytes equal the fax golden table
    computed through the same threshold twin
    (tools/make_goldens._fax_feature_row)."""

    def row(ref: str) -> tuple:
        import zlib

        from ..fixtures.render import render_page
        from .tiff import encode_tiff

        page = render_page(ref)
        bilevel = np.where(page >= 128, 255, 0).astype(np.uint8)
        h = zlib.crc32(("fax:" + ref).encode("utf-8"))
        if h & 32:
            from .jbig2 import (
                encode_jbig2,
                encode_jbig2_refinement,
                encode_jbig2_symbols,
            )

            ink = (bilevel == 0).astype(np.uint8)  # 1 = black
            if not (h & 4096) and (h >> 18) & 1:
                # refinement mode (6.3): a deterministic lossy first
                # pass (every 97th pixel flipped) refined losslessly
                # against the page — the two-pass scanner layout
                base = ink.copy().reshape(-1)
                base[:: 97] ^= 1
                return (
                    ref,
                    encode_jbig2_refinement(
                        ink,
                        base.reshape(ink.shape),
                        template=(h >> 19) & 1,
                        tpgron=bool(h & (1 << 20)),
                        file_header=True,
                    ),
                )
            if h & 4096:
                if (h >> 21) & 1:
                    if (h >> 27) & 1:
                        # aggregate mode (REFAGGNINST=2): symbols
                        # coded as embedded two-instance text regions
                        from .jbig2 import encode_jbig2_symbols_aggregate

                        data = encode_jbig2_symbols_aggregate(
                            ink,
                            template=(h >> 6) & 3,
                            rtemplate=(h >> 22) & 1,
                            file_header=True,
                        )
                        return (ref, data)
                    # refined symbol mode (SDREFAGG=1): exemplar
                    # dictionary + refining dictionary + text region
                    from .jbig2 import encode_jbig2_symbols_refined

                    data = encode_jbig2_symbols_refined(
                        ink,
                        template=(h >> 6) & 3,
                        rtemplate=(h >> 22) & 1,
                        file_header=True,
                    )
                    return (ref, data)
                if (h >> 26) & 1:
                    # REFINED TEXT REGION (6.4.11, SBREFINE=1):
                    # exemplar-per-height dictionary, per-instance
                    # IARI/IARDW refinement against the exemplar
                    from .jbig2 import encode_jbig2_text_refined

                    data = encode_jbig2_text_refined(
                        ink,
                        template=(h >> 6) & 3,
                        rtemplate=(h >> 22) & 1,
                        file_header=True,
                    )
                    return (ref, data)
                if (h >> 23) & 1:
                    # HUFFMAN symbol mode (SDHUFF/SBHUFF=1): the
                    # fax-profile entropy layer — collective bitmaps
                    # (raw or MMR), custom type-53 FS/DS/DT tables,
                    # runcoded symbol ID assignment
                    from .jbig2 import encode_jbig2_symbols_huffman

                    data = encode_jbig2_symbols_huffman(
                        ink,
                        collective="mmr" if (h >> 24) & 1 else "raw",
                        refcorner=("tl", "bl", "tr", "br")[(h >> 13) & 3],
                        strips=1 << ((h >> 15) & 3),
                        transposed=bool(h & (1 << 17)),
                        custom_bmsize=bool((h >> 25) & 1),
                        file_header=True,
                    )
                    return (ref, data)
                # symbol mode: dictionary + text region, the layout
                # born-scanned PDFs actually carry
                data = encode_jbig2_symbols(
                    ink,
                    template=(h >> 6) & 3,
                    refcorner=("tl", "bl", "tr", "br")[(h >> 13) & 3],
                    strips=1 << ((h >> 15) & 3),
                    transposed=bool(h & (1 << 17)),
                    file_header=True,
                )
            else:
                data = encode_jbig2(
                    ink,
                    template=(h >> 6) & 3,
                    tpgdon=bool(h & 1024),
                    mmr=(h >> 6) & 3 == 0 and bool(h & 2048),
                    file_header=True,
                )
            return (ref, data)
        data = encode_tiff(
            bilevel,
            compression=("g4", "g3", "mh")[h % 3],
            bilevel=True,
            photometric_zero_is_white=bool(h & 4),
            fill_order=2 if h & 8 else 1,
            rows_per_strip=max(1, bilevel.shape[0] // 3) if h & 16 else None,
        )
        return (ref, data)

    return payload_store_df(refs, row)


def decode_media_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → decoded metadata row per media item."""

    def row(ref: str) -> list[tuple]:
        img = _decode_payload(ref, "image")
        return [(ref, "image", img.shape[1], img.shape[0], img.nbytes)]

    return python_stage(refs.select("media_ref"), row, MEDIA_META_SCHEMA, "decode_media")


def _feature_row(ref: str, img: np.ndarray, cfg) -> tuple:
    from ..local_ref import detect_page, preprocess_page

    upright, _ = preprocess_page(img, cfg)
    boxes, _ = detect_page(upright, cfg)
    return (
        ref,
        img.shape[1],
        img.shape[0],
        float(img.mean()),
        float((img < 200).mean()),
        int(len(boxes)),
    )


def image_features_df(refs: DataFrame) -> DataFrame:
    """Decode + feature-extract: dims, mean intensity, ink ratio, region
    count (via the detection operators) per media item."""
    from ..local_ref import ExtractConfig

    cfg = ExtractConfig()
    return python_stage(
        refs.select("media_ref"),
        lambda ref: [_feature_row(ref, _decode_payload(ref, "image"), cfg)],
        _FEATURES_SCHEMA,
        "image_features",
    )


def image_features_from_bytes_df(store: DataFrame) -> DataFrame:
    """Feature extraction over REAL media bytes (load_image_from_memory
    parity, utils/image.rs:65): each row's binary payload decodes
    through the PNG codec; features match image_features_df exactly
    because PNG is lossless."""
    from ..local_ref import ExtractConfig

    cfg = ExtractConfig()
    return python_stage(
        store.select("media_ref", "payload"),
        lambda ref, payload: [_feature_row(ref, _decode_payload(ref, "image", payload), cfg)],
        _FEATURES_SCHEMA,
        "image_features_from_bytes",
    )


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
    ]
)


def frame_sample_df(refs: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame-sampling plumbing for video-like media: emits n_frames
    evenly-spaced "frames" per ref (here: horizontal strips of the
    decoded page — the real sampler would seek the container). Shows
    the 1→N explode shape + binary payload batching."""

    def row(ref: str) -> list[tuple]:
        img = _decode_payload(ref, "image")
        h = img.shape[0]
        rows = []
        for i in range(n_frames):
            y0 = (h * i) // n_frames
            y1 = (h * (i + 1)) // n_frames
            strip = np.ascontiguousarray(img[y0:y1])
            rows.append((ref, i, strip.tobytes(), strip.shape[0], strip.shape[1]))
        return rows

    return python_stage(refs.select("media_ref"), row, _FRAME_SCHEMA, "frame_sample")
