"""Baseline JPEG codec (functions/jpeg.py).

Parity target: load_image/load_image_from_memory decode JPEG via the
`image` crate (oar-ocr-core/src/utils/image.rs:65-88). JPEG is lossy,
so the contract differs from PNG's bit-equality: deterministic encode
bytes, deterministic decode, bounded reconstruction error — and the
measured property that q=100 keeps the synthetic-model span pipeline
byte-identical (pinned here across page flavors)."""

import struct

import numpy as np
import pytest

from oar_ocr_spark.fixtures.render import render_page
from oar_ocr_spark.functions.jpeg import JPEG_SOI, decode_jpeg, encode_jpeg
from oar_ocr_spark.local_ref import ExtractConfig, extract_page


class TestRoundtrip:
    def test_deterministic_and_bounded_error(self):
        for ref, q, bound in [("40_m0", 90, 16), ("7_m1", 90, 16), ("999_m0", 100, 1)]:
            img = render_page(ref)
            data = encode_jpeg(img, quality=q)
            assert data[:2] == JPEG_SOI and data[-2:] == b"\xff\xd9"
            assert data == encode_jpeg(img, quality=q)  # byte-deterministic
            out = decode_jpeg(data)
            assert out.shape == img.shape and out.dtype == np.uint8
            assert (decode_jpeg(data) == out).all()  # decode-deterministic
            assert np.abs(out.astype(int) - img.astype(int)).max() <= bound

    def test_odd_sizes_and_extremes(self):
        for arr in [
            np.array([[7]], dtype=np.uint8),  # 1x1 (block padding path)
            np.zeros((9, 17), dtype=np.uint8),  # all black, non-multiple of 8
            np.full((23, 5), 255, dtype=np.uint8),  # all white
            np.linspace(0, 255, 48 * 64).reshape(48, 64).astype(np.uint8),
        ]:
            out = decode_jpeg(encode_jpeg(arr, 95))
            assert out.shape == arr.shape
            assert np.abs(out.astype(int) - arr.astype(int)).max() <= 4

    def test_quality_monotone(self):
        img = render_page("123_m2")
        errs = []
        for q in (50, 75, 90, 100):
            out = decode_jpeg(encode_jpeg(img, q))
            errs.append(np.abs(out.astype(int) - img.astype(int)).mean())
        assert errs == sorted(errs, reverse=True)  # higher quality → lower error
        assert errs[-1] < 0.1

    def test_rejects_bad_input(self):
        with pytest.raises(ValueError):
            encode_jpeg(np.zeros((4, 4), dtype=np.int32))
        with pytest.raises(ValueError):
            encode_jpeg(np.zeros((4, 4, 4), dtype=np.uint8))  # RGBA unsupported
        with pytest.raises(ValueError):
            encode_jpeg(np.zeros((4, 4), dtype=np.uint8), quality=0)
        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNG....")


class TestColor:
    def _color_img(self, h, w, seed=11):
        rng = np.random.RandomState(seed)
        small = rng.randint(0, 256, (h // 4 + 1, w // 4 + 1, 3)).astype(np.uint8)
        return np.kron(small, np.ones((4, 4, 1), dtype=np.uint8))[:h, :w, :]

    def test_color_roundtrip_bounded_and_deterministic(self):
        for h, w in [(17, 23), (64, 48), (8, 8), (1, 1)]:
            img = self._color_img(h, w)
            data = encode_jpeg(img, 100)
            assert data == encode_jpeg(img, 100)
            out = decode_jpeg(data)
            assert out.shape == img.shape and out.dtype == np.uint8
            # DCT round-off (±1 per plane) + YCbCr↔RGB rounding
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 4

    def test_color_uses_chroma_tables_from_file(self):
        # different qualities write different chroma DQTs; the decoder
        # must dequantize Cb/Cr with table 1 from the FILE
        img = self._color_img(32, 24)
        for q in (60, 85):
            out = decode_jpeg(encode_jpeg(img, q))
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 120

    def test_grayscale_bytes_unchanged_by_color_support(self):
        # the 1-component stream must be identical to the grey-only
        # encoder (no extra DQT/DHT segments, same symbol stream)
        img = render_page("40_m0")
        data = encode_jpeg(img, 90)
        assert data.count(b"\xff\xdb") == 1  # one quant table
        assert data.count(b"\xff\xc4") == 2  # DC+AC luminance only
        assert (decode_jpeg(data).shape) == img.shape

    def test_subsampled_roundtrip_bounded_and_deterministic(self):
        # 4:2:0 / 4:2:2 / 4:4:0: chroma loses detail but smooth-chroma
        # content stays within a tight bound; both sides deterministic
        for sub in ("420", "422", "440"):
            for h, w in [(17, 23), (64, 48), (8, 8), (1, 1), (16, 16)]:
                img = self._color_img(h, w)
                data = encode_jpeg(img, 100, subsampling=sub)
                assert data == encode_jpeg(img, 100, subsampling=sub)
                out = decode_jpeg(data)
                assert out.shape == img.shape and out.dtype == np.uint8
                assert decode_jpeg(data).tobytes() == out.tobytes()
                # _color_img is 4x4-constant so box downsample/upsample
                # is near-exact: only DCT + colorspace round-off remains
                assert np.abs(out.astype(int) - img.astype(int)).max() <= 6

    def test_420_declares_sampling_and_shrinks_stream(self):
        img = self._color_img(64, 64)
        d444 = encode_jpeg(img, 90)
        d420 = encode_jpeg(img, 90, subsampling="420")
        i = d420.index(b"\xff\xc0")
        assert d420[i + 11] == 0x22  # Y sampling 2x2 in SOF0
        assert len(d420) < len(d444)  # 1/4 the chroma blocks

    def test_420_chroma_grid_alignment(self):
        # solid color quadrants aligned to the 16px MCU grid: each
        # quadrant must come back its own color (a block-order or
        # upsample-grid bug would bleed colors across quadrants)
        img = np.zeros((32, 32, 3), dtype=np.uint8)
        img[:16, :16] = (200, 40, 40)
        img[:16, 16:] = (40, 200, 40)
        img[16:, :16] = (40, 40, 200)
        img[16:, 16:] = (200, 200, 40)
        out = decode_jpeg(encode_jpeg(img, 100, subsampling="420"))
        for sl, want in [
            ((slice(2, 14), slice(2, 14)), (200, 40, 40)),
            ((slice(2, 14), slice(18, 30)), (40, 200, 40)),
            ((slice(18, 30), slice(2, 14)), (40, 40, 200)),
            ((slice(18, 30), slice(18, 30)), (200, 200, 40)),
        ]:
            got = out[sl].reshape(-1, 3).astype(int)
            assert np.abs(got - np.array(want)).max() <= 6

    def test_subsampled_payload_greyscales_at_media_seam(self):
        # the wild subformat must pass the media seam: (H,W) luma out
        from oar_ocr_spark.functions.multimodal import _decode_payload

        img = self._color_img(24, 16)
        out = _decode_payload("x", "image", encode_jpeg(img, 100, subsampling="420"))
        assert out.ndim == 2 and out.shape == (24, 16) and out.dtype == np.uint8

    def test_wrong_channel_count_raises(self):
        with pytest.raises(ValueError):
            encode_jpeg(np.zeros((4, 4, 2), dtype=np.uint8))

    def test_rgb_colorspace_component_ids_skip_ycbcr(self):
        # 'R'/'G'/'B' component IDs mean the planes are ALREADY RGB:
        # decoding must skip the YCbCr conversion (converting the
        # result recovers what the YCbCr interpretation would give)
        from oar_ocr_spark.functions.jpeg import _ycbcr_to_rgb

        data = encode_jpeg(self._color_img(16, 16), 95)
        i = data.index(b"\xff\xc0")
        body = bytearray(data[i + 4 : i + 4 + 15])
        body[6], body[9], body[12] = 0x52, 0x47, 0x42  # 'R','G','B'
        patched = data[: i + 4] + bytes(body) + data[i + 4 + 15 :]
        out = decode_jpeg(patched)
        normal = decode_jpeg(data)
        assert (
            np.abs(_ycbcr_to_rgb(out).astype(int) - normal.astype(int)) <= 1
        ).all()

    def test_adobe_app14_transform_zero_means_rgb(self):
        data = encode_jpeg(self._color_img(16, 16), 95)
        app14 = b"\xff\xee" + struct.pack(">H", 14) + b"Adobe" + bytes(7)
        out = decode_jpeg(data[:2] + app14 + data[2:])
        # same skip-conversion behavior as R/G/B component IDs
        i = data.index(b"\xff\xc0")
        body = bytearray(data[i + 4 : i + 4 + 15])
        body[6], body[9], body[12] = 0x52, 0x47, 0x42
        want = decode_jpeg(data[: i + 4] + bytes(body) + data[i + 4 + 15 :])
        assert (out == want).all()

    def test_rgb_ids_work_in_progressive_and_multiscan_scans(self):
        # scan headers reference components by SOF id — R/G/B ids must
        # resolve through the id list, not an assumed 1..N numbering
        from oar_ocr_spark.functions.jpeg import (
            encode_jpeg_multiscan,
            encode_jpeg_progressive,
        )

        img = self._color_img(16, 16)

        def patch_ids(data: bytes) -> bytes:
            i = (
                data.index(b"\xff\xc2")
                if b"\xff\xc2" in data
                else data.index(b"\xff\xc0")
            )
            body = bytearray(data[i + 4 : i + 4 + 15])
            body[6], body[9], body[12] = 0x52, 0x47, 0x42
            out = bytearray(data[: i + 4] + bytes(body) + data[i + 4 + 15 :])
            j = 0
            while True:
                j = out.find(b"\xff\xda", j)
                if j < 0:
                    break
                for c in range(out[j + 4]):
                    cid = out[j + 5 + 2 * c]
                    out[j + 5 + 2 * c] = {1: 0x52, 2: 0x47, 3: 0x42}.get(cid, cid)
                j += 2
            return bytes(out)

        want = decode_jpeg(patch_ids(encode_jpeg(img, 95)))
        for enc in (encode_jpeg_progressive, encode_jpeg_multiscan):
            assert (decode_jpeg(patch_ids(enc(img, 95))) == want).all()

    def test_16bit_quant_tables_decode(self):
        # DQT precision 1 (2-byte entries) — extended/progressive files
        data = encode_jpeg(self._color_img(16, 16), 95)
        normal = decode_jpeg(data)
        i = data.index(b"\xff\xdb")
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        tid = data[i + 4]
        tbl8 = np.frombuffer(data[i + 5 : i + 5 + 64], dtype=np.uint8)
        new = (
            b"\xff\xdb"
            + struct.pack(">H", 2 + 1 + 128)
            + bytes([0x10 | tid])
            + tbl8.astype(">u2").tobytes()
        )
        patched = data[:i] + new + data[i + 2 + seglen :]
        assert (decode_jpeg(patched) == normal).all()

    def test_color_payload_greyscales_at_media_seam(self):
        # the media seam keeps its (H,W) contract: a color JPEG payload
        # decodes to the BT.601 luma plane, not a 3D array that would
        # crash detect_page deep inside a UDF
        from oar_ocr_spark.functions.multimodal import _decode_payload

        img = self._color_img(24, 16)
        out = _decode_payload("x", "image", encode_jpeg(img, 100))
        assert out.ndim == 2 and out.shape == (24, 16) and out.dtype == np.uint8
        luma = np.clip(
            np.round(
                0.299 * img[..., 0].astype(float)
                + 0.587 * img[..., 1].astype(float)
                + 0.114 * img[..., 2].astype(float)
            ),
            0,
            255,
        )
        # within codec round-trip error of the exact luma
        assert np.abs(out.astype(int) - luma.astype(int)).max() <= 4


class TestSpanPreservation:
    """The q=100 quant table is all-ones, so the only loss is DCT
    round-off (±1). The synthetic models are measured robust to it:
    spans through JPEG bytes equal the renderer-path spans exactly."""

    def test_q100_preserves_spans_across_flavors(self):
        cfg = ExtractConfig()
        for i in range(8):
            ref = f"{i * 29 + 5}_m{i % 3}"
            img = render_page(ref)
            jp = decode_jpeg(encode_jpeg(img, 100))
            assert extract_page(jp, cfg) == extract_page(img, cfg), ref


class TestSparkPipeline:
    def test_extraction_through_jpeg_media_store(self, spark):
        """Full distributed DAG from JPEG payloads: the detect UDF's
        codec seam takes the JPEG branch, and q=100 span preservation
        holds end-to-end (the Spark twin of test_q100_preserves_spans)."""
        from pyspark.sql import functions as F

        from oar_ocr_spark.fixtures.corpus import generate_documents
        from oar_ocr_spark.functions.multimodal import jpeg_store_df
        from oar_ocr_spark.pipeline import extract_spans
        from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA

        docs_raw = generate_documents(8, seed=17)
        rows = [
            (d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs_raw
        ]
        docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)
        refs = (
            docs.select(F.explode("spans").alias("s"))
            .where(F.col("s.kind") == "media")
            .select(F.col("s.media_ref").alias("media_ref"))
            .distinct()
        )
        via_jpeg = extract_spans(spark, docs, media_store=jpeg_store_df(refs))
        direct = extract_spans(spark, docs)
        a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in via_jpeg.collect()}
        b = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in direct.collect()}
        assert a == b


class TestProgressive:
    """Progressive (SOF2) decode: the scan-script encoder produces the
    SAME quantized coefficients as the baseline encoder, so progressive
    and baseline streams must decode to IDENTICAL pixels — a sharp
    oracle over every scan type (DC first/refine, banded AC first at
    two Al levels, AC refine, EOB runs, ZRL-in-refinement)."""

    def _eq(self, img, **kw):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_progressive

        base = decode_jpeg(encode_jpeg(img, 90, **{k: v for k, v in kw.items() if k != "restart_interval"}))
        prog = decode_jpeg(encode_jpeg_progressive(img, 90, **kw))
        return (base == prog).all()

    def test_grey_page_and_noise(self):
        assert self._eq(render_page("40_m0"))
        rng = np.random.RandomState(4)
        assert self._eq(rng.randint(0, 256, (24, 31)).astype(np.uint8))

    def test_flat_image_exercises_cross_block_eob_runs(self):
        # constant image → every AC band zero → one EOBn run spanning
        # all blocks (the decoder path Annex-K tables can't even code)
        assert self._eq(np.full((64, 80), 128, np.uint8))

    def test_color_all_subsamplings(self):
        rng = np.random.RandomState(6)
        img = np.kron(
            rng.randint(0, 256, (10, 14, 3)).astype(np.uint8),
            np.ones((4, 4, 1), dtype=np.uint8),
        )
        for sub in ("444", "422", "440", "420"):
            assert self._eq(img, subsampling=sub), sub

    def test_restart_intervals_in_progressive_scans(self):
        assert self._eq(np.full((64, 80), 128, np.uint8), restart_interval=3)
        rng = np.random.RandomState(8)
        img = np.kron(
            rng.randint(0, 256, (8, 9, 3)).astype(np.uint8),
            np.ones((4, 4, 1), dtype=np.uint8),
        )
        assert self._eq(img, subsampling="420", restart_interval=2)

    def test_deterministic_bytes(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_progressive

        img = render_page("7_m1")
        assert encode_jpeg_progressive(img, 95) == encode_jpeg_progressive(img, 95)

    def test_progressive_payload_at_media_seam(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_progressive
        from oar_ocr_spark.functions.multimodal import _decode_payload

        img = render_page("40_m0")
        out = _decode_payload("x", "image", encode_jpeg_progressive(img, 100))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


class TestMultiScan:
    """Non-interleaved baseline (one scan per component): must decode
    identically to the interleaved stream of the same coefficients."""

    def test_all_subsamplings_equal_interleaved(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_multiscan

        rng = np.random.RandomState(13)
        img = np.kron(
            rng.randint(0, 256, (10, 14, 3)).astype(np.uint8),
            np.ones((4, 4, 1), dtype=np.uint8),
        )
        for sub in ("444", "422", "420"):
            b = decode_jpeg(encode_jpeg(img, 90, subsampling=sub))
            m = decode_jpeg(encode_jpeg_multiscan(img, 90, subsampling=sub))
            assert (b == m).all(), sub

    def test_restarts_count_blocks_in_noninterleaved_scans(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_multiscan

        rng = np.random.RandomState(14)
        img = np.kron(
            rng.randint(0, 256, (8, 9, 3)).astype(np.uint8),
            np.ones((4, 4, 1), dtype=np.uint8),
        )
        b = decode_jpeg(encode_jpeg(img, 90, subsampling="420"))
        m = decode_jpeg(
            encode_jpeg_multiscan(img, 90, subsampling="420", restart_interval=3)
        )
        assert (b == m).all()


class TestDeclaredSubset:
    def _swap_marker(self, data: bytes, old: int, new: int) -> bytes:
        i = data.index(bytes([0xFF, old]))
        return data[:i] + bytes([0xFF, new]) + data[i + 2 :]

    def test_extended_sof_decodes_as_baseline(self):
        # SOF1 (extended sequential) at 8-bit precision is
        # bit-identical to baseline apart from relaxed table limits
        # (T.81 table B.2) — the same stream must decode identically
        base = encode_jpeg(render_page("40_m0"))
        swapped = self._swap_marker(base, 0xC0, 0xC1)
        assert (decode_jpeg(swapped) == decode_jpeg(base)).all()

    def test_baseline_stream_mislabeled_sof10_fails_loudly(self):
        # SOF10 decodes (TestArithmeticProgressive) — but a baseline
        # stream mislabeled as it is malformed (full-band DC scan) and
        # must not decode as garbage
        data = self._swap_marker(encode_jpeg(render_page("40_m0")), 0xC0, 0xCA)
        with pytest.raises(ValueError, match="DC scan"):
            decode_jpeg(data)

    def test_arithmetic_lossless_sof_raises(self):
        # SOF11 (arithmetic lossless) stays outside the subset
        data = self._swap_marker(encode_jpeg(render_page("40_m0")), 0xC0, 0xCB)
        with pytest.raises(NotImplementedError, match="SOF11"):
            decode_jpeg(data)

    def test_baseline_stream_mislabeled_progressive_fails_loudly(self):
        # SOF2 with a baseline-style full-band scan is malformed
        # (progressive DC scans must have Se=0) — must not decode as
        # garbage
        data = self._swap_marker(encode_jpeg(render_page("40_m0")), 0xC0, 0xC2)
        with pytest.raises(ValueError, match="DC scan"):
            decode_jpeg(data)

    def test_fractional_upsampling_raises(self):
        # T.81 allows factors 1..4, so Y=3x1 with Cb=2x1 is a LEGAL
        # frame — but 3:2 replication is fractional, outside this
        # decoder's integer-box upsampling subset
        data = encode_jpeg(self._color_3comp(), 90)
        i = data.index(b"\xff\xc0")
        body = bytearray(data[i + 4 : i + 4 + 15])
        body[7], body[10] = 0x31, 0x21  # Y 3x1, Cb 2x1
        patched = data[: i + 4] + bytes(body) + data[i + 4 + 15 :]
        with pytest.raises(NotImplementedError, match="fractional"):
            decode_jpeg(patched)

    def test_sampling_factor_out_of_range_raises(self):
        data = encode_jpeg(self._color_3comp(), 90)
        i = data.index(b"\xff\xc0")
        body = bytearray(data[i + 4 : i + 4 + 15])
        body[7] = 0x51  # h=5 > 4: illegal per B.2.2
        patched = data[: i + 4] + bytes(body) + data[i + 4 + 15 :]
        with pytest.raises(ValueError, match="sampling factors"):
            decode_jpeg(patched)

    @staticmethod
    def _color_3comp():
        rng = np.random.RandomState(3)
        return rng.randint(0, 256, (16, 16, 3)).astype(np.uint8)

    def test_five_component_raises(self):
        data = encode_jpeg(render_page("40_m0"))
        i = data.index(b"\xff\xc0")
        (seglen,) = struct.unpack(">H", data[i + 2 : i + 4])
        sof5 = (
            b"\xff\xc0"
            + struct.pack(">HBHHB", 8 + 3 * 5 + 2, 8, 98, 126, 5)
            + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01\x04\x11\x01\x05\x11\x01"
        )
        patched = data[:i] + sof5 + data[i + 2 + seglen :]
        with pytest.raises(NotImplementedError, match="components"):
            decode_jpeg(patched)


class TestCmyk:
    """4-component JPEG (print-workflow scans, PDF DCTDecode images):
    bare CMYK, Adobe inverted-CMYK (APP14 transform 0) and YCCK
    (transform 2). Reference decodes via the image/jpeg-decoder crates
    (utils/image.rs:65-88)."""

    @staticmethod
    def _cmyk_img(h=17, w=25, seed=5):
        rng = np.random.RandomState(seed)
        small = rng.randint(0, 256, (h // 4 + 1, w // 4 + 1, 4)).astype(np.uint8)
        return np.kron(small, np.ones((4, 4, 1), dtype=np.uint8))[:h, :w, :]

    @staticmethod
    def _expected_rgb(cmyk):
        c = cmyk.astype(np.float64)
        inv = 255.0 - c[..., :3]
        k = 255.0 - c[..., 3]
        return np.clip(np.round(inv * k[..., None] / 255.0), 0, 255).astype(np.uint8)

    @pytest.mark.parametrize(
        "kwargs", [dict(adobe=False), dict(adobe=True), dict(adobe=True, ycck=True)]
    )
    def test_roundtrip_all_flavors(self, kwargs):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        cmyk = self._cmyk_img()
        data = encode_jpeg_cmyk(cmyk, quality=100, **kwargs)
        assert data == encode_jpeg_cmyk(cmyk, quality=100, **kwargs)
        out = decode_jpeg(data)
        assert out.shape == (17, 25, 3) and out.dtype == np.uint8
        exp = self._expected_rgb(cmyk)
        # DCT round-off, plus YCbCr matrix rounding for YCCK
        bound = 3 if kwargs.get("ycck") else 2
        assert np.abs(out.astype(int) - exp.astype(int)).max() <= bound

    def test_adobe_flavors_differ_on_the_wire_but_agree_decoded(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        cmyk = self._cmyk_img(seed=9)
        d_bare = encode_jpeg_cmyk(cmyk, 100, adobe=False)
        d_adobe = encode_jpeg_cmyk(cmyk, 100, adobe=True)
        assert b"Adobe" not in d_bare and b"Adobe" in d_adobe
        assert d_bare != d_adobe  # inverted samples ⇒ different entropy stream
        a, b = decode_jpeg(d_bare), decode_jpeg(d_adobe)
        assert np.abs(a.astype(int) - b.astype(int)).max() <= 2

    def test_transform_1_with_four_components_raises(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        data = encode_jpeg_cmyk(self._cmyk_img(), 90, adobe=True)
        i = data.index(b"Adobe")
        patched = bytearray(data)
        patched[i + 11] = 1  # YCbCr transform is a 3-component flavor
        with pytest.raises(ValueError, match="transform 1"):
            decode_jpeg(bytes(patched))

    def test_cmyk_payload_greyscales_at_media_seam(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk
        from oar_ocr_spark.functions.multimodal import _decode_payload

        cmyk = self._cmyk_img()
        out = _decode_payload("x", "image", encode_jpeg_cmyk(cmyk, 100, ycck=True))
        assert out.ndim == 2 and out.shape == (17, 25)

    def test_dctdecode_cmyk_page_in_pdf(self):
        # a PDF whose image XObject is a CMYK DCTDecode stream — the
        # print-workflow layout — must decode through decode_pdf
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk
        from oar_ocr_spark.functions.pdf import decode_pdf

        cmyk = self._cmyk_img()
        jp = encode_jpeg_cmyk(cmyk, 100, ycck=True)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 25 17]"
            b" /Resources << /XObject << /Im0 4 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 25 /Height 17"
            b" /ColorSpace /DeviceCMYK /BitsPerComponent 8"
            b" /Filter /DCTDecode /Length %d >>\nstream\n" % len(jp)
            + jp
            + b"\nendstream",
        ]
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        for num, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
        xref_pos = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, xref_pos)
        )
        pages = decode_pdf(bytes(out))
        exp = self._expected_rgb(cmyk)
        assert pages[0].shape == (17, 25, 3)
        assert np.abs(pages[0].astype(int) - exp.astype(int)).max() <= 3

    def test_restart_interval_roundtrip(self):
        # DRI/RSTn is the camera layout: pixel output must equal the
        # restart-free stream (predictor resets cancel out), and the
        # RST cycle must wrap correctly past RST7
        img = render_page("40_m0")
        base = decode_jpeg(encode_jpeg(img, 95))
        for ri in (1, 3, 7):
            data = encode_jpeg(img, 95, restart_interval=ri)
            assert b"\xff\xdd" in data  # DRI present
            assert (decode_jpeg(data) == base).all()
        rng = np.random.RandomState(7)
        color = np.kron(
            rng.randint(0, 256, (6, 7, 3)).astype(np.uint8),
            np.ones((4, 4, 1), dtype=np.uint8),
        )
        for sub in ("444", "420"):
            want = decode_jpeg(encode_jpeg(color, 95, subsampling=sub))
            got = decode_jpeg(
                encode_jpeg(color, 95, subsampling=sub, restart_interval=2)
            )
            assert (got == want).all()

    def test_restart_marker_out_of_sequence_raises(self):
        data = bytearray(encode_jpeg(render_page("40_m0"), 95, restart_interval=3))
        i = data.index(b"\xff\xd0")
        data[i + 1] = 0xD5  # wrong RSTn in the cycle
        with pytest.raises(ValueError, match="expected RST0"):
            decode_jpeg(bytes(data))

    def test_decoder_reads_tables_from_file_not_assumptions(self):
        # different qualities write different DQT segments; the decoder
        # must dequantize with the FILE's table to stay within bound
        img = render_page("7_m1")
        for q in (60, 85):
            out = decode_jpeg(encode_jpeg(img, q))
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 40


class TestLosslessDeepPrecision:
    """SOF3 at 2..16-bit sample depth — the 12/16-bit DICOM layouts.
    deep=True returns full-precision uint16; the default projection is
    the image seam's PNG-16 convention (top 8 bits)."""

    def _x(self, hi, shape, seed=5):
        return np.random.RandomState(seed).randint(0, hi, shape).astype(np.uint16)

    def test_12bit_roundtrip_and_projection(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        x = self._x(4096, (23, 17))
        for pred in (1, 2, 4, 5, 7):
            d = encode_jpeg_lossless(x, predictor=pred, precision=12)
            out = decode_jpeg(d, deep=True)
            assert out.dtype == np.uint16 and (out == x).all()
            proj = decode_jpeg(d)
            assert proj.dtype == np.uint8
            assert (proj == (x >> 4).astype(np.uint8)).all()

    def test_16bit_full_range_with_restarts(self):
        # full-range diffs exercise the modulo-65536 window incl. the
        # SSSS=16 (diff 32768) point
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        x = self._x(65536, (9, 31), seed=7)
        d = encode_jpeg_lossless(x, predictor=4, restart_interval=37)
        assert (decode_jpeg(d, deep=True) == x).all()

    def test_shallow_precision_left_aligns(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        x = self._x(16, (11, 8)).astype(np.uint8)
        d = encode_jpeg_lossless(x, predictor=6, precision=4)
        assert (decode_jpeg(d, deep=True) == x).all()
        assert (decode_jpeg(d) == (x << 4)).all()

    def test_rgb_and_point_transform(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        rgb = self._x(4096, (7, 9, 3), seed=9)
        d = encode_jpeg_lossless(rgb, predictor=3, precision=12)
        assert (decode_jpeg(d, deep=True) == rgb).all()
        x = self._x(4096, (12, 6), seed=3)
        d = encode_jpeg_lossless(x, predictor=5, point_transform=3, precision=12)
        assert (decode_jpeg(d, deep=True) == (x >> 3) << 3).all()

    def test_guards(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        x = self._x(4096, (6, 6))
        with pytest.raises(ValueError, match="precision"):
            encode_jpeg_lossless(x, precision=17)
        with pytest.raises(ValueError, match="exceeds the declared"):
            encode_jpeg_lossless(x, precision=10)  # samples up to 4095
        with pytest.raises(ValueError, match="point transform"):
            encode_jpeg_lossless(x, precision=12, point_transform=12)
        for empty in (np.zeros((0, 5), np.uint8), np.zeros((5, 0, 3), np.uint16)):
            with pytest.raises(ValueError, match="empty image"):
                encode_jpeg_lossless(empty)
        # Pt >= P in the scan header fails loudly at decode
        d = bytearray(encode_jpeg_lossless(x, precision=12, point_transform=3))
        i = d.index(b"\xff\xda")
        # SOS: FF DA len(2) ncomp(1) comp(2) Ss(1) Se(1) AhAl(1)
        d[i + 9] = 12
        with pytest.raises(ValueError, match="point transform 12"):
            decode_jpeg(bytes(d))


class TestArithmetic:
    """SOF9 (T.81 Annex D/F): QM-coded sequential DCT. Contract: same
    quantized coefficients as the baseline encoder, so decode equals
    the baseline stream's decode EXACTLY; the entropy layer is just
    smaller."""

    def _rgb(self):
        img = render_page("40_m0")
        return np.stack([img, np.roll(img, 3, 0), np.roll(img, 5, 1)], axis=-1)

    def test_qm_coder_random_streams_roundtrip(self):
        # the binary layer in isolation: adaptive multi-bin streams
        # (skewed per-bin probabilities) mixed with fixed decisions
        import random

        from oar_ocr_spark.functions.jpeg_arith import (
            _QMDecoder,
            _QMEncoder,
            _Stats,
        )

        rng = random.Random(11)
        for _ in range(25):
            nbins, n = 6, rng.randrange(1, 3000)
            p = [rng.random() for _ in range(nbins)]
            seq = []
            for _ in range(n):
                b = rng.randrange(nbins + 1)
                if b == nbins:
                    seq.append((None, rng.randrange(2)))
                else:
                    seq.append((b, 1 if rng.random() < p[b] else 0))
            enc, st = _QMEncoder(), _Stats(nbins)
            for b, bit in seq:
                enc.encode_fixed(bit) if b is None else enc.encode(st, b, bit)
            data = enc.flush() + b"\xff\xd9"
            dec, st2 = _QMDecoder(data, 0), _Stats(nbins)
            for b, bit in seq:
                got = dec.decode_fixed() if b is None else dec.decode(st2, b)
                assert got == bit

    def test_qm_coder_compresses_skewed_stream(self):
        from oar_ocr_spark.functions.jpeg_arith import _QMEncoder, _Stats

        enc, st = _QMEncoder(), _Stats(1)
        n = 50_000
        for k in range(n):
            enc.encode(st, 0, 1 if k % 97 == 0 else 0)
        assert len(enc.flush()) < n // 80  # ~6250 B raw → well under

    def test_decode_equals_baseline_exactly(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        img = render_page("40_m0")
        for q in (60, 90, 100):
            a = encode_jpeg_arith(img, q)
            assert a == encode_jpeg_arith(img, q)  # deterministic
            assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, q))).all()

    def test_smaller_than_huffman(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        img = render_page("40_m0")
        assert len(encode_jpeg_arith(img, 90)) < 0.85 * len(encode_jpeg(img, 90))

    def test_color_and_subsampling(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        rgb = self._rgb()
        for sub in ("444", "420", "422"):
            a = encode_jpeg_arith(rgb, 85, subsampling=sub)
            b = encode_jpeg(rgb, 85, subsampling=sub)
            assert (decode_jpeg(a) == decode_jpeg(b)).all(), sub

    def test_restart_intervals(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        img = render_page("40_m0")
        a = encode_jpeg_arith(img, 90, restart_interval=7)
        assert b"\xff\xd0" in a  # restarts actually emitted
        assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, 90))).all()
        rgb = self._rgb()
        a = encode_jpeg_arith(rgb, 85, subsampling="420", restart_interval=3)
        assert (
            decode_jpeg(a) == decode_jpeg(encode_jpeg(rgb, 85, subsampling="420"))
        ).all()

    def test_adversarial_noise_roundtrips(self):
        # full-range noise exercises deep magnitude chains + carries
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        img = np.random.RandomState(3).randint(0, 256, (41, 53)).astype(np.uint8)
        a = encode_jpeg_arith(img, 100)
        assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, 100))).all()

    def test_declared_failures_and_dac_validation(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith

        img = render_page("40_m0")
        data = encode_jpeg_arith(img, 90)
        i = data.index(b"\xff\xc9")
        # a sequential stream mislabeled SOF10 is malformed (full-band
        # DC scan) and must fail loudly, not decode as garbage
        with pytest.raises(ValueError, match="DC scan"):
            decode_jpeg(data[:i] + b"\xff\xca" + data[i + 2 :])
        # DAC validation: Kx=0 and L>U are illegal conditioning
        j = data.index(b"\xff\xcc")
        bad = bytearray(data)
        bad[j + 7] = 0  # AC Kx byte
        with pytest.raises(ValueError, match="Kx"):
            decode_jpeg(bytes(bad))
        bad = bytearray(data)
        bad[j + 5] = 0x02  # DC Cs: L=2, U=0
        with pytest.raises(ValueError, match="L=2"):
            decode_jpeg(bytes(bad))


class TestArithmeticProgressive:
    """SOF10 (T.81 Annex G.2): the fourth corner of the entropy matrix.
    Contract: same quantized coefficients and scan script as the SOF2
    encoder with the QM coder underneath, so decode equals the baseline
    stream's decode EXACTLY."""

    def _rgb(self):
        img = render_page("40_m0")
        return np.stack([img, np.roll(img, 3, 0), np.roll(img, 5, 1)], axis=-1)

    def test_decode_equals_baseline_exactly(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        img = render_page("40_m0")
        for q in (60, 90, 100):
            a = encode_jpeg_arith_progressive(img, q)
            assert a == encode_jpeg_arith_progressive(img, q)  # deterministic
            assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, q))).all()

    def test_smaller_than_huffman_baseline(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        img = render_page("40_m0")
        assert len(encode_jpeg_arith_progressive(img, 90)) < 0.85 * len(
            encode_jpeg(img, 90)
        )

    def test_color_and_subsampling(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        rgb = self._rgb()
        for sub in ("444", "420", "422", "440"):
            a = encode_jpeg_arith_progressive(rgb, 85, subsampling=sub)
            b = encode_jpeg(rgb, 85, subsampling=sub)
            assert (decode_jpeg(a) == decode_jpeg(b)).all(), sub

    def test_restart_intervals(self):
        # per-scan restart resync: fresh QM coder + statistics +
        # predictors at every RSTn, in DC first/refine AND AC
        # first/refine scans
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        img = render_page("40_m0")
        for ri in (1, 7):
            a = encode_jpeg_arith_progressive(img, 90, restart_interval=ri)
            assert b"\xff\xd0" in a
            assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, 90))).all()
        rgb = self._rgb()
        a = encode_jpeg_arith_progressive(rgb, 85, subsampling="420", restart_interval=3)
        assert (
            decode_jpeg(a) == decode_jpeg(encode_jpeg(rgb, 85, subsampling="420"))
        ).all()

    def test_adversarial_noise_roundtrips(self):
        # full-range noise exercises deep magnitude chains in the AC
        # first scans and dense correction bits in the refinements
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        img = np.random.RandomState(3).randint(0, 256, (41, 53)).astype(np.uint8)
        a = encode_jpeg_arith_progressive(img, 100)
        assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, 100))).all()

    def test_flat_image_eob_paths(self):
        # constant image: every AC band is all-zero — the EOB-decision
        # edge (emitted at 3*(Ss-1)) in both first and refine scans
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        img = np.full((24, 40), 137, dtype=np.uint8)
        a = encode_jpeg_arith_progressive(img, 90)
        assert (decode_jpeg(a) == decode_jpeg(encode_jpeg(img, 90))).all()

    def test_all_four_layouts_decode_identically(self):
        # the jpeg_store_df contract: one DCT/quantization pipeline
        # behind four entropy layouts
        from oar_ocr_spark.functions.jpeg_arith import (
            encode_jpeg_arith,
            encode_jpeg_arith_progressive,
        )
        from oar_ocr_spark.functions.jpeg import encode_jpeg_progressive

        img = render_page("41_m1")
        want = decode_jpeg(encode_jpeg(img, 100))
        for enc in (encode_jpeg_progressive, encode_jpeg_arith,
                    encode_jpeg_arith_progressive):
            assert (decode_jpeg(enc(img, 100)) == want).all(), enc.__name__

    def test_encoder_guards(self):
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

        with pytest.raises(ValueError, match="uint8"):
            encode_jpeg_arith_progressive(np.zeros((4, 4), dtype=np.int32))
        with pytest.raises(ValueError, match="empty"):
            encode_jpeg_arith_progressive(np.zeros((0, 4), dtype=np.uint8))
        with pytest.raises(ValueError, match="color images only"):
            encode_jpeg_arith_progressive(
                render_page("40_m0"), subsampling="420"
            )


class TestLossless:
    """SOF3 (T.81 Annex H): Huffman-coded prediction differences, no
    DCT — bit-exact roundtrip is the contract (unlike the lossy DCT
    paths), matching the engine's PNG-style lossless guarantees."""

    def _img(self, shape, seed=5):
        return np.random.RandomState(seed).randint(0, 256, shape).astype(np.uint8)

    def test_all_predictors_roundtrip_exactly(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        for shape in [(13, 9), (32, 24, 3), (1, 7), (7, 1), (1, 1)]:
            img = self._img(shape)
            for pred in range(1, 8):
                data = encode_jpeg_lossless(img, predictor=pred)
                assert data == encode_jpeg_lossless(img, predictor=pred)
                out = decode_jpeg(data)
                assert out.shape == img.shape and out.dtype == np.uint8
                assert (out == img).all(), (shape, pred)

    def test_rendered_page_roundtrip(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        img = render_page("40_m0")
        for pred in (1, 2, 4, 7):
            assert (decode_jpeg(encode_jpeg_lossless(img, predictor=pred)) == img).all()

    def test_point_transform_truncates_low_bits(self):
        # H.1.1: samples are divided by 2^Pt before prediction and the
        # decoder scales back — inputs with zero low bits roundtrip
        # exactly; arbitrary inputs lose exactly the low Pt bits
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        img = self._img((9, 11))
        out = decode_jpeg(encode_jpeg_lossless(img, predictor=5, point_transform=3))
        assert (out == (img >> 3) << 3).all()
        pre = (self._img((9, 11), seed=7) >> 2) << 2
        assert (decode_jpeg(encode_jpeg_lossless(pre, predictor=4, point_transform=2)) == pre).all()

    def test_restart_interval_roundtrip(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        img = self._img((16, 10))
        for pred in (1, 4, 7):
            data = encode_jpeg_lossless(img, predictor=pred, restart_interval=23)
            assert b"\xff\xd0" in data  # restarts actually emitted
            assert (decode_jpeg(data) == img).all()
        rgb = self._img((8, 9, 3), seed=9)
        assert (decode_jpeg(encode_jpeg_lossless(rgb, predictor=6, restart_interval=11)) == rgb).all()

    def test_smooth_content_compresses(self):
        # the point of predictive coding: a gradient page shrinks well
        # below raw size while roundtripping exactly
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        grad = np.add.outer(np.arange(64), np.arange(64)).astype(np.uint8)
        data = encode_jpeg_lossless(grad, predictor=4)
        assert len(data) < grad.size // 2
        assert (decode_jpeg(data) == grad).all()

    def test_guards(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_lossless

        img = self._img((6, 6))
        with pytest.raises(ValueError, match="predictor"):
            encode_jpeg_lossless(img, predictor=0)
        with pytest.raises(ValueError, match="point transform"):
            encode_jpeg_lossless(img, point_transform=8)
        # precision outside the legal 2..16 range fails loudly
        data = bytearray(encode_jpeg_lossless(img))
        i = data.index(b"\xff\xc3")
        data[i + 4] = 17
        with pytest.raises(ValueError, match="precision 17"):
            decode_jpeg(bytes(data))
        # subsampled multi-component lossless is out of scope
        rgb = encode_jpeg_lossless(self._img((8, 8, 3)))
        j = rgb.index(b"\xff\xc3")
        patched = bytearray(rgb)
        patched[j + 11] = 0x21  # comp 1 sampling 2x1
        with pytest.raises(NotImplementedError, match="subsampled"):
            decode_jpeg(bytes(patched))


class TestExtendedSequential12Bit:
    """12-bit extended sequential (SOF1) — the lossy DCT layout
    12-bit DICOM transfer syntaxes use: 16-bit Pq=1 DQT (Annex-K
    scaled x16), flat deterministic 12-bit Huffman tables (DC
    categories to 15, AC sizes to 14), deep=True uint16 decode and
    the top-8 seam projection."""

    def _page12(self):
        from oar_ocr_spark.fixtures.render import render_page

        p8 = render_page("7_m2")
        return ((p8.astype(np.uint16) << 4) | (p8 >> 4)), p8

    def test_roundtrip_error_bounded_and_projection(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

        img, _ = self._page12()
        prev_err = None
        for q in (90, 95, 100):
            code = encode_jpeg_extended(img, quality=q)
            got = decode_jpeg(code, deep=True)
            assert got.dtype == np.uint16 and got.shape == img.shape
            err = int(np.abs(got.astype(int) - img.astype(int)).max())
            assert err <= (256 if q < 100 else 32), (q, err)
            if prev_err is not None:
                assert err <= prev_err  # quality knob monotone
            prev_err = err
            # the seam's uint8 projection is exactly the top 8 bits
            assert np.array_equal(decode_jpeg(code), (got >> 4).astype(np.uint8))
            # SOF1 with precision 12 signalled
            i = code.index(b"\xff\xc1")
            assert code[i + 4] == 12

    def test_deep_categories_and_restarts(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

        rng = np.random.RandomState(3)
        x = rng.randint(0, 4096, (40, 56)).astype(np.uint16)  # worst case
        code = encode_jpeg_extended(x, quality=100)
        err = np.abs(decode_jpeg(code, deep=True).astype(int) - x.astype(int))
        assert err.max() <= 32
        img, _ = self._page12()
        code = encode_jpeg_extended(img, quality=95, restart_interval=3)
        assert b"\xff\xdd" in code
        err = np.abs(decode_jpeg(code, deep=True).astype(int) - img.astype(int))
        assert err.max() <= 256

    def test_smooth_gradient_near_exact(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

        g = np.clip(
            np.add.outer(np.arange(80), np.arange(100)) * 20, 0, 4095
        ).astype(np.uint16)
        err = np.abs(
            decode_jpeg(encode_jpeg_extended(g, quality=100), deep=True).astype(int)
            - g.astype(int)
        )
        assert err.max() <= 8

    def test_guards(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

        with pytest.raises(ValueError, match="uint16"):
            encode_jpeg_extended(np.zeros((8, 8), dtype=np.uint8))
        with pytest.raises(ValueError, match="12-bit"):
            encode_jpeg_extended(np.full((8, 8), 4096, dtype=np.uint16))
        # a 12-bit BASELINE frame is illegal per B.2.2 (SOF0 is 8-bit
        # only); 12-bit CMYK now DECODES (TestDeepCmyk) and 12-bit
        # arithmetic stays declared out of scope
        from oar_ocr_spark.fixtures.render import render_page
        from oar_ocr_spark.functions.jpeg import encode_jpeg

        p8 = render_page("5_m1")
        rgb = np.stack([p8] * 3, axis=-1)
        code = bytearray(encode_jpeg(rgb))
        i = code.index(b"\xff\xc0")
        code[i + 4] = 12
        with pytest.raises(ValueError, match="SOF0"):
            decode_jpeg(bytes(code))
        code = bytearray(encode_jpeg(rgb))
        i = code.index(b"\xff\xc0")
        code[i + 1] = 0xC9  # relabel as arithmetic sequential
        code[i + 4] = 12
        with pytest.raises(NotImplementedError, match="arithmetic"):
            decode_jpeg(bytes(code))


class TestDeep12BitColorAndProgressive:
    """12-bit DCT beyond greyscale sequential: 4:4:4 YCbCr color
    (SOF1) and progressive (SOF2) frames, grey and color — the print-
    master layouts — with 12-bit chroma centering and the top-8 seam
    projection."""

    def _pages12(self):
        from oar_ocr_spark.fixtures.render import render_page

        p8 = render_page("7_m2")
        g12 = (p8.astype(np.uint16) << 4) | (p8 >> 4)
        rgb12 = np.stack(
            [g12, np.roll(g12, 3, 0), np.roll(g12, 5, 1)], axis=-1
        )
        return g12, rgb12

    def test_color_sof1_roundtrip_and_projection(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

        _, rgb12 = self._pages12()
        code = encode_jpeg_extended(rgb12, quality=95)
        got = decode_jpeg(code, deep=True)
        assert got.dtype == np.uint16 and got.shape == rgb12.shape
        err = int(np.abs(got.astype(int) - rgb12.astype(int)).max())
        assert err <= 512  # chroma table through the 12-bit ICT
        assert np.array_equal(decode_jpeg(code), (got >> 4).astype(np.uint8))
        i = code.index(b"\xff\xc1")
        assert code[i + 4] == 12 and code[i + 9] == 3

    def test_progressive_equals_sequential_coefficients(self):
        from oar_ocr_spark.functions.jpeg import (
            decode_jpeg,
            encode_jpeg_extended,
            encode_jpeg_progressive,
        )

        g12, rgb12 = self._pages12()
        for img in (g12, rgb12):
            seq = decode_jpeg(encode_jpeg_extended(img, quality=95), deep=True)
            prog = decode_jpeg(
                encode_jpeg_progressive(img, quality=95), deep=True
            )
            assert np.array_equal(seq, prog), img.shape

    def test_progressive_sof2_signalled_and_restarts(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_progressive

        g12, rgb12 = self._pages12()
        code = encode_jpeg_progressive(rgb12, quality=95, restart_interval=2)
        i = code.index(b"\xff\xc2")
        assert code[i + 4] == 12
        assert b"\xff\xdd" in code
        err = np.abs(
            decode_jpeg(code, deep=True).astype(int) - rgb12.astype(int)
        )
        assert err.max() <= 512
        assert decode_jpeg(code).dtype == np.uint8

    def test_guards(self):
        from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_progressive
        from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith
        from oar_ocr_spark.fixtures.render import render_page

        g12, rgb12 = self._pages12()
        with pytest.raises(ValueError, match="4:4:4"):
            encode_jpeg_progressive(rgb12, subsampling="420")
        # 12-bit arithmetic stays declared out of scope
        code = bytearray(encode_jpeg_arith(render_page("5_m1")))
        i = code.index(b"\xff\xc9")
        code[i + 4] = 12
        with pytest.raises(NotImplementedError, match="arithmetic"):
            decode_jpeg(bytes(code))


class TestDeepCmyk:
    """12-bit 4-component JPEG (extended-sequential SOF1 print
    masters): bare CMYK, Adobe inverted and YCCK, full-precision
    uint16 with deep=True and the top-8-bit projection without."""

    @staticmethod
    def _cmyk12(h=20, w=28, seed=7):
        rng = np.random.RandomState(seed)
        small = rng.randint(0, 4096, (h // 4 + 1, w // 4 + 1, 4))
        return np.kron(
            small, np.ones((4, 4, 1), dtype=np.int64)
        )[:h, :w, :].astype(np.uint16)

    @pytest.mark.parametrize(
        "kwargs",
        [dict(adobe=False), dict(adobe=True), dict(adobe=True, ycck=True)],
    )
    def test_roundtrip_all_flavors(self, kwargs):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        cmyk = self._cmyk12()
        data = encode_jpeg_cmyk(cmyk, quality=100, **kwargs)
        assert data == encode_jpeg_cmyk(cmyk, quality=100, **kwargs)
        deep = decode_jpeg(data, deep=True)
        assert deep.shape == (20, 28, 3) and deep.dtype == np.uint16
        inv = 4095.0 - cmyk[..., :3].astype(np.float64)
        k = 4095.0 - cmyk[..., 3].astype(np.float64)
        exp = np.clip(np.round(inv * k[..., None] / 4095.0), 0, 4095)
        bound = 40 if kwargs.get("ycck") else 26  # 12-bit DCT round-off
        assert np.abs(deep.astype(float) - exp).max() <= bound
        # uint8 path == top-8-bit projection of deep (the image seam)
        assert np.array_equal(decode_jpeg(data), (deep >> 4).astype(np.uint8))

    def test_sof1_and_16bit_dqt_on_the_wire(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        data = encode_jpeg_cmyk(self._cmyk12(), 95, adobe=True)
        assert b"\xff\xc1" in data and b"\xff\xc0" not in data[2:]
        i = data.index(b"\xff\xdb")
        assert data[i + 4] == 0x10  # Pq=1: 16-bit quantizer entries

    def test_range_guard(self):
        from oar_ocr_spark.functions.jpeg import encode_jpeg_cmyk

        bad = np.full((8, 8, 4), 4096, np.uint16)
        with pytest.raises(ValueError, match="12-bit range"):
            encode_jpeg_cmyk(bad)
