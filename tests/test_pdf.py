"""PDF container codec + distributed unpack (functions/pdf.py).

Parity target: the reference's PDF input path (hayro rasterizer,
Cargo.toml:20 — PDF pages become images feeding the OCR pipeline);
north-rule names "PDF/layout parse". The container is lossless
(FlateDecode), so spans extracted through PDF bytes must equal the
renderer-path spans exactly."""

import re
import struct
import zlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from oar_ocr_spark.fixtures.corpus import generate_documents
from oar_ocr_spark.fixtures.render import render_page
from oar_ocr_spark.functions.pdf import (
    PdfDocument,
    decode_pdf,
    decode_pdf_refs,
    encode_pdf,
    pdf_media_store_df,
    pdf_store_df,
)
from oar_ocr_spark.functions.png import decode_png
from oar_ocr_spark.pipeline import extract_spans
from oar_ocr_spark.schemas import DOCUMENTS_SCHEMA


def _pages(refs):
    return [render_page(r) for r in refs]


class TestCodecRoundtrip:
    def test_roundtrip_pages_and_refs(self):
        refs = ["11_m2", "40_m0", "7_m1"]
        pages = _pages(refs)
        data = encode_pdf(pages, refs)
        assert data.startswith(b"%PDF-1.4")
        assert data.rstrip().endswith(b"%%EOF")
        out = decode_pdf(data)
        assert len(out) == 3
        for got, want in zip(out, pages):
            assert got.dtype == np.uint8
            assert (got == want).all()  # bit-for-bit: FlateDecode is lossless
        assert decode_pdf_refs(data) == refs

    def test_empty_pdf(self):
        data = encode_pdf([], [])
        assert decode_pdf(data) == []

    def test_refs_with_pdf_delimiters_escape(self):
        page = np.full((8, 6), 200, dtype=np.uint8)
        refs = [r"we(ird)\ref"]
        assert decode_pdf_refs(encode_pdf([page], refs)) == refs

    def test_no_refs_title_absent(self):
        page = np.zeros((4, 4), dtype=np.uint8)
        assert decode_pdf_refs(encode_pdf([page])) is None

    def test_rejects_non_grey_pages(self):
        with pytest.raises(ValueError):
            encode_pdf([np.zeros((4, 4, 3), dtype=np.uint8)])

    def test_xref_offsets_are_real(self):
        # every xref entry must point at "N 0 obj" — the writer emits a
        # genuine cross-reference table, not decoration
        data = encode_pdf(_pages(["40_m0"]), ["40_m0"])
        doc = PdfDocument(data)
        for num, off in doc._offsets.items():
            if off is None:
                continue  # freed entry (object 0 = head of the free list)
            assert re.match(rb"%d\s+0\s+obj" % num, data[off : off + 20])


class TestCcittPdfs:
    def test_ccitt_g4_page_roundtrip_both_xref_layouts(self):
        # archival-scan layout: 1-bit /CCITTFaxDecode image XObjects
        rng = np.random.default_rng(17)
        pages = [
            (rng.integers(0, 2, (40, 70)) * 255).astype(np.uint8),
            (rng.integers(0, 2, (25, 31)) * 255).astype(np.uint8),
        ]
        for xf in ("classic", "stream"):
            out = decode_pdf(encode_pdf(pages, image_format="ccitt", xref_format=xf))
            assert len(out) == 2
            for got, want in zip(out, pages):
                assert (got == want).all(), xf  # G4 is lossless

    def test_ccitt_encrypted_page(self):
        rng = np.random.default_rng(18)
        page = (rng.integers(0, 2, (16, 22)) * 255).astype(np.uint8)
        out = decode_pdf(encode_pdf([page], image_format="ccitt", encrypt="aes-128"))
        assert (out[0] == page).all()

    def test_ccitt_rejects_non_bilevel(self):
        with pytest.raises(ValueError):
            encode_pdf([np.full((4, 4), 90, np.uint8)], image_format="ccitt")


class TestForeignPdfs:
    """Hand-built PDFs exercising parser paths our writer never emits."""

    def _wrap(self, objs: list[bytes], trailer_extra: bytes = b"") -> bytes:
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        for i, body in enumerate(objs, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj " % i + body + b" endobj\n"
        xref = len(out)
        out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer << /Size %d /Root 1 0 R" % (len(objs) + 1)
            + trailer_extra
            + b" >>\nstartxref\n%d\n%%%%EOF" % xref
        )
        return bytes(out)

    def test_nested_pages_tree_indirect_length_comments_hex_strings(self):
        img = np.arange(24, dtype=np.uint8).reshape(4, 6)
        stream = zlib.compress(img.tobytes())
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            # nested tree: root node -> inner Pages node -> leaf page
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
            b"% a comment\n<< /Type /Page /Parent 3 0 R /MediaBox [0 0 6 4] "
            b"/Resources << /XObject << /ImX 5 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 6 /Height 4 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /FlateDecode "
            b"/Length 6 0 R >> stream\n" + stream + b"\nendstream",
            b"%d" % len(stream),  # indirect /Length
        ]
        pages = decode_pdf(self._wrap(objs))
        assert len(pages) == 1
        assert (pages[0] == img).all()

    def test_rgb_uncompressed_image(self):
        img = np.arange(36, dtype=np.uint8).reshape(2, 6, 3)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 6 /Height 2 "
            b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Length %d >> stream\n"
            % len(img.tobytes())
            + img.tobytes()
            + b"\nendstream",
        ]
        pages = decode_pdf(self._wrap(objs))
        assert pages[0].shape == (2, 6, 3)
        assert (pages[0] == img).all()

    def test_dctdecode_images_decode_via_jpeg_codec(self):
        # JPEG-compressed image XObjects (the layout of real scanned
        # PDFs) decode through the engine's own baseline codec
        from oar_ocr_spark.functions.jpeg import encode_jpeg

        img = render_page("40_m0")
        jp = encode_jpeg(img, 100)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /DCTDecode "
            b"/Length %d >> stream\n" % (img.shape[1], img.shape[0], len(jp))
            + jp
            + b"\nendstream",
        ]
        pages = decode_pdf(self._wrap(objs))
        assert np.abs(pages[0].astype(int) - img.astype(int)).max() <= 1

    def test_jpx_garbage_fails_loudly(self):
        # JPXDecode streams now DECODE (functions/jp2.py; valid-stream
        # roundtrip pinned in test_jp2.TestPdfJpxSeam) — corrupt bytes
        # must still fail loudly, not crash opaquely
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter /JPXDecode "
            b"/Length 4 >> stream\nabcd\nendstream",
        ]
        with pytest.raises(ValueError, match="JP2|signature"):
            decode_pdf(self._wrap(objs))

    def test_scanned_pdf_roundtrip_jpeg_pages(self):
        # writer's image_format='jpeg' produces a real scanned-style PDF
        refs = ["40_m0", "7_m1"]
        pages = _pages(refs)
        data = encode_pdf(pages, refs, image_format="jpeg", quality=100)
        assert b"/DCTDecode" in data
        out = decode_pdf(data)
        assert decode_pdf_refs(data) == refs
        for got, want in zip(out, pages):
            assert np.abs(got.astype(int) - want.astype(int)).max() <= 1

    def test_incremental_update_newest_object_wins(self):
        # real incremental update: append a replacement image object +
        # a new xref whose trailer /Prev points at the original xref.
        # The parser must take the LAST startxref and prefer the newest
        # offsets (a small update leaves both startxrefs in the tail
        # window — the exact case the last-match rule exists for).
        old_img = np.full((4, 4), 9, dtype=np.uint8)
        new_img = np.full((4, 4), 200, dtype=np.uint8)
        base = encode_pdf([old_img])
        # object numbering from encode_pdf: 3 = the page's image XObject
        img_num = 3
        stream = zlib.compress(new_img.tobytes())
        body = (
            b"%d 0 obj\n" % img_num
            + b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream\nendobj\n"
        )
        m = re.search(rb"startxref\s+(\d+)", base[-64:])
        orig_xref_pos = int(m.group(1))
        out = bytearray(base)
        obj_at = len(out)
        out += body
        xref_at = len(out)
        out += b"xref\n%d 1\n%010d 00000 n \n" % (img_num, obj_at)
        out += (
            b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
            % (orig_xref_pos, xref_at)
        )
        updated = bytes(out)
        pages = decode_pdf(updated)
        assert (pages[0] == new_img).all()  # newest revision wins
        assert (decode_pdf(base)[0] == old_img).all()  # original untouched

    def test_scanned_pdf_with_420_subsampled_jpeg_decodes(self):
        # wild scanned PDFs embed camera-style 4:2:0 JPEGs; the
        # DCTDecode path must hand them to the generalized decoder
        from oar_ocr_spark.functions.jpeg import encode_jpeg

        rng = np.random.RandomState(5)
        small = rng.randint(0, 256, (6, 5, 3)).astype(np.uint8)
        img = np.kron(small, np.ones((4, 4, 1), dtype=np.uint8))  # 24x20
        jpg = encode_jpeg(img, 100, subsampling="420")
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            b"<< /Type /XObject /Subtype /Image /Width 20 /Height 24 "
            b"/ColorSpace /DeviceRGB /BitsPerComponent 8 /Filter /DCTDecode "
            b"/Length %d >> stream\n" % len(jpg) + jpg + b"\nendstream",
        ]
        pages = decode_pdf(self._wrap(objs))
        assert pages[0].shape == (24, 20, 3)
        assert np.abs(pages[0].astype(int) - img.astype(int)).max() <= 6

    def test_literal_string_octal_and_continuation(self):
        # PDF 7.3.4.2: \ddd octal escapes (1-3 digits) and backslash-EOL
        # line continuations — foreign PDFs use both in /Info strings
        from oar_ocr_spark.functions.pdf import _parse_value

        val, _ = _parse_value(b"(\\101\\12\\0053)", 0)
        assert val == "A\n\x053"  # 3-digit, 2-digit, 3-digit+literal
        val, _ = _parse_value(b"(ab\\\ncd)", 0)
        assert val == "abcd"  # \<LF> continuation vanishes
        val, _ = _parse_value(b"(ab\\\r\ncd)", 0)
        assert val == "abcd"  # \<CRLF> counts as ONE line end
        val, _ = _parse_value(b"(a\\(b\\)c\\\\d)", 0)
        assert val == "a(b)c\\d"  # named/identity escapes unchanged

    def test_incremental_update_free_entry_deletes_object(self):
        # an 'f' (free) entry in a NEWER xref section must mask the older
        # section's 'n' entry — a deleted object must not resurrect
        img = np.full((4, 4), 9, dtype=np.uint8)
        base = encode_pdf([img])
        img_num = 3  # the page's image XObject in encode_pdf numbering
        m = re.search(rb"startxref\s+(\d+)", base[-64:])
        orig_xref_pos = int(m.group(1))
        out = bytearray(base)
        xref_at = len(out)
        out += b"xref\n%d 1\n0000000000 65535 f \n" % img_num
        out += (
            b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
            % (orig_xref_pos, xref_at)
        )
        doc = PdfDocument(bytes(out))
        assert doc._load(img_num) is None  # freed, not resurrected
        assert PdfDocument(base)._load(img_num) is not None  # original intact

    def test_ascii85_matches_stdlib_oracle(self):
        import base64

        from oar_ocr_spark.functions.pdf import _ascii85_decode

        rng = np.random.RandomState(3)
        for n in (0, 1, 2, 3, 4, 5, 17, 256):
            payload = bytes(rng.randint(0, 256, n).astype(np.uint8))
            enc = base64.a85encode(payload, adobe=True)  # <~ ... ~>
            assert _ascii85_decode(enc[2:]) == payload  # strip '<~'
        # 'z' shortcut for four zero bytes
        assert _ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"

    def test_lzw_spec_vector(self):
        # hand-derived code sequence for the PDF spec's 7.4.4.2 sample
        # input (EEEEEeEEEf): CLEAR, E, EE, EE, e, EEE, f, EOD — i.e.
        # codes 256,69,258,258,101,259,102,257 at 9 bits (the third
        # code reuses table entry 258 added while coding the second)
        from oar_ocr_spark.functions.lzw import lzw_decode

        codes = [256, 69, 258, 258, 101, 259, 102, 257]
        acc = 0
        nbits = 0
        out = bytearray()
        for c in codes:
            acc = (acc << 9) | c
            nbits += 9
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        assert lzw_decode(bytes(out)).tobytes() == b"\x45" * 5 + b"\x65" + b"\x45" * 3 + b"\x66"

    def test_runlength_vectors(self):
        from oar_ocr_spark.functions.pdf import _rle_decode

        assert _rle_decode(b"\x02abc\x80") == b"abc"  # literal run of 3
        assert _rle_decode(b"\xfeZ\x80") == b"ZZZ"  # 257-254=3 repeats
        assert _rle_decode(b"\x00a\xffQ\x80trailing") == b"aQQ"

    def test_image_xobject_filter_chains(self):
        # foreign PDFs wrap image data in ASCII filters and chains
        import base64

        img = np.arange(20, dtype=np.uint8).reshape(4, 5)

        def obj_for(filter_spec, payload):
            return (
                b"<< /Type /XObject /Subtype /Image /Width 5 /Height 4 "
                b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Filter "
                + filter_spec
                + b" /Length %d >> stream\n" % len(payload)
                + payload
                + b"\nendstream"
            )

        cases = [
            (b"/ASCIIHexDecode", img.tobytes().hex().encode() + b">"),
            (b"/ASCII85Decode", base64.a85encode(img.tobytes(), adobe=True)[2:]),
            (b"/RunLengthDecode", b"\x13" + img.tobytes() + b"\x80"),
            (
                b"[/ASCII85Decode /FlateDecode]",
                base64.a85encode(zlib.compress(img.tobytes()), adobe=True)[2:],
            ),
        ]
        for spec, payload in cases:
            objs = [
                b"<< /Type /Catalog /Pages 2 0 R >>",
                b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
                b"<< /Type /Page /Parent 2 0 R "
                b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
                obj_for(spec, payload),
            ]
            pages = decode_pdf(self._wrap(objs))
            assert (pages[0] == img).all(), spec

    def test_tiff_predictor_2(self):
        # TIFF horizontal differencing: each sample delta'd against the
        # previous SAME-CHANNEL sample in the row, wrapping mod 256
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rng = np.random.RandomState(11)
        rows = rng.randint(0, 256, (3, 5, 2)).astype(np.uint8)  # 2 "colors"
        diff = rows.astype(np.int16)
        diff[:, 1:, :] = (rows[:, 1:, :].astype(np.int16) - rows[:, :-1, :]) % 256
        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {"Predictor": 2, "Columns": 5, "Colors": 2},
        }
        out = _apply_stream_filters(d, zlib.compress(diff.astype(np.uint8).tobytes()))
        assert out == rows.tobytes()

    def test_tiff_predictor_2_16bit(self):
        # 16-bit samples difference mod 65536 as big-endian words
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rng = np.random.RandomState(7)
        rows = rng.randint(0, 65536, (2, 4, 3)).astype(np.int64)  # RGB16
        diff = rows.copy()
        diff[:, 1:, :] = (rows[:, 1:, :] - rows[:, :-1, :]) % 65536
        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {
                "Predictor": 2, "Columns": 4, "Colors": 3,
                "BitsPerComponent": 16,
            },
        }
        out = _apply_stream_filters(d, zlib.compress(diff.astype(">u2").tobytes()))
        assert out == rows.astype(">u2").tobytes()

    def test_tiff_predictor_2_4bit(self):
        # sub-byte samples: difference mod 16, rows byte-aligned (5
        # nibbles → 3 bytes with a pad nibble)
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rng = np.random.RandomState(9)
        rows = rng.randint(0, 16, (3, 5)).astype(np.int64)
        diff = rows.copy()
        diff[:, 1:] = (rows[:, 1:] - rows[:, :-1]) % 16

        def pack4(a):
            h, spr = a.shape
            slots = spr + (spr & 1)
            pad = np.zeros((h, slots), np.uint8)
            pad[:, :spr] = a
            return (
                ((pad[:, 0::2] << 4) | pad[:, 1::2]).astype(np.uint8).tobytes()
            )

        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {
                "Predictor": 2, "Columns": 5, "BitsPerComponent": 4,
            },
        }
        out = _apply_stream_filters(d, zlib.compress(pack4(diff)))
        assert out == pack4(rows)

    def test_png_predictor_16bit_sub(self):
        # PNG filters predict at byte distance bpp = colors*2 for 16-bit
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rng = np.random.RandomState(13)
        raw = rng.randint(0, 256, (2, 4 * 3 * 2)).astype(np.int64)  # row bytes
        pred = np.zeros((2, raw.shape[1] + 1), dtype=np.uint8)
        pred[:, 0] = 1  # Sub
        bpp = 6
        pred[:, 1 : bpp + 1] = raw[:, :bpp]
        pred[:, bpp + 1 :] = (raw[:, bpp:] - raw[:, :-bpp]) % 256
        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {
                "Predictor": 14, "Columns": 4, "Colors": 3,
                "BitsPerComponent": 16,
            },
        }
        out = _apply_stream_filters(d, zlib.compress(pred.tobytes()))
        assert out == raw.astype(np.uint8).tobytes()

    def test_png_predictor_1bit_up(self):
        # bilevel xref-style rows: bpp=1, Up filter across byte rows
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rng = np.random.RandomState(17)
        raw = rng.randint(0, 256, (3, 2)).astype(np.int64)  # 16 1-bit cols
        pred = np.zeros((3, 3), dtype=np.uint8)
        pred[:, 0] = 2  # Up
        pred[0, 1:] = raw[0]
        pred[1:, 1:] = (raw[1:] - raw[:-1]) % 256
        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {
                "Predictor": 12, "Columns": 16, "BitsPerComponent": 1,
            },
        }
        out = _apply_stream_filters(d, zlib.compress(pred.tobytes()))
        assert out == raw.astype(np.uint8).tobytes()

    def test_illegal_predictor_bpc_fails_loudly(self):
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        d = {
            "Filter": "FlateDecode",
            "DecodeParms": {"Predictor": 2, "Columns": 4, "BitsPerComponent": 3},
        }
        with pytest.raises(ValueError, match="BitsPerComponent"):
            _apply_stream_filters(d, zlib.compress(bytes(4)))

    def test_scalar_decodeparms_with_filter_array(self):
        # Malformed per spec 7.4.4.4: array /Filter with a single (non-
        # array) /DecodeParms dict. The predictor must be applied once —
        # to the last predictor-capable stage — not after every stage.
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rows = np.arange(14, dtype=np.uint8).reshape(2, 7)
        pred = np.zeros((2, 8), dtype=np.uint8)
        pred[:, 0] = 1  # Sub filter
        pred[:, 1] = rows[:, 0]
        pred[:, 2:] = rows[:, 1:] - rows[:, :-1]
        import base64

        raw = base64.a85encode(zlib.compress(pred.tobytes())) + b"~>"
        d = {
            "Filter": ["ASCII85Decode", "FlateDecode"],
            "DecodeParms": {"Predictor": 11, "Columns": 7},
        }
        assert _apply_stream_filters(d, raw) == rows.tobytes()
        # no predictor-capable stage at all → loud error, not silent guess
        d2 = {
            "Filter": ["ASCII85Decode", "RunLengthDecode"],
            "DecodeParms": {"Predictor": 11, "Columns": 7},
        }
        with pytest.raises(ValueError, match="predictor-capable"):
            _apply_stream_filters(d2, raw)

    def test_lzw_with_png_predictor_stream(self):
        # LZW + /Predictor 12: the pre-Flate layout old PDF writers used
        from oar_ocr_spark.functions.lzw import lzw_decode
        from oar_ocr_spark.functions.pdf import _apply_stream_filters

        rows = np.arange(21, dtype=np.uint8).reshape(3, 7)
        pred = np.zeros((3, 8), dtype=np.uint8)
        pred[:, 0] = 2  # Up filter
        pred[0, 1:] = rows[0]
        pred[1:, 1:] = rows[1:] - rows[:-1]
        raw = pred.tobytes()
        # test-side LZW encoder (independent bit packing, early change)
        table = {bytes([i]): i for i in range(256)}
        nxt = 258
        width = 9
        codes = [256]
        wbuf = raw[:1]
        for b in raw[1:]:
            t = wbuf + bytes([b])
            if t in table:
                wbuf = t
            else:
                codes.append((table[wbuf], width))
                table[t] = nxt
                nxt += 1
                if nxt + 1 >= (1 << width):
                    width += 1
                wbuf = bytes([b])
        codes.append((table[wbuf], width))
        codes.append((257, width))
        codes[0] = (256, 9)
        acc = nbits = 0
        out = bytearray()
        for c, wdt in codes:
            acc = (acc << wdt) | c
            nbits += wdt
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((acc << (8 - nbits)) & 0xFF)
        d = {
            "Filter": "LZWDecode",
            "DecodeParms": {"Predictor": 12, "Columns": 7},
        }
        assert lzw_decode(bytes(out)).tobytes() == raw
        assert _apply_stream_filters(d, bytes(out)) == rows.tobytes()

    def test_startxref_at_junk_raises(self):
        data = b"%PDF-1.5\njunk\nstartxref\n9\n%%EOF"  # offset 9 -> 'junk'
        with pytest.raises(ValueError, match="neither an xref table nor an object"):
            PdfDocument(data)

    def test_xref_stream_roundtrip(self):
        # PDF 1.5 layout: /ObjStm + Up-predicted /XRef stream, both
        # image formats; deterministic bytes, no classic trailer at all
        refs = ["40_m0", "7_m1"]
        pages = _pages(refs)
        for fmt in ("flate", "jpeg"):
            data = encode_pdf(pages, refs, image_format=fmt, xref_format="stream")
            assert data.startswith(b"%PDF-1.5")
            assert b"/ObjStm" in data and b"/Type /XRef" in data
            assert b"trailer" not in data
            assert encode_pdf(pages, refs, image_format=fmt, xref_format="stream") == data
            assert decode_pdf_refs(data) == refs
            for got, want in zip(decode_pdf(data), pages):
                assert np.abs(got.astype(int) - want.astype(int)).max() <= (
                    0 if fmt == "flate" else 1
                )

    def test_foreign_xref_stream_no_predictor_multi_index(self):
        # hand-built 1.5 fixture exercising paths our writer never
        # emits: no /DecodeParms, /W [1 2 0] (zero-width field 3),
        # TWO /Index subsections
        img = np.full((3, 5), 77, dtype=np.uint8)
        stream = zlib.compress(img.tobytes())
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            4: b"<< /Type /XObject /Subtype /Image /Width 5 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream",
        }
        out = bytearray(b"%PDF-1.5\n")
        offs = {}
        for n in (1, 2, 3, 4):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        # xref stream object 5: Index [0 1] + [1 5] (split subsections)
        rows = bytearray()
        rows += bytes([0, 0, 0])  # obj 0: free (type 0)
        xref_at_placeholder = len(out)
        for n in (1, 2, 3, 4):
            rows += bytes([1]) + struct.pack(">H", offs[n])
        rows += bytes([1]) + struct.pack(">H", xref_at_placeholder)  # obj 5
        packed = zlib.compress(bytes(rows))
        out += (
            b"5 0 obj\n<< /Type /XRef /Size 6 /W [1 2 0] /Index [0 1 1 5]"
            b" /Root 1 0 R /Filter /FlateDecode /Length %d >>\nstream\n" % len(packed)
            + packed
            + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n%d\n%%%%EOF\n" % xref_at_placeholder
        pages = decode_pdf(bytes(out))
        assert (pages[0] == img).all()

    def test_hybrid_free_entry_does_not_mask_xrefstm_object(self):
        # the REAL hybrid layout (7.5.8.4): the classic table marks a
        # hidden object FREE (so legacy readers skip it) while the
        # /XRefStm maps it into an /ObjStm — the stream entry must win
        # over the same revision's free entry
        img = np.full((4, 4), 9, dtype=np.uint8)
        base = encode_pdf([img], ["refA"])
        info_num = 6  # /Info dict in encode_pdf numbering
        m = re.search(rb"startxref\s+(\d+)", base[-64:])
        orig_xref_pos = int(m.group(1))
        out = bytearray(base)
        # ObjStm (object 7) holding the REPLACEMENT /Info dict
        body = b"<< /Title (refB) >>"
        header = b"%d %d" % (info_num, 0)
        first = len(header) + 1
        stm = zlib.compress(header + b"\n" + body)
        objstm_at = len(out)
        out += (
            b"7 0 obj\n<< /Type /ObjStm /N 1 /First %d /Filter /FlateDecode"
            b" /Length %d >>\nstream\n" % (first, len(stm))
            + stm
            + b"\nendstream\nendobj\n"
        )
        # xref STREAM (object 8): info_num -> type-2 (objstm 7, idx 0)
        rows = (
            bytes([2]) + struct.pack(">IH", 7, 0)
            + bytes([1]) + struct.pack(">IH", objstm_at, 0)
        )
        xrefstm_at = len(out)
        packed = zlib.compress(rows)
        out += (
            b"8 0 obj\n<< /Type /XRef /Size 9 /W [1 4 2] /Index [%d 1 7 1]"
            b" /Root 1 0 R /Filter /FlateDecode /Length %d >>\nstream\n"
            % (info_num, len(packed))
            + packed
            + b"\nendstream\nendobj\n"
        )
        # classic update: info_num marked FREE + /XRefStm pointer
        xref_at = len(out)
        out += b"xref\n%d 1\n0000000000 00001 f \n" % info_num
        out += (
            b"trailer\n<< /Size 9 /Root 1 0 R /Info %d 0 R /XRefStm %d"
            b" /Prev %d >>\nstartxref\n%d\n%%%%EOF\n"
            % (info_num, xrefstm_at, orig_xref_pos, xref_at)
        )
        assert decode_pdf_refs(bytes(out)) == ["refB"]  # stream entry wins
        assert decode_pdf_refs(base) == ["refA"]

    def test_objstm_with_indirect_decodeparms_and_predictor(self):
        # /DecodeParms may be an indirect ref anywhere except the xref
        # stream itself — an ObjStm with '/DecodeParms 5 0 R' and
        # Predictor 12 must resolve the ref and unfilter
        img = np.full((3, 4), 50, dtype=np.uint8)
        stream = zlib.compress(img.tobytes())
        page_body = (
            b"<< /Type /Page /Parent 2 0 R "
            b"/Resources << /XObject << /Im0 4 0 R >> >> >>"
        )
        header = b"3 0"
        first = len(header) + 1
        content = header + b"\n" + page_body
        cols = 16
        pad = (-len(content)) % cols
        content += b" " * pad  # trailing whitespace is harmless PDF syntax
        mat = np.frombuffer(content, dtype=np.uint8).reshape(-1, cols)
        pred = np.zeros((mat.shape[0], cols + 1), dtype=np.uint8)
        pred[:, 0] = 2  # Up filter
        pred[0, 1:] = mat[0]
        pred[1:, 1:] = mat[1:] - mat[:-1]
        packed_stm = zlib.compress(pred.tobytes())
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            4: b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream",
            5: b"<< /Predictor 12 /Columns %d >>" % cols,
            6: b"<< /Type /ObjStm /N 1 /First %d /Filter /FlateDecode"
            b" /DecodeParms 5 0 R /Length %d >>\nstream\n"
            % (first, len(packed_stm))
            + packed_stm
            + b"\nendstream",
        }
        out = bytearray(b"%PDF-1.5\n")
        offs = {}
        for n in (1, 2, 4, 5, 6):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        rows = bytearray(bytes([0, 0, 0, 0, 0, 0]))  # obj 0 free
        for n in range(1, 8):
            if n == 3:
                rows += bytes([2]) + struct.pack(">IB", 6, 0)
            elif n == 7:
                rows += bytes([1]) + struct.pack(">IB", 0, 0)  # patched below
            else:
                rows += bytes([1]) + struct.pack(">IB", offs[n], 0)
        xref_at = len(out)
        rows[7 * 6 + 1 : 7 * 6 + 5] = struct.pack(">I", xref_at)
        packed = zlib.compress(bytes(rows))
        out += (
            b"7 0 obj\n<< /Type /XRef /Size 8 /W [1 4 1] /Root 1 0 R"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(packed)
            + packed
            + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n%d\n%%%%EOF\n" % xref_at
        pages = decode_pdf(bytes(out))
        assert (pages[0] == img).all()

    def test_hybrid_xrefstm_update(self):
        # hybrid-reference incremental update: a classic trailer with
        # /XRefStm whose stream maps a REPLACEMENT image object — old
        # readers see the old xref, new readers the updated object
        old_img = np.full((4, 4), 9, dtype=np.uint8)
        new_img = np.full((4, 4), 123, dtype=np.uint8)
        base = encode_pdf([old_img])
        img_num = 3
        stream = zlib.compress(new_img.tobytes())
        body = (
            b"%d 0 obj\n" % img_num
            + b"<< /Type /XObject /Subtype /Image /Width 4 /Height 4"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream
            + b"\nendstream\nendobj\n"
        )
        m = re.search(rb"startxref\s+(\d+)", base[-64:])
        orig_xref_pos = int(m.group(1))
        out = bytearray(base)
        obj_at = len(out)
        out += body
        # xref STREAM (object 6) mapping img_num -> the new offset
        rows = bytes([1]) + struct.pack(">I", obj_at)
        xrefstm_at = len(out)
        packed = zlib.compress(rows)
        out += (
            b"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 0] /Index [%d 1]"
            b" /Root 1 0 R /Filter /FlateDecode /Length %d >>\nstream\n"
            % (img_num, len(packed))
            + packed
            + b"\nendstream\nendobj\n"
        )
        # classic update trailer: no subsections, /XRefStm + /Prev
        xref_at = len(out)
        out += b"xref\n"
        out += (
            b"trailer\n<< /Size 7 /Root 1 0 R /XRefStm %d /Prev %d >>"
            b"\nstartxref\n%d\n%%%%EOF\n" % (xrefstm_at, orig_xref_pos, xref_at)
        )
        pages = decode_pdf(bytes(out))
        assert (pages[0] == new_img).all()  # stream entry shadows /Prev
        assert (decode_pdf(base)[0] == old_img).all()

    def test_not_a_pdf(self):
        with pytest.raises(ValueError):
            PdfDocument(b"GIF89a...")


class TestEncryptedPdfs:
    """Standard security handler (§7.6): empty-user-password RC4/AES
    files decode; everything else fails with the declared loud
    NotImplementedError, never an opaque zlib error mid-stream."""

    def _pages(self):
        rng = np.random.RandomState(7)
        return [
            rng.randint(0, 256, (12, 9)).astype(np.uint8),
            rng.randint(0, 256, (8, 15)).astype(np.uint8),
        ]

    @pytest.mark.parametrize("variant", ["rc4-40", "rc4-128", "aes-128", "aes-256"])
    @pytest.mark.parametrize("xref_format", ["classic", "stream"])
    def test_empty_password_roundtrip(self, variant, xref_format):
        pages = self._pages()
        refs = ["ref:a", "ref:b"]
        data = encode_pdf(pages, refs, xref_format=xref_format, encrypt=variant)
        out = decode_pdf(data)
        assert len(out) == 2
        assert all((a == b).all() for a, b in zip(out, pages))
        # /Info /Title string decryption (individually in classic,
        # via the ObjStm stream in the 1.5 layout)
        assert decode_pdf_refs(data) == refs

    def test_encrypted_dctdecode_page(self):
        # DCTDecode raw bytes are decrypted before the JPEG codec sees them
        pages = self._pages()
        data = encode_pdf(pages, image_format="jpeg", quality=100, encrypt="aes-128")
        out = decode_pdf(data)
        assert out[0].shape == pages[0].shape

    def test_nonempty_user_password_guard(self):
        # corrupting /U makes the empty-password check fail — the
        # declared "password-protected" guard, before any stream decode
        data = bytearray(encode_pdf(self._pages(), encrypt="rc4-128"))
        at = data.index(b"/U <") + 4
        data[at : at + 2] = b"00" if data[at : at + 2] != b"00" else b"ff"
        with pytest.raises(NotImplementedError, match="password-protected"):
            PdfDocument(bytes(data))

    def test_aes256_wrong_password_guard(self):
        # corrupting the /U verification hash fails the empty-password
        # check for user AND owner (the owner hash binds the full /U) —
        # the declared "password-protected" guard, before stream decode
        data = bytearray(encode_pdf(self._pages(), encrypt="aes-256"))
        at = data.index(b"/U <") + 4
        data[at : at + 2] = b"00" if data[at : at + 2] != b"00" else b"ff"
        with pytest.raises(NotImplementedError, match="password-protected"):
            PdfDocument(bytes(data))

    def test_aes256_owner_password_fallback(self):
        # algorithm 9: a file whose USER password is non-empty still
        # opens when the OWNER password is empty (and vice versa)
        from oar_ocr_spark.functions import pdf_crypt

        fk = bytes(range(32))
        for r in (5, 6):
            u, ue, o, oe, _ = pdf_crypt.make_v5_entries(
                fk, -44, r=r, user_pw=b"secret", owner_pw=b"", seed=b"t"
            )
            assert pdf_crypt.authenticate_v5(b"", r, u, ue, o, oe) == fk  # owner
            assert pdf_crypt.authenticate_v5(b"secret", r, u, ue) == fk  # user
            assert pdf_crypt.authenticate_v5(b"nope", r, u, ue, o, oe) is None

    def test_aes256_perms_tamper_fails_loudly(self):
        # algorithm 13: the decrypted /Perms must carry the 'adb'
        # sentinel — tampering is detected at parse time
        data = encode_pdf(self._pages(), encrypt="aes-256")
        at = data.index(b"/Perms <") + 8
        bad = bytearray(data)
        bad[at : at + 2] = b"00" if data[at : at + 2] != b"00" else b"ff"
        with pytest.raises(ValueError, match="Perms"):
            PdfDocument(bytes(bad))

    def test_v5_primitives(self):
        from oar_ocr_spark.functions.pdf_crypt import (
            _cbc_encrypt_chain_128,
            aes_cbc_decrypt_raw,
            aes_cbc_encrypt_raw,
            hash_2b,
        )

        key, iv = bytes(range(32)), bytes(range(16))
        data = bytes(range(48))
        assert aes_cbc_decrypt_raw(key, iv, aes_cbc_encrypt_raw(key, iv, data)) == data
        # the T-table fast chain (hash-2B hot path) equals the numpy core
        assert _cbc_encrypt_chain_128(key[:16], iv, data) == aes_cbc_encrypt_raw(
            key[:16], iv, data
        )
        # hash_2b: deterministic, password/salt/udata-sensitive, 32 bytes
        h = hash_2b(b"", b"salt8byt")
        assert len(h) == 32 and h == hash_2b(b"", b"salt8byt")
        assert h != hash_2b(b"x", b"salt8byt")
        assert hash_2b(b"x", b"salt8byt") != hash_2b(b"x", b"salt8byt", b"u")

    def test_foreign_security_handler_guard(self):
        data = encode_pdf(self._pages(), encrypt="rc4-128")
        data = data.replace(b"/Filter /Standard", b"/Filter /FooSec85")
        with pytest.raises(NotImplementedError, match="FooSec85"):
            PdfDocument(data)

    def test_unknown_crypt_filter_method_guard(self):
        data = encode_pdf(self._pages(), encrypt="aes-128")
        data = data.replace(b"/CFM /AESV2", b"/CFM /AESV3")
        with pytest.raises(NotImplementedError, match="AESV3"):
            PdfDocument(data)

    def test_wrong_aes_padding_fails_loudly(self):
        from oar_ocr_spark.functions.pdf_crypt import aes_cbc_decrypt

        with pytest.raises(ValueError, match="padding invalid"):
            aes_cbc_decrypt(b"k" * 16, b"\x00" * 48)
        with pytest.raises(ValueError, match="whole number of blocks"):
            aes_cbc_decrypt(b"k" * 16, b"\x00" * 20)

    def test_primitive_public_vectors(self):
        from oar_ocr_spark.functions.pdf_crypt import (
            aes_ecb_decrypt_block,
            aes_ecb_encrypt_block,
            rc4,
        )

        # FIPS-197 appendix C.1
        key = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
        pt = bytes.fromhex("00112233445566778899aabbccddeeff")
        assert aes_ecb_encrypt_block(key, pt).hex() == "69c4e0d86a7b0430d8cdb78070b4c55a"
        # FIPS-197 appendix C.3 (AES-256)
        key256 = bytes.fromhex(
            "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
        )
        ct = aes_ecb_encrypt_block(key256, pt)
        assert ct.hex() == "8ea2b7ca516745bfeafc49904b496089"
        assert aes_ecb_decrypt_block(key256, ct) == pt
        # the classic RC4 vector
        assert rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
        # RC4 is an involution with a fixed key
        assert rc4(b"Key", rc4(b"Key", b"round trip")) == b"round trip"


class TestSparkUnpack:
    def test_pdf_path_spans_equal_renderer_path(self, spark):
        docs_raw = generate_documents(12, seed=9)
        rows = [
            (d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs_raw
        ]
        docs = spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)

        pdfs = pdf_store_df(docs)
        got_pdfs = {r["pdf_ref"]: r for r in pdfs.collect()}
        for d in docs_raw:
            n_media = sum(
                1 for s in d["spans"] if s["kind"] == "media" and s["media_ref"]
            )
            if n_media:
                assert got_pdfs[d["doc_id"]]["n_pages"] == n_media
            else:
                assert d["doc_id"] not in got_pdfs

        store = pdf_media_store_df(pdfs)
        # page store holds real PNG of the exact rendered page
        sample = store.limit(3).collect()
        for r in sample:
            assert (decode_png(bytes(r["payload"])) == render_page(r["media_ref"])).all()

        via_pdf = extract_spans(spark, docs, media_store=store)
        direct = extract_spans(spark, docs)
        a = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in via_pdf.collect()}
        b = {r["doc_id"]: [tuple(s) for s in r["spans"]] for r in direct.collect()}
        assert a == b

    def test_unpack_handles_xref_stream_containers(self, spark):
        # a PDF 1.5 container (ObjStm + xref stream) must unpack to the
        # identical page store through the distributed path
        refs = ["40_m0", "7_m1"]
        data = encode_pdf(_pages(refs), refs, xref_format="stream")
        pdfs = spark.createDataFrame(
            [("p15", bytearray(data))], "pdf_ref string, payload binary"
        )
        rows = {r["media_ref"]: r for r in pdf_media_store_df(pdfs).collect()}
        assert sorted(rows) == sorted(refs)
        for ref in refs:
            assert (decode_png(bytes(rows[ref]["payload"])) == render_page(ref)).all()

    def test_unpack_falls_back_to_positional_refs(self, spark):
        data = encode_pdf(_pages(["40_m0", "40_m1"]))  # no embedded refs
        pdfs = spark.createDataFrame([("p1", bytearray(data))], "pdf_ref string, payload binary")
        refs = [r["media_ref"] for r in pdf_media_store_df(pdfs).collect()]
        assert refs == ["p1#page0", "p1#page1"]


def _mini_pdf(image_dict: bytes, stream: bytes, extra_objs=()) -> bytes:
    """Minimal single-image classic-xref PDF around a hand-built image
    XObject dict — the foreign-layout fixture pattern, for image
    flavors our writer never emits."""
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R "
        b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
        4: image_dict + b" /Length %d >>\nstream\n" % len(stream)
        + stream + b"\nendstream",
    }
    for i, body in enumerate(extra_objs, start=5):
        bodies[i] = body
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(bodies):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
    xref_at = len(out)
    n = max(bodies) + 1
    out += b"xref\n0 %d\n" % n + b"0000000000 65535 f \n"
    for k in sorted(bodies):
        out += b"%010d 00000 n \n" % offs[k]
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (n, xref_at)
    )
    return bytes(out)


def _pack_subbyte(arr: np.ndarray, bpc: int) -> bytes:
    """Row-aligned big-endian packing of sub-byte samples (8.9.3)."""
    rows = []
    for r in arr:
        bits = np.unpackbits(r.astype(np.uint8).reshape(-1, 1), axis=1)[
            :, 8 - bpc :
        ].flatten()
        rows.append(np.packbits(bits).tobytes())
    return b"".join(rows)


class TestImageColorSpacesAndDepths:
    """Foreign image XObject flavors: sub-byte and 16-bit sample
    depths, /Indexed palettes, /ICCBased and /Cal* spaces resolved to
    their device families, /ImageMask stencils, /Decode remaps, and
    raw /DeviceCMYK samples — the layouts real (non-scanner) PDF
    writers emit."""

    def test_subbyte_gray_depths(self):
        for bpc in (1, 2, 4):
            maxv = (1 << bpc) - 1
            img = (np.arange(33).reshape(3, 11) % (maxv + 1)).astype(np.uint8)
            pdf = _mini_pdf(
                b"<< /Type /XObject /Subtype /Image /Width 11 /Height 3"
                b" /ColorSpace /DeviceGray /BitsPerComponent %d" % bpc,
                _pack_subbyte(img, bpc),
            )
            got = decode_pdf(pdf)[0]
            want = np.round(img / maxv * 255).astype(np.uint8)
            assert np.array_equal(got, want), bpc

    def test_16bit_gray_projects_to_top_byte_range(self):
        img16 = (np.arange(12).reshape(3, 4) * 5000).astype(">u2")
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 16",
            img16.tobytes(),
        )
        want = np.round(img16.astype(np.float64) / 65535 * 255).astype(np.uint8)
        assert np.array_equal(decode_pdf(pdf)[0], want)

    def test_decode_array_inverts_gray(self):
        img = (np.arange(15).reshape(3, 5) % 16).astype(np.uint8)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 5 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 4 /Decode [1 0]",
            _pack_subbyte(img, 4),
        )
        want = np.round((1 - img / 15.0) * 255).astype(np.uint8)
        assert np.array_equal(decode_pdf(pdf)[0], want)

    def test_indexed_palette_rgb(self):
        pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
        idx = np.array([[0, 1, 2, 3, 0], [3, 2, 1, 0, 1]], dtype=np.uint8)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 5 /Height 2"
            b" /ColorSpace [/Indexed /DeviceRGB 3 <"
            + pal.hex().encode() + b">] /BitsPerComponent 2",
            _pack_subbyte(idx, 2),
        )
        want = np.frombuffer(pal, np.uint8).reshape(4, 3)[idx]
        assert np.array_equal(decode_pdf(pdf)[0], want)

    def test_indexed_lookup_stream_and_clamping(self):
        # lookup as a Flate stream object; an out-of-range index
        # clamps to hival (8.9.6.3)
        pal = bytes([0, 100, 200])
        packed = zlib.compress(pal)
        extra = (
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(packed)
            + packed + b"\nendstream",
        )
        idx = np.array([[0, 1, 2, 3]], dtype=np.uint8)  # 3 > hival=2
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace [/Indexed /DeviceGray 2 5 0 R]"
            b" /BitsPerComponent 8",
            idx.tobytes(),
            extra,
        )
        assert np.array_equal(
            decode_pdf(pdf)[0], np.array([[0, 100, 200, 200]], np.uint8)
        )

    def test_iccbased_resolves_by_component_count(self):
        icc = zlib.compress(b"\x00" * 16)
        extra = (
            b"<< /N 3 /Filter /FlateDecode /Length %d >>\nstream\n" % len(icc)
            + icc + b"\nendstream",
        )
        rgb = np.arange(36, dtype=np.uint8).reshape(3, 4, 3)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 3"
            b" /ColorSpace [/ICCBased 5 0 R] /BitsPerComponent 8",
            rgb.tobytes(),
            extra,
        )
        assert np.array_equal(decode_pdf(pdf)[0], rgb)

    def test_calrgb_maps_to_device_twin(self):
        rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 2"
            b" /ColorSpace [/CalRGB << /WhitePoint [1 1 1] >>]"
            b" /BitsPerComponent 8",
            rgb.tobytes(),
        )
        assert np.array_equal(decode_pdf(pdf)[0], rgb)

    def test_imagemask_stencil(self):
        img1 = (np.arange(30).reshape(3, 10) % 2).astype(np.uint8)
        packed = np.packbits(img1, axis=1).tobytes()
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 10 /Height 3"
            b" /ImageMask true",
            packed,
        )
        assert np.array_equal(decode_pdf(pdf)[0], img1 * 255)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 10 /Height 3"
            b" /ImageMask true /Decode [1 0]",
            packed,
        )
        assert np.array_equal(decode_pdf(pdf)[0], (1 - img1) * 255)

    def test_devicecmyk_true_ink_model(self):
        cmyk = np.zeros((2, 2, 4), dtype=np.uint8)
        cmyk[..., 3] = [[0, 255], [128, 0]]
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
            b" /ColorSpace /DeviceCMYK /BitsPerComponent 8",
            cmyk.tobytes(),
        )
        got = decode_pdf(pdf)[0]
        # K=0 -> white, K=255 -> black (true, non-inverted samples)
        assert got[0, 0].tolist() == [255, 255, 255]
        assert got[0, 1].tolist() == [0, 0, 0]

    def test_guards(self):
        img = np.zeros((2, 2), dtype=np.uint8)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
            b" /ColorSpace /Separation /BitsPerComponent 8",
            img.tobytes(),
        )
        with pytest.raises(NotImplementedError, match="Separation"):
            decode_pdf(pdf)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 2 /Height 2"
            b" /ColorSpace /DeviceGray /BitsPerComponent 3",
            img.tobytes(),
        )
        with pytest.raises(NotImplementedError, match="depth 3"):
            decode_pdf(pdf)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 9 /Height 9"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8",
            img.tobytes(),
        )
        with pytest.raises(ValueError, match="truncated"):
            decode_pdf(pdf)


def _inline_pdf(content: bytes) -> bytes:
    """Minimal PDF whose only image is INLINE in the content stream."""
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
        4: b"<< /Length %d >>\nstream\n" % len(content)
        + content + b"\nendstream",
    }
    out = bytearray(b"%PDF-1.4\n")
    offs = {}
    for n in sorted(bodies):
        offs[n] = len(out)
        out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 5\n" + b"0000000000 65535 f \n"
    for k in sorted(bodies):
        out += b"%010d 00000 n \n" % offs[k]
    out += (
        b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % xref_at
    )
    return bytes(out)


class TestInlineImages:
    """Inline images (BI .. ID .. EI, 8.9.7): abbreviated keys/names,
    raw and filtered data, decoded through the same dict seam as
    image XObjects when the page has no XObject."""

    def test_raw_gray_with_operators_around(self):
        img = (np.arange(24).reshape(4, 6) * 10).astype(np.uint8)
        content = (
            b"q 6 0 0 4 0 0 cm BI /W 6 /H 4 /BPC 8 /CS /G ID "
            + img.tobytes() + b" EI Q"
        )
        assert np.array_equal(decode_pdf(_inline_pdf(content))[0], img)

    def test_flate_rgb_abbreviated_filter(self):
        rgb = np.arange(72, dtype=np.uint8).reshape(4, 6, 3)
        content = (
            b"BI /W 6 /H 4 /BPC 8 /CS /RGB /F /Fl ID "
            + zlib.compress(rgb.tobytes()) + b" EI"
        )
        assert np.array_equal(decode_pdf(_inline_pdf(content))[0], rgb)

    def test_asciihex_imagemask(self):
        bits = (np.arange(24).reshape(4, 6) % 2).astype(np.uint8)
        hexed = np.packbits(bits, axis=1).tobytes().hex().encode() + b">"
        content = b"BI /IM true /W 6 /H 4 /F [/AHx] ID " + hexed + b" EI"
        assert np.array_equal(
            decode_pdf(_inline_pdf(content))[0], bits * 255
        )

    def test_indexed_abbreviation_in_colorspace_array(self):
        # /I is Indexed inside a color space but Interpolate as a key
        pal = bytes([255, 0, 0, 0, 255, 0])
        idx = np.array([[0, 1, 1, 0, 1, 0]], dtype=np.uint8)
        content = (
            b"BI /I false /W 6 /H 1 /BPC 8 /CS [/I /RGB 1 <"
            + pal.hex().encode() + b">] ID " + idx.tobytes() + b" EI"
        )
        want = np.frombuffer(pal, np.uint8).reshape(2, 3)[idx[0]][None]
        assert np.array_equal(decode_pdf(_inline_pdf(content))[0], want)

    def test_ei_bytes_inside_filtered_data(self):
        # compressed payloads may contain the EI byte pair: every
        # whitespace-delimited candidate is tried until one decodes
        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (20, 30)).astype(np.uint8)
        img.reshape(-1)[100:104] = [0x20, 0x45, 0x49, 0x20]  # " EI "
        z = zlib.compress(img.tobytes(), 0)  # stored: raw bytes inside
        assert b" EI " in z  # a false candidate exists mid-stream
        content = b"BI /W 30 /H 20 /BPC 8 /CS /G /F /Fl ID " + z + b" EI"
        assert np.array_equal(decode_pdf(_inline_pdf(content))[0], img)

    def test_xobject_wins_over_inline(self):
        # a page with BOTH takes the XObject (the full-bleed scan path)
        imgx = np.full((3, 5), 77, dtype=np.uint8)
        stream = zlib.compress(imgx.tobytes())
        inline = (np.arange(6, dtype=np.uint8) * 7).reshape(2, 3)
        content = b"BI /W 3 /H 2 /BPC 8 /CS /G ID " + inline.tobytes() + b" EI"
        bodies_extra = (
            b"<< /Type /XObject /Subtype /Image /Width 5 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream + b"\nendstream",
            b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream",
        )
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 5 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream + b"\nendstream",
            b"",
        )
        assert np.array_equal(decode_pdf(pdf)[0], imgx)

    def test_no_image_anywhere_still_fails_loudly(self):
        content = b"q 1 0 0 1 0 0 cm BT ET Q"
        with pytest.raises(ValueError, match="no image"):
            decode_pdf(_inline_pdf(content))


class TestRotateAndTextStrings:
    """Page /Rotate (7.7.3.4, inheritable, clockwise-on-display) and
    UTF-16BE/UTF-8 BOM text strings (7.9.2.2) — the scanned-sideways
    and non-ASCII-title layouts."""

    @staticmethod
    def _build(page_extra=b"", pages_extra=b"", info=None):
        img = np.arange(15, dtype=np.uint8).reshape(3, 5)
        stream = zlib.compress(img.tobytes())
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 "
            + pages_extra + b">>",
            3: b"<< /Type /Page /Parent 2 0 R " + page_extra
            + b"/Resources << /XObject << /Im0 4 0 R >> >> >>",
            4: b"<< /Type /XObject /Subtype /Image /Width 5 /Height 3"
            b" /ColorSpace /DeviceGray /BitsPerComponent 8"
            b" /Filter /FlateDecode /Length %d >>\nstream\n" % len(stream)
            + stream + b"\nendstream",
        }
        if info:
            bodies[5] = info
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for n in sorted(bodies):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        xref_at = len(out)
        n = max(bodies) + 1
        out += b"xref\n0 %d\n" % n + b"0000000000 65535 f \n"
        for k in sorted(bodies):
            out += b"%010d 00000 n \n" % offs[k]
        tr = b"<< /Size %d /Root 1 0 R" % n
        if info:
            tr += b" /Info 5 0 R"
        tr += b" >>"
        out += b"trailer\n" + tr + b"\nstartxref\n%d\n%%%%EOF\n" % xref_at
        return bytes(out), img

    def test_rotate_all_quadrants(self):
        for rot, k in ((90, -1), (180, 2), (270, 1), (360, 0), (0, 0)):
            pdf, img = self._build(page_extra=b"/Rotate %d " % rot)
            got = decode_pdf(pdf)[0]
            assert np.array_equal(got, np.rot90(img, k)), rot

    def test_rotate_inherits_and_page_overrides(self):
        pdf, img = self._build(pages_extra=b"/Rotate 270 ")
        assert np.array_equal(decode_pdf(pdf)[0], np.rot90(img, 1))
        pdf, img = self._build(
            page_extra=b"/Rotate 0 ", pages_extra=b"/Rotate 90 "
        )
        assert np.array_equal(decode_pdf(pdf)[0], img)

    def test_rotate_non_multiple_fails_loudly(self):
        pdf, _ = self._build(page_extra=b"/Rotate 45 ")
        with pytest.raises(ValueError, match="multiple of 90"):
            decode_pdf(pdf)

    def test_utf16_and_utf8_titles(self):
        from oar_ocr_spark.functions.pdf import PdfDocument

        title = "naïve—ページ"
        hexs = ("feff" + title.encode("utf-16-be").hex()).encode()
        pdf, _ = self._build(info=b"<< /Title <" + hexs + b"> >>")
        assert PdfDocument(pdf).info_title() == title
        u8 = (b"efbbbf" + title.encode("utf-8").hex().encode())
        pdf, _ = self._build(info=b"<< /Title <" + u8 + b"> >>")
        assert PdfDocument(pdf).info_title() == title
        # plain PDFDocEncoding strings pass through unchanged
        pdf, _ = self._build(info=b"<< /Title (plain) >>")
        assert PdfDocument(pdf).info_title() == "plain"


class TestSeparationTints:
    """Separation / single-colorant DeviceN images (8.6.6): tint
    samples feed a 7.10 transform function into the alternate device
    space — types 2 (exponential), 0 (1-D sampled) and 3 (stitching)
    evaluate; type 4 (PostScript calculator) stays a loud failure."""

    _TINT = bytes([0, 64, 128, 255])

    def _pdf(self, colorspace: bytes, extra_objs=()):
        return _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace " + colorspace + b" /BitsPerComponent 8",
            self._TINT,
            extra_objs,
        )

    def test_exponential_tint_into_rgb(self):
        pdf = self._pdf(
            b"[/Separation /Spot /DeviceRGB << /FunctionType 2"
            b" /Domain [0 1] /C0 [1 1 1] /C1 [1 0 0] /N 1 >>]"
        )
        got = decode_pdf(pdf)[0]
        t = np.frombuffer(self._TINT, np.uint8) / 255.0
        inv = np.round((1 - t) * 255)
        want = np.stack([np.full(4, 255), inv, inv], -1).astype(np.uint8)
        assert np.array_equal(got[0], want)

    def test_sampled_tint_stream(self):
        samples = bytes([255, 128, 0])
        extra = (
            b"<< /FunctionType 0 /Domain [0 1] /Range [0 1] /Size [3]"
            b" /BitsPerSample 8 /Length %d >>\nstream\n" % len(samples)
            + samples + b"\nendstream",
        )
        pdf = self._pdf(
            b"[/Separation /Ink /DeviceGray 5 0 R]", extra
        )
        got = decode_pdf(pdf)[0]
        t = np.frombuffer(self._TINT, np.uint8) / 255.0
        want = np.round(
            np.interp(t * 2, [0, 1, 2], [1.0, 128 / 255, 0.0]) * 255
        ).astype(np.uint8)
        assert np.array_equal(got[0], want)

    def test_stitching_tint(self):
        pdf = self._pdf(
            b"[/Separation /S /DeviceGray"
            b" << /FunctionType 3 /Domain [0 1] /Bounds [0.5]"
            b" /Encode [0 1 0 1] /Functions ["
            b" << /FunctionType 2 /Domain [0 1] /C0 [1] /C1 [0.5] /N 1 >>"
            b" << /FunctionType 2 /Domain [0 1] /C0 [0.5] /C1 [0] /N 1 >>"
            b" ] >>]"
        )
        assert decode_pdf(pdf)[0][0].tolist() == [255, 191, 127, 0]

    def test_single_colorant_devicen(self):
        pdf = self._pdf(
            b"[/DeviceN [/Ink] /DeviceGray << /FunctionType 2"
            b" /Domain [0 1] /C0 [1] /C1 [0] /N 1 >>]"
        )
        got = decode_pdf(pdf)[0]
        want = 255 - np.frombuffer(self._TINT, np.uint8)
        assert np.array_equal(got[0], want)

    def test_guards(self):
        # type-4 must be a stream; type-2 is one-input by definition
        with pytest.raises(ValueError, match="without a stream"):
            decode_pdf(self._pdf(
                b"[/Separation /S /DeviceGray << /FunctionType 4"
                b" /Domain [0 1] /Range [0 1] >>]"
            ))
        with pytest.raises(ValueError, match="one input"):
            decode_pdf(_mini_pdf(
                b"<< /Type /XObject /Subtype /Image /Width 2 /Height 1"
                b" /ColorSpace [/DeviceN [/A /B] /DeviceGray"
                b" << /FunctionType 2 /Domain [0 1 0 1] /C0 [1] /C1 [0]"
                b" /N 1 >>] /BitsPerComponent 8",
                self._TINT,
            ))


def _ps_fn(program: bytes, domain: bytes, rng: bytes) -> bytes:
    """A type-4 function object body (stream) for _mini_pdf extras."""
    return (
        b"<< /FunctionType 4 /Domain " + domain + b" /Range " + rng
        + b" /Length %d >>\nstream\n" % len(program)
        + program + b"\nendstream"
    )


class TestCalculatorFunctions:
    """Type-4 (PostScript calculator) tint transforms — PDF 32000
    §7.10.5, evaluated vectorized (functions/pdf_function.py)."""

    _TINT = bytes([0, 64, 128, 255])

    def test_invert_program(self):
        extra = (_ps_fn(b"{ 1 exch sub }", b"[0 1]", b"[0 1]"),)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace [/Separation /Ink /DeviceGray 5 0 R]"
            b" /BitsPerComponent 8",
            self._TINT,
            extra,
        )
        got = decode_pdf(pdf)[0]
        assert got[0].tolist() == [255, 191, 127, 0]

    def test_ifelse_mixed_mask(self):
        # both branches compute 1-t via different operators, so the
        # value-dependent mask exercises the np.where merge exactly
        prog = b"{ dup 0.5 gt { 1 exch sub } { neg 1 add } ifelse }"
        extra = (_ps_fn(prog, b"[0 1]", b"[0 1]"),)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace [/Separation /Ink /DeviceGray 5 0 R]"
            b" /BitsPerComponent 8",
            self._TINT,
            extra,
        )
        assert decode_pdf(pdf)[0][0].tolist() == [255, 191, 127, 0]

    def test_multi_output_rgb(self):
        # t → (1, 1-t, 1-t): a red ramp, exercising dup and roll
        prog = b"{ 1 exch sub dup 1 3 1 roll }"
        extra = (_ps_fn(prog, b"[0 1]", b"[0 1 0 1 0 1]"),)
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace [/Separation /Spot /DeviceRGB 5 0 R]"
            b" /BitsPerComponent 8",
            self._TINT,
            extra,
        )
        got = decode_pdf(pdf)[0]
        inv = [255, 191, 127, 0]
        want = np.stack(
            [np.full(4, 255), np.array(inv), np.array(inv)], -1
        ).astype(np.uint8)
        assert np.array_equal(got[0], want)


class TestMultiColorantDeviceN:
    """DeviceN images with n>1 colorants: per-pixel tuples map through
    an n-input transform, evaluated on UNIQUE tuples only."""

    def _pdf(self, colorspace: bytes, payload: bytes, extra_objs=(), w=4):
        return _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width %d /Height 1"
            b" /ColorSpace " % w + colorspace + b" /BitsPerComponent 8",
            payload,
            extra_objs,
        )

    def test_two_colorant_type4(self):
        # samples (a,b) = ((255-G)/255, G/255); f = (b - a + 1)/2 = G/255
        g = np.array([0, 64, 128, 255], np.uint8)
        payload = np.stack([255 - g, g], -1).tobytes()
        prog = b"{ exch sub 1 add 2 div }"
        extra = (_ps_fn(prog, b"[0 1 0 1]", b"[0 1]"),)
        pdf = self._pdf(
            b"[/DeviceN [/A /B] /DeviceGray 5 0 R]", payload, extra
        )
        assert decode_pdf(pdf)[0][0].tolist() == g.tolist()

    def test_two_colorant_sampled_bilinear(self):
        # 2-D type-0 grid of f(a,b) = (b - a + 1)/2 at the 4 corners;
        # bilinear interpolation reproduces the affine function
        g = np.array([0, 64, 128, 255], np.uint8)
        payload = np.stack([255 - g, g], -1).tobytes()
        # sample order: first input (a) varies fastest →
        # (a,b) = (0,0),(1,0),(0,1),(1,1) → f = .5, 0, 1, .5
        samples = bytes([128, 0, 255, 128])
        extra = (
            b"<< /FunctionType 0 /Domain [0 1 0 1] /Range [0 1]"
            b" /Size [2 2] /BitsPerSample 8 /Length %d >>\nstream\n"
            % len(samples) + samples + b"\nendstream",
        )
        pdf = self._pdf(
            b"[/DeviceN [/A /B] /DeviceGray 5 0 R]", payload, extra
        )
        got = decode_pdf(pdf)[0][0]
        # corners are exact; interior points go through the 128/255
        # quantized corner value, so allow the 1-count quantization
        want = np.round(
            (g / 255.0 - (255 - g) / 255.0 + 1) / 2 * 255
        ).astype(int)
        assert np.abs(got.astype(int) - want).max() <= 1

    def test_three_colorant_into_rgb(self):
        # identity-ish: (r,g,b) tints → RGB via { } (3 in, 3 out)
        rgb = np.arange(12, dtype=np.uint8).reshape(4, 3) * 20
        extra = (_ps_fn(b"{ }", b"[0 1 0 1 0 1]", b"[0 1 0 1 0 1]"),)
        pdf = self._pdf(
            b"[/DeviceN [/R /G /B] /DeviceRGB 5 0 R]", rgb.tobytes(), extra
        )
        got = decode_pdf(pdf)[0]
        assert np.array_equal(got[0], rgb)

    def test_indexed_over_separation(self):
        # palette entries are tint codes mapped through the transform
        extra = (_ps_fn(b"{ 1 exch sub }", b"[0 1]", b"[0 1]"),)
        idx = bytes([0, 1, 2, 3])
        pdf = _mini_pdf(
            b"<< /Type /XObject /Subtype /Image /Width 4 /Height 1"
            b" /ColorSpace [/Indexed [/Separation /S /DeviceGray 5 0 R]"
            b" 3 <00558BFF>] /BitsPerComponent 8",
            idx,
            extra,
        )
        got = decode_pdf(pdf)[0]
        want = [255 - 0, 255 - 0x55, 255 - 0x8B, 0]
        assert got[0].tolist() == want


class TestSpotColorEncoderFlavors:
    """encode_pdf's lossless spot-color writer flavors: 'sep' stores
    255-G behind a Separation + type-4 calculator tint, 'devn' stores
    (255-G, G) behind a 2-colorant DeviceN + 2-D sampled tint, 'mix'
    crc32-chooses per page — all EXACT roundtrips, so container
    goldens (pdf_extract) are unchanged when gate-mixed."""

    def test_sep_roundtrip(self):
        refs = ["11_m2", "40_m0"]
        pages = _pages(refs)
        out = decode_pdf(encode_pdf(pages, refs, image_format="sep"))
        for got, want in zip(out, pages):
            assert np.array_equal(got, want)

    def test_devn_roundtrip(self):
        refs = ["7_m1", "23_m0"]
        pages = _pages(refs)
        out = decode_pdf(encode_pdf(pages, refs, image_format="devn"))
        for got, want in zip(out, pages):
            assert np.array_equal(got, want)

    def test_mix_roundtrip_all_flavors_and_layouts(self):
        # enough refs that the crc32 choice hits flate, sep AND devn;
        # exercise both xref layouts and an encrypted variant too
        refs = [f"{i}_m0" for i in range(8)]
        import zlib as _z

        flavors = {
            ("flate", "flate", "sep", "devn")[
                _z.crc32(b"pdf-img-flavor:" + r.encode()) % 4
            ]
            for r in refs
        }
        assert flavors == {"flate", "sep", "devn"}
        pages = _pages(refs)
        for kw in (
            {},
            {"xref_format": "stream"},
            {"encrypt": "aes-128"},
        ):
            out = decode_pdf(encode_pdf(pages, refs, image_format="mix", **kw))
            assert len(out) == len(pages)
            for got, want in zip(out, pages):
                assert np.array_equal(got, want), kw

    def test_mix_without_refs_uses_positional_key(self):
        pages = [np.full((6, 5), v, np.uint8) for v in (0, 90, 200, 255)]
        out = decode_pdf(encode_pdf(pages, image_format="mix"))
        for got, want in zip(out, pages):
            assert np.array_equal(got, want)
