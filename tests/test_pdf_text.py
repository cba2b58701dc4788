"""PDF embedded-text-layer extraction (functions/pdf_text.py) and the
text-page writer flavors (functions/pdf.py encode_pdf with str pages).

The writer/extractor pair is the engine's born-digital seam: real
content-stream text operators in, exact strings out. Reference
handles PDF text via hayro (oar-ocr Cargo.toml:20)."""

import numpy as np
import pytest

from oar_ocr_spark.functions.pdf import PdfDocument, decode_pdf, encode_pdf
from oar_ocr_spark.functions.pdf_text import decode_pdf_text, page_text

COURIER = b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier /Encoding /WinAnsiEncoding >>"


def _text_pdf(content: bytes, font_body: bytes = COURIER, extra_objs=()) -> bytes:
    """Minimal single-page classic-xref PDF around a hand-built content
    stream + font dict — for §9 layouts our writer never emits."""
    bodies = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
        b" /Resources << /Font << /F0 4 0 R >> >> /Contents 5 0 R >>",
        4: font_body,
        5: b"<< /Length %d >>\nstream\n" % len(content) + content + b"\nendstream",
    }
    for i, body in enumerate(extra_objs, start=6):
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


def _extract(content: bytes, **kw) -> str | None:
    doc = PdfDocument(_text_pdf(content, **kw))
    return page_text(doc, doc.pages()[0])


class TestWriterRoundtrips:
    TEXTS = [
        "wcsfc wnztt wsund wvlnj",
        "wqkvo wllfc woxbw wvhqe wtsjb wzlxr wutfj",
        "a",
        "x y",
    ]

    @pytest.mark.parametrize(
        "fmt",
        ["literal", "hex", "tj", "words", "cid", "diff", "type3", "rot",
         "mix"],
    )
    def test_all_flavors(self, fmt):
        data = encode_pdf(
            self.TEXTS, [str(i) for i in range(len(self.TEXTS))],
            text_format=fmt,
        )
        assert decode_pdf_text(data) == self.TEXTS

    def test_long_text_wraps(self):
        # > 65 Courier columns forces the words layout to wrap; every
        # flavor still roundtrips exactly
        long = " ".join(f"word{i:03d}" for i in range(40))
        for fmt in ("literal", "tj", "words", "cid"):
            got = decode_pdf_text(encode_pdf([long], ["0"], text_format=fmt))
            assert got == [long], fmt

    def test_multiple_consecutive_spaces_geometrically(self):
        t = "a  double   triple gap"
        for fmt in ("literal", "hex", "tj", "words", "cid"):
            assert decode_pdf_text(encode_pdf([t], ["r"], text_format=fmt)) == [t], fmt

    def test_special_characters_escape(self):
        t = r"pa(ren)s \back\ slash% percent"
        for fmt in ("literal", "tj", "cid"):
            assert decode_pdf_text(encode_pdf([t], ["r"], text_format=fmt)) == [t], fmt

    def test_unicode_through_cid(self):
        t = "naïve café — Ünïcödé ∑ 日本語"
        assert decode_pdf_text(encode_pdf([t], ["r"], text_format="cid")) == [t]

    def test_cp1252_high_bytes_winansi(self):
        # € (0x80) and — (0x97) live in the cp1252 corner where
        # WinAnsi diverges from latin-1
        t = "pre € post — end"
        assert decode_pdf_text(encode_pdf([t], ["r"], text_format="literal")) == [t]

    @pytest.mark.parametrize("enc", ["rc4-40", "rc4-128", "aes-128", "aes-256"])
    @pytest.mark.parametrize("xf", ["classic", "stream"])
    def test_encrypted_roundtrips(self, enc, xf):
        data = encode_pdf(
            self.TEXTS[:2], ["0", "3"],
            text_format="mix", xref_format=xf, encrypt=enc,
        )
        assert decode_pdf_text(data) == self.TEXTS[:2]

    def test_hybrid_text_and_image_pages(self):
        img = (np.arange(48, dtype=np.uint8).reshape(6, 8) * 5)
        pages = ["hello text page", img, "second text"]
        data = encode_pdf(
            pages, ["t0", "m0", "t1"],
            text_format="mix", image_format="mix",
        )
        got = decode_pdf_text(data)
        assert got == [pages[0], None, pages[2]]
        doc = PdfDocument(data)
        assert np.array_equal(doc.page_image(doc.pages()[1]), img)

    def test_diff_flavor_roundtrips_beyond_cp1252(self):
        # /Differences glyph names (uniXXXX fallback) carry characters
        # the byte encodings cannot; Greek exercises the AGL quirks
        # table (Delta→INCREMENT etc. live on the EXTRACT side only —
        # the writer emits uniXXXX for codepoints without a table name)
        t = "Δαβ mixed ∈ math — café"
        assert decode_pdf_text(encode_pdf([t], ["r"], text_format="diff")) == [t]

    def test_type3_flavor_roundtrips_beyond_cp1252(self):
        t = "Δαβ mixed ∈ math — café"
        assert decode_pdf_text(encode_pdf([t], ["r"], text_format="type3")) == [t]

    def test_diff_and_type3_with_spaces_and_escapes(self):
        t = r"pa(ren)s \back\  double  gap %"
        for fmt in ("diff", "type3"):
            assert decode_pdf_text(
                encode_pdf([t], ["r"], text_format=fmt)
            ) == [t], fmt

    def test_diff_type3_encrypted_stream_xref(self):
        for fmt in ("diff", "type3"):
            data = encode_pdf(
                self.TEXTS, [str(i) for i in range(len(self.TEXTS))],
                text_format=fmt, xref_format="stream", encrypt="aes-128",
            )
            assert decode_pdf_text(data) == self.TEXTS, fmt

    def test_mix_covers_diff_type3_and_rot(self):
        # refs chosen so the crc32 chooser lands on every added flavor
        import zlib

        flavors = {}
        for i in range(128):
            r = f"mixref{i}"
            flavors.setdefault(
                zlib.crc32(b"pdf-text-flavor:" + r.encode()) % 10, r
            )
        assert {6, 7, 8} <= set(flavors), (
            "chooser never picks diff/type3/rot"
        )
        refs = [flavors[6], flavors[7], flavors[8]]
        texts = ["first diff page", "second type3 page", "third rot page"]
        data = encode_pdf(texts, refs, text_format="mix")
        assert decode_pdf_text(data) == texts

    def test_type3_unique_char_capacity_guard(self):
        t = "".join(chr(0x4E00 + i) for i in range(256))
        with pytest.raises(ValueError, match="255 unique"):
            encode_pdf([t], ["r"], text_format="type3")

    def test_words_mode_rejects_untrimmed(self):
        with pytest.raises(ValueError, match="space-trimmed"):
            encode_pdf([" leading"], text_format="words")
        with pytest.raises(ValueError, match="space-trimmed"):
            encode_pdf(["multi\nline"], text_format="words")

    def test_bad_text_format(self):
        with pytest.raises(ValueError, match="text_format"):
            encode_pdf(["x"], text_format="bogus")


class TestStateMachine:
    """Hand-built content streams for §9.4 operators the writer never
    emits."""

    def test_td_sequence_and_leading(self):
        # TD sets leading; T* and ' reuse it
        c = (
            b"BT /F0 12 Tf 72 -14.4 TD (first) Tj"
            b" T* (second) Tj 0 -14.4 Td (third) Tj ET"
        )
        assert _extract(c) == "first second third"

    def test_quote_operators(self):
        c = (
            b"BT /F0 12 Tf 14.4 TL 72 720 Td (one) Tj"
            b" (two) ' 0 0 (three) \" ET"
        )
        assert _extract(c) == "one two three"

    def test_tw_word_spacing_affects_advance(self):
        # Tw stretches the byte-32 advance; geometric inference must
        # honor it: with Tw=7.2 a single encoded space advances 14.4pt
        # but still reads as ONE space (gap is within the stretched
        # space advance)
        c = b"BT /F0 12 Tf 7.2 Tw 72 720 Td (a b) Tj ET"
        assert _extract(c) == "a b"

    def test_tz_horizontal_scaling(self):
        # at Tz 200 every advance doubles; two shows placed by the
        # scaled metrics stay gap-free
        c = (
            b"BT /F0 12 Tf 200 Tz 72 720 Td (ab) Tj ET"
            b" BT /F0 12 Tf 200 Tz 100.8 720 Td (cd) Tj ET"
        )
        assert _extract(c) == "abcd"

    def test_rise_keeps_line_membership(self):
        # small Ts rise (sub/superscript) stays on the same line only
        # if within tolerance; 0.5pt rise -> same line
        c = (
            b"BT /F0 12 Tf 72 720 Td (x) Tj"
            b" 0.5 Ts (2) Tj 0 Ts (y) Tj ET"
        )
        assert _extract(c) == "x2y"

    def test_ctm_translation_via_cm(self):
        c = (
            b"q 1 0 0 1 30 40 cm"
            b" BT /F0 12 Tf 42 680 Td (moved) Tj ET Q"
            b" BT /F0 12 Tf 72 705.6 Td (base) Tj ET"
        )
        # 40+680 = 720 vs 705.6: two lines, cm-translated first
        assert _extract(c) == "moved base"

    def test_tj_kern_below_threshold_no_space(self):
        c = b"BT /F0 12 Tf 72 720 Td [(he) -80 (llo) 80 (world)] TJ ET"
        assert _extract(c) == "helloworld"

    def test_tj_kern_as_wide_as_space_inserts(self):
        # -600 milli-em at 12pt = 7.2pt = exactly one Courier space
        c = b"BT /F0 12 Tf 72 720 Td [(a) -600 (b)] TJ ET"
        assert _extract(c) == "a b"

    def test_multiple_content_chunks(self):
        # /Contents as an ARRAY of streams: chunks join at a token
        # boundary (§7.8.2) — even mid show-op operand list
        c1 = b"BT /F0 12 Tf 72 720 Td (part)"
        c2 = b"Tj (one) Tj ET"
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F0 4 0 R >> >>"
            b" /Contents [5 0 R 6 0 R] >>",
            4: COURIER,
            5: b"<< /Length %d >>\nstream\n" % len(c1) + c1 + b"\nendstream",
            6: b"<< /Length %d >>\nstream\n" % len(c2) + c2 + b"\nendstream",
        }
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for n in sorted(bodies):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        xref_at = len(out)
        nmax = max(bodies) + 1
        out += b"xref\n0 %d\n" % nmax + b"0000000000 65535 f \n"
        for k in sorted(bodies):
            out += b"%010d 00000 n \n" % offs[k]
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (nmax, xref_at)
        )
        doc = PdfDocument(bytes(out))
        assert page_text(doc, doc.pages()[0]) == "partone"

    def test_widths_array_honored(self):
        # /Widths gives 'i' 300 units: two shows placed 3.6pt apart
        # concatenate; placed 7.2pt apart gap = 3.6 = 0.5 space < 0.6
        # threshold -> still no space; 10.8pt -> one space
        wfont = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /FirstChar 105 /LastChar 105 /Widths [300]"
            b" /FontDescriptor << /MissingWidth 600 >> >>"
        )
        c = (
            b"BT /F0 12 Tf 72 720 Td (i) Tj ET"
            b" BT /F0 12 Tf 75.6 720 Td (i) Tj ET"
            b" BT /F0 12 Tf 86.4 720 Td (i) Tj ET"
        )
        assert _extract(c, font_body=wfont) == "ii i"

    def test_comment_in_content_stream(self):
        c = b"BT /F0 12 Tf % a comment\n72 720 Td (ok) Tj ET"
        assert _extract(c) == "ok"

    def test_unknown_operators_ignored(self):
        c = (
            b"0.5 g 1 0 0 RG 2 w 10 10 100 100 re f"
            b" BT /F0 12 Tf 72 720 Td (kept) Tj ET"
        )
        assert _extract(c) == "kept"

    def test_image_only_page_returns_none(self):
        img = np.full((4, 4), 7, np.uint8)
        data = encode_pdf([img])
        doc = PdfDocument(data)
        assert page_text(doc, doc.pages()[0]) is None


class TestCMaps:
    def _cid_pdf(self, content: bytes, cmap: bytes, w_entry: bytes = b"/DW 600") -> bytes:
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /Identity-H /DescendantFonts [6 0 R]"
            b" /ToUnicode 7 0 R >>"
        )
        desc = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /X"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> " + w_entry + b" >>"
        )
        cm = b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
        return _text_pdf(content, font_body=font, extra_objs=(desc, cm))

    def test_bfrange_increment_form(self):
        # <01> <03> <0061>: codes 1..3 -> a..c (the increment layout
        # our writer never emits)
        cmap = (
            b"begincmap 1 beginbfrange <0001> <0003> <0061> endbfrange endcmap"
        )
        c = b"BT /F0 12 Tf 72 720 Td <000100020003> Tj ET"
        pdf = self._cid_pdf(c, cmap)
        doc = PdfDocument(pdf)
        assert page_text(doc, doc.pages()[0]) == "abc"

    def test_w_array_range_form(self):
        # /W [1 3 600]: range form; codes map via bfchar
        cmap = (
            b"begincmap 2 beginbfchar <0001> <0078> <0002> <0079>"
            b" endbfchar endcmap"
        )
        c = b"BT /F0 12 Tf 72 720 Td <00010002> Tj ET"
        pdf = self._cid_pdf(c, cmap, w_entry=b"/W [1 3 600]")
        doc = PdfDocument(pdf)
        assert page_text(doc, doc.pages()[0]) == "xy"

    def test_surrogate_pair_destination(self):
        # a non-BMP destination is two UTF-16 units in one bfchar dst
        cmap = (
            b"begincmap 1 beginbfchar <0001> <D83DDE00> endbfchar endcmap"
        )
        c = b"BT /F0 12 Tf 72 720 Td <0001> Tj ET"
        pdf = self._cid_pdf(c, cmap)
        doc = PdfDocument(pdf)
        assert page_text(doc, doc.pages()[0]) == "\U0001f600"

    def test_code_missing_from_cmap_fails_loudly(self):
        cmap = b"begincmap 1 beginbfchar <0001> <0061> endbfchar endcmap"
        c = b"BT /F0 12 Tf 72 720 Td <0002> Tj ET"
        pdf = self._cid_pdf(c, cmap)
        doc = PdfDocument(pdf)
        with pytest.raises(ValueError, match="ToUnicode"):
            page_text(doc, doc.pages()[0])

    def test_odd_length_cid_string_fails(self):
        cmap = b"begincmap 1 beginbfchar <0001> <0061> endbfchar endcmap"
        c = b"BT /F0 12 Tf 72 720 Td <000102> Tj ET"
        pdf = self._cid_pdf(c, cmap)
        doc = PdfDocument(pdf)
        with pytest.raises(ValueError, match="odd-length"):
            page_text(doc, doc.pages()[0])


class TestDifferencesEncoding:
    """§9.6.6.3 /Differences arrays over the AGL subset
    (functions/glyph_names.py)."""

    def test_remapped_code(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding"
            b" /Differences [65 /zero] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        assert _extract(c, font_body=font) == "0"

    def test_consecutive_names_take_consecutive_codes(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /Differences [65 /one /two 97 /three] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (ABa) Tj ET"
        assert _extract(c, font_body=font) == "123"

    def test_unmapped_codes_fall_through_to_base(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding"
            b" /Differences [161 /Euro] >> >>"
        )
        # 0xA1 remapped to Euro; 'h'/'i' and cp1252 0x92 (’) untouched
        c = b"BT /F0 12 Tf 72 720 Td <68A16992> Tj ET"
        assert _extract(c, font_body=font) == "h€i’"

    def test_high_code_with_name_but_no_base_encoding(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /Differences [200 /emdash] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td <61C862> Tj ET"
        assert _extract(c, font_body=font) == "a—b"

    def test_uni_and_ligature_names(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /Differences [65 /uni0058 66 /f_i] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (AB) Tj ET"
        assert _extract(c, font_body=font) == "Xfi"

    def test_tounicode_wins_over_differences(self):
        cmap = (
            b"beginbfchar\n<41> <0059>\nendbfchar"
        )
        stream = (
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
        )
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /Differences [65 /zero] >>"
            b" /ToUnicode 6 0 R >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        assert _extract(c, font_body=font, extra_objs=(stream,)) == "Y"

    def test_widths_still_keyed_by_code(self):
        # remapped code keeps ITS OWN /Widths entry: code 65 is 1200
        # glyph units (14.4 pt at 12 pt) so the next show 14.4 pt away
        # abuts with no space
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /Differences [65 /plus] >>"
            b" /FirstChar 65 /LastChar 65 /Widths [1200] >>"
        )
        c = (
            b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
            b" BT /F0 12 Tf 86.4 720 Td (A) Tj ET"
        )
        assert _extract(c, font_body=font) == "++"


class TestType3Fonts:
    """Type3 extraction: /FontMatrix-scaled widths + name-driven
    text, glyph procedures never executed."""

    FONT = (
        b"<< /Type /Font /Subtype /Type3"
        b" /FontBBox [0 0 500 600]"
        b" /FontMatrix [0.002 0 0 0.002 0 0]"
        b" /CharProcs << >>"
        b" /FirstChar 32 /Widths [300 300 300]"
        b" /Encoding << /Differences [32 /space /h /i] >> >>"
    )

    def test_basic_show(self):
        c = b"BT /F0 12 Tf 72 720 Td (!\") Tj ET"
        assert _extract(c, font_body=self.FONT) == "hi"

    def test_fontmatrix_scales_widths(self):
        # width 300 glyph units x 0.002 = 0.6 em = 7.2 pt at 12 pt:
        # two shows 7.2 pt apart abut; 14.4 pt apart gap = one space
        c = (
            b"BT /F0 12 Tf 72 720 Td (!) Tj ET"
            b" BT /F0 12 Tf 79.2 720 Td (\") Tj ET"
            b" BT /F0 12 Tf 93.6 720 Td (!) Tj ET"
        )
        assert _extract(c, font_body=self.FONT) == "hi h"

    def test_space_metrics_from_code_32(self):
        # the geometric space reconstruction uses width(32) through
        # the FontMatrix scaling
        c = b"BT /F0 12 Tf 72 720 Td (! !) Tj ET"
        assert _extract(c, font_body=self.FONT) == "h h"

    def test_tounicode_suffices_without_differences(self):
        cmap = b"beginbfchar\n<21> <0041>\nendbfchar"
        stream = (
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
        )
        font = (
            b"<< /Type /Font /Subtype /Type3"
            b" /FontMatrix [0.001 0 0 0.001 0 0]"
            b" /CharProcs << >>"
            b" /FirstChar 33 /Widths [600]"
            b" /ToUnicode 6 0 R >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (!) Tj ET"
        assert _extract(c, font_body=font, extra_objs=(stream,)) == "A"


class TestDeclaredGuards:
    def test_differences_glyph_outside_agl(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding"
            b" /Differences [65 /heart] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        with pytest.raises(NotImplementedError, match="AGL"):
            _extract(c, font_body=font)

    def test_type3_without_fontmatrix(self):
        font = b"<< /Type /Font /Subtype /Type3 /CharProcs << >> >>"
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        with pytest.raises(ValueError, match="FontMatrix"):
            _extract(c, font_body=font)

    def test_type3_skewed_fontmatrix(self):
        font = (
            b"<< /Type /Font /Subtype /Type3 /CharProcs << >>"
            b" /FontMatrix [0.001 0.0002 0 0.001 0 0]"
            b" /FirstChar 65 /Widths [600]"
            b" /Encoding << /Differences [65 /A] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        with pytest.raises(NotImplementedError, match="skewed"):
            _extract(c, font_body=font)

    def test_type3_mirrored_fontmatrix(self):
        font = (
            b"<< /Type /Font /Subtype /Type3 /CharProcs << >>"
            b" /FontMatrix [-0.001 0 0 0.001 0 0]"
            b" /FirstChar 65 /Widths [600]"
            b" /Encoding << /Differences [65 /A] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        with pytest.raises(NotImplementedError, match="mirrored"):
            _extract(c, font_body=font)

    def test_type3_without_names_or_tounicode(self):
        font = (
            b"<< /Type /Font /Subtype /Type3 /CharProcs << >>"
            b" /FontMatrix [0.001 0 0 0.001 0 0]"
            b" /FirstChar 65 /Widths [600] >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        with pytest.raises(ValueError, match="Differences"):
            _extract(c, font_body=font)

    def test_type3_shown_code_without_name(self):
        font = (
            b"<< /Type /Font /Subtype /Type3 /CharProcs << >>"
            b" /FontMatrix [0.001 0 0 0.001 0 0]"
            b" /FirstChar 65 /Widths [600 600]"
            b" /Encoding << /Differences [65 /A] >> >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td (AB) Tj ET"
        with pytest.raises(ValueError, match="no /Differences name"):
            _extract(c, font_body=font)

    def test_identity_v_now_extracts_but_needs_tounicode(self):
        # Identity-V graduated from declared boundary to supported
        # input (TestVerticalCid); without /ToUnicode it still fails
        # loudly like its horizontal twin, and other Type0 encodings
        # (embedded CMap streams) stay guarded.
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /Identity-V /DescendantFonts [6 0 R] >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td <0001> Tj ET"
        with pytest.raises(NotImplementedError, match="ToUnicode"):
            _extract(c, font_body=font, extra_objs=(b"<< >>",))
        font2 = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /90ms-RKSJ-H /DescendantFonts [6 0 R] >>"
        )
        with pytest.raises(NotImplementedError, match="Identity-H/Identity-V"):
            _extract(c, font_body=font2, extra_objs=(b"<< >>",))

    def test_type0_without_tounicode(self):
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /X"
            b" /Encoding /Identity-H /DescendantFonts [6 0 R] >>"
        )
        desc = b"<< /Type /Font /Subtype /CIDFontType2 /DW 600 >>"
        c = b"BT /F0 12 Tf 72 720 Td <0001> Tj ET"
        with pytest.raises(NotImplementedError, match="ToUnicode"):
            _extract(c, font_body=font, extra_objs=(desc,))

    def test_proportional_base14_now_extracts(self):
        # Helvetica/Times without /Widths graduated from declared
        # boundary to built-in Core14 AFM metrics (TestBase14Metrics);
        # unknown faces stay guarded.
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        c = b"BT /F0 12 Tf 72 720 Td (A) Tj ET"
        assert _extract(c, font_body=font) == "A"

    def test_rotated_text_matrix_now_extracts(self):
        # Pure rotations graduated from declared boundary to supported
        # input (TestRotatedText); only shears/mirrors remain guarded.
        c = b"BT /F0 12 Tf 0 1 -1 0 72 720 Tm (A) Tj ET"
        assert _extract(c) == "A"

    def test_high_codes_without_winansi(self):
        font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>"
        c = b"BT /F0 12 Tf 72 720 Td <80> Tj ET"
        with pytest.raises(NotImplementedError, match="codes >= 128"):
            _extract(c, font_body=font)

    def test_show_without_font(self):
        c = b"BT 72 720 Td (A) Tj ET"
        with pytest.raises(ValueError, match="Tf"):
            _extract(c)

    def test_td_outside_bt(self):
        c = b"72 720 Td"
        with pytest.raises(ValueError, match="outside BT"):
            _extract(c)


@pytest.mark.usefixtures("spark")
class TestSparkOperators:
    def test_text_store_roundtrip(self, spark):
        import __spark_entry__ as E

        E._register_views(spark, "/root/testdata/sf0.001")
        docs = E.interleaved_docs_df(spark)
        from oar_ocr_spark.functions.pdf import (
            pdf_text_spans_df,
            pdf_text_store_df,
        )

        got = (
            pdf_text_spans_df(pdf_text_store_df(docs))
            .orderBy("doc_id", "span_offset")
            .collect()
        )
        want = (
            E.derived_spans_df(spark)
            .where("kind = 'text'")
            .orderBy("doc_id", "span_offset")
            .collect()
        )
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert (g["doc_id"], g["span_offset"], g["span_text"]) == (
                w["doc_id"], w["span_offset"], w["span_text"]
            )

    def test_hybrid_unpack_matches_docs(self, spark):
        import __spark_entry__ as E

        E._register_views(spark, "/root/testdata/sf0.001")
        docs = E.interleaved_docs_df(spark).limit(20)
        from oar_ocr_spark.functions.pdf import (
            pdf_hybrid_store_df,
            pdf_hybrid_unpack_df,
        )
        from oar_ocr_spark.fixtures.render import render_page
        from oar_ocr_spark.functions.png import decode_png

        unpacked = pdf_hybrid_unpack_df(pdf_hybrid_store_df(docs)).collect()
        want = {
            (r["doc_id"], s["offset"]): s
            for r in docs.collect()
            for s in r["spans"]
        }
        assert len(unpacked) == len(want)
        for row in unpacked:
            s = want[(row["doc_id"], row["offset"])]
            assert row["kind"] == s["kind"]
            if s["kind"] == "text":
                assert row["text"] == s["text"]
                assert row["payload"] is None
            else:
                assert row["media_ref"] == s["media_ref"]
                img = decode_png(bytes(row["payload"]))
                assert np.array_equal(img, render_page(s["media_ref"]))


class TestStructuralFlavors:
    """crc32-chosen structural layouts of text pages: Flate-compressed
    content streams and Form-XObject indirection (own vs inherited
    /Resources), all exact roundtrips."""

    @staticmethod
    def _find(pred, tag):
        import zlib as _z

        for i in range(5000):
            t = f"w{i:05d} flavor probe {tag}"
            h = _z.crc32(b"pdf-textwrap-flavor:" + t.encode())
            if pred(h):
                return t
        raise AssertionError("no probe text found")

    def test_each_structural_layout_roundtrips(self):
        cases = {
            "form-own": self._find(lambda h: h & 3 == 3 and h & 16, "a"),
            "form-inherited": self._find(
                lambda h: h & 3 == 3 and not h & 16, "b"
            ),
            "compressed": self._find(lambda h: h & 3 != 3 and h & 8, "c"),
            "plain": self._find(lambda h: h & 3 != 3 and not h & 8, "d"),
        }
        for name, t in cases.items():
            for fmt in ("literal", "tj", "words", "cid"):
                got = decode_pdf_text(encode_pdf([t], ["r"], text_format=fmt))
                assert got == [t], (name, fmt)

    def test_form_xobject_bytes_really_present(self):
        # h&8 clear keeps the page content stream uncompressed so the
        # /Fm0 Do invocation is visible in clear bytes
        t = self._find(lambda h: h & 3 == 3 and not h & 8, "e")
        data = encode_pdf([t], ["r"], text_format="literal")
        assert b"/Subtype /Form" in data and b"/Fm0 Do" in data
        assert decode_pdf_text(data) == [t]

    def test_compressed_content_stream_bytes(self):
        t = self._find(lambda h: h & 3 != 3 and h & 8, "f")
        data = encode_pdf([t], ["r"], text_format="literal")
        # the show string must NOT appear in clear in the compressed body
        assert t.split()[0].encode() not in data
        assert decode_pdf_text(data) == [t]

    def test_nested_form_via_handbuilt_stream(self):
        # hand-built: page -> form A (matrix shift) -> text; exercises
        # the recursion's gstate save/restore around Do
        inner = b"BT /F0 12 Tf 42 680 Td (inner) Tj ET"
        form = (
            b"<< /Type /XObject /Subtype /Form /BBox [0 0 612 792]"
            b" /Matrix [1 0 0 1 30 40]"
            b" /Length %d >>\nstream\n" % len(inner) + inner + b"\nendstream"
        )
        content = (
            b"q /Fm0 Do Q BT /F0 12 Tf 72 705.6 Td (outer) Tj ET"
        )
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F0 4 0 R >>"
            b" /XObject << /Fm0 6 0 R >> >> /Contents 5 0 R >>",
            4: COURIER,
            5: b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream",
            6: form,
        }
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for n in sorted(bodies):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        xref_at = len(out)
        nmax = max(bodies) + 1
        out += b"xref\n0 %d\n" % nmax + b"0000000000 65535 f \n"
        for k in sorted(bodies):
            out += b"%010d 00000 n \n" % offs[k]
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (nmax, xref_at)
        )
        doc = PdfDocument(bytes(out))
        # inner lands at (72, 720): line above outer at 705.6
        assert page_text(doc, doc.pages()[0]) == "inner outer"


class TestParagraphLayout:
    """'para' text pages: '\\n'-separated lines through TL / T* / '
    leading."""

    def test_multiline_roundtrip_with_newline_sep(self):
        t = "first line here\nsecond line\nthird one\nfourth"
        data = encode_pdf([t], ["r"], text_format="para")
        assert decode_pdf_text(data, line_sep="\n") == [t]
        # default separator joins with spaces (the pdftotext view)
        assert decode_pdf_text(data) == [t.replace("\n", " ")]

    def test_single_line_exact_under_any_sep(self):
        t = "wcsfc wnztt wsund"
        assert decode_pdf_text(encode_pdf([t], ["r"], text_format="para")) == [t]

    def test_empty_lines_fail_loudly(self):
        with pytest.raises(ValueError, match="empty lines"):
            encode_pdf(["a\n\nb"], text_format="para")

    def test_mix_covers_para(self):
        import zlib

        flavors = {
            ("literal", "hex", "tj", "words", "para", "cid")[
                zlib.crc32(b"pdf-text-flavor:" + str(i).encode()) % 6
            ]
            for i in range(40)
        }
        assert flavors == {"literal", "hex", "tj", "words", "para", "cid"}


class TestAnnotations:
    """Text outside content streams: FreeText notes and Widget text
    fields (the forms layout), per-object encrypted in the classic
    layout and UTF-16BE for non-latin1."""

    ANNOTS = {
        0: [{"subtype": "freetext", "text": "margin note",
             "rect": (10, 10, 100, 40)}],
        1: [{"subtype": "widget", "name": "applicant",
             "text": "Jane Q. Pùblic"},
            {"subtype": "freetext", "text": "日本語 comment"}],
    }

    @pytest.mark.parametrize(
        "kw",
        [{}, {"xref_format": "stream"}, {"encrypt": "aes-128"},
         {"encrypt": "rc4-40"}],
    )
    def test_roundtrip_all_layouts(self, kw):
        from oar_ocr_spark.functions.pdf_text import decode_pdf_annotations

        img = np.full((8, 6), 99, np.uint8)
        data = encode_pdf(
            ["page one text", img], ["0", "m"],
            text_format="mix", annotations=self.ANNOTS, **kw,
        )
        got = decode_pdf_annotations(data)
        assert got[0][0]["subtype"] == "FreeText"
        assert got[0][0]["text"] == "margin note"
        assert got[0][0]["rect"] == [10, 10, 100, 40]
        assert got[1][0]["subtype"] == "Widget"
        assert got[1][0]["name"] == "applicant"
        assert got[1][0]["text"] == "Jane Q. Pùblic"
        assert got[1][1]["text"] == "日本語 comment"
        # content-stream text is unaffected
        assert decode_pdf_text(data)[0] == "page one text"

    def test_non_text_annotations_ignored(self):
        from oar_ocr_spark.functions.pdf_text import decode_pdf_annotations

        # hand-add a /Link annot: carries no text, must be skipped
        content = b"BT /F0 12 Tf 72 720 Td (x) Tj ET"
        link = (
            b"<< /Type /Annot /Subtype /Link /Rect [0 0 10 10]"
            b" /A << /S /URI >> >>"
        )
        pdf = _text_pdf(content, extra_objs=(link,))
        pdf = pdf.replace(
            b"/Contents 5 0 R", b"/Contents 5 0 R /Annots [6 0 R]"
        )
        # rebuild offsets by re-parsing is unnecessary: replace changed
        # lengths, so construct properly instead
        bodies = {
            1: b"<< /Type /Catalog /Pages 2 0 R >>",
            2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            3: b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792]"
            b" /Resources << /Font << /F0 4 0 R >> >>"
            b" /Contents 5 0 R /Annots [6 0 R] >>",
            4: COURIER,
            5: b"<< /Length %d >>\nstream\n" % len(content)
            + content + b"\nendstream",
            6: link,
        }
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for n in sorted(bodies):
            offs[n] = len(out)
            out += b"%d 0 obj\n" % n + bodies[n] + b"\nendobj\n"
        xref_at = len(out)
        nmax = max(bodies) + 1
        out += b"xref\n0 %d\n" % nmax + b"0000000000 65535 f \n"
        for k in sorted(bodies):
            out += b"%010d 00000 n \n" % offs[k]
        out += (
            b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (nmax, xref_at)
        )
        assert decode_pdf_annotations(bytes(out)) == [[]]

    def test_bad_subtype_guard(self):
        with pytest.raises(ValueError, match="subtype"):
            encode_pdf(
                ["x"], annotations={0: [{"subtype": "stamp", "text": "y"}]}
            )


class TestRotatedText:
    """Similarity (rotation × uniform scale) text matrices: landscape
    pages under a rotated CTM, deskewed arbitrary-angle scans, mixed
    orientations, and the declared skew/mirror boundaries."""

    def test_landscape_90ccw_line_order(self):
        c = (
            b"q 0 1 -1 0 612 0 cm BT /F0 12 Tf 72 700 Td"
            b" (first line) Tj 0 -20 Td (second line) Tj ET Q"
        )
        assert _extract(c) == "first line second line"

    def test_rotation_via_tm(self):
        c = (
            b"BT /F0 12 Tf 0 1 -1 0 612 100 Tm (via tm) Tj ET"
        )
        assert _extract(c) == "via tm"

    def test_upside_down_180(self):
        c = (
            b"q -1 0 0 -1 612 792 cm BT /F0 12 Tf 72 700 Td"
            b" (upside) Tj 0 -20 Td (down) Tj ET Q"
        )
        assert _extract(c) == "upside down"

    def test_geometric_space_at_90(self):
        # TJ kern of -600 glyph units = exactly one Courier space
        # advance; the gap must reconstruct geometrically at 90deg
        # just as it does horizontally.
        c = (
            b"q 0 1 -1 0 612 0 cm BT /F0 12 Tf 72 700 Td"
            b" [(AB) -600 (CD)] TJ ET Q"
        )
        assert _extract(c) == "AB CD"

    def test_arbitrary_angle_30deg(self):
        c = (
            b"q 0.866025404 0.5 -0.5 0.866025404 0 0 cm"
            b" BT /F0 12 Tf 72 300 Td (tilt one) Tj"
            b" 0 -20 Td (tilt two) Tj ET Q"
        )
        assert _extract(c) == "tilt one tilt two"

    def test_rotated_scale_spacing(self):
        # Uniform scale 2 at 90deg: advances and space thresholds all
        # scale together, so the same kern still reads as one space.
        c = (
            b"q 0 2 -2 0 612 0 cm BT /F0 12 Tf 36 200 Td"
            b" [(AB) -600 (CD)] TJ ET Q"
        )
        assert _extract(c) == "AB CD"

    def test_mixed_orientation_groups(self):
        # Horizontal body assembles first (angle 0), then the 90deg
        # marginalia group, joined by the line separator.
        c = (
            b"BT /F0 12 Tf 72 700 Td (body text) Tj ET"
            b" q 0 1 -1 0 612 0 cm BT /F0 12 Tf 72 60 Td (margin) Tj ET Q"
        )
        assert _extract(c) == "body text margin"

    def test_horizontal_unchanged(self):
        # The rotated machinery must reduce exactly to the historical
        # horizontal frame (u=x, w=-y): indent + two lines.
        c = (
            b"BT /F0 12 Tf 72 700 Td (alpha beta) Tj"
            b" 14.4 -20 Td (gamma) Tj ET"
        )
        assert _extract(c) == "alpha beta   gamma"

    def test_skewed_matrix_guard(self):
        c = b"q 1 0.2 0 1 0 0 cm BT /F0 12 Tf 72 700 Td (x) Tj ET Q"
        with pytest.raises(NotImplementedError, match="skewed"):
            _extract(c)

    def test_anisotropic_scale_guard(self):
        c = b"q 2 0 0 1 0 0 cm BT /F0 12 Tf 72 700 Td (x) Tj ET Q"
        with pytest.raises(NotImplementedError, match="skewed"):
            _extract(c)

    def test_mirrored_matrix_guard(self):
        c = b"q -1 0 0 1 612 0 cm BT /F0 12 Tf 72 700 Td (x) Tj ET Q"
        with pytest.raises(NotImplementedError, match="mirrored"):
            _extract(c)

    def test_degenerate_matrix_guard(self):
        c = b"q 0 0 0 0 0 0 cm BT /F0 12 Tf 72 700 Td (x) Tj ET Q"
        with pytest.raises(NotImplementedError, match="degenerate"):
            _extract(c)


class TestRotWriterFlavor:
    """text_format='rot': the writer's rotated-page layout — an inner
    crc32-chosen flavor drawn under a rotated CTM (90/270 landscape
    with swapped MediaBox, 180, deskew angle), sometimes split into
    two orientation groups. The extractor twin is the reading-frame
    assembly (TestRotatedText); these pin the WRITER surface the
    pdf_text_store gate mixes in."""

    TEXTS = [
        f"rot sample {i} body with enough words to split {i * 3} tail"
        for i in range(24)
    ] + ["a", "x y", "solo"]

    def test_every_rot_page_roundtrips(self):
        for t in self.TEXTS:
            data = encode_pdf([t], ["0"], text_format="rot")
            assert decode_pdf_text(data) == [t], t

    def test_rotation_variety_reached(self):
        # classic-xref object dicts are plaintext: MediaBox shows the
        # landscape (90/270) vs portrait (180/deskew) split, proving
        # the sub-chooser exercises both page shapes over the set
        boxes = set()
        for t in self.TEXTS:
            data = encode_pdf([t], ["0"], text_format="rot")
            for mb in (b"[0 0 792 612]", b"[0 0 612 792]"):
                if mb in data:
                    boxes.add(mb)
        assert len(boxes) == 2

    def test_split_mixed_orientation_roundtrips(self):
        # at least one page in the set draws two orientation groups
        # (horizontal body + rotated remainder); all still roundtrip
        # exactly through the group-angle assembly. Force one split
        # deterministically by scanning for a double-BT content page.
        import zlib as _z

        found = False
        for t in self.TEXTS:
            rh = _z.crc32(b"pdf-rot-flavor:" + t.encode())
            inner = (
                "literal", "hex", "tj", "words", "para", "cid",
                "diff", "type3",
            )[rh % 8]
            if inner in ("literal", "hex") and (rh >> 5) & 1 and " " in t:
                found = True
                data = encode_pdf([t], ["0"], text_format="rot")
                assert decode_pdf_text(data) == [t], t
        assert found, "no split page in the fixture set — widen TEXTS"

    def test_rot_multipage_encrypted_stream_xref(self):
        pages = self.TEXTS[:4]
        data = encode_pdf(
            pages, [str(i) for i in range(4)],
            text_format="rot", xref_format="stream", encrypt="aes-128",
        )
        assert decode_pdf_text(data) == pages

    def test_rot_beyond_cp1252_refits_to_unicode_flavor(self):
        # unicode outside WinAnsi only fits the cid/cidv/diff/type3
        # inner flavors; the chooser re-deals simple-font draws there,
        # so EVERY such text roundtrips under rotation
        for i in range(24):
            t = f"Δαβ ∈ math {i}"
            data = encode_pdf([t], ["0"], text_format="rot")
            assert decode_pdf_text(data) == [t], t


class TestBase14Metrics:
    """Proportional standard-14 fonts WITHOUT /Widths resolve through
    the built-in Core14 AFM tables (functions/base14.py) — the
    viewer-metrics reliance real born-digital PDFs exercise constantly
    with Helvetica/Arial/Times."""

    HELV = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"

    def test_geometric_space_from_afm_advances(self):
        # "Hello" then "world" as SEPARATE shows, the second placed at
        # exactly the AFM pen position + one space advance — the
        # extractor must reconstruct the single space from geometry
        from oar_ocr_spark.functions.base14 import char_widths

        w = char_widths("Helvetica")
        adv = sum(w[c] for c in "Hello") * 12.0 / 1000.0
        space = w[" "] * 12.0 / 1000.0
        x2 = 72.0 + adv + space
        c = (
            b"BT /F0 12 Tf 72 700 Td (Hello) Tj"
            b" 1 0 0 1 %.4f 700 Tm (world) Tj ET" % x2
        )
        assert _extract(c, font_body=self.HELV) == "Hello world"

    def test_two_space_gap_reconstructs(self):
        from oar_ocr_spark.functions.base14 import char_widths

        w = char_widths("Helvetica")
        adv = sum(w[c] for c in "ab") * 12.0 / 1000.0
        space = w[" "] * 12.0 / 1000.0
        x2 = 72.0 + adv + 2 * space
        c = (
            b"BT /F0 12 Tf 72 700 Td (ab) Tj"
            b" 1 0 0 1 %.4f 700 Tm (cd) Tj ET" % x2
        )
        assert _extract(c, font_body=self.HELV) == "ab  cd"

    @pytest.mark.parametrize(
        "base",
        [b"/Helvetica-Bold", b"/Times-Roman", b"/Times-BoldItalic",
         b"/Arial", b"/TimesNewRomanPS-ItalicMT", b"/ABCDEF+Helvetica"],
    )
    def test_faces_and_aliases_extract(self, base):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont " + base + b" >>"
        )
        c = b"BT /F0 12 Tf 72 700 Td (Standard metrics) Tj ET"
        assert _extract(c, font_body=font) == "Standard metrics"

    def test_accented_latin_resolves_through_nfd_composites(self):
        # Core14 composite glyphs share the base letter's advance, so
        # accented WinAnsi text extracts with eacute's metric = e's
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        )
        c = b"BT /F0 12 Tf 72 700 Td (caf\xe9 re\xe7u ma\xf1ana) Tj ET"
        assert _extract(c, font_body=font) == "café reçu mañana"

    def test_non_decomposable_glyph_is_loud(self):
        # the euro sign has no NFD base inside the ASCII table — still
        # the declared metric boundary
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /WinAnsiEncoding >>"
        )
        c = b"BT /F0 12 Tf 72 700 Td (\x80) Tj ET"
        with pytest.raises(NotImplementedError, match="standard-14 metric"):
            _extract(c, font_body=font)

    def test_unknown_base_font_still_loud(self):
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Wingdings >>"
        )
        c = b"BT /F0 12 Tf 72 700 Td (x) Tj ET"
        with pytest.raises(NotImplementedError, match="base-14 metrics"):
            _extract(c, font_body=font)

    def test_differences_resolve_width_through_agl(self):
        # code 65 remapped to /dollar: text AND metric both follow the
        # mapped glyph, not the raw code
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding << /Type /Encoding /Differences [65 /dollar] >> >>"
        )
        c = b"BT /F0 12 Tf 72 700 Td (A) Tj ET"
        assert _extract(c, font_body=font) == "$"

    def test_writer_proportional_flavor_roundtrips(self):
        # find writer texts whose crc32 font flavor lands on the
        # proportional face and roundtrip them through every layout
        import zlib

        hit = 0
        for i in range(120):
            t = f"viewer metrics body {i} with words {i * 7}"
            if zlib.crc32(b"pdf-font-flavor:" + t.encode()) % 4 != 3:
                continue
            hit += 1
            for fmt in ("literal", "tj", "para", "rot"):
                got = decode_pdf_text(
                    encode_pdf([t], ["0"], text_format=fmt)
                )
                assert got == [t], (fmt, t)
            if hit >= 6:
                break
        assert hit >= 6, "crc never landed on the proportional flavor"

    def test_afm_tables_shape(self):
        from oar_ocr_spark.functions import base14

        for tab in (
            base14._HELVETICA, base14._HELVETICA_BOLD,
            base14._TIMES_ROMAN, base14._TIMES_BOLD,
            base14._TIMES_ITALIC, base14._TIMES_BOLD_ITALIC,
        ):
            assert len(tab) == 95
            assert all(v > 0 for v in tab.values())
        assert base14._HELVETICA[" "] == 278
        assert base14._TIMES_ROMAN[" "] == 250


class TestMutationFuzz:
    """Single-byte corruption over whole written text PDFs must
    surface ONLY the seam's declared failures (ValueError /
    NotImplementedError via codec_guard.loud_decode) or decode to
    some string — never a raw IndexError/TypeError/KeyError from
    inside the parser (the mid-partition-crash class). Deterministic
    crc32-driven mutation positions."""

    def test_bitflips_fail_loudly_or_decode(self):
        import zlib as _z

        for i in range(4):
            t = f"fuzz target {i} body with words enough to vary {i * 11}"
            for fmt in ("rot", "mix", "cidv"):
                base = bytearray(
                    encode_pdf([t], [str(i)], text_format=fmt)
                )
                for j in range(80):
                    h = _z.crc32(b"mut:%d:%s:%d" % (i, fmt.encode(), j))
                    mut = bytearray(base)
                    mut[h % len(base)] ^= 1 << ((h >> 20) & 7)
                    try:
                        decode_pdf_text(bytes(mut))
                    except (ValueError, NotImplementedError):
                        pass
                    from oar_ocr_spark.functions.pdf_text import (
                        decode_pdf_annotations,
                    )

                    try:
                        decode_pdf_annotations(bytes(mut))
                    except (ValueError, NotImplementedError):
                        pass

    def test_truncations_fail_loudly(self):
        data = encode_pdf(
            ["truncation probe body text"], ["0"], text_format="rot"
        )
        for cut in range(16, len(data), max(1, len(data) // 40)):
            try:
                decode_pdf_text(data[:cut])
            except (ValueError, NotImplementedError):
                pass


class TestMacRomanEncoding:
    """/MacRomanEncoding — the other Annex D standard base encoding
    (older Mac-authored PDFs). ASCII codes match WinAnsi; high codes
    decode through python's mac_roman with the Annex D 0xDB=currency
    patch (PDF's table predates Mac OS 8.5's euro swap)."""

    MACFONT = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier"
        b" /Encoding /MacRomanEncoding >>"
    )

    def test_ascii_passthrough(self):
        c = b"BT /F0 12 Tf 72 720 Td (plain ascii) Tj ET"
        assert _extract(c, font_body=self.MACFONT) == "plain ascii"

    def test_high_codes_mac_roman(self):
        # 0x8E = eacute, 0xA5 = bullet, 0xD5 = quoteright in Mac Roman
        c = b"BT /F0 12 Tf 72 720 Td <8EA5D5> Tj ET"
        assert _extract(c, font_body=self.MACFONT) == "é•’"

    def test_annex_d_currency_patch(self):
        # PDF Annex D keeps 0xDB = /currency; python's mac_roman
        # (post-8.5 Apple) would yield the euro sign
        c = b"BT /F0 12 Tf 72 720 Td <DB> Tj ET"
        assert _extract(c, font_body=self.MACFONT) == "¤"

    def test_winansi_undefined_code_now_loud_valueerror(self):
        # 0x81 is undefined in cp1252: the old raw UnicodeDecodeError
        # is now the seam's declared ValueError
        c = b"BT /F0 12 Tf 72 720 Td <81> Tj ET"
        with pytest.raises(ValueError, match="undefined in the font's"):
            _extract(c)

    def test_proportional_font_high_code_is_metric_boundary(self):
        # 0xA5 = bullet in Mac Roman: no NFD base inside the ASCII
        # table, so the metric boundary stays loud (0x8E = eacute now
        # resolves through the composite fallback instead)
        font = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
            b" /Encoding /MacRomanEncoding >>"
        )
        c = b"BT /F0 12 Tf 72 720 Td <A5> Tj ET"
        with pytest.raises(NotImplementedError, match="standard-14 metric"):
            _extract(c, font_body=font)
        c2 = b"BT /F0 12 Tf 72 720 Td <8E> Tj ET"
        assert _extract(c2, font_body=font) == "é"

    def test_writer_flavor_emits_and_roundtrips(self):
        import zlib as _z

        hit = 0
        for i in range(200):
            t = f"mac roman flavor probe {i}"
            fhash = _z.crc32(b"pdf-font-flavor:" + t.encode())
            if fhash % 4 == 1 and (fhash >> 8) & 1:
                data = encode_pdf([t], ["0"], text_format="literal")
                assert b"/MacRomanEncoding" in data
                assert decode_pdf_text(data) == [t]
                hit += 1
                if hit >= 3:
                    return
        raise AssertionError("crc never landed on the MacRoman flavor")


class TestVerticalCid:
    """Identity-V vertical CID fonts (§9.7.4.3): text flows down, the
    reading frame maps columns right-to-left, advances come from /DW2
    (default [880 -1000]), and TJ kerns displace the VERTICAL
    coordinate with the spec's subtraction sign (positive numbers move
    DOWN — inverted vs horizontal). Writer twin: text_format='cidv'."""

    TEXTS = [
        "vertical body with words",
        "日本語の縦書きテキスト",
        "a",
        "col one and col two here",
    ]

    def test_cidv_roundtrips(self):
        data = encode_pdf(
            self.TEXTS, [str(i) for i in range(len(self.TEXTS))],
            text_format="cidv",
        )
        assert decode_pdf_text(data) == self.TEXTS

    def test_cidv_under_rotation_and_mix(self):
        for fmt in ("rot", "mix"):
            for i, t in enumerate(self.TEXTS):
                got = decode_pdf_text(
                    encode_pdf([t], [f"v{i}"], text_format=fmt)
                )
                assert got == [t], (fmt, t)

    def test_cidv_encrypted_stream_xref(self):
        data = encode_pdf(
            self.TEXTS[:2], ["0", "1"], text_format="cidv",
            xref_format="stream", encrypt="aes-128",
        )
        assert decode_pdf_text(data) == self.TEXTS[:2]

    def test_columns_order_right_to_left(self):
        # deterministic split page: ensure a split draw exists and
        # roundtrips — the right column must come FIRST in the output
        import zlib as _z

        for i in range(120):
            t = f"first part then second part {i}"
            h = _z.crc32(b"pdf-cid:" + t.encode())
            if (h >> 4) & 1:
                data = encode_pdf([t], ["0"], text_format="cidv")
                assert decode_pdf_text(data) == [t]
                return
        raise AssertionError("no split draw in 120 tries")

    def test_vertical_kern_sign_is_spec_subtraction(self):
        # positive TJ numbers move DOWN in vertical mode; one full em
        # (+1000) opens exactly one reconstructed space, -80 stays
        # tight (checked through the writer's kern flavor too)
        import zlib as _z

        for i in range(200):
            t = f"kern probe {i}"
            h = _z.crc32(b"pdf-cid:" + t.encode())
            if not ((h >> 4) & 1) and (h >> 6) & 1:
                data = encode_pdf([t], ["0"], text_format="cidv")
                assert decode_pdf_text(data) == [t]
                return
        raise AssertionError("no kern draw in 200 tries")

    def test_w2_is_declared_boundary(self):
        # hand-built Identity-V font with per-glyph /W2 metrics
        cmap = (
            b"/CIDInit /ProcSet findresource begin\n12 dict begin\n"
            b"begincmap\n1 begincodespacerange\n<0000> <ffff>\n"
            b"endcodespacerange\n1 beginbfchar\n<0001> <0041>\n"
            b"endbfchar\nendcmap\nend\nend"
        )
        font = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /V"
            b" /Encoding /Identity-V /DescendantFonts [6 0 R]"
            b" /ToUnicode 7 0 R >>"
        )
        desc = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /V"
            b" /CIDSystemInfo << /Registry (Adobe) /Ordering (Identity)"
            b" /Supplement 0 >> /DW 600 /W2 [1 [-1000 0 880]] >>"
        )
        tounic = (
            b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream"
        )
        c = b"BT /F0 12 Tf 500 700 Td <0001> Tj ET"
        doc = PdfDocument(
            _text_pdf(c, font_body=font, extra_objs=[desc, tounic])
        )
        with pytest.raises(NotImplementedError, match="W2"):
            page_text(doc, doc.pages()[0])

    def test_mix_covers_cidv(self):
        import zlib as _z

        for i in range(256):
            r = f"vmix{i}"
            if _z.crc32(b"pdf-text-flavor:" + r.encode()) % 10 == 9:
                t = "mixed vertical page body"
                data = encode_pdf([t], [r], text_format="mix")
                assert b"/Identity-V" in data
                assert decode_pdf_text(data) == [t]
                return
        raise AssertionError("chooser never picks cidv")


class TestMixRefit:
    def test_mix_carries_beyond_cp1252_text_on_any_ref(self):
        # the mix chooser re-deals simple-font draws to a
        # unicode-capable flavor, so arbitrary text roundtrips under
        # EVERY ref (previously a literal draw raised ValueError)
        t = "日本語 mixed Δ content — beyond cp1252"
        for i in range(24):
            data = encode_pdf([t], [f"ref{i}"], text_format="mix")
            assert decode_pdf_text(data) == [t], i
