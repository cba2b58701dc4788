"""Corruption fuzz for the codec seams' fail-loudly contract.

Every public decoder must react to corrupt or truncated bytes with the
seam's declared exceptions — ValueError (corrupt) or
NotImplementedError (out-of-scope feature) — never a raw IndexError /
struct.error / KeyError / MemoryError from deep inside a parser (the
class of defect past reviews kept finding one site at a time; now
closed wholesale by functions/codec_guard.loud_decode). Decoding to a
wrong-but-valid result is acceptable: entropy-coded payload bytes
carry no checksum in most of these formats, so single-byte corruption
below the header layer legitimately decodes.
"""

import random
import struct

import numpy as np
import pytest

from oar_ocr_spark.fixtures.render import render_page

DECLARED = (ValueError, NotImplementedError)


def _fuzz(bases, decode, trials=150, seed=42):
    """Mutation operators mirror the offline deep campaign (validated
    at 24,500 trials across all seams): byte flips, burst corruption,
    truncation, and cross-base splices."""
    rng = random.Random(seed)
    raised = decoded = 0
    for _ in range(trials):
        data = bytearray(rng.choice(bases))
        op = rng.random()
        if op < 0.55:  # byte flips
            for _ in range(rng.randrange(1, 6)):
                data[rng.randrange(len(data))] = rng.randrange(256)
        elif op < 0.75:  # burst corruption
            at = rng.randrange(len(data))
            ln = rng.randrange(1, min(64, len(data) - at) + 1)
            data[at : at + ln] = bytes(rng.randrange(256) for _ in range(ln))
        elif op < 0.9:  # truncate
            data = data[: rng.randrange(1, len(data))]
        else:  # splice two bases
            other = rng.choice(bases)
            cut = rng.randrange(1, len(data))
            data = data[:cut] + bytearray(other[rng.randrange(len(other)) :])
        try:
            decode(bytes(data))
            decoded += 1
        except DECLARED:
            raised += 1
        # anything else propagates and fails the test loudly
    assert raised + decoded == trials
    assert raised > 0  # the corruption actually bites


@pytest.fixture(scope="module")
def page():
    return render_page("40_m0")


def test_jp2_fuzz(page):
    from oar_ocr_spark.functions.jp2 import decode_jp2, encode_j2k, encode_jp2

    import numpy as np

    rgb = np.repeat(page[:, :, None], 3, axis=2)
    _fuzz(
        [
            encode_jp2(page, tile_size=96),
            encode_j2k(page, sop=True, eph=True),
            encode_j2k(page, irreversible=True, prog="pcrl"),
            encode_j2k(rgb, subsampling=(2, 2), tile_size=96),
            encode_j2k(page, origin=(8, 4)),
        ],
        decode_jp2,
    )


def test_deep_jpeg_fuzz(page):
    import numpy as np

    from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg_extended

    p12 = (np.asarray(page).astype(np.uint16) << 4) | (np.asarray(page) >> 4)
    _fuzz([encode_jpeg_extended(p12, quality=95)], decode_jpeg)


def test_jpeg_fuzz(page):
    from oar_ocr_spark.functions.jpeg import decode_jpeg, encode_jpeg
    from oar_ocr_spark.functions.jpeg_arith import encode_jpeg_arith_progressive

    _fuzz(
        [encode_jpeg(page, 90), encode_jpeg_arith_progressive(page, 90)],
        decode_jpeg,
    )


def test_png_fuzz(page):
    from oar_ocr_spark.functions.png import decode_png, encode_png

    _fuzz([encode_png(page)], decode_png)


def test_legacy_image_fuzz(page):
    import numpy as np

    from oar_ocr_spark.functions.bmp import decode_bmp, encode_bmp
    from oar_ocr_spark.functions.gif import decode_gif, encode_gif
    from oar_ocr_spark.functions.tiff import decode_tiff, encode_tiff

    from oar_ocr_spark.functions.tiff import encode_tiff_multipage

    grey_pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=-1)
    rgb = np.repeat(np.asarray(page)[:, :, None], 3, axis=2)
    _fuzz(
        [
            encode_bmp(page, palette=grey_pal, rle=True),
            encode_bmp(rgb, bitfields=True),
        ],
        decode_bmp,
        trials=100,
    )
    _fuzz([encode_gif(page, grey_pal, interlace=True)], decode_gif, trials=100)
    _fuzz(
        [
            encode_tiff(page, compression="packbits"),
            encode_tiff(page, compression="ojpeg"),
            encode_tiff_multipage([page], ["r"], compression="palette16"),
            encode_tiff_multipage([page], ["r"], compression="cmyk"),
            encode_tiff(page, compression="deflate"),
        ],
        decode_tiff,
        trials=100,
    )


def _gif_container(idx: np.ndarray, bits: int, stream: bytes, interlace: bool) -> bytes:
    """Single-image GIF around an LZW stream coded from `idx` with a
    grey palette of 2^bits entries."""
    h, w = idx.shape
    pal = np.repeat(np.linspace(0, 255, 1 << bits).astype(np.uint8)[:, None], 3, axis=1)
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += pal.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([0x40 if interlace else 0])
    out += bytes([max(bits, 2)])
    for i in range(0, len(stream), 255):
        out += bytes([len(stream[i : i + 255])]) + stream[i : i + 255]
    return out + b"\x00\x3b"


def test_lzw_stream_fuzz(page):
    """Dictionary-compressed LZW (multi-byte entries, KwKwK codes,
    deferred clears), which the literal-code fixture encoders never
    write, through the GIF and TIFF decoders."""
    from oar_ocr_spark.functions.gif import _interlaced_row_order, decode_gif
    from oar_ocr_spark.functions.tiff import decode_tiff
    from tests.test_lzw import lzw_encode
    from tests.test_tiff import _strip_le

    page = np.asarray(page)
    gifs = []
    for bits, interlace, full_codes in [(8, False, 0), (4, True, None), (1, False, 2000)]:
        idx = page >> (8 - bits)
        rows = idx[_interlaced_row_order(len(idx))] if interlace else idx
        stream = lzw_encode(rows.tobytes(), max(bits, 2), True, 0, full_codes)
        gifs.append(_gif_container(idx, bits, stream, interlace))
        assert (decode_gif(gifs[-1])[:, :, 0] == (idx * (255 // ((1 << bits) - 1)))).all()
    _fuzz(gifs, decode_gif, trials=100)

    h, w = page.shape
    diff = page.astype(np.int16)
    diff[:, 1:] = (page[:, 1:].astype(np.int16) - page[:, :-1]) % 256
    predictor = ((317, 3, 1, struct.pack("<H", 2)),)
    tiffs = [
        _strip_le(w, h, lzw_encode(page.tobytes()), comp=5),
        _strip_le(w, h, lzw_encode(diff.astype(np.uint8).tobytes()), comp=5, extra_tags=predictor),
    ]
    for data in tiffs:
        assert (decode_tiff(data) == page).all()
    _fuzz(tiffs, decode_tiff, trials=100)


def test_pdf_fuzz(page):
    from oar_ocr_spark.functions.pdf import decode_pdf, encode_pdf

    _fuzz(
        [encode_pdf([page]), encode_pdf([page], xref_format="stream")],
        decode_pdf,
    )


def test_audio_video_fuzz():
    from oar_ocr_spark.functions.avi import (
        decode_avi_frames,
        encode_avi_mjpeg,
        render_video_frames,
    )
    from oar_ocr_spark.functions.wav import decode_wav, encode_wav, render_audio

    samples, rate = render_audio("7_m2")
    _fuzz([encode_wav(samples, rate)], decode_wav, trials=100)
    _fuzz(
        [encode_avi_mjpeg(render_video_frames("9_m0", 4), quality=95)],
        decode_avi_frames,
        trials=100,
    )


def test_jbig2_fuzz(page):
    import numpy as np

    from oar_ocr_spark.functions.jbig2 import (
        decode_jbig2,
        encode_jbig2,
        encode_jbig2_symbols,
    )

    bits = (np.asarray(page) < 200).astype(np.uint8)
    _fuzz(
        [
            encode_jbig2(bits, file_header=True),
            encode_jbig2(bits, template=2, tpgdon=True),
            encode_jbig2(bits, mmr=True),
            encode_jbig2_symbols(bits),
        ],
        decode_jbig2,
    )
