"""Single-process LZW decode time and peak memory: the shared kernel
(oar_ocr_spark/functions/lzw.py) against the two scalar decoders it
replaced, which tests/test_lzw.py keeps as references.

Every case is one page (default letter size at 200 dpi, 2200 x 1700
bytes), coded by the test-side compressing encoder unless noted:

  blank    an all-white page: one clear segment whose entries are
           1, 2, 3, ... bytes long (few codes, long copies)
  text     fixture pages tiled to the page size, 8-bit grey
  bilevel  the text page thresholded to 2 colours (GIF min code 2)
  literal  the text page as the fixture GIF encoder writes it: literal
           root codes only, a clear before each width growth

`gif` streams are LSB-first with EarlyChange 0 and a pixel limit (the
GIF decoder's call); `tiff` streams are MSB-first with EarlyChange 1
(TIFF compression 5 and PDF /LZWDecode). Time is the best of
--repeat decodes; peak is tracemalloc's peak of traced allocations
during one more decode, after a warm-up call. The defaults take about
five minutes on a 4-core host, nearly all of it the scalar GIF decoder
on the literal page.

Usage: python tools/bench_lzw.py [--height H] [--width W] [--repeat N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import tracemalloc

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oar_ocr_spark.fixtures.render import render_page  # noqa: E402
from oar_ocr_spark.functions.gif import encode_gif  # noqa: E402
from oar_ocr_spark.functions.lzw import lzw_decode  # noqa: E402
from tests.test_lzw import _lzw_decode, _lzw_decode_gif, lzw_encode  # noqa: E402


def text_page(h: int, w: int) -> np.ndarray:
    """Fixture pages tiled row by row to (h, w)."""
    rows, i = [], 0
    while sum(len(r) for r in rows) < h:
        row = []
        while sum(t.shape[1] for t in row) < w:
            row.append(np.asarray(render_page(f"{i}_m{i % 3}")))
            i += 1
        top = min(len(t) for t in row)
        rows.append(np.concatenate([t[:top] for t in row], axis=1)[:, :w])
    return np.concatenate(rows)[:h]


def gif_stream(gif: bytes) -> tuple[int, bytes]:
    """(minimum code size, LZW bytes) of encode_gif's single image with
    a 256-entry global table and no extensions."""
    pos = 13 + 768 + 10
    min_code, pos = gif[pos], pos + 1
    out = bytearray()
    while gif[pos]:
        out += gif[pos + 1 : pos + 1 + gif[pos]]
        pos += gif[pos] + 1
    return min_code, bytes(out)


def cases(h: int, w: int) -> list[tuple[str, str, int, bytes, bytes]]:
    """(name, dialect, min code size, stream, decoded bytes)."""
    blank = b"\xff" * (h * w)
    text = text_page(h, w)
    bilevel = (text >= 128).astype(np.uint8).tobytes()
    grey = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    min_code, literal = gif_stream(encode_gif(text, grey))
    text = text.tobytes()
    return [
        ("blank", "gif", 8, lzw_encode(blank, 8, True, 0), blank),
        ("blank", "tiff", 8, lzw_encode(blank, 8, False, 1), blank),
        ("text", "gif", 8, lzw_encode(text, 8, True, 0), text),
        ("text", "tiff", 8, lzw_encode(text, 8, False, 1), text),
        ("bilevel", "gif", 2, lzw_encode(bilevel, 2, True, 0), bilevel),
        ("literal", "gif", min_code, literal, text),
    ]


def decoders(dialect: str, min_code: int, n: int) -> dict:
    if dialect == "gif":
        return {
            "kernel": lambda d: lzw_decode(d, min_code, lsb_first=True, early_change=0, limit=n).tobytes(),
            "scalar": lambda d: _lzw_decode_gif(d, min_code, n).tobytes(),
        }
    return {"kernel": lambda d: lzw_decode(d).tobytes(), "scalar": lambda d: _lzw_decode(d, 1)}


def measure(fn, data: bytes, want: bytes, repeat: int) -> tuple[float, float]:
    """(best time in s, peak traced MB) of fn(data), checked against want."""
    if fn(data) != want:
        raise SystemExit("decoded bytes differ from the page")
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        fn(data)
        best = min(best, time.perf_counter() - t)
    tracemalloc.start()
    try:
        fn(data)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return best, peak / 2**20


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--height", type=int, default=2200)
    ap.add_argument("--width", type=int, default=1700)
    ap.add_argument("--repeat", type=int, default=3)
    args = ap.parse_args()
    print(f"{'case':8s} {'dialect':7s} {'stream KB':>9s} {'out MB':>6s}   "
          f"{'kernel ms':>9s} {'scalar ms':>9s} {'speedup':>7s}   {'kernel MB':>9s} {'scalar MB':>9s}")
    for name, dialect, min_code, stream, want in cases(args.height, args.width):
        fns = decoders(dialect, min_code, len(want))
        (tk, mk), (ts, ms) = (measure(fns[k], stream, want, args.repeat) for k in ("kernel", "scalar"))
        print(f"{name:8s} {dialect:7s} {len(stream) / 1024:9.1f} {len(want) / 2**20:6.2f}   "
              f"{tk * 1000:9.1f} {ts * 1000:9.1f} {ts / tk:6.1f}x   {mk:9.1f} {ms:9.1f}")


if __name__ == "__main__":
    main()
