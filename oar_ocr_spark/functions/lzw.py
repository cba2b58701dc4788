"""Vectorized LZW decoder shared by the GIF, TIFF and PDF codecs.

One kernel covers both LZW dialects the engine reads:

- GIF (`functions/gif.py`): LSB-first codes, a per-image minimum code
  size, the width growing when the table fills (no early change), and
  an exact pixel count (`limit`): a stream that ends before it, or
  produces more, is corrupt.
- PDF `/LZWDecode` and TIFF compression 5 (`functions/pdf.py`,
  `functions/tiff.py`): MSB-first codes from 9 bits, `/EarlyChange` 0
  or 1 (1 widens one entry before the table fills, the TIFF layout
  and the PDF default), and a lenient end of data: a stream without
  an EOD code returns what it decoded.

The stream is split into clear segments (the codes between two clear
codes). Within a segment, the width of the k-th code depends only on k
and the early-change rule, so a whole segment is unpacked at once from
precomputed bit offsets; it ends at the first clear or EOI code.

The dictionary is never built. The entry made by the j-th code of a
segment is the (j-1)-th code's output plus the first byte of the j-th
code's output, and the two sit next to each other in the output. So a
code naming that entry copies already emitted bytes, starting where the
(j-1)-th code's output starts (LZ77-style). Entry lengths follow by
pointer jumping over these references, so every code's place in the
output is known before any byte is written, and so is the last byte of
each code's output (the first byte of the output that follows the
referred code's, found at the root of its chain). All last bytes are
scattered at once; each entry code then copies the rest of its output,
in stream order, from the output of the code it refers to: one slice
copy per entry code. A segment of root codes only (what the fixture GIF
encoder writes) is its output as it stands. Temporary arrays are sized
per segment and per code, not per output byte, so a long run (a blank
page) costs about its output.
"""

from __future__ import annotations

import functools

import numpy as np

__all__ = ["lzw_decode"]

_MAX_WIDTH = 12
# codes whose bit layout is precomputed; the width is 12 for every code
# past them
_LAYOUT_CODES = 4096


@functools.lru_cache(maxsize=8 * 2 * 2)  # min code sizes x early change x bit order
def _layout(min_code_size: int, early_change: int, lsb_first: bool) -> tuple[np.ndarray, ...]:
    """Where the first _LAYOUT_CODES codes of a clear segment lie, for
    each of the 8 bit phases a segment can start at: the byte of each
    code (relative to the segment's first byte), the shift that brings
    the code down from its 32-bit window, the code mask, and the bit
    (relative to the segment start, phase 0) just past each code.
    After the k-th code (from 0) the table holds 2^min + 2 + k entries
    (the first code adds none); the width grows by one when that count
    plus `early_change` reaches 2^width."""
    table = (1 << min_code_size) + 2
    width = min_code_size + 1
    widths = np.empty(_LAYOUT_CODES, dtype=np.int32)
    for k in range(_LAYOUT_CODES):
        widths[k] = width
        if width < _MAX_WIDTH and table + k + early_change >= (1 << width):
            width += 1
    ends = np.cumsum(widths, dtype=np.int32)
    # int64 byte offsets: a segment's first byte is added to them
    starts = np.arange(8, dtype=np.int64)[:, None] + (ends - widths)
    shifts = starts & 7 if lsb_first else 32 - widths - (starts & 7)
    layout = (starts >> 3, shifts, (1 << widths) - 1, ends)
    for a in layout:  # shared by every caller
        a.flags.writeable = False
    return layout


def _unpack(window: np.ndarray, bit: int, n: int, layout: tuple, lsb_first: bool) -> np.ndarray:
    """The first n codes of the clear segment starting at `bit`."""
    byte_at, shifts, masks, ends = layout
    head = min(n, _LAYOUT_CODES)
    phase = bit & 7
    codes = (window[(bit >> 3) + byte_at[phase, :head]] >> shifts[phase, :head]) & masks[:head]
    if n == head:
        return codes
    # past the precomputed codes every code is 12 bits wide
    pos = bit + int(ends[-1]) + _MAX_WIDTH * np.arange(n - head, dtype=np.int64)
    shift = pos & 7 if lsb_first else 32 - _MAX_WIDTH - (pos & 7)
    tail = (window[pos >> 3] >> shift) & ((1 << _MAX_WIDTH) - 1)
    return np.concatenate([codes, tail])


def _end_bit(ends: np.ndarray, k: int) -> int:
    """Bits taken by codes 0..k of a segment."""
    if k < _LAYOUT_CODES:
        return int(ends[k])
    return int(ends[-1]) + _MAX_WIDTH * (k - _LAYOUT_CODES + 1)


def _codes_that_fit(avail: int, ends: np.ndarray) -> int:
    """How many codes of a segment fit whole in `avail` bits."""
    if avail >= ends[-1]:
        return _LAYOUT_CODES + (avail - int(ends[-1])) // _MAX_WIDTH
    return int(np.searchsorted(ends, avail, side="right"))


def _entry_lengths(codes: np.ndarray, first_entry: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per data code of one clear segment: the code whose output its
    entry copies (itself for a root code), its output length, and the
    last byte of its output. `codes` must be valid: code i is a root
    (< first_entry - 2) or an entry made by codes 1..i, so
    codes[i] <= first_entry + i - 1 (equality is KwKwK)."""
    idx = np.arange(len(codes), dtype=np.int64)
    # entry e (>= first_entry) was made by code j = e - first_entry + 1
    # and is code j-1's output plus the first byte of code j's output:
    # refer to code j-1
    ref = np.where(codes >= first_entry, codes - first_entry, idx)
    depth = (ref != idx).astype(np.int64)
    jump = ref
    while True:  # pointer jumping: depth = hops to a root code
        nxt = jump[jump]
        if np.array_equal(nxt, jump):
            break
        depth += depth[jump]
        jump = nxt
    first = codes[jump]  # the root code each output starts with
    last = first[np.where(depth > 0, ref + 1, idx)]
    return ref, depth + 1, last


def _expand(ref: np.ndarray, lengths: np.ndarray, last: np.ndarray) -> np.ndarray:
    """Output bytes of one clear segment's data codes. The last byte of
    every code's output (all of a root code's) is scattered at once;
    then each entry code copies the rest, in stream order, from the
    output of the code it refers to, which is whole by then."""
    ends = np.cumsum(lengths)
    starts = ends - lengths
    out = bytearray(int(ends[-1]))
    np.frombuffer(out, dtype=np.uint8)[ends - 1] = last
    entry = np.flatnonzero(lengths > 1)
    dsts, srcs = starts[entry].tolist(), starts[ref[entry]].tolist()
    for dst, src, n in zip(dsts, srcs, (lengths[entry] - 1).tolist()):
        out[dst : dst + n] = out[src : src + n]
    return np.frombuffer(out, dtype=np.uint8)


def lzw_decode(
    data: bytes,
    min_code_size: int = 8,
    *,
    lsb_first: bool = False,
    early_change: int = 1,
    limit: int | None = None,
) -> np.ndarray:
    """LZW stream → uint8 array.

    Codes start at min_code_size + 1 bits and grow to 12; code
    2^min_code_size clears the table and the next one ends the data.
    `lsb_first` packs codes from the low bit of each byte (GIF) rather
    than the high bit (PDF/TIFF); `early_change` widens the code one
    entry before the table fills. With `limit` the stream must decode
    to exactly that many pixels; without it, a stream that runs out of
    bytes before its end code returns what it decoded. Corrupt codes
    raise ValueError; the messages call LSB-first streams "GIF LZW".
    """
    name = "GIF LZW" if lsb_first else "LZW"
    if early_change not in (0, 1):
        raise ValueError(f"{name} early change {early_change} is not 0 or 1")
    if not 1 <= min_code_size <= 8:
        raise ValueError(f"{name} minimum code size {min_code_size} outside 1..8")
    clear = 1 << min_code_size
    first_entry = clear + 2
    layout = _layout(min_code_size, early_change, lsb_first)
    ends = layout[3]
    total_bits = 8 * len(data)
    # every code lies in the 32 bits from its first byte (widths <= 12):
    # a view of one overlapping word per byte, no copy beyond the padding
    window = np.ndarray(
        (len(data),), dtype="<u4" if lsb_first else ">u4", buffer=bytes(data) + bytes(3), strides=(1,)
    )

    parts: list[np.ndarray] = []
    n_out = 0
    bit = 0
    guess = 512
    while True:
        n_fit = _codes_that_fit(total_bits - bit, ends)
        n = min(guess, n_fit)
        codes = _unpack(window, bit, n, layout, lsb_first)
        term = (codes >> 1) == (clear >> 1)  # the clear or the end code
        stop = int(term.argmax()) if n else 0
        if n and not term[stop]:
            if n < n_fit:  # the segment runs past this guess
                guess *= 2
                continue
            stop = n
        seg = codes[:stop]
        guess = stop + stop // 4 + 8  # segments tend to repeat their length

        bad = lengths = None
        if stop and int(seg.max()) >= clear:  # not root codes only
            # codes decode in stream order, so the first failing one decides
            over = np.flatnonzero(seg >= first_entry + np.arange(stop))
            if len(over):
                bad = int(over[0])
                seg = seg[:bad]
            ref, lengths, last = _entry_lengths(seg, first_entry)
        size = len(seg) if lengths is None else int(lengths.sum())
        if limit is not None and n_out + size > limit:
            raise ValueError(f"{name} produced too many pixels")
        if bad == 0:
            raise ValueError(f"bad first {name} code {int(codes[0])}")
        if bad is not None:
            raise ValueError(f"{name} code {int(codes[bad])} beyond table")
        if size:
            parts.append(seg.astype(np.uint8) if lengths is None else _expand(ref, lengths, last))
        n_out += size

        if stop == n:  # out of bytes before a clear or end code
            if limit is not None and n_out != limit:
                raise ValueError(f"{name} stream exhausted: {n_out}/{limit} pixels")
            break
        if int(codes[stop]) != clear:  # end code
            if limit is not None and n_out != limit:
                raise ValueError(f"{name} ended early: {n_out}/{limit} pixels")
            break
        bit += _end_bit(ends, stop)  # past the clear code
    if not parts:
        return np.zeros(0, dtype=np.uint8)
    return parts[0] if len(parts) == 1 else np.concatenate(parts)
