"""Shared LZW kernel (functions/lzw.py) against the scalar decoders it
replaced, on streams from a compressing test-side encoder: multi-byte
dictionary entries, KwKwK codes, width growth to 12 bits, full tables
with and without a clear code, every GIF minimum code size, both bit
orders and both PDF/TIFF EarlyChange values. The fixture encoders in
gif.py only emit literal root codes, so none of this reaches the
decoder through them."""

import random
import tracemalloc

import numpy as np
import pytest

from oar_ocr_spark.functions.lzw import lzw_decode


# ---------------------------------------------------------------------------
# test-side compressing encoder
# ---------------------------------------------------------------------------

def lzw_encode(
    data: bytes,
    min_code_size: int = 8,
    lsb_first: bool = False,
    early_change: int = 1,
    full_codes: int | None = 0,
    eoi: bool = True,
    log: list | None = None,
) -> bytes:
    """Greedy LZW compressor. Widths follow the decoder's table: after
    the k-th code of a clear segment the decoder holds 2^min + 2 + k
    entries, and the width grows when that count plus `early_change`
    reaches 2^width. Once the table holds 4096 entries it codes
    `full_codes` more strings with the frozen table, then emits a clear
    code (None: never, a deferred clear that never comes). `log`
    collects (code, width, length of its string, newest entry) per
    data code."""
    clear = 1 << min_code_size
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        if lsb_first:
            acc |= code << nbits
            nbits += width
            while nbits >= 8:
                out.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        else:
            acc = (acc << width) | code
            nbits += width
            while nbits >= 8:
                out.append((acc >> (nbits - 8)) & 0xFF)
                nbits -= 8
            acc &= (1 << nbits) - 1

    def reset():
        return {bytes([i]): i for i in range(clear)}, min_code_size + 1, 0

    table, width, k = reset()
    newest = None
    frozen = 0
    emit(clear, width)

    def put(string: bytes) -> None:
        nonlocal width, k
        code = table[string]
        if log is not None:
            log.append((code, width, len(string), newest))
        emit(code, width)
        if width < 12 and clear + 2 + k + early_change >= (1 << width):
            width += 1
        k += 1

    w = b""
    for b in data:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        put(w)
        nxt = len(table) + 2  # after the clear and end codes
        if nxt < 4096:
            table[wc] = newest = nxt
        elif full_codes is not None and frozen >= full_codes:
            emit(clear, width)
            table, width, k = reset()
            newest, frozen = None, 0
        else:
            frozen += 1
        w = bytes([b])
    if w:
        put(w)
    if eoi:
        emit(clear + 1, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF if not lsb_first else acc & 0xFF)
    return bytes(out)


def _sample(rng: random.Random, n: int, alphabet: int) -> bytes:
    """Runs and repeats over a small alphabet, so entries grow long."""
    out = bytearray()
    while len(out) < n:
        r = rng.random()
        if r < 0.3:
            out += bytes([rng.randrange(alphabet)]) * rng.randrange(1, 40)
        elif r < 0.6 and len(out) > 8:
            at = rng.randrange(len(out) - 4)
            out += out[at : at + rng.randrange(2, 30)]
        else:
            out += bytes(rng.randrange(alphabet) for _ in range(rng.randrange(1, 8)))
    return bytes(out[:n])


# ---------------------------------------------------------------------------
# the scalar decoders the kernel replaced, kept verbatim as references
# ---------------------------------------------------------------------------

def _lzw_decode_gif(data: bytes, min_code: int, n_pixels: int) -> np.ndarray:
    """GIF LZW: LSB-first variable-width codes, dynamic table 2^min..
    4096, clear resets, EOI ends. Returns exactly n_pixels indices."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0

    def reset():
        return [bytes([i]) for i in range(1 << min_code)] + [b"", b""], min_code + 1

    table, width = reset()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width = reset()
                prev = None
                continue
            if code == eoi:
                if n_out != n_pixels:
                    raise ValueError(
                        f"GIF LZW ended early: {n_out}/{n_pixels} pixels"
                    )
                return out
            if prev is None:
                if code >= len(table):
                    raise ValueError(f"bad first GIF LZW code {code}")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:
                    table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                if len(table) < 4096:
                    table.append(entry)
            else:
                raise ValueError(f"GIF LZW code {code} beyond table")
            if n_out + len(entry) > n_pixels:
                raise ValueError("GIF LZW produced too many pixels")
            out[n_out : n_out + len(entry)] = np.frombuffer(entry, dtype=np.uint8)
            n_out += len(entry)
            prev = entry
            # widen AFTER appending; cap at 12 bits (spec)
            if len(table) == (1 << width) and width < 12:
                width += 1
    if n_out != n_pixels:
        raise ValueError(f"GIF LZW stream exhausted: {n_out}/{n_pixels} pixels")
    return out


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """/LZWDecode (spec 7.4.4): 9→12-bit variable codes MSB-first,
    256 = clear table, 257 = EOD; /EarlyChange (default 1) widens the
    code one entry before the table fills — the layout every PDF
    writer uses."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    width = 9
    reset()
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            acc &= (1 << nbits) - 1
            if code == 256:
                reset()
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError(f"LZW code {code} beyond table")
            out += entry
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)


def _gif(data: bytes, min_code: int, n_pixels: int) -> np.ndarray:
    return lzw_decode(data, min_code, lsb_first=True, early_change=0, limit=n_pixels)


def _outcome(fn, *args):
    try:
        return ("ok", bytes(fn(*args)))
    except ValueError as e:
        return ("error", str(e))


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

class TestEncoderStreams:
    @pytest.mark.parametrize("min_code", [2, 3, 4, 5, 6, 7, 8])
    def test_gif_min_code_sizes(self, min_code):
        rng = random.Random(min_code)
        for n in (1, 2, 50, 3000, 20000):
            raw = _sample(rng, n, 1 << min_code)
            for full_codes in (0, 700, None):
                enc = lzw_encode(raw, min_code, lsb_first=True, early_change=0, full_codes=full_codes)
                got = _gif(enc, min_code, n)
                assert got.dtype == np.uint8 and got.tobytes() == raw
                assert got.tobytes() == _lzw_decode_gif(enc, min_code, n).tobytes()

    @pytest.mark.parametrize("early", [0, 1])
    @pytest.mark.parametrize("full_codes", [0, 6000, None])
    def test_pdf_tiff_early_change(self, early, full_codes):
        rng = random.Random(10 + early)
        for n in (1, 300, 5000, 60000):
            raw = _sample(rng, n, rng.choice([2, 16, 256]))
            enc = lzw_encode(raw, early_change=early, full_codes=full_codes)
            assert lzw_decode(enc, early_change=early).tobytes() == raw
            assert _lzw_decode(enc, early) == raw

    @pytest.mark.parametrize("lsb_first", [False, True])
    def test_streams_reach_every_feature(self, lsb_first):
        # the sample streams really hold what the kernel must get right:
        # multi-byte entries, KwKwK codes (the entry made by the code
        # itself), 12-bit codes and a table full without a clear code
        early = 0 if lsb_first else 1
        raw = _sample(random.Random(1), 60000, 4)
        log = []
        enc = lzw_encode(raw, 8, lsb_first, early, full_codes=None, log=log)
        assert max(n for _, _, n, _ in log) > 20
        assert sum(code == newest for code, _, _, newest in log) > 10
        assert {w for _, w, _, _ in log} == {9, 10, 11, 12}
        # the table filled (entry 4095 made) and coding went on without a clear
        assert sum(newest == 4095 for _, _, _, newest in log) > 100
        got = lzw_decode(enc, 8, lsb_first=lsb_first, early_change=early)
        assert got.tobytes() == raw

    def test_kwkwk_and_literal_vectors(self):
        # CLEAR, 'a', 258 (KwKwK: 'aa'), 259 (KwKwK: 'aaa'), EOD → 'a' * 6
        acc = 0
        for c in [256, 97, 258, 259, 257]:
            acc = (acc << 9) | c
        out = (acc << 3).to_bytes(6, "big")  # 45 bits, MSB-first
        assert lzw_decode(out).tobytes() == b"a" * 6 == _lzw_decode(out)
        assert lzw_decode(b"").tobytes() == b""


class TestAgainstScalarDecoders:
    """Random and truncated streams decode to the same bytes, or fail
    with the same message, as the decoders the kernel replaced."""

    def test_gif_random_and_truncated(self):
        rng = random.Random(7)
        for trial in range(120):
            min_code = rng.randrange(2, 9)
            n = rng.randrange(1, 6000)
            raw = _sample(rng, n, 1 << min_code)
            enc = bytearray(
                lzw_encode(raw, min_code, lsb_first=True, early_change=0, full_codes=rng.choice([0, 300, None]))
            )
            op = trial % 4
            if op == 1:  # truncated
                enc = enc[: rng.randrange(len(enc))]
            elif op == 2:  # byte flips
                for _ in range(rng.randrange(1, 4)):
                    enc[rng.randrange(len(enc))] = rng.randrange(256)
            limit = n if trial % 3 else n + rng.randrange(-5, 6)
            limit = max(limit, 0)
            want = _outcome(_lzw_decode_gif, bytes(enc), min_code, limit)
            assert _outcome(_gif, bytes(enc), min_code, limit) == want, (trial, want)

    def test_gif_error_messages(self):
        enc = lzw_encode(b"\x00\x01" * 40, 2, lsb_first=True, early_change=0)
        for limit, msg in [
            (81, "GIF LZW ended early: 80/81 pixels"),
            (79, "GIF LZW produced too many pixels"),
        ]:
            assert _outcome(_gif, enc, 2, limit) == ("error", msg)
            assert _outcome(_lzw_decode_gif, enc, 2, limit) == ("error", msg)
        noeoi = lzw_encode(b"\x00\x01" * 40, 2, lsb_first=True, early_change=0, eoi=False)
        # the last byte's padding bits may read as one more pixel
        want = _outcome(_lzw_decode_gif, noeoi, 2, 100)
        assert want[0] == "error" and want[1].startswith("GIF LZW stream exhausted: 8")
        assert _outcome(_gif, noeoi, 2, 100) == want
        # width 3: CLEAR(4), 7 (beyond the 6-entry table) / 0, 7 (beyond)
        assert _outcome(_gif, bytes([0b111100]), 2, 9) == ("error", "bad first GIF LZW code 7")
        assert _outcome(_gif, bytes([0b11000100, 0b1]), 2, 9) == ("error", "GIF LZW code 7 beyond table")
        for data in (bytes([0b111100]), bytes([0b11000100, 0b1])):
            assert _outcome(_gif, data, 2, 9) == _outcome(_lzw_decode_gif, data, 2, 9)

    def test_pdf_random_and_truncated(self):
        rng = random.Random(8)
        for trial in range(120):
            early = trial % 2
            raw = _sample(rng, rng.randrange(1, 8000), rng.choice([3, 40, 256]))
            enc = bytearray(
                lzw_encode(raw, early_change=early, full_codes=rng.choice([0, 300, None]), eoi=rng.random() < 0.7)
            )
            op = trial % 3
            if op == 1:
                enc = enc[: rng.randrange(len(enc))]
            elif op == 2:
                for _ in range(rng.randrange(1, 4)):
                    enc[rng.randrange(len(enc))] = rng.randrange(256)
            try:
                want = ("ok", _lzw_decode(bytes(enc), early))
            except ValueError as e:
                want = ("error", str(e))
            except IndexError:  # the scalar decoder's bad first code
                want = ("error", "bad first LZW code")
            got = _outcome(lambda d: lzw_decode(d, early_change=early), bytes(enc))
            if want[1] == "bad first LZW code":
                assert got[0] == "error" and got[1].startswith("bad first LZW code"), trial
            else:
                assert got == want, (trial, got[:1], want[:1])

    def test_minimum_code_size_range(self):
        for m in (0, 9, 255):
            with pytest.raises(ValueError, match="minimum code size"):
                lzw_decode(b"\x00\x00", m, lsb_first=True, early_change=0, limit=1)
        for early in (-1, 2, 5):
            with pytest.raises(ValueError, match="early change"):
                lzw_decode(b"\x80\x00", early_change=early)


class TestLongEntries:
    @pytest.mark.parametrize("lsb_first", [True, False])
    def test_blank_page_memory(self, lsb_first):
        # a blank page codes as entries of 1, 2, 3, ... bytes: few codes,
        # long copies. Peak memory stays near the output size (the scalar
        # decoders need about twice it), not a multiple per output byte.
        raw = bytes(300_000)
        early = 0 if lsb_first else 1
        enc = lzw_encode(raw, 8, lsb_first, early)
        assert len(enc) < 1000

        def decode():
            return lzw_decode(enc, 8, lsb_first=lsb_first, early_change=early, limit=len(raw) if lsb_first else None)

        decode()  # the per-dialect bit layout is cached on first use
        tracemalloc.start()
        try:
            got = decode()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert got.tobytes() == raw
        want = _lzw_decode_gif(enc, 8, len(raw)).tobytes() if lsb_first else _lzw_decode(enc, early)
        assert want == raw
        assert peak < 3 * len(raw)
