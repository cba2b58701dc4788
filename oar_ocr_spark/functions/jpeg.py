"""Pure-numpy baseline JPEG codec (greyscale, JFIF).

Second real image format behind the media seam (reference:
oar-ocr-core/src/utils/image.rs:65-88 decodes PNG/JPEG/… via the
`image` crate; functions/png.py covers PNG). No JPEG library exists in
this environment, so this implements the public baseline-DCT process
from the JPEG specification (ITU-T T.81 / ISO 10918-1) directly:

- encoder: 8×8 blocks, level shift, orthonormal DCT-II (matrix form),
  quality-scaled Annex-K luminance quantization, zigzag, differential
  DC + run-length AC symbols, canonical Huffman (Annex K.3 tables),
  byte-stuffed entropy stream, SOI/APP0/DQT/SOF0/DHT/SOS/EOI markers.
- decoder: marker parse (DQT/DHT/SOF0/SOS from the FILE, not assumed —
  a foreign baseline-greyscale JPEG with custom tables decodes too),
  canonical Huffman decode, dequantize, inverse zigzag, IDCT, clamp.

Scope (declared, fails loudly outside it): baseline sequential DCT,
8-bit, greyscale (the engine's page type) or interleaved YCbCr color
(Annex-K chrominance quantization + Huffman tables, JFIF full-range
color conversion). The DECODER accepts any interleaved sampling-factor
combination whose chroma factors divide the luma factors — 4:4:4,
4:2:2, 4:4:0 and the dominant wild subformat 4:2:0 — with box
(pixel-replication) chroma upsampling; libjpeg's default "fancy"
triangular upsampling is a documented deviation (≤ a few LSB on
chroma edges; this engine's determinism contract wants the exact
closed form). The ENCODER writes 4:4:4 by default and 4:2:2/4:2:0 on
request (box-average chroma downsample). Restart intervals (DRI/RSTn
— the camera error-resilience layout) decode AND encode, with the
RST0-7 cycle validated and DC predictors reset per segment.
PROGRESSIVE (SOF2) streams decode in full — spectral selection,
successive approximation (DC and AC refinement per T.81 G.2), EOBn
cross-block runs, per-scan restart resync — and a progressive ENCODER
(`encode_jpeg_progressive`, libjpeg-style scan script) generates the
fixtures, with decode(progressive) == decode(baseline) exactly (same
quantized coefficients). NON-interleaved baseline (one scan per
component, the multi-scan scanner layout) decodes too, with its own
fixture writer (`encode_jpeg_multiscan`). LOSSLESS (SOF3, T.81 Annex
H — the DICOM / raw-scanner process) decodes and encodes
(`encode_jpeg_lossless`): all seven predictors, point transform,
restart intervals, grey + 3-component; bit-exact roundtrip since no
DCT is involved. SOF1 (extended sequential) decodes through the
baseline path at 8-bit precision. ARITHMETIC-CODED sequential (SOF9)
AND progressive (SOF10) decode and encode through the QM-coder module
(functions/jpeg_arith.py — T.81 Annex D/F/G.2, DAC conditioning
honored), with decode(arith) == decode(baseline) exactly for both.
Differential and arithmetic-lossless SOF processes raise
NotImplementedError (the codec-seam contract, functions/multimodal.py).

JPEG is lossy: the round-trip contract here is NOT bit equality (PNG's
contract) but (a) byte-level determinism of the encoder, (b) a tested
reconstruction error bound on the synthetic pages, and (c) exact
decoder determinism — so any golden computed *through* the decode is
stable. DCT/IDCT run in float64 with a single np.round at quantize /
final clamp; every other step is integer.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_guard import loud_decode

__all__ = [
    "encode_jpeg",
    "decode_jpeg",
    "encode_jpeg_progressive",
    "encode_jpeg_multiscan",
    "encode_jpeg_lossless",
    "JPEG_SOI",
]

JPEG_SOI = b"\xff\xd8"

# zigzag position k -> raster index (ITU-T T.81 Figure 5)
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)
_UNZIGZAG = np.argsort(_ZIGZAG)

# Annex K.1 luminance quantization table (raster order)
_QTABLE_K1 = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex K.3.1 luminance DC: BITS (code-length counts 1..16) + HUFFVAL
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
# Annex K.3.2 luminance AC
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# Annex K.2 chrominance quantization table (raster order)
_QTABLE_K2 = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)

# Annex K.3.3 / K.3.4 chrominance DC + AC tables
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# orthonormal DCT-II basis: A[u, x] = c(u) cos((2x+1) u pi / 16)
_A = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _A[_u, _x] = np.sqrt((1 if _u else 0.5) / 4.0) * np.cos(
            (2 * _x + 1) * _u * np.pi / 16.0
        )


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """BITS/HUFFVAL → {symbol: (code, length)} (T.81 Annex C)."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _scaled_qtable(quality: int, base: np.ndarray | None = None) -> np.ndarray:
    """libjpeg-compatible quality scaling of an Annex-K table."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = ((_QTABLE_K1 if base is None else base) * scale + 50) // 100
    return np.clip(q, 1, 255)


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """(n,8,8) level-shifted blocks → DCT-II coefficients, as two
    (n·8,8)@(8,8) GEMMs (the separable form; ~5× faster than the
    one-shot einsum contraction, which bypasses BLAS)."""
    n = blocks.shape[0]
    b = (blocks.reshape(n * 8, 8) @ _A.T).reshape(n, 8, 8)  # over y
    c = (np.ascontiguousarray(b.transpose(0, 2, 1)).reshape(n * 8, 8) @ _A.T)
    return c.reshape(n, 8, 8).transpose(0, 2, 1)  # [n,u,v]


def _idct2(coefs: np.ndarray) -> np.ndarray:
    """(n,8,8) coefficients → pixel blocks (inverse of _dct2)."""
    n = coefs.shape[0]
    d = (coefs.reshape(n * 8, 8) @ _A).reshape(n, 8, 8)  # over v
    e = (np.ascontiguousarray(d.transpose(0, 2, 1)).reshape(n * 8, 8) @ _A)
    return e.reshape(n, 8, 8).transpose(0, 2, 1)  # [n,x,y]


# amplitude-category lookup: _CAT_LUT[|v|] = bit_length(|v|); covers
# the full baseline range (|DC diff| <= 2*255*8 < 4096) AND the
# 12-bit extended-sequential range (|DC diff| < 2^15)
_CAT_LUT = np.array([int(i).bit_length() for i in range(1 << 15)], dtype=np.int64)


def _code_arrays(bits: list[int], vals: list[int], n: int):
    """Canonical Huffman table as (code, length) numpy lookup arrays."""
    codes = np.zeros(n, dtype=np.int64)
    lens = np.zeros(n, dtype=np.int64)
    for sym, (code, length) in _canonical_codes(bits, vals).items():
        codes[sym], lens[sym] = code, length
    return codes, lens


_DC_CODE, _DC_LEN = _code_arrays(_DC_BITS, _DC_VALS, 12)
_AC_CODE, _AC_LEN = _code_arrays(_AC_BITS, _AC_VALS, 256)
_DCC_CODE, _DCC_LEN = _code_arrays(_DC_BITS_C, _DC_VALS_C, 12)
_ACC_CODE, _ACC_LEN = _code_arrays(_AC_BITS_C, _AC_VALS_C, 256)

# 12-bit extended-sequential tables (T.81 allows any canonical DHT;
# Annex K publishes none for 12-bit, so these are flat deterministic
# sets: 16 five-bit DC categories 0..15 and 226 eight-bit AC symbols —
# EOB, ZRL and every (run 0..15, size 1..14) pair; canonical
# assignment keeps the all-ones code unused in both)
_DC12_BITS = [0, 0, 0, 0, 16, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC12_VALS = list(range(16))
_AC12_VALS = [0x00, 0xF0] + [
    (r << 4) | sz for sz in range(1, 15) for r in range(16) if sz != 0
]
_AC12_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC12_VALS), 0, 0, 0, 0, 0, 0, 0, 0]
_DC12_CODE, _DC12_LEN = _code_arrays(_DC12_BITS, _DC12_VALS, 16)
_AC12_CODE, _AC12_LEN = _code_arrays(_AC12_BITS, _AC12_VALS, 256)


def _mcu_perm(mcuy: int, mcux: int, vc: int, hc: int) -> np.ndarray:
    """Interleaved-scan permutation for one component: perm[j] = raster
    block index of the j-th block in T.81 MCU scan order (MCUs in
    raster order, hc×vc blocks per MCU in raster sub-order)."""
    return (
        np.arange(mcuy * vc * mcux * hc, dtype=np.int64)
        .reshape(mcuy, vc, mcux, hc)  # raster grid split as (my, by, mx, bx)
        .transpose(0, 2, 1, 3)  # scan order enumerates (my, mx, by, bx)
        .reshape(-1)
    )


def _component_symbols(
    zz: np.ndarray,
    slots: np.ndarray,
    dc_code: np.ndarray,
    dc_len: np.ndarray,
    ac_code: np.ndarray,
    ac_len: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One component's (sort-key, value, bitlength) symbol arrays.

    Fully vectorized: DC differentials, run-length AC symbols, ZRL
    fillers and EOBs are computed in numpy; the interleaved-MCU
    emission order is encoded in the key
    ``slot·270 + zigzag_pos·4 + sub`` — `slots` gives each block's
    global position in the T.81 scan (across all components), so a
    single stable argsort over all components yields the exact
    interleaved order for ANY sampling-factor combination. zz rows
    must already be in this component's scan order (DC differentials
    are taken row-to-row)."""
    nb = zz.shape[0]
    mcu_base = slots * 270

    # --- DC: differential code + amplitude -------------------------------
    dcs = zz[:, 0]
    diffs = np.diff(dcs, prepend=0)
    dsize = _CAT_LUT[np.abs(diffs)]
    damp_mask = dsize > 0
    damps = np.where(diffs >= 0, diffs, diffs + (1 << dsize) - 1)

    # --- AC: (run, size) symbols + amplitudes ----------------------------
    bid, kz = np.nonzero(zz[:, 1:])
    kz = kz + 1  # zigzag position (np.nonzero is row-major → in-block order)
    first = np.empty(len(bid), dtype=bool)
    if len(bid):
        first[0] = True
        first[1:] = bid[1:] != bid[:-1]
    prev_k = np.empty_like(kz)
    if len(kz):
        prev_k[0] = 0
        prev_k[1:] = kz[:-1]
        prev_k[first] = 0
    runs = kz - prev_k - 1
    n_zrl = runs // 16
    rem = runs % 16
    avals = zz[bid, kz]
    asize = _CAT_LUT[np.abs(avals)]
    aamps = np.where(avals >= 0, avals, avals + (1 << asize) - 1)
    sym = (rem << 4) | asize
    if (len(sym) and int(np.min(ac_len[sym])) == 0) or (
        len(dsize) and int(np.min(dc_len[dsize])) == 0
    ):
        # the component's Huffman table has no code for this symbol
        # (Annex-K tables stop at AC size 10 / DC size 11; the 12-bit
        # tables cover 14/15) — fail loudly rather than emit a
        # zero-length code into the bitstream
        raise ValueError("JPEG coefficient category outside the Huffman table")
    ac_keys = mcu_base[bid] + kz * 4

    # ZRL fillers precede their item's code at the same position
    zrl_keys = np.repeat(ac_keys, n_zrl)

    # EOB for every block whose last nonzero AC is before position 63
    last_nz = np.zeros(nb, dtype=np.int64)
    if len(bid):
        np.maximum.at(last_nz, bid, kz)
    eob_mask = last_nz < 63
    eob_keys = mcu_base[eob_mask] + 64 * 4

    keys = np.concatenate(
        [mcu_base, mcu_base[damp_mask] + 1, zrl_keys, ac_keys + 1, ac_keys + 2, eob_keys]
    )
    vals = np.concatenate(
        [
            dc_code[dsize],
            damps[damp_mask],
            np.full(len(zrl_keys), ac_code[0xF0], dtype=np.int64),
            ac_code[sym],
            aamps,
            np.full(int(eob_mask.sum()), ac_code[0x00], dtype=np.int64),
        ]
    )
    lens = np.concatenate(
        [
            dc_len[dsize],
            dsize[damp_mask],
            np.full(len(zrl_keys), ac_len[0xF0], dtype=np.int64),
            ac_len[sym],
            asize,
            np.full(int(eob_mask.sum()), ac_len[0x00], dtype=np.int64),
        ]
    )
    return keys, vals, lens


def _pack_symbols(keys: np.ndarray, vals: np.ndarray, lens: np.ndarray) -> bytes:
    """Order symbols by key, pack MSB-first with 1-padding, byte-stuff."""
    order = np.argsort(keys, kind="stable")
    vals, lens = vals[order], lens[order]
    ends = np.cumsum(lens)
    starts = ends - lens
    total = int(ends[-1]) if len(ends) else 0
    pad = (-total) % 8
    bits = np.ones(total + pad, dtype=np.uint8)  # padding bits are 1s
    for t in range(int(lens.max()) if len(lens) else 0):
        m = lens > t
        bits[starts[m] + t] = (vals[m] >> (lens[m] - 1 - t)) & 1
    packed = np.packbits(bits)
    ff = np.nonzero(packed == 0xFF)[0]
    if len(ff):
        packed = np.insert(packed, ff + 1, 0)  # stuff 0x00 after every 0xFF
    return packed.tobytes()


def _interleaved_scan(
    comps: list[tuple], nmcu: int, restart_interval: int = 0
) -> bytes:
    """Entropy-coded scan for components in T.81 interleave order.

    comps: (zz_in_scan_order, blocks_per_mcu, dc_code, dc_len,
    ac_code, ac_len) per component. With restart_interval > 0, the
    stream splits into byte-aligned segments of that many MCUs joined
    by RST0..RST7 markers (cycling), with DC predictors reset per
    segment (T.81 E.1.4 — the layout every camera JPEG uses)."""
    per_mcu = sum(c[1] for c in comps)
    offsets = np.cumsum([0] + [c[1] for c in comps])
    ri = restart_interval if restart_interval > 0 else nmcu
    out = bytearray()
    seg = 0
    for start in range(0, nmcu, ri):
        end = min(start + ri, nmcu)
        parts = []
        for ci, (zz, bpm, dc_c, dc_l, ac_c, ac_l) in enumerate(comps):
            chunk = zz[start * bpm : end * bpm]
            j = np.arange(chunk.shape[0], dtype=np.int64)
            slots = (j // bpm) * per_mcu + int(offsets[ci]) + j % bpm
            # _component_symbols takes DC diffs from a 0 predecessor —
            # exactly the per-segment predictor reset restarts require
            parts.append(_component_symbols(chunk, slots, dc_c, dc_l, ac_c, ac_l))
        if seg:
            out += bytes([0xFF, 0xD0 + ((seg - 1) % 8)])
        out += _pack_symbols(
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]),
        )
        seg += 1
    return bytes(out)


def _encode_scan(zz: np.ndarray, restart_interval: int = 0) -> bytes:
    """Single-component (greyscale) scan bytes."""
    return _interleaved_scan(
        [(zz, 1, _DC_CODE, _DC_LEN, _AC_CODE, _AC_LEN)], zz.shape[0], restart_interval
    )


def _rgb_to_ycbcr(img: np.ndarray, precision: int = 8) -> np.ndarray:
    """(H,W,3) RGB → (H,W,3) YCbCr (JFIF full-range; chroma centered
    at 2^(P-1) for deep precisions)."""
    half, top = float(1 << (precision - 1)), (1 << precision) - 1
    r = img[..., 0].astype(np.float64)
    g = img[..., 1].astype(np.float64)
    b = img[..., 2].astype(np.float64)
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + half
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + half
    return np.clip(np.round(np.stack([y, cb, cr], axis=-1)), 0, top).astype(
        np.uint8 if precision <= 8 else np.uint16
    )


def _ycbcr_to_rgb(planes: np.ndarray, precision: int = 8) -> np.ndarray:
    """(H,W,3) YCbCr → (H,W,3) RGB (JFIF full-range; chroma centered
    at 2^(P-1) for deep precisions)."""
    half, top = float(1 << (precision - 1)), (1 << precision) - 1
    y = planes[..., 0].astype(np.float64)
    cb = planes[..., 1].astype(np.float64) - half
    cr = planes[..., 2].astype(np.float64) - half
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, top).astype(
        np.uint8 if precision <= 8 else np.uint16
    )


def _plane_zz(
    plane: np.ndarray,
    q: np.ndarray,
    grid: tuple[int, int] | None = None,
    shift: float = 128.0,
) -> np.ndarray:
    """(H,W) uint8 plane → (nb, 64) quantized zigzag coefficients, in
    raster block order. `grid` = (block_rows, block_cols) pads beyond
    the minimal 8-multiple so the block grid tiles whole MCUs (e.g. a
    4:2:0 luma plane needs 16-pixel alignment)."""
    h, w = plane.shape
    if grid is None:
        ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    else:
        ph, pw = grid[0] * 8, grid[1] * 8
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    blocks = (
        padded.reshape(ph // 8, 8, pw // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
        .astype(np.float64)
        - shift
    )
    quant = np.round(_dct2(blocks) / q).astype(np.int64)
    return quant.reshape(-1, 64)[:, _ZIGZAG]


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment (shared by the grey and color framers — keep
    any marker-emission fix in ONE place)."""
    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H,W) uint8 greyscale or (H,W,3) uint8 RGB → baseline JFIF JPEG
    bytes (deterministic). Color uses YCbCr with the Annex-K
    chrominance quantization + Huffman tables; `subsampling` is one of
    "444" (default — no chroma subsampling), "422" (2×1), "440" (1×2)
    or "420" (2×2, box-average downsample — the dominant wild
    subformat, mainly for building decoder fixtures).
    `restart_interval` > 0 writes a DRI segment and splits the entropy
    stream with RSTn markers every that many MCUs (the camera-JPEG
    error-resilience layout)."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError(f"encode_jpeg expects uint8 (H,W) or (H,W,3), got {img.dtype} {img.shape}")
    if img.ndim == 3:
        if img.shape[2] != 3:
            raise ValueError(f"encode_jpeg expects 3 channels, got {img.shape}")
        return _encode_jpeg_color(img, quality, subsampling, restart_interval)
    if subsampling != "444":
        raise ValueError("subsampling applies to color images only")
    h, w = img.shape
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q = _scaled_qtable(quality)
    zz = _plane_zz(img, q)
    scan = _encode_scan(zz, restart_interval)
    seg = _seg

    out = bytearray(JPEG_SOI)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")  # APP0
    out += seg(0xFFDB, b"\x00" + bytes(q.reshape(-1)[_ZIGZAG].astype(np.uint8)))  # DQT
    out += seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")  # SOF0
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))  # DHT DC 0
    out += seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))  # DHT AC 0
    if restart_interval > 0:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    out += seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_extended(
    img: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """(H,W) grey or (H,W,3) RGB uint16 12-bit → EXTENDED SEQUENTIAL
    (SOF1) 12-bit JPEG — the lossy DCT layouts 12-bit DICOM transfer
    syntaxes and print masters use (color is 4:4:4 YCbCr with 12-bit
    chroma centering). The Annex-K tables scale by 16 to keep the
    8-bit relative step (written as 16-bit Pq=1 DQTs); Huffman tables
    are the flat deterministic 12-bit sets (_DC12/_AC12: DC categories
    to 15, AC sizes to 14) for every component. decode_jpeg returns
    uint16 with deep=True, else the top-8-bit projection."""
    if img.dtype != np.uint16 or img.ndim not in (2, 3):
        raise ValueError(
            f"encode_jpeg_extended expects uint16 (H,W) or (H,W,3), "
            f"got {img.dtype} {img.shape}"
        )
    if int(img.max(initial=0)) >> 12:
        raise ValueError("sample exceeds the 12-bit range")
    grey = img.ndim == 2
    h, w = img.shape[0], img.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q_lum = _scaled_qtable(quality) * 16
    tbls = (_DC12_CODE, _DC12_LEN, _AC12_CODE, _AC12_LEN)
    if grey:
        comps = [(_plane_zz(img, q_lum, shift=2048.0), 1, *tbls)]
        nmcu = comps[0][0].shape[0]
    else:
        q_chr = _scaled_qtable(quality, _QTABLE_K2) * 16
        ycc = _rgb_to_ycbcr(img, precision=12)
        comps = [(_plane_zz(ycc[..., 0], q_lum, shift=2048.0), 1, *tbls)]
        for c in (1, 2):
            comps.append(
                (_plane_zz(ycc[..., c], q_chr, shift=2048.0), 1, *tbls)
            )
        nmcu = comps[0][0].shape[0]
    scan = _interleaved_scan(comps, nmcu, restart_interval)
    seg = _seg
    out = bytearray(JPEG_SOI)
    out += seg(
        0xFFDB,
        b"\x10" + struct.pack(">64H", *q_lum.reshape(-1)[_ZIGZAG]),  # Pq=1
    )
    if not grey:
        out += seg(
            0xFFDB, b"\x11" + struct.pack(">64H", *q_chr.reshape(-1)[_ZIGZAG])
        )
    sof = struct.pack(">BHHB", 12, h, w, 1 if grey else 3)
    for c in range(1 if grey else 3):
        sof += bytes([c + 1, 0x11, 0 if c == 0 else 1])
    out += seg(0xFFC1, sof)
    out += seg(0xFFC4, b"\x00" + bytes(_DC12_BITS) + bytes(_DC12_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_AC12_BITS) + bytes(_AC12_VALS))
    if not grey:
        out += seg(0xFFC4, b"\x01" + bytes(_DC12_BITS) + bytes(_DC12_VALS))
        out += seg(0xFFC4, b"\x11" + bytes(_AC12_BITS) + bytes(_AC12_VALS))
    if restart_interval > 0:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([1 if grey else 3])
    for c in range(1 if grey else 3):
        tb = 0 if c == 0 else 1
        sos += bytes([c + 1, (tb << 4) | tb])
    out += seg(0xFFDA, sos + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


_SUBSAMPLING_FACTORS = {"444": (1, 1), "422": (2, 1), "440": (1, 2), "420": (2, 2)}


def _box_downsample(plane: np.ndarray, fh: int, fv: int) -> np.ndarray:
    """(H,W) uint8 → box-averaged (ceil(H/fv), ceil(W/fh)) uint8 (edge-
    padded to full boxes; round-half-up for determinism)."""
    if fh == 1 and fv == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fv) * fv, -(-w // fh) * fh
    padded = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    boxes = padded.reshape(ph // fv, fv, pw // fh, fh).astype(np.int64)
    sums = boxes.sum(axis=(1, 3))
    return ((sums + (fh * fv) // 2) // (fh * fv)).astype(np.uint8)


def _encode_jpeg_color(
    img: np.ndarray, quality: int, subsampling: str, restart_interval: int = 0
) -> bytes:
    """(H,W,3) RGB → 3-component interleaved baseline JFIF (4:4:4,
    4:2:2, 4:4:0 or 4:2:0 per `subsampling`)."""
    if subsampling not in _SUBSAMPLING_FACTORS:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING_FACTORS)}")
    hY, vY = _SUBSAMPLING_FACTORS[subsampling]
    h, w = img.shape[0], img.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    ycc = _rgb_to_ycbcr(img)
    q_lum = _scaled_qtable(quality)
    q_chr = _scaled_qtable(quality, _QTABLE_K2)
    # MCU grid from the luma factors; chroma is always 1×1 here
    mcux, mcuy = -(-w // (8 * hY)), -(-h // (8 * vY))
    bpm = hY * vY  # luma blocks per MCU

    # luma: pad to whole MCUs, reorder raster blocks into MCU scan order
    zz_y = _plane_zz(ycc[..., 0], q_lum, grid=(mcuy * vY, mcux * hY))
    zz_y = zz_y[_mcu_perm(mcuy, mcux, vY, hY)]
    comps = [(zz_y, bpm, _DC_CODE, _DC_LEN, _AC_CODE, _AC_LEN)]
    for comp in (1, 2):
        sub = _box_downsample(ycc[..., comp], hY, vY)
        zz_c = _plane_zz(sub, q_chr, grid=(mcuy, mcux))  # 1 block/MCU: raster=scan
        comps.append((zz_c, 1, _DCC_CODE, _DCC_LEN, _ACC_CODE, _ACC_LEN))
    scan = _interleaved_scan(comps, mcux * mcuy, restart_interval)

    seg = _seg

    out = bytearray(JPEG_SOI)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(q_lum.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(q_chr.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    # SOF0: 3 components, ids 1/2/3, luma (hY,vY) / chroma 1x1, qtables 0/1/1
    out += seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([0x01, (hY << 4) | vY, 0x00])
        + b"\x02\x11\x01"
        + b"\x03\x11\x01",
    )
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += seg(0xFFC4, b"\x01" + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
    out += seg(0xFFC4, b"\x11" + bytes(_AC_BITS_C) + bytes(_AC_VALS_C))
    if restart_interval > 0:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))  # DRI
    # SOS: 3 components, (dc,ac) table ids 0/0, 1/1, 1/1
    out += seg(0xFFDA, b"\x03\x01\x00\x02\x11\x03\x11\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_cmyk(
    cmyk: np.ndarray, quality: int = 90, ycck: bool = False, adobe: bool = True
) -> bytes:
    """(H,W,4) TRUE CMYK → 4-component JPEG fixture bytes (4:4:4, one
    interleaved scan). uint8 input writes baseline SOF0 with Annex-K
    luminance tables for all components; uint16 input writes the
    12-BIT print-master layout (extended-sequential SOF1, 16-bit
    Pq=1 DQTs scaled by 16, the deterministic 12-bit huffman sets).
    `adobe=True` writes what Adobe tooling writes — INVERTED samples
    + an APP14 marker (transform 0, or 2 with `ycck=True`, where the
    inverted CMY further goes through the YCbCr matrix);
    `adobe=False` stores true CMYK with no APP14 (the bare
    print-workflow layout). Exists to roundtrip-test the decoder's
    4-component flavors without any image library."""
    if cmyk.dtype not in (np.uint8, np.uint16) or cmyk.ndim != 3 or cmyk.shape[2] != 4:
        raise ValueError(
            f"encode_jpeg_cmyk expects (H,W,4) uint8/uint16, got {cmyk.dtype} {cmyk.shape}"
        )
    deep = cmyk.dtype == np.uint16
    if deep and int(cmyk.max(initial=0)) >> 12:
        raise ValueError("sample exceeds the 12-bit range")
    if ycck and not adobe:
        raise ValueError("YCCK requires the Adobe APP14 marker")
    h, w = cmyk.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    maxv = 4095 if deep else 255
    if adobe:
        stored = maxv - cmyk  # Adobe stores inverted CMYK
        if ycck:
            stored = np.concatenate(
                [
                    _rgb_to_ycbcr(stored[..., :3], precision=12 if deep else 8),
                    stored[..., 3:],
                ],
                axis=-1,
            )
    else:
        stored = cmyk
    qscale, shift = (16, 2048.0) if deep else (1, 128.0)
    q = _scaled_qtable(quality) * qscale
    tbls = (
        (_DC12_CODE, _DC12_LEN, _AC12_CODE, _AC12_LEN)
        if deep
        else (_DC_CODE, _DC_LEN, _AC_CODE, _AC_LEN)
    )
    mcux, mcuy = -(-w // 8), -(-h // 8)
    comps = []
    for c in range(4):
        zz = _plane_zz(stored[..., c], q, grid=(mcuy, mcux), shift=shift)
        comps.append((zz, 1, *tbls))
    scan = _interleaved_scan(comps, mcux * mcuy, 0)

    out = bytearray(JPEG_SOI)
    if adobe:
        transform = 2 if ycck else 0
        out += _seg(
            0xFFEE, b"Adobe" + struct.pack(">HHHB", 0x65, 0, 0, transform)
        )
    if deep:
        out += _seg(
            0xFFDB, b"\x10" + struct.pack(">64H", *q.reshape(-1)[_ZIGZAG])
        )
    else:
        out += _seg(
            0xFFDB, b"\x00" + bytes(q.reshape(-1)[_ZIGZAG].astype(np.uint8))
        )
    sof = struct.pack(">BHHB", 12 if deep else 8, h, w, 4)
    for cid in (1, 2, 3, 4):
        sof += bytes([cid, 0x11, 0x00])
    out += _seg(0xFFC1 if deep else 0xFFC0, sof)
    if deep:
        out += _seg(0xFFC4, b"\x00" + bytes(_DC12_BITS) + bytes(_DC12_VALS))
        out += _seg(0xFFC4, b"\x10" + bytes(_AC12_BITS) + bytes(_AC12_VALS))
    else:
        out += _seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
        out += _seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = bytes([4]) + b"".join(bytes([cid, 0x00]) for cid in (1, 2, 3, 4))
    out += _seg(0xFFDA, sos + b"\x00\x3f\x00")
    out += scan
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_multiscan(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H,W,3) RGB → baseline SOF0 JFIF with one NON-interleaved scan
    per component (T.81 A.2.2 — the multi-scan layout some scanners
    produce). Fixture generator: quantized coefficients match the
    interleaved encoder's, so both streams decode identically."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_jpeg_multiscan expects (H,W,3) uint8")
    if subsampling not in _SUBSAMPLING_FACTORS:
        raise ValueError(f"subsampling must be one of {sorted(_SUBSAMPLING_FACTORS)}")
    hY, vY = _SUBSAMPLING_FACTORS[subsampling]
    h, w = img.shape[0], img.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q_lum = _scaled_qtable(quality)
    q_chr = _scaled_qtable(quality, _QTABLE_K2)
    ycc = _rgb_to_ycbcr(img)
    mcux, mcuy = -(-w // (8 * hY)), -(-h // (8 * vY))
    # raster-order coefficient planes (MCU-padded grids, like the
    # progressive encoder)
    zz = [_plane_zz(ycc[..., 0], q_lum, grid=(mcuy * vY, mcux * hY))]
    for comp in (1, 2):
        zz.append(
            _plane_zz(_box_downsample(ycc[..., comp], hY, vY), q_chr, grid=(mcuy, mcux))
        )
    samp = [(hY, vY), (1, 1), (1, 1)]
    tables = [
        (_DC_CODE, _DC_LEN, _AC_CODE, _AC_LEN),
        (_DCC_CODE, _DCC_LEN, _ACC_CODE, _ACC_LEN),
        (_DCC_CODE, _DCC_LEN, _ACC_CODE, _ACC_LEN),
    ]

    seg = _seg
    out = bytearray(JPEG_SOI)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, b"\x00" + bytes(q_lum.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    out += seg(0xFFDB, b"\x01" + bytes(q_chr.reshape(-1)[_ZIGZAG].astype(np.uint8)))
    sof = struct.pack(">BHHB", 8, h, w, 3)
    for c, (hc, vc) in enumerate(samp):
        sof += bytes([c + 1, (hc << 4) | vc, 0 if c == 0 else 1])
    out += seg(0xFFC0, sof)
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    out += seg(0xFFC4, b"\x01" + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
    out += seg(0xFFC4, b"\x11" + bytes(_AC_BITS_C) + bytes(_AC_VALS_C))
    if restart_interval > 0:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))
    for c in range(3):
        hc, vc = samp[c]
        bh_n, bw_n, stride = _noninterleaved_grid(hc, vc, h, w, hY, vY, mcux)
        rows = [r * stride + cc for r in range(bh_n) for cc in range(bw_n)]
        dc_c, dc_l, ac_c, ac_l = tables[c]
        scan = _interleaved_scan(
            [(zz[c][rows], 1, dc_c, dc_l, ac_c, ac_l)], len(rows), restart_interval
        )
        tblc = 0 if c == 0 else 1
        out += seg(0xFFDA, bytes([1, c + 1, (tblc << 4) | tblc, 0, 63, 0]))
        out += scan
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(H,W) grey / (H,W,3) RGB → PROGRESSIVE (SOF2) JFIF bytes.

    Fixture generator for the progressive decode path (the second wild
    JPEG layout after baseline 4:2:0): a libjpeg-style scan script with
    spectral selection AND successive approximation — DC first at
    Al=1 + DC refinement, banded AC first scans at Al=2/1 + AC
    refinement scans down to Al=0 — so every decoder branch (EOB runs,
    ZRL-in-refinement, correction bits, per-scan restart resync) is
    exercised. Quantized coefficients are identical to the baseline
    encoder's, so decode(progressive) == decode(baseline) EXACTLY.
    uint16 input writes the 12-bit flavor (SOF2 precision 12, 16-bit
    Pq=1 DQTs scaled by 16, shift 2048) — quantized coefficients stay
    in the 8-bit tables' range because sample and step scale cancel."""
    if img.dtype not in (np.uint8, np.uint16) or img.ndim not in (2, 3):
        raise ValueError(
            f"encode_jpeg_progressive expects uint8/uint16 (H,W) or (H,W,3), "
            f"got {img.dtype} {img.shape}"
        )
    deep = img.dtype == np.uint16
    if deep and int(img.max(initial=0)) >> 12:
        raise ValueError("sample exceeds the 12-bit range")
    qscale, shift, prec = (16, 2048.0, 12) if deep else (1, 128.0, 8)
    grey = img.ndim == 2
    h, w = img.shape[0], img.shape[1]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    q_lum = _scaled_qtable(quality) * qscale
    if grey:
        if subsampling != "444":
            raise ValueError("subsampling applies to color images only")
        hY = vY = 1
        mcux, mcuy = -(-w // 8), -(-h // 8)
        zz = [_plane_zz(img, q_lum, grid=(mcuy, mcux), shift=shift)]
        samp = [(1, 1)]
    else:
        if subsampling not in _SUBSAMPLING_FACTORS:
            raise ValueError(
                f"subsampling must be one of {sorted(_SUBSAMPLING_FACTORS)}"
            )
        if deep and subsampling != "444":
            raise ValueError("12-bit progressive color is written 4:4:4 here")
        hY, vY = _SUBSAMPLING_FACTORS[subsampling]
        q_chr = _scaled_qtable(quality, _QTABLE_K2) * qscale
        ycc = _rgb_to_ycbcr(img, precision=prec)
        mcux, mcuy = -(-w // (8 * hY)), -(-h // (8 * vY))
        zz = [
            _plane_zz(ycc[..., 0], q_lum, grid=(mcuy * vY, mcux * hY), shift=shift)
        ]
        for comp in (1, 2):
            sub = _box_downsample(ycc[..., comp], hY, vY)
            zz.append(_plane_zz(sub, q_chr, grid=(mcuy, mcux), shift=shift))
        samp = [(hY, vY), (1, 1), (1, 1)]

    dc_codes = [_canonical_codes(_DC_BITS, _DC_VALS)] + [
        _canonical_codes(_DC_BITS_C, _DC_VALS_C)
    ] * (0 if grey else 2)
    # progressive AC scans need EOBn symbols (cross-block EOB runs) that
    # the Kraft-full Annex-K baseline tables cannot carry — use the
    # custom progressive table (emitted via DHT, so the decoder reads
    # it from the file like any foreign table)
    ac_bits, ac_vals = _progressive_ac_table()
    ac_codes = [_canonical_codes(ac_bits, ac_vals)] * (1 if grey else 3)

    if grey:
        script = [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 1, 63, 2, 1),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
        ]
    else:
        script = [
            ([0, 1, 2], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([1], 1, 63, 0, 1),
            ([2], 1, 63, 0, 1),
            ([0], 1, 63, 2, 1),
            ([0, 1, 2], 0, 0, 1, 0),
            ([0], 1, 63, 1, 0),
            ([1], 1, 63, 1, 0),
            ([2], 1, 63, 1, 0),
        ]

    seg = _seg
    out = bytearray(JPEG_SOI)
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    if deep:
        out += seg(0xFFDB, b"\x10" + struct.pack(">64H", *q_lum.reshape(-1)[_ZIGZAG]))
        if not grey:
            out += seg(
                0xFFDB, b"\x11" + struct.pack(">64H", *q_chr.reshape(-1)[_ZIGZAG])
            )
    else:
        out += seg(0xFFDB, b"\x00" + bytes(q_lum.reshape(-1)[_ZIGZAG].astype(np.uint8)))
        if not grey:
            out += seg(
                0xFFDB, b"\x01" + bytes(q_chr.reshape(-1)[_ZIGZAG].astype(np.uint8))
            )
    sof = struct.pack(">BHHB", prec, h, w, 1 if grey else 3)
    for c, (hc, vc) in enumerate(samp):
        sof += bytes([c + 1, (hc << 4) | vc, 0 if c == 0 else 1])
    out += seg(0xFFC2, sof)  # SOF2: progressive DCT
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(ac_bits) + bytes(ac_vals))
    if not grey:
        out += seg(0xFFC4, b"\x01" + bytes(_DC_BITS_C) + bytes(_DC_VALS_C))
        out += seg(0xFFC4, b"\x11" + bytes(ac_bits) + bytes(ac_vals))
    if restart_interval > 0:
        out += seg(0xFFDD, struct.pack(">H", restart_interval))

    for comps, ss, se, ah, al in script:
        hdr = bytes([len(comps)])
        for idx in comps:
            tblc = 0 if idx == 0 else 1
            hdr += bytes([idx + 1, (tblc << 4) | tblc])
        hdr += bytes([ss, se, (ah << 4) | al])
        out += seg(0xFFDA, hdr)
        out += _emit_progressive_scan(
            zz, samp, comps, ss, se, ah, al, mcux, mcuy,
            dc_codes, ac_codes, h, w, restart_interval,
        )
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# lossless JPEG (T.81 Annex H, process SOF3)
# ---------------------------------------------------------------------------

# canonical Huffman table covering the full lossless SSSS range 0..16
# (the DCT tables stop at 11; H.2.2 needs 16 for deep-precision diffs)
_DC_BITS_LL = [0, 1, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
_DC_VALS_LL = list(range(17))


def encode_jpeg_lossless(
    img: np.ndarray,
    predictor: int = 1,
    point_transform: int = 0,
    restart_interval: int = 0,
    precision: int | None = None,
) -> bytes:
    """(H,W) grey / (H,W,3) RGB, uint8 or uint16 → LOSSLESS JPEG (T.81
    Annex H, process SOF3: Huffman-coded prediction differences, no
    DCT — the DICOM / raw-scanner layout). Bit-exact roundtrip with
    decode_jpeg(deep=True) for point_transform=0; with Pt>0 the low Pt
    bits are discarded by definition (H.1.1). `precision` is the
    sample depth P (2..16; defaults to 8 for uint8 input, 16 for
    uint16 — the 12-bit DICOM layout is precision=12 on uint16 data);
    samples must fit P bits. 3-component frames hold the planes
    verbatim (Annex H defines no colour transform). `restart_interval`
    counts samples (the lossless MCU); at each boundary prediction
    resets to the scan-start default, the convention decode side
    shares. Predictor selection value 1-7 per H.1.2.1. Differences are
    coded modulo 65536 into the SSSS window with 32768 ↔ SSSS=16
    (H.1.2.1 / H.2.2)."""
    if img.dtype not in (np.uint8, np.uint16) or img.ndim not in (2, 3):
        raise ValueError("encode_jpeg_lossless expects (H,W)/(H,W,3) uint8/uint16")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError(f"expected 3 colour channels, got {img.shape[2]}")
    if img.shape[0] == 0 or img.shape[1] == 0:
        raise ValueError("empty image")
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor must be 1..7, got {predictor}")
    if precision is None:
        precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"lossless precision must be 2..16, got {precision}")
    if int(img.max(initial=0)) >> precision:
        raise ValueError(f"sample exceeds the declared {precision}-bit precision")
    if not 0 <= point_transform <= precision - 1:
        raise ValueError(
            f"point transform must be 0..{precision - 1}, got {point_transform}"
        )
    h, w = img.shape[:2]
    pt = point_transform
    planes = (
        [img.astype(np.int64) >> pt]
        if img.ndim == 2
        else [img[:, :, c].astype(np.int64) >> pt for c in range(3)]
    )
    default = 1 << (precision - 1 - pt)

    diffs = []
    for p in planes:
        pred = np.empty((h, w), dtype=np.int64)
        pred[0, 0] = default
        if w > 1:
            pred[0, 1:] = p[0, :-1]  # first line: Ra (H.1.2.2)
        if h > 1:
            pred[1:, 0] = p[:-1, 0]  # first column: Rb
        if h > 1 and w > 1:
            ra, rb, rc = p[1:, :-1], p[:-1, 1:], p[:-1, :-1]
            pred[1:, 1:] = {
                1: ra,
                2: rb,
                3: rc,
                4: ra + rb - rc,
                5: ra + ((rb - rc) >> 1),
                6: rb + ((ra - rc) >> 1),
                7: (ra + rb) >> 1,
            }[predictor]
        d = p - pred
        if restart_interval:
            # boundary samples predict from the default, like scan start
            k = np.arange(h * w).reshape(h, w)
            at = (k > 0) & (k % restart_interval == 0)
            d[at] = p[at] - default
        # modulo-65536 window (H.1.2.1): diffs land in [-32767, 32768],
        # with 32768 carried as -32768 and coded as SSSS=16, no bits
        diffs.append((((d + 32768) & 0xFFFF) - 32768).reshape(-1))

    codes = _canonical_codes(_DC_BITS_LL, _DC_VALS_LL)
    # vectorized entropy pass (was a per-sample _BitWriter loop, ~40 ms
    # per page — 20x the packed path): every sample emits its category
    # code then its amplitude bits, so the stream is two fixed slots
    # per sample packed MSB-first with 1-padding + byte stuffing —
    # exactly _pack_symbols' contract, shared with the baseline scan
    # encoder. Bit-identical output by construction.
    code_arr = np.zeros(17, dtype=np.int64)
    len_arr = np.zeros(17, dtype=np.int64)
    for s_, (c_, l_) in codes.items():
        code_arr[s_], len_arr[s_] = c_, l_
    ncomp_ = len(diffs)
    # (sample, component) emission order → k-major, comp-minor flat
    dmat = np.stack(diffs, axis=1).reshape(-1)
    mag = np.abs(dmat)
    # bit_length via frexp's exponent (exact: |d| <= 32768 << 2^53)
    ssss = np.frexp(mag.astype(np.float64))[1].astype(np.int64)
    is_min = dmat == -32768  # the 32768 point: SSSS=16, no extra bits
    ssss[is_min] = 16
    amp_len = np.where(is_min, 0, ssss)
    width = np.left_shift(np.int64(1), ssss) - 1
    amp = np.where(dmat >= 0, dmat, dmat + width) & width
    n = h * w
    ri = restart_interval if restart_interval else n
    entropy = bytearray()
    for seg_i, start in enumerate(range(0, n, ri)):
        if seg_i:
            entropy += bytes([0xFF, 0xD0 + ((seg_i - 1) % 8)])
        sl = slice(start * ncomp_, min(start + ri, n) * ncomp_)
        m2 = 2 * (sl.stop - sl.start)
        vals = np.empty(m2, dtype=np.int64)
        lens = np.empty(m2, dtype=np.int64)
        vals[0::2] = code_arr[ssss[sl]]
        lens[0::2] = len_arr[ssss[sl]]
        vals[1::2] = amp[sl]
        lens[1::2] = amp_len[sl]
        entropy += _pack_symbols(np.arange(m2, dtype=np.int64), vals, lens)

    ncomp = len(planes)
    out = bytearray(JPEG_SOI)
    out += _seg(0xFFC4, b"\x00" + bytes(_DC_BITS_LL) + bytes(_DC_VALS_LL))
    sof = struct.pack(">BHHB", precision, h, w, ncomp)
    for c in range(ncomp):
        sof += bytes([c + 1, 0x11, 0])  # 1x1 sampling, Tq unused (H.2)
    out += _seg(0xFFC3, sof)
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for c in range(ncomp):
        sos += bytes([c + 1, 0x00])  # DC table 0, no AC table
    sos += bytes([predictor, 0, pt])  # Ss=predictor, Se=0, Ah=0, Al=Pt
    out += _seg(0xFFDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


def _reconstruct_lossless(
    d: np.ndarray, sel: int, default: int, restart_interval: int
) -> np.ndarray:
    """Difference plane → sample plane. Predictors 1/2/4 telescope into
    pure cumsums (restart-free streams), predictor 3 vectorizes per
    row; 5-7 carry a floor-shift non-linearity, so they (and any
    restart-interval stream) take the per-sample reference loop.
    Addition commutes with mod 2^16, so the vector paths mask once at
    the end (H.1.2.1's modulo-65536 arithmetic)."""
    h, w = d.shape
    if not restart_interval:
        if sel == 1:
            col0 = np.cumsum(d[:, 0]) + default
            return np.cumsum(np.concatenate([col0[:, None], d[:, 1:]], axis=1), axis=1) & 0xFFFF
        if sel == 2:
            row0 = np.cumsum(d[0]) + default
            return np.cumsum(np.vstack([row0, d[1:]]), axis=0) & 0xFFFF
        if sel == 4:
            row0 = np.cumsum(d[0]) + default
            if h == 1:
                return row0[None, :] & 0xFFFF
            g = np.cumsum(np.cumsum(d[1:], axis=1), axis=0)
            return np.vstack([row0, row0[None, :] + g]) & 0xFFFF
        if sel == 3:
            v = np.empty((h, w), dtype=np.int64)
            v[0] = (np.cumsum(d[0]) + default) & 0xFFFF
            for y in range(1, h):
                v[y, 0] = (v[y - 1, 0] + d[y, 0]) & 0xFFFF
                if w > 1:
                    v[y, 1:] = (v[y - 1, :-1] + d[y, 1:]) & 0xFFFF
            return v
        if sel == 5:
            # ra enters the recursion additively only, so each row is a
            # prefix sum of d + the previous row's shift terms; mod 2^16
            # commutes with the additions, and the floor-shift reads the
            # already-masked previous row — identical to the per-sample
            # reference
            v = np.empty((h, w), dtype=np.int64)
            v[0] = (np.cumsum(d[0]) + default) & 0xFFFF
            for y in range(1, h):
                t = d[y].copy()
                t[0] += v[y - 1, 0]
                if w > 1:
                    t[1:] += (v[y - 1, 1:] - v[y - 1, :-1]) >> 1
                v[y] = np.cumsum(t) & 0xFFFF
            return v
    # generic per-sample reference (predictors 6/7 carry the running
    # value inside a floor shift; restart streams reset mid-row):
    # row-local python ints — numpy scalar indexing here measured ~4x
    # slower than list arithmetic
    v = np.empty((h, w), dtype=np.int64)
    prev: list[int] = []
    k = 0
    for y in range(h):
        drow = d[y].tolist()
        row = [0] * w
        for x in range(w):
            if restart_interval and k and k % restart_interval == 0:
                pred = default
            elif y == 0 and x == 0:
                pred = default
            elif y == 0:
                pred = row[x - 1]
            elif x == 0:
                pred = prev[0]
            else:
                ra, rb, rc = row[x - 1], prev[x], prev[x - 1]
                if sel == 1:
                    pred = ra
                elif sel == 2:
                    pred = rb
                elif sel == 3:
                    pred = rc
                elif sel == 4:
                    pred = ra + rb - rc
                elif sel == 5:
                    pred = ra + ((rb - rc) >> 1)
                elif sel == 6:
                    pred = rb + ((ra - rc) >> 1)
                else:
                    pred = (ra + rb) >> 1
            row[x] = (pred + drow[x]) & 0xFFFF
            k += 1
        v[y] = row
        prev = row
    return v


def _decode_lossless_scan(
    data: bytes,
    pos: int,
    body: bytes,
    comp_ids: list[int],
    huff: dict,
    h: int,
    w: int,
    restart_interval: int,
    precision: int = 8,
    deep: bool = False,
) -> np.ndarray:
    """One interleaved lossless scan (all components, 1x1 sampling) →
    final (H,W)/(H,W,3) image. Phase 1 Huffman-decodes the difference
    streams sequentially (SSSS categories through the same 16-bit-LUT
    tables as the DCT paths; SSSS=16 means diff=32768 with no extra
    bits, H.2.2); phase 2 reconstructs via _reconstruct_lossless.
    `precision` is the SOF3 sample depth P (2..16). `deep=True`
    returns the full-precision samples (uint16 for P>8); otherwise the
    image seam's uint8 projection: top 8 bits for P>8, left-aligned
    for P<8 (the PNG-16 convention)."""
    ncomp = body[0]
    if ncomp != len(comp_ids):
        raise NotImplementedError(
            "lossless JPEG with non-interleaved multi-scan layout not supported"
        )
    if not 2 <= precision <= 16:
        raise ValueError(f"illegal lossless JPEG precision {precision}")
    order = []
    tbls = []
    for c in range(ncomp):
        cid, tbl_byte = body[1 + 2 * c], body[2 + 2 * c]
        if cid not in comp_ids:
            raise ValueError(f"lossless scan names unknown component id {cid}")
        order.append(comp_ids.index(cid))
        tbls.append(huff[(0, tbl_byte >> 4)])
    sel = body[1 + 2 * ncomp]
    pt = body[3 + 2 * ncomp] & 0x0F
    if not 1 <= sel <= 7:
        raise ValueError(f"illegal lossless predictor selection {sel}")
    if pt >= precision:
        raise ValueError(
            f"lossless point transform {pt} >= precision {precision}"
        )

    n = h * w
    diffs = [np.empty(n, dtype=np.int64) for _ in range(ncomp)]
    # combined (category code + amplitude) 16-bit LUT per table, with
    # the bit accumulator inlined into the loop: one list lookup per
    # sample instead of peek/skip/read_bits/extend calls (measured ~4x
    # on the scan). Windows whose code+amplitude exceed 16 bits (or
    # that land near the stream tail) fall back to the generic reader
    # calls with identical consumption semantics.
    fast = [_category_lut(t, ssss16=True) for t in tbls]
    reader = _BitReader(data, pos)
    seg_i = 0
    k = 0
    while k < n:
        limit = min(n, k + restart_interval) if restart_interval else n
        buf, nbuf = reader.data, reader.n
        acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
        while k < limit:
            for c in range(ncomp):
                while nbits < 16 and bpos < nbuf:
                    acc = (acc << 8) | buf[bpos]
                    bpos += 1
                    nbits += 8
                p16 = (
                    (acc >> (nbits - 16)) & 0xFFFF
                    if nbits >= 16
                    else (acc << (16 - nbits)) & 0xFFFF
                )
                val_lut, tot_lut = fast[c]
                t = tot_lut[p16]
                if t and t <= nbits:
                    diffs[c][k] = val_lut[p16]
                    nbits -= t
                    acc &= (1 << nbits) - 1
                else:
                    reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
                    s = _decode_huffman(reader, tbls[c])
                    diffs[c][k] = (
                        32768 if s == 16 else _extend(reader.read_bits(s), s)
                    )
                    acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
            k += 1
        reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
        if k < n:
            reader = _expect_rst(data, reader, seg_i)
            seg_i += 1

    default = 1 << (precision - 1 - pt)
    full_dtype = np.uint16 if precision > 8 else np.uint8
    planes: list[np.ndarray | None] = [None] * ncomp
    for j in range(ncomp):  # j-th component IN SCAN ORDER → SOF slot order[j]
        v = _reconstruct_lossless(diffs[j].reshape(h, w), sel, default, restart_interval)
        v <<= pt
        if v.max(initial=0) > (1 << precision) - 1:
            raise ValueError(
                f"lossless JPEG sample exceeds the {precision}-bit range"
            )
        if deep:
            v = v.astype(full_dtype)
        elif precision > 8:  # uint8 projection: top 8 bits (PNG-16 style)
            v = (v >> (precision - 8)).astype(np.uint8)
        else:  # left-align shallow samples into the 8-bit range
            v = (v << (8 - precision)).astype(np.uint8)
        planes[order[j]] = v
    if ncomp == 1:
        return planes[0]
    return np.stack(planes, axis=-1)


def _emit_progressive_scan(
    zz, samp, comps, ss, se, ah, al, mcux, mcuy, dc_codes, ac_codes,
    h, w, restart_interval,
):
    """One progressive scan's entropy bytes (RSTn-separated segments
    when restart_interval > 0). Mirrors _decode_progressive_scan."""
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    def units_dc():
        if len(comps) > 1:
            perms = {
                i: _mcu_perm(mcuy, mcux, samp[i][1], samp[i][0]) for i in comps
            }
            us = []
            for m in range(mcux * mcuy):
                for i in comps:
                    bpm = samp[i][0] * samp[i][1]
                    for r in range(bpm):
                        us.append((i, int(perms[i][m * bpm + r])))
            per_ri = restart_interval * sum(samp[i][0] * samp[i][1] for i in comps)
        else:
            i = comps[0]
            hc, vc = samp[i]
            bh_n, bw_n, stride = _noninterleaved_grid(hc, vc, h, w, hmax, vmax, mcux)
            us = [(i, r * stride + c) for r in range(bh_n) for c in range(bw_n)]
            per_ri = restart_interval
        return us, per_ri

    segments: list[bytes] = []
    if ss == 0:  # DC scan
        units, per_ri = units_dc()
        chunk = per_ri if restart_interval else len(units)
        for start in range(0, len(units), max(chunk, 1)):
            bw_ = _BitWriter()
            preds: dict[int, int] = {}
            for i, row in units[start : start + chunk]:
                v = int(zz[i][row, 0]) >> al  # arithmetic shift (T.81 G.1.2.1)
                if ah == 0:
                    diff = v - preds.get(i, 0)
                    preds[i] = v
                    size = abs(diff).bit_length()
                    code, length = dc_codes[i][size]
                    bw_.bits(code, length)
                    if size:
                        amp = diff if diff >= 0 else diff + (1 << size) - 1
                        bw_.bits(amp, size)
                else:
                    bw_.bit(v & 1)
            segments.append(bw_.flush())
    else:  # AC scan: single component
        i = comps[0]
        hc, vc = samp[i]
        bh_n, bw_n, stride = _noninterleaved_grid(hc, vc, h, w, hmax, vmax, mcux)
        rows = [r * stride + c for r in range(bh_n) for c in range(bw_n)]
        codes = ac_codes[i]
        chunk = restart_interval if restart_interval else len(rows)
        for start in range(0, len(rows), max(chunk, 1)):
            bw_ = _BitWriter()
            pending = 0  # cross-block EOB run (first scans only)

            def flush_eob(bw_=bw_):
                nonlocal pending
                while pending:
                    n = min(pending, 32767)
                    r = n.bit_length() - 1
                    code, length = codes[r << 4]
                    bw_.bits(code, length)
                    if r:
                        bw_.bits(n - (1 << r), r)
                    pending -= n

            for row in rows[start : start + chunk]:
                coefv = zz[i][row]
                if ah == 0:
                    if all(
                        (abs(int(coefv[k])) >> al) == 0 for k in range(ss, se + 1)
                    ):
                        pending += 1  # whole band zero: extend the run
                        continue
                    flush_eob()
                    if _emit_ac_first_block(bw_, coefv, ss, se, al, codes):
                        pending = 1  # trailing zeros start a new run
                else:
                    _emit_ac_refine_block(bw_, coefv, ss, se, al, codes)
            flush_eob()
            segments.append(bw_.flush())
    out = bytearray()
    for k, s in enumerate(segments):
        if k:
            out += bytes([0xFF, 0xD0 + ((k - 1) % 8)])
        out += s
    return bytes(out)


def _progressive_ac_table() -> tuple[list[int], list[int]]:
    """Custom AC Huffman table for progressive scans: the Annex-K
    baseline tables are Kraft-FULL (their only free 16-bit slot is the
    reserved all-ones code), so the EOBn symbols (0x10..0xE0) that
    cross-block EOB runs need cannot be appended to them. Instead:
    every symbol a progressive AC scan can emit — EOB0..EOB14, ZRL,
    and (run,size) for size 1..10 — as a flat 8-bit canonical code
    (176 symbols ≪ 256: legal, prefix-free, no all-ones). Emitted via
    DHT like any custom table; compression is secondary for fixtures."""
    vals = [r << 4 for r in range(15)]  # EOB0..EOB14
    vals.append(0xF0)  # ZRL
    for r in range(16):
        for s in range(1, 11):
            vals.append((r << 4) | s)
    bits = [0] * 16
    bits[7] = len(vals)  # all at code length 8
    return bits, vals


def _emit_ac_first_block(bw_, coefv, ss, se, al, codes) -> bool:
    """First AC scan for one block (which has at least one significant
    coefficient): run-length symbols over |coef|>>Al. Returns True if
    the block ends with trailing zeros (the caller folds them into a
    cross-block EOB run)."""
    r = 0
    for k in range(ss, se + 1):
        c = int(coefv[k])
        t = abs(c) >> al
        if t == 0:
            r += 1
            continue
        while r > 15:
            code, length = codes[0xF0]
            bw_.bits(code, length)
            r -= 16
        s = t.bit_length()
        code, length = codes[(r << 4) | s]
        bw_.bits(code, length)
        amp = t if c > 0 else (1 << s) - 1 - t
        bw_.bits(amp, s)
        r = 0
    return r > 0


def _emit_ac_refine_block(bw_, coefv, ss, se, al, codes):
    """AC refinement for one block (T.81 G.1.2.3): newly-significant
    coefficients as (run,1)+sign, correction bits for history-nonzero
    coefficients buffered and flushed after each symbol, per-block
    EOB carrying the tail corrections."""
    absv = [abs(int(coefv[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1
    for j, t in enumerate(absv):
        if t == 1:
            eob = ss + j
    r = 0
    br: list[int] = []
    for j, t in enumerate(absv):
        k = ss + j
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            code, length = codes[0xF0]
            bw_.bits(code, length)
            r -= 16
            for b in br:
                bw_.bit(b)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        code, length = codes[(r << 4) | 1]
        bw_.bits(code, length)
        bw_.bit(1 if int(coefv[k]) > 0 else 0)
        for b in br:
            bw_.bit(b)
        br = []
        r = 0
    if r > 0 or br:
        code, length = codes[0x00]
        bw_.bits(code, length)
        for b in br:
            bw_.bit(b)


class _BitWriter:
    """MSB-first bit emitter with 0xFF byte stuffing and 1-padding —
    the progressive encoder's counterpart of _BitReader. Symbols are
    accumulated whole (the per-BIT shift loop was the progressive
    encoder's hottest line) and drained a byte at a time, which emits
    the identical stuffed byte sequence."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def bit(self, b: int) -> None:
        self.bits(b & 1, 1)

    def bits(self, val: int, n: int) -> None:
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.bits((1 << pad) - 1, pad)
        return bytes(self.buf)


class _BitReader:
    """Entropy-segment reader: 0xFF00 unstuffed; any other marker ends
    the stream (an RSTn boundary — the decoder resyncs a fresh reader
    past it — or the closing EOI/next header)."""

    def __init__(self, data: bytes, pos: int):
        clean = bytearray()
        while pos < len(data):
            b = data[pos]
            if b == 0xFF:
                nxt = data[pos + 1] if pos + 1 < len(data) else 0xD9
                if nxt == 0x00:
                    clean.append(0xFF)
                    pos += 2
                    continue
                break  # a real marker ends the entropy segment
            clean.append(b)
            pos += 1
        self.data = bytes(clean)
        self.n = len(self.data)
        self.bpos = 0  # next byte to pull into the accumulator
        self.acc = 0
        self.nbits = 0
        self.end = pos

    def peek16(self) -> int:
        """Next 16 bits without consuming (zero-padded past stream end)."""
        while self.nbits < 16 and self.bpos < self.n:
            self.acc = (self.acc << 8) | self.data[self.bpos]
            self.bpos += 1
            self.nbits += 8
        if self.nbits >= 16:
            return (self.acc >> (self.nbits - 16)) & 0xFFFF
        return (self.acc << (16 - self.nbits)) & 0xFFFF

    def skip(self, n: int) -> None:
        if n > self.nbits:
            raise ValueError("JPEG entropy stream exhausted")
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def read_bits(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n and self.bpos < self.n:
            self.acc = (self.acc << 8) | self.data[self.bpos]
            self.bpos += 1
            self.nbits += 8
        if self.nbits < n:
            raise ValueError("JPEG entropy stream exhausted")
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


_LUT_CACHE: dict[bytes, tuple[list[int], list[int]]] = {}


def _decode_lut(dht_body: bytes) -> tuple[list[int], list[int]]:
    """Table-driven Huffman decode: 16-bit-lookahead LUT mapping every
    possible next-16-bit window to (symbol, code length); length 0
    marks an invalid prefix. One list index per symbol instead of a
    bit-by-bit tree walk (measured ~4× on the whole decoder). Cached
    on the raw DHT payload — repeated decodes of streams using the
    same tables (e.g. every frame of an MJPEG video) build it once."""
    cached = _LUT_CACHE.get(dht_body)
    if cached is not None:
        return cached
    bits = list(dht_body[:16])
    vals = list(dht_body[16 : 16 + sum(bits)])
    sym_lut = np.zeros(65536, dtype=np.int32)
    len_lut = np.zeros(65536, dtype=np.int32)
    for sym, (code, length) in _canonical_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = (code + 1) << (16 - length)
        sym_lut[lo:hi] = sym
        len_lut[lo:hi] = length
    lut = (sym_lut.tolist(), len_lut.tolist())  # python lists: faster scalar indexing
    if len(_LUT_CACHE) < 64:  # bound the cache (foreign files with many tables)
        _LUT_CACHE[dht_body] = lut
    return lut


def _decode_huffman(reader: _BitReader, table: tuple[list[int], list[int]]) -> int:
    sym_lut, len_lut = table
    p = reader.peek16()
    length = len_lut[p]
    if length == 0:
        raise ValueError("invalid JPEG Huffman code")
    reader.skip(length)
    return sym_lut[p]


def _extend(amp: int, size: int) -> int:
    if size == 0:
        return 0
    return amp if amp >= (1 << (size - 1)) else amp - (1 << size) + 1


_FAST_LUT_CACHE: dict[tuple[int, str], tuple] = {}


def _fast_lut_cached(table, kind: str, build):
    cached = _FAST_LUT_CACHE.get((id(table), kind))
    if cached is not None and cached[0] is table:
        return cached[1]
    lut = build()
    if len(_FAST_LUT_CACHE) >= 128:
        _FAST_LUT_CACHE.clear()
    _FAST_LUT_CACHE[(id(table), kind)] = (table, lut)
    return lut


def _category_lut(
    table: tuple[list[int], list[int]], ssss16: bool = False
) -> tuple[list[int], list[int]]:
    """Combined (SSSS code + amplitude) 16-bit-window LUT for DC /
    lossless difference decoding: val_lut[p] = the decoded value,
    tot_lut[p] = total bits consumed (code + amplitude). tot 0 marks
    windows that need the generic path (invalid prefix, or
    code+amplitude wider than 16 bits). Values replicate
    _decode_huffman + _extend exactly; ssss16=True adds the lossless
    scan's SSSS=16 → 32768-with-no-amplitude-bits rule (H.2.2), which
    sequential DC must NOT apply. Cached per decode-LUT object (those
    are themselves cached per DHT payload)."""

    def build():
        sym = np.asarray(table[0], dtype=np.int64)
        ln = np.asarray(table[1], dtype=np.int64)
        p = np.arange(65536, dtype=np.int64)
        fits = (ln > 0) & (sym < 16) & (ln + sym <= 16)
        s = np.where(fits, sym, 0)
        width = np.left_shift(np.int64(1), s)
        amp = (p >> np.where(fits, 16 - ln - s, 0)) & (width - 1)
        val = np.where(amp >= (width >> 1), amp, amp - width + 1)
        tot = np.where(fits, ln + s, 0)
        if ssss16:
            is16 = (ln > 0) & (sym == 16)
            val = np.where(is16, 32768, val)
            tot = np.where(is16, ln, tot)
        # python lists: faster scalar indexing than numpy
        return (val.tolist(), tot.tolist())

    return _fast_lut_cached(table, "cat16" if ssss16 else "cat", build)


def _ac_lut(
    table: tuple[list[int], list[int]],
) -> tuple[list[int], list[int], list[int]]:
    """Combined (run/size code + amplitude) LUT for sequential AC
    coefficients: run_lut[p] = -1 for EOB, 16 for ZRL, else the zero
    run; val_lut[p] = the decoded coefficient; tot_lut[p] = total bits
    consumed. tot 0 marks generic-path windows (invalid prefix,
    code+amplitude wider than 16 bits, or undefined size-0 symbols)."""

    def build():
        sym = np.asarray(table[0], dtype=np.int64)
        ln = np.asarray(table[1], dtype=np.int64)
        p = np.arange(65536, dtype=np.int64)
        run = sym >> 4
        size = sym & 0x0F
        normal = (ln > 0) & (size > 0) & (ln + size <= 16)
        s = np.where(normal, size, 0)
        width = np.left_shift(np.int64(1), s)
        amp = (p >> np.where(normal, 16 - ln - s, 0)) & (width - 1)
        val = np.where(amp >= (width >> 1), amp, amp - width + 1)
        tot = np.where(normal, ln + size, 0)
        run_l = np.where(normal, run, 0)
        eob = (ln > 0) & (sym == 0x00)
        zrl = (ln > 0) & (sym == 0xF0)
        tot = np.where(eob | zrl, ln, tot)
        run_l = np.where(eob, -1, np.where(zrl, 16, run_l))
        return (run_l.tolist(), val.tolist(), tot.tolist())

    return _fast_lut_cached(table, "ac", build)


def _decode_block_seq(
    reader: "_BitReader",
    dc_tbl,
    dc_fast,
    ac_tbl,
    ac_fast,
    coefrow,
    pred: int,
) -> int:
    """One sequential (baseline / extended) data unit: DC difference +
    AC run-length coefficients into coefrow, via the combined LUTs with
    the bit accumulator held in locals; any window the LUTs cannot
    serve falls back to the generic reader calls with identical
    consumption semantics. Returns the updated DC predictor."""
    buf, nbuf = reader.data, reader.n
    acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
    dval, dtot = dc_fast
    arun, aval, atot = ac_fast
    while nbits < 16 and bpos < nbuf:
        acc = (acc << 8) | buf[bpos]
        bpos += 1
        nbits += 8
    p16 = (
        (acc >> (nbits - 16)) & 0xFFFF if nbits >= 16 else (acc << (16 - nbits)) & 0xFFFF
    )
    t = dtot[p16]
    if t and t <= nbits:
        pred += dval[p16]
        nbits -= t
        acc &= (1 << nbits) - 1
    else:
        reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
        size = _decode_huffman(reader, dc_tbl)
        pred += _extend(reader.read_bits(size), size)
        acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
    coefrow[0] = pred
    k = 1
    while k < 64:
        while nbits < 16 and bpos < nbuf:
            acc = (acc << 8) | buf[bpos]
            bpos += 1
            nbits += 8
        p16 = (
            (acc >> (nbits - 16)) & 0xFFFF
            if nbits >= 16
            else (acc << (16 - nbits)) & 0xFFFF
        )
        t = atot[p16]
        if t and t <= nbits:
            r = arun[p16]
            nbits -= t
            acc &= (1 << nbits) - 1
            if r < 0:  # EOB
                break
            if r == 16:  # ZRL
                k += 16
                continue
            k += r
            if k >= 64:
                reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
                raise ValueError("JPEG AC run overflows block")
            coefrow[k] = aval[p16]
            k += 1
        else:
            reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
            sym = _decode_huffman(reader, ac_tbl)
            if sym == 0x00:  # EOB
                acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
                break
            if sym == 0xF0:  # ZRL
                acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
                k += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            k += run
            if k >= 64:
                raise ValueError("JPEG AC run overflows block")
            coefrow[k] = _extend(reader.read_bits(size), size)
            acc, nbits, bpos = reader.acc, reader.nbits, reader.bpos
            k += 1
    reader.acc, reader.nbits, reader.bpos = acc, nbits, bpos
    return pred


def _planes_from_raster(
    raster_coefs: list[np.ndarray],
    comp_info: list[tuple[int, int, int]],
    qtables: dict[int, np.ndarray],
    h: int,
    w: int,
    hmax: int,
    vmax: int,
    mcux: int,
    mcuy: int,
    rgb_direct: bool = False,
    adobe: int | None = None,
    precision: int = 8,
) -> np.ndarray:
    """Raster-ordered dequantizable zigzag coefficient arrays → final
    image (dequantize → IDCT → assemble → crop → box-upsample →
    grey/RGB). Shared by the baseline and progressive paths.
    rgb_direct skips the YCbCr→RGB conversion (RGB-colorspace JPEGs:
    'R'/'G'/'B' component IDs or an Adobe APP14 transform of 0).
    `adobe` is the APP14 transform byte (None = no Adobe marker) and
    selects the 4-component CMYK flavor — see _cmyk_to_rgb."""
    planes = []
    for c, (hc, vc, qtid) in enumerate(comp_info):
        q = qtables[qtid]
        coefs = (raster_coefs[c][:, _UNZIGZAG].reshape(-1, 8, 8)) * q
        blocks = _idct2(coefs.astype(np.float64))
        pixels = np.clip(
            np.round(blocks + float(1 << (precision - 1))),
            0,
            (1 << precision) - 1,
        ).astype(np.uint8 if precision <= 8 else np.uint16)
        bh_c, bw_c = mcuy * vc, mcux * hc
        full = (
            pixels.reshape(bh_c, bw_c, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(bh_c * 8, bw_c * 8)
        )
        # crop to the component's true dims, then box-upsample
        # (pixel replication; libjpeg's "fancy" triangular filter is a
        # documented deviation — module docstring)
        ch_, cw_ = -(-h * vc // vmax), -(-w * hc // hmax)
        full = full[:ch_, :cw_]
        if vc != vmax or hc != hmax:
            full = np.repeat(np.repeat(full, vmax // vc, axis=0), hmax // hc, axis=1)
        planes.append(full[:h, :w])
    if len(planes) == 1:
        return planes[0]
    if len(planes) == 4:
        return _cmyk_to_rgb(np.stack(planes, axis=-1), adobe, precision)
    if rgb_direct:
        return np.ascontiguousarray(np.stack(planes, axis=-1))
    return _ycbcr_to_rgb(np.stack(planes, axis=-1), precision)


def _cmyk_to_rgb(
    p4: np.ndarray, adobe: int | None, precision: int = 8
) -> np.ndarray:
    """(H,W,4) decoded 4-component planes → (H,W,3) RGB (uint8, or
    uint16 full-precision for 12-bit print masters — the image seam's
    top-8-bit projection happens downstream).

    The three wild flavors (reference decodes them via the `image` /
    `jpeg-decoder` crates, oar-ocr-core/src/utils/image.rs:65-88):

    - no Adobe APP14 (`adobe is None`): samples are TRUE CMYK —
      R = (255-C)·(255-K)/255 (multiplicative ink model), etc.
    - Adobe transform 0: Adobe writers store CMYK INVERTED, so the
      same model collapses to R = C·K/255 on the stored samples.
    - Adobe transform 2 (YCCK): channels 0-2 are YCbCr over the
      INVERTED CMY; undo the YCbCr matrix first, then as transform 0.
    """
    maxv = float((1 << precision) - 1)
    if adobe == 2:  # YCCK → inverted CMY
        inv_cmy = _ycbcr_to_rgb(p4[..., :3], precision).astype(np.float64)
    elif adobe in (0, None):
        inv = p4[..., :3].astype(np.float64)
        inv_cmy = inv if adobe == 0 else maxv - inv
    else:
        raise ValueError(f"illegal Adobe APP14 transform {adobe} for 4-component JPEG")
    k = p4[..., 3].astype(np.float64)
    if adobe is None:
        k = maxv - k
    rgb = inv_cmy * k[..., None] / maxv
    return np.clip(np.round(rgb), 0, maxv).astype(
        np.uint8 if precision <= 8 else np.uint16
    )


def _scan_params(body: bytes, comp_ids: list[int]):
    """SOS body → ([(comp index, dc table id, ac table id)], Ss, Se,
    Ah, Al). Components are matched by their SOF id (ids need not be
    1..N — RGB-colorspace files use 'R'/'G'/'B')."""
    n_sc = body[0]
    comps = []
    for c in range(n_sc):
        cid, tbl = body[1 + 2 * c], body[2 + 2 * c]
        if cid in comp_ids:
            idx = comp_ids.index(cid)
        elif len(comp_ids) == 1:
            idx = 0  # forgiving single-component match (wild files)
        else:
            raise ValueError(f"JPEG scan references unknown component id {cid}")
        comps.append((idx, tbl >> 4, tbl & 0x0F))
    ss, se = body[1 + 2 * n_sc], body[2 + 2 * n_sc]
    a = body[3 + 2 * n_sc]
    return comps, ss, se, a >> 4, a & 0x0F


def _noninterleaved_grid(
    hc: int, vc: int, h: int, w: int, hmax: int, vmax: int, mcux: int
) -> tuple[int, int, int]:
    """(block rows, block cols, raster row stride) of a component's
    NON-interleaved scan grid — ceil over the component's own dims
    (T.81 A.2.2), a subset of the MCU-padded storage grid. The ONE
    grid derivation the decoder AND the fixture encoders share."""
    xc, yc = -(-w * hc // hmax), -(-h * vc // vmax)
    return -(-yc // 8), -(-xc // 8), mcux * hc


def _expect_rst(data: bytes, reader: _BitReader, seg_i: int) -> _BitReader:
    """Validate the next restart marker in the RST0..7 cycle and return
    a fresh byte-aligned reader past it."""
    e = reader.end
    want = 0xD0 + (seg_i % 8)
    if not (e + 1 < len(data) and data[e] == 0xFF and data[e + 1] == want):
        raise ValueError(f"expected RST{seg_i % 8} marker at offset {e}")
    return _BitReader(data, e + 2)


def _init_coef_state(
    comp_info: list[tuple[int, int, int]], comp_ids: list[int], h: int, w: int
) -> dict:
    """Shared multi-scan coefficient state (progressive AND
    non-interleaved baseline): raster-ordered per-component arrays over
    the MCU-padded grids, plus the frame geometry scans need."""
    hmax = max(ci[0] for ci in comp_info)
    vmax = max(ci[1] for ci in comp_info)
    for hc, vc, _ in comp_info:
        if hmax % hc or vmax % vc:
            raise NotImplementedError(
                "JPEG sampling factors requiring fractional upsampling"
            )
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    return {
        "h": h, "w": w, "hmax": hmax, "vmax": vmax,
        "mcux": mcux, "mcuy": mcuy, "ids": list(comp_ids),
        "coefs": [
            np.zeros((mcux * mcuy * hc * vc, 64), dtype=np.int64)
            for hc, vc, _ in comp_info
        ],
    }


def _decode_sequential_scan(
    data: bytes,
    pos: int,
    body: bytes,
    st: dict,
    comp_info: list[tuple[int, int, int]],
    huff: dict,
    restart_interval: int,
) -> int:
    """One NON-interleaved baseline scan (full spectrum, one
    component) into st['coefs'] raster storage; restart interval
    counts data units (= blocks) for non-interleaved scans."""
    comps, _ss, _se, _ah, _al = _scan_params(body, st["ids"])
    (idx, dc_t, ac_t) = comps[0]
    dc_tbl, ac_tbl = huff[(0, dc_t)], huff[(1, ac_t)]
    hc_, vc_, _ = comp_info[idx]
    bh_n, bw_n, stride = _noninterleaved_grid(
        hc_, vc_, st["h"], st["w"], st["hmax"], st["vmax"], st["mcux"]
    )
    rows = [r * stride + c for r in range(bh_n) for c in range(bw_n)]
    coef = st["coefs"][idx]
    dc_fast, ac_fast = _category_lut(dc_tbl), _ac_lut(ac_tbl)
    reader = _BitReader(data, pos)
    pred = 0
    seg_i = 0
    i = 0
    while i < len(rows):
        limit = min(len(rows), i + restart_interval) if restart_interval else len(rows)
        while i < limit:
            pred = _decode_block_seq(
                reader, dc_tbl, dc_fast, ac_tbl, ac_fast, coef[rows[i]], pred
            )
            i += 1
        if i < len(rows):
            reader = _expect_rst(data, reader, seg_i)
            seg_i += 1
            pred = 0
    return reader.end


def _decode_progressive_scan(
    data: bytes,
    pos: int,
    body: bytes,
    st: dict,
    comp_info: list[tuple[int, int, int]],
    huff: dict,
    restart_interval: int,
) -> int:
    """Decode one progressive (SOF2) scan into st['coefs'] (raster
    block layout, per component) per T.81 G.2: spectral selection
    bands + successive approximation, EOB runs, restart resync.
    Returns the offset just past the scan's entropy data."""
    comps, ss, se, ah, al = _scan_params(body, st["ids"])
    mcux, mcuy = st["mcux"], st["mcuy"]
    h, w, hmax, vmax = st["h"], st["w"], st["hmax"], st["vmax"]
    reader = _BitReader(data, pos)
    seg_i = 0

    if ss == 0:  # ---- DC scan ------------------------------------------
        if se != 0:
            raise ValueError("JPEG DC scan with Se != 0")
        units: list[tuple[int, int, int]] = []  # (comp idx, raster row, dc tbl)
        if len(comps) > 1:
            # interleaved MCU order over the scan's components
            perms = {
                idx: _mcu_perm(mcuy, mcux, comp_info[idx][1], comp_info[idx][0])
                for idx, _d, _a in comps
            }
            for m in range(mcux * mcuy):
                for idx, dc_t, _ in comps:
                    hc, vc, _ = comp_info[idx]
                    bpm = hc * vc
                    for r in range(bpm):
                        units.append((idx, int(perms[idx][m * bpm + r]), dc_t))
            units_per_ri = restart_interval * sum(
                comp_info[idx][0] * comp_info[idx][1] for idx, _d, _a in comps
            )
        else:
            idx, dc_t, _ = comps[0]
            hc_, vc_, _ = comp_info[idx]
            bh_n, bw_n, stride = _noninterleaved_grid(
                hc_, vc_, h, w, hmax, vmax, mcux
            )
            units = [
                (idx, r * stride + c, dc_t) for r in range(bh_n) for c in range(bw_n)
            ]
            units_per_ri = restart_interval
        preds: dict[int, int] = {}
        i = 0
        while i < len(units):
            limit = min(len(units), i + units_per_ri) if restart_interval else len(units)
            while i < limit:
                idx, row, dc_t = units[i]
                coef = st["coefs"][idx]
                if ah == 0:  # first DC scan: diff-coded, shifted by Al
                    size = _decode_huffman(reader, huff[(0, dc_t)])
                    preds[idx] = preds.get(idx, 0) + _extend(
                        reader.read_bits(size), size
                    )
                    coef[row, 0] = preds[idx] << al
                else:  # refinement: one raw bit appended at bit Al
                    if reader.read_bits(1):
                        coef[row, 0] |= 1 << al
                i += 1
            if i < len(units):
                reader = _expect_rst(data, reader, seg_i)
                seg_i += 1
                preds = {}
        return reader.end

    # ---- AC scan (single component, T.81 G.1.1.1) -----------------------
    if len(comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    if not 1 <= ss <= se <= 63:
        raise ValueError(f"bad spectral band {ss}..{se}")
    idx, _dc_t, ac_t = comps[0]
    ac_tbl = huff[(1, ac_t)]
    hc_, vc_, _ = comp_info[idx]
    bh_n, bw_n, stride = _noninterleaved_grid(hc_, vc_, h, w, hmax, vmax, mcux)
    rows = [r * stride + c for r in range(bh_n) for c in range(bw_n)]
    coef = st["coefs"][idx]
    eobrun = 0
    p1, m1 = 1 << al, (-1) << al

    def refine_nonzero(row: int, k: int) -> None:
        # correction bit: move an already-nonzero coef toward ±(…1b…)
        if reader.read_bits(1) and (coef[row, k] & p1) == 0:
            coef[row, k] += p1 if coef[row, k] >= 0 else m1

    i = 0
    while i < len(rows):
        limit = min(len(rows), i + restart_interval) if restart_interval else len(rows)
        while i < limit:
            row = rows[i]
            if ah == 0:  # first scan for this band
                if eobrun > 0:
                    eobrun -= 1
                else:
                    k = ss
                    while k <= se:
                        sym = _decode_huffman(reader, ac_tbl)
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r < 15:  # EOBn
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += reader.read_bits(r)
                                break
                            k += 16  # ZRL
                        else:
                            k += r
                            if k > se:
                                raise ValueError("JPEG AC run overflows band")
                            coef[row, k] = _extend(reader.read_bits(s), s) << al
                            k += 1
            else:  # refinement scan (G.1.2.3 / T.81 figure G.10)
                k = ss
                if eobrun == 0:
                    while k <= se:
                        sym = _decode_huffman(reader, ac_tbl)
                        r, s = sym >> 4, sym & 0x0F
                        if s == 0:
                            if r < 15:  # EOBn: tail handled below
                                eobrun = 1 << r
                                if r:
                                    eobrun += reader.read_bits(r)
                                break
                            val = 0  # ZRL: skip 16 zero-history coeffs
                        else:
                            if s != 1:
                                raise ValueError("invalid AC refinement symbol")
                            val = p1 if reader.read_bits(1) else m1
                        while k <= se:
                            if coef[row, k] != 0:
                                refine_nonzero(row, k)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if k <= se and val:
                            coef[row, k] = val
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        if coef[row, k] != 0:
                            refine_nonzero(row, k)
                        k += 1
                    eobrun -= 1
            i += 1
        if i < len(rows):
            reader = _expect_rst(data, reader, seg_i)
            seg_i += 1
            eobrun = 0
    return reader.end


@loud_decode("JPEG")
def decode_jpeg(data: bytes, deep: bool = False) -> np.ndarray:
    """Baseline OR progressive JPEG bytes → (H,W) uint8 greyscale or
    (H,W,3) uint8 RGB (deterministic). Any interleaved sampling-factor
    combination with integer chroma ratios decodes (4:4:4, 4:2:2,
    4:4:0, 4:2:0 …) via box chroma upsampling; progressive (SOF2)
    streams accumulate spectral-selection / successive-approximation
    scans and reconstruct at EOI. `deep=True` returns full-precision
    samples for >8-bit streams (uint16 — the 12/16-bit LOSSLESS SOF3
    DICOM layouts AND 12-bit DCT frames: extended-sequential SOF1 and
    progressive SOF2, grey, YCbCr color with 12-bit chroma centering,
    or CMYK/YCCK print masters); otherwise deep streams project to
    uint8 via their top 8 bits (the PNG-16 convention of this
    engine's image seam). 12-bit arithmetic stays declared out of
    scope."""
    if data[:2] != JPEG_SOI:
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    h = w = None
    restart_interval = 0
    progressive = False
    lossless = False
    lossless_precision = 8
    dct_precision = 8
    arith = False
    arith_cond: dict = {}  # DAC conditioning: (Tc, Tb) → (L,U) / Kx
    rgb_direct = False  # 'R','G','B' component IDs / Adobe transform 0
    adobe_transform: int | None = None  # APP14 byte; None = no Adobe marker
    comp_ids: list[int] = []  # SOF component ids, scan-header matching
    prog: dict | None = None  # progressive coefficient state
    comp_info: list[tuple[int, int, int]] = []  # (h_samp, v_samp, qtable id)
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # optional fill byte before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            # standalone markers (TEM, RSTn, SOI) carry no length field
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xEE and body[:5] == b"Adobe":  # APP14
            # transform byte: 0 = RGB (3-comp) / inverted CMYK (4-comp),
            # 1 = YCbCr, 2 = YCCK (4-comp)
            if len(body) >= 12:
                adobe_transform = body[11]
                if adobe_transform == 0:
                    rgb_direct = True
        elif marker == 0xDB:  # DQT (possibly several tables per segment)
            b = 0
            while b < len(body):
                prec, tid = body[b] >> 4, body[b] & 0x0F
                if prec == 0:
                    tbl = np.frombuffer(body[b + 1 : b + 65], dtype=np.uint8)
                    b += 65
                elif prec == 1:  # 16-bit table (extended/progressive files)
                    tbl = np.frombuffer(body[b + 1 : b + 129], dtype=">u2")
                    b += 129
                else:
                    raise ValueError(f"illegal DQT precision {prec}")
                qtables[tid] = tbl.astype(np.int64)[_UNZIGZAG].reshape(8, 8)
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                tclass, tid = body[b] >> 4, body[b] & 0x0F
                nvals = sum(body[b + 1 : b + 17])
                huff[(tclass, tid)] = _decode_lut(bytes(body[b + 1 : b + 17 + nvals]))
                b += 17 + nvals
        elif marker == 0xC3:  # SOF3: lossless (T.81 Annex H)
            lossless = True
            depth, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if not 2 <= depth <= 16:
                raise ValueError(f"illegal lossless JPEG precision {depth}")
            lossless_precision = depth
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"lossless JPEG with {ncomp} components not supported"
                )
            comp_ids = [body[6 + 3 * c] for c in range(ncomp)]
            if len(set(comp_ids)) != ncomp:
                raise ValueError(f"lossless JPEG component ids {comp_ids} not distinct")
            for c in range(ncomp):
                samp = body[6 + 3 * c + 1]
                if ncomp > 1 and samp != 0x11:
                    raise NotImplementedError(
                        "lossless JPEG with subsampled components not supported"
                    )
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0 baseline / SOF2 progressive; SOF1 (extended
            # sequential) at 8-bit precision is bit-identical to
            # baseline apart from relaxed table-count limits (T.81
            # table B.2), so it decodes through the baseline path;
            # SOF9 (arithmetic-coded sequential) and SOF10 (arithmetic
            # progressive) share the frame layout and swap the entropy
            # layer (functions/jpeg_arith)
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            depth, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if depth not in (8, 12):
                raise NotImplementedError(f"JPEG depth {depth} not supported")
            if depth == 12 and marker == 0xC0:
                raise ValueError("baseline SOF0 must be 8-bit (B.2.2)")
            if depth == 12:
                # 12-bit DCT (the DICOM / print-master layouts):
                # grey, YCbCr color and CMYK/YCCK, sequential and
                # progressive; 12-bit arithmetic stays declared out
                # of scope
                if arith:
                    raise NotImplementedError(
                        "12-bit arithmetic JPEG not supported"
                    )
            dct_precision = depth
            if ncomp not in (1, 3, 4):
                raise NotImplementedError(
                    f"JPEG with {ncomp} components not supported "
                    "(grey, YCbCr/RGB color, or CMYK/YCCK)"
                )
            comp_info = []
            ids = [body[6 + 3 * c] for c in range(ncomp)]
            comp_ids = ids
            if ncomp == 3 and ids == [0x52, 0x47, 0x42]:
                # 'R','G','B' component IDs: an RGB-colorspace JPEG —
                # planes are already RGB, so skip the YCbCr conversion
                rgb_direct = True
            elif ncomp == 3 and ids != [1, 2, 3]:
                raise NotImplementedError(
                    f"JPEG component IDs {ids} not supported (YCbCr 1/2/3 or RGB)"
                )
            elif ncomp == 4 and len(set(ids)) != 4:
                raise ValueError(f"JPEG 4-component ids {ids} not distinct")
            for c in range(ncomp):
                samp = body[6 + 3 * c + 1]
                hc, vc = samp >> 4, samp & 0x0F
                if not (1 <= hc <= 4 and 1 <= vc <= 4):  # T.81 B.2.2
                    raise ValueError(f"illegal JPEG sampling factors {hc}x{vc}")
                if ncomp == 1:
                    # one-component frames are non-interleaved: the scan
                    # is the component's own 8×8 block grid and declared
                    # sampling factors are irrelevant (T.81 A.2.2)
                    hc = vc = 1
                comp_info.append((hc, vc, body[6 + 3 * c + 2]))
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB):
            raise NotImplementedError(
                f"JPEG process SOF{marker - 0xC0} (differential/"
                "arithmetic-lossless) not supported"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            b = 0
            while b + 1 < len(body):
                tc, tb = body[b] >> 4, body[b] & 0x0F
                cs = body[b + 1]
                if tc == 0:
                    lo, hi = cs & 0x0F, cs >> 4
                    if lo > hi:
                        raise ValueError(f"illegal DC conditioning L={lo} > U={hi}")
                    arith_cond[(0, tb)] = (lo, hi)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError(f"illegal AC conditioning Kx={cs}")
                    arith_cond[(1, tb)] = cs
                b += 2
        elif marker == 0xDD:  # DRI: MCUs per restart segment (0 = off)
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if h is None:
                raise ValueError("JPEG SOS before SOF")
            if lossless:
                # single interleaved scan produces the image directly
                return _decode_lossless_scan(
                    data, pos, body, comp_ids, huff, h, w, restart_interval,
                    lossless_precision, deep,
                )
            if progressive:
                if prog is None:
                    prog = _init_coef_state(comp_info, comp_ids, h, w)
                if arith:  # SOF10: same coefficient state, QM entropy
                    from .jpeg_arith import decode_arith_progressive_scan

                    pos = decode_arith_progressive_scan(
                        data, pos, body, prog, comp_info, arith_cond,
                        restart_interval,
                    )
                else:
                    pos = _decode_progressive_scan(
                        data, pos, body, prog, comp_info, huff, restart_interval
                    )
                continue
            if arith:
                from .jpeg_arith import decode_arith_scan

                hmax = max(ci[0] for ci in comp_info)
                vmax = max(ci[1] for ci in comp_info)
                for hc, vc, _ in comp_info:
                    if hmax % hc or vmax % vc:
                        raise NotImplementedError(
                            "JPEG sampling factors requiring fractional upsampling"
                        )
                mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
                outs = decode_arith_scan(
                    data, pos, body, comp_info, comp_ids, arith_cond,
                    restart_interval, mcux, mcuy,
                )
                rasters = []
                for c in range(len(comp_info)):
                    hc, vc, _ = comp_info[c]
                    raster = np.empty_like(outs[c])
                    raster[_mcu_perm(mcuy, mcux, vc, hc)] = outs[c]
                    rasters.append(raster)
                return _planes_from_raster(
                    rasters, comp_info, qtables, h, w, hmax, vmax, mcux, mcuy,
                    rgb_direct=rgb_direct, adobe=adobe_transform,
                )
            ncomp = body[0]
            if ncomp < len(comp_info):
                if ncomp != 1:
                    raise NotImplementedError(
                        "baseline scan over a strict multi-component subset"
                    )
                # non-interleaved single-component baseline scan
                # (T.81 A.2.2): one scan per component, blocks in the
                # component's own grid; accumulate and finish at EOI
                if prog is None:
                    prog = _init_coef_state(comp_info, comp_ids, h, w)
                pos = _decode_sequential_scan(
                    data, pos, body, prog, comp_info, huff, restart_interval
                )
                continue
            if ncomp > len(comp_info):
                raise ValueError("JPEG SOS component count exceeds SOF0")
            hmax = max(ci[0] for ci in comp_info)
            vmax = max(ci[1] for ci in comp_info)
            for hc, vc, _ in comp_info:
                if hmax % hc or vmax % vc:
                    # replication upsampling needs integer factors;
                    # e.g. 3:2 chroma ratios are vanishingly rare
                    raise NotImplementedError(
                        "JPEG sampling factors requiring fractional upsampling"
                    )
            comp_tbls = []
            for c in range(ncomp):
                tbl_byte = body[2 + 2 * c]
                comp_tbls.append(
                    (huff[(0, tbl_byte >> 4)], huff[(1, tbl_byte & 0x0F)])
                )
            comp_fast = [
                (_category_lut(d_), _ac_lut(a_)) for d_, a_ in comp_tbls
            ]
            reader = _BitReader(data, pos)
            mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            nmcu = mcux * mcuy
            outs = [
                np.zeros((nmcu * hc * vc, 64), dtype=np.int64)
                for hc, vc, _ in comp_info
            ]
            preds = [0] * ncomp
            n = 0
            seg_i = 0
            while n < nmcu:
                limit = min(nmcu, n + restart_interval) if restart_interval else nmcu
                while n < limit:
                    for c in range(ncomp):  # interleaved MCU: hc·vc blocks/comp
                        hc, vc, _ = comp_info[c]
                        dc_tbl, ac_tbl = comp_tbls[c]
                        dc_fast, ac_fast = comp_fast[c]
                        out = outs[c]
                        base = n * hc * vc
                        for r in range(hc * vc):
                            preds[c] = _decode_block_seq(
                                reader,
                                dc_tbl,
                                dc_fast,
                                ac_tbl,
                                ac_fast,
                                out[base + r],
                                preds[c],
                            )
                    n += 1
                if n < nmcu:
                    # restart boundary (T.81 E.1.4): byte-aligned RSTn
                    # marker in 0..7 cycle, DC predictors reset, fresh
                    # entropy segment after the marker
                    reader = _expect_rst(data, reader, seg_i)
                    seg_i += 1
                    preds = [0] * ncomp
            # scan order → raster block order, then the shared assembly
            rasters = []
            for c in range(ncomp):
                hc, vc, _ = comp_info[c]
                raster = np.empty_like(outs[c])
                raster[_mcu_perm(mcuy, mcux, vc, hc)] = outs[c]
                rasters.append(raster)
            img = _planes_from_raster(
                rasters, comp_info, qtables, h, w, hmax, vmax, mcux, mcuy,
                rgb_direct=rgb_direct, adobe=adobe_transform,
                precision=dct_precision,
            )
            if dct_precision > 8 and not deep:
                # the image seam's uint8 projection: top 8 bits
                img = (img >> (dct_precision - 8)).astype(np.uint8)
            return img
        # other segments (APPn, COM) are skipped
    if prog is not None:  # progressive: reconstruct at EOI
        img = _planes_from_raster(
            prog["coefs"], comp_info, qtables, prog["h"], prog["w"],
            prog["hmax"], prog["vmax"], prog["mcux"], prog["mcuy"],
            rgb_direct=rgb_direct, adobe=adobe_transform,
            precision=dct_precision,
        )
        if dct_precision > 8 and not deep:
            img = (img >> (dct_precision - 8)).astype(np.uint8)
        return img
    raise ValueError("JPEG has no SOS scan")
