"""JPEG 2000 (ISO/IEC 15444-1) — lossless subset, pure python/numpy.

The reference's PDF path hands /JPXDecode images to a codec library;
this engine previously raised the declared NotImplementedError at that
seam (functions/pdf.py). This module closes the boundary with a real
J2K implementation of the LOSSLESS profile slice that archival/medical
pipelines actually use:

- reversible 5/3 integer wavelet (Annex F), any number of
  decomposition levels, symmetric boundary extension;
- reversible color transform (RCT) for 3-component images;
- EBCOT Tier-1 code-block coding (Annex D): the MQ arithmetic coder
  (Table C.2 state machine, BYTEOUT/BYTEIN with 0xFF bit-stuffing,
  marker-terminated 1-fill) driving the three coding passes —
  significance propagation, magnitude refinement, cleanup with
  run-length mode — over 4-row stripes with the standard 19 contexts
  (zero-coding tables per subband orientation, sign contexts with XOR
  bits, refinement contexts, run-length + UNIFORM);
- Tier-2 packet headers (Annex B): tag-tree coded inclusion and
  zero-bitplane counts over the code-block grid, pass-count codes,
  Lblock length signalling; single quality layer, LRCP progression,
  default (whole-subband) precincts;
- codestream framing: SOC/SIZ/COD/QCD/SOT/SOD/EOC, plus the minimal
  JP2 box container (signature/ftyp/jp2h/jp2c).

Round 5 adds the IRREVERSIBLE path most real-world JP2/JPX content
uses (Part-1 lossy profile):

- CDF 9/7 wavelet (Annex F.4.8 lifting: alpha/beta/gamma/delta steps,
  K normalization high*K / low/K), symmetric extension, float64;
- irreversible color transform (ICT, the 601 YCbCr float matrix);
- scalar quantization (Annex E): expounded (Sqcd style 2, per-band
  16-bit (eps, mu) pairs) and derived (style 1, LL pair + per-
  resolution doubling eps_b = eps0 - NL + n_b) on BOTH encode and
  decode, midpoint (r=0.5) dequantization, Mb = eps_b + guard - 1.

TILED images (the layout big archival scans ship in) encode and
decode: any square tile grid at offset (0,0), each tile an
independently-coded SOT..SOD tile-part in raster order, per-tile DWT
and code-block grids (A.4.1).

DEEP PRECISION: any 2-16-bit unsigned sample depth encodes and
decodes (the 12/16-bit DICOM layouts, mirroring the lossless-JPEG
path's API: `precision=` on encode, `deep=True` for full-precision
uint16 decode, top-8/left-aligned uint8 projection at the image seam
otherwise).

All FIVE Part-1 progression orders (A.6.1) encode and decode — at one
layer/one precinct they collapse to two packet sequences, resolution-
major (LRCP/RLCP/RPCL) and component-major (PCRL/CPRL) — as do the
SOP/EPH resync marker layouts (A.8), MULTI-LAYER quality-progressive
streams in ANY of the five orders (the archival profile: per-block
coding passes spread across layers, persistent tag-tree/Lblock packet
state, decoded by accumulating every layer's chunks into the block's
single MQ codeword segment), and PRECINCT partitions (B.6:
block-grid-aligned precincts — down to 2x the block side, e.g. 32px
precincts over 16px blocks — each its own packet chain with its own
tag-trees; the region-access layout big-scan profiles pair with
tiling; in ALL FIVE progression orders, including the position-major
RPCL/PCRL/CPRL interleavings streamed region access uses; sizes may
differ PER RESOLUTION and PER AXIS — the shrinking-pyramid layout
archival encoders signal by default).

CODE-BLOCK SIZES are general (A.6.1): any power-of-two (h, w) with
sides 4..1024 and area <= 4096 — the spec-default 64x64, the 32x32
digital-cinema profiles mandate, and rectangular low-latency
layouts — via encode_j2k(cblk=...) / the SPcod exponents on decode.

Tiles may arrive split across MULTIPLE TILE-PARTS (A.4.2), in-order
per tile but interleaved across tiles — the progressive-delivery
layout streamed scans use; each part advances the tile's packet
cursor to its Psot boundary.

Samples may be unsigned or SIGNED (Ssiz sign bit, A.5.1: the DC level
shift is skipped both ways — signed-pixel medical layouts).

CODE-BLOCK STYLES (Table A.23) encode and decode, composed freely
with each other and with every layout above, including MULTI-LAYER
streams (styled codeword segments split across layer contributions,
one length field per segment portion, B.10.7.5):
selective MQ BYPASS (D.6: raw bit-stuffed SPP/MRP segments from pass
10, the speed mode hardware encoders default to, with per-segment
lengths in the packet headers per B.10.7.5), per-pass TERMINATION,
context RESET on pass boundaries, VERTICALLY-CAUSAL context formation
(D.7.2), and SEGMENTATION SYMBOLS after each cleanup (D.5 — decode
verifies the 1010 and fails loudly on corruption).

Scope (declared): grey or RGB, incl. SUBSAMPLED chroma (XRsiz/YRsiz
2 or 4 — the 4:2:0/4:2:2 layouts lossy archival scanners emit):
per-component tile grids and band layouts, sample-and-hold
replication back onto the reference grid before the inverse MCT;
`encode_j2k(subsampling=(yr, xr))` writes the decimated twin. OFFSET
grids in the crop layout (XOsiz/YOsiz with the tile anchor at the
region origin, lattice-aligned) decode by exact translation;
`encode_j2k(origin=(yo, xo))` writes them. Per-tile coding overrides,
off-origin tile anchors, lattice-misaligned offsets, precincts smaller
than the code-block grid (or combined with subsampling),
predictable-termination style, and mixed-depth or mixed-sign
components raise NotImplementedError.
Encoder and decoder share every table; the 5/3 path is exercised as
exact-roundtrip twins, the 9/7 path as error-bounded twins (test_jp2),
like the engine's other codec seams.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_guard import loud_decode

__all__ = ["encode_j2k", "decode_j2k", "encode_jp2", "decode_jp2", "JP2_SIG"]

JP2_SIG = b"\x00\x00\x00\x0cjP  \r\n\x87\n"
_SOC = 0xFF4F

# ISO 15444-1 Table C.2 — the MQ-coder probability state machine:
# (Qe, next-index after MPS, next-index after LPS, MPS switch flag).
# Index 46 is the non-adapting UNIFORM state.
_MQ_TABLE = (
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
)

# Tier-1 context numbering (Annex D): 0-8 zero coding, 9-13 sign,
# 14-16 magnitude refinement, 17 run-length, 18 UNIFORM.
_CTX_RL = 17
_CTX_UNI = 18
_N_CTX = 19


def _fresh_ctx() -> tuple[list, list]:
    """(index, MPS) context state at the Annex D initial values:
    ZC context 0 → 4, RL → 3, UNIFORM → 46, everything else 0."""
    idx = [0] * _N_CTX
    idx[0] = 4
    idx[_CTX_RL] = 3
    idx[_CTX_UNI] = 46
    return idx, [0] * _N_CTX


def _reset_ctx(ctx: tuple[list, list]) -> None:
    """In-place context reset (the RESET code-block style, D.7.1) —
    in place because live coders alias these lists."""
    idx, mps = ctx
    for i in range(_N_CTX):
        idx[i] = 0
        mps[i] = 0
    idx[0] = 4
    idx[_CTX_RL] = 3
    idx[_CTX_UNI] = 46


class _MQEncoder:
    """MQ arithmetic encoder (C.2): A interval, C code register with
    byte at bits 19-26 (or 20-27 after a 0xFF — the 7-bit stuffing
    row), CT countdown. Carry propagates into the last buffered byte,
    which the BYTEOUT flowchart guarantees is not 0xFF. `ctx` shares
    (index, MPS) lists ACROSS codeword segments — termination restarts
    the interval registers but not the probability contexts."""

    raw = False

    def __init__(self, ctx: tuple[list, list] | None = None):
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        self.out = bytearray()
        self.ctx_idx, self.ctx_mps = ctx if ctx is not None else _fresh_ctx()

    def encode(self, cx: int, d: int) -> None:
        qe, nmps, nlps, switch = _MQ_TABLE[self.ctx_idx[cx]]
        if d == self.ctx_mps[cx]:
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:  # conditional exchange: MPS keeps bottom
                self.a = qe
            else:
                self.c += qe
            self.ctx_idx[cx] = nmps
        else:
            self.a -= qe
            if self.a < qe:  # exchange: LPS takes the top piece
                self.c += qe
            else:
                self.a = qe
            if switch:
                self.ctx_mps[cx] = 1 - self.ctx_mps[cx]
            self.ctx_idx[cx] = nlps
        while self.a & 0x8000 == 0:
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
            if self.ct == 0:
                self._byteout()

    def _byteout(self) -> None:
        # C.2.9 BYTEOUT: after a 0xFF only 7 bits fit the next byte
        if self.out and self.out[-1] == 0xFF:
            self.out.append(self.c >> 20)
            self.c &= 0xFFFFF
            self.ct = 7
            return
        if self.c >= 0x8000000:  # carry into the previous byte
            if not self.out:
                raise ValueError("MQ carry with no buffered byte")
            self.out[-1] += 1  # BYTEOUT invariant: previous byte != 0xFF
            self.c &= 0x7FFFFFF
            if self.out[-1] == 0xFF:
                self.out.append(self.c >> 20)
                self.c &= 0xFFFFF
                self.ct = 7
                return
        self.out.append(self.c >> 19)
        self.c &= 0x7FFFF
        self.ct = 8

    def flush(self) -> bytes:
        """C.2.9 FLUSH: set as many C bits to 1 as the interval allows,
        push out the remaining two bytes, drop a trailing 0xFF (the
        decoder 1-fills past the terminating marker)."""
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c <<= self.ct
        self._byteout()
        self.c <<= self.ct
        self._byteout()
        if self.out and self.out[-1] == 0xFF:
            self.out.pop()
        return bytes(self.out)


class _MQDecoder:
    """MQ arithmetic decoder (C.3): C high half compared against Qe;
    BYTEIN honors the 7-bit row after 0xFF and 1-fills once a byte
    > 0x8F follows 0xFF (the in-bitstream marker convention). `ctx`
    shares probability contexts across codeword segments, mirroring
    _MQEncoder."""

    raw = False

    def __init__(self, data: bytes, ctx: tuple[list, list] | None = None):
        self.data = data
        self.pos = 0
        self.c = self._byte_at(0) << 16
        self._bytein()
        self.c <<= 7
        self.ct -= 7
        self.a = 0x8000
        self.ctx_idx, self.ctx_mps = ctx if ctx is not None else _fresh_ctx()

    def _byte_at(self, i: int) -> int:
        return self.data[i] if i < len(self.data) else 0xFF

    def _bytein(self) -> None:
        b = self._byte_at(self.pos)
        if b == 0xFF:
            if self._byte_at(self.pos + 1) > 0x8F:
                self.c += 0xFF00  # marker reached: feed 1-bits
                self.ct = 8
            else:
                self.pos += 1
                self.c += self._byte_at(self.pos) << 9
                self.ct = 7
        else:
            self.pos += 1
            self.c += self._byte_at(self.pos) << 8
            self.ct = 8

    def decode(self, cx: int) -> int:
        qe, nmps, nlps, switch = _MQ_TABLE[self.ctx_idx[cx]]
        mps = self.ctx_mps[cx]
        self.a -= qe
        if (self.c >> 16) < qe:
            # bottom interval (size qe)
            if self.a < qe:  # exchange: bottom is the MPS
                d = mps
                self.ctx_idx[cx] = nmps
            else:
                d = 1 - mps
                if switch:
                    self.ctx_mps[cx] = d
                self.ctx_idx[cx] = nlps
            self.a = qe
        else:
            self.c -= qe << 16
            if self.a & 0x8000:
                return mps
            if self.a < qe:  # exchange: top is the LPS
                d = 1 - mps
                if switch:
                    self.ctx_mps[cx] = d
                self.ctx_idx[cx] = nlps
            else:
                d = mps
                self.ctx_idx[cx] = nmps
        while self.a & 0x8000 == 0:
            if self.ct == 0:
                self._bytein()
            self.a <<= 1
            self.c <<= 1
            self.ct -= 1
        return d


class _RawEncoder:
    """Raw codeword segment for the selective-bypass style (D.6): bits
    packed MSB-first with the single-bit stuffing rule (after an 0xFF
    byte the next byte carries 7 bits, its MSB a stuffed 0). The `cx`
    argument is accepted and ignored so the three coding passes drive
    MQ and raw coders through one interface."""

    raw = True

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def encode(self, cx: int, d: int) -> None:
        self.acc = (self.acc << 1) | d
        self.nbits += 1
        if self.nbits == (7 if self.out and self.out[-1] == 0xFF else 8):
            self.out.append(self.acc)
            self.acc = 0
            self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            cap = 7 if self.out and self.out[-1] == 0xFF else 8
            self.out.append(self.acc << (cap - self.nbits))
            self.acc = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)  # a segment may not end on 0xFF
        return bytes(self.out)


class _RawDecoder:
    """Mirror of _RawEncoder; feeds 1-bits past the end of the segment
    (the MQ decoder's past-the-marker convention) so a truncated
    foreign stream decodes bounded garbage instead of crashing — the
    packet-level length bookkeeping is what fails loudly."""

    raw = True

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0
        self.prev_ff = False

    def decode(self, cx: int) -> int:
        if self.nbits == 0:
            b = self.data[self.pos] if self.pos < len(self.data) else 0xFF
            self.pos += 1
            if self.prev_ff:
                if b & 0x80 and self.pos <= len(self.data):
                    raise ValueError("JPEG 2000 raw segment stuffing violation")
                self.nbits = 7
            else:
                self.nbits = 8
            self.prev_ff = b == 0xFF
            self.acc = b
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1


# ---------------------------------------------------------------------------
# reversible 5/3 wavelet (Annex F)
# ---------------------------------------------------------------------------


def _fwd_53_1d(x: np.ndarray, axis: int) -> tuple[np.ndarray, np.ndarray]:
    """1D forward 5/3 lifting along `axis` with symmetric extension →
    (low, high). Works on any length >= 1 (length-1 signals carry the
    sample through as the low band)."""
    x = np.moveaxis(x, axis, 0).astype(np.int64)
    n = x.shape[0]
    if n == 1:
        return np.moveaxis(x, 0, axis), np.moveaxis(x[:0], 0, axis)
    even, odd = x[0::2], x[1::2]
    left = even[: len(odd)]
    right = even[1 : len(odd) + 1]
    if len(right) < len(odd):  # odd-length tail: mirror the last even
        right = np.concatenate([right, even[-1:]], axis=0)
    high = odd - ((left + right) >> 1)
    hl = np.concatenate([high[:1], high], axis=0)[: len(even)]
    hr = high[: len(even)] if len(high) >= len(even) else np.concatenate(
        [high, high[-1:]], axis=0
    )
    low = even + ((hl + hr + 2) >> 2)
    return np.moveaxis(low, 0, axis), np.moveaxis(high, 0, axis)


def _inv_53_1d(low: np.ndarray, high: np.ndarray, axis: int, n: int) -> np.ndarray:
    """Inverse of _fwd_53_1d (exact)."""
    low = np.moveaxis(low, axis, 0).astype(np.int64)
    high = np.moveaxis(high, axis, 0).astype(np.int64)
    if n == 1:
        return np.moveaxis(low, 0, axis)
    hl = np.concatenate([high[:1], high], axis=0)[: len(low)]
    hr = high[: len(low)] if len(high) >= len(low) else np.concatenate(
        [high, high[-1:]], axis=0
    )
    even = low - ((hl + hr + 2) >> 2)
    left = even[: len(high)]
    right = even[1 : len(high) + 1]
    if len(right) < len(high):
        right = np.concatenate([right, even[-1:]], axis=0)
    odd = high + ((left + right) >> 1)
    out = np.empty((n,) + low.shape[1:], dtype=np.int64)
    out[0::2] = even
    out[1::2] = odd
    return np.moveaxis(out, 0, axis)


def _fwd_dwt(plane: np.ndarray, levels: int, fwd1d=None) -> list:
    """(H,W) → [LL_n, (HL_n, LH_n, HH_n), ..., (HL_1, LH_1, HH_1)]
    with per-level row-then-column lifting (`fwd1d` picks the kernel:
    5/3 integer default, 9/7 float)."""
    fwd1d = fwd1d or _fwd_53_1d
    bands = []
    ll = plane if fwd1d is _fwd_97_1d else plane.astype(np.int64)
    for _ in range(levels):
        lo, hi = fwd1d(ll, axis=1)
        ll_, lh = fwd1d(lo, axis=0)
        hl, hh = fwd1d(hi, axis=0)
        bands.append((hl, lh, hh))
        ll = ll_
    return [ll] + bands[::-1]


def _inv_dwt(bands: list, shape: tuple[int, int], inv1d=None) -> np.ndarray:
    """Inverse of _fwd_dwt; `shape` is the full-resolution (H, W)."""
    inv1d = inv1d or _inv_53_1d
    levels = len(bands) - 1
    dims = [shape]
    for _ in range(levels):
        h, w = dims[-1]
        dims.append(((h + 1) // 2, (w + 1) // 2))
    ll = bands[0]
    for lev in range(levels, 0, -1):
        h, w = dims[lev - 1]
        hl, lh, hh = bands[levels - lev + 1]
        lo = inv1d(ll, lh, axis=0, n=h)
        hi = inv1d(hl, hh, axis=0, n=h)
        ll = inv1d(lo, hi, axis=1, n=w)
    return ll


# ---------------------------------------------------------------------------
# irreversible 9/7 wavelet (Annex F.4.8) + scalar quantization (Annex E)
# ---------------------------------------------------------------------------

# Table F.4 lifting parameters and the K normalization constant.
_ALPHA = -1.586134342059924
_BETA = -0.052980118572961
_GAMMA = 0.882911075530934
_DELTA = 0.443506852043971
_KNORM = 1.230174104914001


def _nbr_even(e: np.ndarray, no: int) -> tuple[np.ndarray, np.ndarray]:
    """(X(2n), X(2n+2)) for each of `no` odd slots, whole-sample
    symmetric extension at the tail (same pattern the 5/3 uses)."""
    left = e[:no]
    right = e[1 : no + 1]
    if len(right) < no:
        right = np.concatenate([right, e[-1:]], axis=0)
    return left, right


def _nbr_odd(d: np.ndarray, ne: int) -> tuple[np.ndarray, np.ndarray]:
    """(Y(2n-1), Y(2n+1)) for each of `ne` even slots, mirrored at both
    boundaries."""
    hl = np.concatenate([d[:1], d], axis=0)[:ne]
    hr = d[:ne] if len(d) >= ne else np.concatenate([d, d[-1:]], axis=0)
    return hl, hr


def _fwd_97_1d(x: np.ndarray, axis: int) -> tuple[np.ndarray, np.ndarray]:
    """1D forward CDF 9/7 lifting along `axis` → (low, high), float64.
    Length-1 signals carry the sample through as the low band."""
    x = np.moveaxis(x, axis, 0).astype(np.float64)
    n = x.shape[0]
    if n == 1:
        return np.moveaxis(x, 0, axis), np.moveaxis(x[:0], 0, axis)
    even, odd = x[0::2], x[1::2]
    el, er = _nbr_even(even, len(odd))
    d = odd + _ALPHA * (el + er)
    hl, hr = _nbr_odd(d, len(even))
    s = even + _BETA * (hl + hr)
    el, er = _nbr_even(s, len(d))
    d = d + _GAMMA * (el + er)
    hl, hr = _nbr_odd(d, len(s))
    s = s + _DELTA * (hl + hr)
    return np.moveaxis(s / _KNORM, 0, axis), np.moveaxis(d * _KNORM, 0, axis)


def _inv_97_1d(low: np.ndarray, high: np.ndarray, axis: int, n: int) -> np.ndarray:
    """Inverse of _fwd_97_1d (exact up to float64 rounding)."""
    low = np.moveaxis(low, axis, 0).astype(np.float64)
    high = np.moveaxis(high, axis, 0).astype(np.float64)
    if n == 1:
        return np.moveaxis(low, 0, axis)
    s = low * _KNORM
    d = high / _KNORM
    hl, hr = _nbr_odd(d, len(s))
    s = s - _DELTA * (hl + hr)
    el, er = _nbr_even(s, len(d))
    d = d - _GAMMA * (el + er)
    hl, hr = _nbr_odd(d, len(s))
    even = s - _BETA * (hl + hr)
    el, er = _nbr_even(even, len(d))
    odd = d - _ALPHA * (el + er)
    out = np.empty((n,) + low.shape[1:], dtype=np.float64)
    out[0::2] = even
    out[1::2] = odd
    return np.moveaxis(out, 0, axis)


def _ict_forward(r, g, b):
    """Irreversible color transform (601 YCbCr, float)."""
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b
    return y, cb, cr


def _ict_inverse(y, cb, cr):
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return r, g, b


def _qparams(delta: float, rb: int) -> tuple[int, int, float]:
    """Target step size → (eps, mu, signalled Δ) under E-3:
    Δ_b = 2^(R_b - eps) * (1 + mu/2048). The SIGNALLED value (after
    eps/mu rounding) is what both twins quantize with."""
    if not delta > 0:
        raise ValueError(f"quantization step must be positive, got {delta}")
    e = int(np.floor(np.log2(delta)))
    mu = int(round((delta / (2.0**e) - 1.0) * 2048))
    if mu == 2048:  # rounding crossed into the next octave
        mu = 0
        e += 1
    eps = rb - e
    if not 0 <= eps <= 31:
        raise ValueError(f"quantization step {delta} outside the signalable range")
    return eps, mu, (2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)


def _qdelta(eps: int, mu: int, rb: int) -> float:
    return (2.0 ** (rb - eps)) * (1.0 + mu / 2048.0)


# ---------------------------------------------------------------------------
# Tier-1: EBCOT code-block coding (Annex D)
# ---------------------------------------------------------------------------

# zero-coding context from (sumH, sumV, sumD) per subband orientation
# (Table D.1); orientations: 0=LL, 1=HL, 2=LH, 3=HH


def _zc_context(h: int, v: int, d: int, orient: int) -> int:
    if orient == 1:  # HL: the spec swaps the H/V roles
        h, v = v, h
    if orient != 3:  # LL, LH, HL
        if h == 2:
            return 8
        if h == 1:
            return 7 if v >= 1 else (6 if d >= 1 else 5)
        if v == 2:
            return 4
        if v == 1:
            return 3
        return 2 if d >= 2 else d  # d>=2 → 2, d==1 → 1, d==0 → 0
    if d >= 3:
        return 8
    hv = h + v
    if d == 2:
        return 7 if hv >= 1 else 6
    if d == 1:
        return 5 if hv >= 2 else (4 if hv == 1 else 3)
    return 2 if hv >= 2 else hv


# sign-coding context + XOR bit from clipped neighbor contributions
# (Table D.3): index by (hc+1, vc+1)
_SC_TABLE = (
    ((13, 1), (12, 1), (11, 1)),  # hc = -1
    ((10, 1), (9, 0), (10, 0)),   # hc = 0
    ((11, 0), (12, 0), (13, 0)),  # hc = +1
)


class _BlockCoder:
    """Shared Tier-1 scan state: 4-row stripes, column-major within a
    stripe. State planes are FLAT python bytearrays over a padded
    (h+2)x(w+2) grid — byte indexing is ~20x cheaper than numpy scalar
    reads in this per-sample hot path (measured; the MQ coder itself
    is a minority of the cost). Encoder and decoder run the SAME
    control flow with mirrored decisions — one implementation, two
    directions (the engine-wide golden-twin pattern). `causal` is the
    vertically-causal style (D.7.2): context formation ignores the
    stripe below — for samples on a stripe's last row (1-based y with
    y % 4 == 0) the three down-neighbors count as insignificant, in
    all three passes and in the sign context."""

    def __init__(self, h: int, w: int, orient: int, causal: bool = False):
        self.h, self.w, self.orient = h, w, orient
        self.causal = causal
        self.stride = w + 2
        n = (h + 2) * (w + 2)
        self.sig = bytearray(n)
        self.sgn = bytearray(n)
        self.visited = bytearray(n)
        self.refined = bytearray(n)

    def _sign_ctx(self, i: int) -> tuple[int, int]:
        s, g, st = self.sig, self.sgn, self.stride
        hc = 0
        if s[i - 1]:
            hc += -1 if g[i - 1] else 1
        if s[i + 1]:
            hc += -1 if g[i + 1] else 1
        vc = 0
        if s[i - st]:
            vc += -1 if g[i - st] else 1
        if s[i + st] and not (self.causal and (i // st) % 4 == 0):
            vc += -1 if g[i + st] else 1
        hc = -1 if hc < -1 else (1 if hc > 1 else hc)
        vc = -1 if vc < -1 else (1 if vc > 1 else vc)
        return _SC_TABLE[hc + 1][vc + 1]


# code-block style bits (COD SPcod byte 8, Table A.23)
_ST_BYPASS = 0x01   # selective arithmetic coding bypass (D.6)
_ST_RESET = 0x02    # reset context probabilities on pass boundaries
_ST_TERMALL = 0x04  # termination on each coding pass
_ST_CAUSAL = 0x08   # vertically causal context (D.7.2)
_ST_PREDTERM = 0x10  # predictable termination — NOT supported
_ST_SEGSYM = 0x20   # segmentation symbols after each cleanup (D.5)
_ST_SUPPORTED = _ST_BYPASS | _ST_RESET | _ST_TERMALL | _ST_CAUSAL | _ST_SEGSYM


def _pass_raw(k: int, style: int) -> bool:
    """Is global pass k (0 = the MSB plane's cleanup) a RAW pass? With
    the bypass style the first 10 passes (four most significant
    planes) stay MQ-coded; thereafter SPP and MRP bypass, cleanup
    never does (D.6)."""
    if not style & _ST_BYPASS or k < 10:
        return False
    return (k - 1) % 3 != 2  # pass type: k==0 CUP, else (k-1)%3 → SPP/MRP/CUP


def _terminate_after(k: int, style: int) -> bool:
    """Codeword-segment boundary between passes k and k+1 (the last
    pass always terminates — callers handle that case)."""
    if style & _ST_TERMALL:
        return True
    if style & _ST_BYPASS:
        return _pass_raw(k, style) != _pass_raw(k + 1, style)
    return False


def _seg_partition(npasses: int, style: int, start: int = 0) -> list[int]:
    """Passes per length field (B.10.7.5) for a layer contribution of
    `npasses` passes starting at absolute pass `start` in a block
    coded with `style`. Pieces end at every termination boundary
    inside the contribution; a trailing piece that does NOT end at a
    termination is the leading portion of a codeword segment that
    continues into a later layer's contribution (its remaining bytes
    arrive there, each portion with its own length field)."""
    segs = []
    cur = 0
    for k in range(start, start + npasses):
        cur += 1
        if k == start + npasses - 1 or _terminate_after(k, style):
            segs.append(cur)
            cur = 0
    return segs


def _merge_seg_pieces(chunks: list, seg_passes: list, style: int) -> list:
    """Per-layer contribution pieces (parallel `chunks` bytes and
    `seg_passes` pass counts, accumulated across packets in layer
    order) → the block's full codeword segments [(bytes, passes)]:
    consecutive pieces up to each termination boundary belong to one
    segment and concatenate (MQ/raw coder state spans them)."""
    segs = []
    buf: list = []
    bufp = 0
    k = 0
    for c, p in zip(chunks, seg_passes):
        buf.append(c)
        bufp += p
        k += p
        if _terminate_after(k - 1, style):
            segs.append((b"".join(buf), bufp))
            buf, bufp = [], 0
    if buf:
        segs.append((b"".join(buf), bufp))
    return segs


def _t1_encode_block(
    mags: "np.ndarray", signs: "np.ndarray", orient: int, nbps: int,
    style: int = 0,
) -> tuple[bytes, int]:
    """(h,w) magnitudes + signs (0/1) → (codeword bytes, n passes).
    Pass sequence per D.4: cleanup for the MSB plane, then
    SPP/MRP/CUP per lower plane, all in one MQ codeword segment.
    With a non-zero code-block `style`, use _t1_encode_block_styled."""
    if style:
        raise ValueError("styled blocks go through _t1_encode_block_styled")
    h, w = mags.shape
    st = _BlockCoder(h, w, orient)
    mlist = [int(v) for v in mags.reshape(-1)]
    slist = [int(v) for v in signs.reshape(-1)]
    enc = _MQEncoder()
    n_passes = 0
    for p in range(nbps - 1, -1, -1):
        if n_passes:  # planes below the MSB get all three passes
            _t1_spp(st, enc, mlist, slist, p, True)
            _t1_mrp(st, enc, mlist, p, True)
            n_passes += 2
        _t1_cup(st, enc, mlist, slist, p, True)
        n_passes += 1
        st.visited = bytearray(len(st.visited))
    return enc.flush(), n_passes


def _t1_encode_block_styled(
    mags: "np.ndarray", signs: "np.ndarray", orient: int, nbps: int, style: int
) -> tuple[list, int]:
    """Styled twin of _t1_encode_block → ([(segment bytes, passes in
    segment)], total passes). Handles bypass (raw SPP/MRP segments
    from pass 10, MQ terminated around them), per-pass termination,
    context reset, vertical causality and segmentation symbols; MQ
    probability contexts persist across MQ segments via the shared
    ctx lists unless RESET."""
    h, w = mags.shape
    st = _BlockCoder(h, w, orient, causal=bool(style & _ST_CAUSAL))
    mlist = [int(v) for v in mags.reshape(-1)]
    slist = [int(v) for v in signs.reshape(-1)]
    ctx = _fresh_ctx()
    total = 3 * nbps - 2
    segs = []
    coder = None
    cur_passes = 0
    k = 0
    for p in range(nbps - 1, -1, -1):
        for ptype in ((2,) if p == nbps - 1 else (0, 1, 2)):
            if coder is None:
                coder = (
                    _RawEncoder() if _pass_raw(k, style) else _MQEncoder(ctx=ctx)
                )
            if ptype == 0:
                _t1_spp(st, coder, mlist, slist, p, True)
            elif ptype == 1:
                _t1_mrp(st, coder, mlist, p, True)
            else:
                _t1_cup(st, coder, mlist, slist, p, True)
                if style & _ST_SEGSYM:  # cleanup is never raw
                    for b in (1, 0, 1, 0):
                        coder.encode(_CTX_UNI, b)
                st.visited = bytearray(len(st.visited))
            cur_passes += 1
            if k == total - 1 or _terminate_after(k, style):
                segs.append((coder.flush(), cur_passes))
                coder = None
                cur_passes = 0
            if style & _ST_RESET:
                _reset_ctx(ctx)
            k += 1
    return segs, total


def _t1_decode_block(
    data: bytes, h: int, w: int, orient: int, nbps: int, n_passes: int,
    style: int = 0, segs: list | None = None,
) -> tuple["np.ndarray", "np.ndarray"]:
    """Inverse of _t1_encode_block → (magnitudes, signs). For styled
    blocks pass `style` and `segs` = [(segment bytes, passes)] and
    leave `data` None — coder selection, termination points, context
    persistence/reset, causality and segmentation-symbol checks all
    mirror the styled encoder."""
    st = _BlockCoder(h, w, orient, causal=bool(style & _ST_CAUSAL))
    mlist = [0] * (h * w)
    done = 0
    if style:
        ctx = _fresh_ctx()
        queue = list(segs or [])
        dec = None
        left = 0
        k = 0
        for p in range(nbps - 1, -1, -1):
            if done >= n_passes:
                break
            for ptype in ((2,) if p == nbps - 1 else (0, 1, 2)):
                if done >= n_passes:
                    break
                if dec is None or left == 0:
                    if not queue:
                        raise ValueError(
                            "JPEG 2000 styled block is missing a codeword segment"
                        )
                    seg_bytes, left = queue.pop(0)
                    dec = (
                        _RawDecoder(seg_bytes)
                        if _pass_raw(k, style)
                        else _MQDecoder(seg_bytes, ctx=ctx)
                    )
                if ptype == 0:
                    _t1_spp(st, dec, mlist, None, p, False)
                elif ptype == 1:
                    _t1_mrp(st, dec, mlist, p, False)
                else:
                    _t1_cup(st, dec, mlist, None, p, False)
                    if style & _ST_SEGSYM:
                        sym = 0
                        for _ in range(4):
                            sym = (sym << 1) | dec.decode(_CTX_UNI)
                        if sym != 0b1010:
                            raise ValueError(
                                "JPEG 2000 segmentation symbol mismatch "
                                "(corrupt cleanup pass)"
                            )
                    st.visited = bytearray(len(st.visited))
                done += 1
                left -= 1
                if style & _ST_RESET:
                    _reset_ctx(ctx)
                k += 1
    else:
        dec = _MQDecoder(data)
        for p in range(nbps - 1, -1, -1):
            if done:
                if done >= n_passes:
                    break
                _t1_spp(st, dec, mlist, None, p, False)
                done += 1
                if done >= n_passes:
                    break
                _t1_mrp(st, dec, mlist, p, False)
                done += 1
            if done >= n_passes:
                break
            _t1_cup(st, dec, mlist, None, p, False)
            done += 1
            st.visited = bytearray(len(st.visited))
    mags = np.array(mlist, dtype=np.int64).reshape(h, w)
    sgn = np.frombuffer(bytes(st.sgn), dtype=np.uint8).reshape(h + 2, w + 2)
    return mags, sgn[1 : h + 1, 1 : w + 1].copy()


def _t1_spp(st, coder, mlist, slist, p, encode):
    """Significance propagation pass (D.4.1): insignificant samples
    with at least one significant neighbor."""
    h, w = st.h, st.w
    stride = st.stride
    sig, visited, orient = st.sig, st.visited, st.orient
    causal = st.causal
    bitmask = 1 << p
    for y0 in range(1, h + 1, 4):
        y1 = min(y0 + 4, h + 1)
        for x in range(1, w + 1):
            i = y0 * stride + x
            for y in range(y0, y1):
                if not sig[i]:
                    hs = sig[i - 1] + sig[i + 1]
                    if causal and y - y0 == 3:  # stripe below is unseen
                        vs = sig[i - stride]
                        ds = sig[i - stride - 1] + sig[i - stride + 1]
                    else:
                        vs = sig[i - stride] + sig[i + stride]
                        ds = (
                            sig[i - stride - 1] + sig[i - stride + 1]
                            + sig[i + stride - 1] + sig[i + stride + 1]
                        )
                    if hs + vs + ds:
                        cx = _zc_context(hs, vs, ds, orient)
                        if encode:
                            bit = 1 if mlist[(y - 1) * w + x - 1] & bitmask else 0
                            coder.encode(cx, bit)
                        else:
                            bit = coder.decode(cx)
                        visited[i] = 1
                        if bit:
                            _code_sign(st, coder, mlist, slist, y, x, p, encode)
                i += stride


def _t1_mrp(st, coder, mlist, p, encode):
    """Magnitude refinement pass (D.4.2): already-significant samples
    not visited by this plane's SPP."""
    h, w = st.h, st.w
    stride = st.stride
    sig, visited, refined = st.sig, st.visited, st.refined
    causal = st.causal
    bitmask = 1 << p
    for y0 in range(1, h + 1, 4):
        y1 = min(y0 + 4, h + 1)
        for x in range(1, w + 1):
            i = y0 * stride + x
            for y in range(y0, y1):
                if sig[i] and not visited[i]:
                    if refined[i]:
                        cx = 16
                    else:
                        nb = (
                            sig[i - 1] + sig[i + 1]
                            + sig[i - stride]
                            + sig[i - stride - 1] + sig[i - stride + 1]
                        )
                        if not (causal and y - y0 == 3):
                            nb += (
                                sig[i + stride]
                                + sig[i + stride - 1] + sig[i + stride + 1]
                            )
                        cx = 15 if nb else 14
                    if encode:
                        coder.encode(
                            cx, 1 if mlist[(y - 1) * w + x - 1] & bitmask else 0
                        )
                    else:
                        if coder.decode(cx):
                            mlist[(y - 1) * w + x - 1] |= bitmask
                    refined[i] = 1
                i += stride


def _t1_cup(st, coder, mlist, slist, p, encode):
    """Cleanup pass (D.4.3): everything left, with the 4-row run-length
    shortcut on fully-quiet columns."""
    h, w = st.h, st.w
    stride = st.stride
    sig, visited, orient = st.sig, st.visited, st.orient
    causal = st.causal
    bitmask = 1 << p
    for y0 in range(1, h + 1, 4):
        y1 = min(y0 + 4, h + 1)
        full = y1 - y0 == 4
        for x in range(1, w + 1):
            y = y0
            if full:
                quiet = True
                i = y0 * stride + x
                for yy in range(y0, y1):
                    if (
                        sig[i] or visited[i]
                        or sig[i - 1] or sig[i + 1]
                        or sig[i - stride]
                        or sig[i - stride - 1] or sig[i - stride + 1]
                        or (
                            not (causal and yy - y0 == 3)
                            and (
                                sig[i + stride]
                                or sig[i + stride - 1]
                                or sig[i + stride + 1]
                            )
                        )
                    ):
                        quiet = False
                        break
                    i += stride
                if quiet:
                    if encode:
                        first = -1
                        k = (y0 - 1) * w + x - 1
                        for idx in range(4):
                            if mlist[k] & bitmask:
                                first = idx
                                break
                            k += w
                        if first < 0:
                            coder.encode(_CTX_RL, 0)
                            continue
                        coder.encode(_CTX_RL, 1)
                        coder.encode(_CTX_UNI, (first >> 1) & 1)
                        coder.encode(_CTX_UNI, first & 1)
                    else:
                        if coder.decode(_CTX_RL) == 0:
                            continue
                        first = (coder.decode(_CTX_UNI) << 1) | coder.decode(
                            _CTX_UNI
                        )
                    y = y0 + first
                    # the run-interrupting sample is significant by
                    # construction: sign only, no ZC decision
                    _code_sign(st, coder, mlist, slist, y, x, p, encode)
                    y += 1
            i = y * stride + x
            for yy in range(y, y1):
                if not sig[i] and not visited[i]:
                    hs = sig[i - 1] + sig[i + 1]
                    if causal and yy - y0 == 3:  # stripe below is unseen
                        vs = sig[i - stride]
                        ds = sig[i - stride - 1] + sig[i - stride + 1]
                    else:
                        vs = sig[i - stride] + sig[i + stride]
                        ds = (
                            sig[i - stride - 1] + sig[i - stride + 1]
                            + sig[i + stride - 1] + sig[i + stride + 1]
                        )
                    cx = _zc_context(hs, vs, ds, orient)
                    if encode:
                        bit = 1 if mlist[(yy - 1) * w + x - 1] & bitmask else 0
                        coder.encode(cx, bit)
                    else:
                        bit = coder.decode(cx)
                    if bit:
                        _code_sign(st, coder, mlist, slist, yy, x, p, encode)
                i += stride


def _code_sign(st, coder, mlist, slist, y, x, p, encode):
    """Newly-significant sample: sign decision + state update (shared
    by all three passes). In a RAW (bypass) pass the sign goes out as
    a raw bit — no context, no XOR prediction (D.6)."""
    i = y * st.stride + x
    if coder.raw:
        cx, xor = 0, 0
    else:
        cx, xor = st._sign_ctx(i)
    if encode:
        sbit = slist[(y - 1) * st.w + x - 1]
        coder.encode(cx, sbit ^ xor)
        st.sgn[i] = sbit
    else:
        st.sgn[i] = coder.decode(cx) ^ xor
        mlist[(y - 1) * st.w + x - 1] |= 1 << p
    st.sig[i] = 1


# ---------------------------------------------------------------------------
# Tier-2: tag trees + packet headers (Annex B)
# ---------------------------------------------------------------------------


class _HeaderBitWriter:
    """Packet-header bit packing (B.10.1): MSB-first; after emitting a
    full 0xFF byte the next byte carries only 7 bits (its MSB is a
    stuffed 0)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def _cap(self) -> int:
        return 7 if self.out and self.out[-1] == 0xFF else 8

    def write(self, bit: int) -> None:
        self.acc = (self.acc << 1) | bit
        self.nbits += 1
        if self.nbits == self._cap():
            self.out.append(self.acc)
            self.acc = 0
            self.nbits = 0

    def write_bits(self, val: int, n: int) -> None:
        for k in range(n - 1, -1, -1):
            self.write((val >> k) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc << (self._cap() - self.nbits))
            self.acc = 0
            self.nbits = 0
        if self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)  # a header may not end on 0xFF
        return bytes(self.out)


class _HeaderBitReader:
    """Mirror of _HeaderBitWriter over a codestream slice."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.prev_ff = False

    def read(self) -> int:
        if self.nbits == 0:
            b = self.data[self.pos]
            self.pos += 1
            if self.prev_ff:
                if b & 0x80:
                    raise ValueError("JPEG 2000 packet header stuffing violation")
                self.nbits = 7
            else:
                self.nbits = 8
            self.prev_ff = b == 0xFF
            self.acc = b
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read()
        return v

    def align(self) -> int:
        """Byte-align past the header (consuming the stuffed 0x00 a
        0xFF-final header carries) → next byte position."""
        if self.prev_ff:
            if self.data[self.pos] != 0x00:
                raise ValueError("JPEG 2000 packet header missing stuffed 0x00")
            self.pos += 1
        self.nbits = 0
        self.prev_ff = False
        return self.pos


class _TagTree:
    """Tag tree (B.10.2) over a (rows, cols) leaf grid; used for both
    code-block inclusion and zero-bitplane counts."""

    def __init__(self, rows: int, cols: int):
        self.dims = []
        r, c = rows, cols
        while True:
            self.dims.append((r, c))
            if r == 1 and c == 1:
                break
            r, c = (r + 1) // 2, (c + 1) // 2
        self.value = [np.full(d, 1 << 30, dtype=np.int64) for d in self.dims]
        self.low = [np.zeros(d, dtype=np.int64) for d in self.dims]
        self.known = [np.zeros(d, dtype=np.uint8) for d in self.dims]

    def set_values(self, leaves: np.ndarray) -> None:
        self.value[0][:, :] = leaves
        for lev in range(1, len(self.dims)):
            below = self.value[lev - 1]
            r, c = self.dims[lev]
            for i in range(r):
                for j in range(c):
                    self.value[lev][i, j] = below[
                        2 * i : 2 * i + 2, 2 * j : 2 * j + 2
                    ].min()

    def _path(self, i: int, j: int):
        path = []
        for lev in range(len(self.dims) - 1, -1, -1):
            path.append((lev, i >> lev, j >> lev))
        return path

    def encode(self, bw: _HeaderBitWriter, i: int, j: int, threshold: int) -> None:
        low = 0
        for lev, r, c in self._path(i, j):
            if self.low[lev][r, c] < low:
                self.low[lev][r, c] = low
            else:
                low = int(self.low[lev][r, c])
            while low < threshold:
                if low >= self.value[lev][r, c]:
                    if not self.known[lev][r, c]:
                        bw.write(1)
                        self.known[lev][r, c] = 1
                    break
                bw.write(0)
                low += 1
            self.low[lev][r, c] = low

    def decode(self, br: _HeaderBitReader, i: int, j: int, threshold: int) -> bool:
        """Read decisions up to `threshold`; True iff leaf value proven
        < threshold."""
        low = 0
        for lev, r, c in self._path(i, j):
            if self.low[lev][r, c] < low:
                self.low[lev][r, c] = low
            else:
                low = int(self.low[lev][r, c])
            while low < threshold and low < self.value[lev][r, c]:
                if br.read():
                    self.value[lev][r, c] = low
                else:
                    low += 1
            self.low[lev][r, c] = low
        return bool(self.value[0][i, j] < threshold)


def _write_npasses(bw: _HeaderBitWriter, n: int) -> None:
    """Pass-count code (Table B.4)."""
    if n == 1:
        bw.write(0)
    elif n == 2:
        bw.write_bits(0b10, 2)
    elif n <= 5:
        bw.write_bits(0b11, 2)
        bw.write_bits(n - 3, 2)
    elif n <= 36:
        bw.write_bits(0b1111, 4)
        bw.write_bits(n - 6, 5)
    elif n <= 164:
        bw.write_bits(0b111111111, 9)
        bw.write_bits(n - 37, 7)
    else:
        raise ValueError(f"illegal coding-pass count {n}")


def _read_npasses(br: _HeaderBitReader) -> int:
    if br.read() == 0:
        return 1
    if br.read() == 0:
        return 2
    v = br.read_bits(2)
    if v < 3:
        return 3 + v
    v = br.read_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.read_bits(7)


# ---------------------------------------------------------------------------
# codestream assembly / parsing
# ---------------------------------------------------------------------------

_CBLK = 64  # default code-block side (2^6 — the spec default; any
# power-of-two (h, w) with sides 4..1024 and xcb + ycb <= 12 encodes
# and decodes via the cb= parameter / SPcod exponents)
_GUARD = 3  # guard bits in Sqcd (headroom for 5/3 growth on deep trees)
_GAIN = {0: 0, 1: 1, 2: 1, 3: 2}  # subband log2 gain: LL, HL, LH, HH


def _band_layout(h: int, w: int, levels: int) -> list:
    """Per-resolution band list mirroring _fwd_dwt's output:
    [[(orient, bh, bw)]], resolution 0 = LL, then (HL, LH, HH) from the
    deepest level outward."""
    dims = [(h, w)]
    for _ in range(levels):
        ph, pw = dims[-1]
        dims.append(((ph + 1) // 2, (pw + 1) // 2))
    out = [[(0, dims[levels][0], dims[levels][1])]]
    for r in range(1, levels + 1):
        ph, pw = dims[levels - r]  # the level's input dims
        lh_, ll_ = ph - (ph + 1) // 2, (ph + 1) // 2
        hw_, lw_ = pw - (pw + 1) // 2, (pw + 1) // 2
        out.append([(1, ll_, hw_), (2, lh_, lw_), (3, lh_, hw_)])
    return out


def _cblk_grid(
    bh: int, bw: int, cb: tuple[int, int] = (_CBLK, _CBLK)
) -> tuple[int, int]:
    return -(-bh // cb[0]) if bh else 0, -(-bw // cb[1]) if bw else 0


def _write_packet(
    out: bytearray, band_blocks: list, sop_n: int | None = None, eph: bool = False
) -> None:
    """One layer-0 packet. `band_blocks`: [(grid_rows, grid_cols,
    [(incl, zbp, npasses, data)])] per subband in packet order.
    `sop_n` prepends an SOP resync marker with that sequence number
    (A.8.1); `eph` terminates the packet header with EPH (A.8.2) —
    the COD-signalled resync layout real encoders emit."""
    if sop_n is not None:
        out += struct.pack(">HHH", 0xFF91, 4, sop_n & 0xFFFF)
    if not any(blk[0] for _, _, blks in band_blocks for blk in blks):
        bw = _HeaderBitWriter()
        bw.write(0)  # empty packet
        out += bw.flush()
        if eph:
            out += struct.pack(">H", 0xFF92)
        return
    bw = _HeaderBitWriter()
    bw.write(1)
    bodies = []
    for rows, cols, blks in band_blocks:
        if not blks:
            continue
        incl_tree = _TagTree(rows, cols)
        zbp_tree = _TagTree(rows, cols)
        incl_tree.set_values(
            np.array([0 if b[0] else 1 for b in blks], dtype=np.int64).reshape(
                rows, cols
            )
        )
        zbp_tree.set_values(
            np.array([b[1] for b in blks], dtype=np.int64).reshape(rows, cols)
        )
        for i in range(rows):
            for j in range(cols):
                incl, zbp, npasses, data = blks[i * cols + j]
                incl_tree.encode(bw, i, j, 1)
                if not incl:
                    continue
                k = 1
                while True:  # zero-bitplane count, threshold ramp
                    zbp_tree.encode(bw, i, j, k)
                    if zbp < k:
                        break
                    k += 1
                _write_npasses(bw, npasses)
                lbits = npasses.bit_length() - 1  # floor(log2)
                need = max(len(data).bit_length(), 1)
                extra = max(0, need - (3 + lbits))
                bw.write_bits((1 << extra) - 1, extra)  # Lblock += extra
                bw.write(0)
                bw.write_bits(len(data), 3 + extra + lbits)
                bodies.append(data)
    out += bw.flush()
    if eph:
        out += struct.pack(">H", 0xFF92)
    for b in bodies:
        out += b


def _write_layer_packet(
    out: bytearray,
    band_states: list,
    layer: int,
    sop_n: int | None = None,
    eph: bool = False,
) -> None:
    """One packet of a MULTI-LAYER stream (layer >= 0) for one
    (resolution, component). `band_states`: per band a dict with
    'rows'/'cols', persistent 'incl'/'zbp' tag-trees, and 'blocks' —
    per block a dict carrying 'first' (first-inclusion layer, or the
    layer count if never included), 'zbp', and 'contrib': per-layer
    (npasses, chunk) pairs. Tag-tree and Lblock state persist across
    the layers' packets (B.10.8), which is what distinguishes this
    from the single-layer `_write_packet` fast path."""
    if sop_n is not None:
        out += struct.pack(">HHH", 0xFF91, 4, sop_n & 0xFFFF)
    any_contrib = any(
        blk["contrib"][layer][0] > 0
        for bs in band_states
        for blk in bs["blocks"]
    )
    # (docstring note: each contribution is (npasses, [(chunk, passes)
    # per codeword segment]) — one segment on the style-0 path, many
    # under the bypass / term-all code-block styles; every segment's
    # length is signalled with Lblock + floor(log2(its passes)) bits
    # after a single Lblock update sized for the largest (B.10.7.5))
    bw = _HeaderBitWriter()
    if not any_contrib:
        bw.write(0)  # empty packet: inclusion state does not advance
        out += bw.flush()
        if eph:
            out += struct.pack(">H", 0xFF92)
        return
    bw.write(1)
    bodies = []
    for bs in band_states:
        rows, cols = bs["rows"], bs["cols"]
        if not rows or not cols:
            continue
        for i in range(rows):
            for j in range(cols):
                blk = bs["blocks"][i * cols + j]
                npasses, chunks = blk["contrib"][layer]
                if blk["first"] >= layer:  # not included in an earlier layer
                    bs["incl"].encode(bw, i, j, layer + 1)
                    if blk["first"] != layer:
                        continue  # still not included this layer
                    k = 1  # first inclusion: signal zero-bitplanes
                    while True:
                        bs["zbp"].encode(bw, i, j, k)
                        if blk["zbp"] < k:
                            break
                        k += 1
                else:
                    bw.write(1 if npasses else 0)
                    if not npasses:
                        continue
                _write_npasses(bw, npasses)
                extra = 0
                for chunk, cp in chunks:
                    lbits = cp.bit_length() - 1
                    need = max(len(chunk).bit_length(), 1)
                    extra = max(extra, need - (blk["lblock"] + lbits))
                extra = max(0, extra)
                bw.write_bits((1 << extra) - 1, extra)
                bw.write(0)
                blk["lblock"] += extra  # Lblock persists across layers
                for chunk, cp in chunks:
                    bw.write_bits(len(chunk), blk["lblock"] + cp.bit_length() - 1)
                    bodies.append(chunk)
    out += bw.flush()
    if eph:
        out += struct.pack(">H", 0xFF92)
    for b in bodies:
        out += b


def _read_layer_packet(
    data: bytes,
    pos: int,
    band_states: list,
    layer: int,
    sop: bool = False,
    eph: bool = False,
    style: int = 0,
) -> int:
    """Mirror of _write_layer_packet: advances each band's persistent
    tag-tree / Lblock / accumulation state ('chunks' byte list with
    parallel 'seg_passes', and 'npasses' total per block) and returns
    the next position. A non-zero code-block `style` determines how a
    contribution's passes split into codeword segments — one length
    field per segment (B.10.7.5)."""
    if sop:
        marker, lsop = struct.unpack(">HH", data[pos : pos + 4])
        if marker != 0xFF91 or lsop != 4:
            raise ValueError(f"expected SOP marker before packet at {pos}")
        pos += 6
    br = _HeaderBitReader(data, pos)
    if br.read() == 0:
        pos = br.align()
        if eph:
            if data[pos : pos + 2] != struct.pack(">H", 0xFF92):
                raise ValueError(f"expected EPH marker after packet header at {pos}")
            pos += 2
        return pos
    lengths = []  # (block dict, byte length)
    for bs in band_states:
        rows, cols = bs["rows"], bs["cols"]
        if not rows or not cols:
            continue
        for i in range(rows):
            for j in range(cols):
                blk = bs["blocks"][i * cols + j]
                if blk["first"] is None:  # not yet included
                    if not bs["incl"].decode(br, i, j, layer + 1):
                        continue
                    blk["first"] = layer
                    k = 1
                    while not bs["zbp"].decode(br, i, j, k):
                        k += 1
                    blk["zbp"] = k - 1
                elif br.read() == 0:  # included before, no contribution
                    continue
                npasses = _read_npasses(br)
                extra = 0
                while br.read():
                    extra += 1
                blk["lblock"] += extra
                for sp in _seg_partition(npasses, style, blk["npasses"]):
                    ln = br.read_bits(blk["lblock"] + sp.bit_length() - 1)
                    lengths.append((blk, ln, sp))
                blk["npasses"] += npasses
    pos = br.align()
    if eph:
        if data[pos : pos + 2] != struct.pack(">H", 0xFF92):
            raise ValueError(f"expected EPH marker after packet header at {pos}")
        pos += 2
    for blk, ln, sp in lengths:
        blk["chunks"].append(data[pos : pos + ln])
        blk["seg_passes"].append(sp)
        pos += ln
    return pos


def _marker_seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _rct_forward(r, g, b):
    return (r + 2 * g + b) >> 2, b - g, r - g


def _rct_inverse(y, cb, cr):
    g = y - ((cb + cr) >> 2)
    return cr + g, g, cb + g


def _band_quant(
    levels: int, irreversible: bool, delta: float, derived: bool, precision: int = 8
):
    """Per-band quantization in codestream order → ({(r, k): (eps, mu,
    Δ or None)}, QCD body). Style 0 (reversible): Δ is None, eps is the
    ranging exponent P+gain. Style 2 (expounded): every band signals
    its own (eps, mu) for the target step `delta`. Style 1 (derived):
    the LL pair is signalled and eps_b = eps0 - NL + n_b (E-5) doubles
    the step each finer resolution."""
    q = {}
    if not irreversible:
        sqcd = bytearray([_GUARD << 5])
        for r in range(levels + 1):
            for k, orient in enumerate([0] if r == 0 else [1, 2, 3]):
                q[(r, k)] = (precision + _GAIN[orient], 0, None)
                sqcd.append((precision + _GAIN[orient]) << 3)
        return q, bytes(sqcd)
    if derived:
        eps0, mu0, _ = _qparams(delta, precision)
        sqcd = bytearray([(_GUARD << 5) | 1])
        sqcd += struct.pack(">H", (eps0 << 11) | mu0)
        for r in range(levels + 1):
            for k, orient in enumerate([0] if r == 0 else [1, 2, 3]):
                nb = levels if r == 0 else levels - r + 1
                eps = eps0 - levels + nb
                if not 0 <= eps <= 31:
                    raise ValueError(
                        f"derived step for resolution {r} leaves eps={eps}"
                    )
                q[(r, k)] = (
                    eps, mu0, _qdelta(eps, mu0, precision + _GAIN[orient])
                )
        return q, bytes(sqcd)
    sqcd = bytearray([(_GUARD << 5) | 2])
    for r in range(levels + 1):
        for k, orient in enumerate([0] if r == 0 else [1, 2, 3]):
            eps, mu, d = _qparams(delta, precision + _GAIN[orient])
            q[(r, k)] = (eps, mu, d)
            sqcd += struct.pack(">H", (eps << 11) | mu)
    return q, bytes(sqcd)


def _packet_order(levels: int, ncomp: int, comp_major: bool) -> list:
    """One tile's packet sequence as (resolution, component) pairs.
    At one layer and one precinct per band the five Part-1 progression
    orders (A.6.1) collapse to exactly two sequences: resolution-major
    (LRCP/RLCP/RPCL) and component-major (PCRL/CPRL)."""
    if comp_major:
        return [(r, ci) for ci in range(ncomp) for r in range(levels + 1)]
    return [(r, ci) for r in range(levels + 1) for ci in range(ncomp)]


def _res_dims(th: int, tw: int, levels: int, r: int) -> tuple[int, int]:
    """Tile dims at resolution r (the ceil-halving chain: resolution 0
    is the deepest LL)."""
    k = levels - r
    return -(-th // (1 << k)), -(-tw // (1 << k))


def _precinct_blocks(
    r: int, bh: int, bw: int, pp: tuple, pi: int, pj: int,
    cb: tuple[int, int] = (_CBLK, _CBLK),
) -> tuple[int, int, int, int]:
    """Block-grid sub-range [(i0, i1), (j0, j1)) of precinct (pi, pj)
    inside a band of dims (bh, bw) at resolution r. `pp` is THIS
    resolution's (PPy, PPx) exponent pair; the precinct side on the
    band is 2^PP at r=0 and 2^(PP-1) otherwise (B.6); with the
    band-side precinct >= the block sides it is a multiple of both,
    so precinct boundaries align with the band's global code-block
    grid (the constraint encode_j2k/decode_j2k enforce)."""
    ppy, ppx = pp
    sy = 1 << (ppy if r == 0 else ppy - 1)
    sx = 1 << (ppx if r == 0 else ppx - 1)
    rows, cols = _cblk_grid(bh, bw, cb)
    i0 = min(rows, pi * sy // cb[0])
    i1 = min(rows, (pi + 1) * sy // cb[0])
    j0 = min(cols, pj * sx // cb[1])
    j1 = min(cols, (pj + 1) * sx // cb[1])
    return i0, i1, j0, j1


def _packet_order_layers(levels: int, ncomp: int, layers: int, prog: int) -> list:
    """One tile's MULTI-LAYER packet sequence as (layer, resolution,
    component) triples per the A.6.1 nesting of the signalled order
    (position collapses at one precinct per band): LRCP l→r→c,
    RLCP r→l→c, RPCL r→(p)→c→l, PCRL/CPRL (p)→c→r→l / c→(p)→r→l."""
    L, R, C = range(layers), range(levels + 1), range(ncomp)
    if prog == 0:
        return [(l, r, c) for l in L for r in R for c in C]
    if prog == 1:
        return [(l, r, c) for r in R for l in L for c in C]
    if prog == 2:
        return [(l, r, c) for r in R for c in C for l in L]
    return [(l, r, c) for c in C for r in R for l in L]  # PCRL / CPRL


def _packet_sequence(
    levels: int,
    ncomp: int,
    layers: int,
    prog: int,
    precincts: dict,
    pp: list | None,
) -> list:
    """One tile's FULL packet sequence as (layer, r, comp, pi, pj)
    per the signalled A.6.1 progression, including the position-major
    orders over a precinct grid: LRCP l→r→c→p, RLCP r→l→c→p,
    RPCL r→p→c→l, PCRL p→c→r→l, CPRL c→p→r→l. `pp` is the
    per-resolution [(PPy, PPx)] exponent list (B.12.1.3-5 sizes may
    differ per resolution and per axis). Positions step the finest
    projected precinct pitch over all resolutions (projected pitch of
    r is 2^(PP_r + levels - r); all are powers of two, so every
    coarser corner lands on a finest-pitch step) in raster order; a
    resolution emits where the position is its own projected precinct
    corner. ONE implementation, two call sites: the tile encoder and
    the tile decoder walk the same list."""
    L, R, C = range(layers), range(levels + 1), range(ncomp)
    if pp is None or prog <= 1:
        return [
            (l, r, c, pi, pj)
            for l, r, c in _packet_order_layers(levels, ncomp, layers, prog)
            for pi, pj in precincts[r]
        ]
    if prog == 2:  # RPCL
        return [
            (l, r, c, pi, pj)
            for r in R
            for pi, pj in precincts[r]
            for c in C
            for l in L
        ]
    dims = {
        r: (
            max(pi for pi, _ in precincts[r]) + 1,
            max(pj for _, pj in precincts[r]) + 1,
        )
        for r in R
    }
    proj_y = {r: 1 << (pp[r][0] + levels - r) for r in R}
    proj_x = {r: 1 << (pp[r][1] + levels - r) for r in R}
    step_y, step_x = min(proj_y.values()), min(proj_x.values())
    ext_y = max(dims[r][0] * proj_y[r] for r in R)
    ext_x = max(dims[r][1] * proj_x[r] for r in R)
    seq = []

    def emit_position(y: int, x: int, c: int) -> None:
        for r in R:
            if y % proj_y[r] or x % proj_x[r]:
                continue
            pi, pj = y // proj_y[r], x // proj_x[r]
            if pi >= dims[r][0] or pj >= dims[r][1]:
                continue
            for l in L:
                seq.append((l, r, c, pi, pj))

    if prog == 3:  # PCRL
        for y in range(0, ext_y, step_y):
            for x in range(0, ext_x, step_x):
                for c in C:
                    emit_position(y, x, c)
    else:  # CPRL
        for c in C:
            for y in range(0, ext_y, step_y):
                for x in range(0, ext_x, step_x):
                    emit_position(y, x, c)
    return seq


def _layer_contrib(data: bytes, npasses: int, layers: int, first: int) -> list:
    """Split one block's Tier-1 stream across quality layers
    [first..layers-1]: passes distributed earliest-heavy, bytes cut
    proportionally to the cumulative pass count. Our decoder (like any
    decoder reading ALL layers) concatenates the chunks back into the
    single MQ codeword segment, so the cut positions are free. Each
    contribution is (passes, [(chunk bytes, passes)]) — the inner list
    is the packet writer's per-codeword-segment shape (one segment per
    layer contribution on the style-0 path)."""
    nslots = layers - first
    base, rem = divmod(npasses, nslots)
    counts = [0] * first + [base + (1 if k < rem else 0) for k in range(nslots)]
    out = []
    cum = 0
    cut = 0
    for c in counts:
        cum += c
        nxt = round(len(data) * cum / npasses)
        out.append((c, [(data[cut:nxt], c)] if c else []))
        cut = nxt
    return out


def _layer_contrib_styled(
    segs: list, npasses: int, layers: int, first: int, style: int
) -> list:
    """Styled twin of _layer_contrib: split one block's codeword
    segments [(bytes, passes)] across quality layers. Pass counts
    distribute earliest-heavy like the style-0 path; each layer's
    contribution is then cut into length-field pieces by
    _seg_partition at the layer's absolute start pass — a piece
    ending at a termination closes its segment, a trailing piece
    carries the leading bytes of a segment that continues into the
    next layer (the byte cut inside a segment is proportional to
    passes; any cut decodes, since segment portions concatenate
    before MQ/raw decoding)."""
    nslots = layers - first
    base, rem = divmod(npasses, nslots)
    counts = [0] * first + [base + (1 if k < rem else 0) for k in range(nslots)]
    out = []
    k0 = 0
    si = 0  # current segment index
    soff = 0  # bytes of it already shipped
    sk = 0  # passes of it already shipped
    for c in counts:
        pieces = []
        for sp in _seg_partition(c, style, k0) if c else []:
            data, ptot = segs[si]
            if sk + sp < ptot:  # partial: segment continues next layer
                nxt = round(len(data) * (sk + sp) / ptot)
                pieces.append((data[soff:nxt], sp))
                soff, sk = nxt, sk + sp
            else:  # piece closes the segment at its termination
                if sk + sp != ptot:
                    raise ValueError(
                        "layer boundary crosses a codeword segment boundary"
                    )
                pieces.append((data[soff:], sp))
                si, soff, sk = si + 1, 0, 0
        k0 += c
        out.append((c, pieces))
    return out


def _encode_tile_layer_packets(
    comps: list,
    levels: int,
    bandq: dict,
    fwd1d,
    layers: int,
    sop: bool,
    eph: bool,
    prog: int = 0,
    pp: int | None = None,
    style: int = 0,
    cb: tuple[int, int] = (_CBLK, _CBLK),
) -> bytearray:
    """Multi-layer / precinct-partitioned twin of _encode_tile_packets:
    one packet per (layer, resolution, component, precinct) in the
    signalled progression's nesting, with persistent tag-tree / Lblock
    state (tag-trees are PER PRECINCT over that precinct's block
    subgrid). Each block's first-inclusion layer is zbp % layers
    (deterministic, exercises late inclusion); its passes and bytes
    spread over the remaining layers via _layer_contrib. `pp` is the
    per-resolution [(PPy, PPx)] precinct exponent list (band-side
    precinct >= both block sides so precinct boundaries align with
    the block grid); None = one precinct per resolution. `cb` is the
    (height, width) block size.
    `style` routes blocks through the styled Tier-1 coder; with
    multiple layers its codeword segments split across layers via
    _layer_contrib_styled."""
    th, tw = comps[0].shape
    comp_bands = [_fwd_dwt(c, levels, fwd1d) for c in comps]
    states = {}
    precincts = {}  # r -> [(pi, pj)] raster order
    for r, ci in _packet_order(levels, len(comps), False):
        if r not in precincts:
            if pp is None:
                precincts[r] = [(0, 0)]
            else:
                rh, rw = _res_dims(th, tw, levels, r)
                npy = -(-rh // (1 << pp[r][0]))
                npx = -(-rw // (1 << pp[r][1]))
                precincts[r] = [
                    (pi, pj) for pi in range(max(npy, 1)) for pj in range(max(npx, 1))
                ]
        bands = [comp_bands[ci][0]] if r == 0 else list(comp_bands[ci][r])
        band_blocks = []  # per band: (dims, global block-dict grid)
        for k, band in enumerate(bands):
            orient = 0 if r == 0 else (1, 2, 3)[k]
            bh, bw_ = band.shape
            rows, cols = _cblk_grid(bh, bw_, cb)
            eps, _, d = bandq[ci][(r, k)]
            mb = eps + _GUARD - 1
            if d is not None:
                band = np.floor(np.abs(band) / d).astype(np.int64) * np.where(
                    band < 0, -1, 1
                )
            blocks = []
            firsts = np.full((rows, cols), layers, dtype=np.int64)
            zbps = np.zeros((rows, cols), dtype=np.int64)
            for i in range(rows):
                for j in range(cols):
                    blk = band[
                        i * cb[0] : (i + 1) * cb[0], j * cb[1] : (j + 1) * cb[1]
                    ]
                    mags = np.abs(blk)
                    nbps = int(mags.max()).bit_length()
                    if nbps == 0:
                        blocks.append(
                            {"first": layers, "zbp": 0, "lblock": 3,
                             "contrib": [(0, [])] * layers}
                        )
                        continue
                    if nbps > mb:
                        raise ValueError(f"coefficient needs {nbps} bits > Mb={mb}")
                    signs = (blk < 0).astype(np.uint8)
                    first = (mb - nbps) % layers
                    if style:
                        segs, npasses = _t1_encode_block_styled(
                            mags, signs, orient, nbps, style
                        )
                        contrib = _layer_contrib_styled(
                            segs, npasses, layers, first, style
                        )
                    else:
                        data, npasses = _t1_encode_block(mags, signs, orient, nbps)
                        contrib = _layer_contrib(data, npasses, layers, first)
                    blocks.append(
                        {"first": first, "zbp": mb - nbps, "lblock": 3,
                         "contrib": contrib}
                    )
                    firsts[i, j] = first
                    zbps[i, j] = mb - nbps
            band_blocks.append(((bh, bw_, rows, cols), blocks, firsts, zbps))
        for pi, pj in precincts[r]:
            band_states = []
            for (bh, bw_, rows, cols), blocks, firsts, zbps in band_blocks:
                if pp is None:
                    i0, i1, j0, j1 = 0, rows, 0, cols
                else:
                    i0, i1, j0, j1 = _precinct_blocks(
                        r, bh, bw_, pp[r], pi, pj, cb
                    )
                sub = [
                    blocks[i * cols + j]
                    for i in range(i0, i1)
                    for j in range(j0, j1)
                ]
                pr, pc = i1 - i0, j1 - j0
                incl = _TagTree(pr, pc) if pr and pc else None
                zbp_t = _TagTree(pr, pc) if pr and pc else None
                if incl is not None:
                    incl.set_values(firsts[i0:i1, j0:j1])
                    zbp_t.set_values(zbps[i0:i1, j0:j1])
                band_states.append(
                    {"rows": pr, "cols": pc, "incl": incl, "zbp": zbp_t,
                     "blocks": sub}
                )
            states[(r, ci, pi, pj)] = band_states
    packets = bytearray()
    bounds = []  # byte offset after each packet (tile-part split points)
    pkt_n = 0
    for layer, r, ci, pi, pj in _packet_sequence(
        levels, len(comps), layers, prog, precincts, pp
    ):
        _write_layer_packet(
            packets, states[(r, ci, pi, pj)], layer,
            sop_n=pkt_n if sop else None, eph=eph,
        )
        bounds.append(len(packets))
        pkt_n += 1
    return packets, bounds


def _encode_tile_packets(
    comps: list,
    levels: int,
    bandq: dict,
    fwd1d,
    sop: bool = False,
    eph: bool = False,
    comp_major: bool = False,
    cb: tuple[int, int] = (_CBLK, _CBLK),
) -> bytearray:
    """One tile's component planes (already level-shifted and
    color-transformed) → the tile's layer-0 packets in LRCP order:
    per-component DWT, per-band quantization (`bandq` is one quant
    dict PER COMPONENT — QCC/per-tile overrides make them differ),
    Tier-1 block coding, Tier-2 packet headers. `sop`/`eph`
    emit the COD-signalled resync markers (SOP numbered per tile from
    0, the OpenJPEG convention). `cb` is the (height, width)
    code-block size."""
    comp_bands = [_fwd_dwt(c, levels, fwd1d) for c in comps]
    packets = bytearray()
    bounds = []  # byte offset after each packet (tile-part split points)
    pkt_n = 0
    for r, ci in _packet_order(levels, len(comps), comp_major):
        bands = [comp_bands[ci][0]] if r == 0 else list(comp_bands[ci][r])
        orients = [0] if r == 0 else [1, 2, 3]
        band_blocks = []
        for k, (band, orient) in enumerate(zip(bands, orients)):
            bh, bw_ = band.shape
            rows, cols = _cblk_grid(bh, bw_, cb)
            eps, _, d = bandq[ci][(r, k)]
            mb = eps + _GUARD - 1
            if d is not None:  # quantize to indices
                band = np.floor(np.abs(band) / d).astype(np.int64) * np.where(
                    band < 0, -1, 1
                )
            blks = []
            for i in range(rows):
                for j in range(cols):
                    blk = band[
                        i * cb[0] : (i + 1) * cb[0], j * cb[1] : (j + 1) * cb[1]
                    ]
                    mags = np.abs(blk)
                    nbps = int(mags.max()).bit_length()
                    if nbps == 0:
                        blks.append((False, 0, 0, b""))
                        continue
                    if nbps > mb:
                        raise ValueError(
                            f"coefficient needs {nbps} bits > Mb={mb}"
                        )
                    signs = (blk < 0).astype(np.uint8)
                    data, npasses = _t1_encode_block(mags, signs, orient, nbps)
                    blks.append((True, mb - nbps, npasses, data))
            band_blocks.append((rows, cols, blks))
        _write_packet(
            packets, band_blocks, sop_n=pkt_n if sop else None, eph=eph
        )
        bounds.append(len(packets))
        pkt_n += 1
    return packets, bounds


def encode_j2k(
    img: np.ndarray,
    levels: int = 2,
    irreversible: bool = False,
    delta: float = 0.5,
    derived: bool = False,
    tile_size: int | None = None,
    precision: int | None = None,
    sop: bool = False,
    eph: bool = False,
    prog: str = "lrcp",
    layers: int = 1,
    precinct: int | list | None = None,
    tile_parts: int = 1,
    signed: bool = False,
    bypass: bool = False,
    reset: bool = False,
    termall: bool = False,
    causal: bool = False,
    segsym: bool = False,
    cblk: int | tuple[int, int] = _CBLK,
    chroma_delta: float | None = None,
    tile_quant: dict | None = None,
    subsampling: tuple[int, int] | None = None,
    origin: tuple[int, int] | None = None,
) -> bytes:
    """(H,W) grey / (H,W,3) RGB, uint8 or uint16 → JPEG 2000
    codestream (SOC..EOC), EBCOT Tier-1/2. `tile_parts` > 1 splits
    every tile's packet stream into that many SOT..SOD tile-parts at
    packet boundaries, INTERLEAVED across tiles (TPsot/TNsot
    signalled) — the progressive-delivery layout streamed scans use. `prog` is any of the five
    Part-1 progression orders — at one layer/one precinct lrcp/rlcp/
    rpcl share the resolution-major packet sequence and pcrl/cprl the
    component-major one; the signalled byte matches the name.
    `layers` > 1 writes a QUALITY-PROGRESSIVE stream (the archival
    multi-layer profile): each block's coding passes spread across
    layers with persistent tag-tree/Lblock packet state, packets
    nested per the signalled progression. `precinct` partitions every
    resolution into precincts (the region-access layout big-scan
    profiles pair with tiling; any progression order), each precinct
    its own packet chain with its own tag-trees. It is an int
    exponent (square 2^precinct at every resolution), or a list
    indexed by resolution level (0 = the deepest LL) whose entries
    are an int or a (PPy, PPx) pair — rectangular and per-resolution
    sizes, the layout archival encoders emit by default (e.g.
    Kakadu's Cprecincts) — with the LAST entry repeating for any
    remaining finer resolutions; every band-side precinct must cover
    the code-block grid.
    `precision` is the sample depth P (2..16; default 8 for uint8 /
    16 for uint16 — precision=12 on uint16 data is the 12-bit DICOM
    layout, mirroring encode_jpeg_lossless). `sop`/`eph` emit the
    COD-signalled resync markers (SOP before each packet, EPH after
    each packet header) that error-resilient encoder profiles use.

    Default: lossless (5/3 reversible DWT + RCT, bit-exact decode).
    `irreversible=True` switches to the lossy Part-1 path: 9/7 CDF
    wavelet + ICT with scalar quantization at step `delta` (expounded
    by default; `derived=True` signals the LL pair and doubles the
    step per resolution). Smaller `delta` = finer quality.

    `tile_size` partitions the image into square tiles (A.4.1 grid at
    offset 0,0; edge tiles clipped) — the layout big archival scans
    ship in, each tile an independently-coded SOT..SOD tile-part so a
    reader can decode regions without the whole image. Default: one
    tile covering the image.

    `signed=True` takes int8/int16 samples and writes SIGNED
    components (Ssiz sign bit, A.5.1): the DC level shift is skipped
    in both directions — the layout signed-pixel medical data (CT
    Hounsfield-style) ships in.

    `bypass`/`reset`/`termall`/`causal`/`segsym` are the Part-1
    code-block styles (Table A.23): selective MQ bypass (raw SPP/MRP
    segments from pass 10 — the speed mode hardware encoders default
    to), context reset on every pass, a codeword-segment termination
    per pass, vertically-causal context formation, and segmentation
    symbols after each cleanup (error detection). They compose with
    each other and with tiles/precincts/progressions/tile-parts and
    with multiple quality layers (styled codeword segments split
    across layer contributions, one length field per portion).

    `cblk` is the code-block size — a side or an (h, w) pair, each a
    power of two in 4..1024 with the A.6.1 area bound
    log2(h) + log2(w) <= 12 (the spec default 64x64; digital-cinema
    profiles mandate 32x32; rectangular blocks are the low-latency
    layout). Precincts must cover at least one block at every
    resolution: the band-side precinct (2^PP at resolution 0,
    2^(PP-1) above) >= the block side on each axis.

    `chroma_delta` (irreversible RGB only) quantizes components 1-2
    at its own step, signalled by main-header QCC marker segments
    (A.6.5) — the coarser-chroma layout real colour encoders emit by
    default. `tile_quant` maps tile index → per-tile quantization
    override written into that tile's FIRST tile-part header: a float
    writes a tile QCD at that step (taking precedence over the main
    QCD *and* main QCC for every component of the tile, per the
    A.6.4/A.6.5 precedence chain tile-QCC > tile-QCD > main-QCC >
    main-QCD); an (L, C) tuple adds tile QCCs quantizing chroma at
    step C — the region-of-interest layout geospatial encoders use to
    spend bits where the detail is.

    `subsampling=(yr, xr)` (RGB only; factors 1/2/4) decimates
    components 1-2 AFTER the color transform — (2, 2) is 4:2:0,
    (1, 2) is 4:2:2, the layouts lossy archival scanners emit — and
    signals per-component XRsiz/YRsiz in SIZ. The decoder replicates
    chroma back onto the reference grid before the inverse transform,
    so reference-grid-sampled positions roundtrip exactly (bit-exact
    on the 5/3 path). Not combinable with `precinct`; `tile_size`
    must be a multiple of both factors.

    `origin=(yo, xo)` writes a nonzero XOsiz/YOsiz image offset with
    the tile grid anchored at the region origin (XTOsiz = XOsiz — the
    CROP layout, A.5.1/B.3): the image region is [xo, xo+W) x
    [yo, yo+H) on a larger reference grid. Offsets must sit on the
    decomposition/subsampling lattice (multiples of XRsiz·2^levels /
    YRsiz·2^levels), where the translation to the zero-offset layout
    is exact — decode equals the unoffset stream bit-for-bit."""
    if signed:
        if img.dtype not in (np.int8, np.int16) or img.ndim not in (2, 3):
            raise ValueError(
                "encode_j2k(signed=True) expects (H,W)/(H,W,3) int8 or int16"
            )
        if precision is None:
            precision = 8 if img.dtype == np.int8 else 16
    else:
        if img.dtype not in (np.uint8, np.uint16) or img.ndim not in (2, 3):
            raise ValueError("encode_j2k expects (H,W)/(H,W,3) uint8 or uint16")
        if precision is None:
            precision = 8 if img.dtype == np.uint8 else 16
    if not 2 <= precision <= 16:
        raise ValueError(f"precision must be 2..16, got {precision}")
    if signed:
        half = 1 << (precision - 1)
        if int(img.min(initial=0)) < -half or int(img.max(initial=0)) >= half:
            raise ValueError(
                f"sample exceeds the declared signed {precision}-bit range"
            )
    elif int(img.max(initial=0)) >> precision:
        raise ValueError(f"sample exceeds the declared {precision}-bit precision")
    if img.ndim == 3 and img.shape[2] != 3:
        raise ValueError(f"expected 3 colour channels, got {img.shape[2]}")
    if not 0 <= levels <= 32:
        raise ValueError(f"decomposition levels must be 0..32, got {levels}")
    if not irreversible and (derived or delta != 0.5):
        raise ValueError("delta/derived apply to the irreversible path only")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    if tile_size is not None and tile_size < 16:
        raise ValueError(f"tile_size must be >= 16, got {tile_size}")
    if chroma_delta is not None:
        if not irreversible:
            raise ValueError("chroma_delta applies to the irreversible path only")
        if img.ndim != 3:
            raise ValueError("chroma_delta needs 3 colour components")
    if tile_quant:
        if not irreversible:
            raise ValueError("tile_quant applies to the irreversible path only")
        if tile_size is None:
            raise ValueError("tile_quant needs a tile grid (tile_size)")
    if subsampling is not None and tuple(subsampling) == (1, 1):
        subsampling = None
    if subsampling is not None:
        yr_s, xr_s = int(subsampling[0]), int(subsampling[1])
        if img.ndim != 3:
            raise ValueError("subsampling applies to 3-component images")
        if yr_s not in (1, 2, 4) or xr_s not in (1, 2, 4):
            raise ValueError(
                f"subsampling factors must be 1/2/4, got {subsampling}"
            )
        if precinct is not None:
            raise NotImplementedError(
                "precincts with subsampled components not supported"
            )
        if tile_size is not None and (tile_size % yr_s or tile_size % xr_s):
            raise ValueError(
                "tile_size must be a multiple of the subsampling factors "
                "(empty edge tile-components otherwise)"
            )
    yo_o = xo_o = 0
    if origin is not None:
        yo_o, xo_o = int(origin[0]), int(origin[1])
        if yo_o < 0 or xo_o < 0:
            raise ValueError(f"origin offsets must be >= 0, got {origin}")
        unit_y = (subsampling[0] if subsampling is not None else 1) << levels
        unit_x = (subsampling[1] if subsampling is not None else 1) << levels
        if yo_o % unit_y or xo_o % unit_x:
            raise ValueError(
                f"origin {origin} must sit on the decomposition/"
                f"subsampling lattice (multiples of {unit_y}x{unit_x})"
            )
    shifted = img.astype(np.float64 if irreversible else np.int64)
    if not signed:  # DC level shift (B.1.1) applies to unsigned data only
        shifted = shifted - (1 << (precision - 1))
    if img.ndim == 2:
        comps = [shifted]
        mct = 0
    else:
        xform = _ict_forward if irreversible else _rct_forward
        comps = list(xform(shifted[..., 0], shifted[..., 1], shifted[..., 2]))
        mct = 1

    comp_sub = [(1, 1)] * (1 if img.ndim == 2 else 3)
    if subsampling is not None:
        # chroma decimation AFTER the color transform (the standard
        # 4:2:0/4:2:2 recipe); the decoder replicates back onto the
        # reference grid before the inverse transform
        comp_sub = [(1, 1), (yr_s, xr_s), (yr_s, xr_s)]
        comps[1] = np.ascontiguousarray(comps[1][::yr_s, ::xr_s])
        comps[2] = np.ascontiguousarray(comps[2][::yr_s, ::xr_s])
    fwd1d = _fwd_97_1d if irreversible else None
    bandq, sqcd = _band_quant(levels, irreversible, delta, derived, precision)
    xt = min(tile_size, w) if tile_size else w
    yt = min(tile_size, h) if tile_size else h
    ntx, nty = -(-w // xt), -(-h // yt)

    ncomp = len(comps)
    sqcc_body = None
    if chroma_delta is not None:
        cq, sqcc_body = _band_quant(levels, True, chroma_delta, derived, precision)
        main_q = [bandq, cq, cq]
    else:
        main_q = [bandq] * ncomp
    tile_hdrs: dict = {}
    tile_bandqs: dict = {}
    if tile_quant:
        for t, spec in sorted(tile_quant.items()):
            if not 0 <= int(t) < ntx * nty:
                raise ValueError(
                    f"tile_quant index {t} outside the {ntx}x{nty} tile grid"
                )
            if isinstance(spec, tuple):
                if ncomp != 3:
                    raise ValueError(
                        "per-tile chroma step needs 3 colour components"
                    )
                dl, dc = spec
            else:
                dl, dc = spec, None
            tq, tqcd_body = _band_quant(levels, True, float(dl), derived, precision)
            hdr = _marker_seg(0xFF5C, tqcd_body)
            eff = [tq] * ncomp
            if dc is not None:
                tcq, tqcc_body = _band_quant(
                    levels, True, float(dc), derived, precision
                )
                for ci in (1, 2):
                    hdr += _marker_seg(0xFF5D, bytes([ci]) + tqcc_body)
                eff[1] = eff[2] = tcq
            tile_hdrs[int(t)] = hdr
            tile_bandqs[int(t)] = eff
    out = bytearray(struct.pack(">H", _SOC))
    siz = struct.pack(
        ">HIIIIIIII H",
        0, xo_o + w, yo_o + h, xo_o, yo_o, xt, yt, xo_o, yo_o, ncomp,
    ) + b"".join(
        bytes([(precision - 1) | (0x80 if signed else 0), xr_c, yr_c])
        for yr_c, xr_c in comp_sub
    )  # Ssiz = P-1 (+sign bit), XRsiz/YRsiz separation
    out += _marker_seg(0xFF51, siz)
    progs = {"lrcp": 0, "rlcp": 1, "rpcl": 2, "pcrl": 3, "cprl": 4}
    if prog not in progs:
        raise ValueError(f"prog must be one of {sorted(progs)}, got {prog!r}")
    if not 1 <= layers <= 65535:
        raise ValueError(f"layers must be 1..65535, got {layers}")
    cb = (cblk, cblk) if isinstance(cblk, int) else (int(cblk[0]), int(cblk[1]))
    ycb, xcb = cb[0].bit_length() - 1, cb[1].bit_length() - 1
    if (
        (1 << ycb) != cb[0] or (1 << xcb) != cb[1]
        or not (2 <= ycb <= 10 and 2 <= xcb <= 10) or xcb + ycb > 12
    ):
        raise ValueError(
            f"code-block size must be power-of-two sides 4..1024 with "
            f"area <= 4096, got {cb}"
        )
    plist = None
    if precinct is not None:
        specs = [precinct] if isinstance(precinct, int) else list(precinct)
        if not specs:
            raise ValueError("precinct list is empty")
        norm = [
            (s, s) if isinstance(s, int) else (int(s[0]), int(s[1]))
            for s in specs
        ]
        if len(norm) > levels + 1:
            raise ValueError(
                f"precinct list has {len(norm)} entries for "
                f"{levels + 1} resolutions"
            )
        plist = norm + [norm[-1]] * (levels + 1 - len(norm))
        for r, (ppy, ppx) in enumerate(plist):
            band = 0 if r == 0 else 1
            if not (ycb + band <= ppy <= 15 and xcb + band <= ppx <= 15):
                raise ValueError(
                    f"precinct exponents {(ppy, ppx)} at resolution {r} "
                    f"must be {(ycb + band, xcb + band)}..15 (band-side "
                    f"precinct covering a {cb[0]}x{cb[1]} block grid)"
                )
    if not 1 <= tile_parts <= 254:  # TNsot is one byte; 255 reserved
        raise ValueError(f"tile_parts must be 1..254, got {tile_parts}")
    style = (
        (_ST_BYPASS if bypass else 0)
        | (_ST_RESET if reset else 0)
        | (_ST_TERMALL if termall else 0)
        | (_ST_CAUSAL if causal else 0)
        | (_ST_SEGSYM if segsym else 0)
    )
    comp_major = progs[prog] >= 3
    scod = (
        (1 if precinct is not None else 0) | (2 if sop else 0) | (4 if eph else 0)
    )
    cod = bytes([scod]) + bytes([progs[prog]]) + struct.pack(">H", layers) + bytes(
        [mct]
    ) + bytes(
        [levels, xcb - 2, ycb - 2, style]
    ) + bytes([0 if irreversible else 1])
    if plist is not None:
        cod += bytes([ppx | (ppy << 4) for ppy, ppx in plist])
    out += _marker_seg(0xFF52, cod)
    out += _marker_seg(0xFF5C, sqcd)
    if sqcc_body is not None:
        for ci in (1, 2):
            out += _marker_seg(0xFF5D, bytes([ci]) + sqcc_body)
    tile_payloads = []
    for t in range(ntx * nty):
        ty, tx = divmod(t, ntx)
        y0, x0 = ty * yt, tx * xt
        y1, x1 = min(y0 + yt, h), min(x0 + xt, w)
        tile_comps = [
            c[-(-y0 // yr_c) : -(-y1 // yr_c), -(-x0 // xr_c) : -(-x1 // xr_c)]
            for (yr_c, xr_c), c in zip(comp_sub, comps)
        ]
        tile_q = tile_bandqs.get(t, main_q)
        if layers > 1 or plist is not None or style:
            packets, bounds = _encode_tile_layer_packets(
                tile_comps, levels, tile_q, fwd1d, layers, sop, eph,
                progs[prog], plist, style, cb,
            )
        else:
            packets, bounds = _encode_tile_packets(
                tile_comps, levels, tile_q, fwd1d, sop, eph, comp_major, cb
            )
        tile_payloads.append((packets, bounds))
    if tile_parts == 1:
        for t, (packets, _bounds) in enumerate(tile_payloads):
            hdr = tile_hdrs.get(t, b"")
            psot = 12 + len(hdr) + 2 + len(packets)  # SOT + overrides + SOD + data
            out += _marker_seg(0xFF90, struct.pack(">HIBB", t, psot, 0, 1))
            out += hdr
            out += struct.pack(">H", 0xFF93)
            out += packets
    else:
        # split each tile's packet stream into tile_parts slices at
        # packet boundaries and INTERLEAVE the parts across tiles —
        # the progressive-delivery layout multi-part streams exist for
        for part in range(tile_parts):
            for t, (packets, bounds) in enumerate(tile_payloads):
                n = len(bounds)
                lo = bounds[(part * n) // tile_parts - 1] if (part * n) // tile_parts else 0
                hi = bounds[((part + 1) * n) // tile_parts - 1] if ((part + 1) * n) // tile_parts else 0
                chunk = packets[lo:hi]
                hdr = tile_hdrs.get(t, b"") if part == 0 else b""
                psot = 12 + len(hdr) + 2 + len(chunk)
                out += _marker_seg(
                    0xFF90, struct.pack(">HIBB", t, psot, part, tile_parts)
                )
                out += hdr
                out += struct.pack(">H", 0xFF93)
                out += chunk
    out += struct.pack(">H", 0xFFD9)
    return bytes(out)


def _parse_quant(body: bytes, irreversible: bool, levels: int, precision: int) -> dict:
    """QCD/QCC marker-segment body (Sq + SPq, A.6.4/A.6.5) →
    {(r, k): (Mb, Δ or None)} per Annex E. Style 0 (no quantization)
    is only legal on the reversible 5/3 path and styles 1/2 (scalar
    derived/expounded) only on the irreversible 9/7 path — the
    transform is signalled globally in COD, so a mismatched style is
    a stream inconsistency, not a supported layout."""
    qstyle = body[0] & 0x1F
    guard = body[0] >> 5
    if not irreversible and qstyle != 0:
        raise ValueError("reversible 5/3 stream signals a quantized QCD style")
    if irreversible and qstyle not in (1, 2):
        raise ValueError("irreversible 9/7 stream without quantization parameters")
    q = {}
    if qstyle == 0:
        exps = [b >> 3 for b in body[1:]]
        bi = 0
        for r in range(levels + 1):
            for k in range(1 if r == 0 else 3):
                if bi >= len(exps):
                    raise ValueError("quantization marker body truncated")
                q[(r, k)] = (exps[bi] + guard - 1, None)
                bi += 1
    elif qstyle == 1:  # scalar derived: LL pair, steps double per resolution
        if len(body) < 3:
            raise ValueError("quantization marker body truncated")
        (v0,) = struct.unpack(">H", body[1:3])
        eps0, mu0 = v0 >> 11, v0 & 0x7FF
        for r in range(levels + 1):
            for k, orient in enumerate([0] if r == 0 else [1, 2, 3]):
                nb = levels if r == 0 else levels - r + 1
                eps = eps0 - levels + nb
                if eps < 0:
                    raise ValueError(f"derived quantization leaves eps={eps} < 0")
                q[(r, k)] = (
                    eps + guard - 1,
                    _qdelta(eps, mu0, precision + _GAIN[orient]),
                )
    else:  # scalar expounded: one (eps, mu) pair per band
        bi = 1
        for r in range(levels + 1):
            for k, orient in enumerate([0] if r == 0 else [1, 2, 3]):
                if bi + 2 > len(body):
                    raise ValueError("quantization marker body truncated")
                (v,) = struct.unpack(">H", body[bi : bi + 2])
                bi += 2
                eps, mu = v >> 11, v & 0x7FF
                q[(r, k)] = (
                    eps + guard - 1,
                    _qdelta(eps, mu, precision + _GAIN[orient]),
                )
    return q


@loud_decode("JPEG 2000")
def decode_j2k(data: bytes, deep: bool = False) -> np.ndarray:
    """J2K codestream → (H,W)/(H,W,3) image. Bit-exact inverse of
    encode_j2k on the lossless 5/3 path; midpoint-dequantized (error
    <= Δ/2 per coefficient) on the irreversible 9/7 path, scalar
    derived or expounded. Tiled streams (any A.4.1 grid at offset
    0,0) decode tile by tile, with each tile's packets allowed to
    arrive split across multiple in-order tile-parts interleaved with
    other tiles'. Any 2-16-bit unsigned OR signed sample depth
    decodes (signed skips the DC level shift; A.5.1); `deep=True`
    returns full-precision samples (uint16/int16 for P>8), otherwise
    the image seam's uint8 projection applies: signed shifts up by
    2^(P-1), then top 8 bits for P>8, left-aligned for P<8 (the same
    convention as decode_jpeg's SOF3 path). Fails loudly
    (NotImplementedError) on the declared out-of-scope features:
    per-tile/component CODING overrides (COD/COC/POC), off-origin or
    lattice-misaligned offset grids, precincts smaller than the
    code-block grid or combined with subsampled components,
    predictable-termination style, mixed-sign components. All five progression orders, multi-layer (including
    STYLED multi-layer: segment portions split across layer
    contributions reassemble before Tier-1 decode), precinct
    partitions (per-resolution and rectangular sizes included),
    the SOP/EPH resync layouts, the
    bypass/termall/reset/causal/segsym code-block styles, and
    QUANTIZATION overrides — main-header QCC and per-tile QCD/QCC,
    honoring the A.6.4/A.6.5 precedence chain tile-QCC > tile-QCD >
    main-QCC > main-QCD — decode."""
    if data[:2] != struct.pack(">H", _SOC):
        raise ValueError("not a JPEG 2000 codestream (missing SOC)")
    pos = 2
    siz = cod = qcd = None
    qcc_main: dict = {}  # component index → QCC body (Sqcc + SPqcc)
    first_sot = None
    while pos + 4 <= len(data):
        (marker,) = struct.unpack(">H", data[pos : pos + 2])
        if marker == 0xFF90:  # first SOT: the main header ends here
            first_sot = pos
            break
        if marker == 0xFF93:
            raise ValueError("JPEG 2000 SOD before any SOT")
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        body = data[pos + 4 : pos + 2 + ln]
        pos += 2 + ln
        if marker == 0xFF51:
            siz = body
        elif marker == 0xFF52:
            cod = body
        elif marker == 0xFF5C:
            qcd = body
        elif marker == 0xFF5D:
            # QCC (A.6.5): per-component quantization override. Csiz
            # is capped at 3 here, so Cqcc is always one byte.
            if len(body) < 2:
                raise ValueError("JPEG 2000 QCC marker body truncated")
            qcc_main[body[0]] = body[1:]
        elif marker in (0xFF53, 0xFF5F, 0xFF60):
            # silently skipping these would decode WRONG rather than
            # fail: COC overrides coding parameters per component,
            # POC changes the progression mid-stream, PPM moves the
            # packet headers out of the bitstream
            raise NotImplementedError(
                "JPEG 2000 COC/POC/PPM main-header overrides not supported"
            )
        # other main-header segments (COM/TLM/PLM/CRG) are advisory
        # and skipped
    if first_sot is None:
        raise ValueError("JPEG 2000 codestream has no tile-part (SOT)")
    if siz is None or cod is None or qcd is None:
        raise ValueError("JPEG 2000 missing SIZ/COD/QCD")

    rsiz, xs, ys, xo, yo, xt, yt, xto, yto, ncomp = struct.unpack(">HIIIIIIIIH", siz[:36])
    if xo >= xs or yo >= ys:
        raise ValueError("JPEG 2000 image offsets leave an empty region")
    if (xto, yto) != (xo, yo):
        # the decodable offset shape is the CROP layout (tile grid
        # anchored at the region origin): everything translates to the
        # zero-offset lattice. An anchor below the origin clips the
        # first tile row/column — a different tile geometry, declared
        # out of scope (decoding it as translated would misparse).
        raise NotImplementedError(
            "JPEG 2000 offset grids with the tile anchor off the image "
            "origin not supported"
        )
    # alignment with the decomposition/subsampling lattice is checked
    # below once COD's level count is known (origin parity changes the
    # B.5 band split; only lattice-aligned origins translate exactly)
    if ncomp not in (1, 3):
        raise NotImplementedError(f"JPEG 2000 with {ncomp} components not supported")
    precision = None
    signed = None
    sub = []  # per-component (YRsiz, XRsiz) separations on the grid
    for c in range(ncomp):
        ssiz, xr, yr = siz[36 + 3 * c], siz[37 + 3 * c], siz[38 + 3 * c]
        p = (ssiz & 0x7F) + 1
        if not 2 <= p <= 16:
            raise NotImplementedError(f"JPEG 2000 {p}-bit components not supported")
        if precision is None:
            precision, signed = p, bool(ssiz & 0x80)
        elif p != precision or bool(ssiz & 0x80) != signed:
            raise NotImplementedError(
                "JPEG 2000 mixed-depth or mixed-sign components not supported"
            )
        if not (1 <= xr <= 8 and 1 <= yr <= 8):
            raise NotImplementedError(
                f"JPEG 2000 component separation {xr}x{yr} not supported"
            )
        sub.append((yr, xr))
    subsampled = any(s != (1, 1) for s in sub)
    h, w = ys - yo, xs - xo
    if h == 0 or w == 0 or int(h) * int(w) > 1 << 30:
        # sanity cap (1 gigapixel) — a corrupt SIZ otherwise reaches
        # the allocator before any bounds check can
        raise ValueError(f"implausible JPEG 2000 dimensions {w}x{h}")
    xt, yt = min(xt, w), min(yt, h)
    if xt == 0 or yt == 0:
        raise ValueError("JPEG 2000 zero tile dimensions")
    ntx, nty = -(-w // xt), -(-h // yt)

    scod = cod[0]
    sop, eph = bool(scod & 0x02), bool(scod & 0x04)
    prog, layers, mct = cod[1], struct.unpack(">H", cod[2:4])[0], cod[4]
    if prog > 4:
        raise ValueError(f"JPEG 2000 progression order {prog} is illegal")
    if layers < 1:
        raise ValueError("JPEG 2000 stream declares zero layers")
    # with ONE layer and ONE precinct per band the five A.6.1 orders
    # collapse to two packet sequences: resolution-major (LRCP/RLCP/
    # RPCL) and component-major (PCRL/CPRL) — _packet_order picks the
    # right one; multi-layer streams iterate the full (layer, res,
    # comp) nesting via _packet_order_layers
    comp_major = prog >= 3
    levels, cbw, cbh, cbstyle, transform = cod[5], cod[6], cod[7], cod[8], cod[9]
    if cbstyle & ~_ST_SUPPORTED:
        raise NotImplementedError(
            f"JPEG 2000 code-block style {cbstyle:#04x} not supported "
            "(predictable termination / reserved bits)"
        )
    style = cbstyle
    if transform not in (0, 1):
        raise ValueError(f"JPEG 2000 transform byte {transform} is illegal")
    irreversible = transform == 0
    xcb, ycb = cbw + 2, cbh + 2
    if not (2 <= xcb <= 10 and 2 <= ycb <= 10) or xcb + ycb > 12:
        raise ValueError(
            f"JPEG 2000 code-block exponents ({xcb}, {ycb}) are illegal"
        )
    cb = (1 << ycb, 1 << xcb)  # (height, width)
    pp = None
    if scod & 0x01:  # per-resolution precinct sizes follow SPcod
        psizes = cod[10 : 10 + levels + 1]
        if len(psizes) != levels + 1:
            raise ValueError("JPEG 2000 COD missing precinct sizes")
        pp = []
        for r, b in enumerate(psizes):
            ppx, ppy = b & 0x0F, b >> 4
            band = 0 if r == 0 else 1
            if ppy - band < ycb or ppx - band < xcb:
                # a precinct smaller than the code block shrinks the
                # EFFECTIVE block size (B.7) — a different block grid,
                # out of scope; skipping would misparse every packet
                raise NotImplementedError(
                    "JPEG 2000 precincts smaller than the code-block "
                    "grid not supported"
                )
            pp.append((ppy, ppx))
    if subsampled and pp is not None:
        # per-component precinct grids + the B.12.1.4 component-pitch
        # position steps — a different packet sequence; skipping would
        # misparse every packet
        raise NotImplementedError(
            "JPEG 2000 precincts with subsampled components not supported"
        )
    if xo or yo:
        for yr, xr in sub:
            if xo % (xr << levels) or yo % (yr << levels):
                # a lattice-misaligned origin flips the B.5 band-split
                # parity; only aligned origins translate to the
                # zero-offset layout this decoder computes
                raise NotImplementedError(
                    "JPEG 2000 offset grid misaligned with the "
                    "decomposition/subsampling lattice not supported"
                )
    # per-component {(r, k): (Mb, Δ or None)}: QCD for every component,
    # overridden where a main-header QCC names one (A.6.5 precedence)
    q_main = _parse_quant(qcd, irreversible, levels, precision)
    for ci in qcc_main:
        if ci >= ncomp:
            raise ValueError(
                f"JPEG 2000 QCC names component {ci} of {ncomp}"
            )
    band_q = [
        _parse_quant(qcc_main[ci], irreversible, levels, precision)
        if ci in qcc_main
        else q_main
        for ci in range(ncomp)
    ]

    inv1d = _inv_97_1d if irreversible else None
    planes = [
        np.zeros(
            (-(-h // yr), -(-w // xr)),
            dtype=np.float64 if irreversible else np.int64,
        )
        for yr, xr in sub
    ]
    def new_tile(isot: int) -> dict:
        """Lazy per-tile decode state: band layout, per-precinct
        tag-tree/block accumulation state, and the tile's full packet
        key sequence with a cursor — tile-parts advance the cursor
        until their Psot boundary, so a tile's packets may arrive
        split across any number of (in-order) parts, interleaved with
        other tiles' parts (the streamed-scan layout)."""
        ty_, tx_ = divmod(isot, ntx)
        th = min(yt, h - ty_ * yt)
        tw = min(xt, w - tx_ * xt)
        ty0, tx0 = ty_ * yt, tx_ * xt
        # per-component tile bounds on each component's own grid
        # (B.3 with zero offsets: ceil-divide the reference-grid span)
        cdims, layouts = [], []
        for yr, xr in sub:
            cy0, cy1 = -(-ty0 // yr), -(-(ty0 + th) // yr)
            cx0, cx1 = -(-tx0 // xr), -(-(tx0 + tw) // xr)
            if cy1 <= cy0 or cx1 <= cx0:
                raise NotImplementedError(
                    "JPEG 2000 empty tile-component (edge tile thinner "
                    "than the subsampling step) not supported"
                )
            cdims.append((cy0, cy1, cx0, cx1))
            layouts.append(_band_layout(cy1 - cy0, cx1 - cx0, levels))
        states = {}
        grids_by = {}
        precincts = {}
        for r in range(levels + 1):
            if pp is None:
                precincts[r] = [(0, 0)]
            else:
                rh, rw = _res_dims(th, tw, levels, r)
                npy = max(-(-rh // (1 << pp[r][0])), 1)
                npx = max(-(-rw // (1 << pp[r][1])), 1)
                precincts[r] = [
                    (pi, pj) for pi in range(npy) for pj in range(npx)
                ]
        for r, ci in _packet_order(levels, ncomp, False):
            band_blocks = []
            for orient, bh, bw_ in layouts[ci][r]:
                rows, cols = _cblk_grid(bh, bw_, cb)
                blocks = [
                    {"first": None, "zbp": 0, "npasses": 0,
                     "chunks": [], "seg_passes": [], "lblock": 3}
                    for _ in range(rows * cols)
                ]
                band_blocks.append((bh, bw_, rows, cols, blocks))
            grids_by[(r, ci)] = band_blocks
            for pi, pj in precincts[r]:
                band_states = []
                for bh, bw_, rows, cols, blocks in band_blocks:
                    if pp is None:
                        i0, i1, j0, j1 = 0, rows, 0, cols
                    else:
                        i0, i1, j0, j1 = _precinct_blocks(
                            r, bh, bw_, pp[r], pi, pj, cb
                        )
                    pr, pc = i1 - i0, j1 - j0
                    band_states.append(
                        {
                            "rows": pr,
                            "cols": pc,
                            "incl": _TagTree(pr, pc) if pr and pc else None,
                            "zbp": _TagTree(pr, pc) if pr and pc else None,
                            "blocks": [
                                blocks[i * cols + j]
                                for i in range(i0, i1)
                                for j in range(j0, j1)
                            ],
                        }
                    )
                states[(r, ci, pi, pj)] = band_states
        keys = _packet_sequence(levels, ncomp, layers, prog, precincts, pp)
        return {
            "pos": (ty_, tx_), "cdims": cdims, "layouts": layouts,
            "states": states, "grids": grids_by, "keys": keys,
            "cursor": 0, "parts": 0, "band_q": band_q,
        }

    pos = first_sot
    tiles: dict = {}
    while pos + 2 <= len(data):
        (marker,) = struct.unpack(">H", data[pos : pos + 2])
        if marker == 0xFFD9:  # EOC
            break
        if marker != 0xFF90:
            raise ValueError(f"expected SOT or EOC marker, got {marker:#06x}")
        sot_start = pos
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        isot, psot, tpsot, tnsot = struct.unpack(
            ">HIBB", data[pos + 4 : pos + 12]
        )
        pos += 2 + ln
        if isot >= ntx * nty:
            raise ValueError(f"tile index {isot} outside the {ntx}x{nty} grid")
        tqcd = None
        tqcc: dict = {}
        while True:  # tile-part header: markers until SOD
            (m2,) = struct.unpack(">H", data[pos : pos + 2])
            if m2 == 0xFF93:
                pos += 2
                break
            if m2 in (0xFF52, 0xFF53, 0xFF5F, 0xFF61):
                # per-tile COD/COC/POC overrides and PPT packed packet
                # headers would silently misparse the packets
                raise NotImplementedError(
                    "JPEG 2000 per-tile coding/progression overrides "
                    "not supported"
                )
            (l2,) = struct.unpack(">H", data[pos + 2 : pos + 4])
            if m2 == 0xFF5C:  # tile QCD (A.6.4)
                tqcd = data[pos + 4 : pos + 2 + l2]
            elif m2 == 0xFF5D:  # tile QCC
                body2 = data[pos + 4 : pos + 2 + l2]
                if len(body2) < 2:
                    raise ValueError("JPEG 2000 QCC marker body truncated")
                tqcc[body2[0]] = body2[1:]
            pos += 2 + l2
        if (tqcd is not None or tqcc) and tpsot != 0:
            # A.6.4/A.6.5: quantization overrides are first-part-only
            raise ValueError(
                f"tile {isot} signals quantization overrides in part {tpsot}"
            )
        t = tiles.get(isot)
        if t is None:
            t = tiles[isot] = new_tile(isot)
        if tqcd is not None or tqcc:
            # precedence (A.6.4/A.6.5): tile QCC > tile QCD > main
            # QCC > main QCD — a tile QCD covers even components the
            # MAIN header names in a QCC
            for ci in tqcc:
                if ci >= ncomp:
                    raise ValueError(
                        f"JPEG 2000 tile QCC names component {ci} of {ncomp}"
                    )
            q_tile = (
                _parse_quant(tqcd, irreversible, levels, precision)
                if tqcd is not None
                else None
            )
            t["band_q"] = [
                _parse_quant(tqcc[ci], irreversible, levels, precision)
                if ci in tqcc
                else (q_tile if q_tile is not None else band_q[ci])
                for ci in range(ncomp)
            ]
        if tpsot != t["parts"]:
            raise ValueError(
                f"tile {isot} part {tpsot} arrived, expected part {t['parts']}"
            )
        if tnsot and tpsot >= tnsot:
            raise ValueError(
                f"tile {isot} part index {tpsot} >= declared count {tnsot}"
            )
        end = sot_start + psot if psot else None  # Psot=0: runs to EOC
        keys = t["keys"]
        while t["cursor"] < len(keys) and (end is None or pos < end):
            layer, r, ci, pi, pj = keys[t["cursor"]]
            pos = _read_layer_packet(
                data, pos, t["states"][(r, ci, pi, pj)], layer, sop, eph, style
            )
            t["cursor"] += 1
        if end is not None and pos != end:
            raise ValueError(
                f"tile {isot} part {tpsot} length mismatch (Psot={psot})"
            )
        t["parts"] += 1

    if len(tiles) != ntx * nty:
        raise ValueError(
            f"JPEG 2000 stream carries {len(tiles)} tiles, expected {ntx * nty}"
        )
    for isot, t in tiles.items():
        if t["cursor"] != len(t["keys"]):
            raise ValueError(
                f"tile {isot} is missing packets ({t['cursor']}/{len(t['keys'])})"
            )
        comp_bands = [[None] * (levels + 1) for _ in range(ncomp)]
        for r, ci in _packet_order(levels, ncomp, False):
            bands_here = []
            for k, ((orient, bh, bw_), bb) in enumerate(
                zip(t["layouts"][ci][r], t["grids"][(r, ci)])
            ):
                mb, d = t["band_q"][ci][(r, k)]
                band = np.zeros(
                    (bh, bw_), dtype=np.float64 if irreversible else np.int64
                )
                _, _, rows, cols, blocks = bb
                for i in range(rows):
                    for j in range(cols):
                        blk = blocks[i * cols + j]
                        if blk["first"] is None or blk["npasses"] == 0:
                            continue
                        y0, x0 = i * cb[0], j * cb[1]
                        bh_b = min(cb[0], bh - y0)
                        bw_b = min(cb[1], bw_ - x0)
                        if style:
                            mags, signs = _t1_decode_block(
                                None, bh_b, bw_b, orient,
                                mb - blk["zbp"], blk["npasses"], style,
                                _merge_seg_pieces(
                                    blk["chunks"], blk["seg_passes"], style
                                ),
                            )
                        else:
                            mags, signs = _t1_decode_block(
                                b"".join(blk["chunks"]), bh_b, bw_b, orient,
                                mb - blk["zbp"], blk["npasses"],
                            )
                        if d is not None:  # midpoint dequantization (r=0.5)
                            vals = np.where(mags > 0, (mags + 0.5) * d, 0.0)
                            vals = np.where(signs == 1, -vals, vals)
                        else:
                            vals = np.where(signs == 1, -mags, mags)
                        band[y0 : y0 + bh_b, x0 : x0 + bw_b] = vals
                bands_here.append(band)
            if r == 0:
                comp_bands[ci][0] = bands_here[0]
            else:
                comp_bands[ci][r] = tuple(bands_here)
        for ci in range(ncomp):
            cy0, cy1, cx0, cx1 = t["cdims"][ci]
            planes[ci][cy0:cy1, cx0:cx1] = _inv_dwt(
                comp_bands[ci], (cy1 - cy0, cx1 - cx0), inv1d
            )
    if subsampled:
        # sample-and-hold replication back onto the reference grid
        # (upsampling is renderer-defined in Part 1; replication keeps
        # sampled positions exact), BEFORE any inverse MCT so the
        # transform sees co-sited full-grid planes
        planes = [
            p.repeat(yr, axis=0).repeat(xr, axis=1)[:h, :w]
            if (yr, xr) != (1, 1)
            else p
            for p, (yr, xr) in zip(planes, sub)
        ]
    if ncomp == 1:
        out = planes[0]
    else:
        if mct:
            inv = _ict_inverse if irreversible else _rct_inverse
            rp, gp, bp = inv(planes[0], planes[1], planes[2])
        else:
            rp, gp, bp = planes
        out = np.stack([rp, gp, bp], axis=-1)
    if irreversible:
        out = np.round(out)
    half = 1 << (precision - 1)
    if signed:  # no DC level shift: samples are two's-complement P-bit
        out = np.clip(out, -half, half - 1)
        if deep:
            return out.astype(np.int16 if precision > 8 else np.int8)
        out = out.astype(np.int64) + half  # unsigned projection for the seam
    else:
        out = np.clip(out + half, 0, (1 << precision) - 1)
        if deep:
            return out.astype(np.uint16 if precision > 8 else np.uint8)
        out = out.astype(np.int64)
    if precision > 8:  # uint8 projection: top 8 bits (PNG-16 style)
        return (out >> (precision - 8)).astype(np.uint8)
    if precision < 8:  # left-aligned, like sub-8 lossless JPEG
        return (out << (8 - precision)).astype(np.uint8)
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# JP2 box container
# ---------------------------------------------------------------------------


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + btype + body


def encode_jp2(
    img: np.ndarray,
    levels: int = 2,
    irreversible: bool = False,
    delta: float = 0.5,
    derived: bool = False,
    tile_size: int | None = None,
    precision: int | None = None,
    sop: bool = False,
    eph: bool = False,
    prog: str = "lrcp",
    layers: int = 1,
    precinct: int | list | None = None,
    signed: bool = False,
    bypass: bool = False,
    reset: bool = False,
    termall: bool = False,
    causal: bool = False,
    segsym: bool = False,
    cblk: int | tuple[int, int] = _CBLK,
    chroma_delta: float | None = None,
    tile_quant: dict | None = None,
    subsampling: tuple[int, int] | None = None,
    origin: tuple[int, int] | None = None,
) -> bytes:
    """uint8/uint16 (or int8/int16 with signed=True) image → minimal
    JP2 file (signature / ftyp / jp2h / jp2c boxes around the
    encode_j2k codestream); kwargs as encode_j2k (the ihdr box carries
    the REGION dims — the image a reader sees)."""
    code = encode_j2k(
        img, levels, irreversible, delta, derived, tile_size, precision, sop, eph,
        prog, layers, precinct, signed=signed, bypass=bypass, reset=reset,
        termall=termall, causal=causal, segsym=segsym, cblk=cblk,
        chroma_delta=chroma_delta, tile_quant=tile_quant, subsampling=subsampling,
        origin=origin,
    )
    if precision is None:
        precision = 8 if img.dtype.itemsize == 1 else 16
    h, w = img.shape[:2]
    ncomp = 1 if img.ndim == 2 else 3
    ihdr = struct.pack(
        ">IIHBBBB",
        h, w, ncomp, (precision - 1) | (0x80 if signed else 0), 7, 0, 0,
    )
    colr = struct.pack(">BBBI", 1, 0, 0, 17 if ncomp == 1 else 16)
    jp2h = _box(b"ihdr", ihdr) + _box(b"colr", colr)
    return (
        JP2_SIG
        + _box(b"ftyp", b"jp2 " + struct.pack(">I", 0) + b"jp2 ")
        + _box(b"jp2h", jp2h)
        + _box(b"jp2c", code)
    )


@loud_decode("JPEG 2000")
def decode_jp2(data: bytes, deep: bool = False) -> np.ndarray:
    """JP2 container OR raw codestream → image (the PDF /JPXDecode
    seam accepts both layouts); `deep` as decode_j2k."""
    if data[:2] == struct.pack(">H", _SOC):
        return decode_j2k(data, deep)
    if data[:12] != JP2_SIG:
        raise ValueError("not a JP2 file (missing signature box)")
    pos = 12
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        if ln == 0:
            body = data[pos + 8 :]
            pos = len(data)
        elif ln == 1:
            (xln,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body = data[pos + 16 : pos + xln]
            pos += xln
        else:
            body = data[pos + 8 : pos + ln]
            pos += ln
        if btype == b"jp2c":
            return decode_j2k(body, deep)
    raise ValueError("JP2 file has no jp2c codestream box")
