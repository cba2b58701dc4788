"""Pure-python RIFF/WAVE PCM codec + audio feature extraction.

The multimodal seam (functions/multimodal.py, SURVEY §2.1) carries
audio as opaque binary + typed metadata; until now any audio payload
raised the declared NotImplementedError. WAV PCM needs no codec
library — the container is length-prefixed RIFF chunks and the samples
are raw little-endian integers (public format: RIFF spec / RFC 2361
WAVE taxonomy) — so the audio modality gets the same treatment PNG
gave images: a real, lossless, deterministic byte format.

Scope (declared): integer PCM (format tag 1) at 8/16/24/32 bits,
IEEE float (tag 3) at 32/64 bits, WAVE_FORMAT_EXTENSIBLE (tag
0xFFFE — the >2-channel / >16-bit layout, SubFormat GUID resolved to
PCM or float), any channel count / sample rate — plus the telephony /
voice-archive compressions: G.711 A-law (tag 6) and mu-law (tag 7)
via 256-entry expansion LUTs, and IMA/DVI ADPCM (tag 0x11, mono or
multichannel — blocks carry one header per channel and interleave
4-byte/8-sample channel words) with the standard 89-step table,
decoded LOCKSTEP across blocks (the per-sample loop is vectorized
over all (block, channel) pairs at once — blocks are independent by
construction, so the hot path stays O(samples_per_block)
numpy steps regardless of clip length), and MS-ADPCM (tag 2, mono or
multichannel — header fields and nibbles channel-interleaved) —
the classic Windows voice-archive codec: per-block predictor choice
from the coefficient pairs carried in the fmt chunk (custom tables
honored), adaptive iDelta quantizer per the published adaptation
table, first two samples verbatim, decoded with the same lockstep
vectorization. Decode output is always int16 (wider samples keep
their top 16 bits; floats scale by 32767 and clip — the standard
downconversions). Other compressed WAVE formats (MP3-in-WAV, GSM)
raise NotImplementedError — the codec-seam contract.

The deterministic audio fixture (`render_audio`) synthesizes each
ref's waveform as a closed-form function of its hash (sum of 3
sinusoids + linear fade-out, int16) — the audio analogue of
fixtures/render.render_page, same exact-integer determinism contract.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import python_stage
from .codec_guard import loud_decode

__all__ = [
    "encode_wav",
    "encode_wav_g711",
    "encode_wav_adpcm",
    "encode_wav_msadpcm",
    "decode_wav",
    "render_audio",
    "wav_store_df",
    "telephony_store_df",
    "audio_features_from_bytes_df",
    "WAV_MAGIC",
]

WAV_MAGIC = b"RIFF"


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """(N,) or (N, channels) int16 → WAV bytes (PCM, lossless)."""
    if samples.dtype != np.int16:
        raise ValueError(f"encode_wav expects int16, got {samples.dtype}")
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError(f"encode_wav expects (N,) or (N,C), got {samples.shape}")
    n, ch = samples.shape
    data = samples.astype("<i2").tobytes()
    block_align = ch * 2
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# G.711 (A-law / mu-law) — ITU-T G.711 companding, 8-bit log PCM
# ---------------------------------------------------------------------------


def _g711_mulaw_decode_table() -> np.ndarray:
    """256-entry mu-law code → int16 expansion LUT (G.711 table 2a/2b:
    magnitude = ((mantissa·8 + 0x84) << exponent) − 0x84, code bits
    inverted on the wire)."""
    u = (~np.arange(256, dtype=np.int32)) & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def _g711_alaw_decode_table() -> np.ndarray:
    """256-entry A-law code → int16 expansion LUT (G.711 table 1a/1b,
    even bits inverted on the wire; sign bit SET means positive)."""
    a = np.arange(256, dtype=np.int32) ^ 0x55
    seg = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(
        seg == 0,
        (mant << 4) + 8,
        ((mant << 4) + 0x108) << np.maximum(seg - 1, 0),
    )
    return np.where(a & 0x80, mag, -mag).astype(np.int16)


_MULAW_DEC = _g711_mulaw_decode_table()
_ALAW_DEC = _g711_alaw_decode_table()


def _g711_mulaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples → mu-law codes. Exact inverse of the expansion
    table on its own outputs (encode(decode(c)) == c for all 256)."""
    x = x.astype(np.int32)
    sign = (x < 0).astype(np.int32)
    mag = np.minimum(np.abs(x), 32635) + 0x84
    # exponent = index of the highest set bit above bit 7 (mag >= 0x84)
    exp = np.frexp(mag.astype(np.float64))[1].astype(np.int32) - 8
    mant = (mag >> (exp + 3)) & 0x0F
    return ((~((sign << 7) | (exp << 4) | mant)) & 0xFF).astype(np.uint8)


def _g711_alaw_encode(x: np.ndarray) -> np.ndarray:
    """int16 samples → A-law codes (same identity contract as mu-law)."""
    x = x.astype(np.int32)
    sign_pos = x >= 0
    a = np.minimum(np.abs(x), 32767) >> 4
    with np.errstate(divide="ignore"):
        seg = np.where(a < 16, 0, np.frexp(a.astype(np.float64))[1] - 4)
    seg = np.minimum(seg, 7).astype(np.int32)
    mant = np.where(seg == 0, a, (a >> np.maximum(seg - 1, 0)) - 16)
    raw = (np.where(sign_pos, 0x80, 0) | (seg << 4) | mant) & 0xFF
    return (raw ^ 0x55).astype(np.uint8)


# ---------------------------------------------------------------------------
# IMA / DVI ADPCM (WAVE format tag 0x11) — 4-bit differential PCM
# ---------------------------------------------------------------------------

_IMA_STEPS = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
        41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
        190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
        724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
        2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
        6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
        16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)
_IMA_INDEX = np.array([-1, -1, -1, -1, 2, 4, 6, 8] * 2, dtype=np.int32)


def _ima_diff(nib: np.ndarray, step: np.ndarray) -> np.ndarray:
    """The IMA reconstruction delta for a nibble's 3 magnitude bits:
    diff = step/8 + (b2?step) + (b1?step/2) + (b0?step/4)."""
    return (
        (step >> 3)
        + np.where(nib & 4, step, 0)
        + np.where(nib & 2, step >> 1, 0)
        + np.where(nib & 1, step >> 2, 0)
    )


def _ima_decode(raw: bytes, block_align: int, n_frames: int, ch: int = 1) -> np.ndarray:
    """IMA ADPCM data chunk → flat interleaved (n_frames × ch,) int16,
    decoded lockstep: the per-sample loop runs once per in-block
    position, vectorized over every (block, channel) simultaneously.
    Multichannel blocks carry one 4-byte header per channel followed
    by 4-byte (8-sample) data words interleaved channel by channel
    (the IMA/DVI layout); mono data may be any byte length."""
    nb = len(raw) // block_align
    if nb == 0 or block_align < 4 * ch + 1:
        raise ValueError("IMA ADPCM data shorter than one block")
    blocks = np.frombuffer(raw[: nb * block_align], dtype=np.uint8).reshape(
        nb, block_align
    )
    hdr = blocks[:, : 4 * ch].reshape(nb, ch, 4)
    pred = hdr[:, :, :2].copy().view("<i2").reshape(nb, ch).astype(np.int32)
    idx = np.clip(hdr[:, :, 2].astype(np.int32), 0, 88)
    body = blocks[:, 4 * ch :]
    if ch == 1:
        by = body[:, None, :]  # (nb, 1, bytes)
    else:
        if body.shape[1] % (4 * ch):
            raise ValueError(
                "IMA ADPCM multichannel block body is not whole "
                "4-byte channel words"
            )
        ngroups = body.shape[1] // (4 * ch)
        by = (
            body.reshape(nb, ngroups, ch, 4)
            .transpose(0, 2, 1, 3)
            .reshape(nb, ch, ngroups * 4)
        )
    nibs = np.empty((nb, ch, by.shape[2] * 2), dtype=np.uint8)
    nibs[:, :, 0::2] = by & 0x0F  # low nibble first (RFC 2361 / IMA spec)
    nibs[:, :, 1::2] = by >> 4
    nibs = nibs.transpose(0, 2, 1)  # (nb, nsam, ch)
    nsam = nibs.shape[1]
    out = np.empty((nb, 1 + nsam, ch), dtype=np.int16)
    out[:, 0, :] = pred
    for j in range(nsam):
        n = nibs[:, j, :].astype(np.int32)
        step = _IMA_STEPS[idx]
        diff = _ima_diff(n, step)
        pred = np.clip(pred + np.where(n & 8, -diff, diff), -32768, 32767)
        idx = np.clip(idx + _IMA_INDEX[n], 0, 88)
        out[:, j + 1, :] = pred
    flat = out.reshape(-1)
    if n_frames * ch > len(flat):
        raise ValueError("IMA ADPCM fact chunk claims more samples than blocks hold")
    return flat[: n_frames * ch]


# ---------------------------------------------------------------------------
# MS-ADPCM (WAVE format tag 2) — per-block linear predictor + adaptive iDelta
# ---------------------------------------------------------------------------

# The seven standard coefficient pairs and the 16-entry iDelta
# adaptation table from the published Microsoft ADPCM algorithm
# (RIFF/WAVE multimedia spec; also RFC 2361 §Appendix). Coefficients
# are fixed-point ×256; files may carry custom pairs in the fmt chunk
# and the decoder honors whatever the file declares.
_MS_COEF = np.array(
    [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0), (460, -208), (392, -232)],
    dtype=np.int32,
)
_MS_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614, 768, 614, 512, 409, 307, 230, 230, 230],
    dtype=np.int32,
)


def _trunc_div256(x: np.ndarray) -> np.ndarray:
    """C-style `/ 256` (truncation toward zero, not floor) — the
    division the published algorithm specifies for the predictor and
    iDelta updates; they differ on negative products."""
    return np.where(x >= 0, x >> 8, -((-x) >> 8))


def _ms_decode(
    raw: bytes, block_align: int, n_frames: int, coef: np.ndarray, ch: int = 1
) -> np.ndarray:
    """MS-ADPCM data chunk → flat interleaved (n_frames × ch,) int16,
    lockstep across (block, channel). Block layout: bPredictor[ch]
    iDelta[ch] iSamp1[ch] iSamp2[ch] then 4-bit codes packed HIGH
    nibble first, alternating channels sample by sample; playback
    order is the iSamp2 frame, the iSamp1 frame, decoded codes."""
    nb = len(raw) // block_align
    if nb == 0 or block_align < 7 * ch:
        raise ValueError("MS-ADPCM data shorter than one block")
    blocks = np.frombuffer(raw[: nb * block_align], dtype=np.uint8).reshape(
        nb, block_align
    )
    pred_idx = blocks[:, :ch].astype(np.int64)  # (nb, ch)
    if (pred_idx >= len(coef)).any():
        raise ValueError(
            f"MS-ADPCM block predictor index exceeds the file's "
            f"{len(coef)} declared coefficient pairs"
        )
    c1 = coef[pred_idx, 0]
    c2 = coef[pred_idx, 1]
    delta = (
        blocks[:, ch : 3 * ch].copy().view("<i2").reshape(nb, ch).astype(np.int64)
    )
    samp1 = (
        blocks[:, 3 * ch : 5 * ch].copy().view("<i2").reshape(nb, ch).astype(np.int64)
    )
    samp2 = (
        blocks[:, 5 * ch : 7 * ch].copy().view("<i2").reshape(nb, ch).astype(np.int64)
    )
    if (delta <= 0).any():
        raise ValueError("MS-ADPCM block header iDelta must be positive")
    body = blocks[:, 7 * ch :]
    seq = np.empty((nb, body.shape[1] * 2), dtype=np.uint8)
    seq[:, 0::2] = body >> 4  # HIGH nibble first (unlike IMA)
    seq[:, 1::2] = body & 0x0F
    if seq.shape[1] % ch:
        raise ValueError("MS-ADPCM block body is not whole channel frames")
    nibs = seq.reshape(nb, -1, ch)
    nsam = nibs.shape[1]
    out = np.empty((nb, 2 + nsam, ch), dtype=np.int16)
    out[:, 0, :] = samp2
    out[:, 1, :] = samp1
    for j in range(nsam):
        n = nibs[:, j, :].astype(np.int64)
        signed = np.where(n & 8, n - 16, n)  # 4-bit two's complement
        pred = _trunc_div256(samp1 * c1 + samp2 * c2)
        sample = np.clip(pred + signed * delta, -32768, 32767)
        samp2 = samp1
        samp1 = sample
        delta = np.maximum(_MS_ADAPT[n] * delta >> 8, 16)  # delta > 0: >>8 == /256
        out[:, j + 2, :] = sample
    flat = out.reshape(-1)
    if n_frames * ch > len(flat):
        raise ValueError("MS-ADPCM fact chunk claims more samples than blocks hold")
    return flat[: n_frames * ch]


def encode_wav_msadpcm(
    samples: np.ndarray, sample_rate: int, samples_per_block: int = 500
) -> bytes:
    """(N,) / (N,1) mono or (N,ch) multichannel int16 → MS-ADPCM WAV
    bytes (format tag 2, channel-interleaved header fields and
    nibbles, each channel predicted independently).
    Per block the encoder scores all seven standard coefficient pairs
    on raw prediction error (vectorized) and keeps the best, seeds
    iDelta from the mean residual, stores the first two samples
    verbatim, then quantizes with the decoder's exact mirror — so
    decode reproduces the encoder's reconstruction bit-for-bit. The
    final partial block repeats the last sample and the fact chunk
    trims it at decode, like the IMA twin."""
    if samples.dtype != np.int16:
        raise ValueError(f"encode_wav_msadpcm expects int16, got {samples.dtype}")
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.shape[1] < 1:
        raise ValueError(
            f"encode_wav_msadpcm expects (N,) or (N,ch), got {samples.shape}"
        )
    ch = samples.shape[1]
    if samples_per_block % 2 or samples_per_block < 4:
        raise ValueError("samples_per_block must be even and >= 4")
    n = len(samples)
    if n == 0:
        raise ValueError("empty clip")
    spb = samples_per_block
    nb = max(1, -(-n // spb))
    padded = np.tile(samples[-1], (nb * spb, 1)).astype(np.int16)
    padded[:n] = samples
    grid = padded.reshape(nb, spb, ch).astype(np.int64)

    # predictor choice: raw prediction error of each of the 7 pairs
    # over the whole block, independently per channel (encoder
    # freedom; one vectorized pass each)
    errs = np.empty((len(_MS_COEF), nb, ch), dtype=np.int64)
    for p, (c1, c2) in enumerate(_MS_COEF):
        pred = _trunc_div256(grid[:, 1:-1, :] * c1 + grid[:, :-2, :] * c2)
        errs[p] = np.abs(grid[:, 2:, :] - pred).sum(axis=1)
    pred_idx = errs.argmin(axis=0)  # (nb, ch)
    c1 = _MS_COEF[pred_idx, 0].astype(np.int64)
    c2 = _MS_COEF[pred_idx, 1].astype(np.int64)

    # iDelta seed: mean absolute residual of the chosen predictor,
    # scaled down to leave quantizer headroom (stored per block, so any
    # seed decodes exactly; this one just starts near the signal)
    mean_err = np.take_along_axis(errs, pred_idx[None], axis=0)[0] // max(
        spb - 2, 1
    )
    delta = np.clip(mean_err // 4, 16, 32767).astype(np.int64)
    delta0 = delta.copy()
    samp2 = grid[:, 0, :].copy()
    samp1 = grid[:, 1, :].copy()

    nibs = np.empty((nb, spb - 2, ch), dtype=np.uint8)
    for j in range(spb - 2):
        x = grid[:, j + 2, :]
        pred = _trunc_div256(samp1 * c1 + samp2 * c2)
        err = x - pred
        # symmetric round-to-nearest (trunc toward zero after biasing)
        biased = np.abs(err) + (delta >> 1)
        code = np.clip(
            np.where(err >= 0, biased // delta, -(biased // delta)), -8, 7
        ).astype(np.int64)
        sample = np.clip(pred + code * delta, -32768, 32767)
        samp2 = samp1
        samp1 = sample
        nib = (code & 0x0F).astype(np.int64)
        delta = np.maximum(_MS_ADAPT[nib] * delta >> 8, 16)
        nibs[:, j, :] = nib.astype(np.uint8)

    block_align = 7 * ch + (spb - 2) * ch // 2
    blocks = np.empty((nb, block_align), dtype=np.uint8)
    blocks[:, :ch] = pred_idx.astype(np.uint8)
    blocks[:, ch : 3 * ch] = delta0.astype("<i2").view(np.uint8).reshape(nb, 2 * ch)
    blocks[:, 3 * ch : 5 * ch] = (
        grid[:, 1, :].astype("<i2").view(np.uint8).reshape(nb, 2 * ch)
    )  # iSamp1
    blocks[:, 5 * ch : 7 * ch] = (
        grid[:, 0, :].astype("<i2").view(np.uint8).reshape(nb, 2 * ch)
    )  # iSamp2
    seq = nibs.reshape(nb, (spb - 2) * ch)  # channels alternate per sample
    blocks[:, 7 * ch :] = (seq[:, 0::2] << 4) | seq[:, 1::2]
    data = blocks.tobytes()
    coef_blob = b"".join(struct.pack("<hh", a, b) for a, b in _MS_COEF)
    fmt = struct.pack(
        "<HHIIHHHHH",
        2, ch, sample_rate,
        sample_rate * block_align // spb,
        block_align, 4, 4 + len(coef_blob), spb, len(_MS_COEF),
    ) + coef_blob
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_g711(samples: np.ndarray, sample_rate: int, law: str = "mu") -> bytes:
    """(N,) or (N, channels) int16 → G.711 companded WAV bytes (format
    tag 7 mu-law / 6 A-law, 8 bits per sample). Lossy by design: the
    decode twin is the 256-entry expansion LUT."""
    if samples.dtype != np.int16:
        raise ValueError(f"encode_wav_g711 expects int16, got {samples.dtype}")
    if law not in ("mu", "a"):
        raise ValueError("law must be 'mu' or 'a'")
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2:
        raise ValueError(f"encode_wav_g711 expects (N,) or (N,C), got {samples.shape}")
    n, ch = samples.shape
    codes = (_g711_mulaw_encode if law == "mu" else _g711_alaw_encode)(
        samples.reshape(-1)
    )
    data = codes.tobytes()
    tag = 7 if law == "mu" else 6
    fmt = struct.pack("<HHIIHHH", tag, ch, sample_rate, sample_rate * ch, ch, 8, 0)
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_adpcm(
    samples: np.ndarray, sample_rate: int, samples_per_block: int = 505
) -> bytes:
    """(N,) / (N,1) mono or (N,ch) multichannel int16 → IMA ADPCM WAV
    bytes (format tag 0x11). The encoder is the decoder's exact mirror
    (same step/index updates), run lockstep across (block, channel);
    the final partial block is padded by repeating the last frame and
    trimmed at decode via the fact chunk. Multichannel blocks carry
    one header per channel and interleave 4-byte (8-sample) channel
    words, so samples_per_block - 1 must then be a multiple of 8."""
    if samples.dtype != np.int16:
        raise ValueError(f"encode_wav_adpcm expects int16, got {samples.dtype}")
    if samples.ndim == 1:
        samples = samples[:, None]
    if samples.ndim != 2 or samples.shape[1] < 1:
        raise ValueError(
            f"encode_wav_adpcm expects (N,) or (N,ch), got {samples.shape}"
        )
    ch = samples.shape[1]
    spb = samples_per_block
    if (spb - 1) % 2 or spb < 3:
        raise ValueError("samples_per_block must be odd and >= 3")
    if ch > 1 and (spb - 1) % 8:
        raise ValueError(
            "multichannel IMA ADPCM needs samples_per_block - 1 "
            "divisible by 8 (whole 4-byte channel words)"
        )
    n = len(samples)
    if n == 0:
        raise ValueError("empty clip")
    nb = max(1, -(-n // spb))
    padded = np.tile(samples[-1], (nb * spb, 1)).astype(np.int16)
    padded[:n] = samples
    grid = padded.reshape(nb, spb, ch).astype(np.int32)

    pred = grid[:, 0, :].copy()
    # per-block initial step index: smallest step >= the first delta
    # (stored in the block header, so blocks stay self-contained and
    # the slew-limited ramp-up from step 7 is avoided on hot signals)
    idx0 = np.searchsorted(
        _IMA_STEPS, np.abs(grid[:, 1, :] - grid[:, 0, :])
    ).clip(0, 88)
    idx = idx0.astype(np.int32).copy()
    nibs = np.empty((nb, spb - 1, ch), dtype=np.uint8)
    for j in range(spb - 1):
        x = grid[:, j + 1, :]
        step = _IMA_STEPS[idx]
        delta = x - pred
        sign = delta < 0
        mag = np.abs(delta)
        b2 = mag >= step
        mag -= np.where(b2, step, 0)
        b1 = mag >= (step >> 1)
        mag -= np.where(b1, step >> 1, 0)
        b0 = mag >= (step >> 2)
        nib = (
            np.where(sign, 8, 0)
            + np.where(b2, 4, 0)
            + np.where(b1, 2, 0)
            + np.where(b0, 1, 0)
        ).astype(np.int32)
        diff = _ima_diff(nib, step)
        pred = np.clip(pred + np.where(sign, -diff, diff), -32768, 32767)
        idx = np.clip(idx + _IMA_INDEX[nib], 0, 88)
        nibs[:, j, :] = nib.astype(np.uint8)

    bpc = (spb - 1) // 2  # data bytes per channel
    block_align = ch * (4 + bpc)
    blocks = np.empty((nb, block_align), dtype=np.uint8)
    hdr = np.empty((nb, ch, 4), dtype=np.uint8)
    hdr[:, :, :2] = grid[:, 0, :].astype("<i2")[:, :, None].view(np.uint8)
    hdr[:, :, 2] = idx0.astype(np.uint8)
    hdr[:, :, 3] = 0
    blocks[:, : 4 * ch] = hdr.reshape(nb, 4 * ch)
    by = (nibs[:, 0::2, :] | (nibs[:, 1::2, :] << 4)).transpose(0, 2, 1)
    if ch == 1:
        blocks[:, 4:] = by[:, 0, :]
    else:
        blocks[:, 4 * ch :] = (
            by.reshape(nb, ch, bpc // 4, 4)
            .transpose(0, 2, 1, 3)
            .reshape(nb, ch * bpc)
        )
    data = blocks.tobytes()
    fmt = struct.pack(
        "<HHIIHHHH",
        0x11, ch, sample_rate,
        sample_rate * block_align // spb,
        block_align, 4, 2, spb,
    )
    fact = struct.pack("<I", n)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"fact" + struct.pack("<I", len(fact)) + fact
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


@loud_decode("WAV")
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → ((N, channels) int16, sample_rate)."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV (missing RIFF/WAVE header)")
    pos = 12
    fmt = None
    fmt_body = None
    raw = None
    fact_samples = None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
            fmt_body = body
        elif cid == b"data":
            raw = body
        elif cid == b"fact" and clen >= 4:
            (fact_samples,) = struct.unpack("<I", body[:4])
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    tag, ch, rate, _byterate, _align, bits = fmt
    if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real tag is in the
        # SubFormat GUID's first two bytes (fmt body: 16 base + cbSize
        # + validBits + channelMask + GUID)
        if fmt_body is None or len(fmt_body) < 40:
            raise ValueError("extensible WAV fmt chunk too short")
        tag = struct.unpack("<H", fmt_body[24:26])[0]
    if tag == 3:  # IEEE float → int16 (scale + clip, the standard map)
        if bits == 32:
            f = np.frombuffer(raw, dtype="<f4")
        elif bits == 64:
            f = np.frombuffer(raw, dtype="<f8")
        else:
            raise NotImplementedError(f"float WAV bit depth {bits} not supported")
        # NaN → 0 and clip BEFORE scaling: nan.astype(int16) is
        # C-undefined, and inf/huge-finite × 32767 would overflow with
        # per-batch RuntimeWarnings from every Spark worker. The lower
        # clip bound is -32768/32767 so full-scale negatives still land
        # exactly on -32768.
        lo = -32768.0 / 32767.0  # full-scale negatives land on -32768
        f = np.nan_to_num(f.astype(np.float64), nan=0.0, posinf=1.0, neginf=lo)
        f = np.clip(f, lo, 1.0)
        samples = np.round(f * 32767.0).astype(np.int16)
    elif tag in (6, 7):  # G.711 A-law / mu-law: 8-bit log PCM via LUT
        if bits != 8:
            raise ValueError(f"G.711 WAV must be 8-bit, got {bits}")
        codes = np.frombuffer(raw, dtype=np.uint8)
        samples = (_ALAW_DEC if tag == 6 else _MULAW_DEC)[codes]
    elif tag == 0x11:  # IMA / DVI ADPCM (mono or channel-word stereo+)
        if ch < 1:
            raise ValueError("IMA ADPCM WAV declares zero channels")
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV must be 4-bit, got {bits}")
        block_align = fmt[4]
        if fmt_body is None or len(fmt_body) < 20:
            raise ValueError("IMA ADPCM fmt chunk missing wSamplesPerBlock")
        (spb,) = struct.unpack("<H", fmt_body[18:20])
        if spb != (block_align - 4 * ch) * 2 // ch + 1:
            raise ValueError(
                f"IMA ADPCM wSamplesPerBlock {spb} inconsistent with "
                f"nBlockAlign {block_align} at {ch} channels"
            )
        nb = len(raw) // block_align
        n_out = fact_samples if fact_samples is not None else nb * spb
        samples = _ima_decode(raw, block_align, n_out, ch)
    elif tag == 2:  # MS-ADPCM (mono or sample-interleaved stereo+)
        if ch < 1:
            raise ValueError("MS-ADPCM WAV declares zero channels")
        if bits != 4:
            raise ValueError(f"MS-ADPCM WAV must be 4-bit, got {bits}")
        block_align = fmt[4]
        # fmt extension: cbSize(2) wSamplesPerBlock(2) wNumCoef(2) then
        # wNumCoef (iCoef1, iCoef2) int16 pairs — the decoder uses the
        # FILE's coefficient table, so custom predictor sets decode too
        if fmt_body is None or len(fmt_body) < 22:
            raise ValueError("MS-ADPCM fmt chunk missing the coefficient table")
        (spb,) = struct.unpack("<H", fmt_body[18:20])
        (ncoef,) = struct.unpack("<H", fmt_body[20:22])
        if ncoef < 1 or len(fmt_body) < 22 + 4 * ncoef:
            raise ValueError("MS-ADPCM coefficient table truncated")
        coef = (
            np.frombuffer(fmt_body[22 : 22 + 4 * ncoef], dtype="<i2")
            .astype(np.int64)
            .reshape(ncoef, 2)
        )
        if spb != (block_align - 7 * ch) * 2 // ch + 2:
            raise ValueError(
                f"MS-ADPCM wSamplesPerBlock {spb} inconsistent with "
                f"nBlockAlign {block_align} at {ch} channels"
            )
        nb = len(raw) // block_align
        n_out = fact_samples if fact_samples is not None else nb * spb
        samples = _ms_decode(raw, block_align, n_out, coef, ch)
    elif tag != 1:
        raise NotImplementedError(
            f"compressed WAVE format tag {tag} not supported here "
            "(PCM/float/G.711/IMA-ADPCM/MS-ADPCM)"
        )
    elif bits == 16:
        samples = np.frombuffer(raw, dtype="<i2")
    elif bits == 8:  # 8-bit WAV is unsigned, rebased to signed 16
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) << 8
    elif bits == 24:  # packed 3-byte little-endian → top 16 bits
        b = np.frombuffer(raw, dtype=np.uint8)
        if len(b) % 3:
            raise ValueError("24-bit WAV data length not a multiple of 3")
        b = b.reshape(-1, 3).astype(np.int32)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v = np.where(v >= 1 << 23, v - (1 << 24), v)  # sign-extend
        samples = (v >> 8).astype(np.int16)
    elif bits == 32:  # int32 → top 16 bits
        samples = (np.frombuffer(raw, dtype="<i4") >> 16).astype(np.int16)
    else:
        raise NotImplementedError(f"WAV bit depth {bits} not supported here")
    return samples.reshape(-1, ch).astype(np.int16), int(rate)


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------

_RATE = 8000


def render_audio(ref: str) -> tuple[np.ndarray, int]:
    """Deterministic synthetic waveform for a media ref: 3 sinusoids
    with hash-derived frequencies/amplitudes, linear fade-out, int16
    mono at 8 kHz, 0.25–1.0 s. Closed-form function of the ref (the
    determinism contract of fixtures/render.render_page)."""
    h = hashlib.sha256(ref.encode()).digest()
    n = _RATE // 4 + (h[0] * _RATE * 3 // 4) // 255  # 0.25s .. 1.0s
    t = np.arange(n, dtype=np.float64) / _RATE
    wave = np.zeros(n, dtype=np.float64)
    for k in range(3):
        freq = 100.0 + 40.0 * h[1 + 2 * k] + h[2 + 2 * k]  # 100..10395 Hz
        amp = (h[7 + k] + 1) / 256.0 / 3.0
        wave += amp * np.sin(2.0 * np.pi * freq * t)
    wave *= 1.0 - t / t[-1] if n > 1 else 1.0  # fade out
    return np.round(wave * 20000.0).astype(np.int16), _RATE


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("duration_ms", T.IntegerType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("peak", T.IntegerType(), False),
        T.StructField("zero_crossings", T.IntegerType(), False),
    ]
)


def wav_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) with REAL WAV bytes per ref
    (the audio analogue of multimodal.png_store_df, on the shared
    payload_store_df scaffold)."""
    from .multimodal import payload_store_df

    def row(ref: str) -> tuple:
        samples, rate = render_audio(ref)
        return (ref, encode_wav(samples, rate))

    return payload_store_df(refs, row)


def telephony_store_df(refs: DataFrame) -> DataFrame:
    """(media_ref) → (media_ref, payload) media store of COMPRESSED
    voice WAV bytes: per ref, crc32 picks G.711 mu-law, G.711 A-law,
    IMA ADPCM, or MS-ADPCM (each ADPCM with a small-block flavor so
    multi-block decode runs) — the telephony/voice-archive quarter of
    the audio seam. All four are lossy; the oracle golden is computed
    through the same encode-then-decode twin
    (tools/make_goldens._telephony_feature_row), the
    media_jpeg_roundtrip pattern."""

    def row(ref: str) -> tuple:
        import zlib

        samples, rate = render_audio(ref)
        h = zlib.crc32(("g711:" + ref).encode("utf-8"))
        flavor = h % 4
        if flavor == 0:
            data = encode_wav_g711(samples, rate, law="mu")
        elif flavor == 1:
            data = encode_wav_g711(samples, rate, law="a")
        elif flavor == 2:
            data = encode_wav_adpcm(
                samples, rate, samples_per_block=129 if h & 4 else 505
            )
        else:
            data = encode_wav_msadpcm(
                samples, rate, samples_per_block=128 if h & 4 else 500
            )
        return (ref, data)

    from .multimodal import payload_store_df

    return payload_store_df(refs, row)


def audio_features_from_bytes_df(store: DataFrame) -> DataFrame:
    """(media_ref, payload:WAV bytes) → per-clip features. All integer
    except rms, which is rounded to 6 dp (hash-stable across
    partitionings — int64 sum of squares then one float op)."""

    def row(ref: str, payload) -> list[tuple]:
        samples, rate = decode_wav(bytes(payload))
        mono = samples[:, 0].astype(np.int64)
        n = len(mono)
        rms = float(np.sqrt(np.sum(mono * mono) / n)) if n else 0.0
        sign = np.sign(mono)
        nz = sign != 0
        compact = sign[nz]
        zc = int(np.count_nonzero(np.diff(compact) != 0))
        return [
            (
                ref,
                n,
                rate,
                int(n * 1000 // rate),
                round(rms, 6),
                int(np.max(np.abs(mono))) if n else 0,
                zc,
            )
        ]

    return python_stage(
        store.select("media_ref", "payload"),
        row,
        _AUDIO_FEATURES_SCHEMA,
        "audio_features_from_bytes",
    )
