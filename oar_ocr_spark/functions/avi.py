"""Pure-python AVI (RIFF) MJPEG container codec + frame sampling.

Completes the multimodal seam's third modality: video payloads are now
a REAL container format — AVI (public RIFF/AVI 1.0 structure: 'hdrl'
stream headers, 'movi' frame chunks, 'idx1' index) carrying one
baseline JPEG per frame (Motion-JPEG), decoded by functions/jpeg.py.
frame_sample_from_bytes_df replaces frame_sample_df's "the real
sampler would seek the container" stand-in with an actual container
seek: parse idx1/movi, decode ONLY the sampled frames (MJPEG is
intra-only, so random access is exact and cheap — the property that
makes it the honest choice over an inter-coded format here).

Scope (declared): single 'vids' stream, MJPG/raw-grey codecs. Audio
streams are skipped; inter-coded codecs raise NotImplementedError.

The deterministic video fixture (`render_video_frames`) derives frame
k from the ref's rendered page by a k-dependent cyclic column shift —
exact-integer, closed-form, and every frame shares the page's pixel
histogram (so frame features are goldenable like page features).
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..partitioning import python_stage
from .jpeg import decode_jpeg, encode_jpeg

from .codec_guard import loud_decode

__all__ = [
    "encode_avi_mjpeg",
    "decode_avi_frames",
    "avi_frame_count",
    "render_video_frames",
    "video_store_df",
    "frame_sample_from_bytes_df",
]


def _chunk(cid: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""  # RIFF chunks are word-aligned
    return cid + struct.pack("<I", len(body)) + body + pad


def _list(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi_mjpeg(
    frames: list[np.ndarray], fps: int = 10, quality: int = 100
) -> bytes:
    """Greyscale (H,W) uint8 frames → AVI bytes with one baseline JPEG
    per frame ('00dc' chunks) + a real idx1 index."""
    if not frames:
        raise ValueError("encode_avi_mjpeg needs at least one frame")
    h, w = frames[0].shape
    for f in frames:
        if f.shape != (h, w) or f.dtype != np.uint8:
            raise ValueError("all frames must be (H,W) uint8 with equal dims")
    payloads = [encode_jpeg(f, quality) for f in frames]

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        sum(len(p) for p in payloads) * fps // max(len(payloads), 1),
        0,
        0x10,  # AVIF_HASINDEX
        len(payloads),
        0,
        1,  # one stream
        max(len(p) for p in payloads),
        w,
        h,
        0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0,
        1, fps,  # scale, rate → fps
        0, len(payloads), max(len(p) for p in payloads), 0xFFFFFFFF & -1, 0,
        0, 0, np.int16(w), np.int16(h),
    )
    strf = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 8, b"MJPG", w * h, 0, 0, 0, 0
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih) + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_body = b""
    idx_entries = []
    for p in payloads:
        # idx1 offsets are relative to the 'movi' fourcc position
        idx_entries.append((4 + len(movi_body), len(p)))
        movi_body += _chunk(b"00dc", p)
    movi = _list(b"movi", movi_body)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, size)
            for off, size in idx_entries
        ),
    )
    riff_body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def _movi_frames(data: bytes) -> list[tuple[int, int]]:
    """(offset, size) of each video frame chunk body, in stream order."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI (missing RIFF/AVI header)")
    frames: list[tuple[int, int]] = []

    def walk(pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body_at = pos + 8
            if cid == b"LIST":
                walk(body_at + 4, body_at + clen)
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                frames.append((body_at, clen))
            pos = body_at + clen + (clen & 1)

    walk(12, len(data))
    return frames


@loud_decode("AVI")
def avi_frame_count(data: bytes) -> int:
    return len(_movi_frames(data))


@loud_decode("AVI")
def decode_avi_frames(data: bytes, indices: list[int] | None = None) -> list[np.ndarray]:
    """Decode all frames, or just `indices` (random access via the
    chunk table — only the requested JPEGs are decoded)."""
    frames = _movi_frames(data)
    if indices is None:
        indices = list(range(len(frames)))
    out = []
    for i in indices:
        off, size = frames[i]
        body = data[off : off + size]
        if body[:2] == b"\xff\xd8":
            out.append(decode_jpeg(body))
        else:
            raise NotImplementedError(
                "non-MJPEG AVI frame codec not supported here"
            )
    return out


# ---------------------------------------------------------------------------
# deterministic fixture
# ---------------------------------------------------------------------------

def render_video_frames(ref: str, n_frames: int = 8) -> list[np.ndarray]:
    """Frame k = the ref's rendered page cyclically shifted k*8 columns
    — exact-integer motion with a conserved histogram."""
    from ..fixtures.render import render_page

    page = render_page(ref)
    return [np.roll(page, 8 * k, axis=1) for k in range(n_frames)]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

_VIDEO_STORE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_frames", T.IntegerType(), False),
    ]
)

_FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("mean_intensity", T.DoubleType(), False),
        T.StructField("ink_ratio", T.DoubleType(), False),
    ]
)


def video_store_df(refs: DataFrame, n_frames: int = 8) -> DataFrame:
    """(media_ref) → (media_ref, payload:AVI bytes, n_frames), on the
    shared multimodal.payload_store_df scaffold (the per-ref UDF is
    expensive: n_frames JPEG encodes)."""
    from .multimodal import payload_store_df

    def row(ref: str) -> tuple:
        frames = render_video_frames(ref, n_frames)
        return (ref, encode_avi_mjpeg(frames), len(frames))

    return payload_store_df(refs, row, schema=_VIDEO_STORE_SCHEMA)


def frame_feature_rows(ref: str, data: bytes, n_sample: int) -> list[tuple]:
    """Per-payload body of frame_sample_from_bytes_df (module-level so
    the zero-frame guard is unit-testable without a Spark job)."""
    total = avi_frame_count(data)
    if total == 0:
        # foreign/corrupt container (the in-house encoder requires
        # ≥1 frame) — fail with a clear message instead of a bare
        # IndexError from probing frame 0
        raise ValueError(f"AVI has no video frames (media_ref={ref!r})")
    idx = sorted({(total * k) // n_sample for k in range(n_sample)})
    return [
        (
            ref,
            int(i),
            frame.shape[0],
            frame.shape[1],
            round(float(frame.mean()), 6),
            round(float((frame < 200).mean()), 6),
        )
        for i, frame in zip(idx, decode_avi_frames(data, idx))
    ]


def frame_sample_from_bytes_df(store: DataFrame, n_sample: int = 4) -> DataFrame:
    """(media_ref, payload:AVI) → n_sample evenly-spaced frames' features.

    The container seek is real: only the sampled '00dc' chunks are JPEG-
    decoded. Features are rounded to 6 dp for hash-stable goldens."""

    return python_stage(
        store.select("media_ref", "payload"),
        lambda ref, payload: frame_feature_rows(str(ref), bytes(payload), n_sample),
        _FRAME_FEATURES_SCHEMA,
        "frame_sample_from_bytes",
    )
