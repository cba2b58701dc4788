"""Pure-python GIF decoder (+ minimal fixture encoder).

Third real image format behind the media seam (reference:
oar-ocr-core/src/utils/image.rs:65-88 decodes PNG/JPEG/GIF/… via the
`image` crate): old-web crawl corpora are full of GIFs, so the
training-data pipeline's image column must read them. Written against
the public GIF89a specification:

- decoder: GIF87a/GIF89a headers, global + local color tables,
  the 4-pass row interlace, LZW image data (LSB-first variable-width
  codes, per-image minimum code size, clear/EOI codes, deferred-clear
  streams; decoded by the LZW kernel shared with TIFF and PDF,
  functions/lzw.py), Graphic Control Extension transparency
  (composited over WHITE — the document-background convention shared
  with png.py), and
  all four frame disposal methods (none/keep composite onto the
  logical screen, restore-to-background clears the frame's region to
  WHITE, restore-previous rewinds to the pre-frame composite;
  `decode_gif` returns the FIRST fully composited frame without
  decoding the rest — the image-seam contract — and
  `decode_gif_frames` returns all of them).
- encoder (`encode_gif`): single-frame fixture writer emitting
  literal LZW codes with periodic clear codes (the classic
  "uncompressed GIF" layout — spec-valid, trivially correct), global
  color table, optional interlace. Exists so the decoder is
  roundtrip-tested without any image library.

Scope (declared, fails loudly outside it): sort/aspect flags ignored
(presentation-only); malformed streams raise ValueError. Plain-text
and application extensions are skipped per spec.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_guard import loud_decode
from .lzw import lzw_decode

__all__ = ["encode_gif", "decode_gif", "decode_gif_frames", "GIF_MAGIC"]

GIF_MAGIC = b"GIF8"

# 4-pass row interlace: (start row, step)
_INTERLACE = [(0, 8), (4, 8), (2, 4), (1, 2)]


def _interlaced_row_order(h: int) -> list[int]:
    rows = []
    for start, step in _INTERLACE:
        rows.extend(range(start, h, step))
    return rows


# ---------------------------------------------------------------------------
# encoder (fixture writer)
# ---------------------------------------------------------------------------

def encode_gif(
    indices: np.ndarray,
    palette: np.ndarray,
    interlace: bool = False,
    transparent_index: int | None = None,
) -> bytes:
    """(H,W) uint8 palette indices + (N,3) uint8 palette → GIF89a
    bytes. LZW data is emitted as literal root codes with a clear code
    before each would-be table growth past the 12-bit limit — the
    spec-valid "uncompressed" layout (deterministic, trivially
    correct); decode-side tests exercise REAL table growth because the
    decoder builds its table from this stream like any other."""
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("encode_gif expects (H,W) uint8 indices")
    if palette.ndim != 2 or palette.shape[1] != 3 or not 1 <= len(palette) <= 256:
        raise ValueError("palette must be (N,3) with 1 <= N <= 256")
    if int(indices.max(initial=0)) >= len(palette):
        raise ValueError("palette index out of range")
    h, w = indices.shape
    bits = max(2, int(len(palette) - 1).bit_length())  # table size 2^bits
    table_n = 1 << bits
    pal = np.zeros((table_n, 3), dtype=np.uint8)
    pal[: len(palette)] = palette

    out = bytearray(b"GIF89a")
    # logical screen descriptor: GCT present, size 2^bits
    out += struct.pack("<HHBBB", w, h, 0x80 | ((bits - 1) << 4) | (bits - 1), 0, 0)
    out += pal.tobytes()
    if transparent_index is not None:
        out += b"\x21\xf9\x04\x01\x00\x00" + bytes([transparent_index, 0])
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
    out += bytes([0x40 if interlace else 0x00])  # no LCT
    # LZW: min code size = bits; root codes emitted literally
    min_code = max(bits, 2)
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    acc = 0
    nbits = 0
    data = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits  # LSB-first packing
        nbits += width
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    rows = _interlaced_row_order(h) if interlace else range(h)
    emit(clear)
    # after a clear the decoder's next-new-entry is eoi+1; each literal
    # grows its table by one — clear again before width would bump
    budget = (1 << width) - eoi - 2
    for r in rows:
        for v in indices[r]:
            if budget == 0:
                emit(clear)
                budget = (1 << width) - eoi - 2
            emit(int(v))
            budget -= 1
    emit(eoi)
    if nbits:
        data.append(acc & 0xFF)
    # sub-block packaging (≤255 bytes per block)
    out += bytes([min_code])
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"  # block terminator
    out += b"\x3b"  # trailer
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------

@loud_decode("GIF")
def decode_gif_frames(data: bytes, limit: int | None = None) -> list[np.ndarray]:
    """GIF bytes → list of (H,W,3) uint8 frames composited onto the
    logical screen (background = WHITE, the shared document
    convention; transparency keeps the underlying composite; disposal
    2 restores the region to white, disposal 3 to the pre-frame
    composite). `limit` stops after that many frames — the media seam
    only needs the first."""
    if data[:4] != GIF_MAGIC or data[4:6] not in (b"7a", b"9a"):
        raise ValueError("not a GIF (bad signature)")
    w, h, flags, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
        pos += 3 * n
    screen = np.full((h, w, 3), 255, dtype=np.uint8)
    frames: list[np.ndarray] = []
    transparent: int | None = None
    disposal = 0
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9:  # Graphic Control Extension
                size = data[pos]
                body = data[pos + 1 : pos + 1 + size]
                transparent = body[3] if body[0] & 0x01 else None
                disposal = (body[0] >> 2) & 0x07
            # skip sub-blocks (any extension)
            while True:
                n = data[pos]
                pos += 1 + n
                if n == 0:
                    break
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x} at {pos}")
        ix, iy, iw, ih = struct.unpack("<HHHH", data[pos + 1 : pos + 9])
        iflags = data[pos + 9]
        pos += 10
        ct = gct
        if iflags & 0x80:  # local color table
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(data[pos : pos + 3 * n], dtype=np.uint8).reshape(n, 3)
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while True:
            n = data[pos]
            pos += 1
            if n == 0:
                break
            lzw += data[pos : pos + n]
            pos += n
        idx = lzw_decode(bytes(lzw), min_code, lsb_first=True, early_change=0, limit=iw * ih).reshape(ih, iw)
        if iflags & 0x40:  # interlaced: rows arrive in pass order
            ordered = np.empty_like(idx)
            ordered[_interlaced_row_order(ih)] = idx
            idx = ordered
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("GIF pixel index outside color table")
        region = screen[iy : iy + ih, ix : ix + iw]
        before = screen.copy() if disposal == 3 else None
        rgb = ct[idx]
        if transparent is not None:
            mask = idx != transparent
            region[mask] = rgb[mask]
        else:
            region[:] = rgb
        frames.append(screen.copy())
        if limit is not None and len(frames) >= limit:
            return frames
        # disposal AFTER the frame is shown (GIF89a GCE semantics)
        if disposal == 2:  # restore to background → white convention
            region[:] = 255
        elif disposal == 3 and before is not None:  # restore previous
            screen = before
        transparent = None  # GCE applies to one image only
        disposal = 0
    if not frames:
        raise ValueError("GIF has no image data")
    return frames


@loud_decode("GIF")
def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes → first composited (H,W,3) uint8 frame, decoded
    without touching later frames (the image-seam contract; use
    decode_gif_frames for animations)."""
    return decode_gif_frames(data, limit=1)[0]
