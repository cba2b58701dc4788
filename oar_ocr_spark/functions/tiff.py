"""Pure-python TIFF decoder (+ minimal fixture encoder).

Fourth image format behind the media seam: TIFF is THE archival
scanned-document container (fax, flatbed scanners, institutional
archives), so an OCR engine's crawl column must read it. Written
against the public TIFF 6.0 specification:

- decoder: both byte orders (II/MM), the IFD chain (multi-page files
  via `decode_tiff_pages`; `decode_tiff` returns the first page),
  strip layout (any RowsPerStrip), compressions none (1), LZW (5 —
  TIFF LZW is the same MSB-first early-change scheme PDF uses, decoded
  by the LZW kernel shared with PDF and GIF, functions/lzw.py), Adobe
  Deflate (official 8 AND the legacy 32946 code — zlib per strip/tile,
  the modern-writer default), PackBits (32773, where 0x80 is a NO-OP
  rather than PDF's EOD), and the CCITT fax family —
  2 (Modified Huffman), 3 (Group 3 per T4Options: 1D/2D, byte-aligned
  EOLs) and 4 (Group 4 / MMR), each strip independently coded, with
  FillOrder 2 bit reversal (functions/ccitt.py holds the T.4/T.6
  codec) — plus new-style JPEG-in-TIFF (7, TIFF-EP: each strip is a
  complete or abbreviated JPEG interchange stream, shared tables
  spliced in from the JPEGTables tag 347; functions/jpeg.py decodes —
  8-bit AND the 12/16-bit deep layouts, whose streams the JPEG
  decoder projects to their top 8 bits itself),
  old-style JPEG (6, deprecated by TechNote 2) in its decodable
  real-world flavor — one complete interchange stream behind
  JPEGInterchangeFormat/-Length (tags 513/514) —
  horizontal-differencing Predictor 2 (strip AND tiled layouts — the
  differencing restarts on every tile row), PlanarConfiguration 2
  (plane-major strips AND plane-major tiles, the layouts scientific
  writers emit), and the sample layouts scanned documents use: 1-bit
  bilevel (both photometric polarities — WhiteIsZero is the fax
  default), 8-bit greyscale, 8-bit RGB (extra samples dropped),
  16-bit greyscale/RGB (either byte order, projected to the top 8
  bits at the image seam, the same convention as the deep JPEG/J2K
  paths), palette color (16-bit ColorMap, high byte) with 8-bit OR
  16-bit indices (indices keep full precision — only continuous-tone
  samples are narrowed), 2/4-bit greyscale and palette (the early-
  scanner sub-byte layouts: MSB-first packed samples, rows byte-
  padded per TIFF §4, expanded to full range by the exact 255/(2^n-1)
  integer factor), and photometric 5 (Separated/CMYK, InkSet 1 —
  print-workflow scans; 0 = no ink per TIFF 6.0 §16, converted with
  the same multiplicative ink model as true-CMYK JPEG,
  functions/jpeg._cmyk_to_rgb).
- encoder (`encode_tiff`): strip fixture writer for bilevel / grey /
  RGB with compression none, PackBits, Deflate, the fax family ("mh" /
  "g3" / "g4", bilevel only), "jpeg" (q100 baseline per strip, optionally
  with shared tables hoisted into JPEGTables) or "ojpeg" (one
  whole-image interchange stream + tags 513/514), so the decoder is
  roundtrip-tested without any image library; LZW/predictor paths are
  pinned by hand-built IFD fixtures in the tests.

Scope (declared, fails loudly outside it): the T.4 uncompressed-mode
option bit, old-style JPEG's fragmented per-strip layout (compression
6 without tag 513), planar configuration 2 on JPEG tiles, bit depths
other than 1/2/4/8/16 (12 allowed behind the JPEG compressions only),
multi-sample sub-byte layouts, the predictor on sub-byte samples, and
InkSet 2 (vendor inks) raise NotImplementedError.
"""

from __future__ import annotations

import struct

import numpy as np

from .codec_guard import loud_decode
from .lzw import lzw_decode

__all__ = [
    "encode_tiff",
    "encode_tiff_multipage",
    "decode_tiff",
    "decode_tiff_pages",
    "decode_tiff_refs",
    "tiff_store_df",
    "tiff_media_store_df",
    "TIFF_MAGICS",
]

TIFF_MAGICS = (b"II*\x00", b"MM\x00*")

# tag ids
_W, _H, _BITS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_DESCRIPTION = 270  # ImageDescription (ASCII) — carries the media_ref
_FILL_ORDER = 266
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_T4_OPTIONS, _T6_OPTIONS = 292, 293
_PREDICTOR, _COLORMAP, _INKSET = 317, 320, 332
_JPEG_TABLES = 347  # TIFF-EP: shared abbreviated JPEG table stream

# FillOrder 2: bits within a byte arrive LSB-first (old scanner
# hardware); reverse each byte before the MSB-first CCITT reader
_BITREV = np.packbits(
    np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1),
    axis=1,
    bitorder="little",
).ravel()

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 8: "h", 9: "i"}


def _read_ifd(data: bytes, pos: int, bo: str) -> tuple[dict[int, list[int] | bytes], int]:
    """One IFD → ({tag: values}, next IFD offset)."""
    if pos + 2 > len(data):
        raise ValueError("TIFF IFD offset past end of file")
    (n,) = struct.unpack(bo + "H", data[pos : pos + 2])
    tags: dict[int, list[int]] = {}
    at = pos + 2
    if at + 12 * n + 4 > len(data):
        raise ValueError("TIFF IFD entry table truncated")
    for _ in range(n):
        tag, typ, count = struct.unpack(bo + "HHI", data[at : at + 8])
        size = _TYPE_SIZE.get(typ, 1) * count
        if size <= 4:
            raw = data[at + 8 : at + 8 + size]
        else:
            (off,) = struct.unpack(bo + "I", data[at + 8 : at + 12])
            if off + size > len(data):
                raise ValueError("TIFF tag data truncated")
            raw = data[off : off + size]
        fmt = _TYPE_FMT.get(typ)
        if fmt is not None:
            tags[tag] = list(struct.unpack(bo + fmt * count, raw))
        elif typ in (2, 7):  # ASCII / UNDEFINED (JPEGTables): raw bytes
            tags[tag] = raw
        at += 12
    (nxt,) = struct.unpack(bo + "I", data[at : at + 4])
    return tags, nxt


def _packbits_decode_tiff(data: bytes) -> bytes:
    """TIFF PackBits: n<128 copy n+1, n>128 repeat 257-n, n==128 NO-OP
    (unlike PDF RunLengthDecode where 128 is EOD)."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        if n == 128:
            i += 1
            continue
        if n < 128:
            out += data[i + 1 : i + 2 + n]
            i += 2 + n
        else:
            out += bytes([data[i + 1]]) * (257 - n)
            i += 2
    return bytes(out)


def _block_to_packed(
    block: bytes,
    comp: int,
    tags: dict,
    nrows: int,
    width: int,
    spp: int,
    depth: int,
    photo: int,
    label: str,
) -> bytes:
    """One compressed strip/tile → exactly nrows × rowbytes packed
    sample bytes (the codec switch shared by the strip and tile
    layouts; CCITT blocks are each an independent fax coding of
    width × nrows pixels)."""
    rowbytes = (width * spp * depth + 7) // 8
    if comp == 5:
        block = lzw_decode(block).tobytes()  # MSB-first, EarlyChange 1
    elif comp in (8, 32946):
        # Adobe Deflate (official 8, legacy 32946): zlib per block —
        # the modern-writer default (GDAL/ImageMagick)
        import zlib

        try:
            block = zlib.decompress(block)
        except zlib.error as e:
            raise ValueError(f"TIFF deflate {label} is corrupt: {e}") from e
    elif comp == 32773:
        block = _packbits_decode_tiff(block)
    elif comp in (2, 3, 4):
        from .ccitt import ccitt_decode

        if tags.get(_FILL_ORDER, [1])[0] == 2:
            block = _BITREV[np.frombuffer(block, dtype=np.uint8)].tobytes()
        if comp == 2:  # Modified Huffman: byte-aligned 1D rows
            k, aligned = 0, True
        elif comp == 3:
            t4 = tags.get(_T4_OPTIONS, [0])[0]
            k, aligned = (1 if t4 & 1 else 0), bool(t4 & 4)
        else:
            k, aligned = -1, False
        fax = ccitt_decode(block, width, nrows, k=k, byte_align=aligned)
        # fax domain 1 = black; photometric declares which sample
        # value is white (0 = WhiteIsZero, the fax default)
        samples = fax if photo == 0 else 1 - fax
        block = np.packbits(samples, axis=1).tobytes()
    block = block[: nrows * rowbytes]  # blocks may carry padding
    if len(block) < nrows * rowbytes:
        raise ValueError(f"TIFF {label} shorter than its rows")
    return block


def _jpeg_block(
    block: bytes, tables: bytes | None, nrows: int, width: int, label: str
) -> np.ndarray:
    """One compression-7 strip/tile → its decoded pixels, cropped to
    (nrows, width). Each block is a complete JPEG interchange stream;
    shared DQT/DHT from the JPEGTables tag are spliced in after SOI."""
    from .jpeg import decode_jpeg

    if block[:2] != b"\xff\xd8":
        raise ValueError(f"TIFF {label} missing SOI")
    if tables is not None:
        block = block[:2] + tables[2:-2] + block[2:]
    img = decode_jpeg(block)
    if img.shape[0] < nrows or img.shape[1] < width:
        raise ValueError(
            f"TIFF {label} decodes to {img.shape[:2]}, want >= ({nrows}, {width})"
        )
    return img[:nrows, :width]


def _unpack_subbyte(raw: bytes, nrows: int, width: int, depth: int) -> np.ndarray:
    """Packed MSB-first sub-byte samples (each row padded to a byte
    boundary, TIFF 6.0 §4) → (nrows, width) int64 sample values."""
    rowbytes = (width * depth + 7) // 8
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(nrows, rowbytes)
    bits = np.unpackbits(arr, axis=1)[:, : width * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.int64)
    return bits.reshape(nrows, width, depth).astype(np.int64) @ weights


def _jpeg_tables_of(tags: dict) -> bytes | None:
    tables = tags.get(_JPEG_TABLES)
    if tables is None:
        return None
    tables = bytes(tables)
    if len(tables) < 4 or tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9":
        raise ValueError("TIFF JPEGTables is not an SOI..EOI stream")
    return tables


def _decode_page(data: bytes, tags: dict[int, list[int]], bo: str) -> np.ndarray:
    for req, name in ((_W, "ImageWidth"), (_H, "ImageLength")):
        if req not in tags:
            raise ValueError(f"TIFF missing required tag {name}")
    w = tags[_W][0]
    h = tags[_H][0]
    spp = tags.get(_SPP, [1])[0]
    bits = tags.get(_BITS, [1])
    comp = tags.get(_COMP, [1])[0]
    photo = tags.get(_PHOTO, [1])[0]
    if len(set(bits)) != 1:
        raise NotImplementedError(f"mixed TIFF bit depths {bits} not supported")
    depth = bits[0]
    if depth not in (1, 2, 4, 8, 16) and not (depth == 12 and comp in (6, 7)):
        # 12-bit samples exist only behind the JPEG compressions
        # (TIFF-EP / medical archives), where the JPEG decoder owns
        # the sample layout and projects to the top 8 bits itself
        raise NotImplementedError(f"TIFF bit depth {depth} not supported here")
    if depth in (2, 4) and spp != 1:
        raise NotImplementedError(
            f"sub-byte TIFF with {spp} samples/pixel not supported"
        )
    planar = tags.get(284, [1])[0]
    if planar not in (1, 2):
        raise ValueError(f"TIFF planar configuration {planar} is illegal")
    planar = 1 if spp == 1 else planar
    if comp == 6:
        # old-style JPEG-in-TIFF (deprecated by TechNote 2). The
        # decodable real-world flavor carries ONE complete interchange
        # stream behind JPEGInterchangeFormat/-Length (513/514); the
        # fragmented per-strip layout (bare JPEGProc + QTables/ACTables
        # pointer tags) was never implemented consistently by writers
        # and is declared out of scope.
        if 513 not in tags:
            raise NotImplementedError(
                "old-style JPEG-in-TIFF (compression 6) without a "
                "JPEGInterchangeFormat tag: the fragmented per-strip "
                "layout is not supported here"
            )
        if 514 not in tags:
            raise ValueError(
                "old-style JPEG TIFF missing JPEGInterchangeFormatLength"
            )
        off, ln = tags[513][0], tags[514][0]
        if off + ln > len(data):
            raise ValueError("TIFF JPEG interchange stream truncated")
        blob = data[off : off + ln]
        if blob[:2] != b"\xff\xd8":
            raise ValueError("TIFF JPEGInterchangeFormat stream missing SOI")
        from .jpeg import decode_jpeg

        img = decode_jpeg(blob)
        if img.shape[0] < h or img.shape[1] < w:
            raise ValueError(
                f"TIFF old-style JPEG decodes to {img.shape[:2]}, want >= ({h}, {w})"
            )
        out = img[:h, :w]
        if out.ndim == 2 and photo == 0:
            out = 255 - out
        return np.ascontiguousarray(out)
    if comp not in (1, 2, 3, 4, 5, 7, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {comp} not supported here "
            "(none/CCITT 2/3/4/LZW/JPEG 7/Deflate 8+32946/PackBits)"
        )
    if comp in (2, 3, 4):
        if depth != 1 or spp != 1:
            raise ValueError("CCITT TIFF requires 1-bit single-sample data")
        if comp == 3 and tags.get(_T4_OPTIONS, [0])[0] & 2:
            raise NotImplementedError("T.4 uncompressed mode not supported")
        if comp == 4 and tags.get(_T6_OPTIONS, [0])[0] & 2:
            raise NotImplementedError("T.6 uncompressed mode not supported")
    if comp == 7 and depth not in (8, 12, 16):
        raise NotImplementedError("JPEG-in-TIFF requires 8/12/16-bit samples")
    pred2 = tags.get(_PREDICTOR, [1])[0] == 2
    if pred2 and depth < 8:
        raise NotImplementedError("TIFF predictor on sub-byte samples")
    pmask = 0xFF if depth == 8 else 0xFFFF

    tiled = 322 in tags or 324 in tags
    if tiled:
        if planar == 2 and comp == 7:
            raise NotImplementedError(
                "TIFF planar configuration 2 on JPEG tiles not supported"
            )
        for req, name in ((322, "TileWidth"), (323, "TileLength"), (324, "TileOffsets")):
            if req not in tags:
                raise ValueError(f"tiled TIFF missing required tag {name}")
        tw, tl = tags[322][0], tags[323][0]
        offs, cnts = tags[324], tags.get(325)
        if cnts is None:
            raise ValueError("tiled TIFF missing TileByteCounts")
        if tw <= 0 or tl <= 0:
            raise ValueError("tiled TIFF with non-positive tile dims")
        across, down = -(-w // tw), -(-h // tl)
        want_tiles = across * down * (spp if planar == 2 else 1)
        if len(offs) < want_tiles or len(cnts) < want_tiles:
            raise ValueError(
                f"tiled TIFF has {len(offs)} tiles, grid wants {want_tiles}"
            )
        if comp == 7:
            tables = _jpeg_tables_of(tags)
            canvas = np.zeros(
                (down * tl, across * tw) if spp == 1 else (down * tl, across * tw, 3),
                dtype=np.uint8,
            )
            for i in range(across * down):
                px = _jpeg_block(
                    data[offs[i] : offs[i] + cnts[i]], tables, tl, tw, f"tile {i}"
                )
                r, c = (i // across) * tl, (i % across) * tw
                canvas[r : r + tl, c : c + tw] = px
            out = canvas[:h, :w]
            if out.ndim == 2 and photo == 0:
                out = 255 - out
            return np.ascontiguousarray(out)
        if depth == 1:
            tile_rowbytes = (tw + 7) // 8
            canvas = np.zeros((down * tl, across * tile_rowbytes), dtype=np.uint8)
            for i in range(across * down):
                packed = _block_to_packed(
                    data[offs[i] : offs[i] + cnts[i]],
                    comp, tags, tl, tw, spp, depth, photo, f"tile {i}",
                )
                tarr = np.frombuffer(packed, dtype=np.uint8).reshape(
                    tl, tile_rowbytes
                )
                r, c = (i // across) * tl, (i % across) * tile_rowbytes
                canvas[r : r + tl, c : c + tile_rowbytes] = tarr
            # per-tile bit rows are byte-padded; unpack per tile column
            bitsarr = np.unpackbits(
                canvas.reshape(down * tl, across, tile_rowbytes), axis=2
            )[:, :, :tw].reshape(down * tl, across * tw)[:h, :w]
            img = (bitsarr * 255).astype(np.uint8)
            if photo == 0:
                img = 255 - img
            return np.ascontiguousarray(img)
        sam = np.zeros((down * tl, across * tw, spp), dtype=np.int64)
        ntiles = across * down
        # planar 2 tiles are plane-major: all of component 0's tiles,
        # then component 1's, … — each tile holds ONE component's samples
        tile_spp = 1 if planar == 2 else spp
        for j in range(ntiles * (spp if planar == 2 else 1)):
            ci, i = divmod(j, ntiles) if planar == 2 else (None, j)
            packed = _block_to_packed(
                data[offs[j] : offs[j] + cnts[j]],
                comp, tags, tl, tw, tile_spp, depth, photo, f"tile {j}",
            )
            if depth in (2, 4):  # spp == 1 enforced above
                t = _unpack_subbyte(packed, tl, tw, depth)[..., None]
            else:
                t = np.frombuffer(
                    packed, dtype=np.uint8 if depth == 8 else bo + "u2"
                ).reshape(tl, tw, tile_spp).astype(np.int64)
            if pred2:  # horizontal differencing restarts per tile row
                t = np.cumsum(t, axis=1) & pmask
            r, c = (i // across) * tl, (i % across) * tw
            if planar == 2:
                sam[r : r + tl, c : c + tw, ci] = t[..., 0]
            else:
                sam[r : r + tl, c : c + tw] = t
        return _px_to_image(np.ascontiguousarray(sam[:h, :w]), depth, photo, tags)

    if _STRIP_OFF not in tags:
        raise ValueError("TIFF missing required tag StripOffsets")
    rows_per_strip = tags.get(_ROWS_PER_STRIP, [h])[0] or h
    offs = tags[_STRIP_OFF]
    cnts = tags.get(_STRIP_CNT)
    if cnts is None:
        raise ValueError("TIFF missing StripByteCounts")
    if comp == 7:
        # new-style JPEG (TIFF-EP): every strip is its own JPEG
        # interchange stream
        tables = _jpeg_tables_of(tags)
        parts = []
        for i, (off, cnt) in enumerate(zip(offs, cnts)):
            nrows = min(rows_per_strip, h - i * rows_per_strip)
            img = _jpeg_block(data[off : off + cnt], tables, nrows, w, f"strip {i}")
            if img.shape[1] != w:
                raise ValueError(f"TIFF JPEG strip {i} width {img.shape[1]} != {w}")
            parts.append(img)
        out = parts[0] if len(parts) == 1 else np.vstack(parts)
        if out.ndim == 2 and photo == 0:  # WhiteIsZero greyscale
            out = 255 - out
        return np.ascontiguousarray(out)

    if planar == 2:
        # plane-major strips (PlanarConfiguration 2): all of component
        # 0's strips, then component 1's, ... — spp × ceil(h/rps)
        # strips, each holding ONE component's samples
        nstrips = -(-h // rows_per_strip)
        if len(offs) < nstrips * spp or len(cnts) < nstrips * spp:
            raise ValueError(
                f"planar TIFF has {len(offs)} strips, "
                f"wants {nstrips * spp} ({spp} planes)"
            )
        planes = []
        for ci in range(spp):
            praw = bytearray()
            for i in range(nstrips):
                j = ci * nstrips + i
                nrows = min(rows_per_strip, h - i * rows_per_strip)
                praw += _block_to_packed(
                    data[offs[j] : offs[j] + cnts[j]],
                    comp, tags, nrows, w, 1, depth, photo, f"strip {j}",
                )
            planes.append(
                np.frombuffer(
                    bytes(praw), dtype=np.uint8 if depth == 8 else bo + "u2"
                ).reshape(h, w).astype(np.int64)
            )
        sam = np.stack(planes, axis=-1)
        if pred2:  # differencing runs within each plane's rows
            sam = np.cumsum(sam, axis=1) & pmask
        return _px_to_image(np.ascontiguousarray(sam), depth, photo, tags)

    raw = bytearray()
    for i, (off, cnt) in enumerate(zip(offs, cnts)):
        nrows = min(rows_per_strip, h - i * rows_per_strip)
        raw += _block_to_packed(
            data[off : off + cnt], comp, tags, nrows, w, spp, depth, photo, f"strip {i}"
        )
    if depth == 1:
        rowbytes = (w + 7) // 8
        arr = np.frombuffer(bytes(raw), dtype=np.uint8).reshape(h, rowbytes)
        bitsarr = np.unpackbits(arr, axis=1)[:, :w]
        img = (bitsarr * 255).astype(np.uint8)
        if photo == 0:  # WhiteIsZero (the fax default): 0 bit = white
            img = 255 - img
        return np.ascontiguousarray(img)
    if depth in (2, 4):
        sam = _unpack_subbyte(bytes(raw), h, w, depth)[..., None]
        return _px_to_image(np.ascontiguousarray(sam), depth, photo, tags)
    sam = np.frombuffer(
        bytes(raw), dtype=np.uint8 if depth == 8 else bo + "u2"
    ).reshape(h, w, spp).astype(np.int64)
    if pred2:  # horizontal differencing
        sam = np.cumsum(sam, axis=1) & pmask
    return _px_to_image(np.ascontiguousarray(sam), depth, photo, tags)


def _px_to_image(sam: np.ndarray, depth: int, photo: int, tags: dict) -> np.ndarray:
    """(h, w, spp) full-precision samples → final image per photometric.
    Continuous-tone 16-bit samples project to their top 8 bits (the
    image-seam contract); palette indices must NOT be narrowed — a
    16-bit palette image addresses up to 65,536 ColorMap entries."""
    if photo == 3:  # palette: 16-bit ColorMap R[],G[],B[] planes
        cmap = tags.get(_COLORMAP)
        if cmap is None:
            raise ValueError("palette TIFF missing ColorMap")
        n = len(cmap) // 3
        cm = (np.asarray(cmap, dtype=np.uint32).reshape(3, n).T >> 8).astype(np.uint8)
        idx = sam[..., 0]
        if int(idx.max(initial=0)) >= n:
            raise ValueError("TIFF palette index out of range")
        return np.ascontiguousarray(cm[idx])
    if depth in (2, 4):
        # exact integer range expansion: 255/(2^n-1) divides evenly
        px = (sam * (255 // ((1 << depth) - 1))).astype(np.uint8)
    else:
        px = (sam >> 8 if depth == 16 else sam).astype(np.uint8)
    if photo == 2:  # RGB (extra samples, e.g. alpha, dropped)
        if px.shape[2] < 3:
            raise ValueError("RGB TIFF with fewer than 3 samples")
        return np.ascontiguousarray(px[..., :3])
    if photo in (0, 1):  # greyscale
        g = px[..., 0]
        if photo == 0:
            g = 255 - g
        return np.ascontiguousarray(g)
    if photo == 5:  # Separated (print-workflow CMYK scans, §16)
        if tags.get(_INKSET, [1])[0] != 1:
            raise NotImplementedError("TIFF InkSet 2 (vendor inks) not supported")
        if px.shape[2] < 4:
            raise ValueError("CMYK TIFF with fewer than 4 samples")
        from .jpeg import _cmyk_to_rgb

        # TIFF stores TRUE CMYK (0 = no ink) — the adobe=None flavor
        return np.ascontiguousarray(_cmyk_to_rgb(px[..., :4], adobe=None))
    raise NotImplementedError(f"TIFF photometric {photo} not supported here")


@loud_decode("TIFF")
def decode_tiff_pages(data: bytes, limit: int | None = None) -> list[np.ndarray]:
    """TIFF bytes → list of page images ((H,W) grey / (H,W,3) RGB
    uint8) following the IFD chain (multi-page scanned documents).
    `limit` stops after that many pages — the media seam only needs
    the first, so a 100-page archive costs O(one page)."""
    if data[:4] not in TIFF_MAGICS:
        raise ValueError("not a TIFF (bad byte-order/magic header)")
    bo = "<" if data[:2] == b"II" else ">"
    (pos,) = struct.unpack(bo + "I", data[4:8])
    pages = []
    seen: set[int] = set()
    while pos and pos not in seen:
        seen.add(pos)
        tags, pos = _read_ifd(data, pos, bo)
        pages.append(_decode_page(data, tags, bo))
        if limit is not None and len(pages) >= limit:
            break
    if not pages:
        raise ValueError("TIFF has no IFD")
    return pages


@loud_decode("TIFF")
def decode_tiff(data: bytes) -> np.ndarray:
    """First page only — decoded without touching later IFDs (the
    image-seam contract; decode_tiff_pages for multi-page files)."""
    return decode_tiff_pages(data, limit=1)[0]


@loud_decode("TIFF")
def decode_tiff_refs(data: bytes) -> list[str] | None:
    """Per-page ImageDescription strings from the IFD chain — the
    container's own page naming (the TIFF twin of the PDF /Info
    /Title contract). Returns None unless EVERY page carries one.
    Walks only IFD tables, never strip data: O(pages), not O(pixels)."""
    if data[:4] not in TIFF_MAGICS:
        raise ValueError("not a TIFF (bad byte-order/magic header)")
    bo = "<" if data[:2] == b"II" else ">"
    (pos,) = struct.unpack(bo + "I", data[4:8])
    refs: list[str] = []
    seen: set[int] = set()
    while pos and pos not in seen:
        seen.add(pos)
        tags, pos = _read_ifd(data, pos, bo)
        desc = tags.get(_DESCRIPTION)
        if not isinstance(desc, bytes):
            return None
        refs.append(desc.rstrip(b"\x00").decode("utf-8", errors="replace"))
    return refs or None


# ---------------------------------------------------------------------------
# fixture encoder
# ---------------------------------------------------------------------------

_FAX_COMPRESSIONS = {"mh": 2, "g3": 3, "g4": 4}


def _jpeg_split_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Full JPEG interchange stream → (shared-tables stream, abbreviated
    stream): DQT/DHT segments move into an SOI..EOI tables blob (the
    JPEGTables tag payload per TIFF-EP), everything else — headers, SOS
    and entropy data — stays. The decoder's splice is the inverse."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    tables = bytearray(b"\xff\xd8")
    out = bytearray(b"\xff\xd8")
    i = 2
    while i + 4 <= len(stream):
        if stream[i] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = stream[i + 1]
        if marker == 0xDA:  # SOS: entropy data + EOI follow verbatim
            out += stream[i:]
            break
        seglen = int.from_bytes(stream[i + 2 : i + 4], "big")
        seg = stream[i : i + 2 + seglen]
        (tables if marker in (0xDB, 0xC4) else out).extend(seg)
        i += 2 + seglen
    else:
        raise ValueError("JPEG stream ended before SOS")
    tables += b"\xff\xd9"
    return bytes(tables), bytes(out)


def encode_tiff(
    img: np.ndarray,
    compression: str = "none",
    bilevel: bool = False,
    photometric_zero_is_white: bool = False,
    rows_per_strip: int | None = None,
    fill_order: int = 1,
    jpeg_tables: bool = False,
) -> bytes:
    """(H,W) grey / (H,W,3) RGB uint8 → little-endian TIFF bytes.
    bilevel=True packs a 0/255 grey image to 1 bit/sample (the scanned
    fax layout); compression "none", "packbits", "deflate" (Adobe
    Deflate 8 — the modern-writer default), "jpeg" (new-style 7:
    a q100 baseline JPEG stream per strip; jpeg_tables=True hoists the
    shared DQT/DHT segments into the JPEGTables tag and writes
    abbreviated strip streams), or — bilevel only — the CCITT family
    "mh" (2), "g3" (Group 3 2D, T4Options=1) or "g4" (Group 4 MMR),
    each strip independently coded; fill_order=2 writes LSB-first fax
    bytes (old scanner hardware)."""
    if img.dtype != np.uint8 or img.ndim not in (2, 3):
        raise ValueError("encode_tiff expects uint8 (H,W) or (H,W,3)")
    if compression not in (
        "none", "packbits", "deflate", "jpeg", "ojpeg", *_FAX_COMPRESSIONS
    ):
        raise ValueError(
            "compression must be "
            "'none'/'packbits'/'deflate'/'jpeg'/'ojpeg'/'mh'/'g3'/'g4'"
        )
    if compression in _FAX_COMPRESSIONS and not bilevel:
        raise ValueError("CCITT compressions need bilevel=True")
    if compression in ("jpeg", "ojpeg") and bilevel:
        raise ValueError("JPEG-in-TIFF requires 8-bit samples, not bilevel")
    if compression == "ojpeg" and rows_per_strip is not None:
        raise ValueError("old-style JPEG writes one whole-image stream")
    if jpeg_tables and compression != "jpeg":
        raise ValueError("jpeg_tables only applies to compression='jpeg'")
    if fill_order not in (1, 2):
        raise ValueError("fill_order must be 1 or 2")
    if fill_order == 2 and compression not in _FAX_COMPRESSIONS:
        raise ValueError("fill_order=2 only written for CCITT strips here")
    h, w = img.shape[0], img.shape[1]
    spp = 1 if img.ndim == 2 else img.shape[2]
    bitmat = None
    if bilevel:
        if img.ndim != 2 or not np.isin(img, (0, 255)).all():
            raise ValueError("bilevel needs a 0/255 (H,W) image")
        bitsrows = (img == 255).astype(np.uint8)
        if photometric_zero_is_white:
            bitsrows = 1 - bitsrows
        bitmat = bitsrows
        rows = [np.packbits(bitsrows[y]).tobytes() for y in range(h)]
        depth, photo = 1, (0 if photometric_zero_is_white else 1)
    else:
        rows = [img[y].tobytes() for y in range(h)]
        depth, photo = 8, (1 if spp == 1 else 2)
        if compression in ("jpeg", "ojpeg") and spp == 3:
            photo = 6  # our JPEG encoder stores color as YCbCr
    rps = rows_per_strip or h
    strips = []
    for s in range(0, h, rps):
        if compression in ("jpeg", "ojpeg"):
            from .jpeg import encode_jpeg

            body = encode_jpeg(np.ascontiguousarray(img[s : s + rps]), quality=100)
        elif compression in _FAX_COMPRESSIONS:
            from .ccitt import (
                ccitt_encode_g3_1d,
                ccitt_encode_g3_2d,
                ccitt_encode_g4,
            )

            # coding domain is 1 = black; photo 0 stores 1 = black
            # already, photo 1 stores 1 = white
            fax_bits = bitmat[s : s + rps]
            if photo == 1:
                fax_bits = 1 - fax_bits
            if compression == "mh":
                body = ccitt_encode_g3_1d(fax_bits, byte_align=True)
            elif compression == "g3":
                body = ccitt_encode_g3_2d(fax_bits)
            else:
                body = ccitt_encode_g4(fax_bits)
            if fill_order == 2:
                body = _BITREV[np.frombuffer(body, dtype=np.uint8)].tobytes()
        else:
            body = b"".join(rows[s : s + rps])
            if compression == "deflate":
                import zlib

                body = zlib.compress(body)
            elif compression == "packbits":
                # simple literal PackBits: runs of ≤128 literal bytes
                enc = bytearray()
                for i in range(0, len(body), 128):
                    chunk = body[i : i + 128]
                    enc += bytes([len(chunk) - 1]) + chunk
                body = bytes(enc)
        strips.append(body)

    tables_blob = None
    if jpeg_tables:
        # hoist the (identical, fixed-q100) DQT/DHT segments out of
        # every strip into one shared JPEGTables stream
        split = [_jpeg_split_tables(s) for s in strips]
        tables_blob = split[0][0]
        if any(t != tables_blob for t, _ in split):
            raise ValueError("JPEG strips disagree on tables")
        strips = [abbrev for _, abbrev in split]

    entries = []  # (tag, type, count, value-or-bytes)
    def tag_short(t, v):
        entries.append((t, 3, 1, struct.pack("<H", v) + b"\x00\x00"))

    def tag_long(t, v):
        entries.append((t, 4, 1, struct.pack("<I", v)))

    tag_long(_W, w)
    tag_long(_H, h)
    if spp == 1:
        tag_short(_BITS, depth)
    else:
        entries.append((_BITS, 3, 3, struct.pack("<HHH", 8, 8, 8)))
    tag_short(
        _COMP,
        _FAX_COMPRESSIONS.get(
            compression,
            {"none": 1, "deflate": 8, "jpeg": 7, "ojpeg": 6}.get(
                compression, 32773
            ),
        ),
    )
    if compression == "ojpeg":
        # the interchange stream doubles as the (single) strip; tag 513
        # is patched to the same offset as StripOffsets below
        entries.append((513, 4, 1, None))
        tag_long(514, len(strips[0]))
    tag_short(_PHOTO, photo)
    if tables_blob is not None:
        entries.append((_JPEG_TABLES, 7, len(tables_blob), tables_blob))
    if compression == "g3":
        tag_long(_T4_OPTIONS, 1)  # 2D coding, no uncompressed, no align
    if fill_order == 2:
        tag_short(_FILL_ORDER, 2)
    entries.append((_STRIP_OFF, 4, len(strips), None))  # patched below
    tag_short(_SPP, spp)
    tag_long(_ROWS_PER_STRIP, rps)
    entries.append(
        (_STRIP_CNT, 4, len(strips), b"".join(struct.pack("<I", len(s)) for s in strips))
    )
    entries.sort(key=lambda e: e[0])

    header = b"II*\x00" + struct.pack("<I", 8)
    ifd_size = 2 + 12 * len(entries) + 4
    # layout: header | IFD | out-of-line tag data | strip data
    extra_at = 8 + ifd_size
    extra = bytearray()
    fixed = []
    for t, typ, count, val in entries:
        if val is None:  # strip offsets, patched after layout
            fixed.append([t, typ, count, None])
            if count * 4 > 4:
                extra_at_here = extra_at + len(extra)
                extra += b"\x00" * (4 * count)
                fixed[-1].append(extra_at_here)
            continue
        if len(val) <= 4:
            fixed.append([t, typ, count, val.ljust(4, b"\x00")])
        else:
            fixed.append([t, typ, count, struct.pack("<I", extra_at + len(extra))])
            extra += val
    strips_at = extra_at + len(extra)
    offs = []
    at = strips_at
    for s in strips:
        offs.append(at)
        at += len(s)
    for f in fixed:
        if f[3] is None:
            if len(offs) == 1:
                f[3] = struct.pack("<I", offs[0])
            else:
                packed = b"".join(struct.pack("<I", o) for o in offs)
                pos_in_extra = f[4] - extra_at
                extra[pos_in_extra : pos_in_extra + len(packed)] = packed
                f[3] = struct.pack("<I", f[4])
    out = bytearray(header)
    out += struct.pack("<H", len(fixed))
    for t, typ, count, val, *_ in fixed:
        out += struct.pack("<HHI", t, typ, count) + val
    out += struct.pack("<I", 0)  # no next IFD
    out += extra
    for s in strips:
        out += s
    return bytes(out)


def encode_tiff_multipage(
    pages: list[np.ndarray],
    page_refs: list[str] | None = None,
    compression: str = "none",
) -> bytes:
    """Grey (H,W) uint8 pages → ONE little-endian multi-page TIFF
    (chained IFDs — the archival scanned-document container layout).
    `page_refs` are written per page as ImageDescription (tag 270,
    ASCII), the container naming its own pages the way the PDF writer
    uses /Info /Title; decode_tiff_refs is the read side. Single strip
    per page, compression "none", "packbits", "palette16" (grey
    values stored as 16-bit palette INDICES against an identity
    16-bit ColorMap — lossless, exercises the full-precision palette
    index path), "cmyk" (grey stored as K-only Separated ink,
    photometric 5 / InkSet 1: C=M=Y=0, K=255-g, so the ink model
    (255-C)·(255-K)/255 returns g exactly — lossless, exercises the
    print-workflow CMYK path) or "deflate" (Adobe Deflate 8 — the
    modern-writer default, zlib per strip)."""
    if not pages:
        raise ValueError("encode_tiff_multipage needs at least one page")
    if page_refs is not None and len(page_refs) != len(pages):
        raise ValueError("page_refs length must match pages")
    if compression not in ("none", "packbits", "palette16", "cmyk", "deflate"):
        raise ValueError(
            "compression must be 'none', 'packbits', 'palette16', "
            "'cmyk' or 'deflate'"
        )
    for p in pages:
        if p.dtype != np.uint8 or p.ndim != 2:
            raise ValueError(
                f"encode_tiff_multipage expects (H,W) uint8 pages, got {p.dtype} {p.shape}"
            )

    out = bytearray(b"II*\x00\x00\x00\x00\x00")  # first-IFD offset patched
    ifd_positions: list[int] = []
    for i, img in enumerate(pages):
        h, w = img.shape
        if compression == "palette16":
            body = img.astype("<u2").tobytes()  # grey value = index
        elif compression == "cmyk":
            ink = np.zeros((h, w, 4), np.uint8)
            ink[..., 3] = 255 - img  # K-only: decodes back to g exactly
            body = ink.tobytes()
        else:
            body = img.tobytes()
        if compression == "packbits":
            enc = bytearray()
            for j in range(0, len(body), 128):
                chunk = body[j : j + 128]
                enc += bytes([len(chunk) - 1]) + chunk
            body = bytes(enc)
        elif compression == "deflate":
            import zlib

            body = zlib.compress(body)
        desc = None
        if page_refs is not None:
            desc = page_refs[i].encode("utf-8") + b"\x00"

        # data region first (description, then the strip), IFD after —
        # every offset is known before the IFD is emitted
        desc_off = len(out)
        if desc is not None and len(desc) > 4:
            out += desc
            if len(out) % 2:
                out += b"\x00"
        cmap_off = len(out)
        if compression == "palette16":
            # identity 16-bit ColorMap: entry i = i<<8 in all three
            # planes, so the decoder's top-byte projection returns i
            ident = (np.arange(256, dtype="<u2") << 8).tobytes()
            out += ident * 3  # R plane, G plane, B plane
        bits_off = len(out)
        if compression == "cmyk":
            out += struct.pack("<HHHH", 8, 8, 8, 8)  # out-of-line BitsPerSample
        strip_off = len(out)
        out += body
        if len(out) % 2:
            out += b"\x00"
        ifd_positions.append(len(out))

        def long_val(v: int) -> bytes:
            return struct.pack("<I", v)

        def short_val(v: int) -> bytes:
            return struct.pack("<H", v) + b"\x00\x00"

        pal16 = compression == "palette16"
        cmyk = compression == "cmyk"
        entries: list[tuple[int, int, int, bytes]] = [
            (_W, 4, 1, long_val(w)),
            (_H, 4, 1, long_val(h)),
            (_BITS, 3, 4, long_val(bits_off))
            if cmyk
            else (_BITS, 3, 1, short_val(16 if pal16 else 8)),
            (
                _COMP, 3, 1,
                short_val(
                    {"packbits": 32773, "deflate": 8}.get(compression, 1)
                ),
            ),
            (_PHOTO, 3, 1, short_val(5 if cmyk else (3 if pal16 else 1))),
            (_STRIP_OFF, 4, 1, long_val(strip_off)),
            (_SPP, 3, 1, short_val(4 if cmyk else 1)),
            (_ROWS_PER_STRIP, 4, 1, long_val(h)),
            (_STRIP_CNT, 4, 1, long_val(len(body))),
        ]
        if pal16:
            entries.append((_COLORMAP, 3, 768, long_val(cmap_off)))
        if cmyk:
            entries.append((_INKSET, 3, 1, short_val(1)))  # InkSet: CMYK
            entries.append((334, 3, 1, short_val(4)))  # NumberOfInks
        if desc is not None:
            val = desc.ljust(4, b"\x00") if len(desc) <= 4 else long_val(desc_off)
            entries.append((_DESCRIPTION, 2, len(desc), val))
        entries.sort(key=lambda e: e[0])
        out += struct.pack("<H", len(entries))
        for t, typ, count, val in entries:
            out += struct.pack("<HHI", t, typ, count) + val
        out += b"\x00\x00\x00\x00"  # next-IFD pointer, patched below

    out[4:8] = struct.pack("<I", ifd_positions[0])
    for prev, nxt in zip(ifd_positions, ifd_positions[1:]):
        # next pointer sits after the entry table of the IFD at `prev`
        (n,) = struct.unpack_from("<H", out, prev)
        out[prev + 2 + 12 * n : prev + 6 + 12 * n] = struct.pack("<I", nxt)
    return bytes(out)


# ---------------------------------------------------------------------------
# distributed container operators (the pdf_store_df / pdf_media_store_df
# twins for archival multi-page TIFFs)
# ---------------------------------------------------------------------------

_TIFF_STORE_SCHEMA = None  # built lazily: keep pyspark optional at import


def _tiff_schemas():
    from pyspark.sql import types as T

    store = T.StructType(
        [
            T.StructField("tiff_ref", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("n_pages", T.IntegerType(), False),
        ]
    )
    page = T.StructType(
        [
            T.StructField("media_ref", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )
    return store, page


def tiff_store_df(docs):
    """input_hint documents → (tiff_ref, payload, n_pages): ONE real
    multi-page TIFF per document packing its media spans' rendered
    pages in span order (the archival-scan twin of pdf_store_df; same
    JVM-side ref selection, same single Arrow-batched boundary)."""
    import zlib

    from pyspark.sql import functions as F

    from ..fixtures.render import render_page
    from ..partitioning import python_stage

    refs = (
        docs.select(
            "doc_id",
            F.expr(
                "transform(filter(spans, s -> s.kind = 'media' and s.media_ref is not null),"
                " s -> s.media_ref)"
            ).alias("refs"),
        )
        .where(F.size("refs") > 0)
    )
    store_schema, _ = _tiff_schemas()

    def row(doc_id: str, media_refs) -> list[tuple]:
        media_refs = list(media_refs)
        pages = [render_page(r) for r in media_refs]
        # per-document container flavor, crc32-chosen like the image
        # stores — every flavor lossless, so the span goldens are
        # unaffected
        comp = ("none", "packbits", "palette16", "cmyk", "deflate")[
            zlib.crc32(str(doc_id).encode("utf-8")) % 5
        ]
        return [(doc_id, encode_tiff_multipage(pages, media_refs, compression=comp), len(pages))]

    P = docs.sparkSession.sparkContext.defaultParallelism
    return python_stage(
        refs, row, store_schema, "tiff_store", parallelism=P, by=("doc_id",)
    )


def tiff_media_store_df(tiffs):
    """(tiff_ref, payload) → (media_ref, payload:PNG bytes) page store.

    Container-unpack for multi-page TIFFs: walk the IFD chain once,
    re-encode each page as lossless PNG keyed by its ImageDescription
    media_ref (fallback '<tiff_ref>#page<i>'). Same output shape as
    pdf_media_store_df — archival TIFFs, PDFs and loose images all
    meet in one page-store seam feeding extract_spans(media_store=...)."""
    from ..partitioning import python_stage
    from .multimodal import _to_grey
    from .png import encode_png

    _, page_schema = _tiff_schemas()

    def row(tiff_ref: str, payload) -> list[tuple]:
        data = bytes(payload)
        refs = decode_tiff_refs(data)
        pages = decode_tiff_pages(data)
        if refs is None or len(refs) != len(pages):
            refs = [f"{tiff_ref}#page{i}" for i in range(len(pages))]
        return [(ref, encode_png(_to_grey(page))) for ref, page in zip(refs, pages)]

    return python_stage(tiffs.select("tiff_ref", "payload"), row, page_schema, "tiff_media_store")
