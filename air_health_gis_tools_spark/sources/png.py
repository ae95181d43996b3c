"""Pure-NumPy PNG codec (encoder + decoder) — real image decode for the
multimodal operator surface.

The reference's pipelines treat rasters as first-class but images as
library calls; this container has no PIL/opencv, so the codec is written
from the public PNG specification (RFC 2083 / W3C PNG, ISO/IEC 15948):
8-byte signature, length/type/data/CRC chunks, IHDR geometry, IDAT zlib
stream of per-scanline filtered bytes (filters 0-4: None/Sub/Up/Average/
Paeth), IEND. Supported: bit depth 8, color types 0 (gray), 2 (RGB),
6 (RGBA), no interlace — the shapes the multimodal operator emits and
consumes. Same spirit as the pure-NumPy TIFF 6.0 codec in
``sources/geotiff.py`` (reference reads rasters via rasterio,
extract_raster_buffer.py:150-172; we implement the formats from spec).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 6: 4}
_COLOR_TYPE = {1: 0, 3: 2, 4: 6}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data)))


def png_encode(arr: np.ndarray) -> bytes:
    """uint8 (H,W) gray / (H,W,3) RGB / (H,W,4) RGBA → PNG bytes (deflate
    level 6).

    Scanline filters cycle 0..4 by row — deterministic, and it exercises
    every un-filter path in the decoder on round-trip (filter choice never
    changes decoded pixels, only compressed size).
    """
    a = np.asarray(arr)
    if a.dtype != np.uint8:
        raise ValueError("png_encode: uint8 only")
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color = _COLOR_TYPE.get(ch)
    if color is None:
        raise ValueError(f"png_encode: {ch} channels unsupported")
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)

    stride = w * ch
    raw = a.reshape(h, stride).astype(np.int16)
    prev = np.zeros(stride, dtype=np.int16)
    lines = []
    for r in range(h):
        cur = raw[r]
        ft = r % 5
        if ft == 0:
            filt = cur
        elif ft == 1:     # Sub: left neighbor (same row, ch bytes back)
            left = np.concatenate([np.zeros(ch, np.int16), cur[:-ch]])
            filt = cur - left
        elif ft == 2:     # Up
            filt = cur - prev
        elif ft == 3:     # Average
            left = np.concatenate([np.zeros(ch, np.int16), cur[:-ch]])
            filt = cur - (left + prev) // 2
        else:             # Paeth
            left = np.concatenate([np.zeros(ch, np.int16), cur[:-ch]])
            ul = np.concatenate([np.zeros(ch, np.int16), prev[:-ch]])
            filt = cur - _paeth(left, prev, ul)
        lines.append(bytes([ft]) + (filt & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    idat = zlib.compress(b"".join(lines), 6)
    return (_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat)
            + _chunk(b"IEND", b""))


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Paeth predictor, vectorized (spec §6.6: nearest of left/up/up-left
    to p = a + b - c, ties resolved a, then b, then c)."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (H,W) for gray, (H,W,C) for RGB/RGBA."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    idat = []
    while pos + 8 <= len(data):
        ln, tag = struct.unpack(">I4s", data[pos:pos + 8])
        body = data[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat.append(body)
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise ValueError(f"unsupported PNG (depth={depth} comp={comp})")
    if interlace != 0:
        raise ValueError("Adam7 interlace not supported")
    ch = _CHANNELS.get(color)
    if ch is None:
        raise ValueError(f"unsupported PNG color type {color}")

    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline payload size mismatch")
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = mat[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int16)
    for r in range(h):
        ft = int(ftypes[r])
        cur = mat[r, 1:].astype(np.int16)
        if ft == 0:
            rec = cur
        elif ft == 2:
            rec = (cur + prev) & 0xFF
        elif ft in (1, 3, 4):
            # left-dependent filters: per-pixel scan along the row, but
            # vectorized across the pixel's channels (rows are short; the
            # batch dimension at scale is images-per-Arrow-batch, not
            # pixels — this stays a per-scanline O(w) loop)
            rec = np.empty(stride, dtype=np.int16)
            for x0 in range(0, stride, ch):
                left = rec[x0 - ch:x0] if x0 else np.zeros(ch, np.int16)
                up = prev[x0:x0 + ch]
                seg = cur[x0:x0 + ch]
                if ft == 1:
                    rec[x0:x0 + ch] = (seg + left) & 0xFF
                elif ft == 3:
                    rec[x0:x0 + ch] = (seg + (left + up) // 2) & 0xFF
                else:
                    ul = (prev[x0 - ch:x0] if x0
                          else np.zeros(ch, np.int16))
                    rec[x0:x0 + ch] = (seg + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ft}")
        out[r] = rec.astype(np.uint8)
        prev = rec
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img
