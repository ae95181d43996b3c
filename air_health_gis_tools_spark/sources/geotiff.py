"""Real GeoTIFF ingestion — pure-NumPy TIFF decoder feeding the tile table.

The reference's whole identity is ``rasterio.open(path).read()[0]`` plus
transform/nodata capture (extract_raster_buffer.py:150-172;
Archived_scripts/utils.py:119-135). This sandbox has no GDAL/rasterio, so
this module implements the subset of TIFF 6.0 the reference fixture
(``data/apg18e_1_0_0_20210512.tif``) actually uses — little/big-endian
IFDs, tiled or stripped layout, float32/float64/int sample formats,
compression none/LZW/Deflate, horizontal-differencing predictor — from the
public TIFF 6.0 specification. No code is taken from GDAL/libtiff/tifffile;
the LZW variant (MSB-first codes, Clear=256, EOI=257, 'early change') is
implemented directly from the spec.

Scale path: ``geotiff_tile_table`` is ``sources/raster.scan_tiles`` over
the block grid (a stripped file has one tile column); each task opens the
file once and reads ONLY its blocks' byte ranges (the COG access pattern —
the whole raster never materializes anywhere). ``read_geotiff`` is the
driver-side full decode used as the parity oracle.

Transform: the sidecar ``.tfw`` world file (or the ModelPixelScale +
ModelTiepoint GeoKeys) gives the affine; ``rowcol_of_xy`` inverts it the
way ``get_coords_at_point`` does (utils.py:47-67), handling the standard
north-up negative y-step.
"""

from __future__ import annotations

import os
import struct
import zlib
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .raster import scan_tiles, tile_array

# TIFF tag ids (TIFF 6.0 spec §8)
_TAGS = {
    256: "width", 257: "height", 258: "bits", 259: "compression",
    273: "strip_offsets", 277: "spp", 278: "rows_per_strip",
    279: "strip_counts", 317: "predictor", 322: "tile_w", 323: "tile_h",
    324: "tile_offsets", 325: "tile_counts", 339: "sample_format",
    33550: "pixel_scale", 33922: "tiepoint", 42113: "nodata_ascii",
}
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4,
              10: 8, 11: 4, 12: 8}
_TYPE_FMT = {3: "H", 4: "I", 8: "h", 9: "i", 11: "f", 12: "d"}


@dataclass
class TiffInfo:
    path: str
    byteorder: str
    width: int
    height: int
    bits: int
    sample_format: int          # 1 uint, 2 int, 3 float
    compression: int            # 1 none, 5 LZW, 8 deflate
    predictor: int              # 1 none, 2 horizontal differencing
    tile_w: int                 # == width for stripped files
    tile_h: int
    offsets: np.ndarray
    counts: np.ndarray
    tiled: bool
    nodata: float | None
    # affine: x = c0 + col*xres ; y = r0 + row*yres (yres < 0 when north-up)
    transform: tuple[float, float, float, float] | None = None
    extra: dict = field(default_factory=dict)

    @property
    def dtype(self) -> np.dtype:
        kind = {1: "u", 2: "i", 3: "f"}[self.sample_format]
        return np.dtype(f"{self.byteorder}{kind}{self.bits // 8}")

    @property
    def n_tiles_x(self) -> int:
        return (self.width + self.tile_w - 1) // self.tile_w


def _read_tag_values(f, bo: str, typ: int, cnt: int, raw: bytes):
    size = _TYPE_SIZE[typ] * cnt
    if size <= 4:
        data = raw[:size]
    else:
        off = struct.unpack(bo + "I", raw)[0]
        pos = f.tell()
        f.seek(off)
        data = f.read(size)
        f.seek(pos)
    if typ == 2:
        return data.rstrip(b"\x00").decode("ascii", "replace")
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        return data
    return list(struct.unpack(f"{bo}{cnt}{fmt}", data))


def read_ifd(path: str) -> TiffInfo:
    """Parse the first IFD of a classic (non-Big) TIFF."""
    with open(path, "rb") as f:
        head = f.read(8)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError("not a TIFF file")
        magic, ifd_off = struct.unpack(bo + "HI", head[2:8])
        if magic != 42:
            raise ValueError("BigTIFF not supported (magic != 42)")
        f.seek(ifd_off)
        n = struct.unpack(bo + "H", f.read(2))[0]
        tags: dict = {}
        for _ in range(n):
            ent = f.read(12)
            tag, typ, cnt = struct.unpack(bo + "HHI", ent[:8])
            name = _TAGS.get(tag)
            if name:
                tags[name] = _read_tag_values(f, bo, typ, cnt, ent[8:12])

    tiled = "tile_offsets" in tags
    if tiled:
        offsets = np.array(tags["tile_offsets"], dtype=np.int64)
        counts = np.array(tags["tile_counts"], dtype=np.int64)
        tile_w, tile_h = int(tags["tile_w"][0]), int(tags["tile_h"][0])
    else:
        offsets = np.array(tags["strip_offsets"], dtype=np.int64)
        counts = np.array(tags["strip_counts"], dtype=np.int64)
        tile_w = int(tags["width"][0])
        tile_h = int(tags.get("rows_per_strip", [tags["height"][0]])[0])

    nodata = None
    if "nodata_ascii" in tags:
        try:
            nodata = float(tags["nodata_ascii"])
        except ValueError:
            pass

    transform = None
    tfw = os.path.splitext(path)[0] + ".tfw"
    if os.path.exists(tfw):
        with open(tfw) as fh:
            a, d, b, e, c0, r0 = (float(x) for x in fh.read().split()[:6])
        # world file order: xres, rot, rot, yres, x_center0, y_center0;
        # convert pixel-center origin to pixel-EDGE origin (GDAL convention)
        transform = (c0 - a / 2, a, r0 - e / 2, e)
    elif "pixel_scale" in tags and "tiepoint" in tags:
        sx, sy = tags["pixel_scale"][0], tags["pixel_scale"][1]
        i, j, _, gx, gy, _ = tags["tiepoint"][:6]
        transform = (gx - i * sx, sx, gy + j * sy, -sy)

    return TiffInfo(
        path=path, byteorder=bo,
        width=int(tags["width"][0]), height=int(tags["height"][0]),
        bits=int(tags["bits"][0]),
        sample_format=int(tags.get("sample_format", [1])[0]),
        compression=int(tags.get("compression", [1])[0]),
        predictor=int(tags.get("predictor", [1])[0]),
        tile_w=tile_w, tile_h=tile_h, offsets=offsets, counts=counts,
        tiled=tiled, nodata=nodata, transform=transform)


def lzw_decode(data: bytes) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first variable-width codes starting
    at 9 bits, ClearCode 256, EOI 257, and the 'early change' off-by-one
    (code width bumps when the NEXT code would not fit, i.e. at table
    sizes 511/1023/2047)."""
    CLEAR, EOI = 256, 257
    out: list[bytes] = []
    append = out.append
    data += b"\x00\x00\x00\x00"              # bit-reader overrun pad
    nbits = 9
    bitpos = 0
    maxbits = (len(data) - 4) * 8
    table: list[bytes] = []
    prev: bytes | None = None
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    while bitpos + nbits <= maxbits + nbits:   # EOI usually stops us first
        byte = bitpos >> 3
        chunk = int.from_bytes(data[byte:byte + 4], "big")
        code = (chunk >> (32 - nbits - (bitpos & 7))) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == CLEAR:
            table = base.copy()
            nbits = 9
            prev = None
            continue
        if code == EOI or bitpos > maxbits:
            break
        if prev is None:
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError("corrupt LZW stream")
            table.append(prev + entry[:1])
        append(entry)
        prev = entry
        if len(table) == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return b"".join(out)


def lzw_encode(data: bytes) -> bytes:
    """TIFF-variant LZW encoder (spec §13) — the inverse of ``lzw_decode``,
    used by the property tests to harden the decoder (decode∘encode == id
    on arbitrary byte strings) and available to the GeoTIFF sink.
    MSB-first variable-width codes, Clear=256, EOI=257, early change."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = 0
    nacc = 0

    def put(code: int, nbits: int):
        nonlocal acc, nacc
        acc = (acc << nbits) | code
        nacc += nbits
        while nacc >= 8:
            nacc -= 8
            out.append((acc >> nacc) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    nbits = 9
    put(CLEAR, nbits)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        put(table[w], nbits)
        table[wc] = next_code
        next_code += 1
        # width bump aligned to the decoder (which is validated against
        # GDAL-written files): the decoder widens one code AFTER its table
        # hits (1<<nbits)-1, and its table lags the encoder's by one entry
        # — net: the encoder widens when next_code reaches 1<<nbits
        if next_code == (1 << nbits) and nbits < 12:
            nbits += 1
        elif next_code == (1 << 12) - 2:
            put(CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        w = bytes([ch])
    if w:
        put(table[w], nbits)
    put(EOI, nbits)
    if nacc:
        out.append((acc << (8 - nacc)) & 0xFF)
    return bytes(out)


def _decompress(info: TiffInfo, raw: bytes) -> bytes:
    if info.compression == 1:
        return raw
    if info.compression == 5:
        return lzw_decode(raw)
    if info.compression in (8, 32946):
        return zlib.decompress(raw)
    raise ValueError(f"unsupported TIFF compression {info.compression}")


def decode_block(info: TiffInfo, idx: int, fh=None) -> np.ndarray:
    """Decode tile/strip ``idx`` to a full (tile_h, tile_w) float64 array
    with nodata → NaN. Edge blocks keep TIFF's full-tile padding; callers
    trim with height/width."""
    own = fh is None
    if own:
        fh = open(info.path, "rb")
    try:
        fh.seek(int(info.offsets[idx]))
        raw = fh.read(int(info.counts[idx]))
    finally:
        if own:
            fh.close()
    buf = _decompress(info, raw)
    if info.tiled:
        th, tw = info.tile_h, info.tile_w
    else:
        th = min(info.tile_h, info.height - idx * info.tile_h)
        tw = info.tile_w
    arr = np.frombuffer(buf, dtype=info.dtype, count=th * tw).reshape(th, tw)
    if info.predictor == 2:
        # horizontal differencing over the INTEGER representation
        arr = np.cumsum(arr.astype(np.int64), axis=1).astype(info.dtype)
    out = arr.astype(np.float64)
    if info.nodata is not None:
        # compare at the stored precision (float32 nodata round-trips)
        nod = np.asarray(info.nodata, dtype=info.dtype).astype(np.float64)
        out[out == nod] = np.nan
    return out


def read_geotiff(path: str) -> tuple[np.ndarray, TiffInfo]:
    """Driver-side full decode (the oracle / broadcast-raster path) —
    the pure-NumPy stand-in for ``rasterio.open(path).read()[0]`` +
    nodata→NaN (extract_raster_buffer.py:150-172)."""
    info = read_ifd(path)
    full = np.full((info.height, info.width), np.nan)
    with open(path, "rb") as fh:
        if info.tiled:
            ntx = info.n_tiles_x
            for idx in range(len(info.offsets)):
                ty, tx = divmod(idx, ntx)
                r0, c0 = ty * info.tile_h, tx * info.tile_w
                h = min(info.tile_h, info.height - r0)
                w = min(info.tile_w, info.width - c0)
                blk = decode_block(info, idx, fh)
                full[r0:r0 + h, c0:c0 + w] = blk[:h, :w]
        else:
            for idx in range(len(info.offsets)):
                r0 = idx * info.tile_h
                h = min(info.tile_h, info.height - r0)
                blk = decode_block(info, idx, fh)
                full[r0:r0 + h, :] = blk[:h, :info.width]
    return full, info


def rowcol_of_xy(info: TiffInfo, x: np.ndarray, y: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Containing pixel of world coords under the captured affine —
    truncation assignment exactly as the reference's
    ``get_coords_at_point`` (utils.py:47-67); y-step is negative for
    north-up rasters, handled by the signed division."""
    x0, xres, y0, yres = info.transform
    col = np.floor((np.asarray(x, dtype=np.float64) - x0) / xres)
    row = np.floor((np.asarray(y, dtype=np.float64) - y0) / yres)
    return row.astype(np.int64), col.astype(np.int64)


def write_geotiff(tiles: DataFrame, path: str, height: int, width: int,
                  tile_px: int = 128,
                  transform: tuple[float, float, float, float] | None = None
                  ) -> None:
    """Raster SINK (S9-S11): tile table → tiled float32 deflate (level 6)
    GeoTIFF.

    Tile payloads are deflate-compressed ON THE EXECUTORS (one mapInPandas
    pass — the expensive part scales out); the driver only assembles the
    IFD and streams the pre-compressed blobs. NaN is stored as ``nodata``
    and the GDAL_NODATA ascii tag is written so any downstream reader
    (ours or GDAL) restores NaN. Round-trips bit-exactly through
    ``read_geotiff`` at float32 precision.
    """
    nodata, level = -3.4e38, 6
    ntx = (width + tile_px - 1) // tile_px
    nty = (height + tile_px - 1) // tile_px

    out_schema = "idx int, blob binary"

    def _compress(batches):
        for pdf in batches:
            rows = []
            for t in pdf.itertuples():
                tr, tc = int(t.row0) // tile_px, int(t.col0) // tile_px
                full = np.full((tile_px, tile_px), np.nan)
                full[:t.h, :t.w] = tile_array(t)
                blk = np.where(np.isnan(full), nodata, full).astype(np.float32)
                rows.append((tr * ntx + tc,
                             zlib.compress(blk.tobytes(), level)))
            yield pd.DataFrame(rows, columns=["idx", "blob"])

    # toLocalIterator: the driver streams compressed blobs partition by
    # partition instead of materializing the whole raster in driver memory
    # (a single .tif is inherently a one-writer sink; for true 100 TB
    # output the engine's native sink is the partitioned tile table —
    # this writer exists for interop/export parity)
    blobs = {int(r["idx"]): bytes(r["blob"])
             for r in tiles.mapInPandas(_compress, out_schema)
             .toLocalIterator()}
    n = ntx * nty
    empty = zlib.compress(
        np.full((tile_px, tile_px), np.float32(nodata),
                dtype=np.float32).tobytes(), level)

    nod_ascii = (repr(float(np.float32(nodata))).encode() + b"\x00")
    tags = []        # (tag, type, count, value_or_bytes)

    def tag(t, typ, cnt, val):
        tags.append((t, typ, cnt, val))

    tag(256, 3, 1, width)
    tag(257, 3, 1, height)
    tag(258, 3, 1, 32)
    tag(259, 3, 1, 8)            # deflate
    tag(262, 3, 1, 1)
    tag(277, 3, 1, 1)
    tag(322, 3, 1, tile_px)
    tag(323, 3, 1, tile_px)
    tag(339, 3, 1, 3)            # float
    tag(42113, 2, len(nod_ascii), nod_ascii)
    if transform is not None:
        x0, xres, y0, yres = transform
        tag(33550, 12, 3, struct.pack("<3d", xres, abs(yres), 0.0))
        tag(33922, 12, 6, struct.pack("<6d", 0, 0, 0, x0, y0, 0))
    # offsets/counts arrays appended after layout
    counts = [len(blobs.get(i, empty)) for i in range(n)]

    with open(path, "wb") as f:
        f.write(b"II*\x00" + struct.pack("<I", 8))
        # IFD: n_tags (incl. 324/325) then entries then next-IFD=0
        all_tags = sorted(tags + [(324, 4, n, None), (325, 4, n, None)])
        ifd_size = 2 + 12 * len(all_tags) + 4
        aux_off = 8 + ifd_size
        # lay out auxiliary arrays (big tag values) then tile data
        aux = {}
        cur = aux_off
        for t, typ, cnt, val in all_tags:
            size = _TYPE_SIZE[typ] * cnt
            if size > 4 and val is not None:
                aux[t] = (cur, val if isinstance(val, bytes) else val)
                cur += size
        if n == 1:
            # single-tile raster: count-1 LONG values are size 4 → TIFF
            # requires them INLINE in the entry value field (a pointer
            # there would be misread as the tile offset itself)
            off_324 = off_325 = None
            data_off = cur
        else:
            off_324, off_325 = cur, cur + 4 * n
            data_off = off_325 + 4 * n
        offsets = []
        o = data_off
        for i in range(n):
            offsets.append(o)
            o += counts[i]
        # write IFD
        f.write(struct.pack("<H", len(all_tags)))
        for t, typ, cnt, val in all_tags:
            size = _TYPE_SIZE[typ] * cnt
            if t == 324:
                f.write(struct.pack(
                    "<HHII", t, typ, cnt,
                    offsets[0] if n == 1 else off_324))
            elif t == 325:
                f.write(struct.pack(
                    "<HHII", t, typ, cnt,
                    counts[0] if n == 1 else off_325))
            elif size > 4:
                f.write(struct.pack("<HHII", t, typ, cnt, aux[t][0]))
            else:
                raw = (val if isinstance(val, bytes)
                       else struct.pack("<" + _TYPE_FMT[typ], val))
                f.write(struct.pack("<HHI", t, typ, cnt)
                        + raw.ljust(4, b"\x00"))
        f.write(struct.pack("<I", 0))     # next IFD
        for t in sorted(aux):
            f.write(aux[t][1])
        if n > 1:
            f.write(struct.pack(f"<{n}I", *offsets))
            f.write(struct.pack(f"<{n}I", *counts))
        for i in range(n):
            f.write(blobs.get(i, empty))


def geotiff_tile_table(spark: SparkSession, path: str,
                       n_partitions: int = 32) -> DataFrame:
    """Distributed GeoTIFF scan → the engine's standard tile table, one row
    per TIFF tile or strip, decoded with the pure-NumPy LZW/deflate path.
    100 TB shape: byte-range reads parallelize across the cluster, the
    driver ships only the ~100-byte TiffInfo."""
    info = read_ifd(path)

    @contextmanager
    def _blocks():
        with open(info.path, "rb") as fh:
            yield lambda i, r0, c0, h, w: decode_block(info, i, fh)[:h, :w]

    return scan_tiles(spark, info.height, info.width, info.tile_h,
                      info.tile_w, _blocks,
                      min(n_partitions, len(info.offsets)))
