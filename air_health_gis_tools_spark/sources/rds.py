"""S4 realism: read the reference's .rds point fixtures directly.

The reference loads its point grids with ``pyreadr.read_r(path)``
(Archived_scripts/extract_point_from_raster_buffer.py:341-342) from the
``data/grids/*.rds`` files. Neither R nor pyreadr exists in this sandbox,
so this module implements the subset of R's public serialization format
("R Internals" §1.8, serialize.c format version 2/3, XDR) that R
``saveRDS`` produces for data.frames: gzip wrapper, big-endian ints,
LGL/INT/REAL/STR/VEC vectors, pairlist attributes, symbol reference
table, and the sf ``sfc_POINT`` geometry list-column (expanded to x/y).

No code is derived from R or pyreadr — only the documented wire format.
"""

from __future__ import annotations

import gzip
import struct

import pandas as pd

# SEXP type codes (R Internals §1.1)
_SYM, _PAIRLIST, _CHAR, _LGL, _INT, _REAL, _STR, _VEC = \
    1, 2, 9, 10, 13, 14, 16, 19
_NILVALUE, _REF, _ALTREP = 0xFE, 0xFF, 0xEE
_NA_INT = -2147483648


class _Reader:
    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.refs: list = []      # symbol/environment reference table

    def _take(self, n: int) -> bytes:
        b = self.d[self.pos:self.pos + n]
        if len(b) != n:
            raise ValueError("truncated RDS stream")
        self.pos += n
        return b

    def i4(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def length(self) -> int:
        n = self.i4()
        if n == -1:               # long-vector escape: 2 x u32
            hi, lo = struct.unpack(">II", self._take(8))
            return (hi << 32) | lo
        return n

    def item(self):
        flags = self.i4()
        t = flags & 0xFF
        has_attr = bool(flags & (1 << 9))
        has_tag = bool(flags & (1 << 10))
        if t == _NILVALUE:
            return None
        if t == _REF:
            idx = flags >> 8
            if idx == 0:
                idx = self.i4()
            return self.refs[idx - 1]
        if t == _SYM:
            sym = self.item()          # CHARSXP
            self.refs.append(sym)
            return sym
        if t == _ALTREP:
            # ALTREP: info pairlist (class sym, package sym, base type),
            # serialized state, attributes — materialize the common
            # classes newer R emits inside data.frames
            info = self.item()
            state = self.item()
            self.item()            # attributes (none for these classes)
            cls = None
            for _tag, car in (info or []):
                if isinstance(car, str):
                    cls = car
                    break
            if cls in ("compact_intseq", "compact_realseq"):
                n_, start, step = (state.values if isinstance(state, _RObj)
                                   else state)
                seq = [start + i * step for i in range(int(n_))]
                if cls == "compact_intseq":
                    seq = [int(v) for v in seq]
                return _RObj(_INT if cls == "compact_intseq" else _REAL,
                             seq, None)
            # wrapper classes (wrap_real/wrap_int/…): state is a pairlist
            # whose first element is the payload vector
            if isinstance(state, list):
                for _tag, car in state:
                    if isinstance(car, _RObj):
                        return car
            if isinstance(state, _RObj):
                return state
            raise ValueError(f"unsupported ALTREP class {cls!r}")
        if t == _PAIRLIST:
            attr = self.item() if has_attr else None
            tag = self.item() if has_tag else None
            car = self.item()
            cdr = self.item()
            out = [(tag, car)]
            if isinstance(cdr, list):
                out += cdr
            return out
        if t == _CHAR:
            n = self.i4()
            if n == -1:
                return None
            return self._take(n).decode("utf-8", "replace")
        if t in (_LGL, _INT):
            n = self.length()
            vals = list(struct.unpack(f">{n}i", self._take(4 * n)))
            vals = [None if v == _NA_INT else
                    (bool(v) if t == _LGL else v) for v in vals]
        elif t == _REAL:
            n = self.length()
            vals = list(struct.unpack(f">{n}d", self._take(8 * n)))
        elif t == _STR:
            n = self.length()
            vals = [self.item() for _ in range(n)]
        elif t == _VEC:
            n = self.length()
            vals = [self.item() for _ in range(n)]
        else:
            raise ValueError(f"unsupported SEXP type {t}")
        attrs = self.item() if has_attr else None
        return _RObj(t, vals, _attr_dict(attrs))


class _RObj:
    def __init__(self, typ, values, attrs):
        self.typ = typ
        self.values = values
        self.attrs = attrs or {}

    @property
    def names(self):
        n = self.attrs.get("names")
        return n.values if n is not None else None

    @property
    def rclass(self):
        c = self.attrs.get("class")
        return c.values if c is not None else []


def _attr_dict(pairs) -> dict:
    out = {}
    for tag, car in (pairs or []):
        if tag is not None:
            out[tag] = car
    return out


def read_rds(path: str):
    """Parse one .rds file → _RObj tree."""
    raw = open(path, "rb").read()
    if raw[:2] == b"\x1f\x8b":
        raw = gzip.decompress(raw)
    if not raw.startswith(b"X\n"):
        raise ValueError("not an XDR-format RDS file")
    r = _Reader(raw)
    r._take(2)                     # 'X\n'
    version = r.i4()
    r.i4()                         # writer R version
    r.i4()                         # minimal reader R version
    if version >= 3:
        n = r.i4()                 # native encoding string
        r._take(n)
    return r.item()


def rds_to_pandas(path: str) -> pd.DataFrame:
    """data.frame (plain or sf) → pandas. sfc_POINT geometry list-columns
    expand to (x, y) doubles — the shape the reference's scripts consume
    after ``st_coordinates``."""
    obj = read_rds(path)
    if obj is None or obj.typ != _VEC:
        raise ValueError("top-level object is not a data.frame/list")
    names = obj.names or [f"V{i}" for i in range(len(obj.values))]
    cols = {}
    for name, col in zip(names, obj.values):
        if isinstance(col, _RObj) and col.typ == _VEC and any(
                "sfc" in c for c in col.rclass):
            xs, ys = [], []
            for geom in col.values:
                v = geom.values if isinstance(geom, _RObj) else geom
                xs.append(float(v[0]))
                ys.append(float(v[1]))
            cols[f"{name}_x"] = xs
            cols[f"{name}_y"] = ys
        elif isinstance(col, _RObj):
            cols[name] = col.values
        else:
            cols[name] = col
    return pd.DataFrame(cols)
