"""Minimal WKB (ISO well-known binary) codec for 2-D geometries.

Supports the same geometry set the reference consumes from PostGIS
`ST_AsBinary` (lib.rs:568-580): Point, LineString, Polygon, MultiPoint,
MultiLineString, MultiPolygon. Decode failures raise ValueError; callers
drop the row silently, matching the reference (lib.rs:572-579).

Two readers share the format:

* wkb_to_geom — the scalar reference: one row -> geometry tuple, any
  byte order, EWKB SRID accepted.
* read_ragged — the vectorized reader the engine's batch paths use (the
  geometry router, the WKB encode walk, with_bbox): a whole column ->
  a Ragged, flat float64 vertex arrays with ring and row offsets. It
  reads only little-endian 2-D ISO Point/LineString/Polygon/
  MultiLineString/MultiPolygon rows of exact length and refuses
  everything else (code 0), so every caller keeps wkb_to_geom as its
  fallback for those rows.

Ragged is also the one piece format inside the render task: the
geometry lanes emit their pieces as Ragged rows (int64 tile-local
vertices) and the MVT framers take them as they are. Pieces become WKB
only where they leave Python as a piece stream (engine.geometry_stage),
through write_ragged, geom_to_wkb of each row.

Two writers share the format: geom_to_wkb (one geometry, any type) and
write_points, its vectorized twin for a column of points (the extract
front-end's geotagged pages).
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

_TYPES = {
    1: "Point",
    2: "LineString",
    3: "Polygon",
    4: "MultiPoint",
    5: "MultiLineString",
    6: "MultiPolygon",
}
_CODES = {v: k for k, v in _TYPES.items()}


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def read(self):
        buf, pos = self.buf, self.pos
        if pos + 5 > len(buf):
            raise ValueError("wkb: truncated header")
        big = buf[pos] == 0
        if buf[pos] not in (0, 1):
            raise ValueError("wkb: bad byte order")
        e = ">" if big else "<"
        (code,) = struct.unpack_from(e + "I", buf, pos + 1)
        self.pos = pos + 5
        # strip Z/M/SRID flags (EWKB): keep low 3 decimal digits
        srid = bool(code & 0x20000000)
        base = code & 0xFF
        if code & 0x80000000 or code & 0x40000000 or (base > 6 and base % 1000 > 6):
            raise ValueError("wkb: unsupported dimensionality")
        if srid:
            self.pos += 4
            code &= ~0x20000000
        base = code % 1000
        if base not in _TYPES:
            raise ValueError(f"wkb: unsupported type {code}")
        typ = _TYPES[base]
        if typ == "Point":
            return (typ, self._coords(e, 1)[0])
        if typ == "LineString":
            return (typ, self._linestring(e))
        if typ == "Polygon":
            return (typ, self._polygon(e))
        n = self._u32(e)
        # ISO WKB: Multi* members are exactly the corresponding leaf
        # type. Enforcing it keeps the contract (malformed -> ValueError,
        # row dropped) AND bounds recursion: a crafted
        # MultiPolygon-of-MultiPolygon chain would otherwise recurse to
        # RecursionError, which escapes the callers' ValueError guards
        # and fails the task.
        want = {"MultiPoint": "Point", "MultiLineString": "LineString",
                "MultiPolygon": "Polygon"}[typ]
        members = []
        for _ in range(n):
            # peek the member's type BEFORE descending: read() recurses
            # on Multi* headers, so a crafted Multi*-of-Multi* chain
            # must be rejected here, not after the recursive call
            buf, pos = self.buf, self.pos
            if pos + 5 > len(buf):
                raise ValueError("wkb: truncated member header")
            e2 = ">" if buf[pos] == 0 else "<"
            (code2,) = struct.unpack_from(e2 + "I", buf, pos + 1)
            if (code2 & ~0x20000000) % 1000 != _CODES[want]:
                raise ValueError(
                    f"wkb: {typ} member type {code2} != {want}")
            t2, d2 = self.read()
            members.append(d2)
        return (typ, members)

    def _u32(self, e):
        if self.pos + 4 > len(self.buf):
            # struct.error is NOT a ValueError; an unguarded unpack_from
            # on a truncated count would escape the silent-drop contract
            raise ValueError("wkb: truncated count")
        (n,) = struct.unpack_from(e + "I", self.buf, self.pos)
        self.pos += 4
        return n

    def _coords(self, e, n):
        need = 16 * n
        if self.pos + need > len(self.buf):
            raise ValueError("wkb: truncated coords")
        vals = struct.unpack_from(e + f"{2 * n}d", self.buf, self.pos)
        self.pos += need
        return [(vals[2 * i], vals[2 * i + 1]) for i in range(n)]

    def _linestring(self, e):
        return self._coords(e, self._u32(e))

    def _polygon(self, e):
        return [self._linestring(e) for _ in range(self._u32(e))]


def wkb_to_geom(buf: bytes):
    """bytes -> geometry tuple. Raises ValueError on malformed input."""
    return _Reader(bytes(buf)).read()


def _cumsum0(a):
    out = np.empty(len(a) + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _ranges(start, count):
    """The index ranges [start[i], start[i] + count[i]) concatenated."""
    off = _cumsum0(count)
    return np.repeat(start - off[:-1], count) + np.arange(off[-1])


class Ragged(NamedTuple):
    """Geometry rows as ragged arrays.

    code     : (n,) uint8 WKB type code per row, 0 = refused
    xs, ys   : flat vertices, rows and rings in order (float64 as
               read_ragged reads them, int64 as the geometry lanes emit)
    ring_off : (nr + 1,) vertex offsets per ring
    ring_int : (nr,) True for a polygon's interior rings
    row_off  : (n + 1,) ring offsets per row (refused rows have none)

    A Point is one ring of one vertex; a MultiLineString, and a
    MultiPoint (code 4, which read_ragged refuses but the scalar chain
    emits), hold one ring per member.
    """
    code: np.ndarray
    xs: np.ndarray
    ys: np.ndarray
    ring_off: np.ndarray
    ring_int: np.ndarray
    row_off: np.ndarray

    def take(self, rows):
        """The given rows, in the given order, as a Ragged."""
        nr = np.diff(self.row_off)[rows]
        rings = _ranges(self.row_off[rows], nr)
        k = np.diff(self.ring_off)[rings]
        v = _ranges(self.ring_off[rings], k)
        return Ragged(self.code[rows], self.xs[v], self.ys[v], _cumsum0(k),
                      self.ring_int[rings], _cumsum0(nr))

    def geom(self, i):
        """Row i (not refused) as a geometry tuple, as wkb_to_geom
        returns it."""
        a, b = self.row_off[i:i + 2].tolist()
        cut = self.ring_off[a:b + 1].tolist()
        rings = [list(zip(self.xs[s:e].tolist(), self.ys[s:e].tolist()))
                 for s, e in zip(cut, cut[1:])]
        typ = _TYPES[int(self.code[i])]
        if typ == "Point":
            return (typ, rings[0][0])
        if typ == "LineString":
            return (typ, rings[0])
        if typ == "MultiPoint":
            return (typ, [r[0] for r in rings])
        if typ == "MultiLineString":
            return (typ, rings)
        polys = []
        for ring, interior in zip(rings, self.ring_int[a:b].tolist()):
            if interior:
                polys[-1].append(ring)
            else:
                polys.append([ring])
        return (typ, (polys or [[]])[0] if typ == "Polygon" else polys)


def ragged_of(geoms) -> Ragged:
    """Geometry tuples as one Ragged (the inverse of Ragged.geom)."""
    code, rings, ring_int, nrings = [], [], [], []
    for typ, data in geoms:
        if typ in ("Polygon", "MultiPolygon"):
            polys = [data] if typ == "Polygon" else data
            rr = [r for p in polys for r in p]
            ring_int.extend(j > 0 for p in polys for j in range(len(p)))
        else:
            rr = {"Point": [[data]], "LineString": [data],
                  "MultiPoint": [[p] for p in data]}.get(typ, data)
            ring_int.extend([False] * len(rr))
        code.append(_CODES[typ])
        nrings.append(len(rr))
        rings.extend(rr)
    xy = np.array([p for r in rings for p in r]).reshape(-1, 2)
    return Ragged(np.array(code, np.uint8), xy[:, 0], xy[:, 1],
                  _cumsum0([len(r) for r in rings]),
                  np.array(ring_int, bool), _cumsum0(nrings))


def concat_ragged(parts) -> Ragged:
    """Ragged parts (at least one) stacked row after row."""
    cat = np.concatenate
    vbase = _cumsum0([len(p.xs) for p in parts])
    rbase = _cumsum0([len(p.ring_int) for p in parts])
    return Ragged(
        cat([p.code for p in parts]), cat([p.xs for p in parts]),
        cat([p.ys for p in parts]),
        cat([p.ring_off[:-1] + b for p, b in zip(parts, vbase)]
            + [vbase[-1:]]),
        cat([p.ring_int for p in parts]),
        cat([p.row_off[:-1] + b for p, b in zip(parts, rbase)]
            + [rbase[-1:]]))


def _walk(buf, p, end, typ):
    """Header walk of one LineString/Polygon/MultiLineString/
    MultiPolygon row at buf[p:end] (byte order and type already
    checked): [(interior, point count, coordinate byte offset)] per
    ring, or None when the row is malformed, has trailing bytes or a
    zero-count ring or member."""
    rings = []

    def count(p):   # 0 when truncated: refused like a zero count
        return struct.unpack_from("<I", buf, p)[0] if p + 4 <= end else 0

    def ring(p, interior):
        k = count(p)
        if not k or p + 4 + 16 * k > end:
            return None
        rings.append((interior, k, p + 4))
        return p + 4 + 16 * k

    def polygon(p):
        nr = count(p)
        p += 4
        for r in range(nr):
            p = ring(p, r > 0)
            if p is None:
                return None
        return p if nr else None

    p += 5
    if typ == 2:
        p = ring(p, False)
    elif typ == 3:
        p = polygon(p)
    else:
        nm = count(p)
        p += 4
        member = 2 if typ == 5 else 3
        for _ in range(nm):
            if (p + 5 > end or buf[p] != 1 or buf[p + 1] != member
                    or buf[p + 2] or buf[p + 3] or buf[p + 4]):
                return None
            p = ring(p + 5, False) if typ == 5 else polygon(p + 5)
            if p is None:
                return None
        if not nm:
            return None
    return rings if p == end else None


def read_ragged(ways) -> Ragged:
    """Read a column of WKB rows (bytes-like or None) into one Ragged.

    Rows read: little-endian, 2-D, ISO type codes 1-6, every ring and
    member non-empty, no trailing bytes; their coordinates equal
    wkb_to_geom's. A Point is one ring of one vertex, a MultiPoint one
    such ring per member, a MultiLineString one ring per member. Every
    other row (big-endian, EWKB or Z/M codes, a member not a
    little-endian 2-D Point, malformed, None) gets code 0 and no rings.

    The common single-ring shapes (Point, LineString, one-ring Polygon
    and the MultiPolygon-of-one twin make_valid emits) and MultiPoints
    are recognized from their headers in numpy; the rest take one struct
    walk per row (_walk)."""
    n = len(ways)
    try:
        buf = b"".join(ways)
    except TypeError:
        ways = [w if isinstance(w, (bytes, bytearray, memoryview)) else b""
                for w in ways]
        buf = b"".join(ways)
    lens = np.fromiter(map(len, ways), np.int64, n)
    foff = _cumsum0(lens)
    f = foff[:-1]
    b = np.frombuffer(buf, np.uint8)
    # element i of these views is the value stored at byte offset i
    u32 = np.ndarray((max(len(buf) - 3, 0),), "<u4", buf, strides=(1,))
    f64 = np.ndarray((max(len(buf) - 7, 0),), "<f8", buf, strides=(1,))

    def u32_at(pos):
        return u32[pos].astype(np.int64)

    # every probe below stays inside its row: headers are read only on
    # rows long enough to hold them
    typ = np.zeros(n, np.uint8)
    c = np.flatnonzero(lens >= 9)
    fc = f[c]
    tc = b[fc + 1]
    ok = ((b[fc] == 1) & ((b[fc + 2] | b[fc + 3] | b[fc + 4]) == 0)
          & (tc >= 1) & (tc <= 6) & ((tc != 1) | (lens[c] == 21)))
    typ[c[ok]] = tc[ok]
    # single-ring fast patterns: (rows, count of their one ring, byte
    # offset of its first coordinate)
    k = np.zeros(n, np.int64)
    head = np.zeros(n, np.int64)
    fast = typ == 1
    k[fast] = 1
    head[fast] = 5
    for t, h in ((2, 9), (3, 13), (6, 22)):
        c = np.flatnonzero((typ == t) & (lens >= h))
        fc = f[c]
        kc = u32_at(fc + h - 4)
        ok = (kc >= 1) & (lens[c] == h + 16 * kc)
        if t == 3:
            ok &= u32_at(fc + 5) == 1
        elif t == 6:
            ok &= ((u32_at(fc + 5) == 1) & (b[fc + 9] == 1)
                   & (b[fc + 10] == 3)
                   & ((b[fc + 11] | b[fc + 12] | b[fc + 13]) == 0)
                   & (u32_at(fc + 14) == 1))
        c = c[ok]
        fast[c] = True
        k[c] = kc[ok]
        head[c] = h

    # MultiPoint: m members of 21 bytes, each a little-endian 2-D Point
    c = np.flatnonzero((typ == 4) & (lens >= 9))
    m = u32_at(f[c] + 5)
    ok = (m >= 1) & (lens[c] == 9 + 21 * m)
    c, m = c[ok], m[ok]
    # each member's first byte
    member = (np.repeat(f[c] + 9 - 21 * _cumsum0(m)[:-1], m)
              + 21 * np.arange(m.sum(), dtype=np.int64))
    good = ((b[member] == 1) & (b[member + 1] == 1)
            & ((b[member + 2] | b[member + 3] | b[member + 4]) == 0))
    good = np.minimum.reduceat(good, _cumsum0(m)[:-1]) if len(c) else good
    typ[typ == 4] = 0
    multi = np.zeros(n, bool)
    multi[c[good]] = True
    typ[multi] = 4
    member = member[np.repeat(good, m)]
    m = m[good]

    nrings = fast.astype(np.int64)
    nrings[multi] = m
    walked = []
    for i in np.flatnonzero((typ != 0) & ~fast & ~multi).tolist():
        rings = _walk(buf, int(f[i]), int(foff[i + 1]), int(typ[i]))
        if rings is None:
            typ[i] = 0
        else:
            nrings[i] = len(rings)
            walked.extend(rings)

    row_off = _cumsum0(nrings)
    nr = int(row_off[-1])
    ring_k = np.empty(nr, np.int64)
    ring_at = np.empty(nr, np.int64)
    ring_int = np.zeros(nr, bool)
    at = row_off[:-1][fast]
    ring_k[at] = k[fast]
    ring_at[at] = f[fast] + head[fast]
    at = _ranges(row_off[:-1][multi], m)
    ring_k[at] = 1
    ring_at[at] = member + 5
    if walked:
        slow = (typ != 0) & ~fast & ~multi
        m = nrings[slow]
        at = _ranges(row_off[:-1][slow], m)
        w_int, w_k, w_at = zip(*walked)
        ring_int[at] = w_int
        ring_k[at] = w_k
        ring_at[at] = w_at

    ring_off = _cumsum0(ring_k)
    tot = int(ring_off[-1])
    at = (np.repeat(ring_at - 16 * ring_off[:-1], ring_k)
          + 16 * np.arange(tot, dtype=np.int64))
    return Ragged(typ, f64[at], f64[at + 8], ring_off, ring_int, row_off)


def write_ragged(rag: Ragged) -> list:
    """Every row of a Ragged (none refused) as WKB bytes: geom_to_wkb of
    its geometry, Multi-of-one twins and empty rows kept."""
    return [geom_to_wkb(rag.geom(i)) for i in range(len(rag.code))]


def write_points(xs, ys) -> list:
    """Points (xs[i], ys[i]) as 21-byte little-endian WKB, one bytes per
    row, assembled as one byte matrix: byte-identical to
    geom_to_wkb(("Point", (x, y))) for every double, -0.0, NaN and
    subnormals included."""
    xs = np.ascontiguousarray(xs, dtype="<f8")
    ys = np.ascontiguousarray(ys, dtype="<f8")
    n = len(xs)
    buf = np.zeros((n, 21), dtype=np.uint8)
    buf[:, 0] = 1   # little-endian
    buf[:, 1] = 1   # wkbPoint
    buf[:, 5:13] = xs.view(np.uint8).reshape(-1, 8)
    buf[:, 13:21] = ys.view(np.uint8).reshape(-1, 8)
    raw = buf.tobytes()
    return [raw[i:i + 21] for i in range(0, 21 * n, 21)]


def _w_coords(out, pts):
    out.append(struct.pack("<I", len(pts)))
    for x, y in pts:
        out.append(struct.pack("<dd", float(x), float(y)))


def geom_to_wkb(geom) -> bytes:
    typ, data = geom
    out = [b"\x01", struct.pack("<I", _CODES[typ])]
    if typ == "Point":
        out.append(struct.pack("<dd", float(data[0]), float(data[1])))
    elif typ == "LineString":
        _w_coords(out, data)
    elif typ == "Polygon":
        out.append(struct.pack("<I", len(data)))
        for ring in data:
            _w_coords(out, ring)
    elif typ == "MultiPoint":
        out.append(struct.pack("<I", len(data)))
        for p in data:
            out.append(geom_to_wkb(("Point", p)))
    elif typ == "MultiLineString":
        out.append(struct.pack("<I", len(data)))
        for ls in data:
            out.append(geom_to_wkb(("LineString", ls)))
    elif typ == "MultiPolygon":
        out.append(struct.pack("<I", len(data)))
        for rings in data:
            out.append(geom_to_wkb(("Polygon", rings)))
    else:
        raise ValueError(f"unsupported geometry type {typ}")
    return b"".join(out)
