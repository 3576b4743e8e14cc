"""Affine remap from EPSG:3857 floats into metatile-local i32 grid.

Semantics match the reference's `remap_geometry` (lib.rs:739-868):

* x' = round(((x - minx) / (maxx - minx)) * size), round half AWAY from
  zero (Rust f64::round, lib.rs:744);
* y axis flipped: y' = round(((maxy - y) / (maxy - miny)) * size)
  (lib.rs:749 "y axies goes down");
* consecutive duplicate points collapse during remap (lib.rs:765-773);
* rings must end with >=4 points and closed, else dropped (lib.rs:775-780);
* lines must keep >=2 points (lib.rs:782-786);
* empty MultiPoint -> None; Multi* with one member collapse to the single
  variant (lib.rs:828-831, 858-861) — MultiPoint does NOT collapse.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np

from ..mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


class Frame(NamedTuple):
    """Per-row metatile frame of a (zoom, mtx, mty) batch: metatile size
    in tiles, top-left tile, 3857 bounds and tile-space extent
    (lib.rs:464-540). Every geometry lane remaps against these arrays."""
    zoom: np.ndarray
    size_mt: np.ndarray
    x0t: np.ndarray
    y0t: np.ndarray
    minx: np.ndarray
    maxx: np.ndarray
    miny: np.ndarray
    maxy: np.ndarray
    extent: np.ndarray  # int64, 4096 * size_mt


def metatile_frame(zoom, mtx, mty, metatile_scale: int) -> Frame:
    zoom = np.asarray(zoom, np.int64)
    size_mt = np.minimum(metatile_scale, 1 << zoom)
    x0t = np.asarray(mtx, np.int64) * size_mt
    y0t = np.asarray(mty, np.int64) * size_mt
    nz = (1 << zoom).astype(np.float64)
    return Frame(zoom, size_mt, x0t, y0t,
                 x0t / nz * WORLD - MERC_MAX,
                 (x0t + size_mt) / nz * WORLD - MERC_MAX,
                 MERC_MAX - (y0t + size_mt) / nz * WORLD,
                 MERC_MAX - y0t / nz * WORLD,
                 4096 * size_mt)


def remap_arrays(fr: Frame, f, xs, ys):
    """remap_geometry's affine map for vertices xs/ys of rows f, before
    rounding (tile-space floats, y flipped); same operation order as
    _remap_xy, so round_half_away of the result equals it exactly."""
    ext = fr.extent[f].astype(np.float64)
    vx = ((xs - fr.minx[f]) / (fr.maxx - fr.minx)[f]) * ext
    vy = ((fr.maxy[f] - ys) / (fr.maxy - fr.miny)[f]) * ext
    return vx, vy


def round_half_away(v) -> np.ndarray:
    """_round_half_away over a float array, as int64."""
    return np.where(v >= 0, np.floor(v + 0.5),
                    np.ceil(v - 0.5)).astype(np.int64)


def _round_half_away(v: float) -> int:
    # Rust f64::round — half away from zero. Python round() is banker's.
    return int(math.floor(v + 0.5)) if v >= 0.0 else int(math.ceil(v - 0.5))


def _remap_xy(x, y, minx, maxx, miny, maxy, size):
    return (
        _round_half_away(((x - minx) / (maxx - minx)) * size),
        _round_half_away(((maxy - y) / (maxy - miny)) * size),
    )


def _remap_linestring(pts, minx, maxx, miny, maxy, size, should_be_ring):
    if not pts:
        return None
    out = []
    last = _remap_xy(pts[0][0], pts[0][1], minx, maxx, miny, maxy, size)
    out.append(last)
    for p in pts[1:]:
        new = _remap_xy(p[0], p[1], minx, maxx, miny, maxy, size)
        if new != last:
            last = new
            out.append(new)
    if should_be_ring:
        if len(out) >= 4 and out[0] == out[-1]:
            return out
        return None
    return out if len(out) >= 2 else None


def remap_geometry(geom, minx, maxx, miny, maxy, size):
    typ, data = geom
    if typ == "Point":
        return ("Point", _remap_xy(data[0], data[1], minx, maxx, miny, maxy, size))
    if typ == "MultiPoint":
        if not data:
            return None
        return ("MultiPoint",
                [_remap_xy(p[0], p[1], minx, maxx, miny, maxy, size) for p in data])
    if typ == "LineString":
        ls = _remap_linestring(data, minx, maxx, miny, maxy, size, False)
        return None if ls is None else ("LineString", ls)
    if typ == "MultiLineString":
        res = []
        for ls in data:
            r = _remap_linestring(ls, minx, maxx, miny, maxy, size, False)
            if r is not None:
                res.append(r)
        if not res:
            return None
        if len(res) == 1:
            return ("LineString", res[0])
        return ("MultiLineString", res)
    if typ == "Polygon":
        rings = _remap_polygon_rings(data, minx, maxx, miny, maxy, size)
        return None if rings is None else ("Polygon", rings)
    if typ == "MultiPolygon":
        res = []
        for rings in data:
            r = _remap_polygon_rings(rings, minx, maxx, miny, maxy, size)
            if r is not None:
                res.append(r)
        if not res:
            return None
        if len(res) == 1:
            return ("Polygon", res[0])
        return ("MultiPolygon", res)
    raise ValueError(f"unsupported geometry type {typ}")


def _remap_polygon_rings(rings, minx, maxx, miny, maxy, size):
    if not rings:
        return None
    ext = _remap_linestring(rings[0], minx, maxx, miny, maxy, size, True)
    if ext is None:
        return None
    out = [ext]
    for interior in rings[1:]:
        r = _remap_linestring(interior, minx, maxx, miny, maxy, size, True)
        if r is not None:
            out.append(r)
    return out


def shift_geom(geom, xoff, yoff):
    """Shift tile-local coordinates by (-xoff, -yoff) — the per-tile
    origin move after the quadtree slice (G12, lib.rs:688-696), on
    geometry tuples: the scalar chain's (geom/batch._scalar_chain)."""
    typ, data = geom
    if typ == "Point":
        return (typ, (data[0] - xoff, data[1] - yoff))
    if typ in ("MultiPoint", "LineString"):
        return (typ, [(x - xoff, y - yoff) for x, y in data])
    if typ in ("MultiLineString", "Polygon"):
        return (typ, [[(x - xoff, y - yoff) for x, y in part]
                      for part in data])
    if typ == "MultiPolygon":
        return (typ, [[[(x - xoff, y - yoff) for x, y in r] for r in rings]
                      for rings in data])
    raise ValueError(typ)
