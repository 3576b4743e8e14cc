"""The ragged lane's array kernels against the scalar kernels they twin:
the border clip (geom/batch._clip) against clip._clip_ring_to_border and
clip._clip_linestring_to_border, and the breadth-first slice
(geom/batch._slice, then _dedup) against clip.clip_geometry_to_tiles.
Randomized and seeded; integer vertices on a coarse grid put many of
them exactly on a border."""

import random

import numpy as np
import pytest

from tileigi_spark.geom.batch import _clip, _dedup, _slice
from tileigi_spark.geom.clip import XMAX, XMIN, YMAX, YMIN, \
    _clip_linestring_to_border, _clip_ring_to_border, \
    clip_geometry_to_tiles
from tileigi_spark.geom.wkb import ragged_of

_KINDS = {(False, False): XMIN, (False, True): XMAX,
          (True, False): YMIN, (True, True): YMAX}


def _pt(rng, lo, hi, grid):
    return (rng.randrange(lo, hi, grid), rng.randrange(lo, hi, grid))


def _line(rng, n, grid=8):
    pts = [_pt(rng, -64, 64, grid)]
    while len(pts) < n:
        p = _pt(rng, -64, 64, grid)
        if p != pts[-1]:
            pts.append(p)
    return pts


def _ring(rng, n, grid=8):
    pts = _line(rng, n - 1, grid)
    return pts + [pts[0]]


def _scalar_parts(pts, ring, border):
    if ring:
        r = _clip_ring_to_border(pts, border)
        return [] if r is None else [r]
    r = _clip_linestring_to_border(pts, border)
    if r is None:
        return []
    return [r[1]] if r[0] == "LineString" else r[1]


def _array_parts(parts, ring, on_y, le, val):
    """_clip over all parts at once, regrouped per input part."""
    u = np.array([x for p in parts for x, _ in p], np.int64)
    v = np.array([y for p in parts for _, y in p], np.int64)
    off = np.cumsum([0] + [len(p) for p in parts])
    cu, cv, coff, src = _clip(u, v, off, np.array(ring), np.array(on_y),
                              np.array(le), np.array(val, np.int64))
    got = [[] for _ in parts]
    for k, s in enumerate(src.tolist()):
        a, b = coff[k], coff[k + 1]
        got[s].append(list(zip(cu[a:b].tolist(), cv[a:b].tolist())))
    return got


def _check(parts, ring, on_y, le, val):
    got = _array_parts(parts, ring, on_y, le, val)
    for p, r, y, l_, b, g in zip(parts, ring, on_y, le, val, got):
        assert g == _scalar_parts(p, r, (_KINDS[y, l_], b)), (p, r, y, l_, b)


@pytest.mark.parametrize("seed", range(12))
def test_border_clip_matches_scalar(seed):
    """Random lines and rings, each part with its own axis, side and
    value; values on the vertex grid put vertices on the border."""
    rng = random.Random(seed)
    parts, ring, on_y, le, val = [], [], [], [], []
    for _ in range(300):
        is_ring = rng.random() < 0.5
        n = rng.choice([2, 3, 4, 5, 9, 17, 40]) if not is_ring else \
            rng.choice([4, 5, 8, 16, 41])
        parts.append(_ring(rng, n) if is_ring else _line(rng, n))
        ring.append(is_ring)
        on_y.append(rng.random() < 0.5)
        le.append(rng.random() < 0.5)
        val.append(rng.randrange(-72, 72, rng.choice([1, 8])))
    _check(parts, ring, on_y, le, val)


def test_border_clip_edge_cases():
    """Vertices on the border, a line that touches it at a vertex and
    leaves (the on-border "in" case, which keeps the line whole through
    an outside vertex), rings crossing it many times, 3-vertex rings,
    parts wholly inside and wholly outside."""
    comb = [(0, 0), (10, 0), (10, 100)]
    for k in range(1, 10):
        comb += [(10 * k, 100), (10 * k + 5, -50), (10 * k + 10, 100)]
    comb += [(0, 100), (0, 0)]
    cases = [
        # (part, ring, on_y, le, val)
        ([(0, 0), (5, 5), (0, 10)], False, False, True, 5),
        ([(0, 0), (5, 5), (9, 9), (5, 12), (0, 20)], False, False, True, 5),
        ([(0, 0), (5, 5), (9, 9), (12, 12)], False, False, True, 5),
        ([(9, 0), (5, 5), (9, 9)], False, False, True, 5),
        ([(5, 0), (5, 5), (5, 9)], False, False, True, 5),
        ([(5, 0), (5, 5), (5, 9)], False, False, False, 5),
        ([(0, 0), (5, 5)], False, False, True, 5),
        ([(5, 5), (9, 0)], False, False, True, 5),
        ([(9, 0), (5, 5)], False, True, False, 5),
        ([(0, 0), (10, 10), (0, 0)], True, False, True, 5),
        ([(0, 0), (10, 10), (0, 0)], True, False, True, 10),
        ([(0, 0), (10, 10), (0, 0)], True, True, False, 11),
        ([(0, 0), (10, 10), (0, 0)], True, True, False, 10),
        ([(0, 0), (1, 1)], True, False, True, 5),
        (comb, True, True, True, 25),
        (comb, True, True, False, 25),
        (comb, True, True, True, 100),
        (comb, True, True, False, -50),
        (comb[:-1], False, True, False, 0),
        ([(0, 0), (3, 7), (-5, 11), (0, 0)], True, False, False, -100),
        ([(0, 0), (3, 7), (-5, 11), (0, 0)], True, False, False, 100),
    ]
    _check(*(list(c) for c in zip(*cases)))


def _geom(rng, kind, scale, grid):
    ext = 4096 * scale
    span = rng.choice([300, 2000, 6000, ext])

    def pt(c):
        return (rng.randrange(c[0] - span, c[0] + span, grid),
                rng.randrange(c[1] - span, c[1] + span, grid))

    def pts(n, closed):
        c = (rng.randrange(-200, ext + 200), rng.randrange(-200, ext + 200))
        out = [pt(c)]
        while len(out) < n:
            p = pt(c)
            if p != out[-1]:
                out.append(p)
        return out + [out[0]] if closed else out

    if kind == "LineString":
        return (kind, pts(rng.randint(2, 12), False))
    if kind == "MultiLineString":
        return (kind, [pts(rng.randint(2, 8), False)
                       for _ in range(rng.randint(2, 3))])
    polys = [[pts(rng.randint(4, 12), True)]
             + [pts(4, True) for _ in range(rng.randint(0, 2))]
             for _ in range(1 if kind == "Polygon" else rng.randint(1, 3))]
    return (kind, polys[0] if kind == "Polygon" else polys)


@pytest.mark.parametrize("scale", [1, 2, 4, 8])
@pytest.mark.parametrize("buf", [0, 32, 64])
def test_slice_matches_scalar(scale, buf):
    """Random lines, multilines, polygons with holes and multipolygons
    sliced by the breadth-first walk give clip_geometry_to_tiles' pieces
    (tile, type, members, vertex order), overhanging the metatile
    included; a coarse grid lands vertices on cut lines +/- buf."""
    rng = random.Random(scale * 100 + buf)
    kinds = ["LineString", "MultiLineString", "Polygon", "MultiPolygon"]
    geoms = [_geom(rng, kinds[k % 4], scale, rng.choice([1, 32, 512]))
             for k in range(160)]
    ps = ragged_of(geoms)
    meta = np.array([[k, 0, 0, scale] for k in range(len(geoms))],
                    np.int64)
    got_ps, got_meta = _slice(ps, meta, buf)
    got_ps = _dedup(got_ps)
    got = sorted((int(f), (int(tx), int(ty)), got_ps.geom(i))
                 for i, (f, tx, ty, _) in enumerate(got_meta.tolist()))
    want = sorted((k, txy, g) for k, geom in enumerate(geoms)
                  for txy, g in clip_geometry_to_tiles(geom, scale, 0, 0,
                                                       buf))
    assert got == want
    assert scale == 1 or len(want) > 2 * len(geoms)
