"""The geometry stage's router and its vector lanes.

The scalar chain (_scalar_chain) runs one feature at a time through the
ported per-row kernels (remap -> dedup/despike -> exact-int RDP ->
buffered clip -> quadtree slice -> make_valid -> winding -> shift;
lib.rs:559-728). process_general, the only entry of
engine.geometry_stage, reads each Arrow batch once with wkb.read_ragged
(the reader the encode walk and with_bbox share), computes its metatile
frame once (remap.metatile_frame) and routes each row from the reader's
arrays on one of three routes: simple points to the points kernel
(_points_lane), every line and polygon row (axis rects included) to the
ragged lane below, and the rows the reader refuses to the scalar chain.
Every lane hands back (row, tile x, tile y) per piece plus its pieces
as a wkb.Ragged part (int64 tile-local vertices); _Pieces stacks the
parts once and gathers the output columns once. No piece is written as
WKB here: the render task frames the Ragged as it is, and
engine.geometry_stage writes it with wkb.write_ragged.

The ragged lane runs the chain across a batch with numpy on flat
("ragged") coordinate arrays + ring offsets. Each step is an exact
twin of the scalar kernel it replaces; a feature drops to the scalar
kernels only where a screen cannot certify a step (a despike that
would change it, a make_valid repair, non-finite or huge coordinates):

* parse — _lane_state gathers the lane's rows from the batch's one
  read_ragged result.
* remap + consecutive-duplicate collapse + ring/line rules — fully
  vectorized, exact (dedup by immediate-predecessor mask is provably
  identical to the sequential collapse in remap._remap_linestring: in a
  run of equal values both keep exactly the first).
* despike (G4) — vectorized DETECTOR: a ring where no consecutive
  triple has zero area and no ring-endpoint case fires is returned
  unchanged by simplify.remove_spikes_linestring (no removal in pass 1
  => the last_kept chain never diverges from the plain triple scan =>
  the loop breaks), so screen-clean features skip it; flagged features
  fall back to the scalar chain from remove_unneeded_points.
* exact-int RDP (G6, simplify.rs:38-155) — _rdp_keep walks the span
  tree of every ring at once, one depth per pass, with simplify._rdp's
  tie-break (the LAST farthest vertex) and wipe ladder in int64 (the
  lane guards |coord| < 2^26, and lower for a large epsilon; larger
  coords route the whole feature to the scalar lane's Python bigints).
* clip to the buffered bbox (G7-G10) — four border cuts (_cut) over
  every feature at once: a feature wholly inside a border passes, one
  wholly outside is dropped, and only the straddling ones take _clip,
  the array twin of the scalar Sutherland-Hodgman ring clip and
  linestring border clip (clip/mod.rs:184-322,
  sutherland_hodgeman.rs:7-105), crossings on the same truncating
  integer ladder.
* quadtree slice (G11/J3) — _slice walks clip._slice_box breadth-first,
  one level (an x cut, then a y cut) for every piece at once, copying a
  piece to each child its bbox reaches; a piece whose bbox reaches one
  tile (tile_window) takes it without a cut. _dedup then removes
  consecutive duplicates per part (clip_geometry_to_tiles).
* make_valid / is_valid / orientation (G13-G16) — vectorized
  CERTIFICATE: the post-RDP despike/dup screen again (make_valid
  re-runs remove_unneeded_points), an exact segment test per ring on
  the pairs whose bboxes overlap (validity.segment_pairs; the sd/td
  classification of validity.intersection without the crossing-point
  math; parallel bbox-overlapping collinear pairs are conservatively
  flagged; axis rects have no such pair and skip it), and the
  wrapped-i32 shoelace winding check (strict CW exterior / CCW
  interior). Certificate-clean polygons are provably returned unchanged
  by make_valid (its is_valid early return) and by
  ensure_polygon_orientation; a one-ring piece whose only defect is a
  CCW, pinch-free exterior is reversed in place (one lexsort finds the
  pinches, one gather reverses); anything else falls back to the scalar
  make_valid machinery on that single piece.

Type-collapse bookkeeping matches the scalar chain's observable rules:
Multi* that drop to one member at remap/despike collapse to the single
variant; RDP does NOT collapse; clip collapses MultiLineString-of-1 but
not MultiPolygon-of-1. Hence a line feature's final type depends only on
its final member count (lines never die at RDP), while a polygon feature
is MultiPolygon iff it still had >= 2 polygons after despike.

tests/test_geom_batch.py pins the ragged lane against the scalar chain
on randomized geometry, tests/test_geom_router.py the whole router on a
mixed batch (parity is the correctness contract).
"""

from __future__ import annotations

import os
from math import isqrt

import numpy as np
import pandas as pd

from .wkb import Ragged, _cumsum0, _ranges, concat_ragged, ragged_of, \
    read_ragged, wkb_to_geom
from .remap import remap_geometry, shift_geom as _shift, metatile_frame, \
    remap_arrays, round_half_away
from .rectfast import axis_rect, tile_pairs, tile_window
from .simplify import remove_unneeded_points, simplify
from .clip import clip_to_bbox, clip_geometry_to_tiles
from .validity import make_valid, is_valid, ensure_polygon_orientation, \
    segment_pairs

# beyond this magnitude the int64 products of the despike/validity
# screens, the RDP and the clip's crossing ladder could overflow; such
# features (world-spanning geometry deep in the pyramid) take the scalar
# lane's exact Python bigints
_COORD_LIMIT = 1 << 26

_LINE, _POLY = 1, 2  # role codes per feature type
# WKB type code -> role (0 = not in the lane: Point, MultiPoint, refused)
_ROLE = np.array([0, 0, _LINE, _POLY, 0, _LINE, _POLY], dtype=np.int8)


def _piece_code(is_line, multi):
    """WKB type code of line- or polygon-family pieces."""
    return np.where(is_line, np.where(multi, 5, 2),
                    np.where(multi, 6, 3)).astype(np.uint8)


# --------------------------------------------------------------- parsing

def _lane_state(rag, rows):
    """Ragged state for the vector lane: rows `rows` (line- and
    polygon-family rows of a wkb.read_ragged batch) gathered into flat
    vertex arrays, their rings tagged with the batch row index."""
    t = rag.take(rows)
    return {"px": t.xs, "py": t.ys, "off": t.ring_off,
            "ring_feat": np.repeat(rows, np.diff(t.row_off)),
            "ring_int": t.ring_int, "role": _ROLE[rag.code]}


# ------------------------------------------------------------ ring utils

def _sizes(off):
    return off[1:] - off[:-1]


def _drop(st, ring_alive, pt_keep=None):
    """Drop dead rings (and optionally individual points), rebuilding
    offsets. Returns a new state dict (feature-level entries shared)."""
    off = st["off"]
    sizes = _sizes(off)
    keep_pts = np.repeat(ring_alive, sizes)
    if pt_keep is not None:
        keep_pts = keep_pts & pt_keep
    if len(sizes):
        new_sizes_all = np.add.reduceat(keep_pts.astype(np.int64),
                                        np.minimum(off[:-1],
                                                   max(len(keep_pts) - 1,
                                                       0)))
        new_sizes_all[sizes == 0] = 0
    else:
        new_sizes_all = np.zeros(0, np.int64)
    new_sizes = new_sizes_all[ring_alive]
    new_off = _cumsum0(new_sizes)
    out = dict(st)
    out["u"] = st["u"][keep_pts]
    out["v"] = st["v"][keep_pts]
    out["off"] = new_off
    out["ring_feat"] = st["ring_feat"][ring_alive]
    out["ring_int"] = st["ring_int"][ring_alive]
    return out


def _lane_feats(st, role_arr, multi_f):
    """(rows, Ragged): the batch rows the lane state still holds and
    their features, coded with the type the scalar chain carries (rings
    of a feature stay adjacent and in row order through every
    compaction)."""
    rows, nring = np.unique(st["ring_feat"], return_counts=True)
    return rows, Ragged(
        _piece_code(role_arr[rows] == _LINE, multi_f[rows]), st["u"],
        st["v"], st["off"], st["ring_int"], _cumsum0(nring))


def _with_exteriors(ring_ok, ring_int):
    """ring_ok where an interior ring also dies with its exterior (the
    polygon's ring 0, the last exterior before it)."""
    if not len(ring_ok):
        return ring_ok
    ext = ~ring_int
    return ring_ok & (ext | ring_ok[ext][np.cumsum(ext) - 1])


# ----------------------------------------------------------- scalar lane

def _scalar_chain(geom, stage, size_mt, x0t, y0t, extent_i, buffer_units,
                  do_simplify, epsilon, txy=None):
    """Run the remainder of the scalar pipeline from `stage` on a
    remapped geometry. Returns [(tx, ty, shifted_piece_geom)] with tx/ty
    absolute tile coords."""
    if stage == "unneeded":
        geom = remove_unneeded_points(geom)
        if geom is None:
            return []
        stage = "simplify"
    if stage == "simplify":
        if do_simplify:
            geom = simplify(geom, epsilon)
            if geom is None:
                return []
        stage = "clip"
    if stage == "clip":
        geom = clip_to_bbox(geom, -buffer_units, -buffer_units,
                            extent_i + buffer_units,
                            extent_i + buffer_units)
        if geom is None:
            return []
        stage = "slice"
    if stage == "slice":
        pieces = clip_geometry_to_tiles(geom, size_mt, x0t, y0t,
                                        buffer_units)
    else:  # "valid": geom is one already-sliced piece at absolute txy
        pieces = [(txy, geom)]
    out = []
    for (tx, ty), piece in pieces:
        piece = make_valid(piece)
        if piece is None:
            continue
        if not is_valid(piece):  # lib.rs:697-703
            continue
        piece = ensure_polygon_orientation(piece)
        out.append((tx, ty, _shift(piece, (tx - x0t) * 4096,
                                   (ty - y0t) * 4096)))
    return out


# -------------------------------------------------------- despike screen

def _despike_flags(u, v, off):
    """Per-ring: True iff simplify.remove_spikes_linestring would make
    ANY change (exact detector for the no-op case, see module
    docstring). Also covers make_valid's internal re-run."""
    nring = len(off) - 1
    flags = np.zeros(nring, dtype=bool)
    n = len(u)
    if n >= 3:
        x1, y1 = u[:-2], v[:-2]
        x2, y2 = u[1:-1], v[1:-1]
        x3, y3 = u[2:], v[2:]
        zero = (x1 - x3) * (y2 - y1) == (x1 - x2) * (y3 - y1)
        cs = np.concatenate(([0], np.cumsum(zero.astype(np.int64))))
        # windows fully inside ring r are indices [off[r], off[r+1]-2)
        lo = np.minimum(off[:-1], n - 2)
        hi = np.minimum(np.maximum(off[1:] - 2, off[:-1]), n - 2)
        hi = np.maximum(hi, lo)
        flags |= (cs[hi] - cs[lo]) > 0
    sizes = _sizes(off)
    big = sizes >= 4
    if big.any():
        s = off[:-1][big]
        e = off[1:][big] - 1
        closed_b = (u[s] == u[e]) & (v[s] == v[e])
        cb = np.flatnonzero(big)[closed_b]
        if len(cb):
            s = off[:-1][cb]
            e = off[1:][cb] - 1
            # pts[1] == pts[l-2]: point 0 is the spike tip
            tip = (u[s + 1] == u[e - 1]) & (v[s + 1] == v[e - 1])
            # endpoint triple (pts[l-2], pts[0], pts[1]) zero area
            x1, y1 = u[e - 1], v[e - 1]
            x2, y2 = u[s], v[s]
            x3, y3 = u[s + 1], v[s + 1]
            endz = (x1 - x3) * (y2 - y1) == (x1 - x2) * (y3 - y1)
            flags[cb] |= tip | endz
    return flags


# ------------------------------------------------------------------- RDP

def _rdp_keep(u, v, off, rings, e):
    """Exact twin of simplify._rdp over the rings `rings` of (u, v, off)
    at once (e = epsilon**2): returns the keep mask over vertices. Each
    pass walks every open span (s, t) of every ring; its farthest
    interior vertex (the last one on ties, _rdp's tuple compare) splits
    it, or its interior is wiped. _rdp's ladder `max < this_e and max <
    this_e // max + 1 and max**2 < this_e`: the second clause is
    max**2 <= this_e, so the third only decides where it holds, and
    every product is exact in int64 under the lane's coordinate guard.
    Despiked input has no all-collinear span, so max > 0."""
    keep = np.ones(len(u), dtype=bool)
    s, t = off[rings], off[rings + 1] - 1
    while True:
        s, t = s[t - s > 1], t[t - s > 1]
        if not len(s):
            return keep
        m = t - s - 1
        first = _cumsum0(m)[:-1]
        i = _ranges(s + 1, m)
        sp = np.repeat(np.arange(len(s)), m)
        x1, y1, x2, y2 = u[s], v[s], u[t], v[t]
        dx, dy = x2 - x1, y2 - y1
        same = (dx == 0) & (dy == 0)
        px, py = u[i], v[i]
        num = np.where(same[sp],
                       (px - x1[sp]) ** 2 + (py - y2[sp]) ** 2,
                       np.abs((dy[sp] * px + (x2 * y1)[sp])
                              - (dx[sp] * py + (y2 * x1)[sp])))
        top = np.maximum.reduceat(num, first)
        at = np.maximum.reduceat(np.where(num == top[sp], i, -1), first)
        this_e = e * (dx * dx + dy * dy)
        sq = top <= this_e // np.maximum(top, 1)
        wipe = np.where(same, top < e,
                        (top < this_e) & sq
                        & (np.where(sq, top, 0) ** 2 < this_e))
        keep[_ranges(s[wipe] + 1, m[wipe])] = False
        s, t, at = s[~wipe], t[~wipe], at[~wipe]
        s, t = np.concatenate([s, at]), np.concatenate([at, t])


# ------------------------------------------------------- validity screen

def _seg_pairs_bad(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2):
    """Per-pair 'the scalar classifier might see an intersection' mask
    via the exact sd/td classification of validity.intersection (no
    crossing point needed): genuine TOUCHING/CROSSING, and any parallel
    bbox-overlapping collinear pair (possible OVERLAPPING); NONE and
    END_TO_END pairs stay False."""
    overlap = ~((np.maximum(ax1, ax2) < np.minimum(bx1, bx2))
                | (np.minimum(ax1, ax2) > np.maximum(bx1, bx2))
                | (np.maximum(ay1, ay2) < np.minimum(by1, by2))
                | (np.minimum(ay1, ay2) > np.maximum(by1, by2)))

    a = ax2 - ax1
    b = bx1 - bx2
    c = ay2 - ay1
    d = by1 - by2
    det = a * d - b * c
    bad = np.zeros(np.shape(det), dtype=bool)
    par = (det == 0) & overlap
    if par.any():
        col = ((bx2 - bx1) * (ay1 - by1) == (by2 - by1) * (ax1 - bx1))
        bad |= par & col

    nz = (det != 0) & overlap
    if nz.any():
        e_ = bx1 - ax1
        f_ = by1 - ay1
        sgn = np.where(det > 0, 1, -1)
        adet = np.abs(det)
        sd = sgn * (a * f_ - c * e_)
        td = sgn * (d * e_ - b * f_)
        outside = (sd < 0) | (sd > adet) | (td < 0) | (td > adet)
        end2end = ((td == 0) | (td == adet)) & ((sd == 0) | (sd == adet))
        bad |= nz & ~outside & ~end2end
    return bad


def _self_intersection_flags(u, v, off, check):
    """Per-ring conservative 'scalar might see an intersection' flags.
    A ring where every segment pair classifies NONE or END_TO_END
    provably passes has_self_intersections; genuine TOUCHING/CROSSING
    and possible-OVERLAPPING pairs flag the ring. `check` selects
    rings; only pairs whose bboxes overlap can classify otherwise, and
    validity.segment_pairs finds those for every ring at once."""
    flags = np.zeros(len(off) - 1, dtype=bool)
    rings = np.flatnonzero(check)
    m = np.maximum(_sizes(off)[rings] - 1, 0)
    s = _ranges(off[:-1][rings], m)  # segment (s, s + 1) of ring `ring`
    ring = np.repeat(rings, m)
    for i, j in segment_pairs(u[s], v[s], u[s + 1], v[s + 1], ring):
        a, b = s[i], s[j]
        bad = _seg_pairs_bad(u[a], v[a], u[a + 1], v[a + 1],
                             u[b], v[b], u[b + 1], v[b + 1])
        flags[ring[i[bad]]] = True
    return flags


def _wrapped_area_sign(u, v, off):
    """(sign, safe): sign of the wrap_i32'd twice-area per ring
    (validity.rs:1158-1164); safe=False where the int64 shoelace could
    overflow (caller falls back for those rings)."""
    n = len(u)
    nring = len(off) - 1
    if n < 2:
        return np.zeros(nring, np.int64), np.ones(nring, bool)
    terms = u[:-1] * v[1:] - u[1:] * v[:-1]
    cs = np.concatenate(([0], np.cumsum(terms)))
    lo = off[:-1]
    hi = np.maximum(off[1:] - 1, lo)
    tot = cs[hi] - cs[lo]
    wrapped = ((tot + (1 << 31)) & ((1 << 32) - 1)) - (1 << 31)
    sizes = _sizes(off)
    maxc = np.maximum(np.abs(u), np.abs(v))
    mring = np.maximum.reduceat(maxc, np.minimum(off[:-1], n - 1)) \
        if nring else np.zeros(0, np.int64)
    safe = (sizes * (2 * mring * mring + 1)) < (1 << 62)
    return np.sign(wrapped), safe


# ------------------------------------------------------ clip and slice

def _tdiv(a, b):
    """types.tdiv (division truncating toward zero) on int64 arrays."""
    q = a // b
    return q + ((q < 0) & (q * b != a))


def _clip(u, v, off, ring, on_y, le, val):
    """Clip every part p of flat (u, v, off) to its own border at once:
    keep y (on_y[p]) or x <= val[p] (le[p]) or >= val[p]. Rings
    (ring[p]) follow clip._clip_ring_to_border, lines
    clip._clip_linestring_to_border, as per-vertex masks; crossings are
    clip.border_intersection's truncating ladder (exact in int64 under
    the lane's coordinate guard). Parts must be non-empty. Returns
    (u, v, off, src), src[k] the input part of output part k: a line may
    leave several parts, a ring one or none (interior rings are not
    tied to their exterior here)."""
    n = _sizes(off)
    p = np.repeat(np.arange(len(n)), n)
    rv, yv, bv = ring[p], on_y[p], val[p]
    w = np.where(yv, v, u)
    ins = np.where(le[p], w <= bv, w >= bv) & ~(rv & (n[p] < 3))
    last = np.zeros(len(u), dtype=bool)
    last[off[1:] - 1] = True
    nxt = np.roll(ins, -1)
    # segment j -> j + 1 emits its crossing where the flags differ; a
    # line leaving the border from a vertex on it does not
    cross = ~last & (ins != nxt) & (rv | ~ins | (w != bv))
    # a line breaks after an exit, at two outside vertices in a row and
    # at its end
    brk = last | (~rv & ((cross & ins) | (~ins & ~nxt)))
    # a ring's last vertex is replaced by its first emitted one
    close = rv & last
    slot = np.empty(2 * len(u), dtype=bool)
    slot[0::2] = ins | close
    slot[1::2] = cross
    xs = np.repeat(u, 2)
    ys = np.repeat(v, 2)
    c = np.flatnonzero(cross)
    o = np.where(yv, u, v)
    a, b, d = o[c + 1] - o[c], bv[c] - w[c], w[c + 1] - w[c]
    delta = _tdiv(a, d) * b
    delta = np.where(delta == 0, _tdiv(b, d) * a, delta)
    delta = np.where(delta == 0, _tdiv(a * b, d), delta)
    xo = o[c] + delta
    xs[2 * c + 1] = np.where(yv[c], xo, bv[c])
    ys[2 * c + 1] = np.where(yv[c], bv[c], xo)
    sel = np.flatnonzero(slot)
    g = (np.cumsum(brk) - brk)[sel >> 1]
    xs, ys = xs[sel], ys[sel]
    start = np.flatnonzero(np.r_[True, g[1:] != g[:-1]]) if len(g) else g
    cnt = np.diff(np.r_[start, len(g)])
    cl = np.flatnonzero(close[sel >> 1])
    at = start[np.repeat(np.arange(len(start)), cnt)[cl]]
    xs[cl], ys[cl] = xs[at], ys[at]
    ok = cnt >= 2
    keep = np.repeat(ok, cnt)
    return (xs[keep], ys[keep], _cumsum0(cnt[ok]),
            p[sel[start[ok]] >> 1])


def _clip_pieces(ps, on_y, le, val):
    """Pieces ps (a Ragged of line and polygon pieces) each clipped to
    its own border (on_y, le[i], val[i], as _clip): an interior ring dies
    with its exterior and a piece with no part left is dropped. A line
    piece's type follows its part count, a polygon piece keeps its
    Multi-ness (clip.clip_to_border). Returns (Ragged, source piece of
    each)."""
    pp = np.repeat(np.arange(len(ps.code)), np.diff(ps.row_off))
    poly = (ps.code == 3) | (ps.code == 6)
    u, v, off, src = _clip(ps.xs, ps.ys, ps.ring_off, poly[pp],
                           np.full(len(pp), on_y), le[pp], val[pp])
    nr = len(ps.ring_int)
    ext = np.maximum.accumulate(np.where(ps.ring_int, -1, np.arange(nr)))
    alive = np.zeros(nr, dtype=bool)
    alive[src] = True
    ok = alive[ext[src]]
    size = _sizes(off)
    u, v = u[np.repeat(ok, size)], v[np.repeat(ok, size)]
    src = src[ok]
    piece = pp[src]
    first = np.flatnonzero(np.r_[True, piece[1:] != piece[:-1]]) \
        if len(piece) else piece
    keep = piece[first]
    row_off = np.r_[first, len(piece)]
    code = np.where(poly[keep], ps.code[keep],
                    np.where(np.diff(row_off) > 1, 5, 2)).astype(np.uint8)
    return Ragged(code, u, v, _cumsum0(size[ok]), ps.ring_int[src],
                  row_off), keep


def _bounds(ps, on_y):
    """Per piece of ps (non-empty) its (min, max) x, or y when on_y."""
    w = ps.ys if on_y else ps.xs
    at = ps.ring_off[ps.row_off[:-1]]
    return np.minimum.reduceat(w, at), np.maximum.reduceat(w, at)


def _cut(ps, meta, sel, on_y, le, val):
    """The copies `sel` of ps's pieces (meta: their rows of (batch row,
    tile x, tile y, tiles per node side)), copy k clipped to border
    (on_y, le[k], val[k]): a copy wholly inside its border passes
    unchanged, a copy wholly outside is dropped, and only the ones whose
    bbox straddles it are clipped. Returns (Ragged, meta) of the
    survivors, in no particular order."""
    lo, hi = (b[sel] for b in _bounds(ps, on_y))
    inside = np.where(le, hi <= val, lo >= val)
    part = ~inside & ~np.where(le, lo > val, hi < val)
    got, src = _clip_pieces(ps.take(sel[part]), on_y, le[part], val[part])
    return (concat_ragged([ps.take(sel[inside]), got]),
            np.concatenate([meta[inside], meta[part][src]]))


def _slice(ps, meta, buf):
    """clip._slice_box breadth-first over every piece at once: per
    quadtree level an x cut, then a y cut. A piece is copied to each
    child its bbox reaches; the left or top child keeps <= mid + buf,
    the right or bottom one >= mid - buf, and a child with no part left
    is dropped. meta as _cut's; pieces whose node is one tile pass.
    A piece whose bbox reaches one tile (tile_window) is wholly inside
    every cut on its path, so it takes that tile without a cut."""
    (xl, xh), (yl, yh) = (tile_window(*_bounds(ps, on_y), buf, meta[:, 3])
                          for on_y in (False, True))
    one = (xl == xh) & (yl == yh)
    meta[one, 1], meta[one, 2], meta[one, 3] = xl[one], yl[one], 1
    while len(meta) and (meta[:, 3] > 1).any():
        for on_y, col in ((False, 1), (True, 2)):
            lo, hi = _bounds(ps, on_y)
            nt = meta[:, 3]
            act = nt > 1
            mid = meta[:, col] * 4096 + nt * 2048
            left = np.flatnonzero(~act | (lo <= mid + buf))
            right = np.flatnonzero(act & (hi >= mid - buf))
            moved = meta[right].copy()
            moved[:, col] += nt[right] // 2
            ps, meta = _cut(
                ps, np.concatenate([meta[left], moved]),
                np.concatenate([left, right]), on_y,
                np.r_[np.ones(len(left), bool), np.zeros(len(right), bool)],
                np.concatenate([np.where(act[left], mid[left] + buf,
                                         np.iinfo(np.int64).max),
                                mid[right] - buf]))
            if not len(meta):
                break
        meta[:, 3] = np.maximum(meta[:, 3] // 2, 1)
    return ps, meta


def _dedup(ps):
    """simplify.remove_duplicate_points per part of ps: consecutive
    duplicates collapse to the first (the trailing rule of
    _dedup_linestring never fires after that)."""
    u, v, off = ps.xs, ps.ys, ps.ring_off
    keep = np.ones(len(u), dtype=bool)
    keep[1:] = (u[1:] != u[:-1]) | (v[1:] != v[:-1])
    keep[off[:-1]] = True
    return ps._replace(xs=u[keep], ys=v[keep], ring_off=_cumsum0(
        np.add.reduceat(keep.astype(np.int64), off[:-1])))


# ---------------------------------------------------------------- router

# rows per ragged lane call: the lane's temporaries scale with the
# chunk; at 1024/4096/16384/65536 rows a 20k-box z0-z8 batch took
# 3.9/3.0/2.9/3.1 s and a 6k concave z8 batch 1.17/1.11/1.13/1.15 s
# (4 cores, identical output)
_CHUNK_FEATURES = 4096


def process_general(pdf, prop_names, buffer_units, metatile_scale,
                    global_maxzoom, epsilon):
    """The geometry stage (G2-G16) for one Arrow batch — the only call
    engine.geometry_stage makes.

    pdf: pandas frame with zoom/mtx/mty/feature_id/way + props. The
    batch is read once by wkb.read_ragged, its metatile frame computed
    once, and each row routed from the reader's arrays:

    * code 1 (Point) -> the points kernel (_points_lane);
    * every line/polygon-family row -> the ragged lane (_vector_lane);
    * MultiPoints (code 4) and the rows the reader refuses (code 0:
      big-endian, EWKB, malformed) -> the scalar chain.

    SPARK_GRAFT_FORCE_SCALAR_GEOM=1 sends every row to the scalar chain,
    the reference the lanes are pinned against. The ragged lane runs in
    _CHUNK_FEATURES-row chunks; the points lane runs whole-batch
    (chunking it at 4096 measured 0.79 -> 1.06 us/row).

    Returns (frame, rag) or None when no piece is left: frame holds
    (zoom, x, y, feature_id, props...) per piece, rag (a wkb.Ragged) its
    geometry in tile-local int64 vertices, row for row. Output row order
    is arbitrary: every piece is a unique (feature, tile), and the
    render pass sorts the pieces into the canonical order."""
    way = pdf["way"].values
    fr = metatile_frame(pdf["zoom"].to_numpy(np.int64),
                        pdf["mtx"].to_numpy(np.int64),
                        pdf["mty"].to_numpy(np.int64), metatile_scale)
    do_simp = fr.zoom < global_maxzoom
    out = _Pieces()

    def scalar_row(i):
        try:
            geom = wkb_to_geom(bytes(way[i]))
        except (ValueError, TypeError):
            # None/undecodable never reaches here from the engine
            # (with_bbox drops those rows); dropped for robustness
            return
        geom = remap_geometry(geom, float(fr.minx[i]), float(fr.maxx[i]),
                              float(fr.miny[i]), float(fr.maxy[i]),
                              float(fr.extent[i]))
        if geom is not None:
            out.chain(i, _scalar_chain(
                geom, "unneeded", int(fr.size_mt[i]), int(fr.x0t[i]),
                int(fr.y0t[i]), int(fr.extent[i]), buffer_units,
                bool(do_simp[i]), epsilon))

    if os.environ.get("SPARK_GRAFT_FORCE_SCALAR_GEOM") == "1":
        for i in range(len(way)):
            scalar_row(i)
        return out.frame(pdf, prop_names)

    rag = read_ragged(way)
    pts = np.flatnonzero(rag.code == 1)
    if len(pts):
        at = rag.ring_off[rag.row_off[pts]]
        out.add(*_points_lane(fr, pts, rag.xs[at], rag.ys[at],
                              buffer_units))
    for i in np.flatnonzero((rag.code == 0) | (rag.code == 4)).tolist():
        scalar_row(i)
    rows = np.flatnonzero(_ROLE[rag.code] != 0)
    for s in range(0, len(rows), _CHUNK_FEATURES):
        _vector_lane(_lane_state(rag, rows[s:s + _CHUNK_FEATURES]), fr,
                     do_simp, buffer_units, epsilon, out, scalar_row)
    return out.frame(pdf, prop_names)


def axis_rect_rows(rag, codes=(3,)):
    """Rows of a wkb.read_ragged batch with a code in `codes` and one
    ring of 5 vertices whose first and last vertex are bit-identical and
    whose edges are axis-parallel with alternating axes
    (rectfast.axis_rect). Returns (rows, x, y), the 4 corners of each in
    ring order as (n, 4) arrays."""
    rows = np.flatnonzero(np.isin(rag.code, codes)
                          & (np.diff(rag.row_off) == 1))
    r = rag.row_off[rows]
    five = rag.ring_off[r + 1] - rag.ring_off[r] == 5
    rows = rows[five]
    at = rag.ring_off[r[five]][:, None] + np.arange(5)
    x, y = rag.xs[at], rag.ys[at]
    xb, yb = x.view(np.uint64), y.view(np.uint64)
    ok = ((xb[:, 0] == xb[:, 4]) & (yb[:, 0] == yb[:, 4])
          & axis_rect(x[:, :4], y[:, :4]))
    return rows[ok], x[ok, :4], y[ok, :4]


def _points_lane(fr, rows, xs, ys, buf):
    """The points kernel: simple points xs/ys of batch rows `rows`.
    Remap, clip to the buffered metatile, and the quadtree slice
    collapses to the closed interval per tile (tile_window), so a
    point on a tile border goes to every tile it touches. Returns
    (row, tile x, tile y, Ragged of Point pieces)."""
    vx, vy = remap_arrays(fr, rows, xs, ys)
    u, v = round_half_away(vx), round_half_away(vy)
    hi = fr.extent[rows] + buf
    keep = (u >= -buf) & (u <= hi) & (v >= -buf) & (v <= hi)
    rows, u, v = rows[keep], u[keep], v[keep]
    sm = fr.size_mt[rows]
    rep, tx, ty = tile_pairs(*tile_window(u, u, buf, sm),
                             *tile_window(v, v, buf, sm))
    rows = rows[rep]
    one = np.arange(len(rep) + 1)
    return rows, fr.x0t[rows] + tx, fr.y0t[rows] + ty, Ragged(
        np.ones(len(rep), np.uint8), u[rep] - tx * 4096,
        v[rep] - ty * 4096, one, np.zeros(len(rep), bool), one)


class _Pieces:
    """What every lane hands back: per piece the batch row it came from
    and its absolute tile x/y, and the pieces as a Ragged part. The
    scalar chain's pieces are gathered as tuples and read as one part
    when the frame is built."""

    def __init__(self):
        self.parts = []
        self.scalar = []

    def add(self, row, x, y, rag):
        if len(row):
            self.parts.append((np.asarray(row, np.int64),
                               np.asarray(x, np.int64),
                               np.asarray(y, np.int64), rag))

    def chain(self, i, pieces):
        """The scalar chain's [(tx, ty, geometry tuple)] for row i."""
        self.scalar.extend((i, tx, ty, g) for tx, ty, g in pieces)

    def frame(self, pdf, prop_names):
        """(frame, rag): every column gathered once by row, and the
        parts' Ragged stacked once; None without pieces."""
        if self.scalar:
            row, x, y, geoms = zip(*self.scalar)
            self.add(row, x, y, ragged_of(geoms))
            self.scalar = []
        if not self.parts:
            return None
        row, x, y, rags = zip(*self.parts)
        row = np.concatenate(row)
        d = {"zoom": pdf["zoom"].to_numpy(np.int64)[row],
             "x": np.concatenate(x), "y": np.concatenate(y),
             "feature_id": pdf["feature_id"].to_numpy(np.int64)[row]}
        for p in prop_names:
            d[p] = pdf[p].to_numpy()[row]
        return pd.DataFrame(d, columns=list(d)), concat_ragged(rags)


def _vector_lane(st, fr, do_simp, buffer_units, epsilon, out, scalar_row):
    """The ragged lane over one chunk's lane state: pieces go to `out`,
    features a stage would change take the scalar kernels from that
    stage on (scalar_row(i) runs row i's whole scalar chain)."""
    role_arr = st["role"]
    F = len(fr.zoom)
    size_mt, x0t, y0t, extent_i = fr.size_mt, fr.x0t, fr.y0t, fr.extent

    off = st["off"]
    ring_feat = st["ring_feat"]
    sizes = _sizes(off)

    # ---- remap (vectorized, exact twin of remap_geometry coords) ----
    fpt = np.repeat(ring_feat, sizes)
    vx, vy = remap_arrays(fr, fpt, st["px"], st["py"])

    # RDP's this_e = epsilon**2 * (dx**2 + dy**2) must fit int64 too
    lim = min(_COORD_LIMIT, isqrt((1 << 60) // max(epsilon * epsilon, 1)))
    finite = (np.isfinite(vx) & np.isfinite(vy)
              & (np.abs(vx) < lim) & (np.abs(vy) < lim))
    bad_feats = set(fpt[~finite].tolist()) if not finite.all() else set()
    u = round_half_away(np.where(finite, vx, 0.0))
    v = round_half_away(np.where(finite, vy, 0.0))
    st["u"], st["v"] = u, v

    # consecutive-duplicate collapse (== remap's sequential collapse)
    keeppt = np.zeros(len(u), dtype=bool)
    keeppt[off[:-1]] = True
    if len(u) > 1:
        diff = (u[1:] != u[:-1]) | (v[1:] != v[:-1])
        keeppt[1:] |= diff
        keeppt[off[:-1]] = True

    kept = np.add.reduceat(keeppt.astype(np.int64), off[:-1]) \
        if len(sizes) else np.zeros(0, np.int64)
    s_i = off[:-1]
    e_i = np.maximum(off[1:] - 1, s_i)
    closed = (u[s_i] == u[e_i]) & (v[s_i] == v[e_i]) if len(u) else \
        np.zeros(0, bool)
    is_line_r = role_arr[ring_feat] == _LINE
    ring_ok = np.where(is_line_r, kept >= 2, (kept >= 4) & closed)
    if bad_feats:
        guard = np.isin(ring_feat, np.fromiter(bad_feats, np.int64))
        ring_ok = ring_ok & ~guard

    st = _drop(st, _with_exteriors(ring_ok, st["ring_int"]), keeppt)
    for f in sorted(bad_feats):
        scalar_row(int(f))

    ring_feat = st["ring_feat"]
    if len(ring_feat) == 0:
        return

    # ---- member counts -> alive + multi flags (post-remap == post-
    # despike for screen-clean features) ----
    is_line_r = role_arr[ring_feat] == _LINE
    n_memb = np.bincount(
        ring_feat[is_line_r | ~st["ring_int"]], minlength=F)
    alive_f = n_memb > 0
    if bad_feats:
        alive_f[np.fromiter(bad_feats, np.int64)] = False
    multi_f = n_memb >= 2

    # ---- despike screen ----
    spike = _despike_flags(st["u"], st["v"], st["off"])
    spike_feats = np.unique(ring_feat[spike])
    if len(spike_feats):
        rows, feats = _lane_feats(st, role_arr, multi_f)
        for k in np.flatnonzero(np.isin(rows, spike_feats)).tolist():
            f = int(rows[k])
            out.chain(f, _scalar_chain(
                feats.geom(k), "unneeded", int(size_mt[f]), int(x0t[f]),
                int(y0t[f]), int(extent_i[f]), buffer_units,
                bool(do_simp[f]), epsilon))
            alive_f[f] = False
        st = _drop(st, alive_f[ring_feat])
        ring_feat = st["ring_feat"]
        if len(ring_feat) == 0:
            return

    # ---- RDP (exact; lines never die here, rings can) ----
    need = do_simp[ring_feat]
    if need.any():
        keeppt = _rdp_keep(st["u"], st["v"], st["off"], np.flatnonzero(need),
                           epsilon * epsilon)
        cnt = np.add.reduceat(keeppt.astype(np.int64), st["off"][:-1])
        # endpoints always kept => closure preserved for rings
        ring_ok = cnt >= np.where(role_arr[ring_feat] == _LINE, 2, 4)
        st = _drop(st, _with_exteriors(ring_ok, st["ring_int"]), keeppt)
        ring_feat = st["ring_feat"]
        if len(ring_feat) == 0:
            return

    # ---- clip to the buffered metatile, slice, dedup ----
    rows, ps = _lane_feats(st, role_arr, multi_f)
    meta = np.stack([rows, np.zeros_like(rows), np.zeros_like(rows),
                     size_mt[rows]], axis=1)
    for on_y, le in ((False, False), (False, True), (True, False),
                     (True, True)):
        val = extent_i[meta[:, 0]] + buffer_units if le else \
            np.full(len(meta), -buffer_units)
        ps, meta = _cut(ps, meta, np.arange(len(meta)), on_y,
                        np.full(len(meta), le), val)
        if not len(meta):
            return
    ps, meta = _slice(ps, meta, buffer_units)
    if len(meta):
        feat = meta[:, 0]
        _validate_emit(_dedup(ps), feat, x0t[feat] + meta[:, 1],
                       y0t[feat] + meta[:, 2], fr, buffer_units, epsilon,
                       out)


def _validate_emit(ps, feat, txa, tya, fr, buffer_units, epsilon, out):
    """Batched make_valid/is_valid/orientation certificate over pieces
    ps (a Ragged in metatile coordinates, coded with the type the scalar
    chain carries into make_valid) of batch rows feat at absolute tiles
    txa/tya; certificate-clean pieces are emitted directly (make_valid
    is provably the identity up to the Multi-of-1 collapse), flagged
    pieces take the scalar make_valid machinery."""
    u, v, off, ring_int = ps.xs, ps.ys, ps.ring_off, ps.ring_int
    P = len(feat)
    ring_piece = np.repeat(np.arange(P), np.diff(ps.row_off))
    sizes = _sizes(off)
    p_line = (ps.code == 2) | (ps.code == 5)
    line_r = p_line[ring_piece]
    poly_r = ~line_r

    spike = _despike_flags(u, v, off)  # make_valid re-runs the despike

    # structure (make_valid's skip_expensive gate + line validity)
    s_i = off[:-1]
    e_i = np.maximum(off[1:] - 1, s_i)
    closed = (u[s_i] == u[e_i]) & (v[s_i] == v[e_i]) if len(u) else \
        np.zeros(0, bool)
    if len(u) > 1:
        diff = ((u[1:] != u[:-1]) | (v[1:] != v[:-1])).astype(np.int64)
        cs = np.concatenate(([0], np.cumsum(diff)))
        distinct = 1 + cs[e_i] - cs[s_i]
    else:
        distinct = np.ones(len(sizes), dtype=np.int64)
    struct_bad = np.where(
        line_r,
        (sizes < 2) | ((sizes == 2) & (distinct < 2)),
        ~closed | (distinct < 4))

    check = poly_r & (sizes >= 5)
    # an axis rect's only bbox-overlapping pairs meet end to end
    r5 = np.flatnonzero(check & (sizes == 5))
    at = off[r5][:, None] + np.arange(4)
    check[r5[axis_rect(u[at], v[at])]] = False
    xbad = _self_intersection_flags(u, v, off, check)
    sign, safe = _wrapped_area_sign(u, v, off)
    wind_bad = poly_r & (~safe | np.where(ring_int, sign != 1,
                                          sign != -1))
    ring_bad = spike | struct_bad | xbad | wind_bad

    # wind-only repair: for a single-ring piece whose ONLY defect is a
    # strictly-CCW exterior, make_valid's dissolve provably emits the
    # same-start REVERSED ring wrapped as MultiPolygon (property-pinned
    # vs the scalar repair in tests/test_geom_batch.py) — do that
    # in-place instead of the scalar machinery
    p_force_multi = np.zeros(P, dtype=bool)
    only_wind = (wind_bad & ~(spike | struct_bad | xbad) & safe
                 & (sign == 1) & ~ring_int)
    if only_wind.any():
        # A repeated NON-consecutive vertex (a pinch) is invisible to
        # the pair screen — both segment pairs at the pinch share an
        # endpoint and classify END_TO_END — but make_valid's dissolve
        # SPLITS a pinched ring into multiple polygons, which the
        # reverse-in-place shortcut below cannot reproduce. Route
        # pinched rings to the scalar machinery instead: one lexsort
        # over (ring, u, v), closing vertices excluded.
        r = np.flatnonzero(only_wind)
        at = _ranges(off[r], sizes[r] - 1)
        rr = np.repeat(r, sizes[r] - 1)
        o = np.lexsort((v[at], u[at], rr))
        rr, uo, vo = rr[o], u[at][o], v[at][o]
        pinch = ((rr[1:] == rr[:-1]) & (uo[1:] == uo[:-1])
                 & (vo[1:] == vo[:-1]))
        only_wind[rr[1:][pinch]] = False
        nring_of = np.bincount(ring_piece, minlength=P)
        fixable = only_wind & (nring_of[ring_piece] == 1)
        # reverse each fixable ring in place between its fixed ends
        r = np.flatnonzero(fixable)
        at = _ranges(off[r] + 1, sizes[r] - 2)
        rev = np.repeat(off[r] + off[r + 1] - 1, sizes[r] - 2) - at
        u[at], v[at] = u[rev], v[rev]
        ring_bad = ring_bad & ~fixable
        p_force_multi = np.bincount(ring_piece[fixable], minlength=P) > 0

    piece_bad = np.zeros(P, dtype=bool)
    if ring_bad.any():
        piece_bad = np.bincount(ring_piece[ring_bad], minlength=P) > 0

    for pi in np.flatnonzero(piece_bad).tolist():
        f = int(feat[pi])
        out.chain(f, _scalar_chain(
            ps.geom(pi), "valid", int(fr.size_mt[f]), int(fr.x0t[f]),
            int(fr.y0t[f]), int(fr.extent[f]), buffer_units, False, epsilon,
            txy=(int(txa[pi]), int(tya[pi]))))

    good = np.flatnonzero(~piece_bad)
    if not len(good):
        return
    # final output type: make_valid's internal remove_unneeded_points
    # collapses ANY single-member Multi*, so the emitted type depends
    # only on the CURRENT member count (ps.code is the pre-make_valid
    # carry type, used only for flagged-piece materialization)
    n_memb = np.bincount(ring_piece[line_r | ~ring_int], minlength=P)
    fpt = np.repeat(ring_piece, sizes)
    xsh = (txa - fr.x0t[feat]) * 4096
    ysh = (tya - fr.y0t[feat]) * 4096
    out.add(feat[good], txa[good], tya[good], Ragged(
        _piece_code(p_line, (n_memb >= 2) | p_force_multi),
        u - xsh[fpt], v - ysh[fpt], off, ring_int, ps.row_off).take(good))
