"""The geometry stage's router and its vector lanes.

The scalar chain (_scalar_chain) runs one feature at a time through the
ported per-row kernels (remap -> dedup/despike -> exact-int RDP ->
buffered clip -> quadtree slice -> make_valid -> winding -> shift;
lib.rs:559-728). process_general, the only entry of
engine.geometry_stage, reads each Arrow batch once with wkb.read_ragged
(the reader the encode walk and with_bbox share), computes its metatile
frame once (remap.metatile_frame) and routes each row from the reader's
arrays: simple points to the points kernel (_points_lane), axis rects
to the rect kernel (rectfast.rect_lane), other line/polygon rows to the
ragged lane below, and the rows the reader refuses to the scalar chain.
Every lane hands back (row, tile x, tile y) per piece plus its pieces
as a wkb.Ragged part (int64 tile-local vertices); _Pieces stacks the
parts once and gathers the output columns once. No piece is written as
WKB here: the render task frames the Ragged as it is, and
engine.geometry_stage writes it with wkb.write_ragged.

The ragged lane vectorizes the chain across a batch with numpy on flat
("ragged") coordinate arrays + ring offsets, dropping to the
authoritative scalar kernels ONLY for the features a stage would
actually change:

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
* exact-int RDP (G6, simplify.rs:38-155) — per-ring, but the O(n)
  max-distance scan is one numpy expression (int64-safe because the
  lane guards |coord| < 2^26; larger coords route the whole feature to
  the scalar lane's Python bigints). The tie-break (LAST max index, the
  tuple-compare in simplify._rdp) and the overflow-guard ladder are
  preserved; this_e//max_num and max_num**2 run on Python ints.
* clip to the buffered bbox (G7-G10) — vectorized early-exits on the
  per-feature bbox: all-inside => identity, all-outside-one-border =>
  dropped (both exact); a bbox that straddles a border falls back to
  the scalar border walk ("most features pass clip untouched",
  clip/mod.rs:186-210).
* quadtree slice (G11/J3) — per-feature tile window from the bbox
  ([t*4096-buf, (t+1)*4096+buf] per tile t, the closed-interval
  collapse the points kernel uses, tile_window): fan 1x1 => the recursive
  slice provably emits exactly one uncut piece (at every bisection the
  geometry is wholly inside one branch's keep half-space and wholly
  outside the other's), so the piece IS the geometry; fan > 1 falls
  back to the recursive _slice_box.
* make_valid / is_valid / orientation (G13-G16) — vectorized
  CERTIFICATE: the post-RDP despike/dup screen again (make_valid
  re-runs remove_unneeded_points), an exact segment test per ring on
  the pairs whose bboxes overlap (validity.segment_pairs; the sd/td
  classification of validity.intersection without the crossing-point
  math; parallel bbox-overlapping collinear pairs are conservatively
  flagged), and the wrapped-i32 shoelace winding check
  (strict CW exterior / CCW interior). Certificate-clean polygons are
  provably returned unchanged by make_valid (its is_valid early
  return) and by ensure_polygon_orientation; anything else falls back
  to the scalar make_valid machinery on that single piece.

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

import numpy as np
import pandas as pd

from .wkb import Ragged, _cumsum0, _ranges, concat_ragged, ragged_of, \
    read_ragged, wkb_to_geom
from .remap import remap_geometry, shift_geom as _shift, metatile_frame, \
    remap_arrays, round_half_away
from .rectfast import axis_rect, rect_lane, tile_pairs, tile_window
from .simplify import remove_unneeded_points, simplify, \
    remove_duplicate_points
from .clip import clip_to_bbox, clip_geometry_to_tiles, \
    _clip_ring_to_border, _clip_linestring_to_border, \
    XMIN, XMAX, YMIN, YMAX
from .validity import make_valid, is_valid, ensure_polygon_orientation, \
    segment_pairs

# beyond this magnitude the int64 products in the despike/validity
# screens could overflow; such features (world-spanning geometry deep in
# the pyramid) take the scalar lane's exact Python bigints
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
    """The lane state's features as a Ragged, one row per batch row,
    coded with the type the scalar chain carries (rings of a feature
    stay adjacent through every compaction)."""
    return Ragged(_piece_code(role_arr == _LINE, multi_f), st["u"],
                  st["v"], st["off"], st["ring_int"],
                  _cumsum0(np.bincount(st["ring_feat"],
                                       minlength=len(multi_f))))


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

def _rdp_keep(xs, ys, e):
    """Exact twin of simplify._rdp on int64 arrays: returns keep mask.
    Caller guarantees |coord| < 2^26 and despiked input (no span is
    fully collinear, so max_num > 0)."""
    n = len(xs)
    keep = np.ones(n, dtype=bool)
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        s, t = stack.pop()
        if t - s <= 1:
            continue
        x1 = int(xs[s]); y1 = int(ys[s])
        x2 = int(xs[t]); y2 = int(ys[t])
        seg_x = xs[s + 1:t]
        seg_y = ys[s + 1:t]
        if x1 == x2 and y1 == y2:
            num = (seg_x - x1) ** 2 + (seg_y - y2) ** 2
            rel = len(num) - 1 - int(np.argmax(num[::-1]))
            max_num = int(num[rel])
            wipe = max_num < e
        else:
            dx = x2 - x1
            dy = y2 - y1
            exsy = x2 * y1
            eysx = y2 * x1
            num = np.abs((dy * seg_x + exsy) - (dx * seg_y + eysx))
            rel = len(num) - 1 - int(np.argmax(num[::-1]))
            max_num = int(num[rel])
            this_e = e * (dx * dx + dy * dy)
            # truncating division matches Rust i64 `/` (operands >= 0)
            wipe = (max_num < this_e
                    and max_num < (this_e // max_num + 1)
                    and max_num * max_num < this_e)
        index = rel + s + 1
        if wipe:
            keep[s + 1:t] = False
        else:
            stack.append((s, index))
            stack.append((index, t))
    return keep


def _rdp_keep_py(xs, ys, e):
    """Pure-Python twin of _rdp_keep for SMALL rings, where per-call
    numpy overhead exceeds the scan cost. xs/ys are Python int lists;
    arithmetic is exact (bigints). Returns a keep list."""
    n = len(xs)
    keep = [True] * n
    if n <= 2:
        return keep
    stack = [(0, n - 1)]
    while stack:
        s, t = stack.pop()
        if t - s <= 1:
            continue
        x1, y1 = xs[s], ys[s]
        x2, y2 = xs[t], ys[t]
        best_num = -1
        best_i = s
        if x1 == x2 and y1 == y2:
            for i in range(s + 1, t):
                num = (xs[i] - x1) ** 2 + (ys[i] - y2) ** 2
                if num >= best_num:
                    best_num = num
                    best_i = i
            wipe = best_num < e
        else:
            dx = x2 - x1
            dy = y2 - y1
            exsy = x2 * y1
            eysx = y2 * x1
            for i in range(s + 1, t):
                num = (dy * xs[i] + exsy) - (dx * ys[i] + eysx)
                if num < 0:
                    num = -num
                if num >= best_num:
                    best_num = num
                    best_i = i
            this_e = e * (dx * dx + dy * dy)
            wipe = (best_num < this_e
                    and best_num < (this_e // best_num + 1)
                    and best_num * best_num < this_e)
        if wipe:
            for i in range(s + 1, t):
                keep[i] = False
        else:
            stack.append((s, best_i))
            stack.append((best_i, t))
    return keep


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


# -------------------------------------------------- bbox-shortcut slice
#
# The scalar quadtree (_slice_box) re-walks every coordinate of the
# geometry at every recursion node even when a cut leaves it untouched.
# These helpers carry a bbox per ring so all-inside / all-outside
# half-space decisions are O(1); the exact scalar ring/linestring clip
# runs ONLY when a border actually straddles a ring's bbox (a half-space
# is convex, so the bbox tests are exact, not heuristic). Member
# collapse typing is reproduced: lines re-collapse by count at every
# materialization (clip collapses MultiLineString-of-1 at each border),
# polygons carry the incoming Multi-ness (clip never collapses
# MultiPolygon-of-1).

def _bbox_of(pts):
    xs, ys = zip(*pts)  # C-level transpose; 2x the two list comps
    return (min(xs), min(ys), max(xs), max(ys))


def _bbox_vs_border(bbox, border):
    """-1 fully outside, 1 fully inside, 0 straddles (exact)."""
    kind, val = border
    mnx, mny, mxx, mxy = bbox
    if kind == XMAX:
        return 1 if mxx <= val else (-1 if mnx > val else 0)
    if kind == XMIN:
        return 1 if mnx >= val else (-1 if mxx < val else 0)
    if kind == YMAX:
        return 1 if mxy <= val else (-1 if mny > val else 0)
    return 1 if mny >= val else (-1 if mxy < val else 0)


def _clip_boxed(is_line, members, border):
    """members: lines -> [(pts, bbox)]; polys -> [[(ring, bbox), ...]].
    Returns the clipped members list ([] == geometry gone)."""
    out = []
    if is_line:
        for pts, bb in members:
            s = _bbox_vs_border(bb, border)
            if s == 1:
                out.append((pts, bb))
            elif s == 0:
                r = _clip_linestring_to_border(pts, border)
                if r is None:
                    continue
                if r[0] == "LineString":
                    out.append((r[1], _bbox_of(r[1])))
                else:
                    for l in r[1]:
                        out.append((l, _bbox_of(l)))
        return out
    for rings in members:
        ext, ebb = rings[0]
        s = _bbox_vs_border(ebb, border)
        if s == -1:
            continue
        if s == 0:
            ext = _clip_ring_to_border(ext, border)
            if ext is None:
                continue
            ebb = _bbox_of(ext)
        newp = [(ext, ebb)]
        for ring, rbb in rings[1:]:
            si = _bbox_vs_border(rbb, border)
            if si == 1:
                newp.append((ring, rbb))
            elif si == 0:
                r = _clip_ring_to_border(ring, border)
                if r is not None:
                    newp.append((r, _bbox_of(r)))
        out.append(newp)
    return out


def _slice_boxed(is_line, members, metatile_scale, tile_x0, tile_y0,
                 x0, y0, size, buffer):
    """Exact twin of clip._slice_box over boxed members."""
    if metatile_scale == 1:
        return [((tile_x0, tile_y0), members)]
    results = []
    half = size // 2
    tile_half = metatile_scale // 2

    left = _clip_boxed(is_line, members, (XMAX, x0 + half + buffer))
    if left:
        topleft = _clip_boxed(is_line, left, (YMAX, y0 + half + buffer))
        if topleft:
            results.extend(_slice_boxed(is_line, topleft, tile_half,
                                        tile_x0, tile_y0, x0, y0, half,
                                        buffer))
        botleft = _clip_boxed(is_line, left, (YMIN, y0 + half - buffer))
        if botleft:
            results.extend(_slice_boxed(is_line, botleft, tile_half,
                                        tile_x0, tile_y0 + tile_half,
                                        x0, y0 + half, half, buffer))
    right = _clip_boxed(is_line, members, (XMIN, x0 + half - buffer))
    if right:
        topright = _clip_boxed(is_line, right,
                               (YMAX, y0 + half + buffer))
        if topright:
            results.extend(_slice_boxed(is_line, topright, tile_half,
                                        tile_x0 + tile_half, tile_y0,
                                        x0 + half, y0, half, buffer))
        botright = _clip_boxed(is_line, right,
                               (YMIN, y0 + half - buffer))
        if botright:
            results.extend(_slice_boxed(is_line, botright, tile_half,
                                        tile_x0 + tile_half,
                                        tile_y0 + tile_half,
                                        x0 + half, y0 + half, half,
                                        buffer))
    return results


def _boxed_to_geom(is_line, is_mp, members):
    """Boxed members -> plain geometry tuple with the type the scalar
    recursion would carry (lines collapse by count; polys keep is_mp)."""
    if is_line:
        if len(members) == 1:
            return ("LineString", members[0][0])
        return ("MultiLineString", [m[0] for m in members])
    polys = [[ring for ring, _bb in rings] for rings in members]
    if len(polys) == 1 and not is_mp:
        return ("Polygon", polys[0])
    return ("MultiPolygon", polys)


def _materialize_boxed(feats, f, ring_bbs):
    """Feature f of the lane's feature Ragged as boxed members (each
    ring with its bbox) + is_line flag."""
    typ, data = feats.geom(f)
    r = iter(range(int(feats.row_off[f]), int(feats.row_off[f + 1])))
    members = [data] if typ in ("LineString", "Polygon") else data
    if typ in ("LineString", "MultiLineString"):
        return True, [(pts, ring_bbs[next(r)]) for pts in members]
    return False, [[(ring, ring_bbs[next(r)]) for ring in rings]
                   for rings in members]


# ---------------------------------------------------------------- router

# rows per rect/ragged lane call: the lanes' temporaries scale with the
# chunk, and keeping them cache-resident measured 1.5x faster on a
# 40k-feature concave batch and ~1.3x on 20k boxes (identical output)
_CHUNK_FEATURES = 4096


def process_general(pdf, prop_names, buffer_units, metatile_scale,
                    global_maxzoom, epsilon):
    """The geometry stage (G2-G16) for one Arrow batch — the only call
    engine.geometry_stage makes.

    pdf: pandas frame with zoom/mtx/mty/feature_id/way + props. The
    batch is read once by wkb.read_ragged, its metatile frame computed
    once, and each row routed from the reader's arrays:

    * code 1 (Point) -> the points kernel (_points_lane);
    * a one-ring Polygon of 5 vertices, first and last bit-identical,
      edges axis-parallel with alternating axes (axis_rect_rows), when
      epsilon == 8 -> the rect kernel (rectfast.rect_lane, whose
      simplify wipe is derived for eps2 = 64);
    * every other line/polygon-family row -> the ragged lane
      (_vector_lane);
    * MultiPoints (code 4) and the rows the reader refuses (code 0:
      big-endian, EWKB, malformed) -> the scalar chain.

    SPARK_GRAFT_FORCE_SCALAR_GEOM=1 sends every row to the scalar chain,
    the reference the lanes are pinned against. The rect and ragged
    lanes run in _CHUNK_FEATURES-row chunks; the points lane runs
    whole-batch (chunking it at 4096 measured 0.79 -> 1.06 us/row).

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
    ragged = _ROLE[rag.code] != 0
    if epsilon == 8:
        rects, x, y = axis_rect_rows(rag)
        ragged[rects] = False
        for s in range(0, len(rects), _CHUNK_FEATURES):
            c = slice(s, s + _CHUNK_FEATURES)
            out.add(*rect_lane(fr, rects[c], x[c], y[c], buffer_units,
                               global_maxzoom))
    for i in np.flatnonzero((rag.code == 0) | (rag.code == 4)).tolist():
        scalar_row(i)
    rows = np.flatnonzero(ragged)
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
    and its absolute tile x/y, and the pieces as a Ragged part."""

    def __init__(self):
        self.parts = []

    def add(self, row, x, y, rag):
        if len(row):
            self.parts.append((np.asarray(row, np.int64),
                               np.asarray(x, np.int64),
                               np.asarray(y, np.int64), rag))

    def chain(self, i, pieces):
        """The scalar chain's [(tx, ty, geometry tuple)] for row i."""
        if pieces:
            tx, ty, geoms = zip(*pieces)
            self.add(np.full(len(pieces), i), tx, ty, ragged_of(geoms))

    def frame(self, pdf, prop_names):
        """(frame, rag): every column gathered once by row, and the
        parts' Ragged stacked once; None without pieces."""
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

    finite = (np.isfinite(vx) & np.isfinite(vy)
              & (np.abs(vx) < _COORD_LIMIT) & (np.abs(vy) < _COORD_LIMIT))
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
    feats = _lane_feats(st, role_arr, multi_f)
    for f in spike_feats.tolist():
        if alive_f[f]:
            out.chain(f, _scalar_chain(
                feats.geom(f), "unneeded", int(size_mt[f]), int(x0t[f]),
                int(y0t[f]), int(extent_i[f]), buffer_units,
                bool(do_simp[f]), epsilon))
            alive_f[f] = False
    if len(spike_feats):
        st = _drop(st, alive_f[ring_feat])
        ring_feat = st["ring_feat"]
        if len(ring_feat) == 0:
            return

    # ---- RDP (per ring, exact; lines never die here, rings can) ----
    off = st["off"]
    sizes = _sizes(off)
    is_line_r = role_arr[ring_feat] == _LINE
    need = do_simp[ring_feat]
    if need.any():
        e2 = epsilon * epsilon
        u, v = st["u"], st["v"]
        keeppt = np.ones(len(u), dtype=bool)
        ring_ok = np.ones(len(sizes), dtype=bool)
        for r in np.flatnonzero(need):
            s, e = int(off[r]), int(off[r + 1])
            if e - s <= 2:
                continue
            if e - s < 64:
                # small rings: numpy per-call overhead loses to a plain
                # int loop (exact either way); boxed only per-slice —
                # a whole-chunk tolist would allocate millions of ints
                # even when every eligible ring takes the numpy path
                km = _rdp_keep_py(u[s:e].tolist(), v[s:e].tolist(), e2)
                cnt = sum(km)
            else:
                km = _rdp_keep(u[s:e], v[s:e], e2)
                cnt = int(km.sum())
            keeppt[s:e] = km
            # endpoints always kept => closure preserved for rings
            ring_ok[r] = cnt >= 2 if is_line_r[r] else cnt >= 4
        st = _drop(st, _with_exteriors(ring_ok, st["ring_int"]), keeppt)
        ring_feat = st["ring_feat"]
        # refresh feature aliveness (NO multi re-collapse at RDP)
        is_line_r = role_arr[ring_feat] == _LINE
        n_memb2 = np.bincount(
            ring_feat[is_line_r | ~st["ring_int"]], minlength=F)
        alive_f = alive_f & (n_memb2 > 0)
        if len(ring_feat) == 0:
            return

    # ---- clip + slice screens on the per-feature bbox ----
    off = st["off"]
    u, v = st["u"], st["v"]
    feat_ids, first_ring = np.unique(ring_feat, return_index=True)
    f_lo = off[first_ring]
    starts = np.minimum(f_lo, len(u) - 1)
    umin = np.minimum.reduceat(u, starts)
    umax = np.maximum.reduceat(u, starts)
    vmin = np.minimum.reduceat(v, starts)
    vmax = np.maximum.reduceat(v, starts)

    buf = buffer_units
    hi = extent_i[feat_ids] + buf
    live = alive_f[feat_ids]
    gone = (umax < -buf) | (umin > hi) | (vmax < -buf) | (vmin > hi)
    inside = (umin >= -buf) & (umax <= hi) & (vmin >= -buf) & (vmax <= hi)
    alive_f[feat_ids[live & gone]] = False  # fully clipped away (exact)
    sm = size_mt[feat_ids]
    txl, txh = tile_window(umin, umax, buf, sm)
    tyl, tyh = tile_window(vmin, vmax, buf, sm)
    one = (txl == txh) & (tyl == tyh)
    single = live & inside & one
    fb_clip = feat_ids[live & ~gone & ~inside].tolist()
    fb_slice = feat_ids[live & inside & ~one].tolist()

    # fallback clip/slice: boxed twins of the scalar machinery (bbox
    # shortcuts, O(1) per untouched ring per cut); per-piece validity
    # work rejoins the batched certificate below (the per-pair Python
    # intersection kernel was the dominant cost of the old fallback)
    pieces_extra = []  # (feat, tx_abs, ty_abs, geom_tuple)
    if fb_clip or fb_slice:
        # per-ring bboxes from the arrays (cheap reduceat)
        rstarts = np.minimum(off[:-1], len(u) - 1)
        feats = _lane_feats(st, role_arr, multi_f)
        rbb = list(zip(np.minimum.reduceat(u, rstarts).tolist(),
                       np.minimum.reduceat(v, rstarts).tolist(),
                       np.maximum.reduceat(u, rstarts).tolist(),
                       np.maximum.reduceat(v, rstarts).tolist()))

        def slice_feature(f, is_line, members):
            is_mp = bool(multi_f[f]) and not is_line
            sm = int(size_mt[f])
            for (tx, ty), mm in _slice_boxed(
                    is_line, members, sm, int(x0t[f]), int(y0t[f]),
                    0, 0, sm * 4096, buf):
                pg = remove_duplicate_points(
                    _boxed_to_geom(is_line, is_mp, mm))
                pieces_extra.append((f, tx, ty, pg))

        for f in fb_clip:
            is_line, members = _materialize_boxed(feats, f, rbb)
            alive_f[f] = False
            hi = int(extent_i[f]) + buf
            for border in ((XMIN, -buf), (XMAX, hi),
                           (YMIN, -buf), (YMAX, hi)):
                members = _clip_boxed(is_line, members, border)
                if not members:
                    break
            if members:
                slice_feature(f, is_line, members)
        for f in fb_slice:
            is_line, members = _materialize_boxed(feats, f, rbb)
            alive_f[f] = False
            slice_feature(f, is_line, members)

    if single.any():
        st = _drop(st, alive_f[ring_feat])
        ring_feat = st["ring_feat"]
        tile_x = np.zeros(F, np.int64)
        tile_y = np.zeros(F, np.int64)
        tile_x[feat_ids] = x0t[feat_ids] + txl
        tile_y[feat_ids] = y0t[feat_ids] + tyl
        feat_ids2, nring = np.unique(ring_feat, return_counts=True)
        ps = Ragged(_piece_code(role_arr[feat_ids2] == _LINE,
                                multi_f[feat_ids2]),
                    st["u"], st["v"], st["off"], st["ring_int"],
                    _cumsum0(nring))
        _validate_emit(ps, feat_ids2, tile_x[feat_ids2], tile_y[feat_ids2],
                       fr, buffer_units, epsilon, out)
    if pieces_extra:
        f, tx, ty, geoms = zip(*pieces_extra)
        _validate_emit(ragged_of(geoms), np.array(f), np.array(tx),
                       np.array(ty), fr, buffer_units, epsilon, out)


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

    xbad = _self_intersection_flags(u, v, off, poly_r & (sizes >= 5))
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
        # pinched rings to the scalar machinery instead.
        for r in np.flatnonzero(only_wind).tolist():
            s, e = int(off[r]), int(off[r + 1])
            pts = u[s:e - 1] + 1j * v[s:e - 1]  # closing vertex excluded
            if len(np.unique(pts)) != e - 1 - s:
                only_wind[r] = False
    if only_wind.any():
        nring_of = np.bincount(ring_piece, minlength=P)
        fixable = only_wind & (nring_of[ring_piece] == 1)
        if fixable.any():
            for r in np.flatnonzero(fixable).tolist():
                s, e = int(off[r]), int(off[r + 1])
                u[s + 1:e - 1] = u[s + 1:e - 1][::-1].copy()
                v[s + 1:e - 1] = v[s + 1:e - 1][::-1].copy()
            ring_bad = ring_bad & ~fixable
            p_force_multi = np.bincount(ring_piece[fixable],
                                        minlength=P) > 0

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
