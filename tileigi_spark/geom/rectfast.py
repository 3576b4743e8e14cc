"""Vectorized geometry pipeline for axis-aligned rectangle polygons.

The scalar per-feature pipeline (remap → remove_unneeded_points →
simplify → clip_to_bbox → quadtree slice → make_valid → is_valid →
orient → shift) is exact-integer Rust-ported code
(lib.rs:559-728) that runs at Python interpreter speed. For the
rectangle case — clipped boxes, bboxes, the dominant shape of
box-layer workloads — every stage has a closed form:

* a Sutherland-Hodgman border clip of an axis rect is the clamped rect
  whose ring is a rotation/reflection of the corner cycle; which
  rotation is a pure function of (border kind, current start corner,
  winding) for strictly-interior cuts, so the 4x8 transform tables are
  GENERATED from the scalar `_clip_ring_to_border` at import (no
  hand-derived constants to drift);
* integer RDP on a closed rect ring either keeps it verbatim or
  deletes it: both half-ring corners sit at distance w*h/sqrt(w^2+h^2)
  from the split diagonal, so identity <=> (w*h)^2 >= eps^2*(w^2+h^2)
  with the kernel's exact integer comparison (see _rdp's wipe ladder:
  the overflow guards are implied at these magnitudes);
* the quadtree slice applies nested cuts whose accumulated bounds per
  tile equal the buffered tile interval, so the piece bounds are one
  interval clamp and the ring state is the fold of at most
  2*log2(metatile) table lookups along the tile's bit path;
* make_valid on the resulting ring returns it unchanged when the
  exterior is CW (tile space, y down) and the same-start reversed ring
  wrapped as MultiPolygon when CCW (validity.py's axis-rect fast path,
  itself property-pinned against the dissolve repair).

Everything runs as numpy array ops over (feature, tile) pairs; the
pieces come out as one wkb.Ragged of closed 5-vertex rings. rect_lane
is the kernel's entry: the geometry router (geom/batch.process_general)
hands it the corner arrays of the rows axis_rect accepts, already read
by wkb.read_ragged. Byte parity with the scalar path is pinned by
tests/test_rect_fast_path.py over randomized rects/zooms/buffers, by
tests/test_geom_router.py and by the golden-tile fixtures.
"""

from __future__ import annotations

import numpy as np

from .clip import XMAX, XMIN, YMAX, YMIN, _clip_ring_to_border
from .remap import remap_arrays, round_half_away
from .wkb import Ragged, _ranges

# canonical corner cycle of a rect (x0,y0,x1,y1), tile space (y down):
#   C0=(x0,y0) C1=(x1,y0) C2=(x1,y1) C3=(x0,y1)
# ring state s in 0..7: corner = s >> 1, direction = +1 if s & 1 else -1
# (direction +1 walks C0->C1->C2->C3, the shoelace-CCW order in y-down
# space — the order make_valid must repair; -1 walks CW, already valid)


def _cycle(x0, y0, x1, y1):
    return [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]


def _ring_of_state(x0, y0, x1, y1, s):
    c = _cycle(x0, y0, x1, y1)
    start, d = s >> 1, (1 if s & 1 else -1)
    pts = [c[(start + d * k) % 4] for k in range(4)]
    return pts + [pts[0]]


def _state_of_ring(ring, x0, y0, x1, y1):
    c = _cycle(x0, y0, x1, y1)
    start = c.index(ring[0])
    d = 1 if ring[1] == c[(start + 1) % 4] else -1
    return (start << 1) | (1 if d == 1 else 0)


def _gen_clip_tables():
    """Probe the scalar Sutherland-Hodgman kernel once per
    (border kind, state) on a canonical rect with a strictly interior
    cut; decode the output ring back to a state. Exactness follows from
    the emission order depending only on the inside-flag pattern, which
    is determined by (kind, state) for strict cuts."""
    tables = {}
    x0, y0, x1, y1 = 0, 0, 10, 10
    for kind, val, nb in ((XMIN, 4, (4, 0, 10, 10)),
                          (XMAX, 4, (0, 0, 4, 10)),
                          (YMIN, 4, (0, 4, 10, 10)),
                          (YMAX, 4, (0, 0, 10, 4))):
        t = np.empty(8, dtype=np.int64)
        for s in range(8):
            ring = _ring_of_state(x0, y0, x1, y1, s)
            out = _clip_ring_to_border(ring, (kind, val))
            assert out is not None and len(out) == 5 and out[0] == out[-1]
            t[s] = _state_of_ring(out, *nb)
        tables[kind] = t
    return tables


_CLIP_T = _gen_clip_tables()
# order matters: clip_to_bbox applies XMIN, XMAX, YMIN, YMAX
T_XMIN, T_XMAX = _CLIP_T[XMIN], _CLIP_T[XMAX]
T_YMIN, T_YMAX = _CLIP_T[YMIN], _CLIP_T[YMAX]


def _apply_cut(state, lo, hi, val, t_lowcut, is_low):
    """Vectorized border cut on one axis: is_low=True keeps >= val
    (XMIN/YMIN), False keeps <= val (XMAX/YMAX). Returns updated
    (state, lo, hi, alive). Strict-interior cuts transform the state;
    touch/outside cuts that zero the interval kill the piece (the
    scalar path emits a degenerate ring that is always dropped by
    make_valid's ring-length check)."""
    if is_low:
        binds = (lo < val) & (val < hi)
        lo = np.maximum(lo, val)
    else:
        binds = (lo < val) & (val < hi)
        hi = np.minimum(hi, val)
    state = np.where(binds, t_lowcut[state], state)
    alive = lo < hi
    return state, lo, hi, alive


def rect_pieces(x0, y0, x1, y1, state, zooms, size_mt, x0t, y0t,
                buffer_units, global_maxzoom):
    """Full post-remap pipeline for axis rects, vectorized over features.

    Inputs are per-feature int64 arrays: tile-space rect bounds
    (x0<x1, y0<y1), ring state, zoom, metatile size in tiles, top-left
    tile coords. Returns per-PIECE arrays:
    (feature_index, tile_x, tile_y, px0, py0, px1, py1, out_state,
     as_multipolygon) — bounds in tile-local coords (shifted), ring
    state per the canonical cycle, as_multipolygon True when make_valid
    wrapped the repaired ring.
    """
    n = len(x0)
    # epsilon 8, squared — O5 skips simplify at maxzoom. The overflow
    # tiering below is derived for this value; callers with a different
    # epsilon must take another lane (geom/batch.process_general routes
    # rects here only when epsilon == 8)
    eps2 = 64

    # simplify: identity or dropped (see module docstring). The exact
    # predicate (w*h)^2 < eps2*(w^2+h^2) overflows int64 for features
    # much larger than the metatile (world-spanning rects remap to
    # coords ~4096*2^zoom), so tier it: small rows vectorized in int64
    # (A < 2^31 -> A^2 < 2^62 exact; A in [2^31, 2^52) -> A^2 > E_max
    # = 2^59 -> never wiped), rare huge rows through Python bigints.
    w = x1 - x0
    h = y1 - y0
    keep = np.ones(n, dtype=bool)
    simp = zooms < global_maxzoom
    if simp.any():
        wipe = np.zeros(n, dtype=bool)
        big = (w >= (1 << 26)) | (h >= (1 << 26))
        sm = np.flatnonzero(~big)
        if len(sm):
            ws, hs = w[sm], h[sm]
            A = ws * hs
            E = eps2 * (ws * ws + hs * hs)
            wipe[sm] = np.where(A < (1 << 31), A * A < E, False)
        for i in np.flatnonzero(big):
            wipe[i] = ((int(w[i]) * int(h[i])) ** 2
                       < eps2 * (int(w[i]) ** 2 + int(h[i]) ** 2))
        keep &= ~(simp & wipe)

    # clip_to_bbox to [-buf, extent+buf]: XMIN, XMAX, YMIN, YMAX
    extent = 4096 * size_mt
    s = state.copy()
    lx, hx = x0.copy(), x1.copy()
    ly, hy = y0.copy(), y1.copy()
    for val, table, is_low, axis in (
            (-buffer_units + np.zeros(n, np.int64), T_XMIN, True, "x"),
            (extent + buffer_units, T_XMAX, False, "x"),
            (-buffer_units + np.zeros(n, np.int64), T_YMIN, True, "y"),
            (extent + buffer_units, T_YMAX, False, "y")):
        if axis == "x":
            s, lx, hx, alive = _apply_cut(s, lx, hx, val, table, is_low)
        else:
            s, ly, hy, alive = _apply_cut(s, ly, hy, val, table, is_low)
        keep &= alive

    idx = np.flatnonzero(keep)
    if not len(idx):
        return (np.zeros(0, np.int64),) * 9
    s, lx, hx, ly, hy = s[idx], lx[idx], hx[idx], ly[idx], hy[idx]
    size_mt, x0t, y0t = size_mt[idx], x0t[idx], y0t[idx]

    # tile fan-out: tile t STRICTLY overlaps iff t*4096 - buf < hi and
    # (t+1)*4096 + buf > lo (zero-width touches produce degenerate
    # pieces the scalar path always drops): the closed window of the
    # integer interval [lo + 1, hi - 1]
    rep, ptx, pty = tile_pairs(
        *tile_window(lx + 1, hx - 1, buffer_units, size_mt),
        *tile_window(ly + 1, hy - 1, buffer_units, size_mt))

    ps = s[rep]
    plx, phx = lx[rep], hx[rep]
    ply, phy = ly[rep], hy[rep]
    psize = size_mt[rep]

    # walk the quadtree cut path: levels from metatile root down; at
    # each level an x-cut then a y-cut, values at the child boundary
    # +/- buffer (left/top child keeps <= mid+buf; right/bottom keeps
    # >= mid-buf)
    max_levels = int(np.log2(int(psize.max()))) if len(psize) else 0
    span0 = psize * 4096
    node_x = np.zeros(len(rep), dtype=np.int64)
    node_y = np.zeros(len(rep), dtype=np.int64)
    span = span0.copy()
    tiles_per_node = psize.copy()
    for _ in range(max_levels):
        active = tiles_per_node > 1
        half = span // 2
        t_half = tiles_per_node // 2
        # x cut
        local_tx = ptx - (node_x // 4096)
        go_right = active & (local_tx >= t_half)
        cutv = node_x + half
        # left: XMAX at cut+buf ; right: XMIN at cut-buf
        vmax = cutv + buffer_units
        vmin = cutv - buffer_units
        bind_l = active & ~go_right & (plx < vmax) & (vmax < phx)
        bind_r = active & go_right & (plx < vmin) & (vmin < phx)
        ps = np.where(bind_l, T_XMAX[ps], ps)
        ps = np.where(bind_r, T_XMIN[ps], ps)
        phx = np.where(active & ~go_right, np.minimum(phx, vmax), phx)
        plx = np.where(active & go_right, np.maximum(plx, vmin), plx)
        node_x = np.where(go_right, node_x + half, node_x)
        # y cut
        local_ty = pty - (node_y // 4096)
        go_down = active & (local_ty >= t_half)
        cutv = node_y + half
        vmax = cutv + buffer_units
        vmin = cutv - buffer_units
        bind_u = active & ~go_down & (ply < vmax) & (vmax < phy)
        bind_d = active & go_down & (ply < vmin) & (vmin < phy)
        ps = np.where(bind_u, T_YMAX[ps], ps)
        ps = np.where(bind_d, T_YMIN[ps], ps)
        phy = np.where(active & ~go_down, np.minimum(phy, vmax), phy)
        ply = np.where(active & go_down, np.maximum(ply, vmin), ply)
        node_y = np.where(go_down, node_y + half, node_y)
        span = np.where(active, half, span)
        tiles_per_node = np.where(active, t_half, tiles_per_node)

    alive = (plx < phx) & (ply < phy)
    a = np.flatnonzero(alive)
    rep, ptx, pty = rep[a], ptx[a], pty[a]
    ps = ps[a]
    plx, phx, ply, phy = plx[a], phx[a], ply[a], phy[a]

    # make_valid semantics: direction +1 (shoelace-CCW in y-down) is
    # repaired to the same-start reversed ring wrapped as MultiPolygon;
    # direction -1 is already valid and stays Polygon
    as_multi = (ps & 1) == 1
    out_state = np.where(as_multi, ps ^ 1, ps)

    # shift to tile-local coords
    shift_x = ptx * 4096
    shift_y = pty * 4096
    return (idx[rep], ptx, pty,
            plx - shift_x, ply - shift_y, phx - shift_x, phy - shift_y,
            out_state, as_multi)


def tile_window(lo, hi, buf, size_mt):
    """Inclusive range of a metatile's tiles t whose closed buffered
    interval [t*4096 - buf, (t+1)*4096 + buf] meets [lo, hi] (tile
    units, one axis) — the quadtree slice's keep test for a geometry
    that no cut changes."""
    return (np.maximum(-(-(lo - buf) // 4096) - 1, 0),
            np.minimum((hi + buf) // 4096, size_mt - 1))


def tile_pairs(tx_lo, tx_hi, ty_lo, ty_hi):
    """Every tile of each row's inclusive window, x-major, as (row,
    tx, ty) arrays; an empty window yields no pairs."""
    fany = np.maximum(ty_hi - ty_lo + 1, 0)
    fan = np.maximum(tx_hi - tx_lo + 1, 0) * fany
    rep = np.repeat(np.arange(len(fan)), fan)
    k = _ranges(np.zeros(len(fan), np.int64), fan)
    return rep, tx_lo[rep] + k // fany[rep], ty_lo[rep] + k % fany[rep]


def axis_rect(x, y):
    """(n, 4) ring vertices without the closing one -> True where every
    edge moves exactly one coordinate and the axes alternate: a proper
    axis rect with 4 distinct corners (NaN never passes)."""
    dx = x != np.roll(x, -1, axis=1)
    dy = y != np.roll(y, -1, axis=1)
    return (dx ^ dy).all(axis=1) & (dx[:, :3] != dx[:, 1:]).all(axis=1)


def rect_lane(fr, rows, x, y, buffer_units, global_maxzoom):
    """The rect kernel: rows `rows` of metatile frame fr are axis rects
    with EPSG:3857 corners x, y (n, 4), in ring order. Remaps the
    corners, derives each rect's bounds and ring state, and returns its
    pieces as (row, tile x, tile y, Ragged): a Polygon, or the
    MultiPolygon-of-one make_valid wraps a repaired ring in, per piece,
    its ring walked from the state's start corner and closed."""
    f = np.repeat(rows, 4)
    vx, vy = remap_arrays(fr, f, x.ravel(), y.ravel())
    u = round_half_away(vx).reshape(-1, 4)
    v = round_half_away(vy).reshape(-1, 4)

    # rect bounds + ring state in tile space; degenerate axes collapse
    # to duplicate points -> ring shorter than 4 -> dropped (remap
    # semantics)
    rx0, rx1 = u.min(axis=1), u.max(axis=1)
    ry0, ry1 = v.min(axis=1), v.max(axis=1)
    k = np.flatnonzero((rx0 < rx1) & (ry0 < ry1))

    # corner index of each remapped ring point in the canonical cycle
    # C0=(x0,y0) C1=(x1,y0) C2=(x1,y1) C3=(x0,y1)
    cidx = np.where(v == ry0[:, None],
                    np.where(u == rx0[:, None], 0, 1),
                    np.where(u == rx0[:, None], 3, 2))
    fwd = ((cidx[:, 1] - cidx[:, 0]) % 4) == 1
    state = (cidx[:, 0] << 1) | fwd.astype(np.int64)

    g = rows[k]
    (pf, ptx, pty, px0, py0, px1, py1, out_state, as_multi) = rect_pieces(
        rx0[k], ry0[k], rx1[k], ry1[k], state[k], fr.zoom[g],
        fr.size_mt[g], fr.x0t[g], fr.y0t[g], buffer_units, global_maxzoom)
    src = g[pf]
    # ring vertex j is corner (start + d*j) % 4 of the canonical cycle
    order = ((out_state >> 1)[:, None]
             + np.where(out_state & 1, 1, -1)[:, None] * np.arange(5)) % 4
    cx = np.stack([px0, px1, px1, px0], axis=1)
    cy = np.stack([py0, py0, py1, py1], axis=1)
    n = np.arange(len(src) + 1)
    return (src, fr.x0t[src] + ptx, fr.y0t[src] + pty, Ragged(
        np.where(as_multi, 6, 3).astype(np.uint8),
        np.take_along_axis(cx, order, axis=1).ravel(),
        np.take_along_axis(cy, order, axis=1).ravel(),
        5 * n, np.zeros(len(src), bool), n))
