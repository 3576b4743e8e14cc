"""Ragged bulk MVT framing for polygon- and linestring-family features.

The encoder (engine._frame_rows) frames each frame's complete runs at
once: its single points go to mvt.bulk_frame_point_features, and EVERY
polygon-family (Polygon, MultiPolygon) or linestring-family
(LineString, MultiLineString) row comes here, one call per family —
clipped boxes and 2-4 point road pieces as well as irregular rings,
rings with holes, MultiPolygons and long polylines, of any layer and
property set. Only rows the framers
cannot take (MultiPoint, 1-point lines, rows past a width bound) are
encoded one at a time with mvt.encode_feature.

Features are held in a RAGGED formulation: all features' emit-order
vertices live in one flat (xs, ys) pair plus two offset arrays

    ring_off : (nr + 1,) vertex offsets per ring
    feat_off : (n + 1,)  ring offsets per feature

so every per-vertex quantity (zigzag delta, varint width) and every
per-ring quantity (LineTo count) vectorizes across the batch, and the
final byte stream is assembled with one ragged scatter instead of a
Python loop. The frame's rows arrive as one wkb.Ragged: in the render
pass the geometry lanes' pieces as they emit them, in the WKB
piece-stream walk one wkb.read_ragged read per frame; mvt_rings applies
the MVT ring rules to the whole frame, so a family's rows are one
gather (Ragged.take).
Byte output is pinned identical to the per-row path
(mvt._geometry_commands semantics: per-ring closing-vertex drop,
degenerate rings skipped, the delta cursor carrying across rings and
polygons within a feature) by tests/test_mvt_ragged.py,
tests/test_mvt_bulk.py and the golden tile fixtures.
"""

from __future__ import annotations

import numpy as np

from .mvt import _tag_field, _varint3_parts
from .wkb import Ragged, _cumsum0


# WKB type code -> MVT geometry type (Point, LineString and Polygon
# families; 0 = MultiPoint or refused)
_GTYPE = np.array([0, 1, 2, 3, 0, 2, 3], dtype=np.uint8)


def mvt_rings(rag):
    """A wkb.Ragged (the lanes' pieces or a read_ragged batch) shaped
    for the bulk framers once for all its rows, so any set of rows is
    then one gather (Ragged.take): code becomes the MVT geometry type (1
    point, 2 linestring family, 3 polygon family, 0 = encoded on its
    own), the vertices are cast to int64 and mvt._geometry_commands'
    ring rules are applied.

    Polygon-family rows: drop a ring's closing vertex when first ==
    last, then skip rings left with < 3 vertices (compared after the int
    cast, as the per-row path compares). Line-family rows are kept
    verbatim, but a row holding a line of < 2 points gets code 0 (its
    rings stay; the row is encoded on its own): the LineTo command
    byte rides on the second vertex slot in the ragged writer. Points
    keep their one vertex."""
    xs = rag.xs.astype(np.int64)
    ys = rag.ys.astype(np.int64)
    code = _GTYPE[rag.code]
    ring_off, row_off = rag.ring_off, rag.row_off
    k = np.diff(ring_off)
    ring_row = np.repeat(np.arange(len(code)), np.diff(row_off))
    poly = code[ring_row] == 3
    code[ring_row[(code[ring_row] == 2) & (k < 2)]] = 0
    first = ring_off[:-1]
    last = ring_off[1:] - 1
    closed = poly & (xs[first] == xs[last]) & (ys[first] == ys[last]) \
        & (k >= 2)
    keep_k = k - closed
    ring_valid = ~poly | (keep_k >= 3)
    keep = np.ones(len(xs), dtype=bool)
    keep[last[closed]] = False
    keep &= np.repeat(ring_valid, k)
    # compact skipped rings away, preserving row ring spans (cumsum
    # indexing, not reduceat — reduceat misbehaves on empty spans)
    return Ragged(code, xs[keep], ys[keep], _cumsum0(keep_k[ring_valid]),
                  rag.ring_int[ring_valid], _cumsum0(ring_valid)[row_off])


def bulk_frame_ragged_features(xs, ys, ring_off, feat_off, gtype,
                               prop_tags):
    """Frame a run of polygon-family (gtype 3, ClosePath per ring) or
    linestring-family (gtype 2) features from ragged vertex arrays.

    xs, ys: flat int64 emit-order vertices. ring_off: (nr + 1,) vertex
    offsets per ring. feat_off: (n + 1,) ring offsets per feature.
    prop_tags: as in mvt._tag_field.

    Returns (stream_bytes, per_feature_frame_lengths) — byte-identical
    to concatenating ``_len_delim(2, encode_feature(...))`` per row —
    or None when a varint-width bound is exceeded (delta or value index
    >= 2^21, feature body >= 2^14 bytes, > 31 properties)."""
    n = len(feat_off) - 1
    nr = len(ring_off) - 1
    npts = len(xs)
    tags = _tag_field(prop_tags, n)
    if tags is None:
        return None
    T, U, tag_len = tags
    k = np.diff(ring_off)
    if nr and int(k.min()) < 2:
        return None  # LineTo command rides on the second vertex slot

    # vertex deltas: cursor carries across rings, resets per feature
    fpt_off = ring_off[feat_off]
    dx = xs.copy()
    dy = ys.copy()
    if npts:
        dx[1:] -= xs[:-1]
        dy[1:] -= ys[:-1]
        fs = fpt_off[:-1]
        fs = fs[fs < npts]
        dx[fs] = xs[fs]
        dy[fs] = ys[fs]
    zx = ((dx << 1) ^ (dx >> 63)).astype(np.uint64)
    zy = ((dy << 1) ^ (dy >> 63)).astype(np.uint64)
    if npts and max(int(zx.max()), int(zy.max())) >= (1 << 21):
        return None
    xb0, xb1, xb2, xnb = _varint3_parts(zx)
    yb0, yb1, yb2, ynb = _varint3_parts(zy)

    cmd2 = ((k - 1) << 3 | 2).astype(np.uint64)
    if nr and int(cmd2.max()) >= (1 << 21):
        return None
    cb0, cb1, cb2, cnb = _varint3_parts(cmd2)

    ring_first = ring_off[:-1]
    ring_second = ring_first + 1
    ring_last = ring_off[1:] - 1

    # per-vertex byte matrix: [MoveTo][LineTo cmd x3][x x3][y x3][Close]
    M = np.zeros((npts, 11), dtype=np.uint8)
    B = np.zeros((npts, 11), dtype=bool)
    M[ring_first, 0] = 0x09
    B[ring_first, 0] = True
    M[ring_second, 1] = cb0
    B[ring_second, 1] = True
    M[ring_second, 2] = cb1
    B[ring_second, 2] = cnb > 1
    M[ring_second, 3] = cb2
    B[ring_second, 3] = cnb > 2
    M[:, 4] = xb0
    B[:, 4] = True
    M[:, 5] = xb1
    B[:, 5] = xnb > 1
    M[:, 6] = xb2
    B[:, 6] = xnb > 2
    M[:, 7] = yb0
    B[:, 7] = True
    M[:, 8] = yb1
    B[:, 8] = ynb > 1
    M[:, 9] = yb2
    B[:, 9] = ynb > 2
    if gtype == 3:
        M[ring_last, 10] = 0x0F
        B[ring_last, 10] = True
    geom_flat = M[B]
    pb = B.sum(axis=1).astype(np.int64)
    pcs = _cumsum0(pb)
    gl = pcs[fpt_off[1:]] - pcs[fpt_off[:-1]]

    glnb = 1 + (gl >= 0x80).astype(np.int64)
    body_len = tag_len + 2 + 1 + glnb + gl
    if n and int(body_len.max()) >= (1 << 14):
        return None
    fb0, fb1, _, fnb = _varint3_parts(body_len.astype(np.uint64))
    gb0, gb1, _, _ = _varint3_parts(gl.astype(np.uint64))

    c = 3 + T.shape[1]
    Wp = c + 5
    Mp = np.zeros((n, Wp), dtype=np.uint8)
    Bp = np.zeros((n, Wp), dtype=bool)
    Mp[:, 0] = 0x12                     # frame: field 2, wire 2
    Bp[:, 0] = True
    Mp[:, 1] = fb0
    Bp[:, 1] = True
    Mp[:, 2] = fb1
    Bp[:, 2] = fnb > 1
    Mp[:, 3:c] = T
    Bp[:, 3:c] = U
    Mp[:, c] = 0x18                     # type: field 3, wire 0
    Bp[:, c] = True
    Mp[:, c + 1] = gtype
    Bp[:, c + 1] = True
    Mp[:, c + 2] = 0x22                 # geometry: field 4, wire 2
    Bp[:, c + 2] = True
    Mp[:, c + 3] = gb0
    Bp[:, c + 3] = True
    Mp[:, c + 4] = gb1
    Bp[:, c + 4] = glnb > 1
    prefix_flat = Mp[Bp]
    pl = Bp.sum(axis=1).astype(np.int64)

    rowlen = pl + gl
    S = _cumsum0(rowlen)
    total = int(S[-1])
    out = np.empty(total, dtype=np.uint8)
    npre = int(pl.sum())
    pre_dest = (np.repeat(S[:-1], pl)
                + np.arange(npre, dtype=np.int64)
                - np.repeat(_cumsum0(pl)[:-1], pl))
    out[pre_dest] = prefix_flat
    ngeo = int(gl.sum())
    geo_dest = (np.repeat(S[:-1] + pl, gl)
                + np.arange(ngeo, dtype=np.int64)
                - np.repeat(_cumsum0(gl)[:-1], gl))
    out[geo_dest] = geom_flat
    return out.tobytes(), rowlen
