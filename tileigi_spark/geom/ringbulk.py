"""Ragged bulk MVT framing for polygon- and linestring-family features.

The encode walk (engine._make_encode_run) frames complete runs of
pieces through one of two bulk framers: single points go to
mvt.bulk_frame_point_features, and EVERY polygon-family (Polygon,
MultiPolygon) or linestring-family (LineString, MultiLineString) run
comes here — clipped boxes and 2-4 point road pieces as well as
irregular rings, rings with holes, MultiPolygons and long polylines.
Anything else (mixed shapes, width overflow) takes the per-row
LayerEncoder walk (~50-100µs of interpreter work per feature).

Features are held in a RAGGED formulation: all features' emit-order
vertices live in one flat (xs, ys) pair plus two offset arrays

    ring_off : (nr + 1,) vertex offsets per ring
    feat_off : (n + 1,)  ring offsets per feature

so every per-vertex quantity (zigzag delta, varint width) and every
per-ring quantity (LineTo count) vectorizes across the batch, and the
final byte stream is assembled with one ragged scatter instead of a
Python loop. Byte output is pinned identical to the per-row path
(mvt._geometry_commands semantics: per-ring closing-vertex drop,
degenerate rings skipped, the delta cursor carrying across rings and
polygons within a feature) by tests/test_mvt_ragged.py,
tests/test_mvt_bulk.py and the golden tile fixtures.
"""

from __future__ import annotations

import struct

import numpy as np

from .mvt import _tag_field, _varint3_parts

_U32 = np.array([1, 1 << 8, 1 << 16, 1 << 24], dtype=np.int64)


def _cumsum0(a):
    out = np.empty(len(a) + 1, dtype=np.int64)
    out[0] = 0
    np.cumsum(a, out=out[1:])
    return out


def _read_u32(buf, pos):
    """Vectorized little-endian uint32 gather at byte positions `pos`."""
    return buf[pos[:, None] + np.arange(4)].astype(np.int64) @ _U32


def _walk_poly(b):
    """Header walk of one Polygon/MultiPolygon WKB: returns a list of
    (point_byte_offset, closed_point_count) rings in emit order, or
    None when the buffer is malformed."""
    ln = len(b)
    if ln < 9 or b[0] != 1:
        return None
    typ = b[1]
    if b[2] or b[3] or b[4]:
        return None
    rings = []

    def poly_at(p):
        if p + 9 > ln or b[p] != 1 or b[p + 1] != 3 or b[p + 2] or \
                b[p + 3] or b[p + 4]:
            return None
        (nr,) = struct.unpack_from("<I", b, p + 5)
        p += 9
        for _ in range(nr):
            if p + 4 > ln:
                return None
            (k,) = struct.unpack_from("<I", b, p)
            p += 4
            if p + 16 * k > ln:
                return None
            rings.append((p, k))
            p += 16 * k
        return p

    if typ == 3:
        if poly_at(0) != ln:
            return None
    elif typ == 6:
        (npolys,) = struct.unpack_from("<I", b, 5)
        p = 9
        for _ in range(npolys):
            p = poly_at(p)
            if p is None:
                return None
        if p != ln:
            return None
    else:
        return None
    return rings


def _walk_line(b):
    """Header walk of one LineString/MultiLineString WKB (same contract
    as _walk_poly)."""
    ln = len(b)
    if ln < 9 or b[0] != 1:
        return None
    typ = b[1]
    if b[2] or b[3] or b[4]:
        return None
    lines = []
    if typ == 2:
        (k,) = struct.unpack_from("<I", b, 5)
        if 9 + 16 * k != ln:
            return None
        lines.append((9, k))
    elif typ == 5:
        (nl,) = struct.unpack_from("<I", b, 5)
        p = 9
        for _ in range(nl):
            if p + 9 > ln or b[p] != 1 or b[p + 1] != 2 or b[p + 2] or \
                    b[p + 3] or b[p + 4]:
                return None
            (k,) = struct.unpack_from("<I", b, p + 5)
            p += 9
            if p + 16 * k > ln:
                return None
            lines.append((p, k))
            p += 16 * k
        if p != ln:
            return None
    else:
        return None
    return lines


def _extract_points(buf, base, k):
    """Gather (sum(k), 2) float64 vertices from the concatenated WKB
    buffer. base: absolute byte offset of each ring's first coordinate;
    k: closed point count per ring."""
    tot = int(k.sum())
    if tot == 0:
        return (np.zeros(0, np.int64), np.zeros(0, np.int64))
    intra = np.arange(tot, dtype=np.int64) - np.repeat(_cumsum0(k)[:-1], k)
    ptb = np.repeat(base, k) + intra * 16
    raw = buf[ptb[:, None] + np.arange(16)].copy()
    pts = raw.view("<f8").reshape(tot, 2)
    return pts[:, 0].astype(np.int64), pts[:, 1].astype(np.int64)


def parse_poly_family(geoms):
    """Parse a run of Polygon/MultiPolygon WKBs into ragged arrays for
    bulk_frame_ragged_features, applying mvt._geometry_commands' ring
    rules (drop the closing vertex when first == last, skip rings left
    with < 3 vertices). Returns (xs, ys, ring_off, feat_off) or None
    when any row is not a well-formed polygon-family WKB (caller falls
    back to the per-row path)."""
    n = len(geoms)
    try:
        lens = np.fromiter((len(g) for g in geoms), np.int64, n)
    except TypeError:
        return None
    if n == 0 or int(lens.min()) < 9:
        return None
    foff = _cumsum0(lens)
    buf = np.frombuffer(b"".join(bytes(g) for g in geoms), np.uint8)

    order_ok = buf[foff[:-1]] == 1
    typ = buf[foff[:-1] + 1]
    hi0 = (buf[foff[:-1] + 2] | buf[foff[:-1] + 3] | buf[foff[:-1] + 4]) == 0
    if not bool((order_ok & hi0 & ((typ == 3) | (typ == 6))).all()):
        return None

    # fast structural patterns, fully vectorized: single-ring Polygon
    # and the MultiPolygon-of-one-single-ring twin that make_valid emits
    is_p = typ == 3
    nring0 = np.zeros(n, dtype=np.int64)
    nring0[is_p] = _read_u32(buf, foff[:-1][is_p] + 5)
    simple_p = is_p & (nring0 == 1) & (lens >= 13)
    k_sp = np.zeros(n, dtype=np.int64)
    k_sp[simple_p] = _read_u32(buf, foff[:-1][simple_p] + 9)
    simple_p &= lens == 13 + 16 * k_sp

    is_m = typ == 6
    cand_m = np.flatnonzero(is_m & (lens >= 22))
    simple_m = np.zeros(n, dtype=bool)
    if len(cand_m):
        f = foff[:-1][cand_m]
        ok = ((_read_u32(buf, f + 5) == 1) & (buf[f + 9] == 1)
              & (buf[f + 10] == 3)
              & ((buf[f + 11] | buf[f + 12] | buf[f + 13]) == 0)
              & (_read_u32(buf, f + 14) == 1))
        km = _read_u32(buf, f + 18)
        ok &= lens[cand_m] == 22 + 16 * km
        simple_m[cand_m[ok]] = True
        k_sp[cand_m[ok]] = km[ok]

    simple = simple_p | simple_m
    slow = np.flatnonzero(~simple)
    slow_rings = {}
    for i in slow.tolist():
        r = _walk_poly(bytes(geoms[i]))
        if r is None:
            return None
        slow_rings[i] = r

    nrings = np.ones(n, dtype=np.int64)
    for i, r in slow_rings.items():
        nrings[i] = len(r)
    feat_off = _cumsum0(nrings)
    nr = int(feat_off[-1])
    base = np.empty(nr, dtype=np.int64)
    k = np.empty(nr, dtype=np.int64)
    sidx = feat_off[:-1][simple]
    base[sidx] = (foff[:-1][simple]
                  + np.where(simple_m[simple], 22, 13))
    k[sidx] = k_sp[simple]
    for i, r in slow_rings.items():
        o = feat_off[i]
        for j, (pb, kk) in enumerate(r):
            base[o + j] = foff[i] + pb
            k[o + j] = kk
    if nr and int(k.min()) < 1:
        # rings declaring zero points: structurally legal WKB but the
        # vectorized first/last compare can't index them — per-row path
        return None

    xs, ys = _extract_points(buf, base, k)
    poff = _cumsum0(k)
    first = poff[:-1]
    last = poff[1:] - 1
    closed = (xs[first] == xs[last]) & (ys[first] == ys[last]) & (k >= 2)
    keep_k = k - closed.astype(np.int64)
    ring_valid = keep_k >= 3
    keep_k = np.where(ring_valid, keep_k, 0)
    keep = np.ones(len(xs), dtype=bool)
    keep[last[closed]] = False
    keep &= np.repeat(ring_valid, k)
    xs = xs[keep]
    ys = ys[keep]

    # compact invalid rings away, preserving feature ring spans (cumsum
    # indexing, not reduceat — reduceat misbehaves on empty spans)
    ring_off = _cumsum0(keep_k[ring_valid])
    rc = _cumsum0(ring_valid.astype(np.int64))
    feat_ring_off = rc[feat_off]
    return xs, ys, ring_off, feat_ring_off


def parse_line_family(geoms):
    """Parse a run of LineString/MultiLineString WKBs into ragged arrays
    (no closing-vertex rules — mvt._geometry_commands emits lines
    verbatim). Returns (xs, ys, ring_off, feat_off) or None. Lines with
    < 2 points bail to the per-row path (the LineTo command byte rides
    on the second vertex slot in the ragged writer)."""
    n = len(geoms)
    try:
        lens = np.fromiter((len(g) for g in geoms), np.int64, n)
    except TypeError:
        return None
    if n == 0 or int(lens.min()) < 9:
        return None
    foff = _cumsum0(lens)
    buf = np.frombuffer(b"".join(bytes(g) for g in geoms), np.uint8)

    order_ok = buf[foff[:-1]] == 1
    typ = buf[foff[:-1] + 1]
    hi0 = (buf[foff[:-1] + 2] | buf[foff[:-1] + 3] | buf[foff[:-1] + 4]) == 0
    if not bool((order_ok & hi0 & ((typ == 2) | (typ == 5))).all()):
        return None

    is_l = typ == 2
    k_sl = np.zeros(n, dtype=np.int64)
    k_sl[is_l] = _read_u32(buf, foff[:-1][is_l] + 5)
    simple = is_l & (lens == 9 + 16 * k_sl)

    slow = np.flatnonzero(~simple)
    slow_lines = {}
    for i in slow.tolist():
        r = _walk_line(bytes(geoms[i]))
        if r is None:
            return None
        slow_lines[i] = r

    nlines = np.ones(n, dtype=np.int64)
    for i, r in slow_lines.items():
        nlines[i] = len(r)
    feat_off = _cumsum0(nlines)
    nr = int(feat_off[-1])
    base = np.empty(nr, dtype=np.int64)
    k = np.empty(nr, dtype=np.int64)
    sidx = feat_off[:-1][simple]
    base[sidx] = foff[:-1][simple] + 9
    k[sidx] = k_sl[simple]
    for i, r in slow_lines.items():
        o = feat_off[i]
        for j, (pb, kk) in enumerate(r):
            base[o + j] = foff[i] + pb
            k[o + j] = kk
    if nr and int(k.min()) < 2:
        return None

    xs, ys = _extract_points(buf, base, k)
    return xs, ys, _cumsum0(k), feat_off


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
