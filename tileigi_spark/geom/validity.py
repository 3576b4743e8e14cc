"""Validity checks, exact segment-intersection kernel and make_valid.

Behavioral spec: reference src/validity.rs. Everything is exact integer
arithmetic; the kernel's branch ladder, rounding (round-half-up on the
quotient remainders, validity.rs:436-451), the ring-dissolution sort key
(validity.rs:828) and the wrapping i32 shoelace (validity.rs:1158-1164)
are all part of the observable contract and preserved.
"""

from __future__ import annotations

import numpy as np

from .types import tdiv, trem, wrap_i32
from .wkb import _cumsum0, _ranges
from .simplify import remove_unneeded_points as _remove_unneeded_points
from .simplify import remove_spikes_linestring as _remove_spikes_linestring


# --------------------------------------------------------------- validity

def _is_linestring_valid(pts):
    if len(pts) < 2:
        return False
    if len(pts) == 2 and pts[0] == pts[1]:
        return False
    return True


def _num_points_excl_duplicates(pts):
    if len(pts) <= 1:
        return len(pts)
    num = 1
    cur = pts[0]
    for p in pts[1:]:
        if p != cur:
            cur = p
            num += 1
    return num


def _is_polygon_valid_skip_expensive(rings):
    """validity.rs:54-97."""
    ext = rings[0]
    if len(ext) < 4:
        return False
    if ext[0] != ext[-1]:
        return False
    if _num_points_excl_duplicates(ext) < 4:
        return False
    if all(p == ext[0] for p in ext[1:]):
        return False
    for interior in rings[1:]:
        if _num_points_excl_duplicates(interior) < 4:
            return False
        if interior[0] != interior[-1]:
            return False
        if all(p == interior[0] for p in interior[1:]):
            return False
    return True


def _is_polygon_valid_do_expensive(rings):
    """validity.rs:99-115 — self-intersections + winding (exterior CW,
    interior CCW in y-down space; the 'backwards' note validity.rs:109)."""
    if has_self_intersections(rings[0]):
        return False
    for interior in rings[1:]:
        if has_self_intersections(interior):
            return False
    if is_ccw(rings[0]) or any(is_cw(i) for i in rings[1:]):
        return False
    return True


def _is_polygon_valid(rings):
    return _is_polygon_valid_skip_expensive(rings) and _is_polygon_valid_do_expensive(rings)


def is_valid(geom):
    """validity.rs:18-26."""
    typ, data = geom
    if typ == "LineString":
        return _is_linestring_valid(data)
    if typ == "Polygon":
        return _is_polygon_valid(data)
    if typ == "MultiPolygon":
        return all(_is_polygon_valid(rings) for rings in data)
    if typ == "MultiLineString":
        return all(_is_linestring_valid(ls) for ls in data)
    return True


def is_valid_skip_expensive(geom):
    """validity.rs:28-36."""
    typ, data = geom
    if typ == "LineString":
        return _is_linestring_valid(data)
    if typ == "Polygon":
        return _is_polygon_valid_skip_expensive(data)
    if typ == "MultiPolygon":
        return all(_is_polygon_valid_skip_expensive(rings) for rings in data)
    if typ == "MultiLineString":
        return all(_is_linestring_valid(ls) for ls in data)
    return True


# --------------------------------------------------------------- winding

def twice_linestring_area(pts):
    """validity.rs:1158-1164 — i64 shoelace summed, then wrapped `as i32`."""
    total = 0
    for i in range(len(pts) - 1):
        x1, y1 = pts[i]
        x2, y2 = pts[i + 1]
        total += x1 * y2 - x2 * y1
    return wrap_i32(total)


def is_cw(pts):
    return twice_linestring_area(pts) < 0


def is_ccw(pts):
    return twice_linestring_area(pts) > 0


def ensure_polygon_orientation(geom):
    """validity.rs:157-185 — exterior CW, interiors CCW (y goes down).
    Returns a new geometry (the reference mutates in place)."""
    typ, data = geom
    if typ == "Polygon":
        return ("Polygon", _orient_rings(data))
    if typ == "MultiPolygon":
        return ("MultiPolygon", [_orient_rings(rings) for rings in data])
    return geom


def _orient_rings(rings):
    out = []
    ext = rings[0]
    out.append(ext if is_cw(ext) else list(reversed(ext)))
    for interior in rings[1:]:
        out.append(interior if is_ccw(interior) else list(reversed(interior)))
    return out


# ----------------------------------------------------- intersection kernel

def _in_bounds(z, a, b):
    return min(a, b) <= z <= max(a, b)


def _collinear(a, b, p):
    return (b[0] - a[0]) * (p[1] - a[1]) == (b[1] - a[1]) * (p[0] - a[0])


def _point_on_line_incl_end(a, b, p):
    return _in_bounds(p[0], a[0], b[0]) and _in_bounds(p[1], a[1], b[1])


def _point_on_line(a, b, p):
    return p != a and p != b and _in_bounds(p[0], a[0], b[0]) and _in_bounds(p[1], a[1], b[1])


# Intersection result tags
NONE = "none"
OVERLAPPING = "overlapping"
END_TO_END = "end_to_end"
TOUCHING = "touching"
CROSSING = "crossing"


def intersection(x1, y1, x2, y2, x3, y3, x4, y4):
    """validity.rs:265-464 — exact segment X segment intersection.

    Returns (tag, payload): NONE/END_TO_END -> None payload,
    TOUCHING/CROSSING -> (x, y), OVERLAPPING -> ((x,y),(x,y)).
    """
    if (max(x1, x2) < min(x3, x4) or min(x1, x2) > max(x3, x4)
            or max(y1, y2) < min(y3, y4) or min(y1, y2) > max(y3, y4)):
        return (NONE, None)

    assert (x1, y1) != (x2, y2)
    assert (x3, y3) != (x4, y4)

    a = x2 - x1
    b = x3 - x4
    c = y2 - y1
    d = y3 - y4

    det = a * d - b * c
    if det == 0:
        if (((x1, y1) == (x3, y3) and (x2, y2) == (x4, y4))
                or ((x1, y1) == (x4, y4) and (x2, y2) == (x3, y3))):
            return (OVERLAPPING, ((x1, y1), (x2, y2)))

        p1_col = _collinear((x3, y3), (x4, y4), (x1, y1))
        p2_col = _collinear((x3, y3), (x4, y4), (x2, y2))

        if not p1_col and not p2_col:
            return (NONE, None)
        if p1_col != p2_col:
            raise AssertionError("parallel with exactly one collinear point")

        # fully collinear (validity.rs:330-380)
        def delta(u, v):
            return u - v if u > v else v - u

        delta_x = delta(x1, x2) + delta(x3, x4)
        delta_y = delta(y1, y2) + delta(y3, y4)
        if ((delta_x == delta(x1, x4) and delta_y == delta(y1, y4))
                or (delta_x == delta(x2, x4) and delta_y == delta(y2, y4))
                or (delta_x == delta(x1, x3) and delta_y == delta(y1, y3))
                or (delta_x == delta(x2, x3) and delta_y == delta(y2, y3))):
            return (END_TO_END, None)

        p3_on = _point_on_line((x1, y1), (x2, y2), (x3, y3))
        p4_on = _point_on_line((x1, y1), (x2, y2), (x4, y4))
        if p3_on and p4_on:
            return (OVERLAPPING, ((x3, y3), (x4, y4)))
        if p3_on or p4_on:
            if _point_on_line_incl_end((x3, y3), (x4, y4), (x1, y1)):
                other = (x1, y1)
            else:
                other = (x2, y2)
            first = (x3, y3) if p3_on else (x4, y4)
            return (OVERLAPPING, (first, other))
        return (OVERLAPPING, ((x1, y1), (x2, y2)))

    e = x3 - x1
    f = y3 - y1

    signum = 1 if det > 0 else -1
    det = abs(det)

    sd = signum * (a * f - c * e)
    if sd > det or sd < 0:
        return (NONE, None)

    td = signum * (d * e - b * f)
    if td > det or td < 0:
        return (NONE, None)

    if (td == det or td == 0) and (sd == 0 or sd == det):
        return (END_TO_END, None)
    elif (td == det or td == 0) and (sd > 0 or sd < det):
        if td == 0:
            return (TOUCHING, (x1, y1))
        return (TOUCHING, (x2, y2))
    elif (td < det or td > 0) and (sd == 0 or sd == det):
        if sd == 0:
            return (TOUCHING, (x3, y3))
        return (TOUCHING, (x4, y4))
    elif 0 < td < det and 0 < sd < det:
        # round-half-up on the truncated quotient, replicating the
        # reference's shadowed-variable remainder (validity.rs:426-450)
        xd = tdiv(td * (x2 - x1), det)
        x = xd + x1
        yd = tdiv(td * (y2 - y1), det)
        y = yd + y1
        if 2 * trem(xd, det) >= det:
            x += 1
        if 2 * trem(yd, det) >= det:
            y += 1
        return (CROSSING, (x, y))

    raise AssertionError("unreachable intersection case")


def _is_axis_rect_ring(r):
    """Closed 5-point axis-aligned rectangle ring with 4 distinct corners
    and strictly alternating axis-parallel edges. Such a ring provably has
    no self-intersections (opposite edges are parallel on distinct lines;
    adjacent edges meet only at their shared corner), so the O(n²)
    segment-pair scan can be skipped with identical semantics — the
    dominant per-piece cost for rectangle-heavy polygon layers (bbox
    covers, nation boxes, building outlines)."""
    if len(r) != 5 or r[0] != r[4]:
        return False
    xs = {p[0] for p in r}
    ys = {p[1] for p in r}
    if len(xs) != 2 or len(ys) != 2:
        return False
    for i in range(4):
        if (r[i][0] != r[i + 1][0]) == (r[i][1] != r[i + 1][1]):
            return False
    return True


# candidate pairs per segment_pairs block (or one segment's candidates,
# if more): bounds the sweep's index temporaries whatever a ring's shape
_PAIR_BLOCK = 1 << 20


def segment_pairs(x1, y1, x2, y2, group):
    """Blocks (i, j) of index arrays, i < j, of the segments (x1, y1) -
    (x2, y2) of one group (a ring) whose closed bboxes overlap: a sweep
    on x (a segment meets the ones of its group that start inside its
    x-span, at most _PAIR_BLOCK candidates a block) and a filter on y,
    so the work follows a ring's overlapping pairs, not its size
    squared."""
    m = len(x1)
    if not m:
        return
    lox, hix = np.minimum(x1, x2), np.maximum(x1, x2)
    loy, hiy = np.minimum(y1, y2), np.maximum(y1, y2)
    span = hix.max() - lox.min() + 1  # groups laid out along one axis
    key = group * span + lox
    order = np.argsort(key, kind="stable")
    cnt = (np.searchsorted(key[order], (group * span + hix)[order],
                           side="right") - np.arange(1, m + 1))
    cum = _cumsum0(cnt)
    k0 = 0
    while k0 < m:
        k1 = max(int(np.searchsorted(cum, cum[k0] + _PAIR_BLOCK,
                                     side="right")) - 1, k0 + 1)
        ks = np.arange(k0, k1)
        a = order[np.repeat(ks, cnt[k0:k1])]
        b = order[_ranges(ks + 1, cnt[k0:k1])]
        hit = (hiy[a] >= loy[b]) & (loy[a] <= hiy[b])
        yield np.minimum(a, b)[hit], np.maximum(a, b)[hit]
        k0 = k1


def _ring_pairs(pts):
    """segment_pairs of the segments pts[i]-pts[i + 1] of one ring: the
    (i, j) the reference's all-pairs loops (validity.rs:187-219,
    606-749) do not skip as bbox-disjoint, in sweep order, a block at a
    time."""
    p = np.asarray(pts)
    return segment_pairs(p[:-1, 0], p[:-1, 1], p[1:, 0], p[1:, 1],
                         np.zeros(len(p) - 1, np.int64))


def has_self_intersections(pts):
    """validity.rs:187-219."""
    n = len(pts)
    if n <= 4:
        return False
    if n == 5 and _is_axis_rect_ring(pts):
        return False
    for a, b in _ring_pairs(pts):
        for i, j in zip(a.tolist(), b.tolist()):
            (x1, y1), (x2, y2) = pts[i], pts[i + 1]
            (x3, y3), (x4, y4) = pts[j], pts[j + 1]
            tag, _ = intersection(x1, y1, x2, y2, x3, y3, x4, y4)
            if tag in (CROSSING, OVERLAPPING, TOUCHING):
                return True
    return False


# ------------------------------------------------------------ order_points

def order_points(line, p1, p2):
    """validity.rs:1083-1156 — -1 if p1 before p2 along the line, 1 if
    after, 0 if equal/indeterminate."""
    if p1 == p2:
        return 0
    assert line[0] != line[1]

    def sub(a, b):
        return (abs(a[0] - b[0]), abs(a[1] - b[1]))

    def add3(a, b, c):
        return (a[0] + b[0] + c[0], a[1] + b[1] + c[1])

    slope_line = sub(line[1], line[0])
    slope_start_1 = sub(p1, line[0])
    slope_start_2 = sub(p2, line[0])
    slope_1_2 = sub(p2, p1)
    slope_2_1 = sub(p1, p2)
    slope_2_end = sub(line[1], p2)
    slope_1_end = sub(line[1], p1)

    if add3(slope_start_1, slope_1_2, slope_2_end) == slope_line:
        return -1
    if add3(slope_start_2, slope_2_1, slope_1_end) == slope_line:
        return 1
    return 0


# --------------------------------------------- add points for all crossings

def add_points_for_all_crossings(pts):
    """validity.rs:606-749 — insert vertices at every self-crossing until a
    fixpoint. Returns a new point list.

    Like the reference this is a fixpoint loop; unlike the reference it
    is bounded (same rationale as _make_rings_valid: rounded crossing
    nodes can fail to resolve a crossing). On cap the current point
    list is returned — downstream dissolve + the validity filter handle
    any remaining un-noded crossing."""
    import functools

    pts = list(pts)
    if len(pts) <= 3:
        return pts

    passes = 0
    while passes < 64:
        passes += 1
        coords_to_insert = {}

        def put(k, p):
            # keyed by the pair: the reference's (i, j) loop order fixes
            # each segment's insert order, kept by order_points' ties
            coords_to_insert.setdefault(k, []).append((i, j, p))

        for a, b in _ring_pairs(pts):
            for i, j in zip(a.tolist(), b.tolist()):
                (x1, y1), (x2, y2) = pts[i], pts[i + 1]
                (x3, y3), (x4, y4) = pts[j], pts[j + 1]
                tag, payload = intersection(x1, y1, x2, y2,
                                            x3, y3, x4, y4)
                if tag == CROSSING:
                    cp = payload
                    if (x1, y1) != cp and (x2, y2) != cp:
                        put(i, cp)
                    if (x3, y3) != cp and (x4, y4) != cp:
                        put(j, cp)
                elif tag == OVERLAPPING:
                    o1, o2 = payload
                    if (x1, y1) != o1 and (x2, y2) != o1:
                        put(i, o1)
                    if (x1, y1) != o2 and (x2, y2) != o2:
                        put(i, o2)
                    if (x3, y3) != o1 and (x4, y4) != o1:
                        put(j, o1)
                    if (x3, y3) != o2 and (x4, y4) != o2:
                        put(j, o2)
                elif tag == TOUCHING:
                    t = payload
                    if (x1, y1) == t or (x2, y2) == t:
                        put(j, t)
                    elif (x3, y3) == t or (x4, y4) == t:
                        put(i, t)
                    else:
                        raise AssertionError("touch point not at any end")

        if not coords_to_insert:
            break

        inserts = []
        for idx in range(len(pts) - 1):
            if idx in coords_to_insert:
                point1, point2 = pts[idx], pts[idx + 1]
                new_points = [p for *_, p in sorted(coords_to_insert[idx],
                                                    key=lambda t: t[:2])]
                new_points.sort(key=functools.cmp_to_key(
                    lambda a, b: order_points((point1, point2), a, b)))
                deduped = []
                for p in new_points:
                    if not deduped or deduped[-1] != p:
                        deduped.append(p)
                inserts.append((idx, deduped))

        offset = 0
        for idx, new_points in inserts:
            for p in new_points:
                pts.insert(idx + offset + 1, p)
                offset += 1

    return pts


# ----------------------------------------------------- dissolve into rings

def dissolve_into_rings(pts):
    """validity.rs:751-878 — split a noded closed walk into simple rings."""
    pts = list(pts)
    if len(pts) <= 3:
        return []

    outgoing = {}
    for i, p in enumerate(pts):
        outgoing.setdefault(p, []).append(i)

    loops = [v for v in outgoing.values() if len(v) > 1]

    extra = [i for i, l in enumerate(loops) if len(l) in (3, 4)]
    extra.sort(reverse=True)
    for loop_index in extra:
        single = loops.pop(loop_index)
        if len(single) == 3:
            loops.append([single[0], single[1]])
            loops.append([single[1], single[2]])
        else:
            loops.append([single[0], single[1]])
            loops.append([single[1], single[2]])
            loops.append([single[2], single[3]])
            loops.append([single[0], single[3]])

    if len(loops) == 1:
        if loops[0][0:2] == [0, len(pts) - 1] and len(loops[0]) == 2:
            return [pts]
        # single non-simple loop: fall through, same as the reference

    unassigned = [True] * len(pts)
    results = []

    loops.sort(key=lambda l: (-len(l), l[-1] - l[0], l[0]))

    for loop_indexes in loops:
        start = loop_indexes[0]
        end = loop_indexes[-1]
        if not unassigned[start]:
            continue
        if start + 2 == end:
            # 3-point spike
            unassigned[start] = False
            unassigned[start + 1] = False
            continue
        new_ls = []
        unassigned[start] = False
        new_ls.append(pts[start])
        for i in range(start + 1, end):
            if unassigned[i]:
                new_ls.append(pts[i])
                unassigned[i] = False
        if len(new_ls) > 2:
            new_ls.append(pts[end])
            r = _remove_spikes_linestring(new_ls)
            if r is not None:
                results.append(r)

    return results


# ------------------------------------------------------ ring classification

CROSS_NO = 0
CROSS_YES = 1
CROSS_TOUCHES = 2
CROSS_ONE_END_BELOW = 3
CROSS_ONE_END_ABOVE = 4


def does_ray_cross(point, p1, p2):
    """validity.rs:904-932 — leftward ray from point vs segment p1-p2.
    Includes the reference's `x1 <= x || x2 <= x2` horizontal-segment
    quirk (validity.rs:916), preserved as written."""
    x, y = point
    assert p1 != p2
    x1, y1 = p1
    x2, y2 = p2

    if (y1 > y and y2 > y) or (y1 < y and y2 < y) or (x1 > x and x2 > x):
        return CROSS_NO
    if ((x == x1 and y == y1) or (x == x2 and y == y2)
            or ((x2 - x1) * (y - y1) == (x - x1) * (y2 - y1))
            or (y1 == y2 and y1 == y and (x1 <= x or x2 <= x2))):
        return CROSS_TOUCHES
    if (y1 == y and x1 < x and y2 < y) or (y2 == y and x2 < x and y1 < y):
        return CROSS_ONE_END_BELOW
    if (y1 == y and x1 < x and y2 > y) or (y2 == y and x2 < x and y1 > y):
        return CROSS_ONE_END_ABOVE
    if (x1 < x or x2 < x) and ((y1 > y and y2 < y) or (y1 < y and y2 > y)):
        return CROSS_YES
    return CROSS_NO


def is_ring_ext_int(ring, ring_index, all_rings):
    """validity.rs:939-1009. True -> exterior, False -> interior."""
    num_crossings = 0
    for point in ring:
        num_crossings = 0
        px, py = point
        touched = False
        for i, other in enumerate(all_rings):
            if i == ring_index:
                continue
            for k in range(len(other) - 1):
                o1, o2 = other[k], other[k + 1]
                if ((o1[1] > py and o2[1] > py) or (o1[1] < py and o2[1] < py)
                        or (o1[0] > px and o2[0] > px)):
                    continue
                c = does_ray_cross(point, o1, o2)
                if c == CROSS_ONE_END_BELOW or c == CROSS_YES:
                    num_crossings += 1
                elif c == CROSS_TOUCHES:
                    touched = True
                    break
            if touched:
                break
        if not touched:
            break
    return num_crossings % 2 == 0


def _bbox(pts_iter):
    xs = [p[0] for p in pts_iter]
    ys = [p[1] for p in pts_iter]
    return min(xs), min(ys), max(xs), max(ys)


def _point_in_ring_even_odd(point, ring):
    """Even-odd ray cast (leftward ray), exact integers; boundary counts as
    outside. Stand-in for the reference's float `geo::Polygon::contains`
    hack (validity.rs:1201-1213)."""
    x, y = point
    crossings = 0
    for i in range(len(ring) - 1):
        (x1, y1), (x2, y2) = ring[i], ring[i + 1]
        if (y1 > y) == (y2 > y):
            continue
        # x coordinate where segment crosses horizontal line at y (exact
        # rational comparison: xc < x  <=>  (x1 + (y-y1)*(x2-x1)/(y2-y1)) < x)
        num = (x2 - x1) * (y - y1)
        den = y2 - y1
        # compare x1 + num/den < x without division
        lhs = num
        rhs = (x - x1) * den
        if den < 0:
            lhs, rhs = -lhs, -rhs
        if lhs < rhs:
            crossings += 1
    return crossings % 2 == 1


def distribute_interiors(polygons, interiors):
    """validity.rs:1178-1220 — assign hole rings to exterior polygons.
    `polygons` is a list of ring-lists (each [exterior]); mutated in place.
    Sorting by bbox area desc, first containing polygon wins."""
    if not polygons and interiors:
        raise AssertionError("interiors without polygons")
    if any(len(p) != 1 for p in polygons):
        raise AssertionError("polygons should have no interiors already")
    if not polygons or not interiors:
        return
    if len(polygons) == 1:
        polygons[0].extend(interiors)
        return

    def bbox_area(rings):
        xmin, ymin, xmax, ymax = _bbox([p for r in rings for p in r])
        return (xmax - xmin) * (ymax - ymin)

    polygons.sort(key=bbox_area, reverse=True)

    for interior in interiors:
        for rings in polygons:
            ext = rings[0]
            if all(_point_in_ring_even_odd(p, ext) for p in interior[:-1]):
                rings.append(interior)
                break
        # unassignable interiors are dropped with a warning in the
        # reference (validity.rs:1215-1217); we drop silently


def convert_rings_to_polygons(rings):
    """validity.rs:1020-1075."""
    if not rings:
        return None
    if len(rings) == 1:
        return [[rings[0]]]

    types = [is_ring_ext_int(r, i, rings) for i, r in enumerate(rings)]
    exteriors = [r for r, is_ext in zip(rings, types) if is_ext]
    interiors = [r for r, is_ext in zip(rings, types) if not is_ext]

    if not exteriors:
        return None

    polygons = [[e] for e in exteriors]
    if len(polygons) == 1:
        polygons[0].extend(interiors)
    elif interiors:
        distribute_interiors(polygons, interiors)
    return polygons


# --------------------------------------------------------------- make_valid

def _make_rings_valid(rings):
    """validity.rs:525-600.

    DIVERGENCE from the reference, by design: the reference's
    add-points/dissolve loop (validity.rs:540-566, its own FIXME calls
    it out) is UNBOUNDED, and integer rounding of crossing points can
    make it oscillate forever — add_points_for_all_crossings inserts a
    rounded node, dissolve_into_rings removes it, repeat (fuzz-found at
    ~1 per 10k random pinched/crossing rings; seed corpus in
    tests/test_geom_validity.py). A single such ring would hang an
    executor task indefinitely. We detect an exact state repeat (the
    oscillation) or a generous pass cap and stop noding; rings whose
    crossings never got noded are then dropped by the _is_polygon_valid
    filter below — the same "invalid polygon. Dropping" degradation the
    reference itself applies (validity.rs:588-595). On every input
    where the reference's loop terminates, this code runs the identical
    iterations and returns identical output."""
    new_rings = []
    for ring in rings:
        rings_to_process = [ring]
        seen_states = set()
        passes = 0
        while True:
            added_points = False
            processed = []
            for r in rings_to_process:
                old_n = len(r)
                r = add_points_for_all_crossings(r)
                if len(r) != old_n:
                    added_points = True
                processed.append(r)
            rings_to_process = [out
                                for r in processed
                                for out in dissolve_into_rings(r)]
            if not added_points:
                break
            state = hash(tuple(tuple(p for p in r)
                               for r in rings_to_process))
            passes += 1
            if state in seen_states or passes >= 64:
                break  # oscillation (or pathological drift): stop noding
            seen_states.add(state)
        new_rings.extend(rings_to_process)

    polygons = convert_rings_to_polygons(new_rings)
    if polygons is None:
        return None

    oriented = ensure_polygon_orientation(("MultiPolygon", polygons))
    valid_polys = [rings for rings in oriented[1] if _is_polygon_valid(rings)]
    return valid_polys


def make_valid(geom):
    """validity.rs:466-499 — remove_unneeded_points, early-return if valid,
    else ring-dissolution repair. Polygon/MultiPolygon results are always
    MultiPolygon (possibly empty)."""
    geom = _remove_unneeded_points(geom)
    if geom is None:
        return None

    # axis-rect fast path: a single-ring axis-aligned rectangle is either
    # already valid (CW exterior → returned unchanged, same as the
    # is_valid early return below) or has reversed winding, for which the
    # full dissolve repair provably emits the same-start reversed ring
    # wrapped as MultiPolygon (pinned against the slow path by the
    # property test over random bounds/starts). Skips the ring-repair
    # machinery for the dominant rectangle-piece case.
    if (geom[0] == "Polygon" and len(geom[1]) == 1
            and _is_axis_rect_ring(geom[1][0])):
        ring = geom[1][0]
        if not is_ccw(ring):
            return geom
        return ("MultiPolygon", [[[ring[0]] + list(reversed(ring[:-1]))[:-1]
                                  + [ring[0]]]])

    if is_valid(geom):
        return geom

    typ, data = geom
    if typ == "Polygon":
        polys = _make_rings_valid(list(data))
        return None if polys is None else ("MultiPolygon", polys)
    if typ == "MultiPolygon":
        all_rings = [r for rings in data for r in rings]
        polys = _make_rings_valid(all_rings)
        return None if polys is None else ("MultiPolygon", polys)
    if typ == "LineString":
        return None if len(data) < 2 else geom
    return geom
