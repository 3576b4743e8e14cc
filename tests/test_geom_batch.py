"""Parity: the ragged batch lane (geom/batch.py) vs the scalar chain.

The scalar reference here is the historic per-row loop of
engine.geometry_stage (decode -> remap -> remove_unneeded -> RDP -> clip
-> slice -> make_valid -> winding -> shift), reproduced from the ported
reference kernels. The batch lane must emit the exact same piece set
(tile coords + WKB bytes) for every input.
"""

import math
import random

import numpy as np
import pandas as pd
import pytest

from tileigi_spark.geom.batch import process_general, _scalar_chain, \
    _rdp_keep
from tileigi_spark.geom.wkb import geom_to_wkb, wkb_to_geom, write_ragged
from tileigi_spark.geom.remap import remap_geometry
from tileigi_spark.geom.simplify import _rdp
from tileigi_spark.mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


def with_wkb(res):
    """process_general's (frame, Ragged) as one frame with the pieces'
    WKB in a geom column, as engine.geometry_stage emits them."""
    if res is None:
        return None
    frame, rag = res
    return frame.assign(geom=write_ragged(rag))


def scalar_reference(pdf, prop_names, buffer_units, metatile_scale,
                     global_maxzoom, epsilon):
    rows = []
    for i in range(len(pdf)):
        zoom = int(pdf["zoom"].iloc[i])
        size_mt = min(metatile_scale, 1 << zoom)
        mtx, mty = int(pdf["mtx"].iloc[i]), int(pdf["mty"].iloc[i])
        x0t, y0t = mtx * size_mt, mty * size_mt
        n = 1 << zoom
        minx = x0t / n * WORLD - MERC_MAX
        maxx = (x0t + size_mt) / n * WORLD - MERC_MAX
        maxy = MERC_MAX - y0t / n * WORLD
        miny = MERC_MAX - (y0t + size_mt) / n * WORLD
        extent = 4096.0 * size_mt
        w = pdf["way"].iloc[i]
        if w is None:
            continue
        try:
            geom = wkb_to_geom(bytes(w))
        except ValueError:
            continue
        geom = remap_geometry(geom, minx, maxx, miny, maxy, extent)
        if geom is None:
            continue
        pieces = _scalar_chain(geom, "unneeded", size_mt, x0t, y0t,
                               int(extent), buffer_units,
                               zoom < global_maxzoom, epsilon)
        for tx, ty, piece in pieces:
            rows.append((zoom, tx, ty, int(pdf["feature_id"].iloc[i]),
                         geom_to_wkb(piece)))
    return rows


def run_both(records, prop_names=("tag",), buffer_units=32,
             metatile_scale=8, global_maxzoom=14, epsilon=8):
    pdf = pd.DataFrame(records)
    ref = scalar_reference(pdf, list(prop_names), buffer_units,
                           metatile_scale, global_maxzoom, epsilon)
    got = with_wkb(process_general(pdf, list(prop_names), buffer_units,
                                   metatile_scale, global_maxzoom, epsilon))
    got_rows = [] if got is None else [
        (int(r.zoom), int(r.x), int(r.y), int(r.feature_id),
         bytes(r.geom)) for r in got.itertuples()]
    return sorted(ref), sorted(got_rows)


def rec(geom, zoom=3, mtx=0, mty=0, fid=0):
    return {"zoom": zoom, "mtx": mtx, "mty": mty, "feature_id": fid,
            "way": None if geom is None else geom_to_wkb(geom),
            "tag": f"t{fid % 5}"}


def ring(cx, cy, r, npts, wobble=None, rev=False, rot=0.0):
    pts = []
    for k in range(npts):
        a = 2 * math.pi * k / npts + rot
        rr = r * (wobble[k % len(wobble)] if wobble else 1.0)
        pts.append((cx + rr * math.cos(a), cy + rr * math.sin(a)))
    pts.append(pts[0])
    return pts[::-1] if rev else pts


class TestBatchParityTargeted:
    def test_concave_polygons(self):
        recs = [rec(("Polygon", [ring(0, 0, 3e6, 12,
                                      wobble=[1, .3, .8, .5], rev=rv)]),
                    zoom=z, fid=i)
                for i, (z, rv) in enumerate(
                    [(0, False), (2, True), (4, False), (6, True)])]
        ref, got = run_both(recs)
        assert ref == got and len(ref) > 0

    def test_star_self_intersecting(self):
        # doubly-wound star: uniform turn sign but self-crossing, must
        # take the make_valid repair path
        pts = ring(1e6, -2e6, 4e6, 5)
        star = [pts[0]]
        for k in [2, 4, 1, 3]:
            star.append(pts[k])
        star.append(pts[0])
        ref, got = run_both([rec(("Polygon", [star]), zoom=z, fid=z)
                             for z in range(5)])
        assert ref == got

    def test_hole_windings(self):
        ext = ring(0, 0, 5e6, 8)
        hole = ring(0, 0, 1e6, 5)
        for i, (er, hr) in enumerate([(False, False), (False, True),
                                      (True, False), (True, True)]):
            ref, got = run_both([rec(("Polygon",
                                      [ext[::-1] if er else ext,
                                       hole[::-1] if hr else hole]),
                                     zoom=3, fid=i)])
            assert ref == got, (er, hr)

    def test_duplicate_heavy_ring(self):
        base = ring(2e6, 2e6, 8e5, 5)
        dup = []
        for p in base[:-1]:
            dup.extend([p, p, p])
        dup.append(dup[0])
        ref, got = run_both([rec(("Polygon", [dup]))])
        assert ref == got

    def test_closed_linestring_endpoint_spike(self):
        # closed line triggers the ring-endpoint despike handling
        ps = ring(-3e6, 1e6, 2e6, 6)
        ref, got = run_both([rec(("LineString", ps))])
        assert ref == got

    def test_mls_collapse_to_ls(self):
        # one member dies at remap (all points collapse) -> LineString
        tiny = [(1.0, 1.0), (1.0000001, 1.0000001)]
        big = [(0, 0), (5e6, 5e6), (5e6, 0)]
        ref, got = run_both([rec(("MultiLineString", [tiny, big]),
                                 zoom=1)])
        assert ref == got

    def test_mp_member_dies_at_rdp_stays_multi(self):
        # a polygon small enough that RDP wipes it at low zoom but which
        # survives remap: the feature must stay MultiPolygon-of-1
        small = ring(0, 0, 9e3, 5)       # few tile units at z0
        big = ring(-4e6, -4e6, 5e6, 7)
        ref, got = run_both([rec(("MultiPolygon", [[small], [big]]),
                                 zoom=0)])
        assert ref == got

    def test_multipoint_and_malformed_route_scalar(self):
        recs = [rec(("MultiPoint", [(0, 0), (1e6, 1e6)])),
                rec(("Point", (0.0, 0.0)), fid=1)]
        recs.append({"zoom": 3, "mtx": 0, "mty": 0, "feature_id": 2,
                     "way": b"\x01\x02\x00\x00\x00\xff\xff\xff\xff",
                     "tag": "x"})
        ref, got = run_both(recs)
        assert ref == got

    def test_coordinate_guard_falls_back(self):
        # geometry far outside the world at deep zoom: remapped coords
        # exceed the 2^26 lane guard -> exact scalar bigint path
        far = ring(50 * MERC_MAX, 50 * MERC_MAX, 1e6, 6)
        near = ring(0, 0, 1e6, 6)
        ref, got = run_both([rec(("Polygon", [far]), zoom=8, fid=0),
                             rec(("Polygon", [near]), zoom=8, fid=1)],
                            metatile_scale=8)
        assert ref == got

    def test_maxzoom_skips_rdp(self):
        wob = [1, .4, .9, .6, .3]
        recs = [rec(("Polygon", [ring(0, 0, 4e6, 14, wobble=wob)]),
                    zoom=3, fid=0)]
        ref, got = run_both(recs, global_maxzoom=3)
        assert ref == got and len(ref) > 0

    def test_props_carried(self):
        pdf = pd.DataFrame([rec(("Polygon", [ring(0, 0, 4e6, 8)]))])
        out, rag = process_general(pdf, ["tag"], 32, 8, 14, 8)
        assert set(out["tag"]) == {"t0"} and len(rag.code) == len(out)


def make_rand_geom(rng):
    """The fuzz diet: one callable returning a random geometry
    (or None) per call — shared by TestBatchParityFuzz and the
    end-to-end parity probe in tools/fuzz_e2e_parity.py."""
    def snap(x, g):
        return round(x / g) * g

    def rand_geom():
        kind = rng.choice(["ls", "poly", "mls", "mp", "concave",
                           "grid", "hole", "closedls", "star",
                           "dupheavy", "weird", "pinch", "spiky"])
        cx = rng.uniform(-MERC_MAX, MERC_MAX)
        cy = rng.uniform(-MERC_MAX, MERC_MAX)
        s = rng.uniform(1e2, 2e7)
        grid = rng.choice([None, 1e3, 1e5])

        def pt():
            x = cx + rng.uniform(-s, s)
            y = cy + rng.uniform(-s, s)
            if grid:
                x, y = snap(x, grid), snap(y, grid)
            return (x, y)

        if kind == "weird":
            r = rng.random()
            if r < 0.25:
                return None
            if r < 0.5:
                return ("Point", (cx, cy))
            if r < 0.75:
                return ("MultiPoint", [pt() for _ in range(3)])
            return ("LineString", [pt()])
        if kind == "closedls":
            ps = [pt() for _ in range(rng.randint(3, 6))]
            ps.append(ps[0])
            return ("LineString", ps)
        if kind == "pinch":
            # two wobbly lobes joined at ONE repeated vertex — the
            # shape class whose dissolve SPLITS (regression: the
            # wind-only repair must not claim these)
            p0 = pt()
            lobes = []
            for sgn in (1.0, -1.0):
                npts = rng.randint(3, 6)
                lob = [(p0[0] + sgn * abs(rng.uniform(0.2, 1)) * s
                        * math.cos(2 * math.pi * k / npts - 0.8),
                        p0[1] + rng.uniform(-0.6, 1) * s
                        * math.sin(2 * math.pi * k / npts))
                       for k in range(1, npts)]
                lobes.append(lob)
            ps = [p0] + lobes[0] + [p0] + lobes[1] + [p0]
            if rng.random() < 0.5:
                ps = ps[::-1]
            return ("Polygon", [ps])
        if kind == "dupheavy":
            base = [pt() for _ in range(4)]
            ps = []
            for p in base:
                ps.extend([p] * rng.randint(1, 3))
            ps.append(ps[0])
            return ("Polygon", [ps])
        if kind == "ls":
            return ("LineString",
                    [pt() for _ in range(rng.randint(2, 30))])
        if kind == "mls":
            return ("MultiLineString",
                    [[pt() for _ in range(rng.randint(2, 8))]
                     for _ in range(rng.randint(1, 4))])
        if kind == "star":
            npts = rng.randint(5, 9)
            r_ = [(cx + s * math.cos(4 * math.pi * k / npts),
                   cy + s * math.sin(4 * math.pi * k / npts))
                  for k in range(npts)]
            r_.append(r_[0])
            return ("Polygon", [r_])
        if kind == "spiky":
            # a long star ring, radius alternating s / inner*s: its
            # teeth collapse and touch once remapped, so its pieces fail
            # the certificate and take the scalar make_valid
            npts = rng.randint(40, 300)
            inner = rng.uniform(0.5, 0.95)
            r_ = [(cx + s * (inner if k % 2 else 1.0)
                   * math.cos(2 * math.pi * k / npts),
                   cy + s * (inner if k % 2 else 1.0)
                   * math.sin(2 * math.pi * k / npts))
                  for k in range(npts)]
            r_.append(r_[0])
            if rng.random() < 0.5:
                r_ = r_[::-1]
            return ("Polygon", [r_])
        if kind == "hole":
            npts = rng.randint(4, 10)
            ext = ring(cx, cy, s, npts, rev=rng.random() < .5)
            hole = ring(cx, cy, 0.3 * s, 5, rev=rng.random() < .5)
            return ("Polygon", [ext, hole])
        if kind in ("poly", "concave", "grid"):
            npts = rng.randint(3, 24)
            r_ = []
            for k in range(npts):
                a = 2 * math.pi * k / npts
                rr = s * (rng.uniform(0.2, 1.0)
                          if kind == "concave" else 1.0)
                x = cx + rr * math.cos(a)
                y = cy + rr * math.sin(a)
                if kind == "grid" or grid:
                    g = grid or 1e4
                    x, y = snap(x, g), snap(y, g)
                r_.append((x, y))
            r_.append(r_[0])
            if rng.random() < 0.5:
                r_ = r_[::-1]
            return ("Polygon", [r_])
        polys = []
        for _ in range(rng.randint(1, 4)):
            npts = rng.randint(3, 8)
            r0 = rng.uniform(1e3, 2e7)
            ox = cx + rng.uniform(-s, s)
            oy = cy + rng.uniform(-s, s)
            polys.append([ring(ox, oy, r0, npts)])
        return ("MultiPolygon", polys)
    return rand_geom


class TestBatchParityFuzz:
    # 6 baseline seeds + the 7 seeds whose rings hung the unbounded
    # make_valid noding loop before it was bounded (oscillating rounded
    # crossing nodes; see validity._make_rings_valid's divergence note)
    @pytest.mark.parametrize("seed", list(range(6)) + [
        10552, 11860, 36626, 45872, 45915, 64603, 67715, 73968, 82376,
        95337])
    def test_fuzz(self, seed):
        rng = random.Random(seed)

        rand_geom = make_rand_geom(rng)

        recs = []
        for i in range(200):
            g = rand_geom()
            zoom = rng.randint(0, 8)
            size = min(8, 1 << zoom)
            naxis = (1 << zoom) // size
            recs.append({"zoom": zoom,
                         "mtx": rng.randrange(max(naxis, 1)),
                         "mty": rng.randrange(max(naxis, 1)),
                         "feature_id": i,
                         "way": None if g is None else geom_to_wkb(g),
                         "tag": f"t{i % 7}"})
        gmax = rng.choice([4, 8, 14])
        ref, got = run_both(recs, global_maxzoom=gmax)
        assert ref == got
        assert len(ref) > 50  # the fuzz actually exercises the lane


class TestBatchParityMore:
    def test_nondefault_epsilon(self):
        # epsilon threads through the batch lane's RDP exactly
        wob = [1, .4, .9, .6, .3]
        recs = [rec(("Polygon", [ring(0, 0, 4e6, 18, wobble=wob)]),
                    zoom=z, fid=z) for z in range(4)]
        recs.append(rec(("LineString",
                         [(k * 3e5, (k % 3) * 2e5) for k in range(12)]),
                        zoom=2, fid=9))
        for eps in (1, 4, 30):
            ref, got = run_both(recs, epsilon=eps)
            assert ref == got and len(ref) > 0, eps

    def test_holes_through_multi_tile_slice(self):
        # polygon with holes big enough to fan across tiles: exercises
        # the boxed slice fallback + piece re-ingest with interior rings
        ext = ring(0, 0, 9e6, 14, wobble=[1, .6, .85])
        h1 = ring(-2e6, -2e6, 1.2e6, 6)
        h2 = ring(3e6, 3e6, 8e5, 5)
        for z in (2, 3, 4):
            ref, got = run_both([rec(("Polygon", [ext, h1, h2]),
                                     zoom=z)])
            assert ref == got and len(ref) > 0, z

    def test_closed_line_through_clip_fallback(self):
        # a huge closed linestring that straddles the metatile border
        # takes the boxed clip fallback as a LINE geometry
        ps = ring(0, 0, 2.5e7, 10)
        ref, got = run_both([rec(("LineString", ps), zoom=3)])
        assert ref == got

    def test_multipolygon_fan_with_member_far_away(self):
        # MP whose members land in different tiles: slice keeps them
        # together per tile piece; member death in a sub-branch
        polys = [[ring(-6e6, -6e6, 2e6, 7)], [ring(6e6, 6e6, 2e6, 9)]]
        ref, got = run_both([rec(("MultiPolygon", polys), zoom=2)])
        assert ref == got and len(ref) > 0
        # z4 metatile (0,0) is the NW quadrant — both members fall
        # outside and clip away; parity on the empty result still holds
        ref, got = run_both([rec(("MultiPolygon", polys), zoom=4)])
        assert ref == got == []


class TestWindOnlyRepairProperty:
    @pytest.mark.parametrize("seed", range(8))
    def test_dissolve_of_simple_ccw_ring_is_samestart_reversal(self, seed):
        """Pins the wind-only vectorized repair in _validate_emit: for a
        simple, despiked, strictly-CCW single ring, make_valid's dissolve
        emits exactly the same-start reversed ring as MultiPolygon."""
        from tileigi_spark.geom.validity import (make_valid, is_ccw,
                                                 has_self_intersections)
        from tileigi_spark.geom.simplify import remove_unneeded_points

        rng = random.Random(seed)
        checked = 0
        while checked < 150:
            n = rng.randint(3, 30)
            cx, cy = rng.randint(-2000, 2000), rng.randint(-2000, 2000)
            pts = []
            for k in range(n):
                a = 2 * math.pi * k / n
                r = rng.uniform(5, 1500)
                p = (cx + int(r * math.cos(a)),
                     cy + int(r * math.sin(a)))
                if not pts or p != pts[-1]:
                    pts.append(p)
            if len(pts) < 3:
                continue
            g = remove_unneeded_points(("Polygon", [pts + [pts[0]]]))
            if g is None or g[0] != "Polygon" or len(g[1]) != 1:
                continue
            r_ = g[1][0]
            if has_self_intersections(r_):
                continue
            if not is_ccw(r_):
                r_ = r_[::-1]
            if not is_ccw(r_):
                continue
            got = make_valid(("Polygon", [r_]))
            want = ("MultiPolygon",
                    [[[r_[0]] + list(reversed(r_[:-1]))[:-1] + [r_[0]]]])
            assert got == want
            checked += 1


class TestRdpNumpyTwin:
    """_rdp_keep walks every ring of a batch at once; each ring's mask
    must keep exactly simplify._rdp's vertices."""

    @staticmethod
    def _ring(rng, n, grid, closed):
        pts = []
        while len(pts) < n:
            p = (rng.randrange(-40000, 40000, grid),
                 rng.randrange(-40000, 40000, grid))
            if not pts or p != pts[-1]:
                pts.append(p)
        return pts + [pts[0]] if closed else pts

    @staticmethod
    def _ties(rng, n, eps):
        """A zigzag of equal amplitude: every interior vertex of the
        first span is equally far from the chord, so the last wins; at
        amplitude eps the distance sits on the wipe's strict bound."""
        a = rng.choice([eps, eps + 1, rng.randrange(20, 200)])
        return [(10 * k, a * (k % 2)) for k in range(n)]

    @pytest.mark.parametrize("seed", range(20))
    def test_rdp_mask_matches_scalar(self, seed):
        rng = random.Random(seed)
        eps = rng.choice([1, 4, 8, 30])
        rings = []
        for _ in range(40):
            n = rng.choice([3, 4, 7, 20, 60, 300, 2000])
            kind = rng.random()
            if kind < 0.2:
                rings.append(self._ties(rng, n, eps))
            else:
                # a coarse grid makes equal distances (ties) common
                rings.append(self._ring(rng, n, rng.choice([1, 5000]),
                                        kind < 0.6))
        want = []
        for pts in rings:
            try:
                want.append(_rdp(list(pts), eps))
            except ZeroDivisionError:  # all-collinear span: not lane input
                want.append(None)
        xs = np.array([x for r in rings for x, _ in r], np.int64)
        ys = np.array([y for r in rings for _, y in r], np.int64)
        off = np.cumsum([0] + [len(r) for r in rings])
        keep = _rdp_keep(xs, ys, off, np.arange(len(rings)), eps * eps)
        checked = 0
        for k, pts in enumerate(rings):
            if want[k] is not None:
                got = [p for p, kp in zip(pts, keep[off[k]:off[k + 1]])
                       if kp]
                assert got == want[k], k
                checked += 1
        assert checked >= 30


class TestChunkedBatches:
    """process_general splits oversized batches into _CHUNK_FEATURES
    slices (cache-resident temporaries); the piece SET must be
    identical to one unchunked pass — order is free, the encode
    exchange re-sorts canonically."""

    def _mixed(self, n=61):
        rng = random.Random(7)
        recs = []
        for i in range(n):
            cx = rng.uniform(-0.5, 0.5) * MERC_MAX
            cy = rng.uniform(-0.5, 0.5) * MERC_MAX
            wob = [0.4 + 0.6 * rng.random() for _ in range(5)]
            g = ("Polygon", [ring(cx, cy, rng.uniform(1e4, 3e6), 16,
                                  wobble=wob, rev=(i % 3 == 0))])
            recs.append(rec(g, zoom=rng.choice([2, 3, 4]),
                            mtx=rng.randint(0, 1), mty=rng.randint(0, 1),
                            fid=i))
        return recs

    def test_chunked_equals_unchunked(self, monkeypatch):
        import tileigi_spark.geom.batch as B
        pdf = pd.DataFrame(self._mixed())
        args = (["tag"], 32, 8, 14, 8)
        monkeypatch.setattr(B, "_CHUNK_FEATURES", 10 ** 9)
        whole = B.process_general(pdf, *args)
        monkeypatch.setattr(B, "_CHUNK_FEATURES", 7)
        chunked = B.process_general(pdf, *args)

        def rows(df):
            return sorted((int(r.zoom), int(r.x), int(r.y),
                           int(r.feature_id), bytes(r.geom), r.tag)
                          for r in with_wkb(df).itertuples())

        assert rows(whole) == rows(chunked)

    def test_chunked_forced_scalar_parity(self, monkeypatch):
        import tileigi_spark.geom.batch as B
        pdf = pd.DataFrame(self._mixed(23))
        args = (["tag"], 32, 8, 14, 8)
        monkeypatch.setattr(B, "_CHUNK_FEATURES", 5)
        chunked = B.process_general(pdf, *args)
        monkeypatch.setenv("SPARK_GRAFT_FORCE_SCALAR_GEOM", "1")
        scalar = B.process_general(pdf, *args)

        def rows(df):
            return sorted((int(r.zoom), int(r.x), int(r.y),
                           int(r.feature_id), bytes(r.geom), r.tag)
                          for r in with_wkb(df).itertuples())

        assert rows(chunked) == rows(scalar)


def pinched_ring(scale=3e5, flip=False):
    """Two simple CCW lobes joined at ONE repeated vertex (a pinch):
    every segment pair classifies NONE or END_TO_END — invisible to
    the self-intersection screen — yet make_valid's dissolve SPLITS
    the ring into two polygons. flip=True mirrors to CW."""
    pts = [(0, 0), (2, -1), (3, 1), (1, 2), (0, 0),
           (-1, 2), (-3, 1), (-2, -1), (0, 0)]
    sy = -1.0 if flip else 1.0
    return [(x * scale, y * scale * sy) for x, y in pts]


def _pinch_repro_recs(zoom=0):
    """The fuzz-found regression ring: vertex (2498,3332) repeats
    non-consecutively (a pinch), traversal reversed so the ring
    arrives needing the winding repair. In tile units at `zoom`,
    inverse-remapped to mercator input coordinates."""
    tile_pts = [(2311, 2918), (2319, 3192), (2275, 3292), (2064, 3468),
                (2498, 3332), (2377, 3724), (2540, 3556), (2779, 3690),
                (2498, 3332), (2952, 3304), (2887, 3097), (2710, 2982),
                (2512, 3105), (2311, 2918)][::-1]
    span = 2 * MERC_MAX / (1 << zoom)
    r = [(-MERC_MAX + x / 4096.0 * span, MERC_MAX - y / 4096.0 * span)
         for x, y in tile_pts]
    return [rec(("Polygon", [r]), zoom=zoom, fid=1)]


class TestPinchedRingRepair:
    """Regression: the wind-only in-place repair must NOT fire for a
    CCW ring with a repeated non-consecutive vertex — the scalar
    dissolve splits it into two polygons, a reversal cannot."""

    def test_ccw_pinched_ring_splits_like_scalar(self):
        ref, got = run_both(_pinch_repro_recs(zoom=0))
        assert ref == got and len(ref) > 0
        # prove the case exercises the split (guards test liveness)
        typ, data = wkb_to_geom(ref[0][4])
        assert typ == "MultiPolygon" and len(data) == 2

    def test_ccw_pinched_ring_splits_at_maxzoom(self):
        # global_maxzoom: RDP skipped, the pinch provably survives to
        # the validity stage
        ref, got = run_both(_pinch_repro_recs(zoom=14))
        assert ref == got and len(ref) > 0
        typ, data = wkb_to_geom(ref[0][4])
        assert typ == "MultiPolygon" and len(data) == 2

    def test_cw_pinched_ring_parity(self):
        # CW pinch: winding is fine, certificate-clean path must agree
        # with the scalar chain (which skips the dissolve entirely)
        recs = [rec(("Polygon", [pinched_ring(flip=True)]), zoom=0,
                    fid=2)]
        ref, got = run_both(recs)
        assert ref == got and len(ref) > 0

    def test_pinch_variants_parity(self):
        recs = []
        fid = 0
        for z in (0, 2, 4):
            for scale in (2e5, 9e5):
                for flip in (False, True):
                    recs.append(rec(("Polygon",
                                     [pinched_ring(scale, flip)]),
                                    zoom=z, fid=fid))
                    fid += 1
        ref, got = run_both(recs)
        assert ref == got and len(ref) > 0


class TestBlockedIntersectionScreen:
    """The certificate tests only the segment pairs whose bboxes overlap
    (validity.segment_pairs, in blocks of at most _PAIR_BLOCK
    candidates); its classification must match an all-pairs walk at any
    block size."""

    def _recs(self):
        recs = [rec(("Polygon", [ring(0, 0, 3e6, 24,
                                      wobble=[1, .3, .8, .5])]),
                    zoom=2, fid=0),
                # doubly-wound star: genuinely self-intersecting
                rec(("Polygon", [ring(0, 0, 2e6, 18,
                                      wobble=[1, .2] * 9, rot=0.3)]),
                    zoom=3, fid=1),
                rec(("Polygon", [pinched_ring()]), zoom=0, fid=2)]
        return recs

    def test_blocked_equals_allpairs(self, monkeypatch):
        import tileigi_spark.geom.batch as B
        import tileigi_spark.geom.validity as V
        pdf = pd.DataFrame(self._recs())
        args = (["tag"], 32, 8, 14, 8)
        whole = B.process_general(pdf, *args)
        monkeypatch.setattr(V, "_PAIR_BLOCK", 4)  # many small blocks
        blocked = B.process_general(pdf, *args)

        def rows(df):
            return sorted((int(r.zoom), int(r.x), int(r.y),
                           int(r.feature_id), bytes(r.geom))
                          for r in with_wkb(df).itertuples())

        assert rows(whole) == rows(blocked) and len(rows(whole)) > 0

    def test_flags_equal_on_random_rings(self, monkeypatch):
        import numpy as np
        import tileigi_spark.geom.batch as B
        import tileigi_spark.geom.validity as V
        rng = random.Random(11)
        us, vs, off = [], [], [0]
        for i in range(30):
            if i % 5 == 4:  # bowtie: segments genuinely cross
                pts = [(0.0, 0.0), (2.0, 2.0), (2.0, 0.0), (0.0, 2.0),
                       (0.0, 0.0)]
            else:
                npts = rng.randint(5, 40)
                wob = [0.3 + 0.7 * rng.random() for _ in range(npts)]
                pts = ring(rng.uniform(-5, 5), rng.uniform(-5, 5),
                           rng.uniform(1, 4), npts, wobble=wob,
                           rot=rng.random())
            us.extend(p[0] for p in pts)
            vs.extend(p[1] for p in pts)
            off.append(len(us))
        u = np.asarray(us)
        v = np.asarray(vs)
        offa = np.asarray(off, dtype=np.int64)
        check = np.ones(len(offa) - 1, dtype=bool)
        # the oracle: every segment pair of every ring
        allpairs = np.zeros(len(offa) - 1, dtype=bool)
        for r in range(len(offa) - 1):
            pi, pj = np.triu_indices(int(offa[r + 1] - offa[r]) - 1, k=1)
            a, b = pi + offa[r], pj + offa[r]
            allpairs[r] = B._seg_pairs_bad(u[a], v[a], u[a + 1], v[a + 1],
                                           u[b], v[b], u[b + 1],
                                           v[b + 1]).any()
        assert allpairs.any() and not allpairs.all()
        swept = B._self_intersection_flags(u, v, offa, check)
        assert (allpairs == swept).all()
        monkeypatch.setattr(V, "_PAIR_BLOCK", 3)
        blocked = B._self_intersection_flags(u, v, offa, check)
        assert (allpairs == blocked).all()
