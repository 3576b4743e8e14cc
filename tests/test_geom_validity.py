"""Ports of reference validity.rs unit tests (validity.rs:1258-2255)."""

import pytest

from tileigi_spark.geom.validity import (
    intersection, has_self_intersections, is_valid,
    add_points_for_all_crossings, dissolve_into_rings,
    does_ray_cross, is_ring_ext_int, convert_rings_to_polygons,
    order_points, distribute_interiors, make_valid,
    _is_polygon_valid, _is_linestring_valid, _make_rings_valid,
    CROSS_NO, CROSS_YES, CROSS_TOUCHES, CROSS_ONE_END_BELOW,
    CROSS_ONE_END_ABOVE,
    NONE, OVERLAPPING, END_TO_END, TOUCHING, CROSSING,
)


def I(*args):
    return intersection(*args)


class TestIntersection:
    def test_intersect1(self):  # validity.rs:1263-1307
        assert I(0, 0, 0, 10, 5, 1, 5, 2) == (NONE, None)
        assert I(0, 0, 0, 10, 0, 5, 5, 5) == (TOUCHING, (0, 5))

        assert I(0, 0, 0, 10, 0, 0, 0, 10) == (OVERLAPPING, ((0, 0), (0, 10)))
        assert I(0, 0, 0, 10, 0, 5, 0, 10) == (OVERLAPPING, ((0, 5), (0, 10)))
        assert I(0, 0, 0, 10, 0, 5, 0, 15) == (OVERLAPPING, ((0, 5), (0, 10)))
        assert I(0, 0, 0, 10, 0, 0, 0, 5) == (OVERLAPPING, ((0, 5), (0, 0)))
        assert I(0, 0, 0, 10, 0, 2, 0, 8) == (OVERLAPPING, ((0, 2), (0, 8)))
        assert I(0, 2, 0, 8, 0, 0, 0, 10) == (OVERLAPPING, ((0, 2), (0, 8)))

        assert I(0, 0, 0, 10, 0, 10, 1, 20) == (END_TO_END, None)
        assert I(0, 0, 0, 10, 0, 10, 0, 20) == (END_TO_END, None)
        assert I(0, 0, 0, 10, 1, 10, 0, 10) == (END_TO_END, None)

        assert I(0, 0, 0, 1, 0, 1, 1, 1) == (END_TO_END, None)
        assert I(0, 0, 0, 1, 1, 1, 0, 1) == (END_TO_END, None)
        assert I(0, 1, 0, 0, 0, 1, 1, 1) == (END_TO_END, None)
        assert I(0, 1, 0, 0, 1, 1, 0, 1) == (END_TO_END, None)

        assert I(0, 0, 0, 10, 1, 10, 1, 20) == (NONE, None)
        assert I(0, 0, 0, 10, 1, 20, 1, 40) == (NONE, None)

        assert I(0, 0, 0, 10, -5, 5, 5, 5) == (CROSSING, (0, 5))
        assert I(0, 0, 0, 10, -5, 1, 5, 1) == (CROSSING, (0, 1))

        assert I(0, 0, 10, 0, 10, 0, 10, 10) == (END_TO_END, None)
        assert I(-5, 5, 5, 5, 0, 0, 0, 10) == (CROSSING, (0, 5))
        assert I(0, 0, 10, 0, 5, 10, 5, -10) == (CROSSING, (5, 0))

        assert I(0, 0, 1, 1, 1, 0, 0, 1) == (CROSSING, (0, 0))

    def test_intersect2(self):  # :1310-1320
        assert not has_self_intersections([(0, 0), (1, 0)])
        assert not has_self_intersections([(0, 0), (1, 0), (2, 0)])
        assert not has_self_intersections(
            [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (5, 0)])
        assert has_self_intersections([(0, 0), (10, 0), (10, 10), (5, 10), (5, -10)])
        assert not has_self_intersections([(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)])

    def test_intersect3(self):  # :1323
        assert I(4, 0, 2, -1, 2, 1, 0, 0) == (NONE, None)

    def test_intersect4(self):  # :1326-1332
        assert I(0, 0, 4, 0, 2, -1, 2, 0) == (TOUCHING, (2, 0))
        assert I(0, 0, 4, 0, 2, 0, 2, 1) == (TOUCHING, (2, 0))
        assert I(2, -1, 2, 0, 0, 0, 4, 0) == (TOUCHING, (2, 0))
        assert I(2, 0, 2, 1, 0, 0, 4, 0) == (TOUCHING, (2, 0))

    def test_intersect5(self):  # :1335-1338
        assert I(0, 0, 4, 0, 1, -1, 1, 1) == (CROSSING, (1, 0))
        assert I(0, 0, 4, 0, 2, -1, 2, 1) == (CROSSING, (2, 0))

    def test_intersect6(self):  # :1341-1347
        assert I(0, 0, 10, 10, 1, 2, 6, 7) == (NONE, None)
        assert I(1, 2, 6, 7, 0, 0, 10, 10) == (NONE, None)
        assert I(10, 10, 0, 0, 6, 7, 1, 2) == (NONE, None)
        assert I(6, 7, 1, 2, 10, 10, 0, 0) == (NONE, None)

    def test_intersect7(self):  # :1350-1353
        assert I(0, 0, 10, 10, 1, 2, 1, 5) == (NONE, None)

    def test_intersect8(self):  # :1356-1362
        assert I(1, 2, 1, 1, 1, 3, 1, 2) == (END_TO_END, None)
        assert I(1, 1, 1, 2, 1, 3, 1, 2) == (END_TO_END, None)
        assert I(1, 2, 1, 1, 1, 2, 1, 3) == (END_TO_END, None)
        assert I(1, 1, 1, 2, 1, 2, 1, 3) == (END_TO_END, None)

    @staticmethod
    def _overlapping(p1, p2, p3, p4, res1, res2):
        for (a, b) in ((p1, p2), (p2, p1)):
            for (c, d) in ((p3, p4), (p4, p3)):
                tag, payload = I(a[0], a[1], b[0], b[1], c[0], c[1], d[0], d[1])
                assert tag == OVERLAPPING
                assert payload in ((res1, res2), (res2, res1))

    def test_intersect10(self):  # :1379-1391
        self._overlapping((0, 2), (0, 0), (0, 0), (0, 1), (0, 0), (0, 1))
        self._overlapping((2, 0), (0, 0), (0, 0), (1, 0), (0, 0), (1, 0))
        self._overlapping((0, 0), (5, 0), (-5, 0), (1, 0), (0, 0), (1, 0))
        self._overlapping((0, 0), (0, 5), (0, -5), (0, 1), (0, 0), (0, 1))
        self._overlapping((-10, -10), (10, 10), (0, 0), (5, 5), (0, 0), (5, 5))
        self._overlapping((0, 0), (10, 10), (0, 0), (5, 5), (0, 0), (5, 5))

    def test_intersect11(self):  # :1394-1396
        self._overlapping((0, 0), (10, 0), (10, 0), (-2, 0), (0, 0), (10, 0))

    def test_intersect12(self):  # :1399-1409
        assert I(0, 0, 1, 1, 1, 0, 0, 1) == (CROSSING, (0, 0))
        assert I(1, 1, 0, 0, 1, 0, 0, 1) == (CROSSING, (1, 1))
        assert I(0, 0, 1, 1, 0, 1, 1, 0) == (CROSSING, (0, 0))
        assert I(1, 1, 0, 0, 0, 1, 1, 0) == (CROSSING, (1, 1))
        assert I(3, 1, 4, 0, 3, 0, 4, 1) == (CROSSING, (3, 1))
        assert I(75, 43, 76, 42, 75, 42, 76, 43) == (CROSSING, (75, 43))
        assert I(1975, 1243, 1976, 1242, 1975, 1242, 1976, 1243) == \
            (CROSSING, (1975, 1243))

    def test_intersect13(self):  # :1412-1419
        for args in [(2875, 1992, 2905, 1972, 2944, 1990, 2902, 1974),
                     (2905, 1972, 2875, 1992, 2944, 1990, 2902, 1974),
                     (2875, 1992, 2905, 1972, 2902, 1974, 2944, 1990),
                     (2905, 1972, 2875, 1992, 2902, 1974, 2944, 1990)]:
            assert I(*args) == (TOUCHING, (2902, 1974))

    def test_intersect14(self):  # :1422-1427
        assert I(15920, 23516, 16400, 23996, 16400, 24122, 16022, 23318) == \
            (CROSSING, (16288, 23884))

    def test_intersect15(self):  # :1430-1432
        assert I(20480, 23619, 24576, 21764, 24576, 21328, 21328, 24576) == \
            (CROSSING, (23779, 22125))


class TestValidityChecks:
    def test_basic(self):  # :1435-1455
        assert not _is_linestring_valid([])
        assert not _is_linestring_valid([(0, 0)])
        assert _is_linestring_valid([(0, 0), (4, 0), (2, -1), (2, 1)])
        assert has_self_intersections([(0, 0), (4, 0), (2, -1), (2, 1), (0, 0)])
        assert has_self_intersections(
            [(0, 0), (4, 0), (2, -1), (2, 0), (2, 1), (0, 0)])
        assert _is_polygon_valid([[(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]])
        assert not _is_polygon_valid([[(0, 0), (0, 1), (1, 1), (1, 0)]])
        touching_inner = [(0, 0), (0, 2), (1, 2), (1, 1), (2, 1), (2, 3),
                          (1, 3), (1, 2), (0, 2), (0, 4), (3, 4), (3, 0), (0, 0)]
        assert not _is_polygon_valid([touching_inner])


class TestMakeValid:
    def test_make_valid1(self):  # :1458-1467
        unit_square = [(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]
        polys = _make_rings_valid([unit_square])
        assert len(polys) == 1
        assert _is_polygon_valid(polys[0])
        assert polys[0][0] == unit_square

    def test_make_valid2(self):  # :1470-1490 figure-8 -> poly + hole
        a = (0, 0); b = (6, 0); c = (6, 4); d = (0, 4)
        e = (0, 2); f = (2, 2); g = (2, 1); h = (4, 1)
        i = (4, 3); j = (2, 3)
        rings = [[a, b, c, d, e, f, j, i, h, g, f, e, a]]
        assert not _is_polygon_valid(rings)
        polys = _make_rings_valid(rings)
        assert len(polys) == 1
        assert _is_polygon_valid(polys[0])
        assert polys[0][0] == [a, d, c, b, a]
        assert polys[0][1:] == [[g, h, i, j, g]]

    def test_make_valid3(self):  # :1493-1514 already-valid passthrough
        a = (0, 0); b = (6, 0); c = (6, 4); d = (0, 4)
        g = (2, 1); h = (4, 1); i = (4, 3); j = (2, 3)
        rings = [[a, d, c, b, a], [g, h, i, j, g]]
        assert _is_polygon_valid(rings)
        g2 = make_valid(("Polygon", rings))
        assert g2 == ("Polygon", rings)

    def test_make_valid5(self):  # :1554-1579 touching at point -> 2 polys
        a = (2, 0); b = (4, 0); c = (4, 6)
        d = (2, 4); e = (2, 6); f = (0, 6); g = (0, 4)
        polys = _make_rings_valid([[a, d, g, f, e, d, c, b, a]])
        assert len(polys) == 2
        assert polys[0] == [[d, g, f, e, d]]
        assert _is_polygon_valid(polys[0])
        assert polys[1] == [[a, d, c, b, a]]
        assert _is_polygon_valid(polys[1])

    def test_make_valid6(self):  # :1582-1594 real-world bowtie -> 3 triangles
        p = ("Polygon", [[(3045, 3309), (3044, 3308), (3031, 3316),
                          (3039, 3304), (3026, 3314), (3045, 3309)]])
        assert not is_valid(p)
        out = make_valid(p)
        assert out is not None
        assert is_valid(out)
        assert out == ("MultiPolygon", [
            [[(3033, 3312), (3039, 3304), (3026, 3314), (3033, 3312)]],
            [[(3041, 3310), (3033, 3312), (3031, 3316), (3041, 3310)]],
            [[(3045, 3309), (3044, 3308), (3041, 3310), (3045, 3309)]],
        ])

    def test_oscillating_ring_terminates(self):
        """Fuzz-found (seed 10552 of the batch-lane fuzz): a pinched ring
        with crossings whose rounded crossing nodes OSCILLATE — the
        reference's unbounded noding loop (validity.rs:540-566, its own
        FIXME) re-adds and re-dissolves the same points forever. The
        bounded loop must terminate and emit only valid polygons."""
        ring = [(3469, 351), (3561, 237), (3455, 382), (3403, 356),
                (3422, 314), (3469, 351), (3387, 350), (3491, 351),
                (3517, 412), (3469, 351)]
        out = make_valid(("Polygon", [ring]))
        # terminated (the old code never returned); every emitted
        # polygon is individually valid
        if out is not None:
            assert out[0] == "MultiPolygon"
            for rings in out[1]:
                assert is_valid(("Polygon", rings))


class TestAddPoints:
    def test_no_change(self):  # :1621-1624
        for pts in ([(0, 0)],
                    [(0, 0), (4, 0), (2, -1)],
                    [(0, 0), (2, 0), (4, 0), (2, -1), (2, 0), (2, 1), (0, 0)]):
            assert add_points_for_all_crossings(pts) == pts

    def test_changes(self):  # :1626-1627
        assert add_points_for_all_crossings(
            [(0, 0), (4, 0), (2, -1), (2, 0), (2, 1), (0, 0)]) == \
            [(0, 0), (2, 0), (4, 0), (2, -1), (2, 0), (2, 1), (0, 0)]
        assert add_points_for_all_crossings(
            [(0, 0), (4, 0), (2, -1), (2, 1)]) == \
            [(0, 0), (2, 0), (4, 0), (2, -1), (2, 0), (2, 1)]

    def test_crossings2(self):  # :1631-1633
        assert add_points_for_all_crossings(
            [(0, 0), (10, 0), (5, 0), (5, 10), (0, 0)]) == \
            [(0, 0), (5, 0), (10, 0), (5, 0), (5, 10), (0, 0)]

    def test_crossings3(self):  # :1635-1637
        assert add_points_for_all_crossings(
            [(0, 0), (10, 0), (-2, 0), (-2, 10), (0, 0)]) == \
            [(0, 0), (10, 0), (0, 0), (-2, 0), (-2, 10), (0, 0)]

    def test_crossings4(self):  # :1639-1643
        assert add_points_for_all_crossings(
            [(0, 0), (100, 0), (100, 100), (70, 0), (50, 0), (0, 100), (0, 0)]) == \
            [(0, 0), (50, 0), (70, 0), (100, 0), (100, 100), (70, 0), (50, 0),
             (0, 100), (0, 0)]

    def test_crossings5(self):  # :1645-1649
        assert add_points_for_all_crossings(
            [(0, 0), (100, 0), (110, 100), (110, 0), (50, 0), (0, 100), (0, 0)]) == \
            [(0, 0), (50, 0), (100, 0), (110, 100), (110, 0), (100, 0), (50, 0),
             (0, 100), (0, 0)]

    def test_crossings6(self):  # :1652-1656
        assert add_points_for_all_crossings(
            [(3045, 3309), (3044, 3308), (3031, 3316), (3039, 3304),
             (3026, 3314), (3045, 3309)]) == \
            [(3045, 3309), (3044, 3308), (3041, 3310), (3031, 3316),
             (3033, 3312), (3039, 3304), (3026, 3314), (3033, 3312),
             (3041, 3310), (3045, 3309)]


class TestDissolve:
    def test_rings1(self):  # :1659-1687
        sq = [(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]
        assert dissolve_into_rings(sq) == [sq]

        a = (2, 0); b = (4, 0); c = (4, 6)
        d = (2, 4); e = (2, 6); f = (0, 6); g = (0, 4)
        result = dissolve_into_rings([a, d, g, f, e, d, c, b, a])
        assert result == [[d, g, f, e, d], [a, d, c, b, a]]

    def test_rings2(self):  # :1690-1704
        a = (0, 0); b = (2, 0); c = (3, 0); d = (1, 1)
        assert dissolve_into_rings([a, b, a]) == []
        assert dissolve_into_rings([a, b, c, b, d, a]) == [[a, b, d, a]]

    def test_rings3(self):  # :1707-1726
        a = (0, 0); c = (2, 0); b = (1, 1); d = (2, 1); e = (1, 2); f = (2, 2)
        result = dissolve_into_rings([a, b, c, d, b, e, f, d, c, a])
        assert result == [[b, c, d, b], [a, b, e, f, c, a]]

    def test_rings4(self):  # :1729-1748
        a = (0, 0); b = (6, 0); c = (6, 4); d = (0, 4)
        e = (0, 2); f = (2, 2); g = (2, 1); h = (4, 1); i = (4, 3); j = (2, 3)
        result = dissolve_into_rings([a, b, c, d, e, f, g, h, i, j, f, e, a])
        assert result == [[j, g, h, i, j], [a, b, c, d, a]]

    def test_rings5(self):  # :1751-1780 real-world 19-point
        pts = [(31071, 21260), (31071, 21259), (31071, 21258), (31072, 21258),
               (31072, 21259), (31071, 21259), (31071, 21260), (31072, 21260),
               (31072, 21262), (31073, 21262), (31073, 21264), (31074, 21264),
               (31074, 21265), (31073, 21265), (31073, 21264), (31072, 21264),
               (31072, 21262), (31071, 21262), (31071, 21260)]
        result = dissolve_into_rings(pts)
        assert result == [
            [(31071, 21259), (31071, 21258), (31072, 21258), (31072, 21259),
             (31071, 21259)],
            [(31073, 21264), (31074, 21264), (31074, 21265), (31073, 21265),
             (31073, 21264)],
            [(31072, 21262), (31073, 21262), (31073, 21264), (31072, 21264),
             (31072, 21262)],
            [(31071, 21260), (31072, 21260), (31072, 21262), (31071, 21262),
             (31071, 21260)],
        ]

    def test_rings6(self):  # :1783-1797
        b = (0, 0); c = (5, 0); a = (0, 5); e = (0, 10); d = (5, 10)
        result = dissolve_into_rings([a, b, c, a, d, e, a])
        assert result == [[a, b, c, a], [a, d, e, a]]

    def test_rings7(self):  # :1800-1813
        a = (0, 0); b = (3, 0); c = (6, 0); d = (10, 0); e = (12, 0)
        f = (1, 1); g = (5, 1); h = (6, 2); i = (12, 2)
        result = dissolve_into_rings([a, f, b, c, d, g, c, h, i, e, d, c, b, a])
        # NOTE: the reference's inline expectation (validity.rs:1811-1812)
        # is stale; executing the reference CODE (standalone Rust harness)
        # yields these three rings. We pin actual code behavior.
        assert result == [[c, d, g, c], [c, h, i, e, c], [a, f, b, a]]

    def test_rings8(self):  # :1816-1833
        a = (0, 0); b = (30, 0)
        i = (10, 10); h = (20, 10)
        e = (0, 20); f = (10, 30); g = (20, 30)
        d = (0, 30); c = (30, 30)
        result = dissolve_into_rings([a, b, c, d, e, f, g, h, f, i, e, a])
        assert result == [[f, g, h, f], [e, f, i, e], [a, b, c, d, a]]

    def test_rings9(self):  # :1836-1843
        pts = [(23225, 13212), (23237, 13209), (23222, 13204), (23225, 13212),
               (23226, 13212), (23225, 13212), (23206, 13220), (23214, 13203),
               (23246, 13189), (23251, 13210), (23224, 13230), (23225, 13212)]
        result = dissolve_into_rings(pts)
        assert result == [
            [(23225, 13212), (23237, 13209), (23222, 13204), (23225, 13212)],
            [(23225, 13212), (23206, 13220), (23214, 13203), (23246, 13189),
             (23251, 13210), (23224, 13230), (23225, 13212)],
        ]

    def test_rings10(self):  # :1846-1860
        b = (0, 0); c = (5, 0); a = (0, 5); e = (0, 10); d = (5, 10)
        result = dissolve_into_rings([b, c, a, d, e, a, b])
        assert result == [[a, d, e, a], [b, c, a, b]]

    def test_rings11(self):  # :1863-1880
        b = (0, 0); c = (5, 0); a = (0, 5); d = (0, 10); e = (0, 15); f = (5, 15)
        result = dissolve_into_rings([b, c, a, d, e, f, d, a, b])
        # NOTE: reference inline expectation (validity.rs:1878-1879) is
        # stale; the reference CODE (standalone Rust harness) yields:
        assert result == [[d, e, f, d], [b, c, a, b]]

    def test_rings12(self):  # :1883-1903
        a = (0, 0); b = (2, 0)
        c = (0, 1); d = (1, 1); e = (2, 1)
        h = (2, 2); f = (1, 3); g = (2, 3); i = (1, 4)
        result = dissolve_into_rings([a, c, d, f, g, h, f, i, f, d, e, b, a])
        assert result == [[f, g, h, f], [a, c, e, b, a]]


class TestRingClassification:
    def test_convert1(self):  # :1907-1912
        assert convert_rings_to_polygons([]) is None
        sq = [(0, 0), (0, 1), (1, 1), (1, 0), (0, 0)]
        assert convert_rings_to_polygons([sq]) == [[sq]]

    def test_convert2(self):  # :1915-1933
        a = (0, 0); b = (6, 0); c = (6, 4); d = (0, 4)
        e = (0, 2); f = (2, 2); g = (2, 1); h = (4, 1); i = (4, 3); j = (2, 3)
        outer = [a, b, c, d, e, a]
        inner = [g, h, i, j, f, g]
        assert convert_rings_to_polygons([outer, inner]) == [[outer, inner]]

    def test_convert3(self):  # :1936-1952
        a = (0, 0); b = (30, 0)
        i = (10, 10); h = (20, 10)
        e = (0, 20); f = (10, 30); g = (20, 30)
        d = (0, 30); c = (30, 30)
        inner1 = [f, g, h, f]
        inner2 = [e, f, i, e]
        outer = [a, b, c, d, a]
        assert convert_rings_to_polygons([outer, inner1, inner2]) == \
            [[outer, inner1, inner2]]

    def test_does_ray_cross1(self):  # :1955-1972
        def know(p1, p2, res):
            assert does_ray_cross((0, 0), p1, p2) == res

        know((1, 1), (10, 10), CROSS_NO)
        know((1, 0), (2, 0), CROSS_NO)
        know((-10, 10), (-10, 20), CROSS_NO)
        know((-10, -10), (-10, -20), CROSS_NO)
        know((0, 0), (10, 10), CROSS_TOUCHES)
        know((10, 1), (0, 0), CROSS_TOUCHES)
        know((-10, 0), (-5, 0), CROSS_TOUCHES)
        know((-10, 10), (-10, -10), CROSS_YES)

    def test_does_ray_cross2(self):  # :1975-1981
        assert does_ray_cross((1, 2), (0, 0), (0, 2)) == CROSS_ONE_END_BELOW
        assert does_ray_cross((1, 2), (0, 2), (0, 0)) == CROSS_ONE_END_BELOW
        assert does_ray_cross((1, 2), (0, 5), (0, 2)) == CROSS_ONE_END_ABOVE
        assert does_ray_cross((1, 2), (0, 2), (0, 5)) == CROSS_ONE_END_ABOVE

    def test_does_ray_cross3(self):  # :1984-1987
        assert does_ray_cross((50, 3), (50, 2), (49, 3)) == CROSS_ONE_END_BELOW
        assert does_ray_cross((50, 3), (49, 3), (50, 2)) == CROSS_ONE_END_BELOW

    def test_does_ray_cross4(self):  # :1990-1998
        assert does_ray_cross((0, 0), (1, 0), (0, 1)) == CROSS_NO
        assert does_ray_cross((0, 0), (0, 1), (1, 0)) == CROSS_NO
        assert does_ray_cross((0, 0), (-1, 0), (0, -1)) == CROSS_ONE_END_BELOW
        assert does_ray_cross((0, 0), (0, -1), (-1, 0)) == CROSS_ONE_END_BELOW
        assert does_ray_cross((0, 0), (0, -1), (1, 0)) == CROSS_NO
        assert does_ray_cross((0, 0), (1, 0), (0, -1)) == CROSS_NO

    def test_does_ray_cross5(self):  # :2001-2004
        assert does_ray_cross((0, 0), (-5, 5), (0, 5)) == CROSS_NO
        assert does_ray_cross((0, 0), (-5, 5), (3, 1)) == CROSS_NO

    def test_does_ray_cross6(self):  # :2007-2013
        assert does_ray_cross((0, 0), (0, 0), (0, 5)) == CROSS_TOUCHES
        assert does_ray_cross((0, 0), (0, 5), (0, 0)) == CROSS_TOUCHES
        assert does_ray_cross((0, 0), (0, 5), (0, -5)) == CROSS_TOUCHES
        assert does_ray_cross((0, 0), (-1, 1), (1, -1)) == CROSS_TOUCHES

    def test_calc_rings1(self):  # :2016-2051
        a = (0, 0); b = (6, 0); c = (6, 4); d = (0, 4)
        g = (2, 1); h = (4, 1); i = (4, 3); j = (2, 3)
        unit_square = [a, b, c, d, a]
        inner_square = [g, h, i, j, g]

        assert is_ring_ext_int(unit_square, 0, [unit_square])
        rings = [unit_square, inner_square]
        assert is_ring_ext_int(unit_square, 0, rings)
        assert not is_ring_ext_int(inner_square, 1, rings)
        rings = [inner_square, unit_square]
        assert not is_ring_ext_int(inner_square, 0, rings)
        assert is_ring_ext_int(unit_square, 1, rings)

    def test_calc_rings2(self):  # :2053-2071
        ring1 = [(1, 2), (1, 1), (2, 1), (2, 3), (1, 3), (1, 2)]
        ring2 = [(0, 0), (0, 2), (0, 4), (3, 4), (3, 0), (0, 0)]
        rings = [ring1, ring2]
        assert not is_ring_ext_int(ring1, 0, rings)
        assert is_ring_ext_int(ring2, 1, rings)

    def test_is_ring_ext_int1(self):  # :2101-2120
        a = (0, 0); b = (30, 0)
        i = (10, 10); h = (20, 10)
        e = (0, 20); f = (10, 30); g = (20, 30)
        d = (0, 30); c = (30, 30)
        inner1 = [f, g, h, f]
        inner2 = [e, f, i, e]
        outer = [a, b, c, d, a]
        rings = [outer, inner1, inner2]
        assert is_ring_ext_int(outer, 0, rings)
        assert not is_ring_ext_int(inner1, 1, rings)
        assert not is_ring_ext_int(inner2, 2, rings)


class TestOrderPoints:
    def test_order_points1(self):  # :2124-2138
        assert order_points(((0, 0), (10, 0)), (5, 0), (1, 0)) == 1
        assert order_points(((0, 0), (10, 0)), (1, 0), (5, 0)) == -1
        assert order_points(((10, 0), (0, 0)), (1, 0), (5, 0)) == 1
        assert order_points(((10, 0), (0, 0)), (5, 0), (1, 0)) == -1
        assert order_points(((0, 0), (10, 0)), (0, 0), (10, 0)) == -1
        assert order_points(((0, 0), (10, 0)), (10, 0), (0, 0)) == 1
        assert order_points(((0, 0), (10, 0)), (0, 0), (5, 0)) == -1
        assert order_points(((0, 0), (10, 0)), (5, 0), (0, 0)) == 1
        assert order_points(((0, 0), (10, 0)), (5, 0), (10, 0)) == -1
        assert order_points(((0, 0), (10, 0)), (10, 0), (5, 0)) == 1

    def test_order_points2(self):  # :2141-2143
        assert order_points(((29147, 10518), (17365, 10520)),
                            (-16552, 10518), (-4238, 10518)) == 0


class TestMakeRingsValid:
    def test_make_rings_valid1(self):  # :2146-2161
        a = (0, 0); b = (1, 0); f = (2, 0); e = (3, 0)
        h = (0, 1); g = (1, 1); c = (2, 1); d = (3, 1)
        valid = _make_rings_valid([[a, b, c, d, e, f, g, h, a]])
        assert len(valid) == 2
        assert valid[0] == [[b, c, d, e, b]]
        assert valid[1] == [[a, h, g, b, a]]


class TestDistributeInteriors:
    def test_distribute1(self):  # :2164-2183
        distribute_interiors([], [])  # no-op

    def test_distribute2_panics(self):  # :2186-2194
        with pytest.raises(AssertionError):
            distribute_interiors([], [[(0, 0), (6, 0), (6, 4), (0, 4), (0, 0)]])

    def test_distribute3_panics(self):  # :2197-2209
        sq = [(0, 0), (6, 0), (6, 4), (0, 4), (0, 0)]
        inner = [(2, 1), (4, 1), (4, 3), (2, 3), (2, 1)]
        with pytest.raises(AssertionError):
            distribute_interiors([[sq, inner]], [])

    def test_distribute4(self):  # :2212-2229
        sq = [(0, 0), (6, 0), (6, 4), (0, 4), (0, 0)]
        inner = [(2, 1), (4, 1), (4, 3), (2, 3), (2, 1)]
        polys = [[sq]]
        distribute_interiors(polys, [inner])
        assert polys == [[sq, inner]]

    def test_distribute5(self):  # :2232-2254
        sq = [(0, 0), (6, 0), (6, 4), (0, 4), (0, 0)]
        inner = [(2, 1), (4, 1), (4, 3), (2, 3), (2, 1)]
        right = [(10, 0), (12, 0), (12, 2), (10, 2), (10, 0)]
        polys = [[sq], [right]]
        distribute_interiors(polys, [inner])
        assert polys == [[sq, inner], [right]]


class TestAxisRectFastPath:
    """The axis-rect shortcuts in has_self_intersections and make_valid
    must be byte-equivalent to the slow path (fast path disabled by
    monkeypatching the detector) over random bounds, starts, windings."""

    @staticmethod
    def _rect_ring(x0, y0, x1, y1, start, cw):
        pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        if not cw:
            pts = pts[::-1]
        pts = pts[start:] + pts[:start]
        return pts + [pts[0]]

    def test_detector(self):
        from tileigi_spark.geom.validity import _is_axis_rect_ring

        assert _is_axis_rect_ring(self._rect_ring(0, 0, 5, 7, 2, False))
        # not closed / degenerate / diagonal edge / collinear extra point
        assert not _is_axis_rect_ring([(0, 0), (5, 0), (5, 7), (0, 7)])
        assert not _is_axis_rect_ring(
            [(0, 0), (5, 0), (5, 0), (0, 0), (0, 0)])
        assert not _is_axis_rect_ring(
            [(0, 0), (5, 1), (5, 7), (0, 7), (0, 0)])
        assert not _is_axis_rect_ring(
            [(0, 0), (3, 0), (5, 0), (5, 7), (0, 0)])

    def test_matches_slow_path(self, monkeypatch):
        import random

        from tileigi_spark.geom import validity

        random.seed(20260817)
        cases = []
        for _ in range(400):
            x0, x1 = sorted(random.sample(range(-33000, 33001), 2))
            y0, y1 = sorted(random.sample(range(-33000, 33001), 2))
            cases.append((x0, y0, x1, y1,
                          random.randrange(4), random.random() < 0.5))
        # include tiny rects and full-extent rects (shoelace i32 wrap)
        cases += [(0, 0, 1, 1, s, cw) for s in range(4)
                  for cw in (True, False)]
        cases += [(-32, -32, 32800, 32800, s, cw) for s in range(4)
                  for cw in (True, False)]

        fast = {}
        for i, (x0, y0, x1, y1, s, cw) in enumerate(cases):
            g = ("Polygon", [self._rect_ring(x0, y0, x1, y1, s, cw)])
            fast[i] = (validity.make_valid(g),
                       validity.has_self_intersections(g[1][0]))

        monkeypatch.setattr(validity, "_is_axis_rect_ring",
                            lambda r: False)
        for i, (x0, y0, x1, y1, s, cw) in enumerate(cases):
            g = ("Polygon", [self._rect_ring(x0, y0, x1, y1, s, cw)])
            slow = (validity.make_valid(g),
                    validity.has_self_intersections(g[1][0]))
            assert fast[i] == slow, (i, cases[i], fast[i], slow)


# ------------------------------------------------- segment pair sweep

def _all_pairs(pts):
    """The reference's all-pairs walk (validity.rs:187-219, 606-749):
    every (i, j), i < j, whose segment bboxes are not disjoint, in loop
    order — the oracle of validity._ring_pairs."""
    out = []
    for i in range(len(pts) - 1):
        (x1, y1), (x2, y2) = pts[i], pts[i + 1]
        for j in range(i + 1, len(pts) - 1):
            (x3, y3), (x4, y4) = pts[j], pts[j + 1]
            if (max(x1, x2) < min(x3, x4) or min(x1, x2) > max(x3, x4)
                    or max(y1, y2) < min(y3, y4)
                    or min(y1, y2) > max(y3, y4)):
                continue
            out.append((i, j))
    return out


def _swept(pts):
    """validity._ring_pairs, its blocks joined, in (i, j) order."""
    import numpy as np

    from tileigi_spark.geom import validity as V

    blocks = list(V._ring_pairs(pts))
    i = np.concatenate([a for a, _ in blocks]).tolist()
    j = np.concatenate([b for _, b in blocks]).tolist()
    return sorted(zip(i, j))


def _star(n, r0, r1, c=2048, rot=0.0):
    """A closed star ring of n vertices, radius alternating r0/r1, in
    integer tile coordinates. With r0 much smaller than r1 it is a
    sunburst of long spokes whose bboxes mostly overlap."""
    import math
    pts = [(round(c + (r0 if k % 2 == 0 else r1)
                  * math.cos(2 * math.pi * k / n + rot)),
            round(c + (r0 if k % 2 == 0 else r1)
                  * math.sin(2 * math.pi * k / n + rot)))
           for k in range(n)]
    return pts + [pts[0]]


def _rand_ring(rng, n, span):
    """A closed ring of up to n random vertices, no two consecutive ones
    equal (make_valid's dedup runs before its pair walks)."""
    pts = []
    for _ in range(n):
        p = (rng.randint(-span, span), rng.randint(-span, span))
        if not pts or p != pts[-1]:
            pts.append(p)
    while len(pts) > 1 and pts[-1] == pts[0]:
        pts.pop()
    return pts + [pts[0]]


def _rings(seed):
    import random

    rng = random.Random(seed)
    rings = [_rand_ring(rng, n, span) for n in (3, 9, 33, 34, 120, 400)
             for span in (3, 50, 4000)]
    rings += [_star(n, rng.randint(100, 2000), rng.randint(50, 1900),
                    rot=rng.random()) for n in (8, 40, 300, 1000)]
    rings += [_star(n, rng.randint(0, 30), 2000, rot=rng.random())
              for n in (40, 400)]
    return [r for r in rings if len(r) > 2]


@pytest.mark.parametrize("seed", range(6))
def test_bbox_pairs_match_the_all_pairs_walk(seed):
    """The same pairs, each once: random rings (many overlaps, collinear
    vertices on a small grid), spiky stars (few overlaps) and long-spoke
    sunbursts (most segment bboxes overlap)."""
    for pts in _rings(seed):
        assert _swept(pts) == _all_pairs(pts), len(pts)


def test_bbox_pair_blocks_cover_the_pairs_once(monkeypatch):
    from tileigi_spark.geom import validity as V

    for pts in (_star(600, 2000, 1990), _star(300, 10, 2000)):
        want = _all_pairs(pts)
        monkeypatch.setattr(V, "_PAIR_BLOCK", 7)
        assert len(list(V._ring_pairs(pts))) > 1
        assert _swept(pts) == want
        monkeypatch.undo()


@pytest.mark.parametrize("seed", range(3))
def test_pair_walks_match_the_all_pairs_order(seed, monkeypatch):
    """has_self_intersections, add_points_for_all_crossings and
    make_valid on the sweep's pairs (in sweep order, in small blocks)
    equal the same walks over every pair in the reference's (i, j)
    order: the inserted vertices and their order do not depend on the
    order the pairs are found in."""
    import random

    import numpy as np

    from tileigi_spark.geom import validity as V

    def walks(pts):
        return (V.has_self_intersections(pts),
                V.add_points_for_all_crossings(pts),
                V.make_valid(("Polygon", [pts])))

    def every_pair(pts):
        i, j = np.triu_indices(len(pts) - 1, k=1)
        yield i, j

    # small random rings: noding a long one on a small grid can take
    # minutes (its overlap inserts multiply the vertices each pass)
    rng = random.Random(seed)
    rings = [_rand_ring(rng, n, span) for n in (4, 6, 9, 12)
             for span in (3, 50, 4000) for _ in range(4)]
    rings += [_star(n, rng.randint(100, 2000), rng.randint(50, 1900),
                    rot=rng.random()) for n in (8, 40, 300)]
    rings += [_star(40, rng.randint(0, 30), 2000, rot=rng.random())]
    monkeypatch.setattr(V, "_PAIR_BLOCK", 5)
    swept = [walks(pts) for pts in rings]
    monkeypatch.setattr(V, "_ring_pairs", every_pair)
    for pts, got in zip(rings, swept):
        assert got == walks(pts), pts
    assert any(len(g[1]) > len(r) for r, g in zip(rings, swept))


def test_spiky_star_enumerates_only_overlapping_pairs(monkeypatch):
    """A 2k-vertex star (radius alternating 2000/1800 tile units) is
    simple: has_self_intersections and one add_points_for_all_crossings
    pass each enumerate only the segment pairs whose bboxes meet (~14
    per segment: a tooth's bbox spans its neighbours'), not the ~2M
    pairs of the ring, and test each of them once."""
    from tileigi_spark.geom import validity as V

    found, calls = [], []
    sweep, real = V.segment_pairs, V.intersection

    def counting_sweep(*a):
        for i, j in sweep(*a):
            found.append(len(i))
            yield i, j

    def counting(*a):
        calls.append(a)
        return real(*a)

    monkeypatch.setattr(V, "segment_pairs", counting_sweep)
    monkeypatch.setattr(V, "intersection", counting)
    pts = _star(2000, 2000, 1800)
    assert not V.has_self_intersections(pts)
    assert V.add_points_for_all_crossings(pts) == pts
    assert len(calls) == sum(found) == 2 * len(_all_pairs(pts))
    assert sum(found) < 2 * 20 * len(pts)
