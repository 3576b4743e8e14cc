"""Ports of reference clip tests (sutherland_hodgeman.rs:141-226,
clip/test.rs:151-175) and remap test (src/test.rs:3-33), plus WKB/MVT
round-trip checks."""

from tileigi_spark.geom.clip import (
    border_intersection, clip_to_border, clip_to_bbox,
    clip_geometry_to_tiles, _clip_ring_to_border,
    XMIN, XMAX, YMIN, YMAX,
)
from tileigi_spark.geom.remap import remap_geometry
from tileigi_spark.geom.validity import is_valid
from tileigi_spark.geom.wkb import wkb_to_geom, geom_to_wkb
from tileigi_spark.geom import mvt
from tileigi_spark.mercator import x_to_lon, y_to_lat


SQ = [(0, 0), (0, 5), (5, 5), (5, 0), (0, 0)]


class TestRingClip:
    def test_no_cut(self):  # sutherland_hodgeman.rs:145-162
        assert _clip_ring_to_border(SQ, (XMAX, 10)) == SQ
        assert _clip_ring_to_border(SQ, (XMIN, 0)) == SQ
        assert _clip_ring_to_border(SQ, (XMIN, -1)) == SQ
        assert _clip_ring_to_border(SQ, (XMIN, 10)) is None

    def test_boxes(self):  # :165-181
        assert _clip_ring_to_border(SQ, (XMIN, 1)) == \
            [(1, 5), (5, 5), (5, 0), (1, 0), (1, 5)]
        assert _clip_ring_to_border(SQ, (YMIN, 1)) == \
            [(0, 1), (0, 5), (5, 5), (5, 1), (0, 1)]
        assert _clip_ring_to_border(SQ, (XMAX, 2)) == \
            [(0, 0), (0, 5), (2, 5), (2, 0), (0, 0)]
        assert _clip_ring_to_border(SQ, (YMAX, 2)) == \
            [(0, 0), (0, 2), (5, 2), (5, 0), (0, 0)]

    def test_triangle(self):  # :184-189
        # NOTE: the reference's inline expectation `(04, 2), (16, 2)`
        # (sutherland_hodgeman.rs:187) is stale — it encodes the FLOAT
        # crossings 0.4/1.6; the integer division ladder
        # (clip/mod.rs:103-111) truncates both to 0 and 1. Pinned to actual
        # code behavior.
        assert _clip_ring_to_border([(0, 0), (1, 5), (2, 0), (0, 0)], (YMAX, 2)) == \
            [(0, 0), (0, 2), (1, 2), (2, 0), (0, 0)]

    def test_polygon_with_hole(self):  # :192-206
        poly = ("Polygon", [SQ, [(1, 1), (1, 4), (4, 4), (4, 1), (1, 1)]])
        out = clip_to_border(poly, (XMAX, 3))
        assert out == ("Polygon", [
            [(0, 0), (0, 5), (3, 5), (3, 0), (0, 0)],
            [(1, 1), (1, 4), (3, 4), (3, 1), (1, 1)],
        ])

    def test_clip_polygon_to_bbox(self):  # :209-224
        poly = ("Polygon", [
            [(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)],
            [(4, 4), (4, 6), (6, 6), (6, 4), (4, 4)],
        ])
        out = clip_to_bbox(poly, 5, 5, 9, 9)
        assert out == ("Polygon", [
            [(9, 9), (9, 5), (5, 5), (5, 9), (9, 9)],
            [(5, 6), (6, 6), (6, 5), (5, 5), (5, 6)],
        ])


class TestBorderIntersection:
    def test_segment(self):  # clip/test.rs:167-175
        assert border_intersection((4823, 3340), (3962, 3222), (XMAX, 4096)) == \
            (4096, 3241)


class TestClipToTiles:
    def test_result_valid_geom(self):  # clip/test.rs:151-165
        geom = ("Polygon", [[(31565, 20875), (31615, 20887), (31633, 20819),
                             (31593, 20822), (31585, 20808), (31584, 20850),
                             (31565, 20875)]])
        assert is_valid(geom)
        for (txy, g) in clip_geometry_to_tiles(geom, 8, 0, 0, 0):
            assert is_valid(g), f"invalid geometry on tile {txy}: {g}"

    def test_point_fanout_with_buffer(self):
        # point near a tile edge lands on both tiles when buffered
        geom = ("Point", (4090, 100))
        out = clip_geometry_to_tiles(geom, 8, 0, 0, 64)
        tiles = sorted(t for t, _ in out)
        assert tiles == [(0, 0), (1, 0)]


class TestRemap:
    def test_remap_regression(self):  # src/test.rs:3-22
        pts = [(-693741.39, 7049558.31), (-693886.45, 7049788.51),
               (-693905.81, 7049848.66), (-693923.15, 7049902.74),
               (-693956.59, 7050029.34), (-693985.26, 7050160.72),
               (-693997.2, 7050306.43), (-694009.15, 7050397.2),
               (-694022.23, 7050490.84), (-694037.39, 7050599.36),
               (-694166.75, 7051000.65), (-694400.88, 7051738.55),
               (-694427.16, 7051799.33), (-695009.99, 7052458.61),
               (-695055.37, 7052565.03), (-695093.59, 7052722.68),
               (-695103.15, 7053080.98), (-695072.09, 7054069.89),
               (-694990.43, 7054483.98), (-21474836.48, 20061906.38)]
        out = remap_geometry(("LineString", pts),
                             -10018754.0, 0.0, 0.0, 10018756.0, 32768.0)
        assert out == ("LineString", [
            (30499, 9711), (30499, 9710), (30498, 9710), (30498, 9709),
            (30498, 9708), (30498, 9707), (30497, 9704), (30495, 9702),
            (30495, 9701), (30495, 9700), (30495, 9696), (30495, 9695),
            (-37469, -32848)])

    def test_xy_to_latlon(self):  # src/test.rs:24-33
        assert abs(x_to_lon(0, 4096.0) - -180.0) < 1e-5
        assert abs(x_to_lon(2048, 4096.0) - 0.0) < 1e-5
        assert abs(x_to_lon(4096, 4096.0) - 180.0) < 1e-3
        assert abs(y_to_lat(0, 4096.0) - 85.0511287798066) < 1e-5
        assert abs(y_to_lat(2048, 4096.0) - 0.0) < 1e-7
        assert abs(y_to_lat(4096, 4096.0) - -85.05112) < 1e-3


class TestWkb:
    def test_roundtrip(self):
        geoms = [
            ("Point", (1.5, -2.5)),
            ("MultiPoint", [(0.0, 0.0), (1.0, 1.0)]),
            ("LineString", [(0.0, 0.0), (10.0, 20.0), (30.0, -5.0)]),
            ("MultiLineString", [[(0.0, 0.0), (1.0, 1.0)], [(2.0, 2.0), (3.0, 3.0)]]),
            ("Polygon", [[(0.0, 0.0), (0.0, 5.0), (5.0, 5.0), (0.0, 0.0)]]),
            ("MultiPolygon", [[[(0.0, 0.0), (0.0, 5.0), (5.0, 5.0), (0.0, 0.0)]],
                              [[(9.0, 9.0), (9.0, 12.0), (12.0, 12.0), (9.0, 9.0)]]]),
        ]
        for g in geoms:
            assert wkb_to_geom(geom_to_wkb(g)) == g

    def test_malformed(self):
        import pytest
        for bad in (b"", b"\x05\x01\x00\x00\x00", b"\x01\x63\x00\x00\x00"):
            with pytest.raises(ValueError):
                wkb_to_geom(bad)

    def test_adversarial_raises_valueerror_only(self):
        """The silent-drop contract (lib.rs:572-579) requires EVERY
        malformed input to raise ValueError — callers catch exactly
        that. Regressions found by fuzz: a truncated Multi* COUNT raised
        struct.error, and a crafted Multi*-of-Multi* chain recursed to
        RecursionError; both escaped the guards and would fail the task
        on one corrupted blob."""
        import pytest
        cases = {
            "truncated multi count": b"\x01\x05\x00\x00\x00\x01\x00",
            "nested multipolygon bomb":
                b"\x01\x06\x00\x00\x00\x01\x00\x00\x00" * 50000,
            "wrong member type":
                b"\x01\x04\x00\x00\x00\x01\x00\x00\x00"
                b"\x01\x02\x00\x00\x00\x00\x00\x00\x00",
        }
        for name, bad in cases.items():
            with pytest.raises(ValueError):
                wkb_to_geom(bad)
        # randomized: truncations and bit-flips of a valid blob must be
        # a geometry or ValueError, never anything else
        import random
        rng = random.Random(3)
        valid = geom_to_wkb(("MultiPolygon",
                             [[[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0),
                                (0.0, 0.0)]]]))
        for _ in range(20000):
            r = rng.random()
            if r < 0.3:
                b = bytes(rng.getrandbits(8)
                          for _ in range(rng.randint(0, 60)))
            elif r < 0.6:
                b = valid[:rng.randint(0, len(valid))]
            else:
                bb = bytearray(valid)
                for _ in range(rng.randint(1, 5)):
                    bb[rng.randrange(len(bb))] = rng.getrandbits(8)
                b = bytes(bb)
            try:
                wkb_to_geom(b)
            except ValueError:
                pass


class TestMvt:
    def test_varint_zigzag(self):
        assert mvt._varint(0) == b"\x00"
        assert mvt._varint(300) == b"\xac\x02"
        assert mvt._zigzag(0) == 0
        assert mvt._zigzag(-1) == 1
        assert mvt._zigzag(1) == 2
        assert mvt._zigzag(-2) == 3

    def test_point_feature_bytes(self):
        # spec example: point (25, 17) -> [9, 50, 34] geometry
        cmds = mvt._geometry_commands(("Point", (25, 17)))
        assert cmds == [9, 50, 34]

    def test_polygon_commands(self):
        # spec example polygon (closed ring input)
        cmds = mvt._geometry_commands(
            ("Polygon", [[(3, 6), (8, 12), (20, 34), (3, 6)]]))
        assert cmds == [9, 6, 12, 18, 10, 12, 24, 44, 15]

    def test_layer_encode_deterministic(self):
        feats = [(("Point", (10, 10)), {"name": "x", "rank": 1}),
                 (("Point", (20, 20)), {"name": "y", "rank": 1})]
        b1 = mvt.encode_layer("poi", feats)
        b2 = mvt.encode_layer("poi", list(feats))
        assert b1 == b2
        tile = mvt.encode_tile([b1], compress=True)
        assert tile[:2] == b"\x1f\x8b"  # gzip magic
        tile2 = mvt.encode_tile([b1], compress=True)
        assert tile == tile2

    def test_null_property_omitted(self):
        enc = mvt.LayerEncoder("l")
        enc.add_feature(("Point", (0, 0)), {"a": None, "b": 1})
        assert enc.keys == ["b"]


class TestCohenSutherland:
    """Ports of clip/cohen_sutherland.rs:85-114 (the reference keeps
    this operator written-but-unused; parity maintained the same way)."""

    BB = (0.0, 0.0, 4096.0, 4096.0)

    def test_reference_cases(self):
        from tileigi_spark.geom.clip import cohen_sutherland_clip as cs

        bb = self.BB
        assert cs((10., 10.), (20., 20.), *bb) == ((10., 10.), (20., 20.))
        assert cs((5000., 5000.), (5000., 6000.), *bb) is None
        assert cs((10., 100.), (10., 10000.), *bb) == \
            ((10., 100.), (10., 4096.))
        assert cs((10., -100.), (10., 100.), *bb) == ((10., 0.), (10., 100.))
        assert cs((-100., 10.), (100., 10.), *bb) == ((0., 10.), (100., 10.))
        assert cs((100., 10.), (10000., 10.), *bb) == \
            ((100., 10.), (4096., 10.))
        assert cs((-1000., 2000.), (2000., -1000.), *bb) == \
            ((0., 1000.), (1000., 0.))

    def test_int_truncating_division(self):
        from tileigi_spark.geom.clip import cohen_sutherland_clip as cs

        # int inputs use Rust-style truncating division
        got = cs((-7, 3), (9, 10), 0, 0, 4096, 4096)
        # crossing x=0: y = 3 + tdiv(7 * 7, 16) = 3 + 3
        assert got == ((0, 6), (9, 10))
