"""wkb.read_ragged, the one vectorized WKB reader of the batch paths
(geometry lane, encode walk, with_bbox), against the scalar reference
wkb.wkb_to_geom: same coordinates for every row it reads, and code 0 for
exactly the rows it must leave to wkb_to_geom; and wkb.write_ragged, the
one piece writer, against the scalar writer wkb.geom_to_wkb: every row
read_ragged reads is written back to its own bytes."""

import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType

from tileigi_spark import engine
from tileigi_spark.engine import _collect_coords, _int_geom, _mvt_value
from tileigi_spark.geom import mvt
from tileigi_spark.geom.wkb import geom_to_wkb, ragged_of, read_ragged, \
    wkb_to_geom, write_points, write_ragged

CODES = {"Point": 1, "LineString": 2, "Polygon": 3, "MultiPoint": 4,
         "MultiLineString": 5, "MultiPolygon": 6}


def _pts(rng, k):
    return [(float(x), float(y))
            for x, y in rng.normal(0, 1e6, size=(k, 2)).round(3)]


def _poly(rng):
    # 1-vertex, short and long rings; interiors on some polygons
    return [_pts(rng, int(rng.choice([1, 2, 4, 5, 17, 300])))
            for _ in range(int(rng.integers(1, 4)))]


def random_geom(rng, typ):
    if typ == "Point":
        return (typ, _pts(rng, 1)[0])
    if typ == "LineString":
        return (typ, _pts(rng, int(rng.choice([1, 2, 3, 40, 500]))))
    if typ == "Polygon":
        return (typ, _poly(rng))
    n = int(rng.integers(1, 5))
    if typ == "MultiPoint":
        return (typ, _pts(rng, n))
    if typ == "MultiLineString":
        return (typ, [_pts(rng, int(rng.integers(1, 30)))
                      for _ in range(n)])
    return (typ, [_poly(rng) for _ in range(n)])


def rings_of(geom):
    """[(interior, [(x, y), ...])] in read_ragged's ring order."""
    typ, data = geom
    if typ == "Point":
        return [(False, [data])]
    if typ == "MultiPoint":
        return [(False, [p]) for p in data]
    if typ == "LineString":
        return [(False, data)]
    if typ == "MultiLineString":
        return [(False, line) for line in data]
    polys = [data] if typ == "Polygon" else data
    return [(j > 0, r) for p in polys for j, r in enumerate(p)]


def assert_row(rag, i, geom):
    typ = geom[0]
    assert rag.code[i] == CODES[typ]
    one = rag.take([i])
    xs, ys, ring_off, row_off = one.xs, one.ys, one.ring_off, one.row_off
    want = rings_of(geom)
    assert len(row_off) == 2 and row_off[1] == len(want)
    r0 = rag.row_off[i]
    for j, (interior, pts) in enumerate(want):
        s, e = ring_off[j], ring_off[j + 1]
        assert rag.ring_int[r0 + j] == interior
        assert list(zip(xs[s:e].tolist(), ys[s:e].tolist())) == pts


def test_random_rows_match_scalar_reader():
    rng = np.random.default_rng(5)
    types = list(CODES)
    geoms = [random_geom(rng, types[int(rng.integers(0, 6))])
             for _ in range(600)]
    rag = read_ragged([geom_to_wkb(g) for g in geoms])
    assert len(rag.code) == len(geoms)
    read = 0
    for i, g in enumerate(geoms):
        w = geom_to_wkb(g)
        assert wkb_to_geom(w) == g
        assert_row(rag, i, g)
        read += 1
    assert read == len(geoms)
    assert rag.row_off[-1] == len(rag.ring_int) == len(rag.ring_off) - 1
    assert rag.ring_off[-1] == len(rag.xs) == len(rag.ys)
    # the writer round-trips every row read, and writes every geometry
    # (MultiPoint and Multi-of-one twins included) as geom_to_wkb does
    ways = [geom_to_wkb(g) for g in geoms]
    read = np.flatnonzero(rag.code != 0)
    assert write_ragged(rag.take(read)) == [ways[i] for i in read]
    twins = [("MultiPolygon", [[SQ]]), ("MultiLineString", [SQ]),
             ("MultiPoint", [(1.0, 2.0)])]
    assert write_ragged(ragged_of(geoms + twins)) == \
        ways + [geom_to_wkb(g) for g in twins]


def test_fast_and_walked_rows_agree_in_one_batch():
    # single-ring shapes (header fast patterns) interleaved with rows
    # that need the per-row walk; each keeps its own coordinates
    rng = np.random.default_rng(9)
    geoms = []
    for i in range(200):
        if i % 4 == 0:
            geoms.append(("Polygon", [_pts(rng, 5)]))
        elif i % 4 == 1:
            geoms.append(("MultiPolygon", [[_pts(rng, 6)]]))
        elif i % 4 == 2:
            geoms.append(("Polygon", [_pts(rng, 9), _pts(rng, 4)]))
        else:
            geoms.append(("MultiLineString", [_pts(rng, 3), _pts(rng, 2)]))
    ways = [geom_to_wkb(g) for g in geoms]
    rag = read_ragged(ways)
    for i, g in enumerate(geoms):
        assert_row(rag, i, g)
    assert write_ragged(rag) == ways


def _hdr(code, n):
    return struct.pack("<BII", 1, code, n)


SQ = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (0.0, 0.0)]
GOOD_POLY = geom_to_wkb(("Polygon", [SQ]))
GOOD_LINE = geom_to_wkb(("LineString", SQ[:2]))


def _be(geom):
    """Big-endian encoding of a Polygon."""
    rings = geom[1]
    out = [struct.pack(">BII", 0, 3, len(rings))]
    for r in rings:
        out.append(struct.pack(">I", len(r)))
        out.extend(struct.pack(">dd", x, y) for x, y in r)
    return b"".join(out)


REFUSED = {
    "big_endian": _be(("Polygon", [SQ])),
    "big_endian_point": struct.pack(">BIdd", 0, 1, 1.0, 2.0),
    "ewkb_srid": (struct.pack("<BII", 1, 0x20000003, 3857)
                  + GOOD_POLY[5:]),
    "ewkb_z": struct.pack("<BIddd", 1, 0x80000001, 1.0, 2.0, 3.0),
    "ewkb_m": struct.pack("<BIddd", 1, 0x40000001, 1.0, 2.0, 3.0),
    "iso_z": struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 3.0),
    "iso_m_line": struct.pack("<BII", 1, 2002, 1) + bytes(24),
    "iso_zm_poly": struct.pack("<BII", 1, 3003, 0),
    "multipoint_big_endian_member": (
        _hdr(4, 2) + geom_to_wkb(("Point", (1.0, 2.0)))
        + struct.pack(">BIdd", 0, 1, 3.0, 4.0)),
    "multipoint_of_line": _hdr(4, 1) + GOOD_LINE,
    "multipoint_member_z": (
        _hdr(4, 1) + struct.pack("<BIddd", 1, 1001, 1.0, 2.0, 3.0)),
    "truncated_multipoint": geom_to_wkb(("MultiPoint", [(1.0, 2.0)]))[:-1],
    "trailing_multipoint": (geom_to_wkb(("MultiPoint", [(1.0, 2.0)]))
                            + b"\x00"),
    "zero_member_multipoint": _hdr(4, 0),
    "truncated_poly": GOOD_POLY[:-8],
    "truncated_header": GOOD_POLY[:7],
    "truncated_point": geom_to_wkb(("Point", (1.0, 2.0)))[:-1],
    "trailing_poly": GOOD_POLY + b"\x00",
    "trailing_line": GOOD_LINE + b"\x00",
    "trailing_point": geom_to_wkb(("Point", (1.0, 2.0))) + b"\x00",
    "trailing_multi": geom_to_wkb(("MultiLineString", [SQ[:2]])) + b"\x01",
    "multipolygon_of_line": _hdr(6, 1) + GOOD_LINE,
    "multiline_of_polygon": _hdr(5, 1) + GOOD_POLY,
    # member bodies that would parse as the right type: only the
    # member's type code is wrong
    "multiline_member_typed_polygon": (
        _hdr(5, 1) + _hdr(3, 2) + GOOD_LINE[9:]),
    "multipolygon_member_typed_line": (
        _hdr(6, 1) + _hdr(2, 1) + GOOD_POLY[9:]),
    "multipolygon_of_multipolygon": (
        _hdr(6, 1) + geom_to_wkb(("MultiPolygon", [[SQ]]))),
    "zero_point_line": _hdr(2, 0),
    "zero_point_ring": _hdr(3, 1) + struct.pack("<I", 0),
    "zero_point_hole": (_hdr(3, 2) + GOOD_POLY[9:]
                        + struct.pack("<I", 0)),
    "zero_ring_polygon": _hdr(3, 0),
    "zero_member_multipolygon": _hdr(6, 0),
    "zero_member_multiline": _hdr(5, 0),
    "zero_ring_member": _hdr(6, 2) + GOOD_POLY + _hdr(3, 0),
    "zero_point_member": _hdr(5, 2) + GOOD_LINE + _hdr(2, 0),
    "unknown_type": struct.pack("<BII", 1, 7, 0),
    "bad_byte_order": b"\x02" + GOOD_POLY[1:],
    "empty": b"",
    "none": None,
}


@pytest.mark.parametrize("name", sorted(REFUSED))
def test_refuses(name):
    w = REFUSED[name]
    # between two good rows: a refused row must not shift its neighbours
    rag = read_ragged([GOOD_POLY, w, GOOD_LINE])
    assert rag.code.tolist() == [3, 0, 2]
    assert rag.row_off[1] == rag.row_off[2]
    assert_row(rag, 0, ("Polygon", [SQ]))
    assert_row(rag, 2, ("LineString", SQ[:2]))
    assert write_ragged(rag.take([0, 2])) == [GOOD_POLY, GOOD_LINE]


def test_multipoints_read_as_one_ring_per_point():
    """MultiPoints of 1-50 members, NaN coordinates among them, read as
    ragged_of lays them out (one one-vertex ring per point), interleaved
    with Points and refused rows."""
    rng = np.random.default_rng(41)
    geoms = []
    for i in range(300):
        pts = _pts(rng, int(rng.integers(1, 51)))
        nan = rng.random(len(pts)) < 0.1
        pts = [(float("nan"), y) if m else (x, y)
               for (x, y), m in zip(pts, nan)]
        geoms.append(("MultiPoint", pts) if i % 3 else ("Point", pts[0]))
    ways = [geom_to_wkb(g) for g in geoms]
    bad = REFUSED["multipoint_big_endian_member"]
    rag = read_ragged(ways[:150] + [bad] + ways[150:])
    assert rag.code[150] == 0
    keep = np.r_[0:150, 151:len(ways) + 1]
    got = rag.take(keep)
    want = ragged_of([wkb_to_geom(w) for w in ways])
    for a, b in zip(got, want):
        np.testing.assert_array_equal(a, b)
    assert write_ragged(got) == ways


def test_refused_rows_are_scalar_readable_or_undecodable():
    # read_ragged refuses only what the engine hands to wkb_to_geom:
    # every refused row either decodes there or raises ValueError
    for name, w in REFUSED.items():
        if w is None:
            continue
        try:
            wkb_to_geom(w)
        except ValueError:
            pass


def test_empty_column():
    rag = read_ragged([])
    assert len(rag.code) == 0 and len(rag.xs) == 0
    assert rag.row_off.tolist() == [0]


def old_bbox(ways):
    """The per-row decode _bbox_arrays replaced: NaN = undecodable."""
    out = {k: np.full(len(ways), np.nan)
           for k in ("xmin", "ymin", "xmax", "ymax")}
    for i, w in enumerate(ways):
        if w is None:
            continue
        try:
            g = wkb_to_geom(bytes(w))
        except ValueError:
            continue
        xs, ys = [], []
        _collect_coords(g, xs, ys)
        if xs:
            out["xmin"][i] = min(xs); out["ymin"][i] = min(ys)
            out["xmax"][i] = max(xs); out["ymax"][i] = max(ys)
    return out


def test_bbox_arrays_match_per_row_decode():
    rng = np.random.default_rng(17)
    nan = float("nan")
    ways = [geom_to_wkb(random_geom(rng, t)) for t in CODES
            for _ in range(30)]
    ways += [w for w in REFUSED.values()]
    ways += [
        geom_to_wkb(("Point", (nan, nan))),                    # POINT EMPTY
        geom_to_wkb(("LineString", [(nan, 1.0), (2.0, 3.0)])),  # NaN first
        geom_to_wkb(("LineString", [(1.0, 5.0), (nan, nan), (-4.0, 2.0)])),
        geom_to_wkb(("Polygon", [[(3.0, nan), (1.0, 1.0), (0.0, 4.0)]])),
        geom_to_wkb(("MultiPolygon", [[[(1.0, 1.0)]], [[(nan, -9.0)]]])),
        geom_to_wkb(("Polygon", [[(0.0, 0.0)], [(-7.0, 8.0)]])),
        bytearray(GOOD_POLY),
    ]
    order = rng.permutation(len(ways))
    ways = [ways[i] for i in order]
    col = pd.Series(ways, dtype=object)
    rag = read_ragged(col)
    read = np.flatnonzero(rag.code != 0)  # NaN and 1-vertex rows too
    assert write_ragged(rag.take(read)) == [ways[i] for i in read]
    got = engine._bbox_arrays(col, rag)
    want = old_bbox(ways)
    for k in want:
        np.testing.assert_array_equal(got[k], want[k], err_msg=k)
    assert np.isnan(got["xmin"]).sum() > 20
    assert (~np.isnan(got["xmin"])).sum() > 150


# ------------------------------------------------------------ encode walk

def _walk_rows():
    """Interleaved multi-layer segments over 8 tiles: per tile a polygon
    layer (holes, multipolygons), a line layer and a point layer, plus a
    mixed run that can only go per-row."""
    rng = np.random.default_rng(29)
    rows = []
    for t in range(8):
        for order, layer in enumerate(("polys", "lines", "pts", "mixed")):
            for fid in range(int(rng.integers(6, 14))):
                cx, cy = (int(v) for v in rng.integers(100, 4000, 2))
                if layer == "polys":
                    outer = [(cx, cy), (cx, cy + 90), (cx + 80, cy + 90),
                             (cx + 80, cy), (cx, cy)]
                    hole = [(cx + 10, cy + 10), (cx + 20, cy + 10),
                            (cx + 20, cy + 20), (cx + 10, cy + 10)]
                    g = (("Polygon", [outer, hole]) if fid % 3 else
                         ("MultiPolygon", [[outer], [hole]]))
                elif layer == "lines":
                    g = ("LineString",
                         [(cx + 5 * j, cy + j % 4) for j in range(2 + fid)])
                elif layer == "pts":
                    g = ("Point", (cx, cy))
                else:
                    g = (("Point", (cx, cy)) if fid % 2 else
                         ("LineString", [(cx, cy), (cx + 7, cy + 3)]))
                rows.append((9, 300 + t, 500, 0, order, layer, fid,
                             geom_to_wkb(g), ["en", "de", None][fid % 3],
                             None if fid % 4 == 0 else fid * 11))
    return pd.DataFrame(rows, columns=["zoom", "x", "y", "salt",
                                       "layer_order", "layer",
                                       "feature_id", "geom", "lang",
                                       "rank"])


def test_encode_walk_reads_each_batch_once(monkeypatch):
    """One read_ragged per frame and every row read exactly once: the
    walk holds each batch's open trailing run back and reads it with
    the next batch's complete runs."""
    calls = []
    real = engine.read_ragged

    def spy(geoms):
        calls.append(list(geoms))
        return real(geoms)

    monkeypatch.setattr(engine, "read_ragged", spy)
    pdf = _walk_rows()
    ptypes = {"polys": {"lang": StringType()},
              "lines": {"lang": StringType(), "rank": LongType()},
              "pts": {"rank": LongType()},
              "mixed": {"lang": StringType()}}
    run = engine._make_encode_run(ptypes, ["lang", "rank"])
    # three Arrow batches; cuts fall inside runs
    cuts = [0, 101, 230, len(pdf)]
    batches = [pdf.iloc[a:b].reset_index(drop=True)
               for a, b in zip(cuts, cuts[1:])]
    got = {}
    for out in run(iter(batches)):
        for r in out.itertuples():
            key = (r.zoom, r.x, r.y, r.layer)
            assert key not in got, "unexpected split partial"
            got[key] = bytes(r.part)
    # each frame ends where the run holding a batch's last row starts;
    # the last run is read on its own at the end of the stream
    starts = np.flatnonzero(engine._run_starts(pdf, engine._ENCODE_KEYS))
    ends = [int(starts[starts < c][-1]) for c in cuts[1:]] + [len(pdf)]
    assert [len(c) for c in calls] == np.diff([0] + ends).tolist()
    assert [g for c in calls for g in c] == pdf["geom"].tolist()

    expected = {}
    for (z, x, y, layer), g in pdf.groupby(["zoom", "x", "y", "layer"],
                                           sort=False):
        enc = mvt.LayerEncoder(layer)
        for r in g.sort_values("feature_id").itertuples():
            enc.add_feature(
                _int_geom(wkb_to_geom(r.geom)),
                {p: _mvt_value(getattr(r, p), t)
                 for p, t in ptypes[layer].items()})
        expected[(z, x, y, layer)] = enc.to_bytes()
    assert got == expected


def test_write_points_matches_the_scalar_writer():
    """write_points, the vectorized point writer, is byte-identical to
    geom_to_wkb(("Point", (x, y))) for random doubles, signed zeros,
    subnormals, the extremes and non-finite values, and reads back."""
    rng = np.random.default_rng(11)
    special = [0.0, -0.0, 5e-324, -5e-324, 2.2250738585072014e-308 / 3,
               2.2250738585072014e-308, 1.7976931348623157e308, -1e-300,
               np.inf, -np.inf]
    xs = np.concatenate([rng.normal(0, 2e7, 200), special,
                         rng.permutation(special)])
    ys = np.concatenate([rng.normal(0, 2e7, 200), rng.permutation(special),
                         special])
    got = write_points(xs, ys)
    assert got == [geom_to_wkb(("Point", (x, y)))
                   for x, y in zip(xs.tolist(), ys.tolist())]
    back = read_ragged(got)
    assert (back.code == 1).all()
    assert back.xs.view(np.uint64).tolist() == xs.view(np.uint64).tolist()
    assert write_points(np.array([]), np.array([])) == []
