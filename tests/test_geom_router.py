"""The geometry-stage router (geom/batch.py:process_general): one read of
each batch, each row routed to the points lane, the ragged lane or the
scalar chain from the reader's arrays. The contract is the scalar chain:
a mixed batch must give the same sorted rows as
SPARK_GRAFT_FORCE_SCALAR_GEOM=1."""

import math
import struct

import numpy as np
import pandas as pd
import pytest

import tileigi_spark.geom.batch as B
from tileigi_spark import engine
from tileigi_spark.geom.wkb import geom_to_wkb, read_ragged, write_ragged
from tileigi_spark.mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


def _box(x0, y0, x1, y1, cw=True, start=0):
    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    if not cw:
        pts = pts[::-1]
    pts = pts[start:] + pts[:start]
    return pts + [pts[0]]


def _ngon(cx, cy, r, n, wobble):
    pts = [(cx + r * wobble[k % len(wobble)] * math.cos(2 * math.pi * k / n),
            cy + r * wobble[k % len(wobble)] * math.sin(2 * math.pi * k / n))
           for k in range(n)]
    return pts + [pts[0]]


def _ewkb_point(x, y):
    return (b"\x01" + struct.pack("<I", 1 | 0x20000000)
            + struct.pack("<I", 3857) + struct.pack("<dd", x, y))


def _remaps_to_half(zoom, k):
    """True when metatile (0, 0)'s remap puts the vertex at metatile
    fraction (k + 0.5) / extent exactly on k + 0.5, on both axes."""
    size = min(8, 1 << zoom)
    span = WORLD * size / (1 << zoom)
    ext = 4096.0 * size
    f = (k + 0.5) / ext
    x, y = -MERC_MAX + f * span, MERC_MAX - f * span
    minx, maxx = -MERC_MAX, -MERC_MAX + span
    miny, maxy = MERC_MAX - span, MERC_MAX
    return (((x - minx) / (maxx - minx)) * ext == k + 0.5
            and ((maxy - y) / (maxy - miny)) * ext == k + 0.5)


def _features(zoom):
    """(kind, WKB) rows in and around metatile (0, 0) of `zoom`; `at`
    maps metatile fractions to EPSG:3857."""
    size = min(8, 1 << zoom)
    span = WORLD * size / (1 << zoom)

    def at(fx, fy):
        return (-MERC_MAX + fx * span, MERC_MAX - fy * span)

    def box(f0, g0, f1, g1, **kw):
        (x0, y1), (x1, y0) = at(f0, g0), at(f1, g1)
        return _box(x0, y0, x1, y1, **kw)

    rng = np.random.default_rng(zoom)
    out = []
    for _ in range(12):
        out.append(("point", geom_to_wkb(
            ("Point", at(*rng.uniform(-0.05, 1.05, 2))))))
    # a tile corner: fans out to the four tiles that share it
    out.append(("corner", geom_to_wkb(("Point", at(3 / size, 5 / size)))))
    out.append(("ewkb", _ewkb_point(*at(0.4, 0.6))))
    # remaps to exactly k + 0.5 on both axes: round half away from zero
    for k in [k for k in range(200, 400, 2) if _remaps_to_half(zoom, k)][:3]:
        f = (k + 0.5) / (4096 * size)
        out.append(("half", geom_to_wkb(("Point", at(f, f)))))
    # wholly outside the buffered metatile: dropped by every lane
    out.append(("outside", geom_to_wkb(("Polygon", [[
        at(1.3, 0.2), at(1.5, 0.2), at(1.4, 0.4), at(1.3, 0.2)]]))))
    out.append(("outside", geom_to_wkb(("Polygon", [_ngon(
        *at(0.5, -0.4), span * 0.1, 12, [1.0, 0.5])]))))
    out.append(("outside", geom_to_wkb(
        ("LineString", [at(-0.3, 0.1), at(-0.2, 0.9)]))))
    for k in range(8):
        f0, g0 = rng.uniform(-0.1, 0.9, 2)
        w, h = rng.uniform(0.002, 0.4, 2)
        out.append(("box", geom_to_wkb(("Polygon", [box(
            f0, g0, f0 + w, g0 + h, cw=bool(k % 2), start=k % 4)]))))
    (qx0, qy0), (qx1, qy1) = at(0.2, 0.3), at(0.6, 0.7)
    out.append(("quad", geom_to_wkb(("Polygon", [[
        (qx0, qy0), (qx1, qy0 - 0.1 * (qy0 - qy1)), (qx1, qy1),
        (qx0, qy1), (qx0, qy0)]]))))
    out.append(("mp_box", geom_to_wkb(
        ("MultiPolygon", [[box(0.1, 0.1, 0.45, 0.3, cw=False)]]))))
    out.append(("holed_box", geom_to_wkb(("Polygon", [
        box(0.05, 0.55, 0.7, 0.95), box(0.2, 0.6, 0.4, 0.8, cw=False)]))))
    # an exterior that dies (at remap, at simplify) takes its interior
    # ring with it, even when that ring (invalid input) is larger
    for side in (0.3, 4.0):
        d = side / (4096 * size)
        out.append(("orphan", geom_to_wkb(("MultiPolygon", [
            [box(0.6, 0.1, 0.9, 0.4)],
            [box(0.5, 0.5, 0.5 + d, 0.5 + d),
             box(0.1, 0.1, 0.3, 0.3, cw=False)]]))))
    for k in range(4):
        cx, cy = at(*rng.uniform(0.1, 0.9, 2))
        out.append(("concave", geom_to_wkb(("Polygon", [_ngon(
            cx, cy, span * rng.uniform(0.02, 0.3), 16,
            [1.0, 0.4, 0.9, 0.55])[::1 if k % 2 else -1]]))))
    for k in range(4):
        pts = [at(*rng.uniform(-0.1, 1.1, 2)) for _ in range(2 + k)]
        out.append(("line", geom_to_wkb(("LineString", pts))))
    out.append(("mline", geom_to_wkb(("MultiLineString", [
        [at(0.1, 0.1), at(0.9, 0.2)], [at(0.3, 0.8), at(0.35, 0.1)]]))))
    return out


def _batch(zooms=(0, 3, 8)):
    rows = []
    for z in zooms:
        for kind, way in _features(z):
            rows.append({"zoom": z, "mtx": 0, "mty": 0,
                         "feature_id": len(rows), "way": way,
                         "kind": kind})
    return pd.DataFrame(rows)


def _rows(res):
    """process_general's (frame, Ragged) as sorted rows with the
    pieces' WKB."""
    if res is None:
        return []
    df, rag = res
    return sorted(zip(df["zoom"].tolist(), df["x"].tolist(),
                      df["y"].tolist(), df["feature_id"].tolist(),
                      write_ragged(rag), df["kind"].tolist()))


def _scalar(pdf, monkeypatch, *args):
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_FORCE_SCALAR_GEOM", "1")
        return _rows(B.process_general(pdf, ["kind"], *args))


class _LaneSpy:
    """Counts the batch rows each lane receives."""

    def __init__(self, monkeypatch):
        self.rows = {"points": [], "ragged": [], "scalar": []}
        self.decoded = []
        self.reads = []
        monkeypatch.setattr(B, "_points_lane",
                            self._wrap(B._points_lane, "points"))
        vector_lane = B._vector_lane
        chain = B._Pieces.chain

        def spy_chain(pieces, i, *a, **k):
            self.rows["scalar"].append(i)
            return chain(pieces, i, *a, **k)

        def spy_vector(st, *a, **k):
            self.rows["ragged"].extend(np.unique(st["ring_feat"]).tolist())
            return vector_lane(st, *a, **k)

        decode, read = B.wkb_to_geom, B.read_ragged

        def spy_decode(w):
            self.decoded.append(bytes(w))
            return decode(w)

        def spy_read(ways):
            self.reads.append(len(ways))
            return read(ways)

        monkeypatch.setattr(B, "_vector_lane", spy_vector)
        monkeypatch.setattr(B._Pieces, "chain", spy_chain)
        monkeypatch.setattr(B, "wkb_to_geom", spy_decode)
        monkeypatch.setattr(B, "read_ragged", spy_read)

    def _wrap(self, fn, lane):
        def spy(fr, rows, *a, **k):
            self.rows[lane].extend(np.asarray(rows).tolist())
            return fn(fr, rows, *a, **k)
        return spy

    def kinds(self, pdf, lane):
        return set(pdf["kind"].to_numpy()[self.rows[lane]])


@pytest.mark.parametrize("buffer_units", [0, 32])
def test_mixed_batch_equals_scalar_chain(buffer_units, monkeypatch):
    pdf = _batch()
    args = (buffer_units, 8, 14, 8)
    scalar = _scalar(pdf, monkeypatch, *args)
    spy = _LaneSpy(monkeypatch)
    got = _rows(B.process_general(pdf, ["kind"], *args))
    assert got == scalar and len(got) > 100
    assert spy.kinds(pdf, "points") == {"point", "corner", "half"}
    assert (pdf["kind"] == "half").sum() >= 3
    # axis rects take the ragged lane like any polygon, and its
    # certificate and winding repair keep them off the scalar chain
    assert spy.kinds(pdf, "ragged") == {"box", "quad", "mp_box",
                                        "holed_box", "concave", "line",
                                        "mline", "outside", "orphan"}
    assert "box" not in spy.kinds(pdf, "scalar")
    assert "ewkb" in spy.kinds(pdf, "scalar")
    assert "outside" not in {r[5] for r in got}
    # the corner point at z3 lands in all four tiles around it
    corner = [r for r in got if r[0] == 3 and r[5] == "corner"]
    assert sorted((r[1], r[2]) for r in corner) == \
        [(2, 4), (2, 5), (3, 4), (3, 5)]


def test_epsilon_4_equals_scalar_chain(monkeypatch):
    """Another epsilon runs the same lanes; the RDP's wipe is exact for
    it too."""
    pdf = _batch()
    args = (32, 8, 14, 4)
    scalar = _scalar(pdf, monkeypatch, *args)
    spy = _LaneSpy(monkeypatch)
    got = _rows(B.process_general(pdf, ["kind"], *args))
    assert got == scalar and len(got) > 100
    assert "box" in spy.kinds(pdf, "ragged")


def test_each_row_is_read_once(monkeypatch):
    """One read_ragged call for the whole batch; wkb_to_geom decodes
    only the rows the reader refuses (the EWKB points), each once."""
    pdf = _batch()
    spy = _LaneSpy(monkeypatch)
    B.process_general(pdf, ["kind"], 32, 8, 14, 8)
    assert spy.reads == [len(pdf)]
    ewkb = [bytes(w) for w in pdf["way"][pdf["kind"] == "ewkb"]]
    assert sorted(spy.decoded) == sorted(ewkb)


def test_chunking_keeps_pieces_and_points_whole(monkeypatch):
    """Line and polygon rows run in _CHUNK_FEATURES chunks with the same
    piece set; the points lane is called once for the whole batch."""
    pdf = _batch()
    args = (32, 8, 14, 8)
    whole = _rows(B.process_general(pdf, ["kind"], *args))
    calls = []
    points_lane = B._points_lane
    monkeypatch.setattr(B, "_points_lane",
                        lambda fr, rows, *a: calls.append(len(rows))
                        or points_lane(fr, rows, *a))
    monkeypatch.setattr(B, "_CHUNK_FEATURES", 3)
    assert _rows(B.process_general(pdf, ["kind"], *args)) == whole
    assert calls == [int(pdf["kind"].isin(["point", "corner", "half"]).sum())]


def test_probe_classifiers_agree_with_the_router():
    """engine._is_simple_point_wkb / _is_ring5_polygon_wkb are per-row
    classifiers kept for the benchmark probes; they must accept exactly
    the router's points rows and the ring5 candidates of its axis-rect
    test (axis_rect_rows, the rows _rects_fast_path times)."""
    pdf = _batch()
    ways = list(pdf["way"]) + [None, b"", b"\x01\x01\x00\x00\x00"]
    rag = read_ragged(ways)
    point = [engine._is_simple_point_wkb(w) for w in ways]
    assert point == (rag.code == 1).tolist()
    rects = B.axis_rect_rows(rag)[0].tolist()
    r5 = [i for i, w in enumerate(ways) if engine._is_ring5_polygon_wkb(w)]
    assert set(rects) <= set(r5)
    assert {pdf["kind"][i] for i in set(r5) - set(rects)} == {"quad"}


def test_fast_path_shims_delegate(monkeypatch):
    """_points_fast_path / _rects_fast_path run the router's own
    lanes: the rect shim runs the axis rects through the ragged lane and
    hands back exactly the other rows."""
    pdf = _batch()
    pts = pdf[pdf["kind"].isin(["point", "corner"])]
    assert _rows(engine._points_fast_path(pts, ["kind"], 32, 8)) == \
        _rows(B.process_general(pts, ["kind"], 32, 8, 14, 8))
    frame, left = engine._rects_fast_path(pdf, ["kind"], 32, 8, 14)
    assert set(left["kind"]) == set(pdf["kind"]) - {"box"}
    boxes = pdf[pdf["kind"] == "box"]
    assert _rows(frame) == _scalar(boxes, monkeypatch, 32, 8, 14, 8)
