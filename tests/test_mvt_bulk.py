"""Byte parity of the encode walk (engine._make_encode_run) vs the
per-row LayerEncoder reference. The walk frames each frame's points,
lines and polygons with the ragged framer (one call per geometry
family), interns tags for every (tile, salt, layer) run at once and cuts
each run's layer message out of one stream; it must produce
bit-identical layer messages — including key/value table order — for
every run, at any batch cut, because golden-tile fixtures and the
1-vs-13-partition determinism contract pin exact bytes."""

import logging

import numpy as np
import pandas as pd
from pyspark.sql.types import (BooleanType, DoubleType, FloatType,
                               IntegerType, LongType, StringType)

from tileigi_spark.engine import _int_geom, _make_encode_run, _mvt_value
from tileigi_spark.geom import mvt, ringbulk
from tileigi_spark.geom.wkb import geom_to_wkb, ragged_of, wkb_to_geom

_DTYPES = {FloatType: "float32", DoubleType: "float64"}


def to_frame(rows, prop_types):
    """Encode-walk input, in sort order, from rows (tile x, layer, geom,
    props): one (tile, layer) run per change of (x, layer); property
    columns typed as Arrow hands them to pandas (float32 for FloatType,
    NaN for NULL numbers, objects for strings and nullable booleans)."""
    order = {layer: i for i, layer in enumerate(prop_types)}
    pdf = pd.DataFrame({
        "zoom": 9, "x": [r[0] for r in rows], "y": 3, "salt": 0,
        "layer_order": [order[r[1]] for r in rows],
        "layer": [r[1] for r in rows],
        "feature_id": np.arange(len(rows)),
        "geom": [geom_to_wkb(r[2]) for r in rows]})
    types = {p: t for d in prop_types.values() for p, t in d.items()}
    for p, t in types.items():
        vals = [r[3].get(p) for r in rows]
        if isinstance(t, BooleanType) and None not in vals:
            dtype = bool
        elif isinstance(t, (StringType, BooleanType)):
            dtype = object
        else:   # None: int64, or float64 when a value is NULL
            dtype = _DTYPES.get(type(t))
        pdf[p] = pd.Series(vals, dtype=dtype)
    return pdf


def walk(pdf, prop_types, cuts=None):
    """The walk's partials in output order: [((x, layer), part bytes)]
    over Arrow batches pdf[cuts[i]:cuts[i + 1]]."""
    cuts = [0, len(pdf)] if cuts is None else cuts
    run = _make_encode_run(prop_types, sorted(
        {p for d in prop_types.values() for p in d}))
    batches = [pdf.iloc[a:b].reset_index(drop=True)
               for a, b in zip(cuts, cuts[1:])]
    return [((r.x, r.layer), bytes(r.part))
            for out in run(iter(batches)) for r in out.itertuples()]


def reference(pdf, prop_types):
    """One LayerEncoder per run, fed the run's rows in order."""
    parts, enc, key = [], None, None
    for r in pdf.itertuples():
        if (r.x, r.layer) != key:
            if enc is not None:
                parts.append((key, enc.to_bytes()))
            key, enc = (r.x, r.layer), mvt.LayerEncoder(r.layer)
        enc.add_feature(_int_geom(wkb_to_geom(r.geom)),
                        {p: _mvt_value(getattr(r, p), t)
                         for p, t in prop_types[r.layer].items()})
    return parts + [(key, enc.to_bytes())]


def assert_parity(rows, prop_types, cuts=None):
    pdf = to_frame(rows, prop_types)
    got = walk(pdf, prop_types, cuts)
    assert got == reference(pdf, prop_types)
    return got


def points(rows, layer="l", x=0):
    """(px, py, props) rows as one run of point features."""
    return [(x, layer, ("Point", (px, py)), props) for px, py, props in rows]


def test_single_string_prop():
    rows = [(10, 20, {"lang": "en"}), (4090, 4095, {"lang": "de"}),
            (0, 0, {"lang": "en"}), (-30, -1, {"lang": "fr"})]
    assert_parity(points(rows), {"l": {"lang": StringType()}})


def test_null_and_mixed_props():
    ptypes = {"l": {"lang": StringType(), "rank": LongType(),
                    "score": DoubleType(), "flag": BooleanType()}}
    rows = [
        (5, 6, {"lang": "en", "rank": 3, "score": 1.5, "flag": True}),
        (7, 8, {"lang": None, "rank": 3, "score": None, "flag": False}),
        (9, 1, {"lang": "de", "rank": None, "score": 2.25, "flag": True}),
        (2, 2, {"lang": "de", "rank": 7, "score": 1.5, "flag": None}),
        (3, 3, {"lang": None, "rank": None, "score": None, "flag": None}),
    ]
    assert_parity(points(rows), ptypes)


def test_f32_prop_value_identity():
    rows = [(1, 2, {"w": 1.5}), (3, 4, {"w": 2.5}), (5, 6, {"w": 1.5})]
    assert_parity(points(rows), {"l": {"w": FloatType()}})


def test_null_float32_property_is_omitted():
    """A NULL FloatType value (NaN in a float32 column) is left out like
    any NULL, on a 3-row run and on an 8-row run alike."""
    assert _mvt_value(np.float32("nan"), FloatType()) is None
    enc = mvt.LayerEncoder("l")
    enc.add_feature(("Point", (1, 1)),
                    {"w": _mvt_value(np.float32("nan"), FloatType())})
    assert enc.values == [] and enc.keys == []
    ptypes = {"l": {"w": FloatType()}}
    for k in (3, 8):
        rows = [(i, i, {"w": None if i % 3 == 0 else 1.5})
                for i in range(k)]
        (_, part), = assert_parity(points(rows), ptypes)
        assert mvt.decode_layer(part)["values"] == [("f32", 1.5)]


def test_interleaved_first_appearance_order():
    # row0 interns lang before rank's value; row1 introduces a new lang
    # AFTER rank's first value — table order must interleave by row then
    # column, not column-by-column
    ptypes = {"l": {"lang": StringType(), "rank": LongType()}}
    rows = [(1, 1, {"lang": "aa", "rank": 9}),
            (2, 2, {"lang": "bb", "rank": 9}),
            (3, 3, {"lang": "aa", "rank": 1})]
    assert_parity(points(rows), ptypes)
    # and a column whose first valid value appears late
    rows2 = [(1, 1, {"lang": None, "rank": 5}),
             (2, 2, {"lang": "zz", "rank": 5})]
    assert_parity(points(rows2), ptypes)


def test_many_distinct_values_multibyte_varints():
    # >128 distinct values forces 2-byte value-index varints; coords up
    # to 4096+buffer force 2-byte zigzags
    rows = [(i, 4096 - i, {"name": f"n{i}"}) for i in range(300)]
    assert_parity(points(rows), {"l": {"name": StringType()}})


def test_empty_props_omit_tags_field():
    rows = [(1, 2, {}), (3, 4, {})]
    assert_parity(points(rows), {"l": {}})


def test_randomized_parity():
    rng = np.random.default_rng(42)
    ptypes = {"l": {"lang": StringType(), "rank": LongType()}}
    langs = ["en", "de", "fr", None, "es", "pt", "it"]
    for _ in range(20):
        rows = []
        for _ in range(int(rng.integers(1, 200))):
            props = {"lang": langs[int(rng.integers(0, len(langs)))],
                     "rank": (None if rng.random() < 0.2
                              else int(rng.integers(-5, 5000)))}
            rows.append((int(rng.integers(-64, 4161)),
                         int(rng.integers(-64, 4161)), props))
        assert_parity(points(rows), ptypes)


def groups_rows(groups, prop, geom=lambda r: ("Point", (r[0], r[1]))):
    """One run (tile) per group of rows whose last item is the value."""
    return [(t, "l", geom(r), {} if prop is None else {prop: r[-1]})
            for t, g in enumerate(groups) for r in g]


def test_group_batch_single_prop():
    groups = [
        [(1, 2, "en"), (3, 4, "de"), (5, 6, "en")],
        [(7, 8, "fr")],
        [(0, 0, None), (1, 1, None)],          # all-null -> no key table
        [(9, 9, "de"), (10, 10, None), (11, 11, "zz")],
    ]
    assert_parity(groups_rows(groups, "lang"),
                  {"l": {"lang": StringType()}})


def test_group_batch_no_prop():
    groups = [[(1, 2, None)], [(3, 4, None), (5, 6, None)]]
    assert_parity(groups_rows(groups, None), {"l": {}})


def test_group_batch_value_order_and_reuse():
    # same values re-interned per group in per-group first-appearance
    # order; >128 distinct in one group for 2-byte value varints
    g1 = [(i, i, (i * 7) % 200) for i in range(300)]
    g2 = [(i, i, (300 - i) % 11) for i in range(40)]
    assert_parity(groups_rows([g1, g2], "rank"),
                  {"l": {"rank": LongType()}})


def test_group_batch_randomized():
    rng = np.random.default_rng(7)
    vals = ["a", "b", None, "c", "dd", "e"]
    for _ in range(10):
        groups = []
        for _ in range(int(rng.integers(1, 60))):
            k = int(rng.integers(1, 30))
            groups.append([
                (int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)),
                 vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert_parity(groups_rows(groups, "lang"),
                      {"l": {"lang": StringType()}})


def test_width_overflow_falls_back():
    # zigzag >= 2^21 exceeds the 3-byte budget -> framer refuses
    xs = np.array([1 << 21], dtype=np.int64)
    ys = np.array([0], dtype=np.int64)
    off = np.array([0, 1])
    assert ringbulk.bulk_frame_ragged_features(xs, ys, off, off, 1,
                                               []) is None
    # a point feature of no points has no vertex slot for its MoveTo
    assert ringbulk.bulk_frame_ragged_features(
        xs[:0], ys[:0], off[:1], np.array([0, 0]), 1, []) is None


def test_randomized_point_and_multipoint_parity():
    """Mixed Point/MultiPoint runs through the ragged framer's point
    branch (one MoveTo per feature, the delta cursor carried across a
    MultiPoint's points), untagged and tagged, frame as the per-row
    encoder does, and through the walk as LayerEncoder does."""
    rng = np.random.default_rng(3)
    langs = ["en", "de", None, "fr"]
    for _ in range(20):
        geoms = []
        for _ in range(int(rng.integers(1, 60))):
            k = int(rng.integers(1, 6 if rng.random() < 0.8 else 40))
            pts = [(int(rng.integers(-64, 4161)),
                    int(rng.integers(-64, 4161))) for _ in range(k)]
            geoms.append(("Point", pts[0]) if rng.random() < 0.4
                         else ("MultiPoint", pts))
        n = len(geoms)
        ki = rng.integers(0, 3, (n, 2))
        vi = rng.integers(0, 300, (n, 2))
        valid = rng.random((n, 2)) < 0.7
        rag = ringbulk.mvt_rings(ragged_of(geoms))
        assert (rag.code == 1).all()
        for P in (0, 2):
            want = [mvt._len_delim(2, mvt.encode_feature(g, [
                t for j in range(P) if valid[i, j]
                for t in (int(ki[i, j]), int(vi[i, j]))]))
                for i, g in enumerate(geoms)]
            stream, rowlen = ringbulk.bulk_frame_ragged_features(
                rag.xs, rag.ys, rag.ring_off, rag.row_off, 1,
                [(ki[:, j], vi[:, j], valid[:, j]) for j in range(P)])
            assert stream == b"".join(want)
            assert rowlen.tolist() == list(map(len, want))
        assert_parity([(0, "l", g, {"lang": langs[i % 4]})
                       for i, g in enumerate(geoms)],
                      {"l": {"lang": StringType()}})


# ------------------------------- boxes and quads via the ragged framer

def _rand_ring(rng):
    x0, x1 = sorted(int(v) for v in rng.integers(-64, 4161, 2))
    y0, y1 = sorted(int(v) for v in rng.integers(-64, 4161, 2))
    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    if rng.random() < 0.3:   # arbitrary quad, not just axis rects
        pts = [(int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)))
               for _ in range(4)]
    if rng.random() < 0.5:
        pts = pts[::-1]
    r = int(rng.integers(0, 4))
    return pts[r:] + pts[:r]


def test_ring4_group_batch_parity():
    rng = np.random.default_rng(11)
    vals = ["kind-0", "kind-1", None, "kind-2"]

    def poly(r):
        return ("Polygon", [r[0] + [r[0][0]]])

    for _ in range(8):
        groups = []
        for _ in range(int(rng.integers(1, 40))):
            k = int(rng.integers(1, 20))
            groups.append([
                (_rand_ring(rng), vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert_parity(groups_rows(groups, "kind", poly),
                      {"l": {"kind": StringType()}})
    # no-prop variant
    groups = [[(_rand_ring(rng), None) for _ in range(5)] for _ in range(6)]
    assert_parity(groups_rows(groups, None, poly), {"l": {}})


def test_ring5_wkb_detector():
    from tileigi_spark.engine import _is_ring5_polygon_wkb

    ring = [(0, 0), (10, 0), (10, 7), (0, 7), (0, 0)]
    assert _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [ring])))
    # open ring (not closed) must be rejected
    open_ring = [(0, 0), (10, 0), (10, 7), (0, 7), (1, 1)]
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [open_ring])))
    # two rings / wrong point count / point WKB
    hole = [(2, 2), (3, 2), (3, 3), (2, 3), (2, 2)]
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Polygon", [ring, hole])))
    assert not _is_ring5_polygon_wkb(
        geom_to_wkb(("Polygon", [[(0, 0), (4, 0), (4, 4), (2, 6),
                                  (0, 4), (0, 0)]])))
    assert not _is_ring5_polygon_wkb(geom_to_wkb(("Point", (1, 2))))


# ------------------------------- short lines via the ragged framer

def _rand_line(rng):
    k = int(rng.choice([2, 2, 2, 3, 3, 4]))
    return [(int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161)))
            for _ in range(k)]


def test_line_group_batch_parity():
    rng = np.random.default_rng(13)
    vals = ["way-0", "way-1", None, "way-2"]

    def line(r):
        return ("LineString", r[0])

    for _ in range(8):
        groups = []
        for _ in range(int(rng.integers(1, 40))):
            k = int(rng.integers(1, 20))
            groups.append([
                (_rand_line(rng), vals[int(rng.integers(0, len(vals)))])
                for _ in range(k)])
        assert_parity(groups_rows(groups, "kind", line),
                      {"l": {"kind": StringType()}})
    groups = [[(_rand_line(rng), None) for _ in range(5)]
              for _ in range(6)]
    assert_parity(groups_rows(groups, None, line), {"l": {}})


def test_short_line_wkb_detector():
    from tileigi_spark.engine import _is_short_line_wkb

    assert _is_short_line_wkb(geom_to_wkb(("LineString", [(0, 0), (5, 7)])))
    assert _is_short_line_wkb(
        geom_to_wkb(("LineString", [(0, 0), (5, 7), (9, 2)])))
    assert _is_short_line_wkb(
        geom_to_wkb(("LineString", [(0, 0), (5, 7), (9, 2), (1, 1)])))
    # 5 points / multilinestring / polygon are rejected
    assert not _is_short_line_wkb(
        geom_to_wkb(("LineString",
                     [(0, 0), (5, 7), (9, 2), (1, 1), (2, 2)])))
    assert not _is_short_line_wkb(
        geom_to_wkb(("MultiLineString", [[(0, 0), (5, 7)]])))
    assert not _is_short_line_wkb(
        geom_to_wkb(("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 4),
                                  (0, 0)]])))


# ------------------------------- multi-layer frames and batch cuts

# three layers whose property orders differ; "lang" and "name" share
# string values, "rank" (long), "flag" (bool), "w" (f32) and "score"
# (double) carry 1, True, 1.5 and 1.5
MIXED_TYPES = {
    "a": {"lang": StringType(), "rank": LongType(), "score": DoubleType()},
    "b": {"w": FloatType(), "name": StringType(), "lang": StringType(),
          "flag": BooleanType()},
    "c": {"score": DoubleType(), "n": IntegerType(), "w": FloatType(),
          "flag": BooleanType()},
}


def mixed_rows(seed, tiles=4):
    rng = np.random.default_rng(seed)
    shapes = [
        lambda x, y: ("Point", (x, y)),
        lambda x, y: ("LineString", [(x, y), (x + 9, y + 4), (x + 3, y)]),
        lambda x, y: ("Polygon", [[(x, y), (x, y + 9), (x + 8, y + 9),
                                   (x, y)]]),
        lambda x, y: ("MultiPolygon", [[[(x, y), (x, y + 5), (x + 5, y),
                                         (x, y)]],
                                       [[(x + 20, y), (x + 20, y + 6),
                                         (x + 26, y), (x + 20, y)]]]),
    ]
    pick = [None, "en", "de", "1"]
    rows = []
    for t in range(tiles):
        for layer in MIXED_TYPES:
            for _ in range(int(rng.integers(1, 5))):
                x, y = (int(v) for v in rng.integers(0, 4000, 2))
                props = {
                    "lang": pick[int(rng.integers(0, 4))],
                    "name": pick[int(rng.integers(0, 4))],
                    "rank": [None, 1, 2][int(rng.integers(0, 3))],
                    "flag": [None, True, False][int(rng.integers(0, 3))],
                    "w": [None, 1.5, 1.0][int(rng.integers(0, 3))],
                    "score": [None, 1.5, 1.0, 0.0, -0.0][
                        int(rng.integers(0, 5))],
                    "n": [None, 1, 0][int(rng.integers(0, 3))]}
                geom = shapes[int(rng.integers(0, len(shapes)))](x, y)
                rows.append((t, layer, geom, props))
    return rows


def test_layers_with_different_property_orders():
    for seed in range(6):
        assert_parity(mixed_rows(seed), MIXED_TYPES)


def test_string_shared_by_two_columns_is_interned_once():
    rows = [(0, "b", ("Point", (1, 1)), {"name": "en", "lang": "en"}),
            (0, "b", ("Point", (2, 2)), {"name": "de", "lang": "en"})]
    (_, part), = assert_parity(rows, MIXED_TYPES)
    assert mvt.decode_layer(part)["values"] == ["en", "de"]


def test_int_bool_f32_and_double_values_stay_distinct():
    rows = [(0, "c", ("Point", (1, 1)),
             {"score": 1.5, "n": 1, "w": 1.5, "flag": True}),
            (0, "c", ("Point", (2, 2)),
             {"score": 1.0, "n": 1, "flag": True})]
    (_, part), = assert_parity(rows, MIXED_TYPES)
    assert mvt.decode_layer(part)["values"] == [
        1.5, 1, ("f32", 1.5), True, 1.0]


def test_run_spanning_many_batches():
    rows = points([(i, 2 * i, {"lang": ["en", "de", None][i % 3]})
                   for i in range(40)], layer="a")
    rows += points([(i, i, {"lang": "fr"}) for i in range(3)], "a", 1)
    pdf = to_frame(rows, MIXED_TYPES)
    want = reference(pdf, MIXED_TYPES)
    for cuts in ([0, 5, 11, 30, 41, 43], list(range(0, 43, 4)) + [43]):
        assert walk(pdf, MIXED_TYPES, cuts) == want


def test_every_batch_cut_of_a_small_input():
    pdf = to_frame(mixed_rows(3, tiles=3), MIXED_TYPES)
    n = len(pdf)
    want = reference(pdf, MIXED_TYPES)
    for c in range(1, n):
        assert walk(pdf, MIXED_TYPES, [0, c, n]) == want, c
    for size in range(1, n):
        assert walk(pdf, MIXED_TYPES,
                    list(range(0, n, size)) + [n]) == want, size


def _spy_framer(monkeypatch):
    """Record (gtype, features) for every ragged framer call."""
    calls = []
    real = ringbulk.bulk_frame_ragged_features

    def spy(xs, ys, ring_off, feat_off, gtype, prop_tags):
        calls.append((gtype, len(feat_off) - 1))
        return real(xs, ys, ring_off, feat_off, gtype, prop_tags)

    monkeypatch.setattr(ringbulk, "bulk_frame_ragged_features", spy)
    return calls


def test_multipoint_row_inside_a_framed_run(monkeypatch, caplog):
    """A MultiPoint is framed with the run's points, in the same point
    family call, with the run's interned tags; neither frame logs a
    fallback event."""
    framed = _spy_framer(monkeypatch)
    ptypes = {"l": {"lang": StringType()}}
    rows = points([(i, i, {"lang": ["en", "de"][i % 2]}) for i in range(9)])
    with caplog.at_level(logging.WARNING, logger="tileigi_spark.engine"):
        assert_parity(rows, ptypes)
        rows[4] = (0, "l", ("MultiPoint", [(5, 5), (7, 9)]), {"lang": "fr"})
        assert_parity(rows, ptypes)
    assert framed == [(1, 9), (1, 9)]
    assert not caplog.records


def test_one_point_line_and_empty_multipoint_encoded_alone(monkeypatch,
                                                          caplog):
    """The rows with no vertex slot for a command — a 1-point
    LineString and a MultiPoint of no points, whose MoveTo(0) the
    per-row encoder writes — take the per-row path (code 0 after
    mvt_rings) with the run's interned tags, and each frame logs one
    named fallback event; the other rows are still framed."""
    framed = _spy_framer(monkeypatch)
    ptypes = {"l": {"lang": StringType()}}
    for odd in (("LineString", [(3, 3)]), ("MultiPoint", [])):
        rows = points([(i, i, {"lang": ["en", "de"][i % 2]})
                       for i in range(9)])
        rows[4] = (0, "l", odd, {"lang": "fr"})
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="tileigi_spark.engine"):
            assert_parity(rows, ptypes)
        assert framed.pop() == (1, 8)
        rec, = caplog.records
        assert rec.name == "tileigi_spark.engine"
        assert "1 of 9 rows encoded one at a time" in rec.getMessage()
        assert "code 0: 1;" in rec.getMessage()


def test_framing_chunks_stitch_back_in_row_order(monkeypatch):
    """The encoder frames _CHUNK_FEATURES rows at a time and stitches
    each chunk's per-family streams and per-row messages back into row
    order: at 1-, 2- and 5-row chunks, points, lines, polygons and a
    1-point line (encoded alone) in mixed layers give the per-row
    bytes."""
    from tileigi_spark import engine

    rows = mixed_rows(5, tiles=3)
    rows.insert(7, (rows[7][0], rows[7][1], ("LineString", [(3, 3)]),
                    rows[7][3]))
    want = assert_parity(rows, MIXED_TYPES)
    for chunk in (1, 2, 5):
        monkeypatch.setattr(engine, "_CHUNK_FEATURES", chunk)
        assert assert_parity(rows, MIXED_TYPES) == want
