"""Byte parity of the ragged bulk framer (geom/ringbulk.py) vs the
per-row LayerEncoder path for arbitrary polygon- and linestring-family
features: irregular rings, holes, MultiPolygons, long polylines. Same
contract as test_mvt_bulk.py — bit-identical layer messages, including
key/value table order — because golden tiles and the 1-vs-13-partition
determinism contract pin exact bytes."""

import logging
import struct
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType

from tileigi_spark.engine import _int_geom, _make_encode_run, _mvt_value
from tileigi_spark.geom import mvt
from tileigi_spark.geom.ringbulk import bulk_frame_ragged_features, mvt_rings
from tileigi_spark.geom.wkb import read_ragged, wkb_to_geom


def wkb_ring(pts):
    return struct.pack("<I", len(pts)) + b"".join(
        struct.pack("<dd", float(x), float(y)) for x, y in pts)


def wkb_polygon(rings):
    return (struct.pack("<BII", 1, 3, len(rings))
            + b"".join(wkb_ring(r) for r in rings))


def wkb_multipolygon(polys):
    return (struct.pack("<BII", 1, 6, len(polys))
            + b"".join(struct.pack("<BII", 1, 3, len(p))
                       + b"".join(wkb_ring(r) for r in p) for p in polys))


def wkb_linestring(pts):
    return struct.pack("<BII", 1, 2, len(pts)) + b"".join(
        struct.pack("<dd", float(x), float(y)) for x, y in pts)


def wkb_multilinestring(lines):
    return (struct.pack("<BII", 1, 5, len(lines))
            + b"".join(struct.pack("<BII", 1, 2, len(p))
                       + b"".join(struct.pack("<dd", float(x), float(y))
                                  for x, y in p) for p in lines))


def parse_run(geoms):
    """The encode walk's read of one run: wkb.read_ragged, the ring
    rules of ringbulk.mvt_rings, then the run as ragged framer arguments
    when all rows share a polygon or linestring family (None = per-row
    path)."""
    rag = mvt_rings(read_ragged(geoms))
    gtype = int(rag.code[0])
    if gtype not in (2, 3) or not (rag.code == gtype).all():
        return None
    return (rag.xs, rag.ys, rag.ring_off, rag.row_off, gtype)


def perrow(wkbs, props_list, ptypes):
    enc = mvt.LayerEncoder("l")
    frames = []
    for w, props in zip(wkbs, props_list):
        geom = _int_geom(wkb_to_geom(bytes(w)))
        properties = {p: _mvt_value(props.get(p), t) for p, t in ptypes}
        before = len(enc.features)
        enc.add_feature(geom, properties)
        frames.append(b"".join(enc.features[before:]))
    return enc, frames


def walk_one_run(wkbs, props_list, ptypes):
    """The partial the encode walk makes of one run of these rows."""
    pdf = pd.DataFrame({"zoom": 9, "x": 1, "y": 2, "salt": 0,
                        "layer_order": 0, "layer": "l",
                        "feature_id": np.arange(len(wkbs)),
                        "geom": list(wkbs)})
    for p, _ in ptypes:
        pdf[p] = pd.Series([pr.get(p) for pr in props_list], dtype=object)
    run = _make_encode_run({"l": dict(ptypes)}, [p for p, _ in ptypes])
    (part,) = [bytes(b) for out in run(iter([pdf])) for b in out["part"]]
    return part


def assert_parity(wkbs, props_list, ptypes, family):
    a, _ = perrow(wkbs, props_list, ptypes)
    assert walk_one_run(wkbs, props_list, ptypes) == a.to_bytes()
    # the framer's own contract, untagged: per-row bytes, and per-feature
    # frame lengths that slice the stream exactly as the per-row frames
    # fell out (what the walk scatters back into row order)
    _, frames = perrow(wkbs, [{}] * len(wkbs), [])
    geoms = np.empty(len(wkbs), dtype=object)
    geoms[:] = wkbs
    parsed = parse_run(geoms)
    assert parsed is not None
    assert parsed[-1] == (3 if family == "poly" else 2)
    framed, rowlen = bulk_frame_ragged_features(*parsed, [])
    assert framed == b"".join(frames)
    cum = np.concatenate(([0], np.cumsum(rowlen)))
    assert cum[-1] == len(framed)
    for i, f in enumerate(frames):
        assert framed[cum[i]:cum[i + 1]] == f


PT = [("lang", StringType()), ("rank", LongType())]


def ring(cx, cy, r, k, close=True, rev=False):
    pts = [(cx + int(r * np.cos(2 * np.pi * j / k)),
            cy + int(r * np.sin(2 * np.pi * j / k))) for j in range(k)]
    if rev:
        pts = pts[::-1]
    if close:
        pts.append(pts[0])
    return pts


def test_irregular_closed_and_open_rings():
    wkbs = [wkb_polygon([ring(100, 100, 90, 7)]),
            wkb_polygon([ring(500, 500, 200, 5, close=False)]),
            wkb_polygon([ring(4000, 4000, 300, 12, rev=True)])]
    props = [{"lang": "en", "rank": 1}, {"lang": None, "rank": 2},
             {"lang": "de", "rank": None}]
    assert_parity(wkbs, props, PT, "poly")


def test_holes_and_multipolygons():
    wkbs = [
        wkb_polygon([ring(1000, 1000, 900, 8),
                     ring(1000, 1000, 200, 5, rev=True)]),
        wkb_multipolygon([[ring(100, 100, 50, 4)],
                          [ring(3000, 3000, 400, 9),
                           ring(3000, 3000, 100, 3, rev=True)]]),
        wkb_polygon([ring(50, 50, 40, 6)]),
    ]
    props = [{"lang": "a", "rank": 1}] * 3
    assert_parity(wkbs, props, PT, "poly")


def test_degenerate_rings_skipped():
    # 2-point "ring" after closing-drop and an all-degenerate feature —
    # the per-row path skips them; parity must match (empty geometry)
    wkbs = [
        wkb_polygon([[(5, 5), (9, 9), (5, 5)]]),     # closed 2-pt: skip
        wkb_polygon([ring(10, 10, 8, 5),
                     [(1, 1), (2, 2), (1, 1)]]),      # one valid, one not
        wkb_polygon([ring(70, 70, 30, 4)]),
    ]
    props = [{"lang": "x", "rank": 1}, {"lang": "y", "rank": 2},
             {"lang": "x", "rank": 3}]
    assert_parity(wkbs, props, PT, "poly")


def test_negative_and_multibyte_coords():
    wkbs = [wkb_polygon([ring(-100, -100, 60, 5)]),
            wkb_polygon([ring(60000, 60000, 5000, 11)]),
            wkb_polygon([ring(0, 0, 3, 3)])]
    props = [{} for _ in wkbs]
    assert_parity(wkbs, props, [], "poly")


def test_long_ring_multibyte_lineto_command():
    # k-1 >= 16 needs a 2-byte LineTo command varint; >= 2048 needs 3
    wkbs = [wkb_polygon([ring(2000, 2000, 1500, 40)]),
            wkb_polygon([ring(2000, 2000, 1900, 2500)])]
    props = [{"lang": "en", "rank": 1}, {"lang": "fr", "rank": 2}]
    assert_parity(wkbs, props, PT, "poly")


def test_ring4_shapes_also_covered():
    # the ragged framer must agree on the fixed-width framers' own diet
    wkbs = [wkb_polygon([[(0, 0), (0, 9), (9, 9), (9, 0), (0, 0)]]),
            wkb_multipolygon([[[(1, 1), (1, 5), (5, 5), (5, 1), (1, 1)]]])]
    props = [{"lang": "en", "rank": 1}, {"lang": "de", "rank": 2}]
    assert_parity(wkbs, props, PT, "poly")


def test_lines_plain_and_multi():
    wkbs = [wkb_linestring([(0, 0), (10, 10), (20, 5)]),
            wkb_linestring([(i, 2 * i) for i in range(30)]),
            wkb_multilinestring([[(0, 0), (5, 5)],
                                 [(100, 100), (200, 150), (300, 100)]])]
    props = [{"lang": "en", "rank": 1}, {"lang": None, "rank": 2},
             {"lang": "de", "rank": 3}]
    assert_parity(wkbs, props, PT, "line")


def test_parser_rejects_mixed_or_malformed():
    geoms = np.empty(2, dtype=object)
    geoms[:] = [wkb_polygon([ring(0, 0, 5, 4)]),
                wkb_linestring([(0, 0), (1, 1)])]
    assert parse_run(geoms) is None
    geoms2 = np.empty(1, dtype=object)
    geoms2[:] = [wkb_polygon([ring(0, 0, 5, 4)])[:-8]]  # truncated
    assert parse_run(geoms2) is None
    one_pt = np.empty(1, dtype=object)
    one_pt[:] = [wkb_linestring([(3, 3)])]
    assert parse_run(one_pt) is None


def test_width_overflow_returns_none():
    # delta >= 2^21 exceeds the varint bound: framer bails, caller
    # falls back to the per-row path
    wkbs = [wkb_polygon([[(0, 0), (3_000_000, 0), (3_000_000, 5),
                          (0, 5), (0, 0)]])]
    geoms = np.empty(1, dtype=object)
    geoms[:] = wkbs
    parsed = parse_run(geoms)
    assert parsed is not None
    assert bulk_frame_ragged_features(*parsed, []) is None


def test_randomized_poly_parity():
    rng = np.random.default_rng(7)
    langs = ["en", "de", None, "fr", "es"]
    for _ in range(15):
        m = int(rng.integers(3, 40))
        wkbs, props = [], []
        for _ in range(m):
            cx, cy = int(rng.integers(-64, 4161)), int(rng.integers(-64, 4161))
            style = rng.random()
            if style < 0.5:
                w = wkb_polygon([ring(cx, cy, int(rng.integers(3, 400)),
                                      int(rng.integers(3, 25)),
                                      close=bool(rng.random() < 0.8),
                                      rev=bool(rng.random() < 0.3))])
            elif style < 0.8:
                w = wkb_polygon([ring(cx, cy, 300, int(rng.integers(4, 12))),
                                 ring(cx, cy, 80, int(rng.integers(3, 8)),
                                      rev=True)])
            else:
                w = wkb_multipolygon(
                    [[ring(cx, cy, 100, int(rng.integers(3, 10)))]
                     for _ in range(int(rng.integers(1, 4)))])
            wkbs.append(w)
            props.append({"lang": langs[int(rng.integers(0, 5))],
                          "rank": (None if rng.random() < 0.2
                                   else int(rng.integers(0, 3000)))})
        assert_parity(wkbs, props, PT, "poly")


def test_randomized_line_parity():
    rng = np.random.default_rng(11)
    for _ in range(10):
        m = int(rng.integers(3, 30))
        wkbs, props = [], []
        for _ in range(m):
            k = int(rng.integers(2, 60))
            pts = [(int(rng.integers(-64, 4161)),
                    int(rng.integers(-64, 4161))) for _ in range(k)]
            if rng.random() < 0.25:
                w = wkb_multilinestring([pts, pts[:max(2, k // 2)]])
            else:
                w = wkb_linestring(pts)
            wkbs.append(w)
            props.append({"lang": "en", "rank": int(rng.integers(0, 9))})
        assert_parity(wkbs, props, PT, "line")


# ------------------------------------------------- end-to-end via Spark

def _mk_rows():
    """240 features over 6 tiles / 3 layers: a polygon layer (concave,
    holey, multipolygon), a long-line layer, and a mixed layer whose
    runs can never take a bulk path (per-row fallback parity)."""
    rng = np.random.default_rng(23)
    rows = []
    fid = 0
    for i in range(240):
        tx, ty = 10 + i % 3, 20 + (i // 3) % 2
        which = i % 3
        cx, cy = int(rng.integers(0, 4000)), int(rng.integers(0, 4000))
        if which == 0:
            layer, order = "polys", 0
            style = i % 4
            if style == 0:
                w = wkb_polygon([ring(cx, cy, int(rng.integers(20, 900)),
                                      int(rng.integers(5, 20)))])
            elif style == 1:
                w = wkb_polygon([ring(cx, cy, 500, 9),
                                 ring(cx, cy, 120, 5, rev=True)])
            elif style == 2:
                w = wkb_multipolygon([[ring(cx, cy, 90, 6)],
                                      [ring(cx + 700, cy, 60, 4)]])
            else:
                w = wkb_polygon([ring(cx, cy, 40, 3, close=False)])
        elif which == 1:
            layer, order = "lines", 1
            k = int(rng.integers(5, 25))
            w = wkb_linestring([(cx + 3 * j, cy + (j % 7)) for j in range(k)])
        else:
            layer, order = "mixed", 2
            if i % 2:
                w = wkb_polygon([ring(cx, cy, 200, 7)])
            else:
                w = wkb_linestring([(cx, cy), (cx + 50, cy + 9)])
        rows.append((6, tx, ty, fid, order, layer, bytearray(w),
                     ["en", "de", None][i % 3],
                     None if i % 5 == 0 else i * 7))
        fid += 1
    return rows


def test_encode_layers_ragged_end_to_end(spark):
    """The ragged bulk tiers inside encode_layers must produce the same
    partial-layer bytes as a per-row LayerEncoder walk, at any
    parallelism (the partition-determinism contract O9/O13)."""
    from tileigi_spark.engine import encode_layers

    rows = _mk_rows()
    df = spark.createDataFrame(
        rows, "zoom int, x long, y long, feature_id long, "
              "layer_order int, layer string, geom binary, lang string, "
              "rank long")
    pts = {ly: {"lang": StringType(), "rank": LongType()}
           for ly in ("polys", "lines", "mixed")}

    def run(n_parts):
        parts = encode_layers(df.repartition(n_parts), pts).collect()
        got = {}
        for r in parts:
            key = (r["zoom"], r["x"], r["y"], r["layer"])
            assert key not in got, "unexpected split partial"
            got[key] = bytes(r["part"])
        return got

    got1 = run(1)
    got7 = run(7)
    assert got1 == got7

    # independent per-row expectation
    by_tile = {}
    for (z, tx, ty, fid, order, layer, w, lang, rank) in rows:
        by_tile.setdefault((z, tx, ty, layer), []).append(
            (fid, bytes(w), lang, rank))
    for key, feats in by_tile.items():
        enc = mvt.LayerEncoder(key[3])
        for fid, w, lang, rank in sorted(feats):
            geom = _int_geom(wkb_to_geom(w))
            props = {}
            if lang is not None:
                props["lang"] = lang
            if rank is not None:
                props["rank"] = int(rank)
            enc.add_feature(geom, props)
        assert got1[key] == enc.to_bytes(), f"bytes differ for {key}"


# --------------------------------------- walk-level fallback to per-row

def _star(cx, cy, k):
    """Closed k-vertex star ring with alternating radii: every delta is
    a 2-byte varint, so k = 4400 frames a feature body >= 2^14 bytes,
    past the ragged framer's width bound."""
    pts = [(cx + int((1900 if j % 2 else 200) * np.cos(2 * np.pi * j / k)),
            cy + int((1900 if j % 2 else 200) * np.sin(2 * np.pi * j / k)))
           for j in range(k)]
    return pts + [pts[0]]


def _walk_and_expected(groups):
    """Run _make_encode_run over one Arrow batch of `groups` (one tile
    each: lists of (wkb, lang)) and build the per-row LayerEncoder
    parts the walk must reproduce."""
    rows = [(7, 100 + t, 200, fid, w, lang)
            for t, g in enumerate(groups)
            for fid, (w, lang) in enumerate(g)]
    pdf = pd.DataFrame(rows, columns=["zoom", "x", "y", "feature_id",
                                      "geom", "lang"])
    pdf["salt"] = 0
    pdf["layer_order"] = 0
    pdf["layer"] = "l"
    run = _make_encode_run({"l": {"lang": StringType()}}, ["lang"])
    got = {}
    for out in run(iter([pdf])):
        for r in out.itertuples():
            key = (r.zoom, r.x, r.y)
            assert key not in got, "unexpected split partial"
            got[key] = bytes(r.part)
    expected = {}
    for t, g in enumerate(groups):
        enc = mvt.LayerEncoder("l")
        for w, lang in g:
            props = {} if lang is None else {"lang": lang}
            enc.add_feature(_int_geom(wkb_to_geom(w)), props)
        expected[(7, 100 + t, 200)] = enc.to_bytes()
    return got, expected


def _spy_ragged(monkeypatch):
    """Record (features framed, refused) for every ragged framer call."""
    from tileigi_spark.geom import ringbulk

    calls = []
    real = ringbulk.bulk_frame_ragged_features

    def spy(xs, ys, ring_off, feat_off, gtype, prop_tags):
        res = real(xs, ys, ring_off, feat_off, gtype, prop_tags)
        calls.append((len(feat_off) - 1, res is None))
        return res

    monkeypatch.setattr(ringbulk, "bulk_frame_ragged_features", spy)
    return calls


def _poly_group(seed, big=False):
    rng = np.random.default_rng(seed)
    g = [(wkb_polygon([ring(int(rng.integers(100, 4000)),
                            int(rng.integers(100, 4000)),
                            int(rng.integers(5, 90)),
                            int(rng.integers(3, 12)))]),
          ["en", "de", None][i % 3]) for i in range(9)]
    if big:
        g[4] = (wkb_polygon([_star(2000, 2000, 4400)]), "big")
    return g


def test_oversized_body_is_refused_by_the_framer():
    # precondition of the two walk tests below: the star alone is
    # refused, a group without it is framed
    geoms = np.empty(1, dtype=object)
    geoms[:] = [wkb_polygon([_star(2000, 2000, 4400)])]
    assert bulk_frame_ragged_features(*parse_run(geoms), []) is None
    small = np.empty(9, dtype=object)
    small[:] = [w for w, _ in _poly_group(1)]
    assert bulk_frame_ragged_features(*parse_run(small), []) is not None


@pytest.mark.parametrize("groups,big", [(2, 0), (4, 1)],
                         ids=["two_tiles", "four_tiles"])
def test_oversized_row_is_the_only_row_encoded_alone(monkeypatch, caplog,
                                                     groups, big):
    """The star polygon is screened out by its vertex count before the
    ragged framer call, so the framer frames every other polygon (one
    call per frame: the batch's complete runs, then its held-back last
    run) and only the star is encoded on its own, byte-identical to a
    per-row walk."""
    calls = _spy_ragged(monkeypatch)
    with caplog.at_level(logging.WARNING, logger="tileigi_spark.engine"):
        got, expected = _walk_and_expected(
            [_poly_group(1 + g, big=g == big) for g in range(groups)])
    assert calls == [(9 * (groups - 1) - (big < groups - 1), False),
                     (9 - (big == groups - 1), False)]
    rec, = caplog.records
    assert rec.getMessage().startswith("encode fallback: 1 of ")
    assert rec.getMessage().endswith("framer width bound: 1)")
    assert got == expected


# ------------------------------------ render-path fallback to per-row

def _merc(z, tx, ty, pts):
    """Tile (tx, ty) local coordinates at zoom z -> EPSG:3857."""
    from tileigi_spark.mercator import MERC_MAX

    n = 4096 << z
    return [((tx * 4096 + u) / n * 2 * MERC_MAX - MERC_MAX,
             MERC_MAX - (ty * 4096 + v) / n * 2 * MERC_MAX) for u, v in pts]


def _fallback_messages(spark):
    return [r["msg"] for r in spark.tvf.python_worker_logs()
            .filter("msg LIKE 'encode fallback:%'").select("msg").collect()]


@pytest.mark.parametrize("zoom", [14, 4], ids=["fused", "salted"])
def test_render_fallback_rows_match_per_row_encoder(spark, zoom):
    """build_tiles' render pass frames the lanes' Ragged as it is, so its
    per-row fallback takes each row's geometry from that Ragged: a
    MultiPoint (code 0 after mvt_rings) and a 3000-vertex polygon past
    the framers' width bound are encoded one at a time, each counted in
    an `encode fallback` line of the render worker's log, and the tile
    equals a per-row LayerEncoder over the geometry stage's pieces."""
    from tileigi_spark import engine
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.geom.wkb import geom_to_wkb

    tx, ty = 8800 >> (14 - zoom), 5373 >> (14 - zoom)
    k = 3000
    star = [(2048 + round((1900 if j % 2 else 1700)
                          * np.cos(2 * np.pi * j / k)),
             2048 + round((1900 if j % 2 else 1700)
                          * np.sin(2 * np.pi * j / k))) for j in range(k)]
    geoms = [("Point", (900, 700)),
             ("MultiPoint", [(100, 100), (300, 200)]),
             ("Polygon", [star + star[:1]])]
    src = spark.createDataFrame(
        [(fid, bytearray(geom_to_wkb(
            (typ, _merc(zoom, tx, ty, [data])[0] if typ == "Point"
             else _merc(zoom, tx, ty, data) if typ == "MultiPoint"
             else [_merc(zoom, tx, ty, r) for r in data]))), f"n{fid}")
         for fid, (typ, data) in enumerate(geoms)],
        "feature_id long, way binary, name string")
    layers = Layers(layers=[Layer(id="l", source="s", minzoom=zoom,
                                  maxzoom=zoom, buffer=2)],
                    global_minzoom=zoom, global_maxzoom=zoom)

    covered = engine.cover_metatiles(engine.with_bbox(src), [zoom], 2)
    enc = {}
    for r in sorted(engine.geometry_stage(covered, "l", 2, zoom).collect(),
                    key=lambda r: r["feature_id"]):
        enc.setdefault((r["zoom"], r["x"], r["y"]), mvt.LayerEncoder("l")) \
            .add_feature(_int_geom(wkb_to_geom(bytes(r["geom"]))),
                         {"name": r["name"]})
    want = {key: mvt.encode_tile([e.to_bytes()], compress=False)
            for key, e in enc.items()}
    assert list(want) == [(zoom, tx, ty)]

    spark.conf.set("spark.sql.pyspark.worker.logging.enabled", "true")
    try:
        before = _fallback_messages(spark)
        got = {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
               for r in engine.build_tiles(spark, {"s": src}, layers, zoom,
                                           zoom, compress=False).collect()}
        # the JVM reads a worker's log lines off its stderr on a thread
        # of its own, so a line can land after the job has returned
        deadline = time.monotonic() + 30
        while True:
            logged = _fallback_messages(spark)
            for m in before:
                logged.remove(m)
            counts = [sum(int(m.split("code 0: ")[1].split(";")[0])
                          for m in logged),
                      sum(int(m.split("width bound: ")[1].rstrip(")"))
                          for m in logged)]
            if counts == [1, 1] or time.monotonic() > deadline:
                break
            time.sleep(0.5)
    finally:
        spark.conf.unset("spark.sql.pyspark.worker.logging.enabled")
    assert got == want
    assert counts == [1, 1], logged
