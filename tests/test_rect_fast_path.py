"""Byte parity of the ragged lane on axis rects (_rects_fast_path runs
the rows geom.batch.axis_rect_rows accepts through the router, which
sends them to the ragged lane) vs the scalar per-feature chain. The lane
must produce the EXACT same piece set — including ring start vertex,
winding, Polygon-vs-MultiPolygon wrapping, and WKB bytes — because tile
bytes are pinned by golden fixtures. Rects are the shape where every
border cut lands on an axis-parallel edge or a corner, and where the
winding repair of a reversed box decides the MultiPolygon wrapping."""

import numpy as np
import pandas as pd

from tileigi_spark.engine import (MERC_MAX, WORLD, _is_ring5_polygon_wkb,
                                  _rects_fast_path)
from tileigi_spark.geom.remap import shift_geom as _shift_geom
from tileigi_spark.geom.clip import clip_geometry_to_tiles, clip_to_bbox
from tileigi_spark.geom.simplify import remove_unneeded_points, simplify
from tileigi_spark.geom.validity import (ensure_polygon_orientation,
                                         is_valid, make_valid)
from tileigi_spark.geom.wkb import geom_to_wkb, wkb_to_geom, write_ragged


def scalar_pieces(row, buffer_units, metatile_scale, global_maxzoom):
    """Verbatim copy of geometry_stage's scalar branch for one row."""
    zoom = int(row.zoom)
    size_mt = min(metatile_scale, 1 << zoom)
    x0t = int(row.mtx) * size_mt
    y0t = int(row.mty) * size_mt
    n = 1 << zoom
    minx = x0t / n * WORLD - MERC_MAX
    maxx = (x0t + size_mt) / n * WORLD - MERC_MAX
    maxy = MERC_MAX - y0t / n * WORLD
    miny = MERC_MAX - (y0t + size_mt) / n * WORLD
    extent = 4096.0 * size_mt
    from tileigi_spark.geom.remap import remap_geometry
    try:
        geom = wkb_to_geom(bytes(row.way))
    except ValueError:
        return []
    geom = remap_geometry(geom, minx, maxx, miny, maxy, extent)
    if geom is None:
        return []
    geom = remove_unneeded_points(geom)
    if geom is None:
        return []
    if zoom < global_maxzoom:
        geom = simplify(geom, 8)
        if geom is None:
            return []
    geom = clip_to_bbox(geom, -buffer_units, -buffer_units,
                        int(extent) + buffer_units,
                        int(extent) + buffer_units)
    if geom is None:
        return []
    out = []
    for (tx, ty), piece in clip_geometry_to_tiles(geom, size_mt, x0t, y0t,
                                                  buffer_units):
        piece = make_valid(piece)
        if piece is None:
            continue
        if not is_valid(piece):
            continue
        piece = ensure_polygon_orientation(piece)
        piece = _shift_geom(piece, (tx - x0t) * 4096, (ty - y0t) * 4096)
        out.append((zoom, tx, ty, int(row.feature_id),
                    geom_to_wkb(piece)))
    return out


def run_parity(rows, buffer_units, metatile_scale=8, global_maxzoom=14):
    pdf = pd.DataFrame(rows, columns=["way", "zoom", "mtx", "mty",
                                      "feature_id", "kind"])
    is_r5 = pdf["way"].map(_is_ring5_polygon_wkb)
    assert is_r5.all(), "test rows must all be ring5 candidates"
    res, leftover = _rects_fast_path(pdf, ["kind"], buffer_units,
                                     metatile_scale, global_maxzoom)
    got = set()
    if res is not None:
        frame, rag = res
        for r, w in zip(frame.itertuples(index=False), write_ragged(rag)):
            got.add((int(r.zoom), int(r.x), int(r.y), int(r.feature_id),
                     w, r.kind))
    # leftover rows (non-axis-rects) go scalar in the engine — here the
    # fixture only generates axis rects, so leftover must be empty
    assert len(leftover) == 0

    exp = set()
    for row in pdf.itertuples(index=False):
        for (z, tx, ty, fid, wkb) in scalar_pieces(
                row, buffer_units, metatile_scale, global_maxzoom):
            exp.add((z, tx, ty, fid, wkb, row.kind))
    assert got == exp, (
        f"piece sets differ: only-fast={len(got - exp)} "
        f"only-scalar={len(exp - got)}; "
        f"sample fast={sorted(got - exp)[:2]} "
        f"scalar={sorted(exp - got)[:2]}")


def _mk_row(fid, x0, y0, x1, y1, zoom, mtx, mty, start=0, cw=True):
    pts = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    if not cw:
        pts = pts[::-1]
    pts = pts[start:] + pts[:start]
    way = geom_to_wkb(("Polygon", [pts + [pts[0]]]))
    return (way, zoom, mtx, mty, fid, f"kind-{fid % 5}")


def test_rect_parity_randomized():
    rng = np.random.default_rng(42)
    rows = []
    fid = 0
    for _ in range(600):
        zoom = int(rng.integers(0, 11))
        size_mt = min(8, 1 << zoom)
        n_mt = max((1 << zoom) // size_mt, 1)
        mtx = int(rng.integers(0, n_mt))
        mty = int(rng.integers(0, n_mt))
        # rect in mercator, sized from sub-pixel to metatile-spanning
        span = WORLD / (1 << zoom) * size_mt
        ox = mtx * span - MERC_MAX
        oy = MERC_MAX - (mty + 1) * span
        cx = ox + float(rng.uniform(-0.2, 1.2)) * span
        cy = oy + float(rng.uniform(-0.2, 1.2)) * span
        w = float(10 ** rng.uniform(-1, 0.5)) * span / 2
        h = float(10 ** rng.uniform(-1, 0.5)) * span / 2
        rows.append(_mk_row(fid, cx - w, cy - h, cx + w, cy + h, zoom,
                            mtx, mty, start=int(rng.integers(0, 4)),
                            cw=bool(rng.random() < 0.5)))
        fid += 1
    run_parity(rows, buffer_units=32)
    run_parity(rows, buffer_units=0)


def test_rect_parity_boundary_aligned():
    """Rects whose edges land exactly on tile boundaries, boundaries
    +/- buffer, and the metatile border — the touch/degenerate cases."""
    rows = []
    fid = 0
    zoom, mtx, mty = 4, 1, 1
    size_mt = 8
    span = WORLD / (1 << zoom) * size_mt
    ox = mtx * span - MERC_MAX
    oy = MERC_MAX - (mty + 1) * span
    unit = span / (4096 * size_mt)   # one tile-grid unit in mercator
    for tile_edge in (0, 1, 3, 8):
        for delta in (-33, -32, -31, -1, 0, 1, 31, 32, 33):
            e = tile_edge * 4096 + delta
            x0 = ox + e * unit
            rows.append(_mk_row(fid, x0, oy + 1000 * unit,
                                x0 + 5000 * unit, oy + 9000 * unit,
                                zoom, mtx, mty, start=fid % 4,
                                cw=fid % 2 == 0))
            fid += 1
            rows.append(_mk_row(fid, x0 - 7000 * unit, oy + 100 * unit,
                                x0, oy + 20000 * unit,
                                zoom, mtx, mty, start=fid % 4,
                                cw=fid % 2 == 0))
            fid += 1
    run_parity(rows, buffer_units=32)


def test_rect_parity_tiny_and_degenerate():
    """Sub-epsilon rects around the RDP identity boundary and rects that
    remap to degenerate rings."""
    rows = []
    fid = 0
    zoom, mtx, mty = 6, 3, 2
    size_mt = 8
    span = WORLD / (1 << zoom) * size_mt
    ox = mtx * span - MERC_MAX
    oy = MERC_MAX - (mty + 1) * span
    unit = span / (4096 * size_mt)
    for w in (0.2, 1, 5, 8, 9, 10, 12, 14, 17, 18, 20, 40):
        for h in (0.2, 1, 5, 9, 12, 14, 17, 18, 40, 3000):
            x0 = ox + 5000 * unit
            y0 = oy + 7000 * unit
            rows.append(_mk_row(fid, x0, y0, x0 + w * unit,
                                y0 + h * unit, zoom, mtx, mty,
                                start=fid % 4, cw=fid % 3 != 0))
            fid += 1
    run_parity(rows, buffer_units=32)
    # zoom == global_maxzoom: simplify skipped, tiny rects survive
    run_parity(rows, buffer_units=32, global_maxzoom=6)


def test_rect_parity_low_zoom_small_metatile():
    """zoom < 3: metatile covers the whole world (size_mt = 2^zoom)."""
    rows = []
    fid = 0
    for zoom in (0, 1, 2, 3):
        for _ in range(25):
            rng = np.random.default_rng(1000 + fid)
            cx = float(rng.uniform(-0.9, 0.9)) * MERC_MAX
            cy = float(rng.uniform(-0.9, 0.9)) * MERC_MAX
            w = float(10 ** rng.uniform(4.5, 6.8))
            h = float(10 ** rng.uniform(4.5, 6.8))
            rows.append(_mk_row(fid, cx - w, cy - h, cx + w, cy + h,
                                zoom, 0, 0, start=fid % 4,
                                cw=fid % 2 == 0))
            fid += 1
    run_parity(rows, buffer_units=32)


def test_non_rect_ring5_goes_to_leftover():
    """A closed 5-point quad that is not axis-aligned must be returned
    as leftover for the scalar path, not silently processed."""
    way = geom_to_wkb(("Polygon", [[(0.0, 0.0), (2e6, 1e5), (2e6, 2e6),
                                    (0.0, 2e6), (0.0, 0.0)]]))
    pdf = pd.DataFrame(
        [(way, 4, 0, 0, 1, "k")],
        columns=["way", "zoom", "mtx", "mty", "feature_id", "kind"])
    frame, leftover = _rects_fast_path(pdf, ["kind"], 32, 8, 14)
    assert frame is None
    assert len(leftover) == 1


def test_rect_chunked_equals_whole(monkeypatch):
    """The ragged lane runs oversized batches in _CHUNK_FEATURES-row
    chunks (cache-resident temporaries): the piece set must be the one
    of a whole-batch pass (the render pass sorts pieces into the
    canonical order, so row order is free), and the leftover rows the
    same, index for index."""
    import tileigi_spark.engine as E
    import tileigi_spark.geom.batch as B

    rng = np.random.default_rng(99)
    rows = []
    for fid in range(300):
        zoom = int(rng.integers(0, 11))
        size_mt = min(8, 1 << zoom)
        n_mt = max((1 << zoom) // size_mt, 1)
        mtx = int(rng.integers(0, n_mt))
        mty = int(rng.integers(0, n_mt))
        span = WORLD / (1 << zoom) * size_mt
        ox = mtx * span - MERC_MAX
        oy = MERC_MAX - (mty + 1) * span
        cx = ox + float(rng.uniform(-0.2, 1.2)) * span
        cy = oy + float(rng.uniform(-0.2, 1.2)) * span
        w = float(10 ** rng.uniform(-1, 0.5)) * span / 2
        h = float(10 ** rng.uniform(-1, 0.5)) * span / 2
        if fid % 17 == 0:  # sprinkle non-rect ring5 rows: leftover path
            way = geom_to_wkb(("Polygon", [[(cx, cy), (cx + w, cy + h / 3),
                                            (cx + w, cy + h), (cx, cy + h),
                                            (cx, cy)]]))
            rows.append((way, zoom, mtx, mty, fid, f"kind-{fid % 5}"))
        else:
            rows.append(_mk_row(fid, cx - w, cy - h, cx + w, cy + h, zoom,
                                mtx, mty, start=int(rng.integers(0, 4)),
                                cw=bool(rng.random() < 0.5)))
    pdf = pd.DataFrame(
        rows, columns=["way", "zoom", "mtx", "mty", "feature_id", "kind"])

    monkeypatch.setattr(B, "_CHUNK_FEATURES", 10 ** 9)
    (fw, rw), lw = E._rects_fast_path(pdf, ["kind"], 32, 8, 14)
    monkeypatch.setattr(B, "_CHUNK_FEATURES", 23)
    (fc, rc), lc = E._rects_fast_path(pdf, ["kind"], 32, 8, 14)

    def rows_of(frame, rag):
        return sorted(zip(*(frame[c].tolist() for c in
                            ("zoom", "x", "y", "feature_id", "kind")),
                          write_ragged(rag)))

    whole = rows_of(fw, rw)
    assert len(whole) > 300 and whole == rows_of(fc, rc)
    assert list(lw.index) == list(lc.index)
    assert len(lc) == len([r for r in rows if r[4] % 17 == 0])
