"""The render plan as SQL text (engine.cover_metatiles, build_tiles'
per-layer tail, partition.read_cell_partitioned, TileStore).

Contracts pinned here:
* sqllit.double (engine._d) round-trips every finite double bit for bit
  through Spark's parser and refuses NaN/inf; sqllit.string round-trips
  any text;
* cover_metatiles matches a numpy reference that does the same float
  operations in the same order, on borders exactly at metatile edges,
  +-MERC_MAX, zero-area points, a zoom filter and bbox renders at z0
  and z14;
* with_bbox is one Python pass (one MapInPandas, no ArrowEvalPython);
* building a one-zoom bbox plan and a cell-layout read stays within a
  py4j round-trip budget, and the resume loop over a cell layout runs
  no per-zoom schema-inference job;
* metrics rows carry quotes and backslashes through the SQL text;
* building and writing a render, and a resume-loop commit, capture no
  Python call site (no F.col, no Column method).
"""

import contextlib
import gc
import math
import os
import random
import struct

import numpy as np
import pytest

from pyspark.sql import functions as F

from tileigi_spark import engine, sqllit
from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles, cover_metatiles, with_bbox
from tileigi_spark.fixtures import features_df
from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint
from tileigi_spark.mercator import (MERC_MAX, bbox_metatile_range,
                                    cover_slack)
from tileigi_spark.partition import (read_cell_partitioned,
                                     write_cell_partitioned)

WORLD = 2.0 * MERC_MAX


# ------------------------------------------------------------ literals


def _bits(x):
    return struct.pack("<d", x)


def test_double_literal_round_trips_bit_exact(spark):
    rng = random.Random(20261018)
    vals = [0.0, -0.0, 5e-324, -5e-324, 2.225073858507201e-308,
            2.2250738585072014e-308, 1e308, -1e308,
            1.7976931348623157e308, -1.7976931348623157e308, 0.1, 1 / 3,
            MERC_MAX, -MERC_MAX, WORLD, (2 * 16 + 1) / 4096.0]
    while len(vals) < 400:
        x = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        if math.isfinite(x):
            vals.append(x)
    # subnormals specifically: random mantissas under the smallest normal
    vals += [struct.unpack("<d", struct.pack("<Q", rng.getrandbits(52)))[0]
             for _ in range(50)]
    assert engine._d is sqllit.double
    row = spark.sql("SELECT " + ", ".join(
        f"{sqllit.double(v)} AS c{i}" for i, v in enumerate(vals))).first()
    assert [_bits(v) for v in row] == [_bits(v) for v in vals]
    assert {f.dataType.simpleString()
            for f in spark.sql(f"SELECT {sqllit.double(1.5)} AS a").schema
            } == {"double"}
    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError, match="no exact SQL literal"):
            sqllit.double(bad)


def test_string_literal_round_trips(spark):
    texts = ["plain", "", "it's", "back\\slash", "\\'", "'", "\\",
             "tail\\", "new\nline\ttab", "uni ☃ \\u0041", "''", '"q"']
    row = spark.sql("SELECT " + ", ".join(
        f"{sqllit.string(t)} AS s{i}" for i, t in enumerate(texts))).first()
    assert list(row) == texts


# ------------------------------------------------- cover_metatiles exact


def _edge_features():
    """(feature_id, xmin, ymin, xmax, ymax): borders on metatile edges
    at several zooms, +-MERC_MAX, zero-area points, a world-spanning box
    (for the shallow runs only) and small random boxes."""
    rows = []
    fid = 0

    def add(x0, y0, x1, y1):
        nonlocal fid
        rows.append((fid, float(x0), float(y0), float(x1), float(y1)))
        fid += 1

    for z in (0, 3, 5, 8, 14):
        span = WORLD * min(8, 1 << z) / float(1 << z)
        for k in (1, 2, 3):
            e = -MERC_MAX + k * span
            add(e, e, e, e)                         # point on the edge
            add(e, -e, e + span, -e + span)         # box edge to edge
            # buffered edge: x - buf + MERC_MAX lands on the edge
            buf = (WORLD / float(1 << z)) * ((2 * 16 + 1) / 4096.0)
            add(e + buf, e - buf, e + buf, e - buf)
    for sx in (-1, 1):
        for sy in (-1, 1):
            add(sx * MERC_MAX, sy * MERC_MAX, sx * MERC_MAX, sy * MERC_MAX)
    add(0.0, 0.0, 0.0, 0.0)
    add(-0.0, -0.0, -0.0, -0.0)
    rng = np.random.default_rng(7)
    for _ in range(40):
        x, y = rng.uniform(-MERC_MAX, MERC_MAX, 2)
        w, h = rng.exponential(2e4, 2)
        add(x, y, min(x + w, MERC_MAX), min(y + h, MERC_MAX))
    return rows


WORLD_BOX = (10_000, -MERC_MAX, -MERC_MAX, MERC_MAX, MERC_MAX)


def _keep(fid, z):
    """Python twin of ZOOM_FILTER."""
    return fid % 3 != 0 or z <= 3


ZOOM_FILTER = "pmod(feature_id, 3) <> 0 OR zoom <= 3"


def _reference_cover(rows, zooms, buffer_px, scale=8, keep=None,
                     bbox_merc=None):
    """numpy twin of cover_metatiles: the same float operations in the
    same order, one zoom at a time."""
    fid = np.array([r[0] for r in rows], dtype=np.int64)
    xmin, ymin, xmax, ymax = (np.array([r[i] for r in rows])
                              for i in range(1, 5))
    live = np.ones(len(rows), dtype=bool)
    if bbox_merc is not None:
        minz = min(zooms)
        mtx0, mty0, mtx1, mty1 = bbox_metatile_range(bbox_merc, minz, scale)
        span = WORLD * min(scale, 1 << minz) / float(1 << minz)
        slack = cover_slack(minz, buffer_px)
        live &= ((xmax >= -MERC_MAX + mtx0 * span - slack)
                 & (xmin <= -MERC_MAX + (mtx1 + 1) * span + slack)
                 & (ymax >= MERC_MAX - (mty1 + 1) * span - slack)
                 & (ymin <= MERC_MAX - mty0 * span + slack))
    out = []
    for z in zooms:
        ok = live.copy()
        if keep is not None:
            ok &= np.array([keep(int(f), z) for f in fid], dtype=bool)
        if bbox_merc is not None:
            zx0, zy0, zx1, zy1 = bbox_metatile_range(bbox_merc, z, scale)
            span_z = WORLD * min(scale, 1 << z) / float(1 << z)
            pad_z = cover_slack(z, buffer_px)
            ok &= ((xmax >= -MERC_MAX + zx0 * span_z - pad_z)
                   & (xmin <= -MERC_MAX + (zx1 + 1) * span_z + pad_z)
                   & (ymax >= MERC_MAX - (zy1 + 1) * span_z - pad_z)
                   & (ymin <= MERC_MAX - zy0 * span_z + pad_z))
        two_z_l = 1 << z
        two_z = float(two_z_l)
        size_mt = min(scale, two_z_l)
        n_axis = int(two_z_l / size_mt)
        mt_merc = (WORLD * float(size_mt)) / two_z
        buf_m = (WORLD / two_z) * ((buffer_px * 16 + 1) / 4096.0)

        def cell(v):
            return np.clip(np.floor(v / mt_merc).astype(np.int64), 0,
                           n_axis - 1)

        mx0 = cell((xmin - buf_m) + MERC_MAX)
        mx1 = cell((xmax + buf_m) + MERC_MAX)
        my0 = cell(MERC_MAX - (ymax + buf_m))
        my1 = cell(MERC_MAX - (ymin - buf_m))
        rng = (bbox_metatile_range(bbox_merc, z, scale)
               if bbox_merc is not None else None)
        for i in np.flatnonzero(ok):
            for mx in range(mx0[i], mx1[i] + 1):
                for my in range(my0[i], my1[i] + 1):
                    if rng is None or (rng[0] <= mx <= rng[2]
                                       and rng[1] <= my <= rng[3]):
                        out.append((int(fid[i]), z, mx, my))
    return sorted(out)


def _spark_cover(spark, rows, zooms, buffer_px, **kw):
    df = spark.createDataFrame(
        rows, "feature_id long, xmin double, ymin double, xmax double, "
              "ymax double")
    got = cover_metatiles(df, zooms, buffer_px, **kw).select(
        "feature_id", "zoom", "mtx", "mty").collect()
    return sorted((r[0], r[1], r[2], r[3]) for r in got)


@pytest.mark.parametrize("case", ["world_z0_8", "bbox_z0", "bbox_z14"])
def test_cover_matches_numpy_reference_on_edges(spark, case):
    rows = _edge_features()
    span14 = WORLD * 8 / float(1 << 14)
    # a bbox whose corners sit exactly on z14 metatile edges, and points
    # on the z14 tile edges in and around it
    e = -MERC_MAX + 1000 * span14
    bbox = (e, e, e + 2 * span14, e + 2 * span14)
    tile14 = span14 / 8
    grid = [e + i * tile14 for i in range(-3, 20, 2)]
    rows += [(20_000 + i, x, y, x, y)
             for i, (x, y) in enumerate((x, y) for x in grid for y in grid)]
    rows += [(30_000, e - 1.0, e - 1.0, e + 3 * span14, e + 1.0)]
    if case == "world_z0_8":
        args = dict(zooms=list(range(9)), buffer_px=2)
        rows = rows + [WORLD_BOX]
    elif case == "bbox_z0":
        args = dict(zooms=[0, 1], buffer_px=4, bbox_merc=bbox)
        rows = rows + [WORLD_BOX]
    else:
        args = dict(zooms=[13, 14], buffer_px=2, bbox_merc=bbox)
    want = _reference_cover(rows, keep=_keep, **args)
    got = _spark_cover(spark, rows, zoom_filter=ZOOM_FILTER, **args)
    assert got == want
    assert len(want) > 20
    if "bbox_merc" in args:
        zs = {z for _, z, _, _ in want}
        assert zs == set(args["zooms"])


def test_with_bbox_is_one_python_pass(spark):
    """with_bbox decodes each feature's WKB once: one MapInPandas and no
    ArrowEvalPython (a pandas_udf + isNotNull filter is instantiated in
    both the Filter and the Project, decoding every WKB twice)."""
    plan = with_bbox(features_df(spark, 60))._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


# ------------------------------------------------------ round-trip budget


@contextlib.contextmanager
def _py4j_calls():
    """Counts the py4j commands the driver sends (every JVM call and
    object release) while the block runs; cyclic GC is held off so its
    releases do not land in the count at random. py4j's finalizer thread
    sends object releases from a queue at its own pace, so the releases
    the collect below queues go out before counting starts."""
    import time

    import py4j.clientserver as cs
    from pyspark import SparkContext

    real = cs.ClientServerConnection.send_command
    n = [0]

    def counting(self, command):
        n[0] += 1
        return real(self, command)

    gc.collect()
    gc.disable()
    pending = SparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 30
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)
    cs.ClientServerConnection.send_command = counting
    try:
        yield n
    finally:
        cs.ClientServerConnection.send_command = real
        gc.enable()


LAYER = Layers(layers=[Layer(id="base", source="feats", minzoom=0,
                             maxzoom=14, buffer=2,
                             zoom_filter="pmod(feature_id, 2) = 0"
                                         " OR zoom > 0")],
               global_maxzoom=14)
BBOX = (-20.0, -62.0, 0.0, -58.0)  # holds 4 of the fixture's features


@pytest.fixture(scope="module")
def cells(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan_text") / "cells")
    write_cell_partitioned(with_bbox(features_df(spark, 60)), path,
                           cell_zoom=3, buffer_px=2)
    return path


def test_one_zoom_bbox_build_within_round_trip_budget(spark, cells):
    """A one-layer bbox one-zoom build_tiles with a resume anti-join
    builds its plan in ~260 py4j calls (1,500-1,900 when each Column
    operator was a call of its own)."""
    from tileigi_spark.mercator import bbox_lonlat_to_merc

    src = read_cell_partitioned(spark, cells,
                                bbox_merc=bbox_lonlat_to_merc(BBOX),
                                minzoom=8)
    done = spark.createDataFrame([(8, 1, 1)], "zoom int, x long, y long")

    def build():
        return build_tiles(spark, {"feats": src}, LAYER, 8, 8, bbox=BBOX,
                           done_keys=done, shuffle_parts=8)

    build()  # first call: class lookups py4j caches afterwards
    with _py4j_calls() as n:
        build()
    assert n[0] <= 400, n[0]


def test_cell_read_within_round_trip_budget(spark, cells):
    """One read_cell_partitioned of a bbox (sidecar read, one cell glob,
    schema, two filters) in ~42 py4j calls (~115 when the driver listed
    the cell directories itself, 340 or more when the filters were
    Column operators)."""
    from tileigi_spark.mercator import bbox_lonlat_to_merc

    bbox = bbox_lonlat_to_merc(BBOX)
    read_cell_partitioned(spark, cells, bbox_merc=bbox, minzoom=8)
    with _py4j_calls() as n:
        read_cell_partitioned(spark, cells, bbox_merc=bbox, minzoom=8)
    assert n[0] <= 100, n[0]


def _reader_jobs(spark, after: int):
    """(stage ids, count) of the stages above `after` that a
    DataFrameReader call ran: the parquet schema-inference jobs."""
    store = spark.sparkContext._jsc.sc().statusStore()
    quantiles = getattr(store, "stageList$default$4")()
    seq = store.stageList(None, False, False, quantiles, None)
    ids, reads = [], 0
    for i in range(seq.size()):
        sd = seq.apply(i)
        ids.append(sd.stageId())
        if sd.stageId() > after and "DataFrameReader.parquet" in sd.details():
            reads += 1
    return max(ids, default=-1), reads


def test_resume_loop_over_cells_runs_no_per_zoom_inference(spark, cells,
                                                           tmp_path):
    """Over a cell layout, the loop runs no reader job: the map's done
    keys are read once, before the loop (absent here), and the layout
    read and the staging read-back take their schemas from the sidecar
    and the staging write."""
    from tileigi_spark.mercator import bbox_lonlat_to_merc

    store = TileStore(str(tmp_path / "store"))
    zooms = [6, 7, 8]

    def build(zoom, done):
        src = read_cell_partitioned(spark, cells,
                                    bbox_merc=bbox_lonlat_to_merc(BBOX),
                                    minzoom=zoom)
        return build_tiles(spark, {"feats": src}, LAYER, zoom, zoom,
                           bbox=BBOX, done_keys=done, shuffle_parts=8)

    last, _ = _reader_jobs(spark, -1)
    run_pyramid_with_checkpoint(spark, store, build, zooms, run_id="rt")
    _, reads = _reader_jobs(spark, last)
    metrics = spark.read.parquet(str(tmp_path / "store" / "metrics"))
    commits = metrics.filter(F.col("rows") > 0).count()
    assert commits == len(zooms)
    assert reads == 0
    # and the loop wrote what a single build renders
    one = build_tiles(spark, {"feats": read_cell_partitioned(
        spark, cells, bbox_merc=bbox_lonlat_to_merc(BBOX), minzoom=6)},
        LAYER, 6, 8, bbox=BBOX, shuffle_parts=8)
    want = sorted((r.zoom, r.x, r.y, r.tile_md5) for r in one.collect())
    got = sorted((r.zoom, r.x, r.y, r.tile_md5)
                 for r in store.read_tiles(spark).collect())
    assert got == want


@contextlib.contextmanager
def _call_sites():
    """Counts PySpark's call-site captures while the block runs: F.col
    and every Column method record the Python caller's stack for error
    messages (spark.python.sql.dataFrameDebugging.enabled), at 3-4 py4j
    round trips a call."""
    import pyspark.errors.utils as eu

    real = eu._capture_call_site
    n = [0]

    def counting(depth):
        n[0] += 1
        return real(depth)

    eu._capture_call_site = counting
    try:
        yield n
    finally:
        eu._capture_call_site = real


def test_render_and_commit_capture_no_call_site(spark, cells, tmp_path):
    """Building and writing a render (split from an RDD source, fused
    from the cell layout) and a one-zoom loop commit build their plans
    from SQL text and F.expr, and capture no call site."""
    from tileigi_spark.mercator import bbox_lonlat_to_merc

    with _call_sites() as n:
        F.col("zoom")
    assert n[0] == 1   # the spy sees a capture
    feats = features_df(spark, 60)
    with _call_sites() as n:
        build_tiles(spark, {"feats": feats}, LAYER, 0, 2).write.parquet(
            str(tmp_path / "split"))
        build_tiles(spark, {"feats": spark.read.parquet(cells)}, LAYER, 0,
                    2, include_empty=True).write.parquet(
            str(tmp_path / "fused"))
    assert n[0] == 0

    def build(zoom, done):
        src = read_cell_partitioned(spark, cells,
                                    bbox_merc=bbox_lonlat_to_merc(BBOX),
                                    minzoom=zoom)
        return build_tiles(spark, {"feats": src}, LAYER, zoom, zoom,
                           bbox=BBOX, done_keys=done, shuffle_parts=8)

    store = TileStore(str(tmp_path / "store"))
    with _call_sites() as n:
        run_pyramid_with_checkpoint(spark, store, build, [8], run_id="cs")
        store.read_tiles(spark).collect()
    assert n[0] == 0


def test_metrics_rows_escape_strings(spark, tmp_path):
    """append_metrics writes its rows as SQL text: quotes, backslashes
    and newlines in any string arrive unchanged, numbers keep their
    types."""
    store = TileStore(str(tmp_path / "store"))
    rid = "run 'o\\'neil' \\ end\n--"
    store.append_metrics(spark, [
        {"run_id": rid, "stage": "a'b", "zoom": 3, "rows": 2 ** 40,
         "secs": 0.1, "extra": {"k": "v'\\"}},
        {"run_id": rid}])
    got = spark.read.parquet(os.path.join(str(tmp_path / "store"),
                                          "metrics"))
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("run_id", "string"), ("stage", "string"), ("zoom", "int"),
        ("rows", "bigint"), ("secs", "double"), ("extra", "string")]
    rows = sorted(got.collect(), key=lambda r: r.zoom)
    assert [tuple(r) for r in rows] == [
        (rid, "", -1, 0, 0.0, "{}"),
        (rid, "a'b", 3, 2 ** 40, 0.1, '{"k": "v\'\\\\"}')]
