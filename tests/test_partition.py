"""Cell-partitioned feature-table layout (tileigi_spark/partition.py).

Contracts pinned here:
* full-table read returns every feature exactly once (origin copy);
* a rectangular bbox read returns exactly the features whose copy
  rectangle intersects the read rectangle, once each, and the surviving
  copy is the claimed (greatest(cell_x0, rx0), greatest(cell_y0, ry0));
* the read plan prunes parquet partitions (PartitionFilters at the scan);
* RENDER parity — tiles built from a shard / a bbox-restricted read are
  byte-identical to the same tiles built from the full table, including
  the minzoom < cell_zoom regime whose read rectangle must pad for the
  shallow-zoom clip-buffer slack exceeding the write-side duplication
  slack (the read_rect pad);
* the world-spanning-feature fan-out guard fails the write.
"""

import math
import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles, with_bbox
from tileigi_spark.fixtures import features_df
from tileigi_spark.geom.wkb import geom_to_wkb
from tileigi_spark.mercator import MERC_MAX, bbox_lonlat_to_merc, \
    bbox_tile_range
from tileigi_spark.partition import (WORLD, cell_slack, is_cell_partitioned,
                                     layout_meta, read_cell_partitioned,
                                     read_cell_shard, read_rect,
                                     write_cell_partitioned)

CZ = 3          # cell zoom: 8x8 grid
N = 1 << CZ
SPAN = WORLD / N
LAYERS = Layers(layers=[
    Layer(id="base", source="features", minzoom=0, maxzoom=14, buffer=2),
], global_minzoom=0, global_maxzoom=14)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    """The deterministic mixed-geometry fixture, cell-partitioned at z3,
    plus the same DataFrame unpartitioned."""
    path = str(tmp_path_factory.mktemp("cells") / "features")
    feats = with_bbox(features_df(spark, 120))
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2)
    return path, feats


def _expected_copy_rects(feats_pdf, buffer_px=2):
    """Brute-force twin of the write-side cell fan (pandas)."""
    slack = cell_slack(CZ, buffer_px)

    def clamp(a):
        return np.clip(np.floor(a).astype(np.int64), 0, N - 1)

    cx0 = clamp((feats_pdf["xmin"] - slack + MERC_MAX) / SPAN)
    cx1 = clamp((feats_pdf["xmax"] + slack + MERC_MAX) / SPAN)
    cy0 = clamp((MERC_MAX - (feats_pdf["ymax"] + slack)) / SPAN)
    cy1 = clamp((MERC_MAX - (feats_pdf["ymin"] - slack)) / SPAN)
    return pd.DataFrame({"feature_id": feats_pdf["feature_id"].to_numpy(),
                         "cx0": cx0, "cx1": cx1, "cy0": cy0, "cy1": cy1})


# ------------------------------------------------------------ exactly-once

def test_full_read_exactly_once(spark, table):
    path, feats = table
    got = read_cell_partitioned(spark, path)
    ids = [r["feature_id"] for r in got.select("feature_id").collect()]
    assert sorted(ids) == sorted(
        r["feature_id"] for r in feats.select("feature_id").collect())
    assert len(ids) == len(set(ids))
    # helper columns dropped by default
    assert not {"cell_x", "cell_y", "cell_x0", "cell_y0"} & set(got.columns)
    # ... and the duplicated copies really exist on disk (the layout is
    # not a plain repartition)
    raw = spark.read.parquet(path)
    assert raw.count() > feats.count()


@pytest.mark.parametrize("rect_bbox", [
    # merc bboxes chosen to land mid-cell / on cell seams / one-cell
    (-MERC_MAX + 0.3 * SPAN, -MERC_MAX + 0.3 * SPAN,
     -MERC_MAX + 4.7 * SPAN, -MERC_MAX + 2.2 * SPAN),
    (-MERC_MAX + 2.0 * SPAN, -MERC_MAX + 1.0 * SPAN,
     -MERC_MAX + 6.0 * SPAN, -MERC_MAX + 6.0 * SPAN),
    (-MERC_MAX + 5.5 * SPAN, -MERC_MAX + 5.5 * SPAN,
     -MERC_MAX + 5.6 * SPAN, -MERC_MAX + 5.6 * SPAN),
])
def test_bbox_read_matches_bruteforce(spark, table, rect_bbox):
    path, feats = table
    got = read_cell_partitioned(spark, path, bbox_merc=rect_bbox,
                                keep_cells=True).toPandas()
    assert got["feature_id"].is_unique

    rx0, ry0, rx1, ry1 = read_rect(rect_bbox, CZ)
    exp = _expected_copy_rects(
        feats.select("feature_id", "xmin", "ymin", "xmax", "ymax")
        .toPandas())
    exp = exp[(exp["cx1"] >= rx0) & (exp["cx0"] <= rx1)
              & (exp["cy1"] >= ry0) & (exp["cy0"] <= ry1)]
    assert sorted(got["feature_id"]) == sorted(exp["feature_id"])
    # the surviving copy is the minimum cell of copy-rect ∩ read-rect
    m = got.set_index("feature_id")
    e = exp.set_index("feature_id")
    for fid in e.index:
        assert m.loc[fid, "cell_x"] == max(int(e.loc[fid, "cx0"]), rx0)
        assert m.loc[fid, "cell_y"] == max(int(e.loc[fid, "cy0"]), ry0)


def test_partition_pruning_in_plan(spark, table):
    path, _ = table
    rect = (-MERC_MAX + 2.0 * SPAN, -MERC_MAX + 2.0 * SPAN,
            -MERC_MAX + 3.5 * SPAN, -MERC_MAX + 3.5 * SPAN)
    got = read_cell_partitioned(spark, path, bbox_merc=rect)
    plan = got._jdf.queryExecution().executedPlan().toString()
    seg = plan[plan.index("PartitionFilters"):]
    seg = seg[:seg.index("]") + 1]
    assert "cell_x" in seg and "cell_y" in seg, seg


# ------------------------------------------------------------ guards

def test_missing_bbox_columns_rejected(spark):
    df = features_df(spark, 4)
    with pytest.raises(ValueError, match="bbox columns"):
        write_cell_partitioned(df, "/tmp/nope", cell_zoom=CZ)


def test_layout_column_clash_rejected(spark):
    df = with_bbox(features_df(spark, 4)).withColumn("cell_x", F.lit(0))
    with pytest.raises(ValueError, match="layout columns"):
        write_cell_partitioned(df, "/tmp/nope", cell_zoom=CZ)


def test_world_spanning_fanout_guard(spark, tmp_path):
    wkb = geom_to_wkb(("LineString", [(-MERC_MAX * 0.9, 0.0),
                                      (MERC_MAX * 0.9, 0.0)]))
    df = with_bbox(spark.createDataFrame(
        [(1, bytearray(wkb))], "feature_id long, way binary"))
    with pytest.raises(Exception, match="fans out"):
        write_cell_partitioned(df, str(tmp_path / "guard"), cell_zoom=CZ,
                               max_cells_per_feature=4)


def test_cluster_files_roundtrip(spark, table, tmp_path):
    """cluster_files only changes the file layout (fewer, larger files
    per cell dir), never the read contract."""
    import glob

    _, feats = table
    path = str(tmp_path / "clustered")
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2,
                           cluster_files=4)
    got = read_cell_partitioned(spark, path)
    assert sorted(r["feature_id"] for r in
                  got.select("feature_id").collect()) == \
        sorted(r["feature_id"] for r in
               feats.select("feature_id").collect())
    # each cell directory holds at most cluster_files files
    for d in glob.glob(f"{path}/cell_x=*/cell_y=*"):
        n = len(glob.glob(f"{d}/*.parquet"))
        assert 1 <= n <= 4, (d, n)


def test_meta_sidecar(spark, table):
    path, _ = table
    assert is_cell_partitioned(spark, path)
    assert not is_cell_partitioned(spark, path + "-nonexistent")
    meta = layout_meta(spark, path)
    assert meta["cell_zoom"] == CZ and meta["buffer_px"] == 2


# ------------------------------------------------------------ read_rect

def test_read_rect_math():
    assert read_rect(None, CZ) == (0, 0, N - 1, N - 1)
    # one-cell bbox, no minzoom: exactly the covering cells
    b = (-MERC_MAX + 1.1 * SPAN, -MERC_MAX + 1.1 * SPAN,
         -MERC_MAX + 1.9 * SPAN, -MERC_MAX + 1.9 * SPAN)
    assert read_rect(b, CZ) == (1, 6, 1, 6)
    # minzoom >= cell_zoom: tile range mapped up to cells
    assert read_rect(b, CZ, minzoom=CZ + 2) == (1, 6, 1, 6)
    # minzoom < cell_zoom: widened to the shallow tiles' cells PLUS the
    # slack-deficit pad (slack(1) - slack(3) < one cell => pad = 1)
    q = (MERC_MAX * 0.1, MERC_MAX * 0.1, MERC_MAX * 0.4, MERC_MAX * 0.4)
    tx0, ty0, tx1, ty1 = bbox_tile_range(q, 1)
    assert (tx0, ty0, tx1, ty1) == (1, 0, 1, 0)
    pad = math.ceil((cell_slack(1, 2) - cell_slack(CZ, 2)) / SPAN)
    assert pad == 1
    assert read_rect(q, CZ, minzoom=1) == (3, 0, 7, 4)
    # minzoom 0 reaches the whole grid
    assert read_rect(q, CZ, minzoom=0) == (0, 0, N - 1, N - 1)


# ------------------------------------------------------------ render parity

def _md5s(tiles):
    return {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
            for r in tiles.select("zoom", "x", "y", "tile_md5").collect()}


def test_shard_render_parity(spark, table):
    """Tiles inside a cell at zoom >= cell_zoom are byte-identical
    rendered from the cell's shard alone vs from the full table."""
    path, feats = table
    full = _md5s(build_tiles(spark, {"features": feats}, LAYERS, CZ, CZ + 2))
    probed = 0
    for cx, cy in [(1, 5), (4, 5), (6, 5)]:
        shard = read_cell_shard(spark, path, cx, cy)
        got = _md5s(build_tiles(spark, {"features": shard}, LAYERS,
                                CZ, CZ + 2))

        def inside(key):
            z, x, y = key
            s = z - CZ
            return (cx << s) <= x < ((cx + 1) << s) \
                and (cy << s) <= y < ((cy + 1) << s)

        exp_cell = {k: v for k, v in full.items() if inside(k)}
        got_cell = {k: v for k, v in got.items() if inside(k)}
        assert got_cell == exp_cell
        probed += len(exp_cell)
    assert probed > 0  # the probe cells actually contain tiles


def test_bbox_render_parity_deep(spark, table):
    """bbox render at minzoom >= cell_zoom: partitioned read == full."""
    path, feats = table
    bbox = (5.0, -61.0, 40.0, -54.0)  # lonlat, over the fixture band
    merc = bbox_lonlat_to_merc(bbox)
    part = read_cell_partitioned(spark, path, bbox_merc=merc, minzoom=CZ)
    full = _md5s(build_tiles(spark, {"features": feats}, LAYERS,
                             CZ, CZ + 2, bbox=bbox))
    got = _md5s(build_tiles(spark, {"features": part}, LAYERS,
                            CZ, CZ + 2, bbox=bbox))
    assert len(full) > 0 and got == full


def test_bbox_render_parity_shallow_slack_pad(spark, tmp_path):
    """minzoom < cell_zoom: a feature OUTSIDE the shallow tiles' cell
    rectangle but within the shallow zoom's clip-buffer slack must still
    reach the render — this is exactly what read_rect's pad buys (the
    write-side duplication slack alone is too small)."""
    bbox = (10.0, 10.0, 40.0, 40.0)
    merc = bbox_lonlat_to_merc(bbox)
    # z1 tile (1, 0) extent is x,y in [0, MERC_MAX]; plant a point just
    # LEFT of x=0 — beyond the cell-zoom duplication slack, inside the
    # z1 buffer slack, so it renders into tile (1,0)'s buffer.
    d = 0.5 * (cell_slack(1, 2) + cell_slack(CZ, 2))
    assert cell_slack(CZ, 2) < d < cell_slack(1, 2)
    pts = [(-d, MERC_MAX * 0.5), (MERC_MAX * 0.3, MERC_MAX * 0.6),
           (MERC_MAX * 0.7, MERC_MAX * 0.2)]
    rows = [(i, bytearray(geom_to_wkb(("Point", p)))) for i, p in
            enumerate(pts)]
    feats = with_bbox(spark.createDataFrame(
        rows, "feature_id long, way binary"))
    path = str(tmp_path / "cells")
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2)

    part = read_cell_partitioned(spark, path, bbox_merc=merc, minzoom=1)
    # the probe point survives the read (it lives in padded cell x=3)
    assert 0 in {r["feature_id"]
                 for r in part.select("feature_id").collect()}
    full = _md5s(build_tiles(spark, {"features": feats}, LAYERS,
                             1, 4, bbox=bbox))
    got = _md5s(build_tiles(spark, {"features": part}, LAYERS,
                            1, 4, bbox=bbox))
    assert len(full) > 0 and got == full
    # and the probe point is genuinely load-bearing: without it the
    # z1 tile's bytes differ
    without = _md5s(build_tiles(
        spark, {"features": feats.filter("feature_id != 0")}, LAYERS,
        1, 1, bbox=bbox))
    assert without[(1, 1, 0)] != full[(1, 1, 0)]


# ------------------------------------------------------------ CLI

def test_cli_auto_detects_cell_layout(spark, table, tmp_path):
    """tileigi-spark --source over a cell-partitioned dir must read
    exactly-once (raw parquet would double boundary copies)."""
    from tileigi_spark.cli import main

    from tileigi_spark.io import TileStore

    path, feats = table
    cfg = tmp_path / "layers.yml"
    cfg.write_text("""
minzoom: 0
maxzoom: 14
name: cell-layout-test
Layer:
  - id: base
    properties: {minzoom: 0, maxzoom: 14, buffer-size: 2}
    Datasource: {table: features}
""")
    dest1 = str(tmp_path / "t_cells")
    dest2 = str(tmp_path / "t_plain")
    plain = str(tmp_path / "plain_parquet")
    feats.write.parquet(plain)
    main(["--config", str(cfg), "--source", f"features={path}",
          "--dest", dest1, "--minzoom", "3", "--maxzoom", "4",
          "--bbox", "5,-61,40,-54"])
    main(["--config", str(cfg), "--source", f"features={plain}",
          "--dest", dest2, "--minzoom", "3", "--maxzoom", "4",
          "--bbox", "5,-61,40,-54"])

    def stored(dest):
        rows = TileStore(dest).read_tiles(spark).collect()
        return {(r["zoom"], r["x"], r["y"]): bytes(r["tile"]) for r in rows}
    t1, t2 = stored(dest1), stored(dest2)
    assert len(t1) > 0 and t1 == t2


def test_append_with_mismatched_grid_rejected(spark, tmp_path):
    """Appending under a different cell_zoom/buffer_px would mix two
    grids in one table while the sidecar describes only the new one —
    the survivor rule would then prune/duplicate the OLD rows against
    the wrong grid silently. Must refuse."""
    path = str(tmp_path / "t")
    feats = with_bbox(features_df(spark, 8))
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2)
    with pytest.raises(ValueError, match="append with cell_zoom"):
        write_cell_partitioned(feats, path, cell_zoom=CZ + 1,
                               buffer_px=2, mode="append")
    with pytest.raises(ValueError, match="append with cell_zoom"):
        write_cell_partitioned(feats, path, cell_zoom=CZ,
                               buffer_px=4, mode="append")
    # matching layout appends fine and doubles the row count
    before = spark.read.parquet(path).count()
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2,
                           mode="append")
    assert spark.read.parquet(path).count() == 2 * before
    assert layout_meta(spark, path)["cell_zoom"] == CZ


def test_append_onto_corrupt_sidecar_raises(spark, tmp_path):
    """Only a missing sidecar means "new table"; one that exists but
    cannot be parsed must fail the append instead of letting it write a
    second grid under a sidecar that describes neither."""
    import json

    from tileigi_spark.partition import META_FILE

    path = tmp_path / "t"
    feats = with_bbox(features_df(spark, 8))
    write_cell_partitioned(feats, str(path), cell_zoom=CZ, buffer_px=2)
    before = spark.read.parquet(str(path)).count()
    (path / META_FILE).write_text("{not json")
    (path / f".{META_FILE}.crc").unlink(missing_ok=True)
    with pytest.raises(json.JSONDecodeError):
        write_cell_partitioned(feats, str(path), cell_zoom=CZ + 1,
                               buffer_px=2, mode="append")
    assert spark.read.parquet(str(path)).count() == before


def _v1_copy(spark, path, dest):
    """A copy of the table whose sidecar is version 1 (no schema)."""
    import json
    import shutil

    from tileigi_spark.partition import META_FILE

    shutil.copytree(path, dest)
    (dest / f".{META_FILE}.crc").unlink(missing_ok=True)
    meta = layout_meta(spark, path)
    with open(dest / META_FILE, "w") as f:
        json.dump({"cell_zoom": meta["cell_zoom"],
                   "buffer_px": meta["buffer_px"], "version": 1}, f)
    return str(dest)


def test_empty_cell_glob_reads_an_empty_frame(spark, table, tmp_path):
    """A read rectangle without a cell directory matches nothing: with
    the sidecar's schema it reads as an empty frame that scans no file
    (it used to list and read the whole table); a version-1 sidecar
    reads the root instead. Any other read error propagates."""
    from pyspark.errors import AnalysisException

    path, _ = table
    cx, cy = next((x, y) for x in range(N) for y in range(N)
                  if not os.path.isdir(f"{path}/cell_x={x}/cell_y={y}"))
    bbox = (-MERC_MAX + (cx + 0.4) * SPAN, MERC_MAX - (cy + 0.6) * SPAN,
            -MERC_MAX + (cx + 0.6) * SPAN, MERC_MAX - (cy + 0.4) * SPAN)
    assert read_rect(bbox, CZ) == (cx, cy, cx, cy)
    schema = read_cell_partitioned(spark, path).schema

    got = read_cell_partitioned(spark, path, bbox_merc=bbox)
    assert got.schema == schema and got.count() == 0
    assert "FileScan" not in \
        got._jdf.queryExecution().executedPlan().toString()

    old = _v1_copy(spark, path, tmp_path / "v1")
    got = read_cell_partitioned(spark, old, bbox_merc=bbox)
    assert got.schema == schema and got.count() == 0
    assert "FileScan" in got._jdf.queryExecution().executedPlan().toString()

    # a matched cell directory without files: inference fails by name
    os.makedirs(f"{old}/cell_x={cx}/cell_y={cy}")
    with pytest.raises(AnalysisException) as e:
        read_cell_partitioned(spark, old, bbox_merc=bbox)
    assert e.value.getCondition() == "UNABLE_TO_INFER_SCHEMA"


# ------------------------------------------------- sidecar schema (v2)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_sidecar_schema_is_the_inferred_schema(spark, table):
    """The schema the sidecar records is exactly what a read infers, so
    reads that take it return the same columns and types."""
    from pyspark.sql.types import StructType

    path, _ = table
    meta = layout_meta(spark, path)
    assert meta["version"] == 2
    assert StructType.fromJson(meta["schema"]) == \
        spark.read.parquet(path).schema


def test_sidecar_without_schema_reads_the_same_rows(spark, table, tmp_path):
    """A version-1 sidecar (no schema) keeps inferring the schema and
    reads the same rows as the schema-carrying one."""
    path, _ = table
    old = _v1_copy(spark, path, tmp_path / "v1")
    rect = (-MERC_MAX + 2.0 * SPAN, -MERC_MAX + 2.0 * SPAN,
            -MERC_MAX + 3.5 * SPAN, -MERC_MAX + 3.5 * SPAN)
    for kw in ({}, {"bbox_merc": rect}, {"bbox_merc": rect, "minzoom": 1},
               {"keep_cells": True}):
        new_df = read_cell_partitioned(spark, path, **kw)
        old_df = read_cell_partitioned(spark, old, **kw)
        assert new_df.schema == old_df.schema
        assert _rows(new_df) == _rows(old_df)
    assert _rows(read_cell_shard(spark, path, 3, 4)) == \
        _rows(read_cell_shard(spark, old, 3, 4))

    # an append onto it keeps it without a schema
    feats = with_bbox(features_df(spark, 8))
    write_cell_partitioned(feats, old, cell_zoom=CZ, buffer_px=2,
                           mode="append")
    assert "schema" not in layout_meta(spark, old)
    assert read_cell_partitioned(spark, old).count() == \
        read_cell_partitioned(spark, path).count() + 8


def test_append_with_mismatched_schema_rejected(spark, tmp_path):
    """An append whose columns differ from the recorded schema fails
    before writing, like a grid mismatch; the table is unchanged."""
    path = str(tmp_path / "t")
    feats = with_bbox(features_df(spark, 8))
    write_cell_partitioned(feats, path, cell_zoom=CZ, buffer_px=2)
    before = spark.read.parquet(path).count()
    for other in (feats.withColumn("extra", F.lit(1)),
                  feats.drop("nullable_note"),
                  feats.withColumn("admin_level",
                                   F.col("admin_level").cast("long"))):
        with pytest.raises(ValueError, match="append with schema"):
            write_cell_partitioned(other, path, cell_zoom=CZ, buffer_px=2,
                                   mode="append")
    assert spark.read.parquet(path).count() == before
    # nullability is not a difference: parquet reads every column nullable
    not_null = feats.withColumn("feature_id",
                                F.coalesce("feature_id", F.lit(0)))
    assert not not_null.schema["feature_id"].nullable
    write_cell_partitioned(not_null, path, cell_zoom=CZ, buffer_px=2,
                           mode="append")
    assert spark.read.parquet(path).count() == 2 * before


def test_batch_table_reads_log_no_sink_probe_warning(spark, table,
                                                     tmp_path):
    """One-path reads of the package's own tables (a TileStore table, a
    cell glob) log no `FileStreamSink: Assume no metadata directory`
    WARN with its FileNotFoundException stack, and keep their meaning:
    an absent or empty table reads as None, an empty rectangle as an
    empty frame, a corrupt file still fails; the session's setting of
    the probe's switch is restored."""
    from tileigi_spark.io import TileStore
    from tileigi_spark.partition import _SINK_LOG_IGNORED

    path, _ = table
    cx, cy = next((x, y) for x in range(N) for y in range(N)
                  if not os.path.isdir(f"{path}/cell_x={x}/cell_y={y}"))
    empty_bbox = (-MERC_MAX + (cx + 0.4) * SPAN, MERC_MAX - (cy + 0.6) * SPAN,
                  -MERC_MAX + (cx + 0.6) * SPAN, MERC_MAX - (cy + 0.4) * SPAN)
    some_bbox = (-MERC_MAX + 2.0 * SPAN, -MERC_MAX + 2.0 * SPAN,
                 -MERC_MAX + 3.5 * SPAN, -MERC_MAX + 3.5 * SPAN)
    store = TileStore(str(tmp_path / "store"))

    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    log = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(), None, log,
        "read-probe", False, True)
    appender.start()
    root = jvm.org.apache.logging.log4j.LogManager.getContext(False) \
        .getRootLogger()
    root.addAppender(appender)
    try:
        assert store.done_keys(spark) is None            # no directory
        os.makedirs(tmp_path / "store" / "checkpoint")
        assert store.done_keys(spark) is None            # empty directory
        assert read_cell_partitioned(spark, path,
                                     bbox_merc=empty_bbox).count() == 0
        assert read_cell_partitioned(spark, path,
                                     bbox_merc=some_bbox).count() > 0
        (tmp_path / "store" / "checkpoint" / "part-0.parquet").write_bytes(
            b"not a parquet file")
        with pytest.raises(Exception, match="part-0.parquet"):
            store.done_keys(spark)
    finally:
        root.removeAppender(appender)
        appender.stop()
    assert "Assume no metadata directory" not in str(log.toString())
    assert spark.conf.get(_SINK_LOG_IGNORED, None) is None


def test_concurrent_batch_reads_leave_the_sink_switch_unset(spark):
    """Two threads reading at once take turns on the session-wide probe
    switch: thread B must not save A's temporary `true` and restore it
    after A unset it. Here A's read waits (up to 2 s) for B to enter its
    read and B's read waits for A to finish; without the lock B restores
    `true` for good."""
    import threading

    from tileigi_spark.partition import _SINK_LOG_IGNORED, read_batch_parquet

    a_inside, b_inside, a_done = (threading.Event() for _ in range(3))

    class Reader:
        def __init__(self, signal, wait_for):
            self.signal, self.wait_for = signal, wait_for

        def parquet(self, path):
            self.signal.set()
            self.wait_for.wait(2)
            return path

    def run_a():
        read_batch_parquet(spark, Reader(a_inside, b_inside), "a")
        a_done.set()

    assert spark.conf.get(_SINK_LOG_IGNORED, None) is None
    a = threading.Thread(target=run_a)
    b = threading.Thread(target=read_batch_parquet,
                         args=(spark, Reader(b_inside, a_done), "b"))
    a.start()
    assert a_inside.wait(30)
    b.start()
    for t in (a, b):
        t.join(30)
        assert not t.is_alive()
    assert spark.conf.get(_SINK_LOG_IGNORED, None) is None


def test_many_threads_reading_leave_the_sink_switch_unset(spark):
    """Stress: 8 threads (more than cores) each make 10 reads with a
    short switch interval; the switch is `true` inside every read and
    unset once all are done."""
    import sys
    import threading

    from tileigi_spark.partition import _SINK_LOG_IGNORED, read_batch_parquet

    seen = []

    class Reader:
        def parquet(self, path):
            seen.append(spark.conf.get(_SINK_LOG_IGNORED, None))
            return path

    def reads():
        for i in range(10):
            read_batch_parquet(spark, Reader(), str(i))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reads) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert seen == ["true"] * 80
    assert spark.conf.get(_SINK_LOG_IGNORED, None) is None
