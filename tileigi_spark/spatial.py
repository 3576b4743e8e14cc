"""Spatial joins: point-in-polygon (J4) and kNN via cell-ring expansion
(J5). Both key on index.py's grid cells (cell_col / cell_xy_cols) so the
heavy lifting is a native equi hash join.

PIP broadcasts a cover relation the JVM explodes from one row per
polygon; the refine is a JVM comparison when every polygon is an axis
rect, otherwise one Arrow-batched numpy even-odd kernel (_refine) over
the (much smaller) candidate set. kNN stages its queries once and writes
each round's top-k once; knn_join says how long the staging lives.
"""

from __future__ import annotations

import functools
import logging
import math

import numpy as np
import pandas as pd
import pyarrow as pa

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               StructField, StructType)

from .engine import with_bbox, _bbox_arrays
from .geom.batch import axis_rect_rows
from .geom.wkb import read_ragged, wkb_to_geom
from .index import cell_col, cell_xy_cols, bbox_cover_cells, disk_cells
from .mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX
_log = logging.getLogger(__name__)


def _point_in_rings(px, py, rings) -> bool:
    """Even-odd PIP over polygon rings (holes included by parity)."""
    crossings = 0
    for ring in rings:
        for i in range(len(ring) - 1):
            x1, y1 = ring[i]
            x2, y2 = ring[i + 1]
            if (y1 > py) == (y2 > py):
                continue
            xc = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            if xc > px:
                crossings += 1
    return crossings % 2 == 1


def point_in_polygon(px, py, geom) -> bool:
    typ, data = geom
    if typ == "Polygon":
        return _point_in_rings(px, py, data)
    if typ == "MultiPolygon":
        return any(_point_in_rings(px, py, rings) for rings in data)
    return False


def _rings_edges(rings):
    """Pack a ring list into per-edge numpy columns (E,1 shaped for
    broadcasting against the point axis)."""
    xs1, ys1, xs2, ys2 = [], [], [], []
    for ring in rings:
        arr = np.asarray(ring, dtype=np.float64)
        xs1.append(arr[:-1, 0]); ys1.append(arr[:-1, 1])
        xs2.append(arr[1:, 0]); ys2.append(arr[1:, 1])
    x1 = np.concatenate(xs1)[:, None]
    y1 = np.concatenate(ys1)[:, None]
    x2 = np.concatenate(xs2)[:, None]
    y2 = np.concatenate(ys2)[:, None]
    return x1, y1, x2, y2


def _pip_many(X, Y, polys):
    """Vectorized even-odd for a batch of points against one geometry's
    polygon list. Arithmetic mirrors _point_in_rings term-for-term (same
    crossing formula and comparisons), evaluated edges × points."""
    inside = np.zeros(len(X), dtype=bool)
    for rings in polys:
        x1, y1, x2, y2 = _rings_edges(rings)
        n_edges = x1.shape[0]
        # bound the (edges x points) temporary to ~32 MB per slab
        step = max(1, 4_000_000 // max(n_edges, 1))
        parity = np.zeros(len(X), dtype=np.int64)
        for s in range(0, len(X), step):
            Xs = X[s:s + step]
            Ys = Y[s:s + step]
            mask = (y1 > Ys) != (y2 > Ys)
            with np.errstate(divide="ignore", invalid="ignore"):
                xc = x1 + (Ys - y1) * (x2 - x1) / (y2 - y1)
            parity[s:s + step] = ((xc > Xs) & mask).sum(axis=0)
        inside |= (parity % 2 == 1)
    return inside


def _refine(px: pd.Series, py: pd.Series, keys: pd.Series,
            wkb_of) -> pd.Series:
    """Exact refine of cell-join candidates (point px/py, polygon key):
    decode each distinct polygon once per batch (`wkb_of(key)` gives its
    WKB), then run the numpy even-odd kernel for all of its candidate
    points at once (the hot inner loop of J4 — the scalar per-row path
    was the 10-50x bottleneck)."""
    pxv = px.to_numpy(dtype=np.float64)
    pyv = py.to_numpy(dtype=np.float64)
    out = np.zeros(len(pxv), dtype=bool)
    for key, idx in keys.groupby(keys, sort=False).indices.items():
        typ, data = wkb_to_geom(wkb_of(key))
        if typ == "Polygon":
            out[idx] = _pip_many(pxv[idx], pyv[idx], [data])
        elif typ == "MultiPolygon":
            out[idx] = _pip_many(pxv[idx], pyv[idx], data)
    return pd.Series(out)


@F.pandas_udf(BooleanType())
def _pip_refine(px: pd.Series, py: pd.Series, way: pd.Series) -> pd.Series:
    """_refine keyed by the streamed WKB itself."""
    return _refine(px, py, way, lambda wkb: wkb)


def point_in_polygon_join(points: DataFrame, polygons: DataFrame,
                          index_zoom: int = 7,
                          px_col: str = "mx", py_col: str = "my",
                          max_broadcast_polys: int = 100_000) -> DataFrame:
    """J4: points(… mx, my mercator columns) ⋈ polygons(… way WKB).

    Plan (broadcast path, the admin-polygon norm): the polygon table is
    collected ONCE driver-side and read once for bboxes and rect-ness.
    One relation with one row per polygon (id, bbox, rect corners,
    attributes) goes back to Spark; index.bbox_cover_cells explodes it
    to its cells in the JVM, and that cover relation broadcast-joins
    against the points (the 100-TB point side is never shuffled —
    BuildRight on the tiny cell relation). When every polygon is an
    axis rect the refine is a JVM comparison on the corners; otherwise
    the exact even-odd refine resolves WKB from a broadcast id→bytes
    dict inside the Arrow UDF. The candidate stream carries only ids,
    coords and attributes: shipping the full polygon WKB per (point ×
    polygon) candidate row put a 1.6 MB country multipolygon into the
    Arrow stream once per candidate point. Polygon tables beyond
    max_broadcast_polys rows fall back to the distributed cover-join
    that streams WKB (correct at any size, heavier on transfer).
    Returns matched rows with point columns first, then all polygon
    columns except `way`."""
    poly_cols = [c for c in polygons.columns if c != "way"]
    # single driver action: collect capped at the broadcast limit + 1 —
    # the sentinel row both detects the over-limit case and avoids a
    # separate count() job over the polygon table
    table = polygons.limit(max_broadcast_polys + 1).toArrow()
    if table.num_rows > max_broadcast_polys:
        return (_pip_join_streamed(points, polygons, index_zoom,
                                   px_col, py_col)
                .select(*points.columns, *poly_cols))

    spark = points.sparkSession
    # one read of the collected WKB: bboxes from its vertex arrays, and
    # rect-ness from the geometry router's axis-rect predicate on
    # one-ring Polygon / MultiPolygon-of-one rows (rows it refuses are
    # not rects and take the exact Python refine)
    ways = table.column("way").to_pylist()
    rag = read_ragged(ways)
    bb = _bbox_arrays(ways, rag)
    rects, rx, ry = axis_rect_rows(rag, (3, 6))
    is_rect = np.zeros(len(ways), dtype=bool)
    is_rect[rects] = True
    corner = {}
    for c, v in (("_rx0", rx.min(axis=1)), ("_ry0", ry.min(axis=1)),
                 ("_rx1", rx.max(axis=1)), ("_ry1", ry.max(axis=1))):
        corner[c] = np.full(len(ways), np.nan)
        corner[c][rects] = v
    pids = np.flatnonzero(~np.isnan(bb["xmin"]))
    bbox = ("_xmin", "_ymin", "_xmax", "_ymax")
    schema = StructType(
        [StructField("_pid", IntegerType(), False)]
        + [StructField(c, DoubleType(), False) for c in bbox]
        + [StructField(c, DoubleType()) for c in corner]
        + [polygons.schema[c] for c in poly_cols])
    # an Arrow table reaches the JVM as a LocalRelation: no Python
    # worker runs to unpickle the rows when the broadcast is built
    attrs = table.select(poly_cols).take(pa.array(pids))
    poly_df = spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(pids, pa.int32())]
        + [pa.array(bb[k][pids]) for k in ("xmin", "ymin", "xmax", "ymax")]
        + [pa.array(v[pids], mask=~is_rect[pids]) for v in corner.values()]
        + attrs.columns, names=schema.names), schema)
    cover = bbox_cover_cells(poly_df, index_zoom, *bbox).drop(*bbox)
    px, py = F.col(px_col), F.col(py_col)
    cand = (points.withColumn("cell", cell_col(px, py, index_zoom))
            .join(F.broadcast(cover), on="cell", how="inner"))

    if is_rect[pids].all():
        # Every polygon is a single axis-aligned rectangle ring (the
        # admin-box / tile-bounds norm): the even-odd refine collapses to
        # a pure-JVM half-open interval test and the whole join runs as
        # codegen — no ArrowEvalPython over the candidate stream at all.
        # Equivalence is exact, not approximate: a vertical edge's
        # crossing abscissa is exactly x_edge in IEEE terms (x + (py-y)*
        # 0/dy == x), horizontal edges never cross, so even-odd for the
        # rect is ((y0>py) != (y1>py)) AND ((x0>px) != (x1>px)) with the
        # same double comparisons _pip_many evaluates.
        inside = (((F.col("_ry0") > py) != (F.col("_ry1") > py))
                  & ((F.col("_rx0") > px) != (F.col("_rx1") > px)))
    else:
        bc = spark.sparkContext.broadcast(
            {pid: ways[pid] for pid in pids.tolist()})

        @F.pandas_udf(BooleanType())
        def refine(px: pd.Series, py: pd.Series, pid: pd.Series) -> pd.Series:
            return _refine(px, py, pid, bc.value.__getitem__)

        inside = refine(px, py, F.col("_pid"))
    return cand.filter(inside).select(*points.columns, *poly_cols)


def _pip_join_streamed(points: DataFrame, polygons: DataFrame,
                       index_zoom: int = 7,
                       px_col: str = "mx", py_col: str = "my") -> DataFrame:
    """Fallback for polygon tables too large to broadcast: distributed
    bbox-cover cell join with the WKB streamed per candidate row, exact
    refine decoding each distinct polygon once per Arrow batch."""
    polys_cells = bbox_cover_cells(with_bbox(polygons), index_zoom)
    pts = points.withColumn("cell",
                            cell_col(F.col(px_col), F.col(py_col), index_zoom))
    joined = pts.join(polys_cells, on="cell", how="inner")
    return joined.filter(_pip_refine(F.col(px_col), F.col(py_col),
                                     F.col("way")))


def _fs_delete(spark, path: str):
    """Scheme-aware recursive delete via the Hadoop FileSystem API — works
    for local file paths AND shared cluster storage (hdfs://, s3a://…),
    unlike driver-side shutil."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(hpath, True)
    except Py4JError as e:
        # best effort: a leftover staging directory costs space, not rows
        _log.warning("knn staging cleanup failed: %s left behind (%s)",
                     path, getattr(e, "java_exception", e))


def knn_work_dir(spark, work_dir: str | None) -> str:
    """Resolve the kNN round-staging location. Per-round state MUST live
    on storage every executor can read: a driver-local tempfile.mkdtemp
    is only correct in local mode (on a multi-node cluster each executor
    would write its shard to its OWN /tmp and the read-back sees partial
    data). Explicit work_dir wins; otherwise local masters use a tmp dir
    and cluster masters stage under spark.sql.warehouse.dir, which on any
    real deployment is shared storage."""
    import tempfile
    import uuid

    if work_dir is not None:
        return work_dir.rstrip("/")
    master = spark.conf.get("spark.master", "")
    if master.startswith("local"):
        return tempfile.mkdtemp(prefix="tileigi_knn_")
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    return f"{wh}/_tileigi_knn_{uuid.uuid4().hex}"


def _approx_row_count(df: DataFrame) -> int:
    """Row count for knn_join's density-adaptive zoom pick: use the
    Catalyst exact rowCount when the optimizer has one (CBO/cached
    relations) — saving the extra job — else run the count. A
    sizeInBytes-derived estimate was tried and rejected with numbers:
    the bytes→rows divisor is input-shape-dependent (measured 3x low on
    the projected bench table), enough to shift the auto zoom by a level
    and change the ring-expansion round count run-to-run."""
    try:
        rc = df._jdf.queryExecution().optimizedPlan().stats().rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
    except Py4JError as e:
        _log.warning("row-count stats unavailable: counting (%s)",
                     getattr(e, "java_exception", e))
    return df.count()


# a round whose exploded query disks hold at most this many rows is
# broadcast into the candidate scan; above it both sides are shuffled
_BROADCAST_DISK_ROWS = 4_000_000


def _disk_join(cands: DataFrame, remaining: DataFrame, n_remaining: int,
               radius: int, index_zoom: int) -> DataFrame:
    """Candidates (with a `cell` column) joined to every cell within
    `radius` cells of each remaining query (`_qcx`/`_qcy` columns).

    The query side is usually tiny relative to the candidate table:
    broadcasting its disks turns the round into a narrow candidate scan
    + hash probe — the 10^12-candidate table is never shuffled, only the
    matches (into the window). Catalyst sizes an exploded disk by its
    input rows, not by the (2r+1)^2 it explodes to, so a large round
    would be broadcast too unless told otherwise: there the hint asks
    for a shuffle join."""
    exploded = disk_cells(remaining, "_qcx", "_qcy", radius, index_zoom)
    if n_remaining * (2 * radius + 1) ** 2 <= _BROADCAST_DISK_ROWS:
        return cands.join(F.broadcast(exploded), on="cell", how="inner")
    return cands.join(exploded.hint("merge"), on="cell", how="inner")


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             index_zoom: int | None = None, query_id: str = "query_id",
             cand_id: str = "cand_id",
             qx: str = "qx", qy: str = "qy",
             cx: str = "cx", cy: str = "cy",
             work_dir: str | None = None) -> DataFrame:
    """J5: k nearest candidates per query by planar 3857 distance.

    Cell-ring expansion: radius starts at 1 cell and grows x4 (driver
    loop) for queries still short of k provably-safe candidates; each
    round is a cell equi-join + window top-k. Deterministic tie-break by
    (distance², cand_id). Returns the candidate columns, the query
    columns, `dist2` and `knn_rank` (1..k).

    index_zoom=None picks the zoom from candidate density so a radius-1
    disk holds ~10k candidates per cell-neighborhood bound — the join size
    stays ~9 * max(k, ~10) per query instead of exploding when the fixed
    grid is much coarser than the data (the H3-resolution-selection analog).

    Round state goes through parquet, NOT localCheckpoint: checkpointing
    to executor storage memory pins gigabytes of blocks, serializes on
    local-mode's single BlockManager (measured anti-scaling past 8
    cores), and is lost on restart. The queries are staged once
    (`queries/`, counted by an Observation on that write). Each round
    writes its top-k rows once (`round_<radius>/`) with a `_final` flag,
    counting the finished queries by an Observation on the same write;
    the next round runs over the staged queries anti-joined with the
    finished ids, so the driver loop never re-executes a prior round's
    plan and no round costs more than its one write. The result is the
    union of the rounds' final rows.

    Staging lives under knn_work_dir(work_dir) (pass work_dir on
    clusters whose warehouse dir isn't where staging should go). The
    query staging is deleted (scheme-aware) before returning; the round
    directories hold the result and must live until the caller has
    consumed the returned (lazy) DataFrame.
    """
    if index_zoom is None:
        n_cands = _approx_row_count(candidates)
        # target ~10 candidates per cell: cells ~ n/10, zoom = log4(cells)
        index_zoom = max(2, min(14, round(math.log2(max(n_cands, 1) / 10.0)
                                          / 2.0)))
    n = 1 << index_zoom
    span = WORLD / n
    spark = queries.sparkSession
    work = knn_work_dir(spark, work_dir)
    qcx, qcy = cell_xy_cols(F.col(qx), F.col(qy), index_zoom)
    cands = candidates.withColumn(
        "cell", cell_col(F.col(cx), F.col(cy), index_zoom))

    staged = queries.withColumn("_qcx", qcx).withColumn("_qcy", qcy)
    obs = Observation()
    staged.observe(obs, F.count(F.lit(1)).alias("n")) \
        .write.mode("overwrite").parquet(f"{work}/queries")
    left = int(obs.get["n"])
    remaining = spark.read.schema(staged.schema).parquet(f"{work}/queries")

    dist2 = (F.col(qx) - F.col(cx)) ** 2 + (F.col(qy) - F.col(cy)) ** 2
    by_query = Window.partitionBy(query_id)
    rank_w = by_query.orderBy(dist2.asc(), F.col(cand_id).asc())
    out_cols = [*candidates.columns, *queries.columns, "dist2", "knn_rank"]
    first = (F.col("knn_rank") == 1) & F.col("_final")
    rounds = []
    radius = 1
    try:
        while True:
            ranked = (_disk_join(cands, remaining, left, radius, index_zoom)
                      .withColumn("dist2", dist2)
                      .withColumn("knn_rank", F.row_number().over(rank_w))
                      .filter(F.col("knn_rank") <= k)
                      .select(*out_cols))
            # a query is final when it has k candidates AND its k-th is
            # provably inside the ring (distance <= radius*cell_span), or
            # once the disk covers the whole grid. The flag's windows
            # ride the SAME sort the rank window established (equal
            # partition key, no ordering requirement), so they cost no
            # second exchange.
            final = F.lit(True) if radius >= n else (
                (F.count("*").over(by_query) >= k)
                & (F.max("dist2").over(by_query) <= (radius * span) ** 2))
            obs = Observation()
            path = f"{work}/round_{radius}"
            ranked = ranked.withColumn("_final", final)
            ranked.observe(obs, F.count(F.when(first, 1)).alias("done")) \
                .write.mode("overwrite").parquet(path)
            written = spark.read.schema(ranked.schema).parquet(path)
            rounds.append(written.filter("_final").select(*out_cols))
            left -= int(obs.get["done"])
            _log.debug("knn_join: radius=%d, %d queries left", radius, left)
            if left <= 0 or radius >= n:
                break
            remaining = remaining.join(
                written.filter(first).select(query_id), on=query_id,
                how="left_anti")
            # x4 growth clamped at the grid size: each extra round
            # quadruples the guaranteed-safe disk (stragglers converge in
            # O(log4 n) candidate scans), and the clamp guarantees the
            # radius >= n full-grid pass fires instead of being jumped
            # over when n is an odd power of two
            radius = min(radius * 4, n)
    finally:
        # the returned frame reads only the round directories
        _fs_delete(spark, f"{work}/queries")
    return functools.reduce(DataFrame.unionByName, rounds)
