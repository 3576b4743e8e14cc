"""Spatial joins: point-in-polygon (J4) and kNN via cell-ring expansion
(J5). Both use the grid-cell equi-join prefilter from index.py so the
heavy lifting is a native hash join; Python only runs the exact refine on
the (much smaller) candidate set, Arrow-batched.
"""

from __future__ import annotations

import logging
import math

import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import BooleanType

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
    import numpy as np

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
    import numpy as np

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


@F.pandas_udf(BooleanType())
def _pip_refine(px: pd.Series, py: pd.Series, way: pd.Series) -> pd.Series:
    """Exact refine over the cell-join candidates: decode each distinct
    polygon once per batch, then run the numpy even-odd kernel for all of
    its candidate points at once (the hot inner loop of J4 — the scalar
    per-row path was the 10-50x bottleneck)."""
    import numpy as np

    pxv = px.to_numpy(dtype=np.float64)
    pyv = py.to_numpy(dtype=np.float64)
    out = np.zeros(len(pxv), dtype=bool)
    groups: dict[bytes, list[int]] = {}
    for i, w in enumerate(way):
        groups.setdefault(bytes(w), []).append(i)
    for wb, rows in groups.items():
        typ, data = wkb_to_geom(wb)
        if typ == "Polygon":
            polys = [data]
        elif typ == "MultiPolygon":
            polys = data
        else:
            continue
        idx = np.asarray(rows, dtype=np.int64)
        out[idx] = _pip_many(pxv[idx], pyv[idx], polys)
    return pd.Series(out)


def point_in_polygon_join(points: DataFrame, polygons: DataFrame,
                          index_zoom: int = 7,
                          px_col: str = "mx", py_col: str = "my",
                          max_broadcast_polys: int = 100_000) -> DataFrame:
    """J4: points(… mx, my mercator columns) ⋈ polygons(… way WKB).

    Plan (broadcast path, the admin-polygon norm): the polygon table is
    collected ONCE driver-side; its (cell, polygon-id) cover table and
    attribute table broadcast-join against the points (the 100-TB point
    side is never shuffled — BuildRight on the tiny cell relation), and
    the exact even-odd refine resolves WKB from a broadcast id→bytes dict
    inside the Arrow UDF. The candidate stream carries only ids + coords:
    shipping the full polygon WKB per (point × polygon) candidate row put
    a 1.6 MB country multipolygon into the Arrow stream once per
    candidate point. Polygon tables beyond max_broadcast_polys rows fall
    back to the distributed cover-join that streams WKB (correct at any
    size, heavier on transfer). Returns matched rows with point columns
    first, then all polygon columns except `way`."""
    # single driver action: collect capped at the broadcast limit + 1 —
    # the sentinel row both detects the over-limit case and avoids a
    # separate count() job over the polygon table
    rows = polygons.limit(max_broadcast_polys + 1).collect()
    if len(rows) > max_broadcast_polys:
        return _pip_join_streamed(points, polygons, index_zoom,
                                  px_col, py_col)

    import numpy as np

    spark = points.sparkSession
    poly_cols = [c for c in polygons.columns if c != "way"]

    # one read of the collected WKB: bboxes from its vertex arrays, and
    # rect-ness from the geometry router's axis-rect predicate on
    # one-ring Polygon / MultiPolygon-of-one rows (rows it refuses are
    # not rects and take the exact Python refine)
    ways = [None if r["way"] is None else bytes(r["way"]) for r in rows]
    rag = read_ragged(ways)
    bb = _bbox_arrays(ways, rag)
    rects, rx, ry = axis_rect_rows(rag, (3, 6))
    rect_of = dict(zip(rects.tolist(), zip(
        rx.min(axis=1).tolist(), ry.min(axis=1).tolist(),
        rx.max(axis=1).tolist(), ry.max(axis=1).tolist())))

    n = 1 << index_zoom
    span = WORLD / n
    # exact mirror of bbox_cover_cells / cell_col arithmetic
    cx0, cx1 = ((bb[k] + MERC_MAX) / span for k in ("xmin", "xmax"))
    cy0, cy1 = ((MERC_MAX - bb[k]) / span for k in ("ymax", "ymin"))

    def clamp(c):
        return min(n - 1, max(0, math.floor(c)))

    cell_rows = []
    attr_rows = []
    wkb_by_pid = {}
    for pid in np.flatnonzero(~np.isnan(bb["xmin"])).tolist():
        wkb_by_pid[pid] = ways[pid]
        attr_rows.append((pid, *[rows[pid][c] for c in poly_cols]))
        for cx in range(clamp(cx0[pid]), clamp(cx1[pid]) + 1):
            for cy in range(clamp(cy0[pid]), clamp(cy1[pid]) + 1):
                cell_rows.append((cx * (1 << 32) + cy, pid))

    if all(pid in rect_of for pid in wkb_by_pid):
        # Every polygon is a single axis-aligned rectangle ring (the
        # admin-box / tile-bounds norm): the even-odd refine collapses to
        # a pure-JVM half-open interval test and the whole join runs as
        # codegen — no ArrowEvalPython over the candidate stream at all.
        # Equivalence is exact, not approximate: a vertical edge's
        # crossing abscissa is exactly x_edge in IEEE terms (x + (py-y)*
        # 0/dy == x), horizontal edges never cross, so even-odd for the
        # rect is ((y0>py) != (y1>py)) AND ((x0>px) != (x1>px)) with the
        # same double comparisons _pip_many evaluates. Attributes ride
        # the broadcast cell table, saving the second broadcast join.
        from pyspark.sql.types import (DoubleType, LongType, StructField,
                                       StructType)

        attr_by_pid = {a[0]: a[1:] for a in attr_rows}
        rect_rows = [(cell, *rect_of[pid], *attr_by_pid[pid])
                     for cell, pid in cell_rows]
        schema = StructType(
            [StructField("cell", LongType(), False)]
            + [StructField(f"_r{c}", DoubleType(), False)
               for c in ("x0", "y0", "x1", "y1")]
            + [polygons.schema[c] for c in poly_cols])
        rects_df = spark.createDataFrame(rect_rows, schema)
        px, py = F.col(px_col), F.col(py_col)
        inside = (((F.col("_ry0") > py) != (F.col("_ry1") > py))
                  & ((F.col("_rx0") > px) != (F.col("_rx1") > px)))
        pts = points.withColumn(
            "cell", cell_col(px, py, index_zoom))
        out = (pts.join(F.broadcast(rects_df), on="cell", how="inner")
               .filter(inside))
        return out.select(*points.columns, *poly_cols)

    from pyspark.sql.types import IntegerType, StructField, StructType

    cells_df = spark.createDataFrame(cell_rows, "cell long, _pid int")
    attrs_df = spark.createDataFrame(
        attr_rows,
        StructType([StructField("_pid", IntegerType(), False)]
                   + [polygons.schema[c] for c in poly_cols]))

    bc = spark.sparkContext.broadcast(wkb_by_pid)

    @F.pandas_udf(BooleanType())
    def refine(px: pd.Series, py: pd.Series, pid: pd.Series) -> pd.Series:
        lookup = bc.value
        pxv = px.to_numpy(dtype=np.float64)
        pyv = py.to_numpy(dtype=np.float64)
        out = np.zeros(len(pxv), dtype=bool)
        for p, idx in pd.Series(range(len(pid))).groupby(pid.values):
            typ, data = wkb_to_geom(lookup[int(p)])
            if typ == "Polygon":
                polys = [data]
            elif typ == "MultiPolygon":
                polys = data
            else:
                continue
            iv = idx.to_numpy()
            out[iv] = _pip_many(pxv[iv], pyv[iv], polys)
        return pd.Series(out)

    pts = points.withColumn("cell",
                            cell_col(F.col(px_col), F.col(py_col), index_zoom))
    cand = pts.join(F.broadcast(cells_df), on="cell", how="inner") \
        .drop("cell")
    hit = cand.filter(refine(F.col(px_col), F.col(py_col), F.col("_pid")))
    out = hit.join(F.broadcast(attrs_df), on="_pid").drop("_pid")
    return out.select(*points.columns, *poly_cols)


def _pip_join_streamed(points: DataFrame, polygons: DataFrame,
                       index_zoom: int = 7,
                       px_col: str = "mx", py_col: str = "my") -> DataFrame:
    """Fallback for polygon tables too large to broadcast: distributed
    bbox-cover cell join with the WKB streamed per candidate row, exact
    refine decoding each distinct polygon once per Arrow batch."""
    polys = with_bbox(polygons)
    polys_cells = bbox_cover_cells(polys, index_zoom) \
        .drop("xmin", "ymin", "xmax", "ymax")
    pts = points.withColumn("cell",
                            cell_col(F.col(px_col), F.col(py_col), index_zoom))
    joined = pts.join(polys_cells, on="cell", how="inner").drop("cell")
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
    except Exception:
        pass  # best-effort staging cleanup


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
    except Exception:
        pass
    return df.count()


def knn_join(queries: DataFrame, candidates: DataFrame, k: int,
             index_zoom: int | None = None, query_id: str = "query_id",
             cand_id: str = "cand_id",
             qx: str = "qx", qy: str = "qy",
             cx: str = "cx", cy: str = "cy",
             max_radius: int = 64,
             work_dir: str | None = None) -> DataFrame:
    """J5: k nearest candidates per query by planar 3857 distance.

    Cell-ring expansion: radius starts at 1 cell and grows x4 (driver
    loop) for queries still short of k provably-safe candidates; each
    round is a cell equi-join + window top-k. Deterministic tie-break by
    (distance², cand_id).

    index_zoom=None picks the zoom from candidate density so a radius-1
    disk holds ~10k candidates per cell-neighborhood bound — the join size
    stays ~9 * max(k, ~10) per query instead of exploding when the fixed
    grid is much coarser than the data (the H3-resolution-selection analog).

    Per-round state goes through parquet round-trips, NOT localCheckpoint:
    checkpointing to executor storage memory pins gigabytes of blocks,
    serializes on local-mode's single BlockManager (measured anti-scaling
    past 8 cores), and is lost on restart. Storage round-trips are the
    cluster-correct stage boundary; each round writes its finished batch
    (append) + the shrinking remainder (overwrite), so the driver loop
    never re-executes a prior round's plan. The staging location is
    resolved by knn_work_dir (pass work_dir on clusters whose warehouse
    dir isn't where staging should go); intermediate round/remainder dirs
    are deleted scheme-aware, the final `out` dir lives until the caller
    finishes consuming the returned (lazy) DataFrame.
    """
    import time as _time

    if index_zoom is None:
        import math
        n_cands = _approx_row_count(candidates)
        # target ~10 candidates per cell: cells ~ n/10, zoom = log4(cells)
        index_zoom = max(2, min(14, round(math.log2(max(n_cands, 1) / 10.0)
                                          / 2.0)))
    qcx, qcy = cell_xy_cols(F.col(qx), F.col(qy), index_zoom)
    q = queries.withColumn("_qcx", qcx).withColumn("_qcy", qcy)
    cands = candidates.withColumn(
        "cell", cell_col(F.col(cx), F.col(cy), index_zoom))

    spark = queries.sparkSession
    work = knn_work_dir(spark, work_dir)
    out_dir = f"{work}/out"
    round_dirs: list[str] = []
    n = 1 << index_zoom
    remaining = q
    n_rem = remaining.count()
    wrote_any = False
    radius = 1
    try:
        while radius <= max(max_radius, n):
            exploded = disk_cells(remaining, "_qcx", "_qcy", radius,
                                  index_zoom)
            # the query side is usually tiny relative to the candidate
            # table: broadcasting it turns every round into a narrow
            # candidate scan + hash probe — the 10^12-candidate table is
            # never shuffled, only the matches (into the window)
            if n_rem * (2 * radius + 1) ** 2 <= 4_000_000:
                joined = cands.join(F.broadcast(exploded), on="cell",
                                    how="inner")
            else:
                joined = exploded.join(cands, on="cell", how="inner")
            dist2 = ((F.col(qx) - F.col(cx)) ** 2
                     + (F.col(qy) - F.col(cy)) ** 2)
            w = Window.partitionBy(query_id).orderBy(dist2.asc(),
                                                     F.col(cand_id).asc())
            ranked = (joined
                      .withColumn("dist2", dist2)
                      .withColumn("knn_rank", F.row_number().over(w))
                      .filter(F.col("knn_rank") <= k)
                      .drop("_qcx", "_qcy", "cell"))
            if radius >= n:
                # disk covers the whole grid: everything found is final
                ranked.write.mode("append").parquet(out_dir)
                wrote_any = True
                break
            # materialize the round's core work exactly ONCE — every
            # downstream use (done-predicate, result append, remainder
            # anti-join) reads the ~k*|queries| materialized rows instead
            # of re-executing the scan+join+window chain. The
            # done-predicate windows (_cnt/_kth) ride the SAME sort the
            # rank window established (equal partition key, no ordering
            # requirement), so they are computed before the write for
            # free instead of as a second exchange over the read-back.
            t0 = _time.time()
            done_w = Window.partitionBy(query_id)
            ranked = (ranked
                      .withColumn("_cnt", F.count("*").over(done_w))
                      .withColumn("_kth", F.max("dist2").over(done_w)))
            round_dirs.append(f"{work}/round_{radius}")
            ranked.write.mode("overwrite").parquet(f"{work}/round_{radius}")
            rr = spark.read.parquet(f"{work}/round_{radius}")
            _log.debug("knn_join: radius=%d n_rem=%d round-write %.1fs",
                       radius, n_rem, _time.time() - t0)
            # queries fully satisfied AND whose k-th neighbor is provably
            # inside the ring (distance <= radius*cell_span) are final
            span = (2.0 * 20037508.342789244) / n
            safe_d = (radius * span) ** 2
            t0 = _time.time()
            finished = (rr.filter((F.col("_cnt") >= k)
                                  & (F.col("_kth") <= safe_d))
                        .drop("_cnt", "_kth"))
            finished.write.mode("append").parquet(out_dir)
            wrote_any = True
            # this round's finished ids only (tiny, broadcast anti-join;
            # no rescan of the accumulated result table). Counting them
            # closes the common every-query-done round WITHOUT staging a
            # remainder: n_rem is tracked arithmetically, so the final
            # round skips the remainder write+read+count cycle.
            done_q = finished.select(query_id).distinct()
            n_done = done_q.count()
            if n_done >= n_rem:
                _log.debug("knn_join: radius=%d all %d done", radius, n_rem)
                break
            nxt = remaining.join(F.broadcast(done_q), on=query_id,
                                 how="left_anti")
            round_dirs.append(f"{work}/rem_{radius}")
            nxt.write.mode("overwrite").parquet(f"{work}/rem_{radius}")
            remaining = spark.read.parquet(f"{work}/rem_{radius}")
            n_rem -= n_done
            _log.debug("knn_join: radius=%d bookkeeping %.1fs next_rem=%d",
                       radius, _time.time() - t0, n_rem)
            # x4 growth clamped at the grid size: each extra round
            # quadruples the guaranteed-safe disk (stragglers converge in
            # O(log4 n) candidate scans), and the clamp guarantees the
            # radius >= n full-grid pass fires instead of being jumped
            # over when n is an odd power of two
            radius = min(radius * 4, n)
        if not wrote_any:
            return queries.limit(0).select(
                "*", F.lit(0.0).alias("dist2"), F.lit(0).alias("knn_rank"))
        out = spark.read.parquet(out_dir)
        # materialize into the caller-visible frame before the temp dir
        # can be cleaned (the parquet files persist until process exit)
        return out
    finally:
        # keep out_dir (the returned frame reads it lazily); drop the
        # per-round staging dirs on whatever filesystem they live on
        for p in round_dirs:
            _fs_delete(spark, p)
