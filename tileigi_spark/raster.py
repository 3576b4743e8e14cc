"""Raster <-> vector operators on the Web-Mercator pixel grid.

The north rule names raster<->vector conversion as a first-class engine
capability alongside PIP/kNN. Both directions are pure Catalyst column
arithmetic + hash aggregations / keyed windows — no Python in the plan —
so they push down to the scan and scale exactly like the tile-key
operators (index.py):

* vector -> raster (`rasterize_points`): every point keyed to a
  (tile, pixel) cell of a zoom-z / res-px raster pyramid; one hash-agg
  shuffle on the cell key produces the sparse raster. The same floor math
  as index.cell_col, at zoom z + log2(res) effective depth.
* raster -> vector (`vectorize_raster`): threshold the sparse raster and
  decompose the lit cells into maximal-run rectangles — the classic
  run-length rectangle decomposition: gaps-and-islands over px within
  each (tile, row), then a second gaps-and-islands over py for runs with
  identical x-extent. Both windows partition on fine keys (one raster
  row / one x-extent per partition), never a global window, so the
  shuffle stays balanced at planet scale.
* `raster_band` assembles the sparse rows into a dense per-tile band
  (array<long> of res*res) with map_from_entries + transform — JVM-side
  HOFs, no UDF — for sinks that want raster tiles.
* `rects_to_wkb` turns the rectangles back into axis-rect polygon WKB,
  which the engine's ragged geometry lane (geom/batch.py) tiles like any
  polygon, closing the raster -> vector -> MVT loop.

Reference parity note: tileigi itself is vector-only (lib.rs renders
vector tiles); raster<->vector is north-rule surface beyond the
reference, so correctness is pinned by the DuckDB oracles
(`rasterize` / `raster_vectorize` in __spark_entry__.py) and the pytest
suite (tests/test_raster.py), not by reference ports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


def rasterize_points(df: DataFrame, zoom: int, res: int,
                     mx: str = "mx", my: str = "my",
                     value: str | None = None) -> DataFrame:
    """Vector -> raster: aggregate points onto a (zoom, res) pixel grid.

    Returns the sparse raster: one row per lit cell with columns
    (x, y, px, py, cnt[, val]) where (x, y) is the slippy tile and
    (px, py) the pixel within it. `value` adds a SUM(value) band next to
    the count band. One shuffle (the groupBy), map-side partial agg.
    """
    n = 1 << zoom
    npx = n * res  # global pixel grid width

    def gpix(col, flip):
        raw = F.floor((MERC_MAX - col if flip else col + MERC_MAX)
                      / WORLD * npx)
        return F.greatest(F.lit(0).cast("long"),
                          F.least(raw.cast("long"), F.lit(npx - 1)))

    gx = gpix(F.col(mx), flip=False)
    gy = gpix(F.col(my), flip=True)
    keyed = df.select(
        (gx / res).cast("long").alias("x"),
        (gy / res).cast("long").alias("y"),
        F.pmod(gx, F.lit(res)).cast("long").alias("px"),
        F.pmod(gy, F.lit(res)).cast("long").alias("py"),
        *([F.col(value).alias("_v")] if value else []))
    aggs = [F.count("*").alias("cnt")]
    if value:
        aggs.append(F.sum("_v").alias("val"))
    return keyed.groupBy("x", "y", "px", "py").agg(*aggs)


def vectorize_raster(raster: DataFrame, threshold: int = 1,
                     cnt: str = "cnt") -> DataFrame:
    """Raster -> vector: rectangle decomposition of cells with
    cnt >= threshold.

    Two keyed gaps-and-islands passes: horizontal runs within each
    (x, y, py) raster row, then vertical merging of runs that share an
    exact (px0, px1) extent on consecutive rows. Output: one row per
    maximal rectangle (x, y, px0, py0, px1, py1, cells) where `cells`
    is the rectangle's lit-cell count. Deterministic (no ties: pixel
    keys are unique after rasterize's groupBy).
    """
    lit_cells = raster.filter(F.col(cnt) >= threshold)
    w_row = Window.partitionBy("x", "y", "py").orderBy("px")
    runs = (lit_cells
            .withColumn("_rk", F.col("px") - F.row_number().over(w_row))
            .groupBy("x", "y", "py", "_rk")
            .agg(F.min("px").alias("px0"), F.max("px").alias("px1"))
            .drop("_rk"))
    w_col = Window.partitionBy("x", "y", "px0", "px1").orderBy("py")
    return (runs
            .withColumn("_ck", F.col("py") - F.row_number().over(w_col))
            .groupBy("x", "y", "px0", "px1", "_ck")
            .agg(F.min("py").alias("py0"), F.max("py").alias("py1"))
            .drop("_ck")
            .select("x", "y", "px0", "py0", "px1", "py1",
                    ((F.col("px1") - F.col("px0") + 1)
                     * (F.col("py1") - F.col("py0") + 1)).alias("cells")))


def downsample_raster(raster: DataFrame, res: int, cnt: str = "cnt",
                      value: str | None = None) -> DataFrame:
    """Raster overview/pyramid step: aggregate each 2x2 pixel block of the
    zoom-z raster into one pixel of the zoom-(z-1) raster (the standard
    overview build, run bottom-up once per level). Pure integer column
    arithmetic + one hash agg: global pixel (gx, gy) halves, and the tile
    and within-tile pixel re-derive from the halved global coordinate —
    so 4 sibling tiles fold into 1 parent tile with the same `res`.
    Counts (and an optional value band) sum."""
    gx = F.shiftright((F.col("x") * res + F.col("px")).cast("long"), 1)
    gy = F.shiftright((F.col("y") * res + F.col("py")).cast("long"), 1)
    keyed = raster.select(
        (gx / res).cast("long").alias("x"),
        (gy / res).cast("long").alias("y"),
        F.pmod(gx, F.lit(res)).alias("px"),
        F.pmod(gy, F.lit(res)).alias("py"),
        F.col(cnt).alias("_c"),
        *([F.col(value).alias("_v")] if value else []))
    aggs = [F.sum("_c").alias(cnt)]
    if value:
        aggs.append(F.sum("_v").alias(value))
    return keyed.groupBy("x", "y", "px", "py").agg(*aggs)


def raster_band(raster: DataFrame, res: int, cnt: str = "cnt") -> DataFrame:
    """Assemble the sparse raster into one dense row-major band per tile:
    (x, y, band array<long> of res*res). JVM HOFs only (map_from_entries
    + transform over a sequence); missing cells are 0."""
    idx = (F.col("py") * res + F.col("px")).cast("int")
    per_tile = (raster
                .groupBy("x", "y")
                .agg(F.map_from_entries(
                    F.collect_list(F.struct(idx.alias("k"),
                                            F.col(cnt).alias("v"))))
                     .alias("_m")))
    dense = F.transform(F.sequence(F.lit(0), F.lit(res * res - 1)),
                        lambda i: F.coalesce(F.col("_m")[i],
                                             F.lit(0).cast("long")))
    return per_tile.select("x", "y", dense.alias("band"))


def rect_merc_bounds(rects: DataFrame, zoom: int, res: int) -> DataFrame:
    """Attach mercator bounds (mx0, my0, mx1, my1) to pixel rectangles —
    cell edges, y-flipped back (py grows south, mercator y grows north)."""
    npx = (1 << zoom) * res
    span = WORLD / npx

    def gx(col):
        return F.col("x") * res + F.col(col)

    def gy(col, plus1):
        return F.col("y") * res + F.col(col) + (1 if plus1 else 0)

    return rects.select(
        "*",
        (gx("px0") * span - MERC_MAX).alias("mx0"),
        (MERC_MAX - gy("py1", True) * span).alias("my0"),
        ((gx("px1") + 1) * span - MERC_MAX).alias("mx1"),
        (MERC_MAX - gy("py0", False) * span).alias("my1"))


def rects_to_wkb(rects: DataFrame, zoom: int, res: int,
                 id_col: str = "feature_id") -> DataFrame:
    """Rectangles -> axis-rect polygon WKB features (way, properties-free),
    ready for engine.with_bbox -> cover -> geometry_stage: the raster ->
    vector -> MVT loop. Vectorized struct-pack in one Arrow batch pass."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    bounded = rect_merc_bounds(rects, zoom, res).select(
        F.monotonically_increasing_id().alias(id_col),
        "mx0", "my0", "mx1", "my1")

    def build(batches):
        import numpy as np
        import pandas as pd
        for b in batches:
            if not len(b):
                continue
            x0 = b["mx0"].to_numpy(np.float64)
            y0 = b["my0"].to_numpy(np.float64)
            x1 = b["mx1"].to_numpy(np.float64)
            y1 = b["my1"].to_numpy(np.float64)
            m = len(b)
            # WKB: byte order 1 | type 3 | nrings 1 | npts 5 | 5 xy pairs
            buf = np.zeros((m, 93), dtype=np.uint8)
            buf[:, 0] = 1
            buf[:, 1] = 3
            buf[:, 5] = 1
            buf[:, 9] = 5
            xy = np.empty((m, 10), dtype="<f8")
            xy[:, 0::2] = np.stack([x0, x1, x1, x0, x0], axis=1)
            xy[:, 1::2] = np.stack([y0, y0, y1, y1, y0], axis=1)
            buf[:, 13:] = xy.view(np.uint8).reshape(m, 80)
            yield pd.DataFrame({
                id_col: b[id_col].to_numpy(np.int64),
                "way": list(buf.tobytes()[i * 93:(i + 1) * 93]
                            for i in range(m)),
            })

    return bounded.mapInPandas(build, schema=f"{id_col} long, way binary")
