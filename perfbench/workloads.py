"""The four benchmark workloads.

Each workload stages its seeded inputs to parquet (`stage`, counted in
set-up time), then runs one closed-loop iteration at a time (`run`,
timed): the engine call through to a complete written result. `digest`
checks that result outside the timed region.

Engine entry points are looked up as module attributes at call time
(`extract.geotag_pages`, `engine.build_tiles`, ...) so that a traced
iteration sees the wrapped versions (see trace.py).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow.parquet as pq

from tileigi_spark import engine, extract, io, partition, spatial
from tileigi_spark.config import Layer, Layers
from tileigi_spark.mercator import bbox_lonlat_to_merc

from . import check, inputs

# closed loop, one client: one job at a time on local[cores]
N_DOCS = 5000


def _thin(maxzoom: int) -> str:
    """Low-zoom thinning (the !scale_denominator! idiom): zoom z keeps
    ~4^(z - maxzoom) of the features."""
    return f"pmod(abs(feature_id), shiftleft(1, 2 * ({maxzoom} - zoom))) = 0"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Workload:
    name = ""
    # layer id -> layer_order of the pyramid, for the offline probes
    layer_order: dict[str, int] = {}
    # untimed iterations before a traced run's layer timings (JIT,
    # codegen, caches); end-to-end runs time the cold first render, as a
    # fresh CLI process pays it
    warmup_iterations = 1
    # store counters; only the workload that writes a TileStore sets them
    tiles_resumed = 0
    bytes_written = 0

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.staged = os.path.join(work, "staged")
        self.inputs = 0        # staged input rows
        self.results = 0       # rows the last iteration produced

    def stage(self) -> None:
        raise NotImplementedError

    def prepare(self) -> str | None:
        """Untimed preparation after set-up; may return a reference
        digest the iterations must reproduce."""
        return None

    def reset(self, out: str) -> None:
        """Bring state back to the iteration's starting point (untimed)."""
        shutil.rmtree(out, ignore_errors=True)

    def run(self, out: str) -> None:
        raise NotImplementedError

    def digest(self, out: str) -> str:
        raise NotImplementedError

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.staged, name))

    def cells(self) -> tuple[int, int]:
        """(cells the read lists, cells in the layout); no layout here."""
        return 0, 0


class TilesWorkload(Workload):
    """A pyramid rendered by build_tiles and written as a tiles table."""

    def digest(self, out: str) -> str:
        table = pq.read_table(out, columns=["zoom", "x", "y", "tile",
                                            "tile_md5"])
        self.results = table.num_rows
        return check.tiles_table_digest(table)


class GeotagPoints(TilesWorkload):
    """Crawl pages -> extract.geotag_pages -> point features -> one-layer
    z0-z10 pyramid with low-zoom thinning."""

    name = "geotag_points"
    REPLICAS = 20
    MAXZOOM = 10
    layer_order = {"pages": 0}

    def stage(self) -> None:
        pages = inputs.pages(self.seed, N_DOCS, self.REPLICAS)
        inputs.write_table(pages, os.path.join(self.staged, "pages"),
                           self.cores * 2)
        self.inputs = len(pages["page_id"])

    def run(self, out: str) -> None:
        from pyspark.sql import functions as F

        geo = extract.geotag_pages(self.read("pages"))
        feats = geo.select(
            F.xxhash64("url").alias("feature_id"), "way", "lang",
            F.col("mx").alias("xmin"), F.col("my").alias("ymin"),
            F.col("mx").alias("xmax"), F.col("my").alias("ymax"))
        layers = Layers(layers=[Layer(id="pages", source="pages", minzoom=0,
                                      maxzoom=14, buffer=2,
                                      zoom_filter=_thin(self.MAXZOOM))],
                        global_maxzoom=14)
        tiles = engine.build_tiles(self.spark, {"pages": feats}, layers, 0,
                                   self.MAXZOOM,
                                   shuffle_parts=self.cores * 8)
        tiles.write.mode("overwrite").parquet(out)


class Polygons(TilesWorkload):
    """Three-layer z0-z8 pyramid: axis-aligned boxes (rect lane), concave
    16-gons (ragged lane + make_valid) and zigzag roads through a !zoom!
    SQL-template layer."""

    name = "polygons"
    N_BOXES = 1_000
    N_CONCAVE = 300
    N_LINES = 1_000
    MAXZOOM = 8
    layer_order = {"landuse": 0, "areas": 1, "roads": 2}

    def stage(self) -> None:
        n = 0
        for name, cols in (("landuse", inputs.boxes(self.seed, self.N_BOXES)),
                           ("areas", inputs.concave(self.seed,
                                                    self.N_CONCAVE)),
                           ("roads", inputs.lines(self.seed, self.N_LINES))):
            inputs.write_table(cols, os.path.join(self.staged, name),
                               self.cores * 2)
            n += len(cols["feature_id"])
        self.inputs = n

    def run(self, out: str) -> None:
        thin = _thin(self.MAXZOOM)
        layers = Layers(layers=[
            Layer(id="landuse", source="landuse", minzoom=0, maxzoom=14,
                  buffer=2, zoom_filter=thin),
            Layer(id="areas", source="areas", minzoom=0, maxzoom=14,
                  buffer=2, zoom_filter=thin),
            Layer(id="roads", source="roads", minzoom=2, maxzoom=14,
                  buffer=4, sql=("SELECT * FROM roads "
                                 "WHERE !zoom! >= 5 OR kind = 'way-0'")),
        ], global_maxzoom=14)
        sources = {n: self.read(n) for n in ("landuse", "areas", "roads")}
        tiles = engine.build_tiles(self.spark, sources, layers, 0,
                                   self.MAXZOOM,
                                   shuffle_parts=self.cores * 8)
        tiles.write.mode("overwrite").parquet(out)


class Joins(Workload):
    """Point-in-polygon join of the geotagged points against the nation
    boxes, plus a k=5 nearest-neighbour join for a fixed query sample."""

    name = "joins"
    REPLICAS = 20
    K = 5

    def stage(self) -> None:
        pts = inputs.points(self.seed, N_DOCS, self.REPLICAS)
        inputs.write_table(pts, os.path.join(self.staged, "points"),
                           self.cores * 2)
        inputs.write_table(inputs.nation_boxes(),
                           os.path.join(self.staged, "nations"), 1)
        self.inputs = len(pts["feature_id"])

    def run(self, out: str) -> None:
        from pyspark.sql import functions as F

        pts = self.read("points").select(F.col("feature_id").alias("pid"),
                                         "mx", "my")
        pip = spatial.point_in_polygon_join(pts, self.read("nations"),
                                            index_zoom=6, px_col="mx",
                                            py_col="my")
        pip.select("pid", "n_nationkey").write.mode("overwrite") \
            .parquet(os.path.join(out, "pip"))
        queries = (pts.filter(F.pmod(F.col("pid"), F.lit(997)) < 20)
                   .select(F.col("pid").alias("query_id"),
                           F.col("mx").alias("qx"), F.col("my").alias("qy")))
        cands = pts.select(F.col("pid").alias("cand_id"),
                           F.col("mx").alias("cx"), F.col("my").alias("cy"))
        knn = spatial.knn_join(queries, cands, k=self.K,
                               work_dir=os.path.join(out, "knn-work"))
        knn.select("query_id", "cand_id", "knn_rank").write \
            .mode("overwrite").parquet(os.path.join(out, "knn"))

    def digest(self, out: str) -> str:
        pip = pq.read_table(os.path.join(out, "pip")).to_pydict()
        knn = pq.read_table(os.path.join(out, "knn")).to_pydict()
        if not pip["pid"] or not knn["query_id"]:
            raise check.CheckFailed("empty join output")
        self.results = len(pip["pid"]) + len(knn["query_id"])
        return check.rows_digest(
            [("pip", p, n) for p, n in zip(pip["pid"], pip["n_nationkey"])]
            + [("knn", q, c, r) for q, c, r in zip(knn["query_id"],
                                                   knn["cand_id"],
                                                   knn["knn_rank"])])


class RerenderResume(Workload):
    """z8-z14 bbox re-render from a cell-partitioned layout, written
    through the checkpointed resume loop into a TileStore whose
    checkpoint already holds z8-z13 and the even columns of z14: the
    resume after a crash part way through the last zoom."""

    name = "rerender_resume"
    REPLICAS = 40
    CELL_ZOOM = 4
    BBOX = (10.0, 10.0, 30.0, 30.0)
    # the staged table is a regional extract around the bbox, so staging
    # writes a few cell directories rather than one per cell of the world
    REGION = (0.0, 0.0, 40.0, 40.0)
    ZOOMS = list(range(8, 15))
    layer_order = {"pages": 0}
    # prepare() renders the same bbox through the same store code
    warmup_iterations = 0

    def __init__(self, *args):
        super().__init__(*args)
        self.base = os.path.join(self.work, "base_store")
        self.bytes_before = 0

    def stage(self) -> None:
        pts = inputs.points(self.seed, N_DOCS, self.REPLICAS)
        x0, y0, x1, y1 = bbox_lonlat_to_merc(self.REGION)
        mx, my = pts.pop("mx"), pts.pop("my")
        keep = np.flatnonzero((mx >= x0) & (mx <= x1)
                              & (my >= y0) & (my <= y1))
        pts = {k: ([col[i] for i in keep] if isinstance(col, list)
                   else col[keep]) for k, col in pts.items()}
        inputs.write_table(pts, os.path.join(self.staged, "points"),
                           self.cores * 2)
        partition.write_cell_partitioned(
            self.read("points"), os.path.join(self.staged, "cells"),
            cell_zoom=self.CELL_ZOOM, buffer_px=2,
            cluster_files=self.cores * 2)
        self.inputs = len(pts["feature_id"])

    def cells(self) -> tuple[int, int]:
        """(cells the bbox read lists, cells in the layout)."""
        path = os.path.join(self.staged, "cells")
        meta = partition.layout_meta(self.spark, path)
        x0, y0, x1, y1 = partition.read_rect(
            bbox_lonlat_to_merc(self.BBOX), meta["cell_zoom"],
            self.ZOOMS[0], meta["buffer_px"])
        return (x1 - x0 + 1) * (y1 - y0 + 1), (1 << meta["cell_zoom"]) ** 2

    def _build(self, zooms, done):
        layers = Layers(layers=[Layer(id="pages", source="pages", minzoom=0,
                                      maxzoom=14, buffer=2,
                                      zoom_filter=_thin(14))],
                        global_maxzoom=14)
        part = partition.read_cell_partitioned(
            self.spark, os.path.join(self.staged, "cells"),
            bbox_merc=bbox_lonlat_to_merc(self.BBOX), minzoom=self.ZOOMS[0])
        return engine.build_tiles(self.spark, {"pages": part}, layers,
                                  zooms[0], zooms[-1],
                                  shuffle_parts=self.cores * 8,
                                  bbox=self.BBOX, done_keys=done)

    def run(self, out: str) -> None:
        store = io.TileStore(out)
        io.run_pyramid_with_checkpoint(
            self.spark, store, lambda z, done: self._build([z], done),
            self.ZOOMS, run_id="perfbench")

    def prepare(self) -> str:
        """Render the whole z8-z14 bbox in one build_tiles call and turn
        it into the resume base: a store whose map and checkpoint hold
        z8-z13 and the even columns of z14. Returns the digest of the
        one-call render, which every resumed store must reproduce."""
        from pyspark.sql import functions as F

        full = os.path.join(self.work, "full_render")
        shutil.rmtree(full, ignore_errors=True)
        self._build(self.ZOOMS, None).write.parquet(full)
        tiles = self.spark.read.parquet(full)
        done = ((F.col("zoom") < 14)
                | ((F.col("zoom") == 14) & (F.pmod(F.col("x"), F.lit(2)) == 0)))
        shutil.rmtree(self.base, ignore_errors=True)
        base = io.TileStore(self.base)
        base.write_tiles(tiles.filter(done))
        base.mark_done(tiles.filter(done))
        self.tiles_resumed = self.spark.read.parquet(
            os.path.join(self.base, "checkpoint")).count()
        ref = check.tiles_table_digest(pq.read_table(
            full, columns=["zoom", "x", "y", "tile", "tile_md5"]))
        shutil.rmtree(full, ignore_errors=True)
        return ref

    def reset(self, out: str) -> None:
        shutil.rmtree(out, ignore_errors=True)
        if os.path.isdir(self.base):
            shutil.copytree(self.base, out)
        self.bytes_before = _dir_bytes(out) if os.path.isdir(out) else 0

    def digest(self, out: str) -> str:
        tiles = io.TileStore(out).read_tiles(self.spark)
        if tiles is None:
            raise check.CheckFailed("store has no tiles")
        pdf = tiles.toPandas()
        self.results = len(pdf) - self.tiles_resumed
        self.bytes_written = _dir_bytes(out) - self.bytes_before
        return check.tile_digest(pdf["zoom"], pdf["x"], pdf["y"],
                                 pdf["tile"], pdf["tile_md5"])


WORKLOADS = {w.name: w for w in (GeotagPoints, Polygons, Joins,
                                 RerenderResume)}
