"""Sinks + resume (reference fileio.rs, lib.rs:265-281 S11).

Primary sink is a table written through `TileStore`, which abstracts the
catalog: in production this is an Iceberg table (`spark.table`/`writeTo`),
in the sandbox (no Iceberg jars baked in) a parquet path with identical
semantics. The store is its own checkpoint: a zoom batch commits its
images, then its map rows, so a row in `map` means a readable tile, and
a restart leaves out the keys of `map` — a distributed version of the
reference's does_metatile_exist probe of its sink (fileio.rs:62-66).

A zoom batch with nothing left to write costs one Spark job, the render
that writes its staging table: the batch's row count is observed on that
write, so an empty batch reads nothing back and commits nothing, and
its metrics row waits to be appended with the next commit's row (or at
the end of the loop) as one JVM-built append.

The resume loop keeps two zoom batches in flight: while batch z stages
and commits, batch z+1 already builds its plan and renders into its own
staging table on a helper thread, so each batch's fixed driver and job
cost overlaps the batch before it. The done keys are read once, before
the loop (zoom batches are disjoint, so no batch needs a key this run
commits). Commits stay in zoom order, map rows last, so a crash loses
at most the two uncommitted batches. The window is two deep, not
every zoom at once: under FIFO scheduling a commit queues behind every
later zoom's tasks, so unbounded submission would let a crash lose
every zoom.
"""

from __future__ import annotations

import json
import logging
import os
import time
from collections import deque
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import (BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)
from pyspark.util import inheritable_thread_target

from . import sqllit
from .partition import _fs, read_batch_parquet

_log = logging.getLogger(__name__)

# the TileStore `metrics` table's columns, in order
_METRICS_SCHEMA = (("run_id", "string"), ("stage", "string"),
                   ("zoom", "int"), ("rows", "long"), ("secs", "double"),
                   ("extra", "string"))
# SQL literal of a metrics value, by column type
_METRICS_LITERAL = {"string": lambda v: sqllit.string(str(v)),
                    "int": lambda v: str(int(v)),
                    "long": lambda v: str(int(v)),
                    "double": sqllit.double}
# the `map` and `images` tables as write_tiles writes them (a parquet
# `map` holds zoom as its partition column)
_MAP_SCHEMA = StructType([
    StructField("zoom", IntegerType()), StructField("x", LongType()),
    StructField("y", LongType()), StructField("tile_id", StringType())])
_IMAGES_SCHEMA = StructType([StructField("tile_id", StringType()),
                             StructField("tile_data", BinaryType())])


class TileStore:
    """Content-addressed tile storage: `map` (zoom,x,y,tile_id) +
    `images` (tile_id, tile_data) — the MBTiles schema's normalization
    (mbtiles-schema.sql:5-83) expressed as two tables, so identical
    (e.g. ocean) tiles are stored once (O12)."""

    def __init__(self, base_path: str, use_iceberg: bool = False):
        self.base = base_path
        self.use_iceberg = use_iceberg
        # zoom -> schema of the staging table write_staging wrote
        self._staged_schema: dict[int, StructType] = {}

    def _write(self, df: DataFrame, name: str, mode: str = "append",
               partition_cols=()):
        if self.use_iceberg:
            w = df.writeTo(f"{self.base}.{name}")
            (w.createOrReplace() if mode == "overwrite" else w.append())
        else:
            w = df.write.mode(mode)
            if partition_cols:
                w = w.partitionBy(*partition_cols)
            w.parquet(os.path.join(self.base, name))

    def _read(self, spark: SparkSession, name: str,
              schema: StructType | None = None) -> DataFrame | None:
        """The table, or None when it is absent: the catalog or the path
        is probed first, so a fresh store's read fails no query (a
        failed read logs an error stack). A parquet table read with a
        known `schema` runs no schema-inference job; an empty directory
        then reads as an empty frame, and a corrupt file fails the job
        that reads it."""
        if self.use_iceberg:
            table = f"{self.base}.{name}"
            return (spark.table(table) if spark.catalog.tableExists(table)
                    else None)
        path = os.path.join(self.base, name)
        fs, hpath = _fs(spark, path)
        if not fs.exists(hpath):
            return None
        reader = spark.read if schema is None else spark.read.schema(schema)
        return read_batch_parquet(spark, reader, path)

    def write_tiles(self, tiles: DataFrame, dedup: bool = True):
        """tiles: (zoom,x,y,tile,tile_md5). The images are written first
        and the map rows second, so a map row exists only once its image
        is durable: a row in `map` means a readable tile, and `map` is
        the resume record (done_keys). A crash between the two writes
        leaves orphan images, which no map row reaches."""
        images = tiles.selectExpr("tile_md5 AS tile_id", "tile AS tile_data")
        if dedup:
            images = images.dropDuplicates(["tile_id"])
        self._write(images, "images")
        mapping = tiles.selectExpr("zoom", "x", "y", "tile_md5 AS tile_id")
        self._write(mapping, "map", partition_cols=("zoom",))

    def read_tiles(self, spark: SparkSession) -> DataFrame | None:
        """Duplicate image rows can exist after a crash between a batch's
        images write and its map write (the resume writes them again),
        and duplicate (zoom,x,y) map rows in a store that an older writer
        committed map-first; tiles are content-addressed and
        deterministic, so keeping any one copy is correct."""
        m = self._read(spark, "map", _MAP_SCHEMA)
        i = self._read(spark, "images", _IMAGES_SCHEMA)
        if m is None or i is None:
            return None
        return (m.dropDuplicates(["zoom", "x", "y"])
                .join(i.dropDuplicates(["tile_id"]), on="tile_id")
                .selectExpr("zoom", "x", "y", "tile_data AS tile",
                            "tile_id AS tile_md5"))

    # --------------------------------------------------------- staging

    def write_staging(self, tiles: DataFrame, zoom: int) -> int:
        """Materialize one zoom batch exactly once (single pass over the
        expensive build plan) and return its row count, observed on that
        same write, so no second job counts it. Replaces the old
        tiles.cache(): gigabytes of gzipped tile bytes do not belong in
        executor storage memory at scale — they belong on disk, where
        the two derive scans (map keys + deduped images) read them back
        columnar."""
        obs = Observation()
        self._write(tiles.observe(obs, F.expr("count(1) AS rows")),
                    f"staging_z{zoom}", mode="overwrite")
        self._staged_schema[zoom] = tiles.schema
        return int(obs.get["rows"])

    def read_staging(self, spark: SparkSession, zoom: int) -> DataFrame | None:
        """The staged batch, read with the schema write_staging wrote
        it with (no schema-inference job)."""
        return self._read(spark, f"staging_z{zoom}",
                          self._staged_schema.get(zoom))

    def drop_staging(self, zoom: int, spark: SparkSession | None = None):
        """Reclaim the zoom batch's staging data after commit. On the
        iceberg path the table is DROPped (PURGE reclaims data files);
        without this, staging_z{zoom} tables accumulate one batch of
        gigabytes per zoom per run indefinitely."""
        self._staged_schema.pop(zoom, None)
        if self.use_iceberg:
            spark = spark or SparkSession.getActiveSession()
            if spark is not None:
                spark.sql(
                    f"DROP TABLE IF EXISTS {self.base}.staging_z{zoom} PURGE")
        else:
            import shutil
            shutil.rmtree(os.path.join(self.base, f"staging_z{zoom}"),
                          ignore_errors=True)

    # ------------------------------------------------------------ resume

    def done_keys(self, spark: SparkSession) -> DataFrame | None:
        """Finished (zoom,x,y) keys, which a resume leaves out (S11): the
        keys of `map`, read with its fixed schema (no inference job).
        write_tiles writes a map row only after its image, so every key
        is a readable tile."""
        df = self._read(spark, "map", _MAP_SCHEMA)
        return None if df is None else df.select("zoom", "x", "y")

    def mark_done(self, keys: DataFrame):
        """Append (zoom,x,y) keys to a `checkpoint` table. Nothing in this
        package reads it (`map` is the resume record, see done_keys); it
        stays for perfbench/workloads.py, whose RerenderResume.prepare
        marks its base store and counts `<base>/checkpoint`."""
        self._write(keys.select("zoom", "x", "y"), "checkpoint")

    def append_metrics(self, spark: SparkSession, rows: list[dict]):
        """Per-stage lineage/metrics rows (A3): run_id, stage, zoom batch,
        row counts, wall seconds, JSON extras. The rows are literals of a
        one-row range, so the append is one JVM task with no Python
        worker round trip; they are written as one SQL expression (a
        py4j call, not one per value), every string an escaped
        literal."""
        if not rows:
            return
        defaults = {"run_id": "", "stage": "", "zoom": -1, "rows": 0,
                    "secs": 0.0, "extra": {}}
        structs = []
        for r in rows:
            vals = {**defaults, **r}
            vals["extra"] = json.dumps(vals["extra"])
            structs.append("named_struct(" + ", ".join(
                f"'{c}', CAST({_METRICS_LITERAL[t](vals[c])} AS {t})"
                for c, t in _METRICS_SCHEMA) + ")")
        df = spark.range(1, numPartitions=1).selectExpr(
            f"inline(array({', '.join(structs)}))")
        self._write(df, "metrics")


def run_pyramid_with_checkpoint(spark: SparkSession, store: TileStore,
                                build_fn, zooms: list[int],
                                run_id: str = "run") -> None:
    """Resumable driver loop: per zoom-batch, build without the finished
    keys, stage the batch to storage in ONE pass (which also counts
    it), then commit it: write_tiles derives the images write, then the
    map write, FROM the staged table (never from a re-execution or an
    executor-memory cache of tile bytes), and the metrics append
    follows. The map rows are the commit record: a crash after the
    images write leaves orphan image rows, a crash inside the map
    append leaves only rows whose images exist, and the resume renders
    whatever `map` lacks; read_tiles collapses the duplicate images
    (content-addressed tiles make any copy correct).

    The finished keys are read once, before the loop, and every batch's
    `build_fn(zoom, done)` gets that frame: the `zooms` are distinct, so
    no batch needs a key this run commits. Two batches are in flight:
    while this thread waits for batch z's render+stage and commits it,
    batch z+1 builds and stages on a helper thread (which inherits the
    caller's local properties), and batch z+2 starts only once z has
    committed or staged 0 rows. Commits run in zoom order on this
    thread, so a crash loses at most two uncommitted batches. The depth
    is two, not every zoom at once: under FIFO scheduling a commit
    queues behind every later zoom's tasks, so unbounded submission
    would let a crash lose every zoom. An error in a batch (from
    build_fn or its staging write) surfaces once the batches before it
    have committed; no later batch starts, the in-flight one is waited
    for, and every staging table the loop wrote is dropped.

    A batch whose staging write counted no rows commits nothing: no
    staging read-back or tile write. Its metrics row is held and
    appended together with the next commit's row, or at the end of the
    loop. A crash can therefore only lose the rows of batches that
    wrote no tiles, and the resume renders those batches again and
    records them then.

    Each step runs under a job description (`pyramid z{zoom}: render+
    stage` on the helper thread, `... commit` and `... metrics` here),
    and each metrics row's `extra` carries the batch's `tiles_per_s`
    (rows over the seconds from its build to its commit); the same
    numbers go to one INFO line per batch on this module's logger. The
    caller's job description is restored afterwards."""
    sc = spark.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")

    def render_stage(zoom, done):
        t0 = time.time()
        sc.setJobDescription(f"pyramid z{zoom}: render+stage")
        tiles = build_fn(zoom, done)
        return t0, None if tiles is None else store.write_staging(tiles, zoom)

    held: list[dict] = []
    staged: set[int] = set()   # zooms whose staging table may exist
    inflight: deque = deque()  # (zoom, future) in zoom order, at most 2
    todo = iter(zooms)
    try:
        sc.setJobDescription("pyramid: read map")
        done = store.done_keys(spark)
        with ThreadPoolExecutor(max_workers=2,
                                thread_name_prefix="pyramid") as pool:
            def start_next():
                zoom = next(todo, None)
                if zoom is not None:
                    staged.add(zoom)
                    inflight.append((zoom, pool.submit(
                        inheritable_thread_target(spark)(render_stage),
                        zoom, done)))

            start_next()
            start_next()
            while inflight:
                zoom, fut = inflight.popleft()
                t0, n = fut.result()
                if n is not None:
                    if n:
                        sc.setJobDescription(f"pyramid z{zoom}: commit")
                        store.write_tiles(store.read_staging(spark, zoom))
                    secs = time.time() - t0
                    tps = n / secs if secs else 0.0
                    _log.info("pyramid z%d: %d tiles in %.2f s "
                              "(%.1f tiles/s)", zoom, n, secs, tps)
                    held.append({"run_id": run_id, "stage": "pyramid",
                                 "zoom": zoom, "rows": n, "secs": secs,
                                 "extra": {"tiles_per_s": tps}})
                    if n:
                        sc.setJobDescription(f"pyramid z{zoom}: metrics")
                        store.append_metrics(spark, held)
                        held = []
                    store.drop_staging(zoom, spark)
                staged.discard(zoom)
                # a batch already failed: start nothing after it
                if not any(f.done() and f.exception() is not None
                           for _, f in inflight):
                    start_next()
        if held:
            sc.setJobDescription(f"pyramid z{held[-1]['zoom']}: metrics")
            store.append_metrics(spark, held)
    except BaseException:
        # the pool has waited for the in-flight batch; no writer is left
        for zoom, fut in inflight:
            if fut.exception() is not None:
                _log.warning("pyramid z%d failed as well: %r", zoom,
                             fut.exception())
        for zoom in staged:
            store.drop_staging(zoom, spark)
        raise
    finally:
        sc.setJobDescription(caller_desc)


# ------------------------------------------------------------- exporters

def export_mbtiles(tiles_rows, path: str, metadata: dict | None = None):
    """Driver-side MBTiles writer following the reference DDL
    (mbtiles-schema.sql:5-83; fileio.rs:96-197): `map` + `images` joined by
    the `tiles` view, TMS y-flip (fileio.rs:138), md5-keyed blob dedup,
    one transaction."""
    import hashlib
    import sqlite3

    con = sqlite3.connect(path)
    cur = con.cursor()
    cur.executescript("""
        CREATE TABLE IF NOT EXISTS map (
           zoom_level INTEGER, tile_column INTEGER, tile_row INTEGER,
           tile_id TEXT, grid_id TEXT );
        CREATE TABLE IF NOT EXISTS grid_key (grid_id TEXT, key_name TEXT);
        CREATE TABLE IF NOT EXISTS keymap (key_name TEXT, key_json TEXT);
        CREATE TABLE IF NOT EXISTS grid_utfgrid (grid_id TEXT, grid_utfgrid BLOB);
        CREATE TABLE IF NOT EXISTS images (tile_data blob, tile_id text);
        CREATE TABLE IF NOT EXISTS metadata (name text, value text);
        CREATE UNIQUE INDEX IF NOT EXISTS map_index ON map
            (zoom_level, tile_column, tile_row);
        CREATE UNIQUE INDEX IF NOT EXISTS images_id ON images (tile_id);
        CREATE UNIQUE INDEX IF NOT EXISTS name ON metadata (name);
        CREATE VIEW IF NOT EXISTS tiles AS
            SELECT map.zoom_level AS zoom_level,
                   map.tile_column AS tile_column,
                   map.tile_row AS tile_row,
                   images.tile_data AS tile_data
            FROM map JOIN images ON images.tile_id = map.tile_id;
    """)
    seen = set()
    for row in tiles_rows:
        z, x, y, tile = row["zoom"], row["x"], row["y"], bytes(row["tile"])
        try:
            tile_id = row["tile_md5"]
        except (KeyError, ValueError, IndexError):
            tile_id = None
        tile_id = tile_id or hashlib.md5(tile).hexdigest()
        tms_y = (1 << z) - y - 1  # fileio.rs:138
        if tile_id not in seen:
            seen.add(tile_id)
            cur.execute(
                "INSERT OR IGNORE INTO images (tile_id, tile_data) VALUES (?, ?)",
                (tile_id, tile))
        cur.execute(
            "INSERT OR REPLACE INTO map (zoom_level, tile_column, tile_row,"
            " tile_id, grid_id) VALUES (?, ?, ?, ?, NULL)",
            (z, x, tms_y, tile_id))
    for k, v in (metadata or {}).items():
        cur.execute("INSERT OR REPLACE INTO metadata (name, value)"
                    " VALUES (?, ?)", (k, str(v)))
    con.commit()
    con.close()


def _xyz_to_mt_path(z: int, x: int, y: int, ext: str = "meta") -> str:
    """ModTile path hashing (fileio.rs:297-325): nibble-interleaved
    5-level directory layout z/a/b/c/d/e.meta."""
    parts = []
    for _ in range(5):
        parts.append(((x & 0x0F) << 4) | (y & 0x0F))
        x >>= 4
        y >>= 4
    e, d, c, b, a = parts
    return f"{z}/{a}/{b}/{c}/{d}/{e}.{ext}"


def export_modtile(tiles_rows, base_dir: str, metatile_scale: int = 8):
    """ModTile 8x8 binary metatile files (fileio.rs:199-294): 'META' magic
    + count + x,y,z + little-endian offset/size table + blobs. Tiles are
    grouped into metatiles driver-side (index i = (x-x0)*size + (y-y0),
    fileio.rs:245); missing tiles get zero-length slots."""
    import struct
    from collections import defaultdict

    groups = defaultdict(dict)
    for row in tiles_rows:
        z, x, y = row["zoom"], row["x"], row["y"]
        size = min(metatile_scale, 1 << z)
        mx, my = (x // size) * size, (y // size) * size
        groups[(z, mx, my, size)][(x, y)] = bytes(row["tile"])

    for (z, mx, my, size), tiles in groups.items():
        n = size * size
        blobs = [b""] * n
        for (x, y), data in tiles.items():
            blobs[(x - mx) * size + (y - my)] = data
        header = b"META" + struct.pack("<IIII", n, mx, my, z)
        offsets = []
        cur = 4 + 4 + 12 + 8 * n
        for blob in blobs:
            offsets.append((cur, len(blob)))
            cur += len(blob)
        path = os.path.join(base_dir, _xyz_to_mt_path(z, mx, my))
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(header)
            for off, sz in offsets:
                f.write(struct.pack("<II", off, sz))
            for blob in blobs:
                f.write(blob)


def export_tilestash(tiles_rows, base_dir: str, ext: str = "pbf"):
    """TileStash directory layout z/x/y.pbf (fileio.rs:73-94)."""
    for row in tiles_rows:
        z, x, y = row["zoom"], row["x"], row["y"]
        d = os.path.join(base_dir, str(z), str(x))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{y}.{ext}"), "wb") as f:
            f.write(bytes(row["tile"]))


def write_tilejson(layers, path: str, prop_types: dict[str, dict] | None = None):
    """TileJSON 2.2.0 metadata with per-layer field dicts (lib.rs:371-458)."""
    vector_layers = []
    for layer in layers.layers:
        fields = {}
        for name, typ in (prop_types or {}).get(layer.id, {}).items():
            fields[name] = typ
        vector_layers.append({
            "id": layer.id,
            "minzoom": layer.minzoom,
            "maxzoom": min(layer.maxzoom, layers.global_maxzoom),
            "fields": fields,
        })
    doc = {
        "tilejson": "2.2.0",
        "scheme": "xyz",
        "format": "pbf",
        "minzoom": layers.global_minzoom,
        "maxzoom": layers.global_maxzoom,
        "vector_layers": vector_layers,
    }
    if layers.name:
        doc["name"] = layers.name
    if layers.bounds:
        doc["bounds"] = list(layers.bounds)
    if layers.center:
        doc["center"] = list(layers.center)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def tiles_to_geojson(tiles_rows, base_dir: str):
    """Debug GeoJSON dump (reference lib.rs:889-971 geom_as_geojson /
    write_geojson): one z/x/y.geojson FeatureCollection per tile. Tile
    bytes are decoded back to features, properties restored from the
    layer key/value tables, and tile-local integer coords mapped to
    lon/lat with the ported x_to_lon/y_to_lat helpers (lib.rs:870-887)
    applied at global extent 4096*2^z. Driver-side like the reference's
    stdout dumps — a debugging surface, not a sink."""
    from .geom.mvt import decode_tile, decode_geometry
    from .mercator import x_to_lon, y_to_lat

    for row in tiles_rows:
        z, x, y = row["zoom"], row["x"], row["y"]
        world = 4096.0 * (1 << z)
        ox, oy = x * 4096, y * 4096

        def ll(pt):
            return [x_to_lon(ox + pt[0], world), y_to_lat(oy + pt[1], world)]

        def conv(geom):
            typ, data = geom
            if typ == "Point":
                return {"type": typ, "coordinates": ll(data)}
            if typ in ("MultiPoint", "LineString"):
                return {"type": typ, "coordinates": [ll(p) for p in data]}
            if typ in ("MultiLineString", "Polygon"):
                return {"type": typ,
                        "coordinates": [[ll(p) for p in part]
                                        for part in data]}
            return {"type": typ,
                    "coordinates": [[[ll(p) for p in r] for r in rings]
                                    for rings in data]}

        features = []
        for layer in decode_tile(bytes(row["tile"])):
            for ftype, tags, geom_payload, fid in layer["features"]:
                props = {"$layer": layer["name"]}
                for i in range(0, len(tags), 2):
                    v = layer["values"][tags[i + 1]]
                    if isinstance(v, tuple):  # ("f32", value)
                        v = v[1]
                    props[layer["keys"][tags[i]]] = v
                features.append({
                    "type": "Feature", "properties": props,
                    "geometry": conv(decode_geometry(ftype, geom_payload)),
                })
        d = os.path.join(base_dir, str(z), str(x))
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{y}.geojson"), "w") as f:
            json.dump({"type": "FeatureCollection", "features": features},
                      f)
