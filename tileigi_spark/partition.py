"""Cell-partitioned feature-table layout — the on-disk shape a 100-TB
feature table arrives in (README "Scale design": partition pruning works
when the feature table is partitioned/bucketed by coarse cell).

The layout is a parquet table `partitionBy(cell_x, cell_y)` on the
Web-Mercator grid at a fixed `cell_zoom` (the analog of an H3
resolution, matching `index.py`'s grid cells). Each feature is written
into EVERY cell its clip-slack-expanded bbox covers — the slack is the
engine's own feature-prefilter pad at `cell_zoom`
(engine.cover_metatiles), so a per-cell shard is render-complete: tiles
at zoom >= cell_zoom that lie inside the cell are byte-identical
whether rendered from the shard alone or from the full table
(tools/bench_executors.py measures exactly this regime at fleet scale).

Reading the table back is exactly-once by pure codegen arithmetic, no
shuffle and no HOFs: every copy carries the origin `(cell_x0, cell_y0)`
of its covered-cell rectangle, and for any rectangular read
[rx0..rx1]x[ry0..ry1] the unique surviving copy is the one at
`(greatest(cell_x0, rx0), greatest(cell_y0, ry0))` — the minimum cell
of the (non-empty) intersection of the copy rectangle with the read
rectangle. A full-table read keeps the origin copy; a bbox read keeps
one copy per feature while parquet partition discovery prunes every
directory outside the rectangle (BETWEEN predicates on the two
partition columns).

Render contract: `read_cell_partitioned(path, bbox_merc, minzoom=z)`
returns every feature needed for EXACT tile content at zooms >= z for
tiles intersecting the bbox (tile ranges nest upward, so the shallowest
rendered zoom decides the cell rectangle; minzoom < cell_zoom widens
the read up to the full table — low-zoom tiles genuinely need
world-wide features, see engine.cover_metatiles' aligned-extent
prefilter). `read_cell_shard` returns one cell's copies wholesale for
executor-local rendering of that cell's own tiles.

No reference counterpart (the reference reads PostGIS); this module is
the scale path named in SURVEY.md §6 / README "Scale design".
"""

from __future__ import annotations

import json
import math
import threading
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from .mercator import MERC_MAX, bbox_tile_range, cover_slack

WORLD = 2.0 * MERC_MAX
META_FILE = "_tileigi_cells.json"
_HELPER_COLS = ("cell_x", "cell_y", "cell_x0", "cell_y0")
_PART_COLS = ("cell_x", "cell_y")


def cell_slack(cell_zoom: int, buffer_px: int) -> float:
    """The engine's feature-prefilter pad at cell_zoom (mercator units):
    clip-buffer plus one tile unit of rounding slack — delegates to the
    shared mercator.cover_slack so the write-side duplication can never
    drift from engine.cover_metatiles' prefilter."""
    return cover_slack(cell_zoom, buffer_px)


def read_rect(bbox_merc: Optional[tuple], cell_zoom: int,
              minzoom: Optional[int] = None,
              buffer_px: int = 2) -> tuple:
    """Inclusive cell rectangle (rx0, ry0, rx1, ry1) whose shards hold
    every feature needed for exact tile content at zooms >= minzoom for
    tiles intersecting bbox_merc. None bbox -> the whole grid.

    Tiles intersecting the bbox at the shallowest rendered zoom bound
    every deeper zoom's tile range (grid nesting), so the rectangle is
    the bbox's tile range at max(minzoom, cell_zoom) mapped to cell
    indices — there the write-side duplication slack (cell_slack at
    cell_zoom) covers every rendered zoom's clip-buffer need, because
    slack shrinks with zoom. minzoom below cell_zoom widens cell-by-cell
    toward the full grid (a z0 tile needs the world) AND pads by the
    slack deficit: a zoom-m tile needs features within cell_slack(m) of
    its extent, duplication only grants cell_slack(cell_zoom), so the
    difference is made up in whole extra cells."""
    n = 1 << cell_zoom
    if bbox_merc is None:
        return (0, 0, n - 1, n - 1)
    z = cell_zoom if minzoom is None else max(minzoom, cell_zoom)
    x0, y0, x1, y1 = bbox_tile_range(bbox_merc, z)
    s = z - cell_zoom
    rect = (x0 >> s, y0 >> s, x1 >> s, y1 >> s)
    if minzoom is not None and minzoom < cell_zoom:
        # widen to the cells covered by the tile range at minzoom, plus
        # the buffer-slack deficit vs the write-side duplication
        tx0, ty0, tx1, ty1 = bbox_tile_range(bbox_merc, minzoom)
        w = cell_zoom - minzoom
        span = WORLD / n
        pad = int(math.ceil(max(0.0, cell_slack(minzoom, buffer_px)
                                - cell_slack(cell_zoom, buffer_px))
                            / span))
        rect = (max(0, (tx0 << w) - pad), max(0, (ty0 << w) - pad),
                min(n - 1, ((tx1 + 1) << w) - 1 + pad),
                min(n - 1, ((ty1 + 1) << w) - 1 + pad))
    return rect


def write_cell_partitioned(df: DataFrame, path: str, cell_zoom: int = 6,
                           buffer_px: int = 2,
                           max_cells_per_feature: Optional[int] = None,
                           mode: str = "overwrite",
                           cluster_files: Optional[int] = None) -> None:
    """Write features cell-partitioned. df needs xmin/ymin/xmax/ymax
    bbox columns (engine.with_bbox adds them from WKB in one Arrow
    pass); rows within the clip slack of a cell border are duplicated
    into each covered neighbor so every shard is render-complete for
    its own tiles at zoom >= cell_zoom.

    max_cells_per_feature, when set, fails the write (executor-side,
    zero extra driver actions) if any single feature fans out to more
    copies — the guard against a world-spanning geometry silently
    writing 4^cell_zoom copies.

    cluster_files, when set, repartitions by cell (into that many
    partitions) before the write so each task touches few cell
    directories — without it an N-task write over C cells can emit up
    to N*C files (the small-file explosion a 1000-executor write of a
    256-cell grid would otherwise produce).

    The sidecar records the table's schema for the readers. An append
    must match it, like it must match the grid; an append onto a sidecar
    without a schema keeps it without one."""
    clash = [c for c in _HELPER_COLS if c in df.columns]
    if clash:
        raise ValueError(f"input already has layout columns {clash}")
    missing = [c for c in ("xmin", "ymin", "xmax", "ymax")
               if c not in df.columns]
    if missing:
        raise ValueError(
            f"df lacks bbox columns {missing}; run engine.with_bbox first")
    prev = None
    if mode == "append":
        # appending under a different grid would mix two layouts in one
        # table while the sidecar describes only the new one — the
        # survivor rule and read_rect would then prune/duplicate the
        # OLD rows against the wrong grid with no error. Only a missing
        # sidecar means a new table (append == create); one that cannot
        # be read or parsed fails the append.
        spark = df.sparkSession
        prev = (layout_meta(spark, path)
                if is_cell_partitioned(spark, path) else None)
        if prev is not None and (prev.get("cell_zoom") != cell_zoom
                                 or prev.get("buffer_px") != buffer_px):
            raise ValueError(
                f"append with cell_zoom={cell_zoom}/buffer_px={buffer_px} "
                f"onto a table written with cell_zoom="
                f"{prev.get('cell_zoom')}/buffer_px={prev.get('buffer_px')}"
                f"; rewrite the table or match its layout")

    n = 1 << cell_zoom
    span = WORLD / n
    slack = cell_slack(cell_zoom, buffer_px)

    def clamp(c):
        return F.greatest(F.lit(0),
                          F.least(c.cast("int"), F.lit(n - 1)))

    cx0 = clamp(F.floor((F.col("xmin") - slack + MERC_MAX) / span))
    cx1 = clamp(F.floor((F.col("xmax") + slack + MERC_MAX) / span))
    cy0 = clamp(F.floor((MERC_MAX - (F.col("ymax") + slack)) / span))
    cy1 = clamp(F.floor((MERC_MAX - (F.col("ymin") - slack)) / span))

    out = (df.withColumn("cell_x0", cx0).withColumn("cell_y0", cy0)
             .withColumn("_cx1", cx1).withColumn("_cy1", cy1))
    if max_cells_per_feature is not None:
        # fold the assert into a WRITTEN column (plus null-on-pass, so
        # +0) — a free-standing guard column would be pruned unevaluated
        n_cells = ((F.col("_cx1") - F.col("cell_x0") + 1).cast("long")
                   * (F.col("_cy1") - F.col("cell_y0") + 1))
        guard = F.assert_true(
            n_cells <= F.lit(max_cells_per_feature),
            F.concat(F.lit("feature fans out to "),
                     n_cells.cast("string"),
                     F.lit(f" cells (max {max_cells_per_feature})")))
        out = out.withColumn(
            "cell_x0",
            F.col("cell_x0") + F.coalesce(guard.cast("int"), F.lit(0)))
    out = (out
           .withColumn("cell_x",
                       F.explode(F.sequence(F.col("cell_x0"),
                                            F.col("_cx1"))))
           .withColumn("cell_y",
                       F.explode(F.sequence(F.col("cell_y0"),
                                            F.col("_cy1"))))
           .drop("_cx1", "_cy1"))
    meta = {"cell_zoom": cell_zoom, "buffer_px": buffer_px, "version": 1}
    if prev is None or "schema" in prev:
        # the schema a read infers from the table: every column
        # nullable, the partition columns last (as integers)
        meta["schema"] = _nullable(StructType(
            [f for f in out.schema.fields if f.name not in _PART_COLS]
            + [StructField(c, IntegerType()) for c in _PART_COLS])
            .jsonValue())
        meta["version"] = 2
        if prev is not None and prev["schema"] != meta["schema"]:
            raise ValueError(
                f"append with schema {_ddl(meta['schema'])} onto a table "
                f"written with schema {_ddl(prev['schema'])}; rewrite the "
                f"table or match its columns")
    # else: appending onto a layout sidecar without a schema (written
    # before sidecars recorded one) keeps it without one, so reads go on
    # inferring the schema from the files
    if cluster_files:
        out = out.repartition(cluster_files, "cell_x", "cell_y")
    out.write.mode(mode).partitionBy(*_PART_COLS).parquet(path)
    _write_meta(df.sparkSession, path, meta)


def _nullable(obj):
    """A schema's JSON form with every field, array element and map
    value nullable — what a parquet write records (Spark's asNullable).
    Field metadata is left as it is."""
    if isinstance(obj, list):
        return [_nullable(v) for v in obj]
    if not isinstance(obj, dict):
        return obj
    out = {k: (v if k == "metadata" else _nullable(v))
           for k, v in obj.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in out:
            out[k] = True
    return out


def _ddl(schema_json: dict) -> str:
    return StructType.fromJson(schema_json).simpleString()


def _reader(spark: SparkSession, meta: dict):
    """A parquet reader for the layout: with the schema its sidecar
    records, so the read runs no schema-inference job; sidecars written
    before the schema was recorded infer it from the files."""
    reader = spark.read
    if "schema" in meta:
        reader = reader.schema(StructType.fromJson(meta["schema"]))
    return reader


_SINK_LOG_IGNORED = "spark.sql.streaming.fileStreamSink.ignoreMetadata"
_SINK_LOG_LOCK = threading.Lock()


def read_batch_parquet(spark: SparkSession, reader, path: str) -> DataFrame:
    """reader.parquet(path) for a table written by batch jobs. A
    one-path read first probes the path for a streaming file sink's
    metadata log, and on a glob or an absent path that probe logs a WARN
    with a FileNotFoundException stack although nothing is wrong. Batch
    tables have no such log, so the probe is switched off for the call
    and the session's setting restored after it; the read itself (and
    its PATH_NOT_FOUND for an absent path) is unchanged. The setting is
    session-wide, so concurrent reads (the resume loop reads from two
    threads) take turns: one thread's restore must not land inside
    another's read."""
    conf = spark.conf
    with _SINK_LOG_LOCK:
        prev = conf.get(_SINK_LOG_IGNORED, None)
        conf.set(_SINK_LOG_IGNORED, "true")
        try:
            return reader.parquet(path)
        finally:
            if prev is None:
                conf.unset(_SINK_LOG_IGNORED)
            else:
                conf.set(_SINK_LOG_IGNORED, prev)


def _fs(spark: SparkSession, path: str, child: Optional[str] = None):
    """(Hadoop FileSystem, Path) for `path` (or its `child`)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    hpath = Path(path) if child is None else Path(path, child)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    # Hadoop FS, not a driver-local open(): the table path may be HDFS/
    # object storage on a real cluster (the sidecar must live WITH the
    # partitioned directories it describes).
    fs, hpath = _fs(spark, path, META_FILE)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(json.dumps(meta).encode("utf-8")))
    finally:
        out.close()


def layout_meta(spark: SparkSession, path: str) -> dict:
    fs, hpath = _fs(spark, path, META_FILE)
    inp = fs.open(hpath)
    try:
        raw = bytes(spark._jvm.org.apache.commons.io.IOUtils
                    .toByteArray(inp))
    finally:
        inp.close()
    return json.loads(raw.decode("utf-8"))


def is_cell_partitioned(spark: SparkSession, path: str) -> bool:
    # a missing sidecar is a clean False from exists(); an FS error
    # (bad scheme, auth, transient object-store failure) must PROPAGATE —
    # swallowing it would route a cell-partitioned table to the raw
    # parquet read, which double-counts every boundary-duplicated copy
    fs, hpath = _fs(spark, path, META_FILE)
    return bool(fs.exists(hpath))


def read_cell_partitioned(spark: SparkSession, path: str,
                          bbox_merc: Optional[tuple] = None,
                          minzoom: Optional[int] = None,
                          keep_cells: bool = False) -> DataFrame:
    """Exactly-once feature stream for a rectangular region (or the
    whole table). Directory-level pruning happens BEFORE Spark's file
    index is built: a read rectangle smaller than the grid hands the
    reader one Hadoop glob over the rectangle's cell directories
    (`cell_x={a,…}/cell_y={c,…}`, under basePath), which the JVM expands
    by listing only the rectangle's cell_x branches, so the driver never
    lists (or caches) the other cells' directories at all — at a
    4^cell_zoom-directory planet table that listing, not the scan, is
    the fixed cost a dirty-city re-render pays. A rectangle with no cell
    directory reads as an empty frame (a sidecar without a schema reads
    the root instead). The whole grid reads the root, where the BETWEEN
    predicates on the partition columns still prune natively; the
    exactly-once survivor filter is one codegen comparison per row
    either way. The read takes its schema from the layout sidecar, so it
    runs no schema-inference job (sidecars without one infer it)."""
    meta = layout_meta(spark, path)
    rx0, ry0, rx1, ry1 = read_rect(bbox_merc, meta["cell_zoom"], minzoom,
                                   meta.get("buffer_px", 2))
    n = 1 << meta["cell_zoom"]
    df = None
    if (rx1 - rx0 + 1) * (ry1 - ry0 + 1) < n * n:
        xs = ",".join(map(str, range(rx0, rx1 + 1)))
        ys = ",".join(map(str, range(ry0, ry1 + 1)))
        try:
            df = read_batch_parquet(
                spark, _reader(spark, meta).option("basePath", path),
                f"{path}/cell_x={{{xs}}}/cell_y={{{ys}}}")
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            if "schema" in meta:
                df = spark.createDataFrame(
                    [], StructType.fromJson(meta["schema"]))
    if df is None:
        df = _reader(spark, meta).parquet(path)
    df = (df
          .filter(f"((cell_x >= {rx0}) AND (cell_x <= {rx1}))"
                  f" AND ((cell_y >= {ry0}) AND (cell_y <= {ry1}))")
          .filter(f"(cell_x = greatest(cell_x0, {rx0}))"
                  f" AND (cell_y = greatest(cell_y0, {ry0}))"))
    return df if keep_cells else df.drop(*_HELPER_COLS)


def read_cell_shard(spark: SparkSession, path: str, cell_x: int,
                    cell_y: int, keep_cells: bool = False) -> DataFrame:
    """One cell's shard, ALL copies (its own features plus the
    slack-duplicated boundary neighbors) — the executor-local input for
    rendering that cell's own tiles at zoom >= cell_zoom."""
    meta = (layout_meta(spark, path) if is_cell_partitioned(spark, path)
            else {})
    df = (_reader(spark, meta).parquet(path)
          .filter(f"(cell_x = {int(cell_x)}) AND (cell_y = {int(cell_y)})"))
    return df if keep_cells else df.drop(*_HELPER_COLS)
