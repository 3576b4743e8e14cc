"""spark-submit entry point (reference bin/tileigi.rs:21-135).

Usage:
  spark-submit --py-files tileigi_spark.zip -m tileigi_spark.cli \\
    --config layers.yml --source pages=/path/pages.parquet \\
    --dest /path/tiles_store --minzoom 0 --maxzoom 14 \\
    [--bbox minlon,minlat,maxlon,maxlat] [--tile-list FILE] \\
    [--no-compress] [--metatile-scale 8] [--if-not-exists] \\
    [--mbtiles out.mbtiles]

Mirrors the reference CLI surface: zoom range, bbox-restricted rendering,
explicit metatile lists (--tile-list, 'SCALE Z/X/Y' lines,
bin/tileigi.rs:80-84), destination type, metatile scale, resume
(--if-not-exists -> tiles already in the store's map left out),
compression toggle.
"""

from __future__ import annotations

import argparse
import contextlib
import logging
import sys


def parse_tile_list(path: str, metatile_scale: int):
    """'SCALE Z/X/Y' lines -> {zoom: set of (mtx, mty) metatile indices}.
    X/Y are tile coords of the metatile's top-left tile (slippy_map_tiles
    Metatile convention). Malformed lines and scale mismatches raise."""
    per_zoom: dict[int, set] = {}
    with open(path) as f:
        for ln, line in enumerate(f, 1):
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            try:
                scale_s, zxy = line.split()
                z_s, x_s, y_s = zxy.split("/")
                scale, z, x, y = int(scale_s), int(z_s), int(x_s), int(y_s)
            except ValueError:
                raise ValueError(f"{path}:{ln}: expected 'SCALE Z/X/Y', "
                                 f"got {line!r}")
            if scale != metatile_scale:
                raise ValueError(
                    f"{path}:{ln}: scale {scale} != --metatile-scale "
                    f"{metatile_scale}")
            size = min(scale, 1 << z)
            per_zoom.setdefault(z, set()).add((x // size, y // size))
    return per_zoom


def main(argv=None):
    p = argparse.ArgumentParser(prog="tileigi-spark")
    p.add_argument("--config", required=True,
                   help="layer config (tm2source YAML or Tegola TOML)")
    p.add_argument("--source", action="append", default=[],
                   metavar="NAME=PATH",
                   help="feature source table: name=parquet_path")
    p.add_argument("--dest", required=True, help="TileStore base path")
    p.add_argument("--minzoom", type=int, default=0)
    p.add_argument("--maxzoom", type=int, default=14)
    p.add_argument("--bbox", default=None,
                   help="minlon,minlat,maxlon,maxlat filter")
    p.add_argument("--tile-list", default=None, metavar="FILE",
                   help="render exactly the metatiles listed, one "
                        "'SCALE Z/X/Y' per line")
    p.add_argument("--metatile-scale", type=int, default=8)
    p.add_argument("--no-compress", action="store_true")
    p.add_argument("--if-not-exists", action="store_true",
                   help="resume: skip tiles already in the store's map "
                        "table (a zoom batch writes its images, then its "
                        "map rows, so a mapped tile is readable)")
    p.add_argument("--include-empty", action="store_true")
    p.add_argument("--mbtiles", default=None,
                   help="also export an MBTiles file (driver-side)")
    p.add_argument("--tilejson", default=None)
    p.add_argument("--shuffle-parts", type=int, default=None,
                   help="partition count for the render exchange and, "
                        "at salted zooms, the assemble exchange; capped "
                        "at one task per core (each Python task has a "
                        "fixed cost). Default: spark.sql.shuffle.partitions"
                        " + AQE")
    args = p.parse_args(argv)
    with _progress_to_stderr():
        _run(p, args)


@contextlib.contextmanager
def _progress_to_stderr():
    """The package's INFO lines (one per zoom batch from the resume loop,
    as the reference's printer.rs prints per-zoom progress) go to stderr
    for the length of one CLI run."""
    log = logging.getLogger("tileigi_spark")
    handler = logging.StreamHandler(sys.stderr)
    handler.setLevel(logging.INFO)
    level = log.level
    log.addHandler(handler)
    if log.getEffectiveLevel() > logging.INFO:
        log.setLevel(logging.INFO)
    try:
        yield
    finally:
        log.removeHandler(handler)
        log.setLevel(level)


def _run(p: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    from pyspark.sql import SparkSession

    from .config import layers_from_file
    from .engine import build_tiles, metatile_keys
    from .io import (TileStore, export_mbtiles, run_pyramid_with_checkpoint,
                     write_tilejson)

    owns_session = SparkSession.getActiveSession() is None
    spark = (SparkSession.builder.appName("tileigi-spark")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    layers = layers_from_file(args.config)

    # Generation is restricted ONLY by an explicit --bbox; config-level
    # `bounds` feeds TileJSON metadata, never the render extent — matching
    # the reference, where yaml bounds is display metadata (lib.rs:397)
    # and the CLI bbox alone restricts generation. Unparsable input is a
    # hard error, never a silent full-planet render.
    from .mercator import parse_bbox

    bbox = None
    if args.bbox is not None:
        try:
            bbox = parse_bbox(args.bbox)
        except ValueError as e:
            p.error(str(e))

    tile_list = None
    if args.tile_list is not None:
        try:
            tile_list = parse_tile_list(args.tile_list, args.metatile_scale)
        except (OSError, ValueError) as e:
            p.error(str(e))

    # Source tables. A cell-partitioned layout (partition.py sidecar)
    # MUST go through its exactly-once reader — a raw parquet read would
    # double-count the boundary-duplicated copies; it also gives the
    # bbox render partition pruning at the scan.
    from .mercator import bbox_lonlat_to_merc
    from .partition import is_cell_partitioned, read_cell_partitioned

    sources = {}
    for s in args.source:
        if "=" not in s:
            p.error(f"--source must be NAME=PATH, got {s!r}")
        name, path = s.split("=", 1)
        if is_cell_partitioned(spark, path):
            sources[name] = read_cell_partitioned(
                spark, path,
                bbox_merc=(bbox_lonlat_to_merc(bbox)
                           if bbox is not None else None),
                minzoom=args.minzoom)
        else:
            sources[name] = spark.read.parquet(path)

    store = TileStore(args.dest)
    if tile_list is not None:
        zooms = sorted(z for z in tile_list
                       if args.minzoom <= z <= args.maxzoom)
    else:
        zooms = list(range(args.minzoom, args.maxzoom + 1))

    def build_zoom(zoom, done):
        mt_keys = None
        if tile_list is not None:
            mt_keys = metatile_keys(spark, zoom, sorted(tile_list[zoom]))
        return build_tiles(
            spark, sources, layers, zoom, zoom,
            metatile_scale=args.metatile_scale,
            compress=not args.no_compress,
            shuffle_parts=args.shuffle_parts,
            include_empty=args.include_empty,
            done_keys=done if args.if_not_exists else None,
            bbox=bbox, metatile_keys=mt_keys)

    run_pyramid_with_checkpoint(spark, store, build_zoom, zooms)

    if args.mbtiles:
        tiles = store.read_tiles(spark)
        export_mbtiles(tiles.toLocalIterator(), args.mbtiles,
                       metadata={"name": layers.name or "tileigi-spark",
                                 "format": "pbf",
                                 "minzoom": args.minzoom,
                                 "maxzoom": args.maxzoom})
    if args.tilejson:
        # per-layer field dictionaries: the properties build_tiles encodes
        # (engine.layer_fields), mapped to TileJSON type names like the
        # reference derives them from pg column types (lib.rs:424-458)
        from pyspark.sql.types import BooleanType, StringType

        from .engine import layer_fields

        def tj_type(dt):
            if isinstance(dt, BooleanType):
                return "Boolean"
            if isinstance(dt, StringType):
                return "String"
            return "Number"

        prop_types = {lid: {name: tj_type(dt) for name, dt in props.items()}
                      for lid, props in layer_fields(spark, sources,
                                                     layers).items()}
        write_tilejson(layers, args.tilejson, prop_types=prop_types)

    if owns_session:
        spark.stop()


if __name__ == "__main__":
    main()
