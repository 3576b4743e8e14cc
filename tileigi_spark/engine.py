"""The tile-pyramid plan builder: DataFrame-native J1/J3 joins, salted
groupBys, per-metatile rendering as one Arrow-batched Python pass.

Spark-first re-expression of the reference lifecycle (lib.rs:464-736),
which renders one metatile at a time (lib.rs:543-559: fetch its rows,
then process, encode and write them):

  features ──(bbox cover explode = J1, no shuffle)──▶ (zoom, metatile) rows
      │ every layer's covered rows, unioned (+ done-tile marker rows)
      ▼
  repartition(zoom,mtx,mty[,salt]) + sortWithinPartitions + mapInPandas:
      per frame of complete metatile runs, per layer,
      geom.batch.process_general — remap → dedup/spikes → exact-int RDP
      → buffered clip → quadtree tile split (J3) → make_valid → winding
      → per-tile shift (G2-G16) on the points, axis-rect, ragged or
      scalar lane — then the pieces in canonical order through the
      MVT layer encode (A1) and the tile assembly + gzip + md5 (A2)
  split plan only (salted exchange key; z0-z4 hot tiles, O13): the
      render emits partial layers, and assemble_tiles' repartition(z,x,y)
      + sortWithinPartitions + mapInPandas merges them and assembles

Shuffles: one repartition of covered rows. A range with salted zooms
(z <= 4) whose covered rows are estimated larger than one salt's share
of an advisory partition (spark.sql.adaptive.advisoryPartitionSizeInBytes
/ 16, or of unknown size) takes the split plan instead: the salt joins
the exchange key, so a hot low-zoom tile's features spread over up to 16
tasks, and assemble_tiles adds a second exchange to merge their
partials. A fused low-zoom run holds the whole input, so below that
bound no fused run is larger than a salted run of an input one advisory
partition large, and one exchange is the whole plan. Tile bytes are the
same on both plans: a layer's features come in (salt, feature_id)
order, and the merge of in-order partials equals one encode pass. No
piece enters the JVM: a covered row is exchanged once, and every tile
lies inside exactly one metatile, so the task that holds a metatile's
rows renders its tiles whole (split: one salt of them). Everything
upstream is narrow — the cover "join" is arithmetic + explode on the
feature side, which Catalyst keeps in one stage with the scan (predicate
pushdown + column pruning intact; no Python there unless a source lacks
bbox columns and with_bbox decodes them). Sorted-stream mapInPandas (not
per-group applyInPandas) amortizes per-tile overhead across whole Arrow
batches.

geometry_stage, encode_layers and encode_assemble_fused are the same
steps as separate DataFrame stages over a piece stream. The render does
not call them; they stay public for the oracles and tools that take
pieces as a DataFrame.

The cover arithmetic, the bbox filters and the per-layer columns are
built as SQL text (one filter or column per step), the way the reference
hands PostGIS one parameterized query per batch: each Column operator is
a py4j round trip, and a resume loop rebuilds this plan once per zoom
batch. Driver-side float constants enter as exact double literals (_d),
and AND/OR chains are nested left-deep (_chain), so the optimized plan
is the one the Column operators built. Sort keys are F.expr columns, not
names or F.col: PySpark wraps F.col and every Column method to capture
the Python call site (spark.python.sql.dataFrameDebugging.enabled), at
3-4 py4j round trips a call.
"""

from __future__ import annotations

import hashlib
import logging
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType,
)

from .config import Layers
from .mercator import (MERC_MAX, bbox_metatile_range, bbox_tile_range,
                       cover_slack)
from .geom.wkb import _cumsum0, _ranges, concat_ragged, ragged_of, \
    read_ragged, wkb_to_geom, write_ragged
from .geom import mvt, ringbulk
from .sqllit import double as _d

WORLD = 2.0 * MERC_MAX

_log = logging.getLogger(__name__)

# property columns: Spark type -> MVT conversion (lib.rs:653-684); columns
# of any other type are dropped, like the reference drops unknown/bytea
_PROP_TYPES = (StringType, LongType, IntegerType, DoubleType, FloatType,
               BooleanType)


# column names of the tile plan's keys and encode input: a source column
# of one of these names would be silently replaced by the engine's own
_RESERVED_COLS = ("zoom", "mtx", "mty", "x", "y", "geom", "salt", "layer",
                  "layer_order")


# a source's precomputed bbox: it feeds the cover and is never encoded
_BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")


def _prop_columns(df: DataFrame, exclude=("way", "feature_id")):
    out = []
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        if isinstance(f.dataType, _PROP_TYPES):
            out.append((f.name, f.dataType))
    return out


def _layer_props(layer_id: str, src: DataFrame) -> dict:
    """The properties a layer's tiles carry, {column: Spark type} in
    source order: every column of an encodable type but `way`,
    `feature_id` and the bbox columns. The one per-layer property
    decision: build_tiles encodes these and carries them across the
    render exchange, the CLI writes them as TileJSON fields.

    Raises ValueError, naming the columns, for a source column the tile
    plan reserves (it would be silently replaced) and for a source with
    some but not all of the bbox columns (with_bbox would add a second
    column of the same name)."""
    fields = src.schema.fields
    names = [f.name for f in fields]
    clash = [c for c in names if c in _RESERVED_COLS]
    if clash:
        raise ValueError(
            f"layer {layer_id!r}: source columns {clash} use names the "
            f"tile plan reserves ({', '.join(_RESERVED_COLS)}); "
            f"rename them")
    bbox = [c for c in names if c in _BBOX_COLS]
    if bbox and sorted(bbox) != sorted(_BBOX_COLS):
        raise ValueError(
            f"layer {layer_id!r}: source columns {bbox} are a partial bbox; "
            f"give all of ({', '.join(_BBOX_COLS)}) or none of them")
    return {f.name: f.dataType for f in fields
            if f.name not in ("way", "feature_id") + _BBOX_COLS
            and isinstance(f.dataType, _PROP_TYPES)}


def _layer_source(spark: SparkSession, sources: dict[str, DataFrame],
                  layer, zoom: int) -> DataFrame:
    """A layer's source at one zoom: its SQL, template tokens
    substituted, over the sources registered as temp views
    (_register_views), or else its named source."""
    from .config import substitute_sql_tokens

    sql = getattr(layer, "sql", None)
    if sql:
        return spark.sql(substitute_sql_tokens(sql, zoom))
    return sources[layer.source]


def _register_views(sources: dict[str, DataFrame], layers: Layers) -> None:
    """Register every source as a temp view when a layer reads them
    through SQL (TableSQL, input/mod.rs:88-123)."""
    if any(getattr(layer, "sql", None) for layer in layers.layers):
        for name, df in sources.items():
            df.createOrReplaceTempView(name)


def layer_fields(spark: SparkSession, sources: dict[str, DataFrame],
                 layers: Layers) -> dict[str, dict]:
    """{layer id: {column: Spark type}}: the properties each layer's
    tiles carry (_layer_props), its source resolved as build_tiles
    resolves it (a SQL layer's query at the layer's minzoom). Layers
    naming a source that is not given are left out."""
    _register_views(sources, layers)
    return {layer.id: _layer_props(layer.id, _layer_source(
                spark, sources, layer, layer.minzoom))
            for layer in layers.layers
            if getattr(layer, "sql", None) or layer.source in sources}


def _bbox_arrays(ways, rag):
    """Per-row bbox arrays of a WKB column (NaN = undecodable) that
    wkb.read_ragged read as `rag`. Rows it read take min/max from its
    vertex arrays; the rows it refuses (big-endian, EWKB, malformed)
    are decoded by wkb_to_geom. Both follow Python's min/max:
    a NaN first coordinate gives NaN, later NaNs are skipped."""
    ways = list(ways)
    out = {k: np.full(len(ways), np.nan)
           for k in ("xmin", "ymin", "xmax", "ymax")}
    read = rag.code != 0
    if read.any():
        # every read row has >= 1 vertex: its span starts the segment
        start = rag.ring_off[rag.row_off[:-1][read]]
        for vals, lo, hi in ((rag.xs, "xmin", "xmax"),
                             (rag.ys, "ymin", "ymax")):
            nan_first = np.isnan(vals[start])
            for key, red in ((lo, np.fmin), (hi, np.fmax)):
                r = red.reduceat(vals, start)
                r[nan_first] = np.nan
                out[key][read] = r
    for i in np.flatnonzero(~read).tolist():
        if ways[i] is None:
            continue
        try:
            g = wkb_to_geom(bytes(ways[i]))
        except ValueError:
            continue
        xs, ys = [], []
        _collect_coords(g, xs, ys)
        if xs:
            out["xmin"][i] = min(xs); out["ymin"][i] = min(ys)
            out["xmax"][i] = max(xs); out["ymax"][i] = max(ys)
    return out


def with_bbox(features_df: DataFrame, way_col: str = "way") -> DataFrame:
    """Append xmin/ymin/xmax/ymax decoded from WKB and drop undecodable
    rows — the reference's silent skip (lib.rs:572-579) — in ONE
    mapInPandas pass. A pandas_udf + isNotNull filter looks equivalent but
    is 2× the work: Catalyst instantiates the UDF in both the Filter and
    the Project, so every feature of a 100-TB scan crosses the Arrow
    boundary and decodes its WKB twice (two ArrowEvalPython nodes;
    tests/test_plan_text.py::test_with_bbox_is_one_python_pass pins the
    one Python pass)."""
    import numpy as np
    from pyspark.sql.types import StructType, StructField

    out_schema = StructType(features_df.schema.fields + [
        StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
    ])

    def run(iterator):
        for pdf in iterator:
            bb = _bbox_arrays(pdf[way_col], read_ragged(pdf[way_col]))
            keep = ~np.isnan(bb["xmin"])
            out = pdf.assign(**bb)
            if not keep.all():
                out = out[keep]
            if len(out):
                yield out

    return features_df.mapInPandas(run, schema=out_schema)


def _collect_coords(geom, xs, ys):
    typ, data = geom
    if typ == "Point":
        xs.append(data[0]); ys.append(data[1])
    elif typ in ("MultiPoint", "LineString"):
        for x, y in data:
            xs.append(x); ys.append(y)
    elif typ in ("MultiLineString", "Polygon"):
        for part in data:
            for x, y in part:
                xs.append(x); ys.append(y)
    else:
        for rings in data:
            for r in rings:
                for x, y in r:
                    xs.append(x); ys.append(y)


def _chain(op: str, terms: list[str]) -> str:
    """SQL terms joined left-deep, ((a op b) op c) ..., the tree the
    Column operators build; the SQL parser would balance a flat
    `a op b op c` chain into a different (equivalent) plan."""
    out = terms[0]
    for t in terms[1:]:
        out = f"({out} {op} {t})"
    return out


def _zoom_xy_filter(ranges: dict[int, tuple[int, int, int, int]],
                    xcol: str, ycol: str) -> str:
    """OR-of-per-zoom inclusive integer ranges, as SQL text — bbox
    restriction as pure integer comparisons (the ranges are precomputed
    driver-side, so no float math enters the plan)."""
    return _chain("OR", [
        _chain("AND", [f"(zoom = {z})",
                       f"(({xcol} >= {x0}) AND ({xcol} <= {x1}))",
                       f"(({ycol} >= {y0}) AND ({ycol} <= {y1}))"])
        for z, (x0, y0, x1, y1) in sorted(ranges.items())])


def _bbox_overlap(x0: float, y0: float, x1: float, y1: float) -> list[str]:
    """SQL terms: the feature bbox meets the rectangle [x0, x1] x [y0, y1]."""
    return [f"(xmax >= {_d(x0)})", f"(xmin <= {_d(x1)})",
            f"(ymax >= {_d(y0)})", f"(ymin <= {_d(y1)})"]


def cover_metatiles(feats: DataFrame, zooms: list[int], buffer_px: int,
                    metatile_scale: int = 8,
                    zoom_filter: Optional[str] = None,
                    bbox_merc: Optional[tuple] = None) -> DataFrame:
    """J1 as arithmetic: explode each feature to the (zoom, metatile) cells
    its buffered bbox covers. Pure column math + explode — no shuffle, no
    broadcast; replaces the reference's per-metatile PostGIS `&&` probe
    (input/mod.rs:119, lib.rs:543-544). zoom_filter (the
    !scale_denominator! idiom) prunes rows per zoom before geometry work.

    bbox_merc restricts generation to metatiles intersecting the 3857 bbox
    (MetatilesIterator::new_for_bbox_zoom, lib.rs:186-220): a coarse
    feature-bbox prefilter runs before the zoom explode (pushdown-friendly
    — a planet scan with a city bbox prunes at the source), then the exact
    integer metatile-range filter after.

    The plan is written as SQL text, one filter or column per step, so
    building it costs a few py4j calls instead of one per operator; the
    driver-side float constants enter as exact double literals (_d)."""
    if bbox_merc is not None:
        # In-range tiles are rendered with their FULL extent (the
        # reference iterates the bbox's metatiles and each renders its
        # own padded query bbox, lib.rs:186-220 + 543-544) — so the
        # feature prefilter must pad the metatile-ALIGNED extent of the
        # bbox at the minimum zoom, not the raw bbox: a z0 tile inside a
        # city bbox still contains the whole world's features. At minzoom
        # 0 the aligned extent IS the world (no scan pruning possible —
        # semantically required); a z8+ re-render prunes tightly. The
        # per-zoom integer metatile-range filter below stays the exact
        # tile restriction.
        minz = min(zooms)
        mtx0, mty0, mtx1, mty1 = bbox_metatile_range(bbox_merc, minz,
                                                     metatile_scale)
        span = WORLD * min(metatile_scale, 1 << minz) / float(1 << minz)
        # widest clip-buffer slack across zooms (largest at min zoom)
        slack = cover_slack(minz, buffer_px)
        feats = feats.filter(_chain("AND", _bbox_overlap(
            -MERC_MAX + mtx0 * span - slack,
            MERC_MAX - (mty1 + 1) * span - slack,
            -MERC_MAX + (mtx1 + 1) * span + slack,
            MERC_MAX - mty0 * span + slack)))
    df = feats.withColumn("zoom", F.expr(
        f"explode(array({', '.join(str(z) for z in zooms)}))"))
    if zoom_filter:
        df = df.filter(zoom_filter)
    if bbox_merc is not None:
        # Per-zoom aligned-extent prune right after the zoom explode:
        # implied by the exact metatile-range filter below (a feature
        # outside the in-range metatiles' padded extent at zoom z can
        # only cover out-of-range metatiles at z), so this is pure early
        # pruning — it cuts the sequence/explode work for deep zooms
        # where the scan-level filter above had to stay world-wide.
        conds = []
        for z in zooms:
            zx0, zy0, zx1, zy1 = bbox_metatile_range(bbox_merc, z,
                                                     metatile_scale)
            span_z = WORLD * min(metatile_scale, 1 << z) / float(1 << z)
            pad_z = cover_slack(z, buffer_px)
            conds.append(_chain("AND", [f"(zoom = {z})"] + _bbox_overlap(
                -MERC_MAX + zx0 * span_z - pad_z,
                MERC_MAX - (zy1 + 1) * span_z - pad_z,
                -MERC_MAX + (zx1 + 1) * span_z + pad_z,
                MERC_MAX - zy0 * span_z + pad_z)))
        df = df.filter(_chain("OR", conds))
    two_z_l = "shiftleft(1L, zoom)"
    two_z = f"CAST({two_z_l} AS DOUBLE)"
    size_mt = f"least(CAST({metatile_scale} AS BIGINT), {two_z_l})"
    n_axis = f"CAST(({two_z_l} / {size_mt}) AS BIGINT)"
    mt_merc = f"(({_d(WORLD)} * CAST({size_mt} AS DOUBLE)) / {two_z})"
    tile_merc = f"({_d(WORLD)} / {two_z})"
    # clip-buffer in mercator units + one tile unit of rounding slack
    buf_m = f"({tile_merc} * {_d((buffer_px * 16 + 1) / 4096.0)})"
    merc_max = _d(MERC_MAX)

    def cell(offset: str) -> str:
        return (f"greatest(CAST(0 AS BIGINT), least(CAST(floor(({offset})"
                f" / {mt_merc}) AS BIGINT), ({n_axis} - 1)))")

    mx0 = cell(f"(xmin - {buf_m}) + {merc_max}")
    mx1 = cell(f"(xmax + {buf_m}) + {merc_max}")
    my0 = cell(f"{merc_max} - (ymax + {buf_m})")
    my1 = cell(f"{merc_max} - (ymin - {buf_m})")

    covered = (df
               .withColumn("mtx", F.expr(f"explode(sequence({mx0}, {mx1}))"))
               .withColumn("mty", F.expr(f"explode(sequence({my0}, {my1}))")))
    if bbox_merc is not None:
        ranges = {z: bbox_metatile_range(bbox_merc, z, metatile_scale)
                  for z in zooms}
        covered = covered.filter(_zoom_xy_filter(ranges, "mtx", "mty"))
    return covered


def _points_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                      metatile_scale: int):
    """The points lane on its own, for the benchmark probes and tools
    that time it: pdf rows are simple points, which process_general
    routes to its points kernel. Returns what process_general
    returns."""
    from .geom.batch import process_general

    return process_general(pdf, prop_names, buffer_units, metatile_scale,
                           0, 8)


def _is_simple_point_wkb(w) -> bool:
    """One row's test for the router's points route (the rows
    wkb.read_ragged reads as code 1). The geometry stage never calls it:
    it exists for the benchmark probes, which classify rows one at a
    time, where a one-row read_ragged would cost ~160 us; tests/
    test_geom_router.py pins it to the reader."""
    return (w is not None and len(w) == 21 and w[0] == 1
            and w[1] == 1 and w[2] == 0 and w[3] == 0 and w[4] == 0)


_RING5_HEADER = bytes([1, 3, 0, 0, 0, 1, 0, 0, 0, 5, 0, 0, 0])
_RING5_MULTI_HEADER = bytes([1, 6, 0, 0, 0, 1, 0, 0, 0]) + _RING5_HEADER


def _is_ring5_polygon_wkb(w) -> bool:
    """Single-ring 5-point closed polygon WKB (93 bytes) — the shape of
    every clipped box/rectangle piece. Closure check compares the first
    and last point bytes directly. One row's test for the candidates of
    the router's rect route (geom.batch.axis_rect_rows adds the axis
    test), kept for the benchmark probes and pinned to the router like
    _is_simple_point_wkb."""
    return (w is not None and len(w) == 93
            and w[:13] == _RING5_HEADER and w[13:29] == w[77:93])


_LINE_HEADERS = {41: bytes([1, 2, 0, 0, 0, 2, 0, 0, 0]),
                 57: bytes([1, 2, 0, 0, 0, 3, 0, 0, 0]),
                 73: bytes([1, 2, 0, 0, 0, 4, 0, 0, 0])}


def _is_short_line_wkb(w) -> bool:
    """Single LineString WKB with 2-4 points (41/57/73 bytes) — the
    shape of ~94% of clipped polyline pieces. A classifier only: the
    encode walk frames these with the ragged line framer like any other
    linestring; the offline kernel probes use it to bucket pieces."""
    if w is None:
        return False
    h = _LINE_HEADERS.get(len(w))
    return h is not None and w[:9] == h


def _is_ring5_geom_wkb(w) -> bool:
    """_is_ring5_polygon_wkb, or its MultiPolygon-of-one twin (102
    bytes — what make_valid emits for repaired-winding rects). Both
    produce the identical MVT command stream (MVT has one POLYGON type;
    a single-member MultiPolygon frames exactly like the Polygon). A
    classifier only: the encode walk frames these boxes with the ragged
    polygon framer like any other polygon; the offline kernel probes use
    it to bucket pieces."""
    if w is None:
        return False
    if len(w) == 93:
        return w[:13] == _RING5_HEADER and w[13:29] == w[77:93]
    return (len(w) == 102 and w[:22] == _RING5_MULTI_HEADER
            and w[22:38] == w[86:102])


# Python-bound stages (the render pass and the assemble exchange) run one
# task per core: each mapInPandas task carries ~55 ms of fixed
# worker/Arrow cost, and with geometry, encode and assembly in one pass
# a second wave cost more than the straggler tail it saved. perfbench
# seed 0, 4 cores, trace-0 wall_s medians of 3 interleaved pairs, 2 -> 1
# tasks/core: geotag_points 8.03 -> 7.58 s, polygons 8.53 -> 8.15 s,
# rerender_resume 9.71 -> 8.81 s (3/3 pairs each); traced spark.tasks
# 21 -> 13, 35 -> 27, 128 -> 100.
_TASKS_PER_CORE = 1


def _rects_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                     metatile_scale: int, global_maxzoom: int):
    """The rect lane on its own, for the benchmark probes and tests that
    time or pin it: the rows of pdf that process_general routes to its
    rect kernel (geom.batch.axis_rect_rows) are run through it; the
    others are handed back. Returns (what process_general returns,
    leftover_pdf)."""
    from .geom.batch import axis_rect_rows, process_general

    rect = np.zeros(len(pdf), dtype=bool)
    rect[axis_rect_rows(read_ragged(pdf["way"].values))[0]] = True
    return (process_general(pdf[rect], prop_names, buffer_units,
                            metatile_scale, global_maxzoom, 8),
            pdf[~rect])


def geometry_stage(covered: DataFrame, layer_id: str, buffer_px: int,
                   global_maxzoom: int, metatile_scale: int = 8,
                   epsilon: int = 8) -> DataFrame:
    """Per-feature dataflow G2→G16 (lib.rs:559-728) in one Arrow pass.

    Input: (zoom, mtx, mty, way, feature_id, props...).
    Output: (zoom, x, y, feature_id, geom, props...) — one row per
    (feature, tile) piece, geometry in tile-local i32 coords serialized as
    WKB (exact: |coord| < 2^53) by wkb.write_ragged, the only place the
    lanes' pieces are written as WKB.

    Not on build_tiles' path: the render pass calls process_general per
    frame of metatile runs inside its one mapInPandas
    (_make_render_run) and frames the pieces' Ragged as it is. This
    stays the public piece-stream stage for the tile_pieces_z3/
    poly_pieces_z2 oracles, the tests and tools that take pieces as a
    DataFrame, and perfbench's tracer, which looks it up by name."""
    # The bbox columns only feed the JVM cover arithmetic upstream; an
    # opaque mapInPandas ships every input column (Spark cannot see which
    # ones the function reads — guide §4 column-pruning point), so drop
    # the 32 bytes/row of doubles before the Arrow boundary.
    covered = covered.drop("xmin", "ymin", "xmax", "ymax")
    # Cap this narrow stage's task count: a multi-layer / multi-zoom
    # union of scan branches over small-file sources otherwise plans
    # hundreds of micro-tasks, and each mapInPandas task carries ~55 ms
    # of fixed worker/Arrow cost plus the numpy lanes' per-call setup
    # (measured: the 3-layer bench leg ran this stage as 256 tasks,
    # 118 core-s, most of it fixed cost). coalesce is narrow —
    # no shuffle — and a no-op when the scan already has fewer splits;
    # larger inputs get proportionally larger (not more) tasks, which
    # is the right direction for a Python-bound stage.
    cores = covered.sparkSession.sparkContext.defaultParallelism
    covered = covered.coalesce(max(1, cores * _TASKS_PER_CORE))
    props = _prop_columns(covered,
                          exclude=("way", "feature_id", "zoom", "mtx", "mty",
                                   "xmin", "ymin", "xmax", "ymax"))
    prop_names = [p[0] for p in props]
    out_fields = ["zoom int", "x long", "y long", "feature_id long",
                  "geom binary"]
    for name, dt in props:
        out_fields.append(f"{name} {dt.simpleString()}")
    out_schema = ", ".join(out_fields)
    buffer_units = buffer_px * 16  # lib.rs:508

    def run(iterator):
        from .geom.batch import process_general

        for pdf in iterator:
            res = process_general(pdf, prop_names, buffer_units,
                                  metatile_scale, global_maxzoom, epsilon)
            if res is not None:
                f, rag = res
                f.insert(4, "geom", write_ragged(rag))
                yield f

    return covered.mapInPandas(run, schema=out_schema)


def _int_geom(geom):
    """WKB floats -> exact int coords."""
    typ, data = geom
    if typ == "Point":
        return (typ, (int(data[0]), int(data[1])))
    if typ in ("MultiPoint", "LineString"):
        return (typ, [(int(x), int(y)) for x, y in data])
    if typ in ("MultiLineString", "Polygon"):
        return (typ, [[(int(x), int(y)) for x, y in part] for part in data])
    return (typ, [[[(int(x), int(y)) for x, y in r] for r in rings]
                  for rings in data])


def _mvt_value(v, t):
    # NaN is NULL for every float column, np.float32 (FloatType) included
    if v is None or (isinstance(v, (float, np.floating)) and v != v):
        return None
    if isinstance(t, FloatType):
        return ("f32", float(v))
    if isinstance(t, (LongType, IntegerType)):
        return int(v)
    if isinstance(t, BooleanType):
        return bool(v)
    if isinstance(t, DoubleType):
        return float(v)
    return str(v)


_PARTIAL_SCHEMA = ("zoom int, x long, y long, salt int, layer_order int, "
                   "layer string, part binary")

# a partial layer message covers one run of equal encode keys; a tile
# one run of equal tile keys
_ENCODE_KEYS = ("zoom", "x", "y", "salt", "layer_order", "layer")
# zooms <= _SALT_ZOOM_MAX split each tile's features over _N_SALTS salts
# (feature_id mod _N_SALTS), so a hot low-zoom tile is encoded by many
# tasks and its partials merged (O13); deeper zooms have salt 0
_SALT_ZOOM_MAX = 4
_N_SALTS = 16
_TILE_KEYS = ("zoom", "x", "y")


def _run_starts(pdf, keys):
    """True on every row of pdf that starts a run of equal `keys`."""
    chg = np.zeros(len(pdf), dtype=bool)
    chg[:1] = True
    for k in keys:
        v = pdf[k].values
        chg[1:] |= v[1:] != v[:-1]
    return chg


def _complete_runs(iterator, keys):
    """The frames of a sorted stream, each holding only complete runs of
    equal `keys`. Each Arrow batch's open trailing run is held back
    until a later batch (or the end of the stream) closes it; a run
    spanning many batches is kept as a list of pieces and concatenated
    once, when it closes."""
    def joined(parts):
        return parts[0] if len(parts) == 1 else pd.concat(parts,
                                                          ignore_index=True)

    held = []
    for pdf in iterator:
        if not len(pdf):
            continue
        tail = int(np.flatnonzero(_run_starts(pdf, keys))[-1])
        if not tail and held and all(held[-1][k].values[-1]
                                     == pdf[k].values[0] for k in keys):
            held.append(pdf)
            continue
        frame = held + [pdf.iloc[:tail]] if tail else held
        held = [pdf.iloc[tail:]]
        if frame:
            yield joined(frame)
    if held:
        yield joined(held)


def _walk_runs(iterator, keys, frame_fn):
    """Drive a sorted-stream walk that only ever handles complete runs
    (_complete_runs). frame_fn(frame) returns a dict of output column
    lists, the first key column among them, or no columns; the walk
    yields them as DataFrames of >= 2000 rows and the rest at the end."""
    out = {}
    for frame in _complete_runs(iterator, keys):
        for k, v in frame_fn(frame).items():
            out.setdefault(k, []).extend(v)
        if len(out.get(keys[0], ())) >= 2000:
            yield pd.DataFrame(out)
            out = {}
    if out:
        yield pd.DataFrame(out)


def _factorize(col):
    """pd.factorize of a property column (code -1 = NULL). Float columns
    are factorized by bit pattern so -0.0 and 0.0 keep their own bytes:
    LayerEncoder interns them as one value but writes the sign it met
    first in the run."""
    v = col.values
    if v.dtype.kind != "f":
        return pd.factorize(v)
    codes, uniq = pd.factorize(v.view(f"i{v.itemsize}"))
    codes[np.isnan(v)] = -1
    return codes, uniq.view(v.dtype)


def _intern(run, ids, width, item_bytes, items, nruns):
    """Intern `ids` per run in first-appearance order, as LayerEncoder's
    intern_key/intern_value do; entries come in appearance order, so
    runs are contiguous. Returns each entry's index in its run's table,
    and every run's table — item_bytes of the `items` of the entries
    that introduced its ids — as one blob with nruns + 1 byte cuts."""
    u, first, inv = np.unique(run * width + ids, return_index=True,
                              return_inverse=True)
    intro = np.sort(first)
    rank = np.empty(len(u), dtype=np.int64)
    rank[np.argsort(first)] = (np.arange(len(u))
                               - np.searchsorted(run[intro], run[intro]))
    chunks = [item_bytes[i] for i in items[intro].tolist()]
    off = _cumsum0(np.fromiter(map(len, chunks), np.int64, len(chunks)))
    cut = off[np.searchsorted(run[intro], np.arange(nruns + 1))]
    return rank[inv], (b"".join(chunks), cut.tolist())


def _intern_tags(pdf, rid, nruns, ly_codes, layer_props):
    """Tag indices of every row, interned per run exactly as a
    LayerEncoder fed the run's rows in order would intern them.

    Slot j of a row holds its layer's j-th property (layer_props order).
    Keys are property names; a value's identity is (type name, value)
    across all columns, so 1, True, f32 1.5 and double 1.5 stay apart
    while a string two columns share is one table entry.

    Returns (ki, vi, valid, keys, values): (n, P) key and value index
    matrices with their mask (False on NULL and absent slots), and each
    run's key and value table bytes as (blob, cuts) from _intern."""
    n = len(pdf)
    P = max(map(len, layer_props), default=0)
    kid = np.full((n, P), -1, dtype=np.int64)   # key id
    cid = np.full((n, P), -1, dtype=np.int64)   # value id (identity)
    fid = np.full((n, P), -1, dtype=np.int64)   # value id (bytes)
    key_ids, val_ids, val_bytes, cols = {}, {}, [], {}
    for lay, props in enumerate(layer_props):
        rows = np.flatnonzero(ly_codes == lay)
        for j, (p, t) in enumerate(props):
            if (p, t) not in cols:
                codes, uniq = _factorize(pdf[p])
                vals = [_mvt_value(u, t) for u in uniq]
                cols[(p, t)] = codes, len(val_bytes), np.array(
                    [-1 if v is None else val_ids.setdefault(
                        (type(v).__name__, v), len(val_ids))
                     for v in vals], dtype=np.int64)
                val_bytes.extend(
                    None if v is None
                    else mvt._len_delim(4, mvt._encode_value(v))
                    for v in vals)
            codes, base, lut = cols[(p, t)]
            c = codes[rows]
            r, c = rows[c >= 0], c[c >= 0]
            kid[r, j] = key_ids.setdefault(p, len(key_ids))
            cid[r, j] = lut[c]
            fid[r, j] = base + c
    valid = cid >= 0
    cells = np.flatnonzero(valid)            # (row, column) order
    run = rid[cells // max(P, 1)]
    kid = kid.ravel()[cells]
    ki = np.zeros(n * P, dtype=np.int64)
    vi = np.zeros(n * P, dtype=np.int64)
    ki[cells], keys = _intern(
        run, kid, len(key_ids), [mvt._len_delim(3, k.encode("utf-8"))
                                 for k in key_ids], kid, nruns)
    vi[cells], values = _intern(run, cid.ravel()[cells], len(val_ids),
                                val_bytes, fid.ravel()[cells], nruns)
    return ki.reshape(n, P), vi.reshape(n, P), valid, keys, values


def _frame_rows(rag, ki, vi, valid):
    """Every row's framed field-2 feature message, in row order, from
    the rows' geometry as a wkb.Ragged: one ringbulk framer call per
    geometry family (point, line, polygon), and encode_feature on
    Ragged.geom for the rows the framer cannot take — 1-point lines and
    empty MultiPoints (code 0 after ringbulk.mvt_rings), and rows whose
    vertex and ring counts could pass the framer's 2^14-byte feature
    body bound. Returns (stream, (n + 1,) row byte offsets)."""
    n, P = valid.shape
    mr = ringbulk.mvt_rings(rag)
    nr = np.diff(mr.row_off)
    unread = mr.code == 0
    wide = ~unread & (6 * np.diff(mr.ring_off[mr.row_off]) + 5 * nr
                      + 4 * P + 7 >= 1 << 14)
    length = np.zeros(n, dtype=np.int64)
    framed = []
    for gtype in (1, 2, 3):
        rows = np.flatnonzero((mr.code == gtype) & ~wide)
        if not len(rows):
            continue
        t = mr.take(rows)
        tags = [(ki[rows, j], vi[rows, j], valid[rows, j])
                for j in range(P)]
        res = ringbulk.bulk_frame_ragged_features(
            t.xs, t.ys, t.ring_off, t.row_off, gtype, tags)
        if res is None:
            wide[rows] = True
        else:
            length[rows] = res[1]
            framed.append((rows, res[0]))
    single = np.flatnonzero(unread | wide)
    for i in single.tolist():
        tags = [t for j in np.flatnonzero(valid[i]).tolist()
                for t in (int(ki[i, j]), int(vi[i, j]))]
        f = mvt._len_delim(2, mvt.encode_feature(_int_geom(rag.geom(i)),
                                                 tags))
        length[i] = len(f)
        framed.append(([i], f))
    if len(single):
        _log.warning("encode fallback: %d of %d rows encoded one at a "
                     "time (1-point line or empty MultiPoint, code 0: %d; "
                     "framer width bound: %d)", len(single), n,
                     int(unread.sum()), int(wide.sum()))
    off = _cumsum0(length)
    out = np.empty(int(off[-1]), dtype=np.uint8)
    for rows, stream in framed:
        out[_ranges(off[rows], length[rows])] = np.frombuffer(stream,
                                                              np.uint8)
    return out.tobytes(), off


def _read_pieces(geoms):
    """A WKB piece column as one Ragged: read_ragged, with the rows it
    refuses (non-canonical WKB) decoded by wkb_to_geom into their
    places."""
    rag = read_ragged(geoms)
    refused = np.flatnonzero(rag.code == 0)
    if not len(refused):
        return rag
    rows = np.arange(len(geoms))
    rows[refused] = len(geoms) + np.arange(len(refused))
    return concat_ragged([rag, ragged_of(
        [wkb_to_geom(bytes(geoms[i])) for i in refused.tolist()])]).take(rows)


def _make_encoder(prop_types: dict[str, dict], all_props):
    """The partial-layer encoder of one frame of complete (tile, salt,
    layer) runs: encode(pdf, rag) returns the output columns, pdf being
    the runs' rows and rag (a wkb.Ragged) their geometry, row for row.
    Salt is just one more run-break column, constant 0 on salt-free
    zooms. It frames the frame's rows once (_frame_rows), interns the
    tags of every run at once and cuts one partial layer message per run
    out of the stream by offsets."""
    props = set(all_props)
    ext = mvt._tag(5, 0) + mvt._varint(4096)

    def encode(pdf, rag):
        chg = _run_starts(pdf, _ENCODE_KEYS)
        starts = np.flatnonzero(chg)
        ly_codes, ly_uniq = pd.factorize(pdf["layer"])
        layer_props = [[(p, t) for p, t in prop_types.get(layer, {}).items()
                        if p in props and p in pdf] for layer in ly_uniq]
        ki, vi, valid, (kblob, kcut), (vblob, vcut) = _intern_tags(
            pdf, np.cumsum(chg) - 1, len(starts), ly_codes, layer_props)
        stream, off = _frame_rows(rag, ki, vi, valid)
        heads = [mvt._tag(15, 0) + mvt._varint(2)
                 + mvt._len_delim(1, layer.encode("utf-8"))
                 for layer in ly_uniq]
        cut = off[np.append(starts, len(pdf))].tolist()
        lay = ly_codes[starts]
        out = {k: pdf[k].values[starts].tolist() for k in _ENCODE_KEYS[:-1]}
        out["layer"] = ly_uniq[lay].tolist()
        out["part"] = [b"".join((heads[l], stream[cut[r]:cut[r + 1]],
                                 kblob[kcut[r]:kcut[r + 1]],
                                 vblob[vcut[r]:vcut[r + 1]], ext))
                       for r, l in enumerate(lay.tolist())]
        return out

    return encode


def _make_encode_run(prop_types: dict[str, dict], all_props):
    """The sorted-stream partial-layer encode walk over WKB pieces
    (encode_layers, perfbench's probe) as a mapInPandas function: each
    frame of complete runs (_walk_runs) is read once (_read_pieces) and
    encoded whole (_make_encoder), with no state across Arrow batches."""
    encode = _make_encoder(prop_types, all_props)
    return lambda iterator: _walk_runs(
        iterator, _ENCODE_KEYS,
        lambda pdf: encode(pdf, _read_pieces(pdf["geom"].values)))


def encode_layers(pieces: DataFrame, prop_types: dict[str, dict],
                  shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1 over a piece stream: salted partial layer encode. Not on
    build_tiles' path, whose render pass runs the same encoder
    (_make_encoder) on each metatile frame's pieces without an
    exchange of pieces; kept as the public piece-stream stage (tests,
    perfbench's tracer look it up by name). One shuffle: repartition by
    (zoom,x,y,salt) + sortWithinPartitions, then a mapInPandas pass that
    walks the sorted stream and encodes one partial MVT layer message per
    contiguous (tile, salt, layer) run — per-group overhead is amortized
    across the whole Arrow batch (the reason this is mapInPandas and not
    applyInPandas). Canonical feature order (salt, layer_order, feature_id)
    is partitioning-independent, so tile bytes are deterministic at any
    parallelism (O9/O13).

    pieces: unioned per-layer outputs of geometry_stage with layer /
    layer_order columns. prop_types: layer_id -> {col -> Spark type}.

    shuffle_parts: explicit partition count for the exchange, used as
    given (callers clamp it with _python_stage_parts: the walk is
    Python-bound and each task pays a fixed Arrow/worker cost). None
    keeps the spark.sql.shuffle.partitions + AQE behavior.
    """
    salt_col = (F.when(F.col("zoom") <= F.lit(_SALT_ZOOM_MAX),
                       F.pmod(F.col("feature_id"), F.lit(_N_SALTS))
                       .cast("int"))
                .otherwise(F.lit(0)))
    salted = pieces.withColumn("salt", salt_col)
    if shuffle_parts is None:
        salted = salted.repartition("zoom", "x", "y", "salt")
    else:
        salted = salted.repartition(shuffle_parts,
                                    "zoom", "x", "y", "salt")
    salted = salted.sortWithinPartitions("zoom", "x", "y", "salt",
                                         "layer_order", "feature_id")

    all_props = sorted({p for d in prop_types.values() for p in d})
    return salted.mapInPandas(_make_encode_run(prop_types, all_props),
                              schema=_PARTIAL_SCHEMA)


_TILE_SCHEMA = "zoom int, x long, y long, tile binary, tile_md5 string"


def _make_assembler(compress: bool = True):
    """The tile assembler of one frame of whole tiles' sorted partials:
    assemble(pdf) merges every (layer_order, layer) run's partials, zips
    each tile's layers (gzip + md5) and returns the output columns."""

    def assemble(pdf):
        tchg = _run_starts(pdf, _TILE_KEYS)
        lstarts = np.flatnonzero(tchg | _run_starts(pdf, ("layer_order",
                                                          "layer")))
        parts = pdf["part"].tolist()
        cut = np.append(lstarts, len(pdf)).tolist()
        layers = [mvt.merge_partial_layers(parts[s:e])
                  for s, e in zip(cut, cut[1:])]
        tcut = np.append(np.flatnonzero(tchg[lstarts]),
                         len(layers)).tolist()
        tiles = [mvt.encode_tile(layers[a:b], compress=compress)
                 for a, b in zip(tcut, tcut[1:])]
        out = {k: pdf[k].values[tchg].tolist() for k in _TILE_KEYS}
        out["tile"] = tiles
        out["tile_md5"] = [hashlib.md5(t).hexdigest() for t in tiles]
        return out

    return assemble


def _make_assemble_run(compress: bool = True):
    """The sorted-partials tile-assembly walk (assemble_tiles) as a
    mapInPandas function: _make_assembler on each frame of whole tiles
    (_walk_runs)."""
    return lambda iterator: _walk_runs(iterator, _TILE_KEYS,
                                       _make_assembler(compress))


def assemble_tiles(partials: DataFrame, compress: bool = True,
                   shuffle_parts: Optional[int] = None) -> DataFrame:
    """A2: merge salted partials per layer and zip layer messages into
    per-tile MVT tiles + gzip + md5 (content-address for O12 dedup,
    fileio.rs:136-148). One shuffle: repartition (zoom,x,y) + sorted
    mapInPandas walk. shuffle_parts: explicit partition count, used as
    given (build_tiles passes the same _python_stage_parts clamp as for
    its render exchange); None keeps the AQE behavior. build_tiles calls
    it on the partials of ranges with salted zooms; salt-free pyramids
    (minzoom > _SALT_ZOOM_MAX) skip this shuffle: their render pass
    assembles the tiles itself."""
    if shuffle_parts is None:
        ordered = partials.repartition("zoom", "x", "y")
    else:
        ordered = partials.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions(*map(F.expr, (
        "zoom", "x", "y", "layer_order", "layer", "salt")))
    return ordered.mapInPandas(_make_assemble_run(compress),
                               schema=_TILE_SCHEMA)


def encode_assemble_fused(pieces: DataFrame, prop_types: dict[str, dict],
                          compress: bool = True,
                          shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1+A2 in ONE shuffle for salt-free piece streams (every zoom above
    _SALT_ZOOM_MAX — the overwhelming tile majority of a deep pyramid).
    Not on build_tiles' path, whose render pass runs the same encoder
    and assembler after the geometry in one pass over exchanged covered
    rows; kept as the public piece-stream stage (tests, perfbench's
    tracer look it up by name).

    With salt constant 0, repartitioning by (zoom, x, y) lands every
    piece of a tile in one partition, so one walk over frames of whole
    tiles encodes (one partial per (tile, layer)) and assembles each
    frame in the same Python pass; the salted path's second exchange
    would be the identity. Bytes are identical to the salted path's: one
    partial per layer merges as the identity, and the per-tile feature
    order (layer_order, feature_id) is unchanged."""
    salted = pieces.withColumn("salt", F.lit(0))
    if shuffle_parts is None:
        ordered = salted.repartition("zoom", "x", "y")
    else:
        ordered = salted.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions("zoom", "x", "y",
                                           "layer_order", "feature_id")
    all_props = sorted({p for d in prop_types.values() for p in d})
    encode = _make_encoder(prop_types, all_props)
    assemble = _make_assembler(compress)
    return ordered.mapInPandas(
        lambda it: _walk_runs(it, _TILE_KEYS, lambda pdf: assemble(
            pd.DataFrame(encode(pdf, _read_pieces(pdf["geom"].values))))),
        schema=_TILE_SCHEMA)


# the render exchange's key: every tile lies inside one metatile; the
# split plan adds the salt, so a low-zoom metatile's features spread
# over tasks
_METATILE_KEYS = ("zoom", "mtx", "mty")
_SALTED_KEYS = _METATILE_KEYS + ("salt",)
# the canonical piece order inside a tile: the encode walk's input order.
# A layer's features come in (salt, feature_id) order whether the salts
# are encoded in one run or as partials merged later (O13)
_PIECE_ORDER = ("zoom", "x", "y", "layer_order", "salt", "feature_id")


def _finished_runs(marks, keys, metatile_scale: int, tile_ranges):
    """The runs of equal `keys` (the render walk's: (zoom, mtx, mty),
    plus salt on the split plan) of done-marker rows `marks` whose every
    wanted tile is done: all tiles of the metatile, or those inside the
    zoom's bbox tile range (tile_ranges; markers lie inside it)."""
    n = (marks.drop_duplicates(list(keys) + ["x", "y"])
         .groupby(list(keys), sort=False).size())
    z = n.index.get_level_values("zoom").to_numpy(np.int64)
    size = np.minimum(metatile_scale, np.left_shift(1, z))
    x0 = n.index.get_level_values("mtx").to_numpy(np.int64) * size
    y0 = n.index.get_level_values("mty").to_numpy(np.int64) * size
    x1, y1 = x0 + size - 1, y0 + size - 1
    if tile_ranges is not None:
        r = np.array([tile_ranges[v] for v in z.tolist()],
                     dtype=np.int64).reshape(-1, 4)
        x0, y0 = np.maximum(x0, r[:, 0]), np.maximum(y0, r[:, 1])
        x1, y1 = np.minimum(x1, r[:, 2]), np.minimum(y1, r[:, 3])
    wanted = np.maximum(x1 - x0 + 1, 0) * np.maximum(y1 - y0 + 1, 0)
    return n.index[n.to_numpy() >= wanted]


def _make_render_run(layer_specs, carry, prop_types: dict[str, dict],
                     metatile_scale: int, global_maxzoom: int, fuse: bool,
                     compress: bool = True, tile_ranges=None):
    """The render pass as one mapInPandas function, over covered rows
    sorted by their run keys, layer_order and feature_id. The run keys
    are (zoom, mtx, mty) with `fuse` and (zoom, mtx, mty, salt) on the
    split plan, whose runs each hold one salt of a metatile.

    One walk (_walk_runs) hands it frames of complete runs, and each
    frame holds whole tiles (or, split, whole salts of them), so it is
    rendered on its own: geom.batch.process_general once per layer
    (layer_specs: (layer_order, layer id, buffer units) per layer), the
    pieces and their Ragged stable-sorted into the canonical piece order
    (Ragged.take), the encoder on them and, with `fuse`, the assembler on
    its partials: salt is then an order key only, so each (tile, layer)
    is one partial. Split, the pass emits one partial per (tile, salt,
    layer) for assemble_tiles to merge. No piece is written as WKB.
    `carry` names the columns every piece keeps (salt and the property
    columns).

    Rows with layer_order -1 are done markers: one per finished (zoom, x,
    y) tile and run, so they land in the frame of that tile's run; the
    tile's pieces are dropped before the encode, and a run whose wanted
    tiles (_finished_runs) are all done is not rendered at all — a
    resume's finished zooms cost no geometry."""
    from .geom.batch import process_general

    run_keys = _METATILE_KEYS if fuse else _SALTED_KEYS

    names = np.empty(1 + max(o for o, _, _ in layer_specs), dtype=object)
    for order, layer_id, _ in layer_specs:
        names[order] = layer_id
    encode = _make_encoder(prop_types, sorted({p for d in prop_types.values()
                                              for p in d}))
    assemble = _make_assembler(compress)

    def render(pdf):
        lo = pdf["layer_order"].to_numpy()
        marks = pdf[lo < 0]
        if len(marks):
            finished = _finished_runs(marks, run_keys, metatile_scale,
                                      tile_ranges)
            if len(finished):
                lo = np.where(pd.MultiIndex.from_arrays(
                    [pdf[k].to_numpy(np.int64) for k in run_keys])
                    .isin(finished), -1, lo)
        frames, rags = [], []
        for order, _, buffer_units in layer_specs:
            rows = pdf[lo == order]
            res = (process_general(rows, carry, buffer_units,
                                   metatile_scale, global_maxzoom, 8)
                   if len(rows) else None)
            if res is not None:
                frames.append(res[0].assign(layer_order=order))
                rags.append(res[1])
        if not frames:
            return {}
        f = pd.concat(frames, ignore_index=True)
        at = np.lexsort([f[k].to_numpy() for k in reversed(_PIECE_ORDER)])
        if len(marks):
            done = pd.MultiIndex.from_arrays(
                [marks[k].to_numpy(np.int64) for k in _TILE_KEYS])
            at = at[~pd.MultiIndex.from_arrays(
                [f[k].to_numpy(np.int64)[at] for k in _TILE_KEYS])
                .isin(done)]
        if not len(at):
            return {}
        f = f.iloc[at]
        f = f.assign(layer=names[f["layer_order"].to_numpy()])
        rag = concat_ragged(rags).take(at)
        if not fuse:
            return encode(f, rag)
        # salt only ordered the features: one partial per (tile, layer)
        return assemble(pd.DataFrame(encode(f.assign(salt=0), rag)))

    return lambda iterator: _walk_runs(iterator, run_keys, render)


def empty_tile_bytes(layers: Layers, zoom: int, compress: bool = True) -> bytes:
    """Constant bytes of a tile with only empty layer shells for this zoom
    (the reference emits every tile of the pyramid; identical empties
    md5-dedup in the sink)."""
    lb = [mvt.encode_layer(l.id, []) for l in layers.layers_for_zoom(zoom)]
    return mvt.encode_tile(lb, compress=compress)


def single_metatile(spark: SparkSession, sources: dict[str, DataFrame],
                    layers: Layers, zoom: int, mtx: int, mty: int, *,
                    metatile_scale: int = 8,
                    compress: bool = True) -> DataFrame:
    """Entry point 2 (lib.rs:464): render exactly one metatile — the
    library API workers use, and the unit-of-reprocessing for dirty-tile
    workflows. Same plan as the full pyramid, restricted by a one-row
    broadcast semi-join; identical bytes to the full build (guaranteed by
    the partitioning-independent canonical encode order)."""
    return build_tiles(spark, sources, layers, zoom, zoom,
                       metatile_scale=metatile_scale, compress=compress,
                       metatile_keys=metatile_keys(spark, zoom,
                                                   [(mtx, mty)]))


def metatile_keys(spark: SparkSession, zoom: int, mts) -> DataFrame:
    """build_tiles' `metatile_keys` frame (zoom int, mtx long, mty long):
    one row per (mtx, mty) of `mts` at `zoom`. It goes to the JVM as an
    Arrow table, so the plan reads a LocalRelation and no Python worker
    runs to unpickle the rows."""
    mts = list(mts)
    return spark.createDataFrame(pa.table({
        "zoom": pa.array([zoom] * len(mts), pa.int32()),
        "mtx": pa.array([x for x, _ in mts], pa.int64()),
        "mty": pa.array([y for _, y in mts], pa.int64())}))


def tile_driver(spark: SparkSession, zoom: int,
                tile_range: Optional[tuple] = None) -> DataFrame:
    """S6: all (zoom, x, y) keys of one pyramid level, generated without a
    shuffle from spark.range (lib.rs:186-220 equivalent). tile_range
    (x0, y0, x1, y1 inclusive) enumerates only the bbox window — a z14
    city render emits thousands of keys, not 2^28."""
    if tile_range is None:
        n = 1 << zoom
        x0 = y0 = 0
        w = h = n
    else:
        x0, y0, x1, y1 = tile_range
        w, h = x1 - x0 + 1, y1 - y0 + 1
    return spark.range(w * h).selectExpr(
        f"CAST({zoom} AS INT) AS zoom",
        f"({x0} + CAST((id / {h}) AS BIGINT)) AS x",
        f"CAST(({y0} + pmod(id, {h})) AS BIGINT) AS y")


def _python_stage_parts(spark: SparkSession,
                        shuffle_parts: Optional[int]) -> Optional[int]:
    """Clamp a caller's exchange-width hint for the Python-bound render
    and assemble stages to _TASKS_PER_CORE tasks per core. Each
    mapInPandas task carries a fixed cost: ~55 ms (perfbench
    spark.task_fixed_ms, 4 cores, Python 3.11), most of it the worker
    waiting on the JVM. It was 200-290 ms until the package stopped the
    workers re-reading pyspark.zip's directory on every task (zipguard).
    At 32 cores on the z0-10 bench leg, 256 partitions of micro-tasks
    lost ~1-2 s/leg to task overhead vs 64 (5.3 s vs 6.4 s warm; 12.7 s
    at 512). Per-task kernel time stays well above the fixed cost at
    larger scale factors (tiles/task grows with data; the constant does
    not). None stays None (spark.sql.shuffle.partitions + AQE coalescing
    decide)."""
    if shuffle_parts is None:
        return None
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(shuffle_parts, cores * _TASKS_PER_CORE))


def _fits_one_salt(spark: SparkSession, df: DataFrame) -> bool:
    """True when df's size estimate is at most one salt's share of an
    advisory partition: spark.sql.adaptive.advisoryPartitionSizeInBytes
    / _N_SALTS. The estimate is the optimized plan's statistics (a
    union's is the sum of its branches'), so no Spark job runs. A
    relation whose size Spark does not know (an RDD source) reads as
    spark.sql.defaultSizeInBytes, Long.MaxValue unless set, so it does
    not fit, as it does not for the planner's broadcast bound."""
    entry = (spark._jvm.org.apache.spark.sql.internal.SQLConf
             .ADVISORY_PARTITION_SIZE_IN_BYTES())
    advisory = spark._jsparkSession.sessionState().conf().getConf(entry)
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(str(size)) * _N_SALTS <= advisory


def build_tiles(spark: SparkSession, sources: dict[str, DataFrame],
                layers: Layers, minzoom: int, maxzoom: int, *,
                metatile_scale: int = 8, compress: bool = True,
                shuffle_parts: Optional[int] = None,
                include_empty: bool = False,
                done_keys: Optional[DataFrame] = None,
                bbox: Optional[tuple] = None,
                metatile_keys: Optional[DataFrame] = None) -> DataFrame:
    """Entry point 1 (lib.rs:177-310): full pyramid as one lazy plan.

    sources: source name -> features DataFrame with `way` (WKB 3857 binary)
    + `feature_id` (stable long) + property columns.
    done_keys: optional (zoom, x, y) DataFrame of already-written tiles,
    left out for checkpoint resume (S11): each key rides the render
    exchange as a marker row of its metatile (on the split plan, one per
    salt at salted zooms), and the render task drops that tile's pieces.
    bbox: optional (minlon, minlat, maxlon, maxlat) restricting generation
    to tiles intersecting it (bin/tileigi.rs:110-126; tighter than the
    reference's metatile granularity — tiles outside the bbox are absent:
    the cover keeps the bbox's metatiles, a filter on the render output
    its tiles).
    metatile_keys: optional (zoom, mtx, mty) DataFrame naming exactly the
    metatiles to render, one row each (--tile-list re-render-dirty
    workflows, bin/tileigi.rs:80-84); broadcast semi-joined — the list
    is small.
    include_empty: also return each tile of that extent (the zooms, the
    bbox, the listed metatiles) that no feature reached and is not done,
    as its zoom's empty tile; the render still runs once.
    """
    from .mercator import bbox_lonlat_to_merc

    zooms = list(range(minzoom, maxzoom + 1))
    bbox_merc = bbox_lonlat_to_merc(bbox) if bbox is not None else None
    tile_ranges = ({z: bbox_tile_range(bbox_merc, z) for z in zooms}
                   if bbox_merc is not None else None)
    per_layer = []
    layer_specs = []
    prop_types: dict[str, dict] = {}

    def _prep(src: DataFrame) -> DataFrame:
        if "feature_id" not in src.columns:
            src = src.withColumn("feature_id", F.expr("xxhash64(way)"))
        # sources may carry precomputed bbox columns (geo-table practice;
        # keeps the whole pre-shuffle pipeline JVM-side for point tables);
        # otherwise one Arrow pass decodes WKB
        if not set(_BBOX_COLS) <= set(src.columns):
            src = with_bbox(src)
        return src

    _register_views(sources, layers)
    for order, layer in enumerate(layers.layers):
        layer_zooms = [z for z in zooms
                       if layer.minzoom <= z <= min(layer.maxzoom,
                                                    layers.global_maxzoom)]
        if not layer_zooms:
            continue
        zoom_filter = getattr(layer, "zoom_filter", None)
        layer_sql = getattr(layer, "sql", None)

        def _covered_for(zs):
            """(the layer's properties, covered DF) for a zoom subset;
            every source it reads is checked by _layer_props."""
            # SQL-template table source (TableSQL, input/mod.rs:88-123):
            # the layer's SQL runs over the registered source tables.
            # With !zoom!/!scale_denominator! tokens the query is
            # re-resolved per zoom (the reference substitutes per
            # metatile; the value set is per-zoom), otherwise once for
            # the whole zoom range.
            if layer_sql and "!" in layer_sql:
                # Token substitution yields one resolved query per zoom,
                # but after constant folding many zooms share the SAME
                # source plan (e.g. "WHERE !zoom! >= 5 OR k" folds to
                # plain scans for every z >= 5). Group zooms whose
                # optimized plans give the same result (sameResult: the
                # canonicalized plans are equal, expression ids aside)
                # so each distinct source is scanned and cover-exploded
                # ONCE for its whole zoom group instead of once per
                # zoom: a z2-z7 template layer drops from 6 scan
                # branches to 2. Plan text is no key: a filtered
                # in-memory relation prints as its columns alone, so
                # every zoom's query over it would read alike (pinned by
                # tests/test_template_group.py).
                groups = []   # [optimized plan, source, zooms]
                for z in zs:
                    src_z = _layer_source(spark, sources, layer, z)
                    plan = src_z._jdf.queryExecution().optimizedPlan()
                    same = next((g for g in groups if g[0].sameResult(plan)),
                                None)
                    if same is None:
                        groups.append([plan, src_z, [z]])
                    else:
                        same[2].append(z)
                props = [_layer_props(layer.id, src_z)
                         for _, src_z, _ in groups]
                cov = None
                for _, src_z, zlist in groups:
                    cov_z = cover_metatiles(_prep(src_z), zlist,
                                            layer.buffer, metatile_scale,
                                            zoom_filter=zoom_filter,
                                            bbox_merc=bbox_merc)
                    cov = cov_z if cov is None else cov.unionByName(cov_z)
                return props[0], cov
            src0 = _layer_source(spark, sources, layer, zs[0])
            return (_layer_props(layer.id, src0),
                    cover_metatiles(_prep(src0), zs, layer.buffer,
                                    metatile_scale, zoom_filter=zoom_filter,
                                    bbox_merc=bbox_merc))

        prop_types[layer.id], covered = _covered_for(layer_zooms)
        if metatile_keys is not None:
            covered = covered.join(F.broadcast(metatile_keys),
                                   on=["zoom", "mtx", "mty"],
                                   how="left_semi")
        # only what the render reads crosses the exchange: the bbox
        # columns fed the cover, other-typed columns are never encoded
        per_layer.append(covered.selectExpr(
            "zoom", "mtx", "mty", "way", "feature_id",
            *(f"`{p}`" for p in prop_types[layer.id]),
            f"{order} AS layer_order"))
        layer_specs.append((order, layer.id, layer.buffer * 16))

    if not per_layer:
        # no layer covers the requested zoom range: empty result with the
        # tiles schema (a one-zoom CLI loop must not crash at zooms no
        # layer serves)
        return spark.createDataFrame([], _TILE_SCHEMA)

    rows = per_layer[0]
    for other in per_layer[1:]:
        rows = rows.unionByName(other, allowMissingColumns=True)
    # One plan renders every tile whole, in one exchange and one Python
    # pass, as the reference renders a metatile (lib.rs:543-559). The
    # split plan adds the salt to the exchange key and assemble_tiles'
    # exchange, so a hot low-zoom tile's features spread over up to
    # _N_SALTS tasks whose partials are merged (O13); the bytes are the
    # same, since a layer's features come in (salt, feature_id) order
    # either way. A fused low-zoom run holds the whole input, so the
    # plan fuses a range with salted zooms only while the covered rows
    # are estimated at most advisory size / _N_SALTS (_fits_one_salt):
    # no fused run is then larger than a salted run of an input one
    # advisory partition large. Below that bound the split only costs a
    # second exchange and Python stage, and assemble_tiles' per-feature
    # merge; above it a fused run's Python memory grows with the whole
    # input (tools/render_plan_bound.py, random points, z0-z6, 4 cores:
    # 170k rows, an estimate of 3.9 MB, render in a median 6.9 s at
    # 1.9 GB peak RSS fused, 10.2 s at 1.7 GB split; at 300k rows the
    # largest Python worker holds ~470 MB fused, ~200 MB split).
    fuse = minzoom > _SALT_ZOOM_MAX or _fits_one_salt(spark, rows)
    run_keys = _METATILE_KEYS if fuse else _SALTED_KEYS
    # unionByName's column order: the first layer's, then each new one
    carry = ["salt"] + list(dict.fromkeys(
        p for props in prop_types.values() for p in props))
    rows = rows.withColumn("salt", F.expr(
        f"CAST(IF(zoom <= {_SALT_ZOOM_MAX}, pmod(feature_id, {_N_SALTS}),"
        f" 0) AS INT)"))
    if done_keys is not None:
        # one marker row per done tile (inside the bbox) and run (split:
        # one per salt), in its metatile's run; integer columns get 0,
        # not NULL, so the render's pandas frames keep them int64
        ints = [f"CAST(0 AS {f.dataType.simpleString()}) AS `{f.name}`"
                for f in rows.schema.fields
                if f.name not in ("zoom", "mtx", "mty", "layer_order", "salt")
                and isinstance(f.dataType, (LongType, IntegerType))]
        size = f"least({metatile_scale}L, shiftleft(1L, zoom))"
        keep = (f"zoom IN ({', '.join(map(str, zooms))})"
                if tile_ranges is None
                else _zoom_xy_filter(tile_ranges, "x", "y"))
        marks = (done_keys.filter(keep)
                 .selectExpr(
                     "CAST(zoom AS INT) AS zoom",
                     f"CAST(x DIV {size} AS BIGINT) AS mtx",
                     f"CAST(y DIV {size} AS BIGINT) AS mty",
                     "0 AS salt" if fuse else
                     f"explode(IF(zoom <= {_SALT_ZOOM_MAX},"
                     f" sequence(0, {_N_SALTS - 1}), array(0))) AS salt",
                     "-1 AS layer_order", "CAST(x AS BIGINT) AS x",
                     "CAST(y AS BIGINT) AS y", *ints))
        rows = rows.unionByName(marks, allowMissingColumns=True)
    parts_n = _python_stage_parts(spark, shuffle_parts)
    rows = (rows.repartition(*run_keys) if parts_n is None
            else rows.repartition(parts_n, *run_keys))
    rows = rows.sortWithinPartitions(
        *map(F.expr, run_keys + ("layer_order", "feature_id")))
    tiles = rows.mapInPandas(
        _make_render_run(layer_specs, carry, prop_types, metatile_scale,
                         layers.global_maxzoom, fuse, compress, tile_ranges),
        schema=_TILE_SCHEMA if fuse else _PARTIAL_SCHEMA)
    if tile_ranges is not None:
        tiles = tiles.filter(_zoom_xy_filter(tile_ranges, "x", "y"))
    if not fuse:
        tiles = assemble_tiles(tiles, compress=compress,
                               shuffle_parts=parts_n)

    if include_empty:
        # every key of the render's extent (each zoom's bbox window, or
        # the listed metatiles' tiles, never a whole zoom's), less the
        # done keys, left-joined once to the rendered tiles: a key no
        # feature reached gets its zoom's empty tile
        if metatile_keys is None:
            keys = None
            for z in zooms:
                drv = tile_driver(spark, z,
                                  tile_ranges[z] if tile_ranges else None)
                keys = drv if keys is None else keys.unionByName(drv)
        else:
            size = f"least({metatile_scale}L, shiftleft(1L, zoom))"
            keys = (metatile_keys
                    .filter(f"zoom IN ({', '.join(map(str, zooms))})")
                    .selectExpr("CAST(zoom AS INT) AS zoom", "mty",
                                f"explode(sequence(mtx * {size},"
                                f" mtx * {size} + {size} - 1)) AS x")
                    .selectExpr("zoom", "x",
                                f"explode(sequence(mty * {size},"
                                f" mty * {size} + {size} - 1)) AS y"))
            if tile_ranges is not None:
                keys = keys.filter(_zoom_xy_filter(tile_ranges, "x", "y"))
        if done_keys is not None:
            keys = keys.join(done_keys, on=["zoom", "x", "y"],
                             how="left_anti")
        empty = {z: empty_tile_bytes(layers, z, compress) for z in zooms}
        tile = " ".join(f"WHEN {z} THEN X'{b.hex()}'"
                        for z, b in empty.items())
        md5 = " ".join(f"WHEN {z} THEN '{hashlib.md5(b).hexdigest()}'"
                       for z, b in empty.items())
        tiles = (keys.join(tiles, on=["zoom", "x", "y"], how="left")
                 .selectExpr("zoom", "x", "y",
                             f"coalesce(tile, CASE zoom {tile} END) AS tile",
                             f"coalesce(tile_md5, CASE zoom {md5} END)"
                             " AS tile_md5"))
    return tiles
