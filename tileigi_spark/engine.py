"""The tile-pyramid plan builder: DataFrame-native J1/J3 joins, salted
groupBys, per-feature geometry stages as Arrow-batched UDFs.

Spark-first re-expression of the reference lifecycle (lib.rs:464-736):

  features ──(bbox cover explode = J1, no shuffle)──▶ (zoom, metatile) rows
      │ one mapInPandas pass: remap → dedup/spikes → exact-int RDP →
      │ buffered clip → quadtree tile split (J3) → make_valid → winding →
      │ per-tile shift (G2-G16); geom.batch.process_general routes each
      │ row to the points, axis-rect, ragged or scalar lane
      ▼
  repartition(z,x,y,salt) + sortWithinPartitions + mapInPandas
      — partial MVT layer encode (A1; salt breaks z0-z4 hot tiles, O13)
  repartition(z,x,y) + sortWithinPartitions + mapInPandas
      — merge partials per layer + tile assembly + gzip + md5 (A2)

Shuffles: exactly the two repartitions. Everything upstream is narrow —
the cover "join" is arithmetic + explode on the feature side, which
Catalyst keeps in one stage with the scan (predicate pushdown + column
pruning intact). Sorted-stream mapInPandas (not per-group applyInPandas)
amortizes per-tile overhead across whole Arrow batches.
"""

from __future__ import annotations

import hashlib
from typing import Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, FloatType, IntegerType, LongType, StringType,
)

from .config import Layers
from .mercator import (MERC_MAX, bbox_metatile_range, bbox_tile_range,
                       cover_slack)
from .geom.wkb import _cumsum0, wkb_to_geom, read_ragged
from .geom import mvt, ringbulk

WORLD = 2.0 * MERC_MAX

# property columns: Spark type -> MVT conversion (lib.rs:653-684); columns
# of any other type are dropped, like the reference drops unknown/bytea
_PROP_TYPES = (StringType, LongType, IntegerType, DoubleType, FloatType,
               BooleanType)


def _prop_columns(df: DataFrame, exclude=("way", "feature_id")):
    out = []
    for f in df.schema.fields:
        if f.name in exclude:
            continue
        if isinstance(f.dataType, _PROP_TYPES):
            out.append((f.name, f.dataType))
    return out


def _bbox_arrays(ways, rag):
    """Per-row bbox arrays of a WKB column (NaN = undecodable) that
    wkb.read_ragged read as `rag`. Rows it read take min/max from its
    vertex arrays; the rows it refuses (big-endian, EWKB, MultiPoint,
    malformed) are decoded by wkb_to_geom. Both follow Python's min/max:
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
    boundary and decodes its WKB twice (two ArrowEvalPython nodes,
    verified by tools/plan_audit.py; the audit now pins this to one
    Python pass)."""
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


def _zoom_xy_filter(ranges: dict[int, tuple[int, int, int, int]],
                    xcol: str, ycol: str):
    """OR-of-per-zoom inclusive integer ranges — bbox restriction as pure
    integer comparisons (the ranges are precomputed driver-side, so no
    float math enters the plan)."""
    cond = None
    for z, (x0, y0, x1, y1) in sorted(ranges.items()):
        c = ((F.col("zoom") == z)
             & F.col(xcol).between(F.lit(x0), F.lit(x1))
             & F.col(ycol).between(F.lit(y0), F.lit(y1)))
        cond = c if cond is None else cond | c
    return cond


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
    integer metatile-range filter after."""
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
        ax0 = -MERC_MAX + mtx0 * span
        ax1 = -MERC_MAX + (mtx1 + 1) * span
        ay0 = MERC_MAX - (mty1 + 1) * span
        ay1 = MERC_MAX - mty0 * span
        # widest clip-buffer slack across zooms (largest at min zoom)
        slack = cover_slack(minz, buffer_px)
        feats = feats.filter(
            (F.col("xmax") >= F.lit(ax0 - slack))
            & (F.col("xmin") <= F.lit(ax1 + slack))
            & (F.col("ymax") >= F.lit(ay0 - slack))
            & (F.col("ymin") <= F.lit(ay1 + slack)))
    df = feats.withColumn("zoom", F.explode(F.array(*[F.lit(z) for z in zooms])))
    if zoom_filter:
        df = df.filter(F.expr(zoom_filter))
    if bbox_merc is not None:
        # Per-zoom aligned-extent prune right after the zoom explode:
        # implied by the exact metatile-range filter below (a feature
        # outside the in-range metatiles' padded extent at zoom z can
        # only cover out-of-range metatiles at z), so this is pure early
        # pruning — it cuts the sequence/explode work for deep zooms
        # where the scan-level filter above had to stay world-wide.
        cond = None
        for z in zooms:
            zx0, zy0, zx1, zy1 = bbox_metatile_range(bbox_merc, z,
                                                     metatile_scale)
            span_z = WORLD * min(metatile_scale, 1 << z) / float(1 << z)
            pad_z = cover_slack(z, buffer_px)
            c = ((F.col("zoom") == z)
                 & (F.col("xmax") >= F.lit(-MERC_MAX + zx0 * span_z
                                           - pad_z))
                 & (F.col("xmin") <= F.lit(-MERC_MAX + (zx1 + 1) * span_z
                                           + pad_z))
                 & (F.col("ymax") >= F.lit(MERC_MAX - (zy1 + 1) * span_z
                                           - pad_z))
                 & (F.col("ymin") <= F.lit(MERC_MAX - zy0 * span_z
                                           + pad_z)))
            cond = c if cond is None else cond | c
        df = df.filter(cond)
    two_z_l = F.expr("shiftleft(1L, zoom)")
    two_z = two_z_l.cast("double")
    size_mt = F.least(F.lit(metatile_scale).cast("long"), two_z_l)
    n_axis = (two_z_l / size_mt).cast("long")
    mt_merc = F.lit(WORLD) * size_mt.cast("double") / two_z
    tile_merc = F.lit(WORLD) / two_z
    # clip-buffer in mercator units + one tile unit of rounding slack
    buf_m = tile_merc * F.lit((buffer_px * 16 + 1) / 4096.0)

    def clamp(c):
        return F.greatest(F.lit(0).cast("long"),
                          F.least(c.cast("long"), n_axis - 1))

    mx0 = clamp(F.floor((F.col("xmin") - buf_m + F.lit(MERC_MAX)) / mt_merc))
    mx1 = clamp(F.floor((F.col("xmax") + buf_m + F.lit(MERC_MAX)) / mt_merc))
    my0 = clamp(F.floor((F.lit(MERC_MAX) - (F.col("ymax") + buf_m)) / mt_merc))
    my1 = clamp(F.floor((F.lit(MERC_MAX) - (F.col("ymin") - buf_m)) / mt_merc))

    covered = (df
               .withColumn("mtx", F.explode(F.sequence(mx0, mx1)))
               .withColumn("mty", F.explode(F.sequence(my0, my1))))
    if bbox_merc is not None:
        ranges = {z: bbox_metatile_range(bbox_merc, z, metatile_scale)
                  for z in zooms}
        covered = covered.filter(_zoom_xy_filter(ranges, "mtx", "mty"))
    return covered


def _points_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                      metatile_scale: int):
    """The points lane on its own, for the benchmark probes and tools
    that time it: pdf rows are simple points, which process_general
    routes to its points kernel. Returns the pieces frame or None."""
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


# Python-bound stages (the narrow geometry pass and the encode/assemble
# exchanges) run ~2 tasks per core: each mapInPandas task carries tens
# of ms of fixed Arrow/worker cost, and 2/core keeps the straggler tail
# at half a wave (see _python_stage_parts for the measurements).
_TASKS_PER_CORE = 2


def _rects_fast_path(pdf: pd.DataFrame, prop_names, buffer_units: int,
                     metatile_scale: int, global_maxzoom: int):
    """The rect lane on its own, for the benchmark probes and tests that
    time or pin it: the rows of pdf that process_general routes to its
    rect kernel (geom.batch.axis_rect_rows) are run through it; the
    others are handed back. Returns (frame_or_None, leftover_pdf)."""
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
    WKB (exact: |coord| < 2^53)."""
    # The bbox columns only feed the JVM cover arithmetic upstream; an
    # opaque mapInPandas ships every input column (Spark cannot see which
    # ones the function reads — guide §4 column-pruning point), so drop
    # the 32 bytes/row of doubles before the Arrow boundary.
    covered = covered.drop("xmin", "ymin", "xmax", "ymax")
    # Cap this narrow stage's task count: a multi-layer / multi-zoom
    # union of scan branches over small-file sources otherwise plans
    # hundreds of micro-tasks, and each mapInPandas task carries tens of
    # ms of fixed Arrow/worker cost plus the numpy lanes' per-call
    # setup (measured: the 3-layer bench leg ran this stage as 256
    # tasks, 118 core-s, most of it fixed cost). coalesce is narrow —
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
            f = process_general(pdf, prop_names, buffer_units,
                                metatile_scale, global_maxzoom, epsilon)
            if f is not None:
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


def _bulk_point_tags(enc, cols):
    """Intern a point-run's property values into `enc` in the exact
    (row, column) first-appearance order the per-row path would use, so
    the vectorized framer's bytes match per-row output bit-for-bit.

    cols: list of (prop_name, spark_type, codes int64, uniques) from a
    per-batch pd.factorize, sliced to the run. Returns prop_tags for
    either bulk framer (columns with no valid value omitted, matching
    the per-row path which never visits them).
    """
    pend = []
    for j, (p, t, codes, uniques) in enumerate(cols):
        u, first = np.unique(codes, return_index=True)
        for f, cu in zip(first.tolist(), u.tolist()):
            if cu >= 0:
                pend.append((f, j, cu))
    pend.sort()
    luts = [np.zeros(max(len(c[3]), 1), dtype=np.int64) for c in cols]
    kis = [None] * len(cols)
    for f, j, cu in pend:
        p, t, codes, uniques = cols[j]
        if kis[j] is None:
            kis[j] = enc.intern_key(p)
        luts[j][cu] = enc.intern_value(_mvt_value(uniques[cu], t))
    prop_tags = []
    for j, (p, t, codes, uniques) in enumerate(cols):
        if kis[j] is None:
            continue
        valid = codes >= 0
        vi = luts[j][np.where(valid, codes, 0)]
        prop_tags.append((kis[j], vi, valid))
    return prop_tags


def _bulk_encode_groups(layer_name, prop, ptype, framer, args,
                        codes, uniques, seg_starts):
    """Encode MANY complete single-shape groups of one layer in one
    vectorized pass (zero or one property column). framer(*args,
    prop_tags) is one of the two bulk framers —
    mvt.bulk_frame_point_features with args (xs, ys), or
    ringbulk.bulk_frame_ragged_features with args (xs, ys, ring_off,
    feat_off, gtype) — and returns (stream, per-feature frame lengths)
    or None. Returns the list of finished layer-message bytes, one per
    group (seg_starts order), or None when the framer refuses (caller
    falls back).

    Per-group LayerEncoder work is ~100µs of interpreter/numpy-call
    overhead; at z10 the bench has 650k groups of ~16 features, so the
    per-group constant dominates the encode stage. This path computes
    group-local value-table ranks for the whole batch with one
    unique/lexsort, frames every feature in one framer call, then
    assembles each group's message from slices — O(rows) vectorized +
    O(groups) cheap joins. Bytes are identical to the per-row
    LayerEncoder output (pinned by tests/test_mvt_bulk.py and the
    golden-tile fixtures).

    codes/uniques: pd.factorize of the property column over these rows
    (codes -1 = NULL), or None when the layer has no property column.
    seg_starts: int64 array of group start offsets (first element 0).
    """
    header = (mvt._tag(15, 0) + mvt._varint(2)
              + mvt._len_delim(1, layer_name.encode("utf-8")))
    extbytes = mvt._tag(5, 0) + mvt._varint(4096)
    prop_tags = []
    valtabs = {}    # group -> key + value tables, only for tagged groups

    if codes is not None:
        n = len(codes)
        gid = np.zeros(n, dtype=np.int64)
        gid[seg_starts[1:]] = 1
        gid = np.cumsum(gid)
        keybytes = mvt._len_delim(3, prop.encode("utf-8"))
        K = max(len(uniques), 1)
        valid = codes >= 0
        idx = np.flatnonzero(valid)
        pairs = gid[idx] * K + codes[idx]
        u_pairs, first_pos = np.unique(pairs, return_index=True)
        inv = np.searchsorted(u_pairs, pairs)
        g_of_pair = u_pairs // K
        order = np.lexsort((first_pos, g_of_pair))
        sorted_g = g_of_pair[order]
        if len(order):
            grp_start = np.flatnonzero(
                np.concatenate(([True], sorted_g[1:] != sorted_g[:-1])))
            reps = np.diff(np.append(grp_start, len(order)))
            rank_seq = (np.arange(len(order))
                        - np.repeat(grp_start, reps))
        else:
            grp_start = np.zeros(0, dtype=np.int64)
            rank_seq = np.zeros(0, dtype=np.int64)
        ranks = np.empty(len(u_pairs), dtype=np.int64)
        ranks[order] = rank_seq
        vi = np.zeros(n, dtype=np.int64)
        vi[idx] = ranks[inv]
        prop_tags = [(0, vi, valid)]
        # per-group value tables, in first-appearance order
        vbytes = [None] * len(uniques)
        pair_codes_sorted = (u_pairs % K)[order]
        bounds = np.append(grp_start, len(order))
        for i in range(len(grp_start)):
            g = int(sorted_g[grp_start[i]])
            chunks = []
            for c in pair_codes_sorted[bounds[i]:bounds[i + 1]].tolist():
                b = vbytes[c]
                if b is None:
                    b = mvt._len_delim(
                        4, mvt._encode_value(_mvt_value(uniques[c], ptype)))
                    vbytes[c] = b
                chunks.append(b)
            valtabs[g] = keybytes + b"".join(chunks)

    res = framer(*args, prop_tags)
    if res is None:
        return None
    stream, rowlen = res
    cum = np.concatenate(([0], np.cumsum(rowlen)))
    cuts = cum[np.append(seg_starts, len(rowlen))].tolist()
    return [header + stream[cuts[g]:cuts[g + 1]] + valtabs.get(g, b"")
            + extbytes for g in range(len(seg_starts))]


def _mvt_value(v, t):
    if v is None or (isinstance(v, float) and pd.isna(v)):
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


def _make_encode_run(prop_types: dict[str, dict], all_props):
    """The sorted-stream partial-layer encode walk as a reusable
    mapInPandas function (shared by the salted two-shuffle path and the
    fused salt-free path — the walk itself is salt-agnostic: salt is
    just one more run-break column, constant 0 in the fused stream)."""

    def run(iterator):
        cur_key = None
        enc = None
        out = {k: [] for k in ("zoom", "x", "y", "salt", "layer_order",
                               "layer", "part")}

        def flush():
            if cur_key is None:
                return
            z, x, y, salt, order, layer = cur_key
            out["zoom"].append(z); out["x"].append(x); out["y"].append(y)
            out["salt"].append(salt); out["layer_order"].append(order)
            out["layer"].append(layer); out["part"].append(enc.to_bytes())

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            zs = pdf["zoom"].values.astype(np.int64)
            txs = pdf["x"].values.astype(np.int64)
            tys = pdf["y"].values.astype(np.int64)
            ss = pdf["salt"].values.astype(np.int64)
            lo = pdf["layer_order"].values.astype(np.int64)
            ly_codes, ly_uniq = pd.factorize(pdf["layer"])
            geoms = pdf["geom"].values
            pvals = {p: pdf[p].values for p in all_props if p in pdf}
            rag = ringbulk.mvt_rings(read_ragged(geoms))
            # rows [s, e) share one geometry type iff gchg[s] == gchg[e-1]
            gchg = _cumsum0(rag.code[1:] != rag.code[:-1])
            # per-batch value dictionaries for the vectorized paths
            fact = ({p: pd.factorize(pdf[p], use_na_sentinel=True)
                     for p in pvals}
                    if rag.code.any() else {})

            chg = np.empty(n, dtype=bool)
            chg[0] = True
            if n > 1:
                chg[1:] = ((zs[1:] != zs[:-1]) | (txs[1:] != txs[:-1])
                           | (tys[1:] != tys[:-1]) | (ss[1:] != ss[:-1])
                           | (lo[1:] != lo[:-1])
                           | (ly_codes[1:] != ly_codes[:-1]))
            starts = np.flatnonzero(chg)
            ends = np.append(starts[1:], n)

            def bulk_shape(s, e):
                """The one shape dispatch for rows [s, e): (framer,
                args) for framer(*args, prop_tags) when every row has
                the same MVT geometry type in rag, else None (per-row
                walk)."""
                gtype = int(rag.code[s])
                if not gtype or gchg[s] != gchg[e - 1]:
                    return None
                xs, ys, ring_off, feat_off = rag.rows(s, e)
                if gtype == 1:   # one vertex per point row
                    return mvt.bulk_frame_point_features, (xs, ys)
                return ringbulk.bulk_frame_ragged_features, (
                    xs, ys, ring_off, feat_off, gtype)

            def handle_segment(s, e):
                nonlocal cur_key, enc
                layer = ly_uniq[ly_codes[s]]
                key = (int(zs[s]), int(txs[s]), int(tys[s]),
                       int(ss[s]), int(lo[s]), layer)
                if key != cur_key:
                    flush()
                    cur_key = key
                    enc = mvt.LayerEncoder(layer)
                ptypes = prop_types.get(layer, {})
                # vectorized single-shape run: intern values in per-row
                # visit order, then frame the whole run in one call
                # (the framer refuses on width overflow -> per-row)
                shape = bulk_shape(s, e) if e - s >= 8 else None
                if shape is not None:
                    framer, args = shape
                    seg_cols = [(p, t, fact[p][0][s:e], fact[p][1])
                                for p, t in ptypes.items() if p in fact]
                    res = framer(*args, _bulk_point_tags(enc, seg_cols))
                    if res is not None:
                        enc.add_framed_features(res[0])
                        return
                for i in range(s, e):
                    geom = _int_geom(wkb_to_geom(bytes(geoms[i])))
                    properties = {p: _mvt_value(pvals[p][i], t)
                                  for p, t in ptypes.items() if p in pvals}
                    enc.add_feature(geom, properties)

            # batch-wide fast path: every COMPLETE group in this batch
            # (all but the first and last, which may continue across
            # batch/encoder boundaries) encoded in one vectorized pass
            # when they are single-shape rows of one <=1-property layer —
            # the per-group constant, not per-feature work, dominates at
            # high zooms (650k groups of ~16 features in the bench)
            parts = None
            if len(starts) >= 3:
                m0, m1 = int(ends[0]), int(starts[-1])
                layer = ly_uniq[ly_codes[m0]]
                ptl = [(p, t)
                       for p, t in prop_types.get(layer, {}).items()
                       if p in fact]
                shape = (bulk_shape(m0, m1)
                         if (len(ptl) <= 1 and bool(
                             (ly_codes[m0:m1] == ly_codes[m0]).all()))
                         else None)
                if shape is not None:
                    if ptl:
                        p, t = ptl[0]
                        codes, uniq = fact[p][0][m0:m1], fact[p][1]
                    else:
                        p = t = codes = uniq = None
                    parts = _bulk_encode_groups(
                        layer, p, t, *shape, codes, uniq,
                        (starts[1:-1] - m0).astype(np.int64))
            if parts is not None:
                handle_segment(int(starts[0]), m0)
                flush()
                cur_key = None
                enc = None
                mids = starts[1:-1]
                out["zoom"].extend(zs[mids].tolist())
                out["x"].extend(txs[mids].tolist())
                out["y"].extend(tys[mids].tolist())
                out["salt"].extend(ss[mids].tolist())
                out["layer_order"].extend(lo[mids].tolist())
                out["layer"].extend([layer] * len(mids))
                out["part"].extend(parts)
                # bulk extend can add ~1 row/group at high zooms:
                # drain here so peak buffering stays near the
                # 2000-row bound rather than maxRecordsPerBatch
                if len(out["zoom"]) >= 2000:
                    yield pd.DataFrame(out)
                    for v in out.values():
                        v.clear()
                handle_segment(m1, n)
            else:
                for s, e in zip(starts.tolist(), ends.tolist()):
                    handle_segment(s, e)
                    if len(out["zoom"]) >= 2000:
                        yield pd.DataFrame(out)
                        for v in out.values():
                            v.clear()
            if len(out["zoom"]) >= 2000:
                yield pd.DataFrame(out)
                for v in out.values():
                    v.clear()
        flush()
        if out["zoom"]:
            yield pd.DataFrame(out)

    return run


def encode_layers(pieces: DataFrame, prop_types: dict[str, dict],
                  salt_zoom_max: int = 4, n_salts: int = 16,
                  shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1: salted partial layer encode. One shuffle: repartition by
    (zoom,x,y,salt) + sortWithinPartitions, then a mapInPandas pass that
    walks the sorted stream and encodes one partial MVT layer message per
    contiguous (tile, salt, layer) run — per-group overhead is amortized
    across the whole Arrow batch (the reason this is mapInPandas and not
    applyInPandas). Canonical feature order (salt, layer_order, feature_id)
    is partitioning-independent, so tile bytes are deterministic at any
    parallelism (O9/O13).

    pieces: unioned per-layer outputs of geometry_stage with layer_id /
    layer_order columns. prop_types: layer_id -> {col -> Spark type}.

    Complete single-shape runs are framed in bulk — simple points by
    mvt.bulk_frame_point_features, any polygon- or linestring-family
    run by ringbulk.bulk_frame_ragged_features — and everything else
    by the per-row LayerEncoder walk (_make_encode_run).

    shuffle_parts: explicit partition count for the exchange, used as
    given. The encode walk is Python-bound and each task pays a fixed
    Arrow/worker cost, so build_tiles clamps its hint to ~2 tasks/core
    (_python_stage_parts) before passing it here. None keeps the
    spark.sql.shuffle.partitions + AQE behavior.
    """
    salt_col = (F.when(F.col("zoom") <= F.lit(salt_zoom_max),
                       F.pmod(F.col("feature_id"), F.lit(n_salts))
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


def _make_assemble_run(compress: bool = True):
    """The sorted-partials tile-assembly walk (merge + gzip + md5) as a
    reusable mapInPandas function — shared by the shuffled assemble and
    the fused path, where the encode output is already tile-contiguous."""

    def run(iterator):
        cur_tile = None
        cur_layer = None
        layer_parts = []   # partials of current layer
        layer_bytes = []   # finished layer messages of current tile
        out = {k: [] for k in ("zoom", "x", "y", "tile", "tile_md5")}

        def flush_layer():
            nonlocal layer_parts
            if layer_parts:
                layer_bytes.append(mvt.merge_partial_layers(layer_parts))
                layer_parts = []

        def flush_tile():
            nonlocal layer_bytes
            flush_layer()
            if cur_tile is None:
                return
            tile = mvt.encode_tile(layer_bytes, compress=compress)
            out["zoom"].append(cur_tile[0])
            out["x"].append(cur_tile[1])
            out["y"].append(cur_tile[2])
            out["tile"].append(tile)
            out["tile_md5"].append(hashlib.md5(tile).hexdigest())
            layer_bytes = []

        for pdf in iterator:
            n = len(pdf)
            if n == 0:
                continue
            zs = pdf["zoom"].values
            xs = pdf["x"].values
            ys = pdf["y"].values
            lo = pdf["layer_order"].values
            ly = pdf["layer"].values
            parts = pdf["part"].values
            # single-partial fast path: a sorted run of exactly one row
            # per tile (the high-zoom norm) needs no merge and no
            # per-row state walk — merge_partial_layers of one partial
            # is the identity, so the tile is gzip(frame(part)) direct.
            # Runs touching the batch edges may continue the previous/
            # next Arrow batch's tile and take the stateful walk.
            chg = np.ones(n, dtype=bool)
            if n > 1:
                chg[1:] = ((zs[1:] != zs[:-1]) | (xs[1:] != xs[:-1])
                           | (ys[1:] != ys[:-1]))
            starts = np.flatnonzero(chg)
            ends = np.append(starts[1:], n)
            nruns = len(starts)
            for k in range(nruns):
                s, e = int(starts[k]), int(ends[k])
                if 0 < k < nruns - 1 and e - s == 1:
                    flush_tile()
                    cur_tile = None
                    cur_layer = None
                    tile = mvt.encode_tile([bytes(parts[s])],
                                           compress=compress)
                    out["zoom"].append(int(zs[s]))
                    out["x"].append(int(xs[s]))
                    out["y"].append(int(ys[s]))
                    out["tile"].append(tile)
                    out["tile_md5"].append(
                        hashlib.md5(tile).hexdigest())
                else:
                    for i in range(s, e):
                        tile_key = (int(zs[i]), int(xs[i]), int(ys[i]))
                        layer_key = (int(lo[i]), ly[i])
                        if tile_key != cur_tile:
                            flush_tile()
                            cur_tile = tile_key
                            cur_layer = None
                        if layer_key != cur_layer:
                            flush_layer()
                            cur_layer = layer_key
                        layer_parts.append(bytes(parts[i]))
                if len(out["zoom"]) >= 2000:
                    yield pd.DataFrame(out)
                    for v in out.values():
                        v.clear()
        flush_tile()
        if out["zoom"]:
            yield pd.DataFrame(out)

    return run


def assemble_tiles(partials: DataFrame, compress: bool = True,
                   shuffle_parts: Optional[int] = None) -> DataFrame:
    """A2: merge salted partials per layer and zip layer messages into
    per-tile MVT tiles + gzip + md5 (content-address for O12 dedup,
    fileio.rs:136-148). One shuffle: repartition (zoom,x,y) + sorted
    mapInPandas walk. shuffle_parts: explicit partition count, used as
    given (build_tiles passes the same ~2 tasks/core clamp as for
    encode_layers); None keeps the AQE behavior. Salt-free pyramids
    (minzoom > salt_zoom_max) skip this shuffle: build_tiles calls
    encode_assemble_fused instead."""
    if shuffle_parts is None:
        ordered = partials.repartition("zoom", "x", "y")
    else:
        ordered = partials.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions("zoom", "x", "y", "layer_order",
                                           "layer", "salt")
    return ordered.mapInPandas(_make_assemble_run(compress),
                               schema=_TILE_SCHEMA)


def encode_assemble_fused(pieces: DataFrame, prop_types: dict[str, dict],
                          compress: bool = True,
                          shuffle_parts: Optional[int] = None) -> DataFrame:
    """A1+A2 in ONE shuffle for salt-free piece streams (every zoom above
    salt_zoom_max — the overwhelming tile majority of a deep pyramid).

    With salt constant 0, repartitioning by (zoom, x, y) already lands
    every piece of a tile in one partition, so the partial-layer encode
    walk emits exactly one partial per (tile, layer) — and those partial
    rows leave the encode mapInPandas already tile-contiguous in the
    canonical order the assembly walk needs. The second exchange + sort
    of the two-shuffle path exists only to regroup SALTED partials; here
    it is the identity, so the assembly walk runs narrow, in-stage, right
    after the encode (guide §2.4: remove shuffles outright). Bytes are
    identical to the salted path's: one partial per layer merges as the
    identity, and the per-tile feature order (layer_order, feature_id)
    is unchanged."""
    salted = pieces.withColumn("salt", F.lit(0))
    if shuffle_parts is None:
        ordered = salted.repartition("zoom", "x", "y")
    else:
        ordered = salted.repartition(shuffle_parts, "zoom", "x", "y")
    ordered = ordered.sortWithinPartitions("zoom", "x", "y",
                                           "layer_order", "feature_id")
    all_props = sorted({p for d in prop_types.values() for p in d})
    partials = ordered.mapInPandas(_make_encode_run(prop_types, all_props),
                                   schema=_PARTIAL_SCHEMA)
    return partials.mapInPandas(_make_assemble_run(compress),
                                schema=_TILE_SCHEMA)


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
    keys = spark.createDataFrame([(zoom, mtx, mty)],
                                 "zoom int, mtx long, mty long")
    return build_tiles(spark, sources, layers, zoom, zoom,
                       metatile_scale=metatile_scale, compress=compress,
                       metatile_keys=keys)


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
    return (spark.range(w * h)
            .select(F.lit(zoom).cast("int").alias("zoom"),
                    (F.lit(x0) + (F.col("id") / h).cast("long")).alias("x"),
                    (F.lit(y0) + F.pmod(F.col("id"), F.lit(h))).cast("long")
                    .alias("y")))


def _python_stage_parts(spark: SparkSession,
                        shuffle_parts: Optional[int]) -> Optional[int]:
    """Clamp a caller's exchange-width hint for the Python-bound encode/
    assemble stages. Measured at 32 cores on the z0-10 bench leg: each
    mapInPandas task carries ~25-40 ms of fixed cost (Arrow stream setup,
    worker round-trip), so 256 partitions of micro-tasks lose ~1-2 s/leg
    to pure task overhead vs 64 (5.3 s vs 6.4 s warm; 12.7 s at 512) —
    the round-5 "more waves" tuning predates the vectorized group encode
    and now overshoots. ~2 tasks/core keeps the tail at half a wave while
    per-task kernel time stays well above the fixed cost at larger scale
    factors (tiles/task grows with data; the constant does not).
    None stays None (spark.sql.shuffle.partitions + AQE coalescing
    decide)."""
    if shuffle_parts is None:
        return None
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(shuffle_parts, cores * _TASKS_PER_CORE))


def build_tiles(spark: SparkSession, sources: dict[str, DataFrame],
                layers: Layers, minzoom: int, maxzoom: int, *,
                metatile_scale: int = 8, salt_zoom_max: int = 4,
                n_salts: int = 16, compress: bool = True,
                shuffle_parts: Optional[int] = None,
                include_empty: bool = False,
                done_keys: Optional[DataFrame] = None,
                bbox: Optional[tuple] = None,
                metatile_keys: Optional[DataFrame] = None) -> DataFrame:
    """Entry point 1 (lib.rs:177-310): full pyramid as one lazy plan.

    sources: source name -> features DataFrame with `way` (WKB 3857 binary)
    + `feature_id` (stable long) + property columns.
    done_keys: optional (zoom, x, y) DataFrame of already-written tiles;
    anti-joined away for checkpoint resume (S11).
    bbox: optional (minlon, minlat, maxlon, maxlat) restricting generation
    to tiles intersecting it (bin/tileigi.rs:110-126; tighter than the
    reference's metatile granularity — tiles outside the bbox are absent).
    metatile_keys: optional (zoom, mtx, mty) DataFrame naming exactly the
    metatiles to render (--tile-list re-render-dirty workflows,
    bin/tileigi.rs:80-84); broadcast semi-joined — the list is small.
    """
    from .mercator import bbox_lonlat_to_merc

    zooms = list(range(minzoom, maxzoom + 1))
    bbox_merc = bbox_lonlat_to_merc(bbox) if bbox is not None else None
    tile_ranges = ({z: bbox_tile_range(bbox_merc, z) for z in zooms}
                   if bbox_merc is not None else None)
    # A pyramid whose zooms all sit above salt_zoom_max never salts, so
    # the whole piece stream can take the single-shuffle fused
    # encode+assemble (encode_assemble_fused) — the deep-zoom re-render
    # workflow. Splitting a MIXED range into salted/salt-free buckets was
    # tried and rejected with numbers: the duplicated scan+cover work of
    # the extra branch cost more than the saved exchange (4.22 s vs
    # 4.01 s best-of-3 on the z0-10 leg), so mixed ranges keep the
    # two-shuffle salted path.
    fuse = minzoom > salt_zoom_max
    per_layer = []
    prop_types: dict[str, dict] = {}

    def _prep(src: DataFrame) -> DataFrame:
        if "feature_id" not in src.columns:
            src = src.withColumn("feature_id", F.xxhash64(F.col("way")))
        # sources may carry precomputed bbox columns (geo-table practice;
        # keeps the whole pre-shuffle pipeline JVM-side for point tables);
        # otherwise one Arrow pass decodes WKB
        if not {"xmin", "ymin", "xmax", "ymax"} <= set(src.columns):
            src = with_bbox(src)
        return src

    sql_views_made = False
    for order, layer in enumerate(layers.layers):
        layer_zooms = [z for z in zooms
                       if layer.minzoom <= z <= min(layer.maxzoom,
                                                    layers.global_maxzoom)]
        if not layer_zooms:
            continue
        zoom_filter = getattr(layer, "zoom_filter", None)
        layer_sql = getattr(layer, "sql", None)
        if layer_sql and not sql_views_made:
            for name, df in sources.items():
                df.createOrReplaceTempView(name)
            sql_views_made = True

        def _covered_for(zs):
            """(first source DF, covered DF) for a zoom subset."""
            # SQL-template table source (TableSQL, input/mod.rs:88-123):
            # the layer's SQL runs over the registered source tables.
            # With !zoom!/!scale_denominator! tokens the query is
            # re-resolved per zoom (the reference substitutes per
            # metatile; the value set is per-zoom), otherwise once for
            # the whole zoom range.
            from .config import substitute_sql_tokens

            if layer_sql and "!" in layer_sql:
                # Token substitution yields one resolved query per zoom,
                # but after constant folding many zooms share the SAME
                # source plan (e.g. "WHERE !zoom! >= 5 OR k" folds to
                # plain scans for every z >= 5). Group zooms by the
                # normalized optimized plan (expression ids stripped —
                # the only per-instance noise) so each distinct source
                # is scanned and cover-exploded ONCE for its whole zoom
                # group instead of once per zoom: a z2-z7 template layer
                # drops from 6 scan branches to 2. Equal optimized plans
                # produce equal source rows, so tile bytes are unchanged
                # (pinned by test_template_zoom_grouping).
                import re as _re

                grouped: dict[str, tuple] = {}
                order_keys = []
                for z in zs:
                    src_z = spark.sql(substitute_sql_tokens(layer_sql, z))
                    key = _re.sub(r"#\d+", "#",
                                  str(src_z._jdf.queryExecution()
                                      .optimizedPlan()))
                    if key not in grouped:
                        grouped[key] = (src_z, [])
                        order_keys.append(key)
                    grouped[key][1].append(z)
                cov = None
                src0 = None
                for key in order_keys:
                    src_z, zlist = grouped[key]
                    if src0 is None:
                        src0 = src_z
                    cov_z = cover_metatiles(_prep(src_z), zlist,
                                            layer.buffer, metatile_scale,
                                            zoom_filter=zoom_filter,
                                            bbox_merc=bbox_merc)
                    cov = cov_z if cov is None else cov.unionByName(cov_z)
                return src0, cov
            src0 = (spark.sql(layer_sql) if layer_sql
                    else sources[layer.source])
            return src0, cover_metatiles(_prep(src0), zs, layer.buffer,
                                         metatile_scale,
                                         zoom_filter=zoom_filter,
                                         bbox_merc=bbox_merc)

        src, covered = _covered_for(layer_zooms)
        if metatile_keys is not None:
            covered = covered.join(F.broadcast(metatile_keys),
                                   on=["zoom", "mtx", "mty"],
                                   how="left_semi")
        pieces = geometry_stage(covered, layer.id, layer.buffer,
                                layers.global_maxzoom, metatile_scale)
        if tile_ranges is not None:
            pieces = pieces.filter(_zoom_xy_filter(
                {z: tile_ranges[z] for z in layer_zooms}, "x", "y"))
        if done_keys is not None:
            # resume anti-join (S11); AQE picks broadcast vs shuffle by size
            pieces = pieces.join(done_keys, on=["zoom", "x", "y"],
                                 how="left_anti")
        prop_types[layer.id] = dict(_prop_columns(
            src, exclude=("way", "feature_id")))
        per_layer.append(pieces
                         .withColumn("layer", F.lit(layer.id))
                         .withColumn("layer_order", F.lit(order)))

    if not per_layer:
        # no layer covers the requested zoom range: empty result with the
        # tiles schema (a one-zoom CLI loop must not crash at zooms no
        # layer serves)
        return spark.createDataFrame(
            [], "zoom int, x long, y long, tile binary, tile_md5 string")

    all_pieces = per_layer[0]
    for other in per_layer[1:]:
        all_pieces = all_pieces.unionByName(other, allowMissingColumns=True)

    parts_n = _python_stage_parts(spark, shuffle_parts)
    if fuse:
        tiles = encode_assemble_fused(all_pieces, prop_types,
                                      compress=compress,
                                      shuffle_parts=parts_n)
    else:
        partials = encode_layers(all_pieces, prop_types, salt_zoom_max,
                                 n_salts, shuffle_parts=parts_n)
        tiles = assemble_tiles(partials, compress=compress,
                               shuffle_parts=parts_n)

    if include_empty:
        full = None
        for z in zooms:
            drv = tile_driver(spark, z,
                              tile_ranges[z] if tile_ranges else None)
            full = drv if full is None else full.unionByName(drv)
        eb = {z: empty_tile_bytes(layers, z, compress) for z in zooms}
        empty_col = F.lit(bytearray(eb[zooms[0]]))
        for z in zooms[1:]:
            empty_col = F.when(F.col("zoom") == z,
                               F.lit(bytearray(eb[z]))).otherwise(empty_col)
        md5_col = F.lit(hashlib.md5(eb[zooms[0]]).hexdigest())
        for z in zooms[1:]:
            md5_col = F.when(F.col("zoom") == z,
                             F.lit(hashlib.md5(eb[z]).hexdigest())) \
                .otherwise(md5_col)
        empties = (full.join(tiles.select("zoom", "x", "y"),
                             on=["zoom", "x", "y"], how="left_anti")
                   .withColumn("tile", empty_col)
                   .withColumn("tile_md5", md5_col))
        if done_keys is not None:
            empties = empties.join(done_keys, on=["zoom", "x", "y"],
                                   how="left_anti")
        tiles = tiles.unionByName(empties)

    return tiles
