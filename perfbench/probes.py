"""Offline kernel probes: the engine's per-batch functions called
directly on pandas batches cut from a traced iteration's own
materialized layer outputs, with no Spark in the timed call.

* geometry lanes: `_points_fast_path`, `_rects_fast_path` and
  `geom.batch.process_general` on the cover output of each layer;
* encode tiers: `_make_encode_run` on batches of one piece shape each
  (point, ring4, line, ragged);
* assemble: `_make_assemble_run` on the partials the encode walk made
  from a whole-tile sample of all pieces;
* extract: `extract.extract_batch` on the staged page text.

Samples are capped so the probes stay a few seconds per workload; times
are medians of REPS calls.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from tileigi_spark import engine, extract
from tileigi_spark.geom import batch

REPS = 3
CAP = {"points": 20000, "rect": 8000, "ragged": 1500}
ENCODE_CAP = 20000
GLOBAL_MAXZOOM = 14
METATILE = 8
BBOX_COLS = ("xmin", "ymin", "xmax", "ymax")


def _timed(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _stride(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    step = max(1, -(-len(pdf) // cap))
    return pdf.iloc[::step].reset_index(drop=True)


def _tile_sample(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    """Whole tiles, chosen by a hash of (zoom, x, y), until ~cap rows:
    keeps each tile's group intact so per-group costs stay realistic."""
    k = -(-len(pdf) // cap)
    if k <= 1:
        return pdf
    key = ((pdf["zoom"].to_numpy(np.uint64) * np.uint64(1_000_003)
            + pdf["x"].to_numpy(np.uint64)) * np.uint64(1_000_033)
           + pdf["y"].to_numpy(np.uint64))
    h = (key * np.uint64(2654435761)) >> np.uint64(7)
    return pdf[(h % np.uint64(k)) == 0].reset_index(drop=True)


def layer_inputs(spans) -> list[dict]:
    """Per geometry span of a traced iteration: its layer, buffer, the
    cover outputs that fed it and the pieces it wrote. build_tiles covers
    a layer's zoom groups and then runs its geometry stage, so each
    geometry span takes the cover spans finished since the previous one."""
    out, covers = [], []
    for s in sorted(spans, key=lambda s: s.start):
        if s.name == "engine.cover":
            covers.append(s.path)
        elif s.name == "engine.geometry":
            out.append({"layer": s.args["layer"],
                        "buffer": s.args["buffer"],
                        "covers": covers, "pieces": s.path})
            covers = []
    return out


def geometry_lanes(layers: list[dict]) -> dict:
    """µs per feature of each geometry lane and its share of the
    covered features."""
    n = dict.fromkeys(CAP, 0)
    secs = dict.fromkeys(CAP, 0.0)
    probed = dict.fromkeys(CAP, 0)
    for lay in layers:
        buffer_units = lay["buffer"] * 16
        for path in lay["covers"]:
            pdf = pq.read_table(path).to_pandas()
            pdf = pdf.drop(columns=[c for c in BBOX_COLS if c in pdf])
            props = [c for c in pdf.columns
                     if c not in ("way", "feature_id", "zoom", "mtx", "mty")]
            is_pt = pdf["way"].map(engine._is_simple_point_wkb).to_numpy(bool)
            rest = pdf[~is_pt]
            is_r5 = rest["way"].map(engine._is_ring5_polygon_wkb) \
                .to_numpy(bool)
            lanes = {"points": pdf[is_pt], "rect": rest[is_r5],
                     "ragged": rest[~is_r5]}
            if len(lanes["rect"]):
                # the rect lane hands non-rect ring5 polygons on to the
                # ragged lane; count those where they are processed
                _, left = engine._rects_fast_path(
                    lanes["rect"], props, buffer_units, METATILE,
                    GLOBAL_MAXZOOM)
                if len(left):
                    lanes["ragged"] = pd.concat([lanes["ragged"], left])
                    lanes["rect"] = lanes["rect"].drop(left.index)
            calls = {
                "points": lambda s: engine._points_fast_path(
                    s, props, buffer_units, METATILE),
                "rect": lambda s: engine._rects_fast_path(
                    s, props, buffer_units, METATILE, GLOBAL_MAXZOOM),
                "ragged": lambda s: batch.process_general(
                    s, props, buffer_units, METATILE, GLOBAL_MAXZOOM, 8),
            }
            for lane, frame in lanes.items():
                n[lane] += len(frame)
                if not len(frame):
                    continue
                sample = _stride(frame.reset_index(drop=True), CAP[lane])
                secs[lane] += _timed(lambda: calls[lane](sample))
                probed[lane] += len(sample)
    total = max(1, sum(n.values()))
    out = {}
    for lane in CAP:
        out[f"engine.geometry.{lane}.us_per_feature"] = (
            1e6 * secs[lane] / probed[lane] if probed[lane] else 0.0)
        out[f"engine.geometry.{lane}.share"] = n[lane] / total
    return out


def _encode_input(spark, layers: list[dict], order: dict[str, int]):
    """The encode walk's input: every layer's pieces with layer,
    layer_order and salt (zoom <= 4 salts by feature_id mod 16, as
    encode_layers does), plus the prop_types build_tiles passes."""
    frames, prop_types = [], {}
    for lay in layers:
        df = spark.read.parquet(lay["pieces"])
        prop_types[lay["layer"]] = dict(engine._prop_columns(
            df, exclude=("zoom", "x", "y", "feature_id", "geom")))
        pdf = pq.read_table(lay["pieces"]).to_pandas()
        pdf["layer"] = lay["layer"]
        pdf["layer_order"] = order[lay["layer"]]
        frames.append(pdf)
    pieces = pd.concat(frames, ignore_index=True)
    fid = pieces["feature_id"].to_numpy(np.int64)
    pieces["salt"] = np.where(pieces["zoom"].to_numpy() <= 4,
                              np.mod(fid, 16), 0).astype(np.int32)
    return pieces, prop_types


def _shape(geoms) -> np.ndarray:
    """Encode tier of each piece: point, ring4, line, ragged or other."""
    def one(g):
        if engine._is_simple_point_wkb(g):
            return "point"
        if engine._is_ring5_geom_wkb(g):
            return "ring4"
        if engine._is_short_line_wkb(g):
            return "line"
        if len(g) >= 9 and g[0] == 1 and g[1] in (2, 3, 5, 6) \
                and g[2:5] == b"\0\0\0":
            return "ragged"
        return "other"
    return np.array([one(g) for g in geoms])


def encode_assemble(spark, layers: list[dict], order: dict[str, int]) -> dict:
    """µs per piece of each encode tier, and the assemble walk's µs per
    tile and partials per tile on a whole-tile sample."""
    out = {f"engine.encode.{t}.us_per_piece": 0.0
           for t in ("point", "ring4", "line", "ragged")}
    pieces, prop_types = _encode_input(spark, layers, order)
    all_props = sorted({p for d in prop_types.values() for p in d})
    enc_keys = ["zoom", "x", "y", "salt", "layer_order", "feature_id"]
    shapes = _shape(pieces["geom"].to_numpy())

    def encode(pdf):
        return list(engine._make_encode_run(prop_types, all_props)([pdf]))

    for tier in ("point", "ring4", "line", "ragged"):
        sel = pieces[shapes == tier]
        if not len(sel):
            continue
        sample = _tile_sample(sel, ENCODE_CAP).sort_values(enc_keys) \
            .reset_index(drop=True)
        out[f"engine.encode.{tier}.us_per_piece"] = (
            1e6 * _timed(lambda: encode(sample)) / len(sample))

    sample = _tile_sample(pieces, ENCODE_CAP).sort_values(enc_keys) \
        .reset_index(drop=True)
    partials = pd.concat(encode(sample), ignore_index=True).sort_values(
        ["zoom", "x", "y", "layer_order", "layer", "salt"]) \
        .reset_index(drop=True)
    assemble = engine._make_assemble_run(True)
    tiles = pd.concat(list(assemble([partials])), ignore_index=True)
    secs = _timed(lambda: list(assemble([partials])))
    out["engine.assemble.us_per_tile"] = 1e6 * secs / len(tiles)
    out["engine.assemble.partials_per_tile"] = len(partials) / len(tiles)
    return out


def extract_pages(pages_path: str, cap: int = 20000) -> float:
    """µs per page of extract_batch on the staged page text."""
    texts = pq.read_table(pages_path, columns=["text"]) \
        .slice(0, cap).to_pandas()["text"]
    return 1e6 * _timed(lambda: extract.extract_batch(texts)) / len(texts)
