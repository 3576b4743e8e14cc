"""Golden tile bytes for a concave/irregular-polygon layer: pins the
ragged geometry batch lane AND the ragged bulk MVT framer end-to-end
(the shapes no fixed-width fast path covers). Same contract as
test_golden_tiles.py — committed md5s, regenerate-on-first-run — plus a
parallelism determinism assertion."""

import json
import math
import os

import numpy as np
import pandas as pd
import pytest

from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles
from tileigi_spark.geom.wkb import geom_to_wkb
from tileigi_spark.mercator import MERC_MAX

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden",
                           "tiles_concave_z0_4.json")

LAYERS = Layers(layers=[
    Layer(id="areas", source="concave", minzoom=0, maxzoom=14, buffer=2),
], global_minzoom=0, global_maxzoom=14)


def _ring(cx, cy, base, k, wob_seed, rev=False):
    pts = []
    for j in range(k):
        ang = 2 * math.pi * j / k
        r = base * (0.4 + 0.6 * ((wob_seed * 31 + j * 17) % 97) / 97.0)
        pts.append((cx + r * math.cos(ang), cy + r * math.sin(ang)))
    if rev:
        pts = pts[::-1]
    pts.append(pts[0])
    return pts


def concave_df(spark, n=300):
    span = 0.9 * MERC_MAX
    rows = []
    for i in range(n):
        cx = ((i * 2654435761) % 2_000_000) / 1e6 * span - span
        cy = ((i * 69069) % 2_000_000) / 1e6 * span - span
        base = 120_000.0 * (1 + i % 7)
        k = 5 + i % 13
        if i % 5 == 4:
            geom = ("Polygon", [_ring(cx, cy, base, k, i),
                                _ring(cx, cy, base / 4, 5, i + 3,
                                      rev=True)])
        elif i % 5 == 3:
            geom = ("MultiPolygon",
                    [[_ring(cx, cy, base / 2, k, i)],
                     [_ring(cx + 1.5 * base, cy, base / 3, 6, i + 1)]])
        else:
            geom = ("Polygon", [_ring(cx, cy, base, k, i,
                                      rev=bool(i % 3 == 0))])
        rows.append((i, geom_to_wkb(geom), f"a-{i % 11}",
                     (i * 37) % 500))
    pdf = pd.DataFrame(rows, columns=["feature_id", "way", "kind", "rank"])
    return spark.createDataFrame(pdf)


def _build_md5s(spark, n_parts, n_exchanges, hash_exchanges):
    feats = concave_df(spark).repartition(n_parts)
    tiles = build_tiles(spark, {"concave": feats}, LAYERS, 0, 4)
    assert hash_exchanges(tiles) == n_exchanges
    return {f"{r['zoom']}/{r['x']}/{r['y']}": r["tile_md5"]
            for r in tiles.collect()}


def _check_golden(got):
    if not os.path.exists(GOLDEN_PATH):
        os.makedirs(os.path.dirname(GOLDEN_PATH), exist_ok=True)
        with open(GOLDEN_PATH, "w") as f:
            json.dump(got, f, indent=0, sort_keys=True)
        pytest.skip("golden file generated; rerun to verify")
    with open(GOLDEN_PATH) as f:
        golden = json.load(f)
    assert got == golden, (
        "concave tile bytes changed vs committed golden — if intentional, "
        f"delete {GOLDEN_PATH} and rerun to regenerate")


def test_golden_concave_tiles(spark, hash_exchanges):
    got = _build_md5s(spark, 3, 1, hash_exchanges)
    assert len(got) > 50  # the layer must actually cover the pyramid
    assert got == _build_md5s(spark, 9, 1, hash_exchanges), \
        "bytes depend on parallelism"
    _check_golden(got)
