"""Golden tile bytes (FIXTURES.md §5): md5s of a fixed set of tiles over
the deterministic fixture, pinned to a committed golden file. Catches any
unintended semantic change in the geometry core or encoder; determinism
across parallelism is asserted separately (test_engine_e2e)."""

import json
import os

import pytest

from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles
from tileigi_spark.fixtures import features_df

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "golden",
                           "tiles_z0_4.json")

LAYERS = Layers(layers=[
    Layer(id="base", source="features", minzoom=0, maxzoom=14, buffer=2),
    Layer(id="low", source="features", minzoom=0, maxzoom=3, buffer=0),
], global_minzoom=0, global_maxzoom=14)


def _build_md5s(spark, feats, n_exchanges, hash_exchanges):
    tiles = build_tiles(spark, {"features": feats}, LAYERS, 0, 4)
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
        "tile bytes changed vs committed golden — if intentional, delete "
        f"{GOLDEN_PATH} and rerun to regenerate")


def test_golden_tiles(spark, known_size, hash_exchanges):
    """The fused render: the fixture, of known size, is estimated under
    the split bound (advisory size / 16)."""
    _check_golden(_build_md5s(spark, known_size(features_df(spark, 120)),
                              1, hash_exchanges))


def test_golden_tiles_split(spark, forced_split, hash_exchanges):
    """The split render (salted exchange + assemble_tiles) gives the
    same bytes."""
    with forced_split():
        got = _build_md5s(spark, features_df(spark, 120), 2, hash_exchanges)
    _check_golden(got)


# --------------------------------------------------- multi-layer golden

GOLDEN_ML_PATH = os.path.join(os.path.dirname(__file__), "golden",
                              "tiles_multilayer_z0_4.json")

# 3 layers over distinct zoom ranges with one SQL-template source
# (!zoom! token): the per-tile layer zip (A2, lib.rs:472-487) must merge
# partial layer messages in config order and stay byte-deterministic.
ML_LAYERS = Layers(layers=[
    Layer(id="pts", source="features", minzoom=2, maxzoom=14, buffer=2),
    Layer(id="mid", source="features", minzoom=1, maxzoom=3, buffer=4,
          sql=("SELECT * FROM features "
               "WHERE !zoom! >= 3 OR admin_level <= 5")),
    Layer(id="low", source="features", minzoom=0, maxzoom=2, buffer=0),
], global_minzoom=0, global_maxzoom=14)


def _build_ml(spark, feats, n_parts, n_exchanges, hash_exchanges):
    tiles = build_tiles(spark, {"features": feats.repartition(n_parts)},
                        ML_LAYERS, 0, 4)
    assert hash_exchanges(tiles) == n_exchanges
    return {f"{r['zoom']}/{r['x']}/{r['y']}": r["tile_md5"]
            for r in tiles.collect()}


def _check_golden_ml(got):
    if not os.path.exists(GOLDEN_ML_PATH):
        with open(GOLDEN_ML_PATH, "w") as f:
            json.dump(got, f, indent=0, sort_keys=True)
        pytest.skip("multilayer golden generated; rerun to verify")
    with open(GOLDEN_ML_PATH) as f:
        golden = json.load(f)
    assert got == golden, (
        "multilayer tile bytes changed vs committed golden — if "
        f"intentional, delete {GOLDEN_ML_PATH} and rerun to regenerate")


def test_golden_multilayer(spark, known_size, hash_exchanges):
    """The fused render, at two partitionings."""
    feats = known_size(features_df(spark, 90))
    got = _build_ml(spark, feats, 1, 1, hash_exchanges)
    # byte parity across partitionings (A2 merge order independence)
    assert got == _build_ml(spark, feats, 11, 1, hash_exchanges)
    _check_golden_ml(got)


def test_golden_multilayer_split(spark, forced_split, hash_exchanges):
    """The split render, at two partitionings: each layer's salted
    partials merge to the fused bytes."""
    feats = features_df(spark, 90)
    with forced_split():
        got = _build_ml(spark, feats, 1, 2, hash_exchanges)
        assert got == _build_ml(spark, feats, 11, 2, hash_exchanges)
    _check_golden_ml(got)
