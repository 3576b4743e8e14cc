"""End-to-end engine tests: pyramid build, determinism across partitioning,
invariants from FIXTURES.md §6."""

import gzip

import pytest

from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles, empty_tile_bytes, tile_driver
from tileigi_spark.fixtures import features_df
from tileigi_spark.geom import mvt


LAYERS = Layers(layers=[
    Layer(id="base", source="features", minzoom=0, maxzoom=14, buffer=2),
    Layer(id="low", source="features", minzoom=0, maxzoom=3, buffer=0),
], global_minzoom=0, global_maxzoom=14)


@pytest.fixture(scope="module")
def feats(spark):
    df = features_df(spark, 120)
    df.cache().count()
    return df


def _build(spark, feats, minz, maxz, n_parts):
    tiles = build_tiles(spark, {"features": feats.repartition(n_parts)},
                        LAYERS, minz, maxz)
    return {(r["zoom"], r["x"], r["y"]): (r["tile_md5"], bytes(r["tile"]))
            for r in tiles.collect()}


def test_pyramid_and_determinism(spark, feats):
    a = _build(spark, feats, 0, 4, 1)
    b = _build(spark, feats, 0, 4, 13)
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == b[k], f"tile bytes differ at {k}"
    # z0 must exist and contain both layers
    assert (0, 0, 0) in a
    raw = gzip.decompress(a[(0, 0, 0)][1])
    names = []
    from tileigi_spark.geom.mvt import _iter_fields, decode_layer
    for field, payload in _iter_fields(raw):
        assert field == 3
        names.append(decode_layer(payload)["name"])
    assert names == ["base", "low"]


def test_layer_zoom_filter(spark, feats):
    tiles = _build(spark, feats, 4, 4, 4)
    # layer "low" has maxzoom 3 -> z4 tiles contain only "base"
    from tileigi_spark.geom.mvt import _iter_fields, decode_layer
    k = next(iter(tiles))
    raw = gzip.decompress(tiles[k][1])
    names = [decode_layer(p)["name"] for _, p in _iter_fields(raw)]
    assert names == ["base"]


def test_feature_geometry_invariants(spark, feats):
    """Decoded tile geometries stay within the buffered extent and rings
    are closed with >=4 points (FIXTURES.md §6)."""
    tiles = _build(spark, feats, 3, 3, 4)
    from tileigi_spark.geom.mvt import _iter_fields, decode_layer, _read_varint

    def decode_geom(geom_bytes):
        coords = []
        pos = 0
        cx = cy = 0
        while pos < len(geom_bytes):
            cmd, pos = _read_varint(geom_bytes, pos)
            cid, cnt = cmd & 7, cmd >> 3
            if cid in (1, 2):
                for _ in range(cnt):
                    dx, pos = _read_varint(geom_bytes, pos)
                    dy, pos = _read_varint(geom_bytes, pos)
                    cx += (dx >> 1) ^ -(dx & 1)
                    cy += (dy >> 1) ^ -(dy & 1)
                    coords.append((cx, cy))
        return coords

    buffer_units = 2 * 16
    lo, hi = -buffer_units, 4096 + buffer_units
    count = 0
    for (z, x, y), (_, tb) in tiles.items():
        raw = gzip.decompress(tb)
        for _, payload in _iter_fields(raw):
            lay = decode_layer(payload)
            for ftype, tags, geom, fid in lay["features"]:
                for (cx, cy) in decode_geom(geom):
                    assert lo <= cx <= hi and lo <= cy <= hi, \
                        f"coord ({cx},{cy}) outside buffered extent on " \
                        f"z{z}/{x}/{y}"
                    count += 1
    assert count > 0


def test_empty_tile_and_driver(spark):
    eb = empty_tile_bytes(LAYERS, 2)
    assert gzip.decompress(eb)  # two empty layer shells
    drv = tile_driver(spark, 2)
    assert drv.count() == 16
    rows = {(r["x"], r["y"]) for r in drv.collect()}
    assert (0, 0) in rows and (3, 3) in rows


def test_include_empty_full_pyramid(spark, feats):
    tiles = build_tiles(spark, {"features": feats}, LAYERS, 0, 2,
                        include_empty=True)
    counts = {r["zoom"]: r["count"]
              for r in tiles.groupBy("zoom").count().collect()}
    assert counts == {0: 1, 1: 4, 2: 16}


def test_resume_anti_join(spark, feats):
    full = _build(spark, feats, 2, 2, 4)
    done = spark.createDataFrame(
        [(2, x, y) for (z, x, y) in list(full)[:2]],
        "zoom int, x long, y long")
    resumed = build_tiles(spark, {"features": feats}, LAYERS, 2, 2,
                          done_keys=done)
    keys = {(r["zoom"], r["x"], r["y"]) for r in resumed.collect()}
    assert keys == set(full) - set(list(full)[:2])


def test_single_metatile_matches_full_build(spark):
    """Entry point 2 (lib.rs:464): one metatile's tiles are byte-identical
    to the same keys from a full-pyramid build."""
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.engine import build_tiles, single_metatile
    from tileigi_spark.fixtures import features_df

    feats = features_df(spark, 40)
    layers = Layers(layers=[Layer(id="base", source="feats", buffer=2)],
                    global_maxzoom=14)
    full = {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
            for r in build_tiles(spark, {"feats": feats}, layers, 4, 4)
            .collect()}
    # z4 metatile (0, 1): tiles x 0-7, y 8-15
    one = {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
           for r in single_metatile(spark, {"feats": feats}, layers,
                                    4, 0, 1).collect()}
    assert one, "metatile must contain tiles"
    assert all(0 <= x <= 7 and 8 <= y <= 15 for _, x, y in one)
    expected = {k: v for k, v in full.items()
                if 0 <= k[1] <= 7 and 8 <= k[2] <= 15}
    assert one == expected


def test_shuffle_parts_byte_invariant(spark, feats):
    """Explicit wave-packed exchange partitioning (shuffle_parts) must
    not change a single tile byte vs the default AQE-coalesced plan —
    canonical (salt, layer_order, feature_id) sort order makes the
    encode partitioning-independent."""
    base = _build(spark, feats, 0, 2, 4)
    packed = build_tiles(spark, {"features": feats}, LAYERS, 0, 2,
                         shuffle_parts=37)
    got = {(r["zoom"], r["x"], r["y"]): (r["tile_md5"], bytes(r["tile"]))
           for r in packed.collect()}
    assert got == base


def test_fused_encode_matches_two_shuffle(spark, feats):
    """build_tiles takes the one-shuffle encode_assemble_fused whenever
    minzoom > salt_zoom_max. On salt-free (z >= 5) pieces it must give
    exactly the tiles of the salted two-shuffle path,
    assemble_tiles(encode_layers(pieces))."""
    from pyspark.sql import functions as F
    from tileigi_spark.engine import (_prop_columns, assemble_tiles,
                                      cover_metatiles, encode_assemble_fused,
                                      encode_layers, geometry_stage,
                                      with_bbox)

    src = with_bbox(feats)
    per_layer, prop_types = [], {}
    for order, (layer_id, buffer) in enumerate((("base", 2), ("tight", 0))):
        pieces = geometry_stage(cover_metatiles(src, [5, 6], buffer),
                                layer_id, buffer, 14)
        per_layer.append(pieces.withColumn("layer", F.lit(layer_id))
                         .withColumn("layer_order", F.lit(order)))
        prop_types[layer_id] = dict(_prop_columns(feats))
    pieces = per_layer[0].unionByName(per_layer[1])

    def tiles(df):
        return sorted((r["zoom"], r["x"], r["y"], r["tile_md5"])
                      for r in df.collect())

    fused = tiles(encode_assemble_fused(pieces, prop_types))
    assert fused and {z for z, _, _, _ in fused} == {5, 6}
    assert fused == tiles(assemble_tiles(encode_layers(pieces, prop_types)))


@pytest.mark.parametrize("name", ["zoom", "mtx", "mty", "x", "y", "geom",
                                  "salt", "layer", "layer_order"])
def test_reserved_source_column_fails_by_name(spark, name):
    """A source or SQL-layer column named like one of the plan's keys
    would be silently replaced (`layer = 'road'` was written as `base`,
    `zoom = 99` as 0): build_tiles refuses it by name."""
    from pyspark.sql import functions as F

    feats = features_df(spark, 6)
    one = Layers(layers=[Layer(id="base", source="features", minzoom=0,
                               maxzoom=2, buffer=2)], global_maxzoom=14)
    with pytest.raises(ValueError, match=rf"source columns \['{name}'\]"):
        build_tiles(spark, {"features": feats.withColumn(name, F.lit(99))},
                    one, 0, 0)
    sql = Layers(layers=[Layer(id="base", source="features", minzoom=0,
                               maxzoom=2, buffer=2,
                               sql=f"SELECT *, 'road' AS {name} "
                                   "FROM features")], global_maxzoom=14)
    with pytest.raises(ValueError, match=rf"source columns \['{name}'\]"):
        build_tiles(spark, {"features": feats}, sql, 0, 0)
