"""The SQL-template zoom-grouping rewrite (engine._covered_for) must be
invisible in the tiles: grouping zooms whose resolved source plans are
identical may change the union's branch structure but never a byte of
any tile (canonical encode order is partitioning- and branch-order-
independent). The ungrouped reference renders each zoom on its own, so
no two zooms can share a scan branch."""

from tileigi_spark.config import Layer, Layers
from tileigi_spark.engine import build_tiles
from tileigi_spark.fixtures import features_df


def _tiles_md5(spark, zoom_ranges, n_feats=40):
    feats = features_df(spark, n_feats)
    feats.createOrReplaceTempView("tgrp_feats")
    layers = Layers(layers=[
        Layer(id="base", source="tgrp_feats", minzoom=0, maxzoom=14,
              buffer=2,
              sql=("SELECT * FROM tgrp_feats "
                   "WHERE !zoom! >= 2 OR feature_id % 2 = 0")),
    ], global_maxzoom=14)
    out = []
    for z0, z1 in zoom_ranges:
        tiles = build_tiles(spark, {"tgrp_feats": feats}, layers, z0, z1)
        out.extend((r["zoom"], r["x"], r["y"], r["tile_md5"])
                   for r in tiles.collect())
    return sorted(out)


def test_template_zoom_grouping_byte_invariant(spark):
    grouped = _tiles_md5(spark, [(0, 3)])
    ungrouped = _tiles_md5(spark, [(z, z) for z in range(4)])
    assert grouped == ungrouped
    assert len(grouped) > 0
