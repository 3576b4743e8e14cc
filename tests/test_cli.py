"""CLI end-to-end: config file -> sources -> TileStore -> resume ->
MBTiles/TileJSON export (entry point 1, bin/tileigi.rs:21-135), plus
bbox-restricted and tile-list-restricted rendering."""

import json
import sqlite3

import pytest

from tileigi_spark.cli import main as cli_main
from tileigi_spark.fixtures import features_df


def test_cli_end_to_end(spark, tmp_path):
    src = str(tmp_path / "features")
    features_df(spark, 60).write.parquet(src)

    cfg = tmp_path / "layers.yml"
    cfg.write_text("""
minzoom: 0
maxzoom: 14
name: cli-test
Layer:
  - id: base
    properties: {minzoom: 0, maxzoom: 14, buffer-size: 2}
    Datasource: {table: feats}
""")
    dest = str(tmp_path / "store")
    mb = str(tmp_path / "out.mbtiles")
    tj = str(tmp_path / "metadata.json")

    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest, "--minzoom", "0", "--maxzoom", "2",
              "--mbtiles", mb, "--tilejson", tj])

    from tileigi_spark.io import TileStore
    store = TileStore(dest)
    tiles = store.read_tiles(spark)
    n1 = tiles.count()
    assert n1 > 0
    done = store.done_keys(spark)
    assert done.count() == n1

    con = sqlite3.connect(mb)
    assert con.execute("select count(*) from map").fetchone()[0] == n1
    meta = dict(con.execute("select name, value from metadata").fetchall())
    assert meta["format"] == "pbf"

    doc = json.loads((tmp_path / "metadata.json").read_text())
    assert doc["vector_layers"][0]["id"] == "base"

    # resume: rerun with --if-not-exists adds nothing
    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest, "--minzoom", "0", "--maxzoom", "2",
              "--if-not-exists"])
    assert store.read_tiles(spark).count() == n1
    assert store.done_keys(spark).count() == n1

    # TileJSON fields derive from the source schema (lib.rs:424-458)
    fields = doc["vector_layers"][0]["fields"]
    assert fields, "fields must not be empty when sources are known"
    assert all(v in ("Number", "String", "Boolean") for v in fields.values())


def test_cli_tilejson_fields_match_tile_tags(spark, tmp_path):
    """TileJSON lists, per layer, exactly the properties its tiles carry:
    a source's precomputed bbox columns feed the cover and are not
    fields, and a SQL layer's fields come from its query."""
    from tileigi_spark.engine import with_bbox
    from tileigi_spark.geom import mvt
    from tileigi_spark.io import TileStore

    src = str(tmp_path / "features")
    with_bbox(features_df(spark, 60)).write.parquet(src)
    cfg = tmp_path / "layers.yml"
    cfg.write_text(_CFG + """
  - id: labels
    properties: {minzoom: 0, maxzoom: 14, buffer-size: 2}
    Datasource:
      table: "(SELECT feature_id, way, name AS label, population FROM feats) AS data"
""")
    dest, tj = str(tmp_path / "store"), tmp_path / "metadata.json"
    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest, "--minzoom", "0", "--maxzoom", "1",
              "--no-compress", "--tilejson", str(tj)])

    fields = {layer["id"]: set(layer["fields"]) for layer in
              json.loads(tj.read_text())["vector_layers"]}
    keys = {}
    for r in TileStore(dest).read_tiles(spark).collect():
        for layer in mvt.decode_tile(bytes(r["tile"])):
            keys.setdefault(layer["name"], set()).update(layer["keys"])
    assert fields == keys
    assert fields["labels"] == {"label", "population"}
    assert not fields["base"] & {"xmin", "ymin", "xmax", "ymax"}


_CFG = """
minzoom: 0
maxzoom: 14
name: cli-test
Layer:
  - id: base
    properties: {minzoom: 0, maxzoom: 14, buffer-size: 2}
    Datasource: {table: feats}
"""


def _write_inputs(spark, tmp_path):
    src = str(tmp_path / "features")
    features_df(spark, 60).write.parquet(src)
    cfg = tmp_path / "layers.yml"
    cfg.write_text(_CFG)
    return src, cfg


def test_cli_bbox_restricts_tiles(spark, tmp_path):
    """--bbox renders only tiles intersecting it (bin/tileigi.rs:110-126);
    tiles outside the bbox must be absent."""
    from tileigi_spark.io import TileStore
    from tileigi_spark.mercator import bbox_lonlat_to_merc, bbox_tile_range

    src, cfg = _write_inputs(spark, tmp_path)
    bbox = (-20.0, -65.0, 20.0, -55.0)  # fixture features sit at lat -60
    dest = str(tmp_path / "store_bbox")
    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest, "--minzoom", "0", "--maxzoom", "3",
              "--bbox=" + ",".join(str(v) for v in bbox)])

    got = {(r["zoom"], r["x"], r["y"]) for r in
           TileStore(dest).read_tiles(spark).collect()}
    assert got, "bbox over the feature band must produce tiles"
    merc = bbox_lonlat_to_merc(bbox)
    for z, x, y in got:
        x0, y0, x1, y1 = bbox_tile_range(merc, z)
        assert x0 <= x <= x1 and y0 <= y <= y1, (z, x, y)

    # the unrestricted run emits tiles outside the bbox at z3
    dest_full = str(tmp_path / "store_full")
    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest_full, "--minzoom", "3", "--maxzoom", "3"])
    full = {(r["zoom"], r["x"], r["y"]) for r in
            TileStore(dest_full).read_tiles(spark).collect()}
    x0, y0, x1, y1 = bbox_tile_range(merc, 3)
    assert any(not (x0 <= x <= x1 and y0 <= y <= y1) for _, x, y in full)


def test_cli_bbox_invalid_is_an_error(spark, tmp_path):
    src, cfg = _write_inputs(spark, tmp_path)
    for bad in ("junk", "1,2,3", "10,0,-10,20", "0,91,10,95"):
        with pytest.raises(SystemExit):
            cli_main(["--config", str(cfg), "--source", f"feats={src}",
                      "--dest", str(tmp_path / "s"), "--bbox", bad])


def test_cli_tile_list(spark, tmp_path, capsys):
    """--tile-list renders exactly the listed metatiles
    (bin/tileigi.rs:80-84: one 'SCALE Z/X/Y' metatile per line), and the
    run prints one progress line per zoom batch to stderr."""
    import logging

    from tileigi_spark.io import TileStore

    src, cfg = _write_inputs(spark, tmp_path)
    listing = tmp_path / "tiles.list"
    # z4 metatile with top-left tile (0, 8): tiles x 0-7, y 8-15 — the
    # fixture lat -60 band lands at y>=8 in the west half
    listing.write_text("8 4/0/8\n")
    dest = str(tmp_path / "store_list")
    cli_main(["--config", str(cfg), "--source", f"feats={src}",
              "--dest", dest, "--tile-list", str(listing)])

    got = {(r["zoom"], r["x"], r["y"]) for r in
           TileStore(dest).read_tiles(spark).collect()}
    assert got, "listed metatile must produce tiles"
    assert all(z == 4 and 0 <= x <= 7 and 8 <= y <= 15 for z, x, y in got)
    err = capsys.readouterr().err
    assert f"pyramid z4: {len(got)} tiles in " in err, err
    # the stderr handler lives for the run only
    assert not logging.getLogger("tileigi_spark").handlers

    # malformed lines and scale mismatches are hard errors
    bad = tmp_path / "bad.list"
    bad.write_text("8 4-0-8\n")
    with pytest.raises(SystemExit):
        cli_main(["--config", str(cfg), "--source", f"feats={src}",
                  "--dest", dest, "--tile-list", str(bad)])
    mismatched = tmp_path / "mismatch.list"
    mismatched.write_text("4 4/0/8\n")
    with pytest.raises(SystemExit):
        cli_main(["--config", str(cfg), "--source", f"feats={src}",
                  "--dest", dest, "--tile-list", str(mismatched)])


def test_looks_like_sql_anchored():
    """Only a leading '(' or SELECT keyword is SQL; table names that merely
    CONTAIN 'select' or a space are tables (the substring heuristic routed
    'selected_pages' through the temp-view SQL path)."""
    from tileigi_spark.config import looks_like_sql

    assert looks_like_sql("( SELECT * FROM water ) AS data")
    assert looks_like_sql("SELECT way FROM roads")
    assert looks_like_sql("  select 1")
    assert not looks_like_sql("selected_pages")
    assert not looks_like_sql("page_selection")
    assert not looks_like_sql("my table")  # odd name, still not a query
