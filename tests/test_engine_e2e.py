"""End-to-end engine tests: pyramid build, determinism across partitioning,
invariants from FIXTURES.md §6."""

import contextlib
import gzip
import hashlib

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


def test_include_empty_renders_once(spark, feats, tmp_path, forced_split):
    """include_empty left-joins the tile keys to the one render: a
    salt-free two-zoom range and a small mixed one keep their one render
    MapInPandas, a mixed range on the split plan its render and assemble
    pair, with a bbox and done keys too; the empties fill exactly the
    keys the render left out."""
    from tileigi_spark.engine import with_bbox

    path = str(tmp_path / "feats")
    with_bbox(feats).write.parquet(path)
    src = {"features": spark.read.parquet(path)}
    done = spark.createDataFrame([(5, 0, 0), (6, 1, 1)],
                                 "zoom int, x long, y long")
    for minz, maxz, split, n_py in ((5, 6, False, 1), (3, 6, False, 1),
                                    (5, 6, True, 1), (3, 6, True, 2)):
        with forced_split() if split else contextlib.nullcontext():
            tiles = build_tiles(spark, src, LAYERS, minz, maxz,
                                shuffle_parts=8, include_empty=True,
                                done_keys=done,
                                bbox=(-20.0, -62.0, 0.0, -58.0))
        _, got, _ = _plan_shape(tiles)
        assert got == n_py, (minz, maxz, split)
    rendered = {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
                for r in build_tiles(spark, src, LAYERS, 3, 4).collect()}
    full = {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
            for r in build_tiles(spark, src, LAYERS, 3, 4,
                                 include_empty=True).collect()}
    assert len(full) == 64 + 256 and rendered.keys() <= full.keys()
    empty = {z: hashlib.md5(empty_tile_bytes(LAYERS, z)).hexdigest()
             for z in (3, 4)}
    for k, md5 in full.items():
        assert md5 == rendered.get(k, empty[k[0]]), k


def test_include_empty_stays_inside_the_listed_metatile(spark, feats):
    """With metatile_keys, include_empty returns exactly the listed
    metatile's tiles: the rendered ones byte for byte, empties for the
    rest, and nothing outside it."""
    from tileigi_spark.engine import metatile_keys, single_metatile

    keys = metatile_keys(spark, 5, [(1, 2)])
    got = {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
           for r in build_tiles(spark, {"features": feats}, LAYERS, 5, 5,
                                include_empty=True,
                                metatile_keys=keys).collect()}
    assert set(got) == {(5, x, y) for x in range(8, 16) for y in range(16, 24)}
    one = {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
           for r in single_metatile(spark, {"features": feats}, LAYERS,
                                    5, 1, 2).collect()}
    assert one and {k: got[k] for k in one} == one
    assert {v for k, v in got.items() if k not in one} == \
        {empty_tile_bytes(LAYERS, 5)}


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


def test_metatile_keys_are_a_local_relation(spark):
    """single_metatile's key row and the CLI's --tile-list keys reach the
    JVM as a LocalRelation (no Python worker unpickles them), typed as
    build_tiles' metatile_keys expects."""
    from tileigi_spark.engine import metatile_keys

    keys = metatile_keys(spark, 4, [(0, 1), (3, 2)])
    assert keys.schema.simpleString() == \
        "struct<zoom:int,mtx:bigint,mty:bigint>"
    plan = str(keys._jdf.queryExecution().optimizedPlan())
    assert plan.startswith("LocalRelation") and "LogicalRDD" not in plan, \
        plan
    assert [tuple(r) for r in keys.collect()] == [(4, 0, 1), (4, 3, 2)]
    assert metatile_keys(spark, 4, []).count() == 0


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
    minzoom > _SALT_ZOOM_MAX. On salt-free (z >= 5) pieces it must give
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


def test_partial_bbox_columns_fail_by_name(spark):
    """A source with some but not all of the bbox columns would get a
    second column of the same name from with_bbox (the plan then failed
    with an ambiguous reference): build_tiles refuses it by name."""
    from pyspark.sql import functions as F

    one = Layers(layers=[Layer(id="base", source="features", minzoom=0,
                               maxzoom=2, buffer=2)], global_maxzoom=14)
    feats = features_df(spark, 6).withColumn("xmin", F.lit(1.5))
    with pytest.raises(ValueError,
                       match=r"source columns \['xmin'\] are a partial bbox"):
        build_tiles(spark, {"features": feats}, one, 0, 0)


@pytest.fixture(scope="module")
def resume_src(spark, feats):
    """The fixture with a long property past 2^53, so a done-marker row
    that turned the column into float64 would change its bytes."""
    from pyspark.sql import functions as F

    return feats.withColumn("big", F.col("population") + F.lit((1 << 60) + 1))


@pytest.fixture(scope="module")
def full_z0_6(spark, resume_src):
    tiles = build_tiles(spark, {"features": resume_src}, LAYERS, 0, 6)
    return {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
            for r in tiles.collect()}


def _cut_polygon_bbox(feats):
    """A lon/lat bbox whose east edge runs through the middle of the
    fixture's widest polygon."""
    from tileigi_spark.geom.wkb import wkb_to_geom
    from tileigi_spark.mercator import merc_to_lonlat

    best = None
    for r in feats.select("way").collect():
        typ, data = wkb_to_geom(bytes(r["way"]))
        if typ != "Polygon":
            continue
        xs = [x for x, _ in data[0]]
        ys = [y for _, y in data[0]]
        if best is None or max(xs) - min(xs) > best[2] - best[0]:
            best = (min(xs), min(ys), max(xs), max(ys))
    x0, y0, x1, y1 = best
    lon0, lat0 = merc_to_lonlat(x0, y0)
    lon1, lat1 = merc_to_lonlat((x0 + x1) / 2, y1)
    return (float(lon0), float(lat0), float(lon1), float(lat1))


def _resume_and_bbox_match(spark, resume_src, full_z0_6, seed, plan,
                            n_exchanges, hash_exchanges):
    """The resume and bbox renders of a seed's done set, built under
    `plan` (a context manager) with n_exchanges hash exchanges on the
    mixed range, against the full render."""
    import random

    from tileigi_spark.mercator import bbox_lonlat_to_merc, bbox_tile_range

    bbox = _cut_polygon_bbox(resume_src)
    ranges = {z: bbox_tile_range(bbox_lonlat_to_merc(bbox), z)
              for z in range(7)}
    rng = random.Random(seed)
    keys = sorted(full_z0_6)
    z3 = [k for k in keys if k[0] == 3]
    mt6 = sorted({(x // 8, y // 8) for z, x, y in keys if z == 6})
    mx, my = rng.choice(mt6)
    z6 = [k for k in keys if k[0] == 6 and (k[1] // 8, k[2] // 8) == (mx, my)]
    done = set(rng.sample(z3, len(z3) // 2))
    done |= set(rng.sample(z6, max(1, len(z6) // 2)))
    done |= set(rng.sample(keys, len(keys) // 5))
    # a key nothing renders (an empty tile's) and one outside the zooms
    done |= {(4, 0, 0), (9, 1, 1)}
    # whole metatiles, empty tiles included
    mx5, my5 = rng.choice(sorted({(x // 8, y // 8)
                                  for z, x, y in keys if z == 5}))
    done |= {(2, x, y) for x in range(4) for y in range(4)}
    done |= {(5, 8 * mx5 + i, 8 * my5 + j) for i in range(8) for j in range(8)}
    src = {"features": resume_src}

    def render(minz, maxz, **kw):
        with plan():
            tiles = build_tiles(spark, src, LAYERS, minz, maxz,
                                shuffle_parts=7, **kw)
        assert hash_exchanges(tiles) == (1 if minz > 4 else n_exchanges)
        return {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
                for r in tiles.collect()}

    done_df = spark.createDataFrame(sorted(done), "zoom int, x long, y long")
    assert render(0, 6, done_keys=done_df) == {
        k: v for k, v in full_z0_6.items() if k not in done}
    assert render(5, 6, done_keys=done_df) == {
        k: v for k, v in full_z0_6.items() if k[0] >= 5 and k not in done}

    def in_bbox(k):
        x0, y0, x1, y1 = ranges[k[0]]
        return x0 <= k[1] <= x1 and y0 <= k[2] <= y1

    # the bbox render keeps its z6 tiles, and has every z5 tile inside
    # the bbox of the metatile its east edge cuts done
    done = {k for k in done if k[0] != 6 or not in_bbox(k)}
    x0, y0, x1, y1 = ranges[5]
    done |= {(5, x, y) for x in range(max(x0, x1 // 8 * 8), x1 + 1)
             for y in range(y0, y1 + 1) if y // 8 == y0 // 8}
    got = render(0, 6, bbox=bbox, done_keys=spark.createDataFrame(
        sorted(done), "zoom int, x long, y long"))
    assert got == {k: v for k, v in full_z0_6.items()
                   if in_bbox(k) and k not in done}
    assert any(k[0] == 6 for k in got)


@pytest.mark.parametrize("seed", [3, 11])
def test_resume_and_bbox_match_full_render_minus_tiles(spark, resume_src,
                                                       full_z0_6, seed,
                                                       hash_exchanges):
    """A render with done_keys and/or bbox is byte-identical to the full
    render with those tiles taken out. The random done set always holds
    half of a salted-zoom metatile (z3: one metatile of 8x8 tiles) and
    half of a salt-free z6 metatile, plus whole metatiles the render
    skips (z2's, a z5 one, and the tiles inside the bbox of the z5
    metatile its east edge cuts), for a mixed range (z0-z6) and a
    salt-free range (z5-z6); the bbox cuts a polygon in two. Both ranges
    render in one pass: the fixture is estimated under the split bound."""
    _resume_and_bbox_match(spark, resume_src, full_z0_6, seed,
                           contextlib.nullcontext, 1, hash_exchanges)


@pytest.mark.parametrize("seed", [3, 11])
def test_resume_and_bbox_match_full_render_minus_tiles_split(
        spark, resume_src, full_z0_6, seed, forced_split, hash_exchanges):
    """The same on the split plan, against the fused full render: the
    mixed range emits salted partials (a done z3 tile's markers reach
    every salt's run) and assemble_tiles merges them."""
    _resume_and_bbox_match(spark, resume_src, full_z0_6, seed,
                           forced_split, 2, hash_exchanges)


def _plan_shape(tiles):
    """(hash exchanges, MapInPandas nodes, the plan text below the
    deepest exchange) of a build_tiles result's physical plan."""
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    last = max(i for i, ln in enumerate(lines)
               if "Exchange hashpartitioning" in ln)
    return (plan.count("Exchange hashpartitioning"),
            plan.count("MapInPandas"), "\n".join(lines[last + 1:]))


def test_fuse_bound_is_one_salt_of_advisory_size(spark):
    """A range with salted zooms fuses while the covered rows' size
    estimate is at most advisory size / _N_SALTS; a relation of unknown
    size (an RDD) never does."""
    from tileigi_spark.engine import _N_SALTS, _fits_one_salt

    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    known = spark.range(1000)
    size = int(str(known._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes()))
    unknown = spark.createDataFrame([(1,)], "a long")
    old = spark.conf.get(conf)
    try:
        spark.conf.set(conf, str(size * _N_SALTS))
        assert _fits_one_salt(spark, known)
        assert not _fits_one_salt(spark, unknown)
        spark.conf.set(conf, str(size * _N_SALTS - 1))
        assert not _fits_one_salt(spark, known)
    finally:
        spark.conf.set(conf, old)


def test_render_plan_shape(spark, feats, tmp_path, forced_split):
    """Covered rows are exchanged once, by metatile: below that exchange
    the plan runs no Python (the sources carry their bbox columns, so
    with_bbox adds no pass), and one MapInPandas renders. A salt-free
    range has one hash exchange, with done keys and a bbox too (no
    anti-join exchange), and so has a mixed range estimated under the
    split bound (advisory size / 16); on the split plan a mixed range adds
    assemble_tiles' exchange and MapInPandas. Choosing the plan starts
    no Spark job."""
    from tileigi_spark.engine import with_bbox

    path = str(tmp_path / "feats")
    with_bbox(feats).write.parquet(path)
    src = {"features": spark.read.parquet(path)}
    done = spark.read.parquet(path).selectExpr(
        "6 AS zoom", "feature_id % 64 AS x", "feature_id % 32 AS y")

    n_ex, n_py, below = _plan_shape(build_tiles(
        spark, src, LAYERS, 5, 6, shuffle_parts=8, done_keys=done,
        bbox=(-20.0, -62.0, 0.0, -58.0)))
    assert (n_ex, n_py) == (1, 1)
    assert "Python" not in below and "MapInPandas" not in below
    sc = spark.sparkContext
    sc.setJobGroup("plan-only", "build_tiles without an action")
    try:
        fused = build_tiles(spark, src, LAYERS, 0, 6, shuffle_parts=8)
        with forced_split():
            split = build_tiles(spark, src, LAYERS, 0, 6, shuffle_parts=8)
        assert list(sc.statusTracker().getJobIdsForGroup("plan-only")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_ex, n_py, below = _plan_shape(fused)
    assert (n_ex, n_py) == (1, 1)
    assert "Python" not in below and "MapInPandas" not in below
    n_ex, n_py, below = _plan_shape(split)
    assert (n_ex, n_py) == (2, 2)
    assert "Python" not in below and "MapInPandas" not in below


def test_finished_runs_count_each_wanted_tile_once():
    """A metatile run is skipped only when every tile it could render is
    done: all size x size tiles of the metatile (size = min(8, 2^zoom)),
    or those inside the bbox's tile range; duplicate done keys count
    once, and on the split plan each salt's run counts its own
    markers."""
    import pandas as pd

    from tileigi_spark.engine import (_METATILE_KEYS, _SALTED_KEYS,
                                      _finished_runs)

    def marks(tiles, salt=0):
        return pd.DataFrame(
            [(z, x // min(8, 1 << z), y // min(8, 1 << z), salt,
              float(x), float(y)) for z, x, y in tiles],
            columns=["zoom", "mtx", "mty", "salt", "x", "y"])

    def runs(frame, ranges=None, keys=_SALTED_KEYS):
        return sorted(_finished_runs(frame, keys, 8, ranges).tolist())

    z1 = [(1, x, y) for x in range(2) for y in range(2)]
    assert runs(marks(z1)) == [(1, 0, 0, 0)]
    assert runs(marks(z1[:3] + z1[:3])) == []
    z5 = [(5, x, y) for x in range(8, 16) for y in range(16, 24)]
    both = pd.concat([marks(z5), marks(z5[1:], salt=1)])
    assert runs(both) == [(5, 1, 2, 0)]
    # bbox tile range x 10-12, y 20-21 at z5: 6 of the metatile's tiles
    inside = [(5, x, y) for x in range(10, 13) for y in range(20, 22)]
    ranges = {5: (10, 20, 12, 21)}
    assert runs(marks(inside), ranges) == [(5, 1, 2, 0)]
    assert runs(marks(inside[1:]), ranges) == []
    assert runs(marks(inside), {5: (9, 20, 12, 21)}) == []
    # keyed by metatile alone (the fused plan): one marker per done tile,
    # and markers of one metatile in different salts count together
    fused = marks(z5).drop(columns="salt")
    assert runs(fused, keys=_METATILE_KEYS) == [(5, 1, 2)]
    assert runs(fused[1:], keys=_METATILE_KEYS) == []
    assert runs(pd.concat([marks(z5[:10], salt=3), marks(z5[10:])]),
                keys=_METATILE_KEYS) == [(5, 1, 2)]
    assert runs(marks(inside).drop(columns="salt"), ranges,
                keys=_METATILE_KEYS) == [(5, 1, 2)]
