"""Tests: TileStore checkpoint/resume, MBTiles export, config readers,
text/dedup/similarity operators."""

import gzip
import os
import sqlite3

import pytest

from pyspark.sql import functions as F


# ------------------------------------------------------------------ io

def _tiny_tiles(spark):
    rows = [(0, 0, 0, b"tile-a", "md5a"),
            (1, 0, 0, b"tile-b", "md5b"),
            (1, 1, 0, b"tile-b", "md5b")]  # duplicate blob
    return spark.createDataFrame(
        rows, "zoom int, x long, y long, tile binary, tile_md5 string")


def test_tilestore_roundtrip_and_checkpoint(spark, tmp_path):
    from tileigi_spark.io import TileStore

    store = TileStore(str(tmp_path / "store"))
    tiles = _tiny_tiles(spark)
    store.write_tiles(tiles)
    store.mark_done(tiles.select("zoom", "x", "y"))

    back = store.read_tiles(spark)
    got = {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
           for r in back.collect()}
    assert got[(0, 0, 0)] == b"tile-a"
    assert got[(1, 1, 0)] == b"tile-b"
    # dedup: images table holds 2 blobs for 3 tiles
    import glob
    images = spark.read.parquet(str(tmp_path / "store" / "images"))
    assert images.count() == 2

    done = store.done_keys(spark)
    assert done.count() == 3


def test_resume_skips_done(spark, tmp_path):
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    store = TileStore(str(tmp_path / "ck"))
    calls = []

    def build(zoom, done):
        calls.append(zoom)
        df = _tiny_tiles(spark).filter(F.col("zoom") == zoom)
        if done is not None:
            df = df.join(done, on=["zoom", "x", "y"], how="left_anti")
        return df

    run_pyramid_with_checkpoint(spark, store, build, [0, 1])
    assert store.done_keys(spark).count() == 3
    # rerun: anti-join leaves nothing new; checkpoint unchanged
    run_pyramid_with_checkpoint(spark, store, build, [0, 1])
    assert store.done_keys(spark).count() == 3
    n_tiles = spark.read.parquet(str(tmp_path / "ck" / "map")).count()
    assert n_tiles == 3  # no duplicates written on resume


def test_crash_between_write_and_mark_is_safe(spark, tmp_path):
    """A crash after write_tiles but before mark_done leaves duplicate
    map/images rows after the resume re-render; read_tiles must collapse
    them (content-addressed tiles, any copy correct)."""
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    store = TileStore(str(tmp_path / "crash"))
    tiles = _tiny_tiles(spark)
    # simulate the crash window: tiles written, checkpoint never marked
    store.write_tiles(tiles)
    assert store.done_keys(spark) is None

    def build(zoom, done):
        df = tiles.filter(F.col("zoom") == zoom)
        if done is not None:
            df = df.join(done, on=["zoom", "x", "y"], how="left_anti")
        return df

    run_pyramid_with_checkpoint(spark, store, build, [0, 1])
    # raw map table has the duplicates; the read view does not
    assert spark.read.parquet(str(tmp_path / "crash" / "map")).count() == 6
    back = store.read_tiles(spark)
    assert back.count() == 3
    got = {(r["zoom"], r["x"], r["y"]): bytes(r["tile"])
           for r in back.collect()}
    assert got[(0, 0, 0)] == b"tile-a"
    assert store.done_keys(spark).count() == 3
    # staging is cleaned up
    import glob
    assert not glob.glob(str(tmp_path / "crash" / "staging_z*"))


def test_tilestore_absent_vs_corrupt_table(spark, tmp_path):
    """A missing or empty table reads as absent (None); a corrupt
    checkpoint file raises instead of passing for "nothing done", which
    would make a resume silently re-render everything."""
    from tileigi_spark.io import TileStore

    store = TileStore(str(tmp_path / "store"))
    assert store.done_keys(spark) is None        # no directory
    assert store.read_tiles(spark) is None
    os.makedirs(tmp_path / "store" / "checkpoint")
    assert store.done_keys(spark) is None        # empty directory
    (tmp_path / "store" / "checkpoint" / "part-0.parquet").write_bytes(
        b"not a parquet file")
    with pytest.raises(Exception, match="part-0.parquet"):
        store.done_keys(spark)


# -------------------------------------------------- resume loop (S11, A3)

TILES_DDL = "zoom int, x long, y long, tile binary, tile_md5 string"
# the metrics table's schema as earlier stores wrote it (createDataFrame)
METRICS_DDL = ("run_id string, stage string, zoom int, rows long, "
               "secs double, extra string")


def _pyramid_tiles(spark):
    """1, 2 and 4 tiles at z0, z1 and z2, each with its own blob."""
    rows = [(z, x, 0, f"t{z}/{x}".encode(), f"m{z}/{x}")
            for z in range(3) for x in range(1 << z)]
    return spark.createDataFrame(rows, TILES_DDL)


def _anti_build(tiles):
    def build(zoom, done):
        df = tiles.filter(F.col("zoom") == zoom)
        if done is not None:
            df = df.join(done, on=["zoom", "x", "y"], how="left_anti")
        return df
    return build


def _files(root, table):
    base = os.path.join(root, table)
    return sorted(os.path.relpath(os.path.join(d, f), base)
                  for d, _, names in os.walk(base) for f in names)


def _metrics(spark, root, run_id):
    return spark.read.parquet(os.path.join(root, "metrics")).filter(
        F.col("run_id") == run_id).collect()


def test_resume_of_a_finished_store_commits_nothing(spark, tmp_path):
    """Every zoom already done: the resume renders each batch once and
    does nothing else — no staging read-back, tile write or checkpoint
    mark, and the map/images/checkpoint files stay as they were. Each
    zoom still gets its metrics row (rows = 0), all in one append."""
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "finished")
    store = TileStore(root)
    build = _anti_build(_pyramid_tiles(spark))
    run_pyramid_with_checkpoint(spark, store, build, [0, 1, 2],
                                run_id="first")
    tables = ("map", "images", "checkpoint")
    before = {t: _files(root, t) for t in tables}
    assert all(before.values())

    calls = []

    def spy(name):
        real = getattr(store, name)

        def wrapped(*args):
            calls.append((name, args))
            return real(*args)
        setattr(store, name, wrapped)

    for name in ("read_staging", "write_tiles", "mark_done",
                 "append_metrics"):
        spy(name)
    run_pyramid_with_checkpoint(spark, store, build, [0, 1, 2],
                                run_id="resume")

    assert [name for name, _ in calls] == ["append_metrics"]
    assert len(calls[0][1][-1]) == 3      # one append of three rows
    assert {t: _files(root, t) for t in tables} == before
    assert sorted((r.zoom, r.rows) for r in
                  _metrics(spark, root, "resume")) == [(0, 0), (1, 0), (2, 0)]
    assert not [p for p in os.listdir(root) if p.startswith("staging_z")]


def test_mixed_resume_metrics_match_the_map(spark, tmp_path):
    """A store holding z0 and the even columns of z2, with the metrics
    row its earlier writer (createDataFrame, nullable columns) left:
    the resume writes z1 and the odd half of z2, its metrics rows count
    exactly what it added per zoom, the schema is unchanged, and the
    rows of both writers sum to the map's row count per zoom."""
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "mixed")
    store = TileStore(root)
    tiles = _pyramid_tiles(spark)
    base = tiles.filter((F.col("zoom") == 0) | (
        (F.col("zoom") == 2) & (F.pmod(F.col("x"), F.lit(2)) == 0)))
    store.write_tiles(base)
    store.mark_done(base)
    parent_rows = spark.createDataFrame(
        [("base", "pyramid", 0, 1, 0.5, "{}"),
         ("base", "pyramid", 2, 2, 0.5, "{}")], METRICS_DDL)
    parent_rows.write.parquet(os.path.join(root, "metrics"))

    run_pyramid_with_checkpoint(spark, store, _anti_build(tiles),
                                [0, 1, 2], run_id="resume")

    metrics = spark.read.parquet(os.path.join(root, "metrics"))
    assert metrics.schema == parent_rows.schema
    assert {r.zoom: r.rows for r in _metrics(spark, root, "resume")} == \
        {0: 0, 1: 2, 2: 2}
    per_zoom = {r.zoom: r["sum(rows)"]
                for r in metrics.groupBy("zoom").sum("rows").collect()}
    in_map = {r.zoom: r["count"] for r in spark.read.parquet(
        os.path.join(root, "map")).groupBy("zoom").count().collect()}
    assert per_zoom == in_map == {0: 1, 1: 2, 2: 4}
    assert store.read_tiles(spark).count() == 7


def test_resume_loop_empty_build_and_failing_build(spark, tmp_path):
    """A build_fn returning the empty tiles frame (no layer covers the
    zoom) completes and commits nothing; a build_fn that raises at a
    later zoom propagates the error, and the zooms committed before it
    keep their checkpoint keys and metrics rows (the empty z1's row
    rode with z2's commit)."""
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    empty = spark.createDataFrame([], TILES_DDL)
    root = str(tmp_path / "edge")
    store = TileStore(root)
    run_pyramid_with_checkpoint(spark, store, lambda z, done: empty,
                                [0, 1], run_id="empty")
    assert sorted(os.listdir(root)) == ["metrics"]
    assert sorted((r.zoom, r.rows) for r in
                  _metrics(spark, root, "empty")) == [(0, 0), (1, 0)]

    tiles = _anti_build(_pyramid_tiles(spark))

    def build(zoom, done):
        if zoom == 1:
            return empty
        if zoom == 3:
            raise RuntimeError("source vanished at z3")
        return tiles(zoom, done)

    with pytest.raises(RuntimeError, match="vanished at z3"):
        run_pyramid_with_checkpoint(spark, store, build, [0, 1, 2, 3],
                                    run_id="crash")
    assert sorted(tuple(r) for r in store.done_keys(spark).collect()) == \
        [(0, 0, 0)] + [(2, x, 0) for x in range(4)]
    assert sorted((r.zoom, r.rows) for r in
                  _metrics(spark, root, "crash")) == [(0, 1), (1, 0), (2, 4)]
    assert spark.sparkContext.getLocalProperty(
        "spark.job.description") is None


def test_resume_loop_job_descriptions_and_tiles_per_s(spark, tmp_path):
    """Every job the loop runs is named after its step in the status
    store, the description is cleared afterwards, and each metrics row
    carries its batch's tiles_per_s."""
    import json

    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    sc = spark.sparkContext
    status = sc._jsc.sc().statusStore()

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, it = {}, status.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            d = j.description()
            out[j.jobId()] = d.get() if d.isDefined() else None
        return out

    seen = set(jobs())
    root = str(tmp_path / "obs")
    run_pyramid_with_checkpoint(spark, TileStore(root),
                                _anti_build(_pyramid_tiles(spark)), [0, 1],
                                run_id="obs")
    loop_jobs = {k: d for k, d in jobs().items() if k not in seen}
    spark.range(3).count()
    after = {k: d for k, d in jobs().items()
             if k not in seen and k not in loop_jobs}

    assert {f"pyramid z{z}: {step}" for z in (0, 1)
            for step in ("render+stage", "commit", "metrics")} \
        <= set(loop_jobs.values())
    assert all(d and d.startswith("pyramid") for d in loop_jobs.values()), \
        loop_jobs
    assert after and set(after.values()) == {None}

    for r in _metrics(spark, root, "obs"):
        tps = json.loads(r.extra)["tiles_per_s"]
        assert r.rows > 0 and tps == pytest.approx(r.rows / r.secs)


def _staging_dirs(root):
    return [p for p in os.listdir(root) if p.startswith("staging_z")] \
        if os.path.isdir(root) else []


def test_resume_loop_overlaps_two_batches(spark, tmp_path):
    """Batch z+1 builds while batch z commits (its build_fn starts
    before z's mark_done returns), but never more than two batches are
    in flight: at most two staging tables exist at any time and a
    batch's build starts only once the batch two before it committed."""
    import threading

    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "overlap")
    store = TileStore(root)
    tiles = _anti_build(_pyramid_tiles(spark))
    zooms = [0, 1, 2, 3]
    started = {z: threading.Event() for z in zooms}
    events, staging_seen = [], []
    lock = threading.Lock()

    def log(*ev):
        with lock:
            events.append(ev)
            staging_seen.append(len(_staging_dirs(root)))

    def build(zoom, done):
        log("build", zoom)
        started[zoom].set()
        return tiles(zoom, done) if zoom < 3 else None

    real_write, real_mark = store.write_staging, store.mark_done

    def write_staging(df, zoom):
        n = real_write(df, zoom)
        log("staged", zoom)
        return n

    def mark_done(keys):
        zoom = keys.select("zoom").first().zoom
        # the next batch is building while this one commits
        next_started = started[zoom + 1].wait(30)
        real_mark(keys)
        log("marked", zoom, next_started)

    store.write_staging, store.mark_done = write_staging, mark_done
    run_pyramid_with_checkpoint(spark, store, build, zooms, run_id="ovl")

    marked = [e for e in events if e[0] == "marked"]
    assert [e[1] for e in marked] == [0, 1, 2]      # zoom order
    assert all(e[2] for e in marked), events
    at = {e[:2]: i for i, e in enumerate(events)}
    for z in (2, 3):
        assert at[("build", z)] > at[("marked", z - 2)], events
    assert max(staging_seen) <= 2, (staging_seen, events)
    assert not _staging_dirs(root)
    assert sorted((r.zoom, r.rows) for r in _metrics(spark, root, "ovl")) \
        == [(0, 1), (1, 2), (2, 4)]


def test_resume_loop_error_at_the_next_zoom_while_committing(spark,
                                                             tmp_path):
    """build_fn raises at z+1 while z commits: z's checkpoint keys and
    metrics row land, no later zoom is built, the error propagates and
    no staging table is left behind."""
    import threading

    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "err")
    store = TileStore(root)
    tiles = _anti_build(_pyramid_tiles(spark))
    failed = threading.Event()
    calls = []

    def build(zoom, done):
        calls.append(zoom)
        if zoom == 1:
            failed.set()
            raise RuntimeError("source vanished at z1")
        return tiles(zoom, done)

    real_mark = store.mark_done

    def mark_done(keys):
        assert failed.wait(30)
        real_mark(keys)

    store.mark_done = mark_done
    with pytest.raises(RuntimeError, match="vanished at z1"):
        run_pyramid_with_checkpoint(spark, store, build, [0, 1, 2, 3],
                                    run_id="err")
    assert sorted(calls) == [0, 1]
    assert [tuple(r) for r in store.done_keys(spark).collect()] == \
        [(0, 0, 0)]
    assert [(r.zoom, r.rows) for r in _metrics(spark, root, "err")] == \
        [(0, 1)]
    assert not _staging_dirs(root)
    assert spark.sparkContext.getLocalProperty(
        "spark.job.description") is None


def test_resume_loop_failing_staging_drops_every_staging_table(spark,
                                                               tmp_path):
    """A staging write that fails after the batch before it staged
    leaves no staging table of either batch behind."""
    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "stagefail")
    store = TileStore(root)
    tiles = _anti_build(_pyramid_tiles(spark))
    real_write = store.write_staging

    def write_staging(df, zoom):
        n = real_write(df, zoom)
        if zoom == 2:
            raise OSError("disk full at z2")
        return n

    store.write_staging = write_staging
    with pytest.raises(OSError, match="disk full at z2"):
        run_pyramid_with_checkpoint(spark, store, tiles, [0, 1, 2, 3],
                                    run_id="sf")
    assert not _staging_dirs(root)
    assert sorted(tuple(r) for r in store.done_keys(spark).collect()) == \
        [(0, 0, 0), (1, 0, 0), (1, 1, 0)]


def test_resume_loop_logs_one_progress_line_per_batch(spark, tmp_path,
                                                      caplog):
    """One INFO line per batch on tileigi_spark.io, with the numbers of
    the batch's metrics row (zoom, rows, secs, tiles/s)."""
    import json
    import logging
    import re

    from tileigi_spark.io import TileStore, run_pyramid_with_checkpoint

    root = str(tmp_path / "progress")
    caplog.set_level(logging.INFO, logger="tileigi_spark.io")
    run_pyramid_with_checkpoint(spark, TileStore(root),
                                _anti_build(_pyramid_tiles(spark)),
                                [0, 1, 2], run_id="prog")
    lines = [r.getMessage() for r in caplog.records
             if r.name == "tileigi_spark.io" and r.levelno == logging.INFO]
    got = []
    for line in lines:
        m = re.fullmatch(r"pyramid z(\d+): (\d+) tiles in ([\d.]+) s "
                         r"\(([\d.]+) tiles/s\)", line)
        assert m, line
        got.append((int(m[1]), int(m[2]), float(m[3]), float(m[4])))
    rows = sorted(_metrics(spark, root, "prog"), key=lambda r: r.zoom)
    assert [g[:2] for g in got] == [(r.zoom, r.rows) for r in rows]
    for (_, _, secs, tps), r in zip(got, rows):
        assert secs == pytest.approx(r.secs, abs=0.005)
        assert tps == pytest.approx(json.loads(r.extra)["tiles_per_s"],
                                    abs=0.05)


def test_mbtiles_export(spark, tmp_path):
    from tileigi_spark.io import export_mbtiles

    path = str(tmp_path / "out.mbtiles")
    export_mbtiles([r.asDict() for r in _tiny_tiles(spark).collect()],
                   path, metadata={"name": "t"})
    con = sqlite3.connect(path)
    n_img = con.execute("select count(*) from images").fetchone()[0]
    assert n_img == 2  # md5 dedup
    # TMS y flip: (z=1, y=0) -> row 1
    rows = con.execute(
        "select tile_row from map where zoom_level=1 and tile_column=0"
    ).fetchall()
    assert rows == [(1,)]
    # the tiles view joins back
    t = con.execute("select tile_data from tiles where zoom_level=0"
                    ).fetchone()[0]
    assert bytes(t) == b"tile-a"


def test_modtile_export(tmp_path):
    import struct
    from tileigi_spark.io import export_modtile, _xyz_to_mt_path

    rows = [{"zoom": 4, "x": 9, "y": 10, "tile": b"AAAA"},
            {"zoom": 4, "x": 8, "y": 8, "tile": b"BB"}]
    export_modtile(rows, str(tmp_path))
    # both tiles land in metatile (8,8) of size 8
    path = tmp_path / _xyz_to_mt_path(4, 8, 8)
    data = path.read_bytes()
    assert data[:4] == b"META"
    n, mx, my, z = struct.unpack_from("<IIII", data, 4)
    assert (n, mx, my, z) == (64, 8, 8, 4)
    # index for (9,10): (9-8)*8 + (10-8) = 10; (8,8) -> 0
    off0, sz0 = struct.unpack_from("<II", data, 20)
    assert sz0 == 2 and data[off0:off0 + sz0] == b"BB"
    off10, sz10 = struct.unpack_from("<II", data, 20 + 8 * 10)
    assert sz10 == 4 and data[off10:off10 + sz10] == b"AAAA"


def test_tilestash_export(tmp_path):
    from tileigi_spark.io import export_tilestash

    export_tilestash([{"zoom": 3, "x": 1, "y": 2, "tile": b"T"}],
                     str(tmp_path))
    assert (tmp_path / "3" / "1" / "2.pbf").read_bytes() == b"T"


def test_tilejson_writer(tmp_path):
    import json
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.io import write_tilejson

    layers = Layers(layers=[Layer(id="a", source="a", maxzoom=9)],
                    global_maxzoom=14, name="t")
    path = tmp_path / "metadata.json"
    write_tilejson(layers, str(path),
                   prop_types={"a": {"name": "String"}})
    doc = json.loads(path.read_text())
    assert doc["tilejson"] == "2.2.0"
    assert doc["vector_layers"][0]["fields"] == {"name": "String"}
    assert doc["vector_layers"][0]["maxzoom"] == 9


def test_config_readers(tmp_path):
    from tileigi_spark.config import layers_from_file

    yml = tmp_path / "layers.yml"
    yml.write_text("""
minzoom: 0
maxzoom: 14
Layer:
  - id: water
    properties: {minzoom: 0, maxzoom: 9, buffer-size: 2}
    Datasource: {table: water_src}
  - id: poi
    properties: {minzoom: 10, buffer-size: 0}
    Datasource: {table: poi_src}
""")
    layers = layers_from_file(str(yml))
    assert [l.id for l in layers.layers] == ["water", "poi"]
    assert layers.layers[0].buffer == 2
    assert layers.layers[0].maxzoom == 9
    assert [l.id for l in layers.layers_for_zoom(9)] == ["water"]
    assert [l.id for l in layers.layers_for_zoom(10)] == ["poi"]

    toml = tmp_path / "config.toml"
    toml.write_text("""
[[providers]]
name = "pg"
  [[providers.layers]]
  name = "roads"
  tablename = "roads_src"
  buffer = 4

[[maps]]
name = "osm"
  [[maps.layers]]
  provider_layer = "pg.roads"
  min_zoom = 5
  max_zoom = 14
""")
    layers = layers_from_file(str(toml))
    assert layers.layers[0].id == "roads"
    assert layers.layers[0].source == "roads_src"
    assert layers.layers[0].buffer == 4
    assert layers.layers[0].minzoom == 5


def test_config_sql_table_sources(tmp_path):
    """tm2source subquery tables and tegola provider SQL become Layer.sql
    (TableSQL, input/mod.rs:88-123; tegola wrap, input/tegola.rs:79-117)."""
    from tileigi_spark.config import layers_from_file, substitute_sql_tokens

    yml = tmp_path / "sql_layers.yml"
    yml.write_text("""
minzoom: 0
maxzoom: 14
Layer:
  - id: big_roads
    Datasource:
      table: ( SELECT way, kind FROM roads WHERE !scale_denominator! < 1e7 ) AS data
""")
    layers = layers_from_file(str(yml))
    assert layers.layers[0].sql is not None
    assert layers.layers[0].sql.startswith("SELECT * FROM (")
    sub = substitute_sql_tokens(layers.layers[0].sql, 7)
    assert "!scale_denominator!" not in sub and "6500000.0" in sub

    toml = tmp_path / "sql_cfg.toml"
    toml.write_text("""
[[providers]]
name = "pg"
  [[providers.layers]]
  name = "pois"
  sql = "SELECT way, name FROM pois WHERE zoom_min <= !zoom!"

[[maps]]
name = "m"
  [[maps.layers]]
  provider_layer = "pg.pois"
""")
    layers = layers_from_file(str(toml))
    assert layers.layers[0].sql is not None
    assert "!zoom!" in layers.layers[0].sql
    assert "!zoom!" not in substitute_sql_tokens(layers.layers[0].sql, 3)


def test_sql_layer_build(spark):
    """A Layer.sql source renders through build_tiles, with per-zoom
    !zoom! substitution gating which zooms receive features."""
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.engine import build_tiles
    from tileigi_spark.fixtures import features_df

    feats = features_df(spark, 30)
    layers = Layers(layers=[Layer(
        id="gated", source="feats",
        sql="SELECT * FROM feats WHERE !zoom! >= 1")],
        global_maxzoom=14)
    tiles = build_tiles(spark, {"feats": feats}, layers, 0, 2)
    zs = sorted({r["zoom"] for r in tiles.select("zoom").collect()})
    assert zs and min(zs) == 1  # z0 excluded by the token predicate


# ------------------------------------------------------------- operators

@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    for i in range(60):
        if i % 10 < 3:
            text = f"duplicate body {i % 3} with shared tail tokens here"
        else:
            text = (f"the quick document {i} and some of the words is "
                    f"unique-{i * 17} tail")
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.cache().count()
    return df


def test_exact_dedup(spark, docs):
    from tileigi_spark.dedup import exact_dedup, exact_dup_groups

    kept = exact_dedup(docs)
    groups = {r["content_md5"]: (r["n_dups"], r["keep_id"])
              for r in exact_dup_groups(docs).collect()}
    dup_groups = [g for g in groups.values() if g[0] > 1]
    assert len(dup_groups) == 3  # 3 duplicate bodies
    assert kept.count() == docs.count() - sum(g[0] - 1 for g in dup_groups)


def test_minhash_finds_exact_dups(spark, docs):
    from tileigi_spark.dedup import minhash_dedup_pairs

    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in minhash_dedup_pairs(docs, threshold=0.99).collect()}
    # identical docs must be found with jaccard 1.0
    assert all(abs(v - 1.0) < 1e-12 for v in pairs.values())
    assert (0, 12) in pairs  # both "duplicate body 0"


def test_simhash_hamming_zero_for_dups(spark, docs):
    from tileigi_spark.dedup import simhash_near_dups

    pairs = {(r["a"], r["b"]): r["hamming"]
             for r in simhash_near_dups(docs, max_hamming=0).collect()}
    assert (0, 12) in pairs
    assert pairs[(0, 12)] == 0


def test_simhash_signature_pinned(spark):
    """Signature stage invariants: a one-token doc's signature IS the
    token's xxhash64 (every bit vote is unanimous); duplicates collapse;
    blank docs get 0; and the plan stays JVM-side (no Python UDF)."""
    from tileigi_spark.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "foo"), (2, "foo foo foo"), (3, ""), (4, "   ")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"]
           for r in simhash_signatures(df).collect()}
    xx = spark.sql("SELECT xxhash64('foo') AS h").collect()[0]["h"]
    assert got[1] == xx
    assert got[2] == xx
    assert got[3] == 0 and got[4] == 0

    plan = simhash_signatures(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan


def test_textops(spark, docs):
    from tileigi_spark.textops import (with_token_count, with_quality,
                                       with_lang_guess, with_fingerprint)

    t = with_token_count(docs).filter(F.col("doc_id") == 5).collect()[0]
    expected_tokens = len("the quick document 5 and some of the words is "
                          "unique-85 tail".split())
    assert t["n_tokens"] == expected_tokens

    q = with_quality(docs).filter(F.col("doc_id") == 5).collect()[0]
    assert q["q_tokens"] == expected_tokens
    assert 0 < q["q_stopword_ratio"] < 1

    g = with_lang_guess(docs).filter(F.col("doc_id") == 5).collect()[0]
    assert g["lang_guess"] == "en"

    f1 = with_fingerprint(docs).filter(F.col("doc_id") == 0).collect()[0]
    f2 = with_fingerprint(docs).filter(F.col("doc_id") == 12).collect()[0]
    assert f1["fingerprint"] == f2["fingerprint"]  # identical texts


def test_similarity_topk(spark):
    from tileigi_spark.similarity import brute_force_topk, lsh_topk

    import numpy as np
    rows = []
    for i in range(50):
        base = np.zeros(8)
        base[i % 8] = 1.0
        base[(i + 1) % 8] = 0.3 + (i % 5) * 0.1
        rows.append((i, [float(x) for x in base]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"))
    exact = brute_force_topk(q, emb, k=3)
    got = {(r["query_id"], r["sim_rank"]): r["vec_id"]
           for r in exact.collect()}
    # rank 1 is always the vector itself (cosine 1.0, lowest id tie-break)
    assert got[(0, 1)] == 0 and got[(1, 1)] == 1 and got[(2, 1)] == 2
    # lsh variant returns <= k ranked rows per query
    approx = lsh_topk(q, emb, k=3)
    assert approx.groupBy("query_id").count().agg(
        F.max("count")).collect()[0][0] <= 3


def test_embedding_near_dups(spark):
    from tileigi_spark.dedup import embedding_near_dups

    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        base[(i % 4 + 1) % 8] = 0.05 * (i // 20)  # pairs i, i+20 similar
        rows.append((i, base))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r["a"], r["b"]): r["cosine"]
             for r in embedding_near_dups(emb, threshold=0.99).collect()}
    # identical vectors (same i%4, same i//20 bucket) must be found
    assert (0, 4) in pairs and abs(pairs[(0, 4)] - 1.0) < 1e-12
    # dissimilar basis vectors must not pair
    assert (0, 1) not in pairs

    # LSH candidates are a subset of the exact all-pairs baseline, and
    # the exact baseline finds every identical-vector pair
    from tileigi_spark.dedup import embedding_near_dups_exact
    exact = {(r["a"], r["b"])
             for r in embedding_near_dups_exact(emb, threshold=0.99).collect()}
    assert set(pairs) <= exact
    assert (0, 4) in exact


def test_lsh_recall_floors(spark):
    """Recall gates for the approximate paths against their exact twins
    on the real embeddings fixture: silent recall collapse (e.g. from a
    bad hyperplane construction) must fail loudly, not pass rows-only."""
    from tileigi_spark.dedup import (embedding_near_dups,
                                     embedding_near_dups_exact)
    from tileigi_spark.similarity import brute_force_topk, lsh_topk

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .filter(F.col("vec_id") < 400))
    exact = {(r["a"], r["b"])
             for r in embedding_near_dups_exact(emb, threshold=0.4)
             .collect()}
    lsh = {(r["a"], r["b"])
           for r in embedding_near_dups(emb, threshold=0.4, n_tables=24,
                                        n_bits=4).collect()}
    assert lsh <= exact  # cosine verify guarantees containment
    assert len(lsh & exact) >= 0.8 * len(exact), \
        f"near-dup recall {len(lsh & exact)}/{len(exact)} below 0.8"

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"))
    bf = {(r["query_id"], r["vec_id"])
          for r in brute_force_topk(q, emb, k=5).collect()}
    ap = {(r["query_id"], r["vec_id"])
          for r in lsh_topk(q, emb, k=5, n_tables=8, n_bits=6,
                            n_probes=6).collect()}
    assert len(ap & bf) >= 0.8 * len(bf), \
        f"top-k recall {len(ap & bf)}/{len(bf)} below 0.8"


def test_exact_near_dup_fence(spark):
    """The O(n²) exact path refuses corpus-scale inputs."""
    import pytest

    from tileigi_spark.dedup import embedding_near_dups_exact

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="max_rows"):
        embedding_near_dups_exact(emb, threshold=0.9, max_rows=10)


def test_bucket_cap_drops_hot_buckets(spark):
    """cap_buckets removes degenerate hot lists (the O(max_bucket²)
    guard) and keeps everything else."""
    from tileigi_spark.dedup import cap_buckets, lsh_tables

    rows = [(i, [1.0, 0.0]) for i in range(30)]   # all identical: 1 bucket
    rows += [(100 + i, [-1.0, float(i)]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    banded = lsh_tables(emb, "embedding", n_tables=1, n_bits=2)
    kept = cap_buckets(banded, max_bucket=10)
    kept_ids = {r["vec_id"] for r in kept.collect()}
    assert all(i not in kept_ids for i in range(30))
    assert {100, 101, 102} <= kept_ids or len(kept_ids) >= 1


def test_spread_small_sizing(spark, tmp_path):
    """spread_small must NOT fan a tiny single-file table out to all
    cores (the measured ann_lsh regression), but must widen large
    narrow inputs toward defaultParallelism."""
    from tileigi_spark.dedup import spread_small

    tiny = spark.range(100).coalesce(1)
    tiny.write.mode("overwrite").parquet(str(tmp_path / "tiny"))
    tiny = spark.read.parquet(str(tmp_path / "tiny"))
    assert spread_small(tiny).rdd.getNumPartitions() <= 2

    # ~24 MB of data in one partition -> should widen to >1 partition
    big = spark.range(3_000_000).selectExpr(
        "id", "repeat('x', 8) AS pad").coalesce(1)
    big.write.mode("overwrite").parquet(str(tmp_path / "big"))
    big = spark.read.parquet(str(tmp_path / "big")).coalesce(1)
    assert spread_small(big).rdd.getNumPartitions() > 1

    # already-wide inputs pass through untouched
    wide = spark.range(1000).repartition(
        spark.sparkContext.defaultParallelism)
    assert spread_small(wide) is wide


def test_md5_hash64_matches_duckdb(spark):
    """dedup.md5_hash64 (the DuckDB-expressible hash that lets the driver
    oracle MinHash/SimHash logic) must equal DuckDB's
    CAST(('0x'||substr(md5(x),1,15)) AS BIGINT) for single and
    multi-column inputs."""
    import duckdb

    from pyspark.sql import functions as F
    from tileigi_spark.dedup import md5_hash64

    df = spark.createDataFrame(
        [("alpha beta", 0), ("x", 7), ("", 3)], "t string, s int")
    got = df.select(md5_hash64(F.col("t")).alias("h1"),
                    md5_hash64(F.col("s"), F.col("t")).alias("h2")) \
        .collect()
    con = duckdb.connect()
    for (t, s), row in zip([("alpha beta", 0), ("x", 7), ("", 3)], got):
        h1 = con.execute(
            "SELECT CAST(('0x'||substr(md5(?),1,15)) AS BIGINT)",
            [t]).fetchone()[0]
        h2 = con.execute(
            "SELECT CAST(('0x'||substr(md5(CAST(? AS VARCHAR)||'|'||?),"
            "1,15)) AS BIGINT)", [s, t]).fetchone()[0]
        assert row["h1"] == h1
        assert row["h2"] == h2


def test_dedup_hash_fn_parameterization(spark):
    """MinHash/SimHash pipelines accept an alternate hash and produce the
    same near-dup structure for exact-duplicate texts regardless of the
    hash function (exact dup pairs survive any hash)."""
    from tileigi_spark.dedup import (MD5_HASH64_SQL, Md5AffineFamily,
                                     md5_hash64, minhash_dedup_pairs,
                                     simhash_near_dups)

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in
         range(4)] + [(10, "totally different words entirely here now "
                           "unrelated content")],
        "doc_id long, text string")
    for kw in ({}, {"hash_fn": md5_hash64},
               {"hash_fn": Md5AffineFamily()}):
        pairs = {(r["a"], r["b"]) for r in
                 minhash_dedup_pairs(docs, threshold=0.9, **kw).collect()}
        assert pairs == {(a, b) for a in range(4) for b in range(4) if a < b}
    for kw in ({}, {"token_hash_sql": MD5_HASH64_SQL.format(x="t")}):
        pairs = {(r["a"], r["b"]) for r in
                 simhash_near_dups(docs, max_hamming=0, **kw).collect()}
        assert pairs == {(a, b) for a in range(4) for b in range(4) if a < b}


def test_extractor_formats():
    from tileigi_spark.extract import extract_one

    assert extract_one("at 48.8566, 2.3522 x")[:2] == (48.8566, 2.3522)
    assert extract_one("(48.8566,2.3522)")[:2] == (48.8566, 2.3522)
    lat, lon, span = extract_one("12.5S, 130.9E")
    assert (lat, lon) == (-12.5, 130.9)
    assert span == "12.5S, 130.9E"
    assert extract_one("999.99, 720.13") is None
    assert extract_one("junk 999.99, 720.13 then 1.5, 2.5 ok")[:2] == (1.5, 2.5)
    assert extract_one("no coords") is None
    # latitude beyond the web-mercator limit is rejected
    assert extract_one("89.0, 10.0") is None


def test_geotag_pages_unicode_rows(spark):
    """End-to-end geotag over non-ASCII pages: the (?U) rlike prefilter
    must keep Unicode-digit rows and the Arrow fast path must defer to
    the authoritative Python engine for NBSP/Unicode text."""
    from tileigi_spark.extract import geotag_pages

    pages = spark.createDataFrame(
        [("u1", "en", "Paris: 48.8566,\xa02.3522 nbsp separator"),
         ("u2", "ar", "unicode digits ٤٨.٥, ٢.٣ end"),
         ("u3", "en", "plain 10.5, 20.25 ascii"),
         ("u4", "en", "no coordinates at all"),
         ("u5", "en", "café ☃ unicode but no coords")],
        "url string, lang string, text string")
    got = {r["url"]: (r["lat"], r["lon"], r["span"])
           for r in geotag_pages(pages).collect()}
    assert got["u1"] == (48.8566, 2.3522, "48.8566,\xa02.3522")
    assert got["u2"] == (48.5, 2.3, "٤٨.٥, ٢.٣")
    assert got["u3"] == (10.5, 20.25, "10.5, 20.25")
    assert set(got) == {"u1", "u2", "u3"}


def test_image_header_parsing():
    """Real container headers parse to true dimensions (pure Python)."""
    import struct

    from tileigi_spark.multimodal import parse_image_header, tiny_png

    assert parse_image_header(tiny_png(7, 5)) == (7, 5, 3, "png")
    assert parse_image_header(tiny_png(640, 480, color_type=6)) == \
        (640, 480, 4, "png")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 6
    assert parse_image_header(gif) == (320, 200, 3, "gif")
    # minimal JPEG: SOI + APP0 + SOF0(h=120, w=160, 3 comps) + EOI
    jpeg = (b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", 120, 160) + b"\x03" + b"\x00" * 9
            + b"\xff\xd9")
    assert parse_image_header(jpeg) == (160, 120, 3, "jpeg")
    assert parse_image_header(b"not an image at all") is None
    assert parse_image_header(b"") is None


def test_multimodal_plumbing(spark):
    from tileigi_spark.multimodal import image_features, frame_sample

    df = spark.createDataFrame(
        [(1, b"imagebytes-1"), (2, b"imagebytes-2"), (3, None)],
        "doc_id long, blob binary")
    feats = image_features(df, bin_col="blob")
    rows = feats.collect()
    assert len(rows) == 2  # null blob dropped
    assert all(r["format"] == "fake" for r in rows)
    assert len(bytes(rows[0]["feature"])) == 32

    frames = frame_sample(df, bin_col="blob")
    assert frames.count() >= 2
    assert frames.filter(F.col("doc_id") == 3).count() == 0


# ------------------------------------------------------- hot-bucket caps

def _cluster_docs(spark, big=3000, small=30, uniq=40):
    """One over-cap exact-duplicate cluster, one under-cap cluster, and
    distinct singletons."""
    rows = [(i, "boilerplate cookie banner accept all terms privacy now")
            for i in range(big)]
    rows += [(100_000 + i, "small shared promo footer with contact info")
             for i in range(small)]
    rows += [(200_000 + i, f"unique document number {i} tail {i * 31} "
              f"extra {i * 7}") for i in range(uniq)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_hot_bucket_cap(spark):
    """An exact-duplicate cluster shares EVERY band hash, so without a
    cap a 3000-copy cluster alone is ~4.5M candidate pairs from each
    band bucket. With the cap its buckets drop and only the under-cap
    cluster pairs survive — candidate count stays O(small²), not
    O(big²)."""
    from tileigi_spark.dedup import minhash_candidates

    df = _cluster_docs(spark)
    cands = minhash_candidates(df, max_bucket=500)
    n = cands.count()
    assert n <= 30 * 29 // 2 + 100  # small-cluster pairs + stray collisions
    pairs = {(r["a"], r["b"]) for r in cands.collect()}
    assert (100_000, 100_001) in pairs      # under-cap cluster kept
    assert (0, 1) not in pairs              # over-cap cluster dropped


def test_minhash_exact_first_representatives(spark):
    """exact_first=True collapses exact clusters before banding — the
    production ordering: the 3000-copy cluster contributes ONE
    representative row per band bucket, and near-dup pairs are over
    representatives only (no rep pair here: the three texts differ)."""
    from tileigi_spark.dedup import exact_dedup, minhash_dedup_pairs

    df = _cluster_docs(spark)
    reps = exact_dedup(df)
    assert reps.count() == 2 + 40  # one rep per cluster + singletons
    pairs = minhash_dedup_pairs(df, threshold=0.9, exact_first=True,
                                max_bucket=500)
    assert pairs.count() == 0


def test_simhash_hot_bucket_cap(spark):
    """Identical signatures collide on all k+1 pigeonhole blocks; the
    block-bucket cap must keep the over-cap cluster from going
    quadratic while under-cap duplicates still pair."""
    from tileigi_spark.dedup import simhash_near_dups

    df = _cluster_docs(spark)
    got = simhash_near_dups(df, max_hamming=1, max_bucket=500)
    pairs = {(r["a"], r["b"]) for r in got.collect()}
    assert (100_000, 100_001) in pairs
    assert (0, 1) not in pairs
    assert len(pairs) <= 30 * 29 // 2 + 100

    reps = simhash_near_dups(df, max_hamming=1, max_bucket=500,
                             exact_first=True)
    # representatives are three distinct texts -> no hamming<=1 pairs
    assert reps.count() == 0


def test_cosine_pairs_matches_hof(spark):
    """The Arrow-batched cosine kernel must agree with the JVM HOF
    formulation to float precision (it replaces it on the verify hot
    path)."""
    from tileigi_spark.dedup import cosine_pairs, cosine_sim

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(16)],
             [float((i * 5 + j * 13) % 9) - 4.0 for j in range(16)])
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "id long, va array<double>, vb array<double>")
    got = df.select("id", cosine_pairs(F.col("va"), F.col("vb"))
                    .alias("c_np"),
                    cosine_sim(F.col("va"), F.col("vb")).alias("c_hof")) \
        .collect()
    for r in got:
        assert abs(r["c_np"] - r["c_hof"]) < 1e-12


def test_tiles_to_geojson_roundtrip(tmp_path):
    """GeoJSON debug dump (reference lib.rs:889-971): decode a real
    encoded tile, map tile-local ints back to lon/lat with the ported
    x_to_lon/y_to_lat (lib.rs:870-887), restore properties."""
    import json as _json

    from tileigi_spark.geom import mvt
    from tileigi_spark.io import tiles_to_geojson
    from tileigi_spark.mercator import x_to_lon, y_to_lat

    enc = mvt.LayerEncoder("roads")
    enc.add_feature(("Point", (100, 200)), {"name": "a", "rank": 3})
    enc.add_feature(
        ("Polygon", [[(0, 0), (4096, 0), (4096, 4096), (0, 4096), (0, 0)]]),
        {"name": "b"})
    tile = mvt.encode_tile([enc.to_bytes()], compress=True)

    z, x, y = 2, 1, 1
    tiles_to_geojson([{"zoom": z, "x": x, "y": y, "tile": tile}],
                     str(tmp_path))
    doc = _json.load(open(tmp_path / "2" / "1" / "1.geojson"))
    feats = doc["features"]
    assert len(feats) == 2
    pt = next(f for f in feats if f["geometry"]["type"] == "Point")
    world = 4096.0 * (1 << z)
    assert pt["geometry"]["coordinates"] == [
        x_to_lon(x * 4096 + 100, world), y_to_lat(y * 4096 + 200, world)]
    assert pt["properties"] == {"$layer": "roads", "name": "a", "rank": 3}
    poly = next(f for f in feats if f["geometry"]["type"] == "Polygon")
    ring = poly["geometry"]["coordinates"][0]
    assert len(ring) == 5 and ring[0] == ring[-1]
    # the tile spans exactly one z2 tile: corners hit the tile bounds
    assert abs(ring[0][0] - x_to_lon(4096, world)) < 1e-9


def test_decode_geometry_roundtrip():
    """decode_geometry inverts _geometry_commands for every geometry
    family, including multi-part and holes."""
    from tileigi_spark.geom import mvt

    cases = [
        ("Point", (5, 7)),
        ("MultiPoint", [(0, 0), (10, 3), (-2, 8)]),
        ("LineString", [(0, 0), (5, 5), (10, 0)]),
        ("MultiLineString", [[(0, 0), (4, 4)], [(9, 9), (9, 12), (1, 1)]]),
        # interior ring wound opposite to the exterior (MVT spec §4.3.4)
        ("Polygon", [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
                     [(2, 2), (2, 4), (4, 4), (4, 2), (2, 2)]]),
        ("MultiPolygon", [
            [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]],
            [[(20, 20), (30, 20), (30, 30), (20, 30), (20, 20)]]]),
    ]
    for typ, data in cases:
        enc = mvt.LayerEncoder("t")
        enc.add_feature((typ, data), {})
        lay = mvt.decode_layer(enc.to_bytes())
        ftype, tags, payload, fid = lay["features"][0]
        got = mvt.decode_geometry(ftype, payload)
        assert got == (typ, data), f"{typ}: {got}"


def test_tilestore_iceberg_roundtrip(spark, tmp_path):
    """Iceberg TileStore path: write/read/mark_done/drop_staging through
    a real Iceberg catalog when the runtime jars are on the classpath;
    SKIPPED (not silently passed) in environments without them — the
    parquet path is the behavioral twin and covers the logic, this test
    pins the `writeTo`/`spark.table` catalog surface itself."""
    import pytest

    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip("iceberg-spark-runtime jars not on classpath")

    from tileigi_spark.io import TileStore

    spark.conf.set("spark.sql.catalog.vfy_ice",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.vfy_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.vfy_ice.warehouse",
                   str(tmp_path / "ice_wh"))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS vfy_ice.ts")

    store = TileStore("vfy_ice.ts", use_iceberg=True)
    tiles = spark.createDataFrame(
        [(0, 0, 0, bytearray(b"t0"), "m0"), (1, 1, 1, bytearray(b"t1"), "m1")],
        "zoom int, x long, y long, tile binary, tile_md5 string")
    store.write_staging(tiles, 0)
    staged = store.read_staging(spark, 0)
    assert staged.count() == 2
    store.write_tiles(staged)
    store.mark_done(staged.select("zoom", "x", "y"))
    store.drop_staging(0, spark)
    assert spark.catalog.tableExists("vfy_ice.ts.staging_z0") is False
    back = store.read_tiles(spark)
    assert {(r["zoom"], r["x"], r["y"]) for r in back.collect()} == \
        {(0, 0, 0), (1, 1, 1)}
    assert store.done_keys(spark).count() == 2


def test_pixel_decode_guard_and_real_path():
    """decode_pixels/pixel_feature: REAL decode where Pillow exists (the
    tiny_png fixture decodes to all-zero pixels -> an all-zero 64-byte
    feature), a documented ImportError/None fallback where it doesn't."""
    import pytest

    from tileigi_spark.multimodal import (_pil, decode_pixels, pixel_feature,
                                          tiny_png)

    png = tiny_png(16, 12)
    if _pil() is None:
        with pytest.raises(ImportError, match="Pillow"):
            decode_pixels(png)
        assert pixel_feature(png) is None
        return
    px = decode_pixels(png)
    assert px.shape == (12, 16, 3)
    assert int(px.max()) == 0  # zero-filled fixture pixels
    feat = pixel_feature(png)
    assert feat == bytes(64)
    assert pixel_feature(b"not an image") is None


def test_minhash_seed_diversity(spark):
    """Regression: the old transform+array_min formulation used a 2-arg
    lambda, and PySpark passes (element, INDEX) to 2-arg HOF lambdas —
    the per-seed default arg was silently overridden, every 'seed'
    computed the SAME hash function, and the 16-entry signature held 16
    identical values (MinHash degenerated to a single hash, costing
    recall: 2 true near-dup pairs at jaccard 0.97+ were missed at
    sf0.01). The seeds must produce distinct mins, and each entry must
    be the true per-seed min."""
    from tileigi_spark.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string")
    sig = minhash_signatures(df).collect()[0]["minhash"]
    assert len(sig) == 16
    assert len(set(sig)) >= 12  # distinct hash functions, not 16 copies

    # entry s == min over grams of xxhash64(s, gram), pinned via SQL
    grams = [" ".join(ws) for ws in zip(*[
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        .split()[i:] for i in range(3)])]
    for s in (0, 7):
        vals = [spark.sql(
            f"SELECT xxhash64({s}, '{g}') AS h").collect()[0]["h"]
            for g in grams]
        assert sig[s] == min(vals)


# ------------------------------------------------- named fallbacks (item 3)

def test_config_falls_back_to_toml_only_for_non_yaml(tmp_path, caplog):
    """layers_from_file reads TOML only when the file is not tm2source
    YAML (a parse error or a non-mapping document), with a named log
    line; a YAML config with a broken layer entry raises instead of
    being re-read as TOML."""
    import logging

    from tileigi_spark.config import layers_from_file

    toml = tmp_path / "c.toml"
    toml.write_text('[[providers]]\nname = "pg"\n  [[providers.layers]]\n'
                    '  name = "roads"\n  tablename = "roads_src"\n'
                    '[[maps]]\nname = "m"\n  [[maps.layers]]\n'
                    '  provider_layer = "pg.roads"\n')
    with caplog.at_level(logging.INFO, logger="tileigi_spark.config"):
        layers = layers_from_file(str(toml))
    assert layers.layers[0].source == "roads_src"
    rec, = caplog.records
    assert rec.getMessage().startswith(f"config fallback: {toml} is not "
                                       "tm2source YAML")

    # one TOML key line parses as a YAML scalar: not a mapping
    scalar = tmp_path / "s.toml"
    scalar.write_text('name = "m"\n')
    assert layers_from_file(str(scalar)).layers == []

    broken = tmp_path / "broken.yml"
    broken.write_text("Layer:\n  - properties: {minzoom: 0}\n")
    with pytest.raises(KeyError, match="id"):
        layers_from_file(str(broken))


def test_extract_arrow_failure_falls_back_per_row(monkeypatch, caplog):
    """An Arrow error in the vectorized extractor sends the batch to the
    per-row scan with a named log line; the rows come out the same."""
    import logging

    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from tileigi_spark.extract import extract_batch

    texts = pd.Series(["at 48.8566, 2.3522 x", "no coords",
                       "(10.5,20.25)", "12.5S, 130.9E"])
    fast = extract_batch(texts)

    def broken(*a, **k):
        raise pa.ArrowInvalid("regex engine unavailable")

    monkeypatch.setattr(pc, "extract_regex", broken)
    with caplog.at_level(logging.WARNING, logger="tileigi_spark.extract"):
        slow = extract_batch(texts)
    pd.testing.assert_frame_equal(slow, fast)
    rec, = caplog.records
    assert rec.getMessage().startswith("extract fallback: Arrow regex path "
                                       "failed, scanning 4 rows")


def test_spread_small_without_plan_stats_logs_and_spreads(spark, caplog):
    """spread_small widens to defaultParallelism, with a named log line,
    when the plan size cannot be read over py4j."""
    import logging

    from py4j.protocol import Py4JError

    from tileigi_spark.dedup import spread_small

    width = spark.sparkContext.defaultParallelism
    if width < 2:
        pytest.skip("needs a session with 2 or more cores")
    df = spark.range(50, numPartitions=1)

    class NoPlanStats:
        """df with a JVM handle whose queryExecution() fails."""

        class _jdf:
            @staticmethod
            def queryExecution():
                raise Py4JError("no plan statistics")

        def __getattr__(self, name):
            return getattr(df, name)

    with caplog.at_level(logging.WARNING, logger="tileigi_spark.dedup"):
        out = spread_small(NoPlanStats())
    assert out.rdd.getNumPartitions() == width
    assert out.count() == 50
    rec, = caplog.records
    assert rec.getMessage().startswith(
        f"plan size unavailable: spreading to {width} partitions")


def test_pixel_feature_decode_failure_logs_digest_fallback(monkeypatch,
                                                          caplog):
    """A decode failure PIL reports (OSError, ValueError) gives no pixel
    feature, with a named log line; any other error propagates."""
    import logging

    import tileigi_spark.multimodal as mm

    monkeypatch.setattr(mm, "_pil", lambda: object())
    for err in (OSError("cannot identify image file"),
                ValueError("tile cannot extend outside image")):
        def fail(data, err=err):
            raise err

        monkeypatch.setattr(mm, "decode_pixels", fail)
        caplog.clear()
        with caplog.at_level(logging.WARNING,
                             logger="tileigi_spark.multimodal"):
            assert mm.pixel_feature(b"\x89PNG broken") is None
        rec, = caplog.records
        assert rec.getMessage().startswith(
            "pixel fallback: 11-byte image did not decode")

    def bug(data):
        raise RuntimeError("bug")

    monkeypatch.setattr(mm, "decode_pixels", bug)
    with pytest.raises(RuntimeError):
        mm.pixel_feature(b"x")
