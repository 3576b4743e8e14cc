"""Randomized END-TO-END tile-byte parity probe.

The unit-level fuzz (tests/test_geom_batch.py) pins the geometry stage
batch-vs-scalar on random shapes; the golden tests pin fixed inputs at
two partitionings. This probe binds the whole pipeline together on the
fuzz diet: for each seed it feeds the same random mixed geometry set
(make_rand_geom's thirteen shape classes — spiky 40-300-vertex stars
among them, whose pieces fail the certificate and take the scalar
make_valid — plus axis boxes of both windings and simple points for the
router's rect and points kernels) through
`build_tiles` z0-z6 and asserts the full {(zoom,x,y): tile_md5} map is
IDENTICAL across

  * two input partitionings (1 vs 13 parts, same session) — proves the
    salted assembly / partial-merge order-independence on arbitrary
    shapes, not just the golden fixtures;
  * the 13-part build rerun with spark.sql.execution.arrow.
    maxRecordsPerBatch = 7, so Arrow batch cuts fall inside the render
    walk's metatile runs — proves the walks' bytes do not depend on
    where batches end;
  * the 13-part build rerun on the split plan (salted render exchange,
    partial layers merged by assemble_tiles), forced by an advisory
    partition size of 1 byte: the input is an in-memory Arrow relation
    of known size, so the other builds take the fused plan — proves
    both plans give the same bytes;
  * the split build rerun with 7-row Arrow batches, so batch cuts fall
    inside the split plan's walks too: the salted render's (metatile,
    salt) runs and assemble_tiles' tile runs;
  * the router's vector lanes vs SPARK_GRAFT_FORCE_SCALAR_GEOM=1, which
    sends every row (points and rects included) to the scalar chain
    (child process — the flag is read in the Python workers, whose env
    is fixed at JVM start) — proves lane parity through encode+assemble,
    not just at the geometry-stage rows.

Usage: python tools/fuzz_e2e_parity.py [--seeds 8] [--n 400]
       [--maxzoom 6]. Prints one PASS/FAIL line per seed and a summary;
exit code 1 on any mismatch.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
ADVISORY_CONF = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def _load_gen():
    spec = importlib.util.spec_from_file_location(
        "tgb", os.path.join(REPO, "tests", "test_geom_batch.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def rows_for_seed(seed: int, n: int):
    m = _load_gen()
    from tileigi_spark.geom.wkb import geom_to_wkb
    from tileigi_spark.mercator import MERC_MAX

    rng = random.Random(1_000_000 + seed)
    rand_geom = m.make_rand_geom(rng)
    rows = []
    for i in range(n):
        g = rand_geom()
        if g is None:
            continue
        rows.append((i, bytearray(geom_to_wkb(g)), f"t{i % 7}"))
    # boxes and points on their own stream, so the diet above stays the
    # one tests/test_geom_batch.py fuzzes
    box_rng = random.Random(2_000_000 + seed)
    for i in range(n, n + n // 4):
        cx = box_rng.uniform(-MERC_MAX, MERC_MAX)
        cy = box_rng.uniform(-MERC_MAX, MERC_MAX)
        if i % 2:
            g = ("Point", (cx, cy))
        else:
            w, h = (10 ** box_rng.uniform(2, 7) for _ in range(2))
            ps = [(cx, cy), (cx + w, cy), (cx + w, cy + h), (cx, cy + h)]
            if box_rng.random() < 0.5:
                ps = ps[::-1]
            k = box_rng.randrange(4)
            ps = ps[k:] + ps[:k]
            g = ("Polygon", [ps + [ps[0]]])
        rows.append((i, bytearray(geom_to_wkb(g)), f"t{i % 7}"))
    return rows


def _tile_map(spark, rows, parts: int, maxzoom: int, buffer_px: int = 2,
              gmax: int = 14, metatile_scale: int = 8):
    from tileigi_spark.config import Layer, Layers
    from tileigi_spark.engine import build_tiles

    import pyarrow as pa

    fid, way, tag = zip(*rows)
    feats = spark.createDataFrame(pa.table({
        "feature_id": pa.array(fid, pa.int64()),
        "way": pa.array([bytes(w) for w in way], pa.binary()),
        "tag": pa.array(tag, pa.string())})).repartition(parts)
    layers = Layers(layers=[Layer(id="fuzz", source="s", minzoom=0,
                                  maxzoom=14, buffer=buffer_px)],
                    global_maxzoom=gmax)
    tiles = build_tiles(spark, {"s": feats}, layers, 0, maxzoom,
                        metatile_scale=metatile_scale)
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    got = {(r["zoom"], r["x"], r["y"]): r["tile_md5"]
           for r in tiles.select("zoom", "x", "y", "tile_md5").collect()}
    return got, plan.count("Exchange hashpartitioning")


def tile_map(spark, rows, parts: int, maxzoom: int, **cfg):
    """{(zoom, x, y): tile_md5} of a fused build (one hash exchange)."""
    got, exchanges = _tile_map(spark, rows, parts, maxzoom, **cfg)
    assert exchanges == 1, exchanges
    return got


def _cfg_for_seed(seed: int) -> dict:
    """Rotate non-default engine configs across seeds so the sweep also
    covers buffer sizes, metatile scales, and the gmax == maxzoom
    boundary (RDP skipped at the deepest rendered zoom)."""
    cfgs = ({"buffer_px": 2, "gmax": 14, "metatile_scale": 8},
            {"buffer_px": 0, "gmax": 14, "metatile_scale": 8},
            {"buffer_px": 4, "gmax": 14, "metatile_scale": 4},
            {"buffer_px": 2, "gmax": 6, "metatile_scale": 1})
    return cfgs[seed % len(cfgs)]


def child_main(seed: int, n: int, maxzoom: int):
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    got = tile_map(spark, rows_for_seed(seed, n), 13, maxzoom,
                   **_cfg_for_seed(seed))
    print("TILEMAP " + json.dumps(
        {f"{z}/{x}/{y}": h for (z, x, y), h in got.items()}))
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=8)
    ap.add_argument("--n", type=int, default=400)
    ap.add_argument("--maxzoom", type=int, default=6)
    ap.add_argument("--child-seed", type=int, default=None,
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.child_seed is not None:
        child_main(args.child_seed, args.n, args.maxzoom)
        return

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "13")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    fails = 0
    for seed in range(args.seeds):
        rows = rows_for_seed(seed, args.n)
        cfg = _cfg_for_seed(seed)
        a = tile_map(spark, rows, 1, args.maxzoom, **cfg)
        b = tile_map(spark, rows, 13, args.maxzoom, **cfg)
        spark.conf.set(BATCH_CONF, "7")
        try:
            d = tile_map(spark, rows, 13, args.maxzoom, **cfg)
        finally:
            spark.conf.unset(BATCH_CONF)
        spark.conf.set(ADVISORY_CONF, "1b")
        try:
            e, exchanges = _tile_map(spark, rows, 13, args.maxzoom, **cfg)
            assert exchanges == 2, exchanges
            spark.conf.set(BATCH_CONF, "7")
            f, exchanges = _tile_map(spark, rows, 13, args.maxzoom, **cfg)
            assert exchanges == 2, exchanges
        finally:
            spark.conf.unset(ADVISORY_CONF)
            spark.conf.unset(BATCH_CONF)
        env = dict(os.environ, SPARK_GRAFT_FORCE_SCALAR_GEOM="1",
                   PYTHONPATH=REPO)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--child-seed", str(seed), "--n", str(args.n),
             "--maxzoom", str(args.maxzoom)],
            env=env, cwd=REPO, capture_output=True, text=True)
        c = None
        for line in out.stdout.splitlines():
            if line.startswith("TILEMAP "):
                c = {tuple(int(v) for v in k.split("/")): h
                     for k, h in json.loads(line[8:]).items()}
        ok = a == b == c == d == e == f
        if not ok:
            fails += 1
            diffs = {k for k in set(a) | set(b) | set(d) | set(e) | set(f)
                     | set(c or {})
                     if not (a.get(k) == b.get(k) == d.get(k) == e.get(k)
                             == f.get(k) == (c or {}).get(k))}
            print(f"FAIL seed={seed} tiles={len(a)}/{len(b)}/{len(d)}/"
                  f"{len(e)}/{len(f)}/{len(c) if c else 'child-err'} "
                  f"first_diffs={sorted(diffs)[:5]}")
            if c is None:
                print(out.stderr[-800:])
        else:
            print(f"PASS seed={seed} tiles={len(a)} cfg={cfg} "
                  f"(1-part == 13-part == 7-row batches == split plan == "
                  f"split plan, 7-row batches == forced-scalar child)")
    print(f"e2e parity: {args.seeds - fails}/{args.seeds} seeds clean")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
