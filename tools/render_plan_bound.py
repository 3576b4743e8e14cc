"""Fused vs split render plan: wall time and memory near the choice bound.

`build_tiles` renders a range with salted zooms (z <= 4) on the split
plan (salted render exchange, then assemble_tiles' exchange and merge)
when the covered rows' plan-statistics size estimate is larger than
spark.sql.adaptive.advisoryPartitionSizeInBytes / 16 (4 MB at Spark's
default); otherwise it fuses, and one task renders each low-zoom
metatile whole. This probe measures what that choice costs on either
side of the bound.

For each row count it writes one parquet source of random features
(uniform over the world, so every feature reaches the z0-z3 metatiles),
then, in a fresh child process per plan, builds z0-maxzoom from it and
runs the result into Spark's noop sink. Each plan is forced by the
advisory size while `build_tiles` plans (1 byte: split, 64 GB: fused)
and restored before the run, so both sides execute under the same
adaptive settings. Each line printed is one JSON record:

  rows, kind, plan, exchanges (hash exchanges planned), estimate_mb
  (the size estimate the choice reads), default (the plan Spark's
  default advisory size picks), wall_s (the noop write), peak_mb
  (summed RSS of the child's JVM, Python daemon and workers, sampled
  every 50 ms), worker_mb (largest single Python worker RSS seen).

Usage: python tools/render_plan_bound.py --rows 50000 100000
       [--kind points|boxes] [--maxzoom 6] [--cores 4] [--repeat 1]
RSS grows with the fused plan's whole-input runs: start with small row
counts on a shared host.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ADVISORY_CONF = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


def write_source(path: str, rows: int, kind: str, seed: int = 0):
    """A parquet file of `rows` random features: `feature_id`, `way`
    (WKB, EPSG:3857) and a string property `tag`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tileigi_spark.mercator import MERC_MAX

    rng = np.random.default_rng(seed)
    cx = rng.uniform(-MERC_MAX * 0.99, MERC_MAX * 0.99, rows)
    cy = rng.uniform(-MERC_MAX * 0.99, MERC_MAX * 0.99, rows)
    if kind == "points":
        rec = np.zeros(rows, dtype=[("bo", "u1"), ("t", "<u4"),
                                    ("x", "<f8"), ("y", "<f8")])
        rec["bo"], rec["t"], rec["x"], rec["y"] = 1, 1, cx, cy
        width = rec.dtype.itemsize
    else:
        # axis boxes 100 m - 100 km wide, one closed 5-vertex ring each
        w = 10 ** rng.uniform(2, 5, rows)
        h = 10 ** rng.uniform(2, 5, rows)
        xs = np.stack([cx, cx + w, cx + w, cx, cx], axis=1)
        ys = np.stack([cy, cy, cy + h, cy + h, cy], axis=1)
        rec = np.zeros(rows, dtype=[("bo", "u1"), ("t", "<u4"),
                                    ("nr", "<u4"), ("np", "<u4"),
                                    ("xy", "<f8", (10,))])
        rec["bo"], rec["t"], rec["nr"], rec["np"] = 1, 3, 1, 5
        rec["xy"] = np.stack([xs, ys], axis=2).reshape(rows, 10)
        width = rec.dtype.itemsize
    raw = rec.tobytes()
    offsets = pa.array(np.arange(rows + 1, dtype=np.int32) * width)
    way = pa.BinaryArray.from_buffers(pa.binary(), rows,
                                      [None, offsets.buffers()[1],
                                       pa.py_buffer(raw)])
    pq.write_table(pa.table({
        "feature_id": pa.array(np.arange(rows, dtype=np.int64)),
        "way": way,
        "tag": pa.array([f"t{i % 7}" for i in range(rows)])}),
        os.path.join(path, "part-0.parquet"))


def child_main(src: str, plan: str, maxzoom: int, cores: int):
    """Build and run one pyramid; print its record as JSON."""
    from pyspark.sql import SparkSession

    from tileigi_spark import engine
    from tileigi_spark.config import Layer, Layers

    spark = (SparkSession.builder.master(f"local[{cores}]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    seen = []   # the covered rows' size estimate the choice reads
    choose = engine._fits_one_salt

    def spy(spark_, df):
        seen.append(int(str(df._jdf.queryExecution().optimizedPlan()
                            .stats().sizeInBytes())))
        return choose(spark_, df)

    engine._fits_one_salt = spy
    layers = Layers(layers=[Layer(id="probe", source="s", minzoom=0,
                                  maxzoom=14, buffer=2)],
                    global_maxzoom=14)
    advisory = spark._jsparkSession.sessionState().conf().getConf(
        spark._jvm.org.apache.spark.sql.internal.SQLConf
        .ADVISORY_PARTITION_SIZE_IN_BYTES())
    spark.conf.set(ADVISORY_CONF, "1b" if plan == "split" else "64g")
    try:
        tiles = engine.build_tiles(spark, {"s": spark.read.parquet(src)},
                                   layers, 0, maxzoom)
    finally:
        spark.conf.unset(ADVISORY_CONF)
    exchanges = (tiles._jdf.queryExecution().executedPlan().toString()
                 .count("Exchange hashpartitioning"))
    t0 = time.perf_counter()
    tiles.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    print("RECORD " + json.dumps({
        "plan": plan, "exchanges": exchanges,
        "estimate_mb": round(seen[0] / 2 ** 20, 2),
        "default": ("fused" if seen[0] * engine._N_SALTS <= advisory
                    else "split"),
        "wall_s": round(wall, 2)}), flush=True)
    spark.stop()


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe")) \
            .startswith("python")
    except OSError:
        return False


def run_child(src: str, plan: str, maxzoom: int, cores: int) -> dict:
    """One child run, its process tree's RSS sampled until it exits."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", src,
         "--plan", plan, "--maxzoom", str(maxzoom), "--cores", str(cores)],
        env=dict(os.environ, PYTHONPATH=REPO), cwd=REPO,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    peak = {"total": 0.0, "worker": 0.0}
    done = threading.Event()

    def sample():
        while not done.is_set():
            pids = _tree(proc.pid)[1:]
            rss = {p: _rss_mb(p) for p in pids}
            peak["total"] = max(peak["total"], sum(rss.values()))
            workers = [r for p, r in rss.items()
                       if _is_python(p) and p != proc.pid]
            peak["worker"] = max([peak["worker"]] + workers)
            done.wait(0.05)

    t = threading.Thread(target=sample, daemon=True)
    t.start()
    out, err = proc.communicate()
    done.set()
    t.join()
    rec = next((json.loads(line[7:]) for line in out.splitlines()
                if line.startswith("RECORD ")), None)
    if rec is None:
        raise RuntimeError(f"child failed ({plan}):\n{err[-2000:]}")
    rec.update(peak_mb=round(peak["total"]), worker_mb=round(peak["worker"]))
    return rec


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, nargs="+", default=[50_000])
    ap.add_argument("--kind", choices=("points", "boxes"), default="points")
    ap.add_argument("--maxzoom", type=int, default=6)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--child", default=None, help=argparse.SUPPRESS)
    ap.add_argument("--plan", default="fused", help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    if args.child is not None:
        child_main(args.child, args.plan, args.maxzoom, args.cores)
        return
    for rows in args.rows:
        with tempfile.TemporaryDirectory() as src:
            write_source(src, rows, args.kind)
            for rep in range(args.repeat):
                # alternate which plan runs first
                plans = ("fused", "split") if rep % 2 == 0 \
                    else ("split", "fused")
                for plan in plans:
                    rec = run_child(src, plan, args.maxzoom, args.cores)
                    print(json.dumps({"rows": rows, "kind": args.kind,
                                      **rec}), flush=True)


if __name__ == "__main__":
    main()
