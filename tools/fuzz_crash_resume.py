"""Kill-anywhere crash/resume sweep over the CLI pyramid's --if-not-exists.

The fixed-crash-point tests (tests/test_io_and_ops.py) pin the two known
windows (images-before-map, rerun-after-done). This sweep validates the
resume contract against ARBITRARY interruption: a child process runs the
real CLI (`--if-not-exists`) over a fixture feature table; the parent
SIGKILLs it at a random wall-clock moment inside the measured length of
an uninterrupted control run (possibly several times), then lets a final
run complete, and asserts the store's read view —
the full {(zoom,x,y): md5} map — is byte-identical to an uninterrupted
control build of the same input. Exercises staging write-once, the
images-then-map commit (`map` is the resume record: a mapped tile's
image is durable), orphan-image collapse in read_tiles, and staging
cleanup, end-to-end through a real JVM death (io.py's
run_pyramid_with_checkpoint and TileStore).

Usage: python tools/fuzz_crash_resume.py [--seeds 6] [--maxzoom 3]
Prints the control run's length, one line per seed with its kill count,
and a summary; exit 1 on any divergence.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LAYERS_YML = """\
minzoom: 0
maxzoom: 14
name: crashfuzz
Layer:
  - id: base
    properties: {minzoom: 0, maxzoom: 14, buffer-size: 2}
    Datasource: {table: feats}
"""


def stage_features(workdir: str, n: int) -> str:
    from pyspark.sql import SparkSession
    from tileigi_spark.fixtures import features_df

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(workdir, "features")
    features_df(spark, n).write.mode("overwrite").parquet(path)
    spark.stop()
    return path


def cli_cmd(cfg: str, feats: str, dest: str, maxzoom: int) -> list[str]:
    return [sys.executable, "-m", "tileigi_spark.cli",
            "--config", cfg, "--source", f"feats={feats}",
            "--dest", dest, "--minzoom", "0", "--maxzoom", str(maxzoom),
            "--if-not-exists"]


def store_map(dest: str) -> dict:
    from pyspark.sql import SparkSession
    from tileigi_spark.io import TileStore

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    rows = TileStore(dest).read_tiles(spark).collect()
    out = {(r["zoom"], r["x"], r["y"]):
           hashlib.md5(bytes(r["tile"])).hexdigest() for r in rows}
    spark.stop()
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=6)
    ap.add_argument("--maxzoom", type=int, default=3)
    ap.add_argument("--features", type=int, default=400)
    args = ap.parse_args()

    env = dict(os.environ, PYTHONPATH=REPO)
    workdir = tempfile.mkdtemp(prefix="tileigi_crashfuzz_")
    cfg = os.path.join(workdir, "layers.yml")
    open(cfg, "w").write(LAYERS_YML)
    feats = stage_features(workdir, args.features)

    # uninterrupted control
    control_dest = os.path.join(workdir, "control")
    t0 = time.monotonic()
    subprocess.run(cli_cmd(cfg, feats, control_dest, args.maxzoom),
                   env=env, cwd=REPO, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    control_s = time.monotonic() - t0
    control = store_map(control_dest)
    print(f"control: {len(control)} tiles in {control_s:.1f} s", flush=True)

    fails = 0
    for seed in range(args.seeds):
        rng = random.Random(seed)
        dest = os.path.join(workdir, f"s{seed}")
        kills = 0
        for attempt in range(6):
            p = subprocess.Popen(cli_cmd(cfg, feats, dest, args.maxzoom),
                                 env=env, cwd=REPO,
                                 stdout=subprocess.DEVNULL,
                                 stderr=subprocess.DEVNULL)
            if attempt < rng.randint(1, 3):
                # kill inside the control run's length, after about a
                # third of it (JVM start): a fresh run dies mid-pyramid,
                # a resumed one may finish first
                t_kill = rng.uniform(0.3, 0.95) * control_s
                try:
                    p.wait(timeout=t_kill)
                    break  # finished before the axe fell
                except subprocess.TimeoutExpired:
                    p.send_signal(signal.SIGKILL)
                    p.wait()
                    kills += 1
            else:
                rc = p.wait(timeout=600)
                if rc != 0:
                    print(f"FAIL seed={seed}: final run rc={rc}")
                    fails += 1
                break
        got = store_map(dest)
        ok = got == control
        if not ok:
            fails += 1
            extra = set(got) - set(control)
            missing = set(control) - set(got)
            diff = {k for k in set(got) & set(control)
                    if got[k] != control[k]}
            print(f"FAIL seed={seed} kills={kills}: extra={len(extra)} "
                  f"missing={len(missing)} byte-diff={len(diff)}")
        else:
            print(f"PASS seed={seed} kills={kills}: "
                  f"{len(got)} tiles identical to control", flush=True)
    print(f"crash/resume sweep: {args.seeds - fails}/{args.seeds} clean")
    shutil.rmtree(workdir, ignore_errors=True)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
