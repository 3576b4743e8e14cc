"""Mixed-workload machine-ceiling probe (round-4 verdict item #3).

machine_ceiling.py bounds this VM with two PURE regimes: cache-resident
matmul (2->8 efficiency ~0.94) and 48MB streaming (~0.46, the bus
saturates at ~4 streams). The engine's measured 2->8 sits between them
(0.63-0.73) — this tool closes the falsification gap by predicting that
number from the pipeline's OWN kernels instead of hand-waving "between
the ceilings":

1. run the engine's actual per-batch kernels (the ragged geometry lane
   on a point workload and on a concave-polygon workload, the MVT
   layer-encode, and the tile-frame+gzip+md5 assembly as its own
   kernel) as INDEPENDENT processes at 2 and 8 workers — no Spark, no
   JVM, pure machine behavior of this exact code;
2. combine their per-kernel efficiencies with the pipeline's stage-time
   weights (from a traced perfbench run's spark.executor_cpu_s and
   engine.geometry.s / engine.encode.s / engine.assemble.s:
   scan+geometry / partial encode / assemble) into a harmonic prediction
       eff_pred = 1 / sum_i(w_i / e_i)
   (each stage's 8-proc time inflates by 1/e_i, so the pipeline's
   total inflates by the weighted harmonic mean);
3. print predicted vs engine-measured (pass the bench number via
   --measured) — agreement within a few percent evidences that the
   2->8 gap is the memory bus, not a serial section in the engine.

Usage: python tools/pipeline_ceiling.py [--weights g,e,a] [--measured E]
"""

from __future__ import annotations

import argparse
import hashlib
import multiprocessing as mp
import os
import sys
import time

os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TASKS = 48


def _point_batch(n=20000):
    import numpy as np
    import pandas as pd
    from tileigi_spark.mercator import MERC_MAX

    i = np.arange(n, dtype=np.int64)
    span = 0.9 * MERC_MAX
    x = ((i * 2654435761) % 2_000_000) / 1e6 * span - span
    y = ((i * 40503) % 2_000_000) / 1e6 * span - span
    wb = np.empty((n, 21), dtype=np.uint8)
    wb[:, 0] = 1
    wb[:, 1] = 1
    wb[:, 2:5] = 0
    wb[:, 5:13] = x.astype("<f8").view(np.uint8).reshape(-1, 8)
    wb[:, 13:21] = y.astype("<f8").view(np.uint8).reshape(-1, 8)
    raw = wb.tobytes()
    zoom = 6 + (i % 5)  # z6-z10 like the flagship pyramid's hot zooms
    size = np.minimum(8, 1 << zoom)
    naxis = (1 << zoom) // size
    mtx = np.clip(((x + MERC_MAX) / (2 * MERC_MAX) * naxis).astype(np.int64),
                  0, naxis - 1)
    mty = np.clip(((MERC_MAX - y) / (2 * MERC_MAX) * naxis).astype(np.int64),
                  0, naxis - 1)
    return pd.DataFrame({
        "zoom": zoom, "mtx": mtx, "mty": mty, "feature_id": i,
        "way": [raw[j * 21:(j + 1) * 21] for j in range(n)],
        "lang": "en"})


def _concave_batch(n=6000):
    import numpy as np
    import pandas as pd
    from bench import concave_vertex_arrays  # THE bench-leg generator
    from tileigi_spark.mercator import MERC_MAX

    i = np.arange(n, dtype=np.int64)
    px, py = concave_vertex_arrays(i)
    # ring centers (for the metatile assignment below) — same hash mix
    # the generator uses internally
    span = 0.95 * MERC_MAX
    cx = ((i * 2654435761) % 2_000_000) / 1e6 * span - span
    cy = ((i * 69069) % 2_000_000) / 1e6 * span - span
    wl = 9 + 4 + 17 * 16
    buf = np.empty((n, wl), np.uint8)
    buf[:, 0] = 1
    buf[:, 1:5] = [3, 0, 0, 0]
    buf[:, 5:9] = [1, 0, 0, 0]
    buf[:, 9:13] = [17, 0, 0, 0]
    pts = np.empty((n, 17, 2), "<f8")
    pts[:, :, 0] = px
    pts[:, :, 1] = py
    buf[:, 13:] = pts.reshape(n, 34).view(np.uint8)
    raw = buf.tobytes()
    zoom = np.full(n, 8)
    naxis = 32
    mtx = np.clip(((cx + MERC_MAX) / (2 * MERC_MAX) * naxis)
                  .astype(np.int64), 0, 31)
    mty = np.clip(((MERC_MAX - cy) / (2 * MERC_MAX) * naxis)
                  .astype(np.int64), 0, 31)
    return pd.DataFrame({
        "zoom": zoom, "mtx": mtx, "mty": mty, "feature_id": i,
        "way": [raw[j * wl:(j + 1) * wl] for j in range(n)],
        "kind": "a"})


_STATE = {}


def _init(kind):
    # build per-process inputs once (mirrors an executor's working set)
    import pandas as pd  # noqa: F401
    if kind in ("geom_points", "encode", "assemble"):
        _STATE["pts"] = _point_batch()
    if kind == "geom_concave":
        _STATE["cc"] = _concave_batch()
    if kind in ("encode", "assemble"):
        from tileigi_spark.engine import _points_fast_path
        from tileigi_spark.geom.wkb import write_ragged
        # precompute pieces once; the kernel then measures encode+gzip
        pieces, rag = _points_fast_path(_STATE["pts"], ["lang"], 32, 8)
        _STATE["pieces"] = pieces.assign(geom=write_ragged(rag))
    if kind == "assemble":
        # pre-encode each tile's layer message once; the kernel then
        # measures ONLY the A2 work (tile frame + gzip + md5), the
        # profile's third stage
        from tileigi_spark.geom import mvt
        from tileigi_spark.geom.wkb import wkb_to_geom
        layers = []
        for (z, x, y), grp in _STATE["pieces"].groupby(
                ["zoom", "x", "y"], sort=True):
            feats = []
            for w in grp["geom"]:
                typ, data = wkb_to_geom(bytes(w))
                feats.append(((typ, (int(data[0]), int(data[1]))
                               if typ == "Point" else data),
                              {"lang": "en"}))
            layers.append(mvt.encode_layer("pages", feats))
        _STATE["layers"] = layers


def _kernel_geom_points(_):
    from tileigi_spark.engine import _points_fast_path
    n = 0
    for _rep in range(40):  # ~1s/task: pool overhead must not dominate
        f, _ = _points_fast_path(_STATE["pts"], ["lang"], 32, 8)
        n += len(f)
    return n


def _kernel_geom_concave(_):
    from tileigi_spark.geom.batch import process_general
    f, _ = process_general(_STATE["cc"], ["kind"], 32, 8, 14, 8)
    return len(f)


def _kernel_encode(_):
    """Layer encode + tile gzip + md5 over the piece set, grouped per
    tile — the byte-assembly work of stages A1+A2."""
    from tileigi_spark.geom import mvt
    from tileigi_spark.geom.wkb import wkb_to_geom
    pieces = _STATE["pieces"]
    total = 0
    for (z, x, y), grp in pieces.groupby(["zoom", "x", "y"], sort=True):
        feats = []
        for w in grp["geom"]:
            typ, data = wkb_to_geom(bytes(w))
            feats.append(((typ, (int(data[0]), int(data[1]))
                           if typ == "Point" else data), {"lang": "en"}))
        lb = mvt.encode_layer("pages", feats)
        tile = mvt.encode_tile([lb], compress=True)
        total += len(hashlib.md5(tile).hexdigest())
    return total


def _kernel_assemble(_):
    """Tile frame + gzip + md5 over pre-encoded layer messages — the
    A2 stage alone (the engine's assemble walk after partial merge)."""
    from tileigi_spark.geom import mvt
    total = 0
    for _rep in range(8):  # gzip per tile is cheap; ~1s/task
        for lb in _STATE["layers"]:
            tile = mvt.encode_tile([lb], compress=True)
            total += len(hashlib.md5(tile).hexdigest())
    return total


_KERNELS = {
    "geom_points": _kernel_geom_points,
    "geom_concave": _kernel_geom_concave,
    "encode": _kernel_encode,
    "assemble": _kernel_assemble,
}


def probe(kind, procs, reps=2):
    """Best-of-N wall time (this host's run-to-run noise is documented
    at 2-6x; the best sample is the least-contended one). One warmup
    task per worker forces the per-process _init (input synthesis —
    up to ~1.7s, constant in wall time at any width) OUTSIDE the timed
    window, so the measurement is the kernel alone."""
    best = None
    for _ in range(reps):
        with mp.Pool(procs, initializer=_init, initargs=(kind,)) as p:
            p.map(_KERNELS[kind], range(procs), chunksize=1)
            t0 = time.time()
            p.map(_KERNELS[kind], range(TASKS))
            dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--weights", default="0.45,0.35,0.20",
                    help="pipeline busy-time fractions geometry,encode,"
                         "assemble (from a traced perfbench run)")
    ap.add_argument("--measured", type=float, default=None,
                    help="engine-measured 2->8 efficiency to compare")
    ap.add_argument("--procs", default="2,8")
    args = ap.parse_args()
    w = [float(x) for x in args.weights.split(",")]
    a, b = (int(x) for x in args.procs.split(","))

    effs = {}
    for kind in ("geom_points", "geom_concave", "encode", "assemble"):
        ta = probe(kind, a)
        tb = probe(kind, b)
        eff = (ta / tb) / (b / a)
        effs[kind] = eff
        print(f"[{kind}] {a} procs {ta:6.2f}s  {b} procs {tb:6.2f}s  "
              f"eff {a}->{b}: {eff:.3f}")

    # geometry weight split evenly between the point lane (flagship) and
    # the batch lane (polygon legs); weights w = (geometry, encode,
    # assemble)
    geom_eff = (effs["geom_points"] + effs["geom_concave"]) / 2
    pred = 1.0 / (w[0] / geom_eff + w[1] / effs["encode"]
                  + w[2] / effs["assemble"])
    print(f"weights geometry={w[0]} encode={w[1]} assemble={w[2]}")
    print(f"predicted pipeline eff {a}->{b}: {pred:.3f}")
    if args.measured is not None:
        print(f"measured  pipeline eff {a}->{b}: {args.measured:.3f}  "
              f"(gap {abs(pred - args.measured):.3f})")


if __name__ == "__main__":
    main()
