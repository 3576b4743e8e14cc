"""The render walk's memory on a hot metatile run, Spark-free.

engine._make_render_run makes each Arrow batch's pieces as the batch
arrives and holds only the open run's pieces, never its covered rows;
the encode frames the run _CHUNK_FEATURES rows at a time. One z0 run of
200k random points (the hot low-zoom tile every feature reaches), fed in
10k-row batches, must peak at no more than 320 B a row of Python memory
(tracemalloc; ~251 measured with int32 tag-id matrices, ~280 with int64
ones) and give the tiles of the same run fed as one frame. The walk
that concatenated a run's covered rows and framed it whole peaked at
~1,060 B a row here."""

import tracemalloc

import numpy as np
import pandas as pd
from pyspark.sql.types import StringType

from tileigi_spark import engine
from tileigi_spark.mercator import MERC_MAX

N = 200_000
BATCH = 10_000


def _run_rows(n):
    """One z0 metatile run of n random points, sorted by feature_id as
    the render exchange sorts it, with one string property."""
    rng = np.random.default_rng(7)
    xy = rng.uniform(-MERC_MAX, MERC_MAX, (n, 2))
    wkb = np.empty((n, 21), np.uint8)
    wkb[:, :5] = (1, 1, 0, 0, 0)
    wkb[:, 5:] = xy.view(np.uint8).reshape(n, 16)
    fid = np.sort(rng.choice(1 << 40, n, replace=False)).astype(np.int64)
    return pd.DataFrame({
        "zoom": np.zeros(n, np.int32), "mtx": np.zeros(n, np.int64),
        "mty": np.zeros(n, np.int64), "way": [bytes(r) for r in wkb],
        "feature_id": fid, "name": [f"n{i % 5000}" for i in range(n)],
        "layer_order": np.zeros(n, np.int32)})


def _render(batches):
    run = engine._make_render_run([(0, "pts", 32)], ["name"],
                                  {"pts": {"name": StringType()}}, 8, 14)
    return pd.concat(list(run(batches)), ignore_index=True)


def test_hot_run_peak_per_row():
    rows = _run_rows(N)
    batches = (rows.iloc[s:s + BATCH].reset_index(drop=True)
               for s in range(0, N, BATCH))
    tracemalloc.start()
    try:
        base = tracemalloc.get_traced_memory()[0]
        got = _render(batches)
        peak = tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
    assert peak / N <= 320, f"{peak / N:.0f} B a row"
    want = _render(iter([rows]))
    assert len(got) == 1
    assert got.to_dict("list") == want.to_dict("list")
