"""Self-test of the benchmark's output check (no Spark needed):

    python3 -m pytest perfbench/test_check.py -q
"""

from __future__ import annotations

import argparse
import gzip
import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, run, workloads

UNPINNED_SEED = 1_000_000


def _tiles(n: int = 6) -> dict:
    tiles = [gzip.compress(f"tile {i}".encode() * 20) for i in range(n)]
    return {"zoom": [3] * n, "x": list(range(n)), "y": [1] * n,
            "tile": tiles,
            "tile_md5": [hashlib.md5(t).hexdigest() for t in tiles]}


def _corrupt(cols: dict, i: int) -> dict:
    """Flip one byte inside tile i, keeping its recorded md5."""
    tiles = list(cols["tile"])
    t = bytearray(tiles[i])
    t[len(t) // 2] ^= 0xFF
    tiles[i] = bytes(t)
    return {**cols, "tile": tiles}


def test_digest_ignores_row_order():
    cols = _tiles()
    rev = {k: v[::-1] for k, v in cols.items()}
    assert check.tile_digest(*(cols[k] for k in
                               ("zoom", "x", "y", "tile", "tile_md5"))) == \
        check.tile_digest(*(rev[k] for k in
                            ("zoom", "x", "y", "tile", "tile_md5")))


def test_corrupt_tile_fails_digest():
    cols = _corrupt(_tiles(), 2)
    with pytest.raises(check.CheckFailed):
        check.tile_digest(cols["zoom"], cols["x"], cols["y"], cols["tile"],
                          cols["tile_md5"])


def test_pinned_digest_mismatch_fails():
    checker = check.Checker("polygons", 7, pins={"polygons": {"7": "ab"}})
    with pytest.raises(check.CheckFailed):
        checker.check("cd")


class _FakeTiles(workloads.TilesWorkload):
    """Writes a fixed tiles table; `corrupt` damages one tile."""

    def __init__(self):
        self.inputs = 6
        self.results = 0
        self.corrupt = False

    def run(self, out: str) -> None:
        cols = _tiles()
        if self.corrupt:
            cols = _corrupt(cols, 4)
        os.makedirs(out)
        pq.write_table(pa.table(cols), os.path.join(out, "part-0.parquet"))


def test_corrupt_tile_counts_as_failed_iteration(tmp_path):
    args = argparse.Namespace(workload="polygons", seed=UNPINNED_SEED)
    r = run.Run(args, tmp_path)
    r.wl = _FakeTiles()
    out = str(tmp_path / "out")
    assert r.iteration(out) is not None          # becomes the reference
    assert r.iteration(out) is not None
    r.wl.corrupt = True
    assert r.iteration(out) is None
    assert (r.attempted, r.failed) == (3, 1)
