"""End-to-end tile-byte parity gate: one seed of tools/fuzz_e2e_parity.py.

The probe builds z0-z4 tiles from a random mixed geometry set and
compares the {(zoom, x, y): tile_md5} maps of a 1-part and a 13-part
input, the 13-part build with 7-row and with 1-row Arrow batches (batch
cuts inside the render walk's metatile runs; at 1 row every run is cut)
and a child whose geometry stage sends every row to the scalar chain.
Every side's plan has one hash exchange. Run `--seeds 4` (maxzoom 6) by
hand before changing the encode walk, the assemble walk, the render
plan or a geometry lane.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_e2e_parity_sweep_one_seed():
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "fuzz_e2e_parity.py"),
         "--seeds", "1", "--maxzoom", "4"],
        cwd=REPO, capture_output=True, text=True, timeout=1200)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert "e2e parity: 1/1 seeds clean" in p.stdout, p.stdout
