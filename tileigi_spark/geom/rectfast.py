"""Tile-window and axis-rect helpers of the geometry lanes.

Axis-aligned rectangle polygons have no lane of their own: the ragged
lane in geom/batch.py runs them through the same array clip, slice and
RDP as every other polygon. What is left here is what several callers
share:

* tile_window and tile_pairs — the quadtree slice's closed-interval
  tile collapse; the points lane and the ragged slice's one-tile
  shortcut use them;
* axis_rect — the proper-axis-rect test behind
  geom.batch.axis_rect_rows (spatial's PIP refine on the JVM,
  engine._rects_fast_path) and the ragged certificate's rect exemption.

The module stays importable under its name: bench.py and
perfbench/harness.py import it to warm the geometry modules up.
"""

from __future__ import annotations

import numpy as np

from .wkb import _ranges


def tile_window(lo, hi, buf, size_mt):
    """Inclusive range of a metatile's tiles t whose closed buffered
    interval [t*4096 - buf, (t+1)*4096 + buf] meets [lo, hi] (tile
    units, one axis) — the quadtree slice's keep test for a geometry
    that no cut changes."""
    return (np.maximum(-(-(lo - buf) // 4096) - 1, 0),
            np.minimum((hi + buf) // 4096, size_mt - 1))


def tile_pairs(tx_lo, tx_hi, ty_lo, ty_hi):
    """Every tile of each row's inclusive window, x-major, as (row,
    tx, ty) arrays; an empty window yields no pairs."""
    fany = np.maximum(ty_hi - ty_lo + 1, 0)
    fan = np.maximum(tx_hi - tx_lo + 1, 0) * fany
    rep = np.repeat(np.arange(len(fan)), fan)
    k = _ranges(np.zeros(len(fan), np.int64), fan)
    return rep, tx_lo[rep] + k // fany[rep], ty_lo[rep] + k % fany[rep]


def axis_rect(x, y):
    """(n, 4) ring vertices without the closing one -> True where every
    edge moves exactly one coordinate and the axes alternate: a proper
    axis rect with 4 distinct corners (NaN never passes)."""
    dx = x != np.roll(x, -1, axis=1)
    dy = y != np.roll(y, -1, axis=1)
    return (dx ^ dy).all(axis=1) & (dx[:, :3] != dx[:, 1:]).all(axis=1)
