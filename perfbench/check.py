"""Output checks: order-independent digests of what a workload produced.

A digest is the SHA-256 of the sorted, newline-joined key tuples, so it
does not depend on partitioning or row order. Tile digests also verify
every tile's bytes: the tile must gunzip and its MD5 must equal the
content address (`tile_md5`) the engine wrote next to it, so one
corrupted byte fails the check even when the key set is intact.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import zlib

PINNED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "digests.json")


class CheckFailed(Exception):
    """A workload's output failed its check."""


def rows_digest(rows) -> str:
    """Digest of an iterable of key tuples; duplicates count."""
    lines = sorted("|".join(str(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def tile_digest(zooms, xs, ys, tiles, md5s) -> str:
    """Digest of (zoom, x, y, tile_md5) over a tile set, after verifying
    each tile's bytes against its md5 and that each key occurs once."""
    keys = []
    for z, x, y, tile, md5 in zip(zooms, xs, ys, tiles, md5s):
        tile = bytes(tile)
        if hashlib.md5(tile).hexdigest() != md5:
            raise CheckFailed(f"tile {z}/{x}/{y}: bytes do not match md5")
        try:
            gzip.decompress(tile)
        except (OSError, EOFError, zlib.error) as e:
            raise CheckFailed(f"tile {z}/{x}/{y}: not gzip ({e})") from e
        keys.append((int(z), int(x), int(y), md5))
    if len(set(k[:3] for k in keys)) != len(keys):
        raise CheckFailed("duplicate tile keys")
    if not keys:
        raise CheckFailed("no tiles")
    return rows_digest(keys)


def tiles_table_digest(table) -> str:
    """tile_digest of a pyarrow table with zoom/x/y/tile/tile_md5."""
    c = table.to_pydict()
    return tile_digest(c["zoom"], c["x"], c["y"], c["tile"], c["tile_md5"])


def load_pins(path: str = PINNED) -> dict:
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}


class Checker:
    """Holds the expected digest of one workload and seed.

    The expectation is the pinned digest when digests.json has one for
    this (workload, seed); otherwise the first output seen becomes the
    reference every later iteration must match.
    """

    def __init__(self, workload: str, seed: int, pins: dict | None = None):
        pins = load_pins() if pins is None else pins
        self.pinned = pins.get(workload, {}).get(str(seed))
        self.expected = self.pinned

    def check(self, digest: str) -> None:
        if self.expected is None:
            self.expected = digest
        elif digest != self.expected:
            src = "pinned" if self.pinned else "first-run"
            raise CheckFailed(f"digest {digest[:16]} != {src} "
                              f"{self.expected[:16]}")
