"""Web-Mercator / slippy-tile math, bbox tile ranges, scale denominators.

Replaces the reference's slippy_map_tiles dependency + lib.rs helpers:
scale_denominator_for_zoom (lib.rs:149-175), x_to_lon/y_to_lat
(lib.rs:870-887), and the clip-buffer slack of the feature prefilter
(cover_slack; 1 px of buffer = 16 tile units, lib.rs:508). All pure
functions.
"""

from __future__ import annotations

import math

import numpy as np

# EPSG:3857 half-circumference
MERC_MAX = 20037508.342789244

SCALE_DENOMINATORS = {
    0: 250000000000.0, 1: 500000000.0, 2: 200000000.0, 3: 100000000.0,
    4: 50000000.0, 5: 25000000.0, 6: 12500000.0, 7: 6500000.0,
    8: 3000000.0, 9: 1500000.0, 10: 750000.0, 11: 400000.0,
    12: 200000.0, 13: 100000.0, 14: 50000.0, 15: 25000.0,
    16: 12500.0, 17: 5000.0, 18: 2500.0,
}


def scale_denominator_for_zoom(zoom: int) -> float:
    """lib.rs:149-175."""
    return SCALE_DENOMINATORS[zoom]


# ------------------------------------------------------------- projections

def lonlat_to_merc(lon, lat):
    """EPSG:4326 -> EPSG:3857 (scalar or numpy)."""
    x = np.asarray(lon, dtype=np.float64) * MERC_MAX / 180.0
    lat = np.asarray(lat, dtype=np.float64)
    y = np.log(np.tan((90.0 + lat) * np.pi / 360.0)) * MERC_MAX / np.pi
    return x, y


def merc_to_lonlat(x, y):
    lon = np.asarray(x, dtype=np.float64) * 180.0 / MERC_MAX
    lat = np.degrees(2.0 * np.arctan(np.exp(np.asarray(y) * np.pi / MERC_MAX)) - np.pi / 2.0)
    return lon, lat


def x_to_lon(x, extent: float) -> float:
    """lib.rs:870-877 (debug GeoJSON helper)."""
    earth_radius = 6378137.0
    xm = (x / extent) * (2.0 * 20037508.34) - 20037508.34
    return math.degrees(xm / earth_radius)


def y_to_lat(y, extent: float) -> float:
    """lib.rs:879-887."""
    return math.degrees(math.atan(math.sinh((1.0 - 2.0 * (y / extent)) * math.pi)))


# -------------------------------------------------------------------- bbox

# Mercator latitude limit: atan(sinh(pi)) in degrees
MAX_LAT = 85.05112877980659


def parse_bbox(s: str) -> tuple[float, float, float, float]:
    """Parse 'minlon,minlat,maxlon,maxlat' (bin/tileigi.rs:110-126 surface).
    Raises ValueError on malformed input — the flag must never be silently
    ignored."""
    parts = s.split(",")
    if len(parts) != 4:
        raise ValueError(f"bbox must be minlon,minlat,maxlon,maxlat: {s!r}")
    try:
        minlon, minlat, maxlon, maxlat = (float(p) for p in parts)
    except ValueError:
        raise ValueError(f"bbox has non-numeric component: {s!r}")
    if not (-180.0 <= minlon < maxlon <= 180.0):
        raise ValueError(f"bbox longitudes out of order/range: {s!r}")
    if not (-90.0 <= minlat < maxlat <= 90.0):
        raise ValueError(f"bbox latitudes out of order/range: {s!r}")
    return (minlon, minlat, maxlon, maxlat)


def bbox_lonlat_to_merc(bbox) -> tuple[float, float, float, float]:
    """lon/lat bbox -> EPSG:3857 bbox, latitudes clamped to the mercator
    world square."""
    minlon, minlat, maxlon, maxlat = bbox
    minlat = max(minlat, -MAX_LAT)
    maxlat = min(maxlat, MAX_LAT)
    xs, ys = lonlat_to_merc([minlon, maxlon], [minlat, maxlat])
    return (float(xs[0]), float(ys[0]), float(xs[1]), float(ys[1]))


def bbox_tile_range(bbox_merc, zoom: int) -> tuple[int, int, int, int]:
    """Inclusive (x0, y0, x1, y1) slippy-tile range whose tiles intersect
    the 3857 bbox at `zoom` (slippy_map_tiles size_bbox_zoom analog;
    lib.rs:186-220). Computed driver-side so Spark filters and DuckDB
    oracles share the exact same integers (no libm in the plan)."""
    minx, miny, maxx, maxy = bbox_merc
    n = 1 << zoom
    world = 2.0 * MERC_MAX

    def clamp(v):
        return min(max(int(v), 0), n - 1)

    x0 = clamp(math.floor((minx + MERC_MAX) / world * n))
    x1 = clamp(math.floor((maxx + MERC_MAX) / world * n))
    y0 = clamp(math.floor((MERC_MAX - maxy) / world * n))
    y1 = clamp(math.floor((MERC_MAX - miny) / world * n))
    return (x0, y0, x1, y1)


def bbox_metatile_range(bbox_merc, zoom: int,
                        scale: int = 8) -> tuple[int, int, int, int]:
    """Inclusive metatile-index range covering bbox_tile_range."""
    x0, y0, x1, y1 = bbox_tile_range(bbox_merc, zoom)
    size = min(scale, 1 << zoom)
    return (x0 // size, y0 // size, x1 // size, y1 // size)


def cover_slack(zoom: int, buffer_px: int) -> float:
    """Feature-prefilter pad at `zoom` (mercator units): one tile's
    clip-buffer plus one tile unit of rounding slack. Single source of
    truth — engine.cover_metatiles' scan/per-zoom prefilters,
    partition.cell_slack's write-side boundary duplication, and the
    executor-fleet harness's strip overlap all use THIS formula; the
    cell layout's render-completeness proof depends on them agreeing."""
    return (2.0 * MERC_MAX / (1 << zoom)) * ((buffer_px * 16 + 1) / 4096.0)
