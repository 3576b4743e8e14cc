"""Grid-cell spatial index (H3/S2-style) on the Web-Mercator tile grid.

Cells are slippy tiles at a fixed index zoom (the analog of an H3
resolution). All keying is pure column arithmetic — stays in whole-stage
codegen, no UDFs — so cell assignment pushes down to the scan and the
spatial joins become plain equi hash joins (J1/J4/J5, SURVEY.md §2.3).

cell_id packs (x, y) at the index zoom into one long: (x << 32) | y.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


def _pack(cx, cy):
    """cell_id of cell-index columns: (x << 32) | y."""
    return (cx * F.lit(1 << 32) + cy).cast("long")


def cell_xy_cols(mx, my, zoom: int):
    """(x, y) cell-index columns from mercator x/y columns, clamped to
    the grid."""
    n = 1 << zoom
    span = WORLD / n
    cx = F.least(F.lit(n - 1).cast("long"),
                 F.greatest(F.lit(0).cast("long"),
                            F.floor((mx + F.lit(MERC_MAX)) / F.lit(span))))
    cy = F.least(F.lit(n - 1).cast("long"),
                 F.greatest(F.lit(0).cast("long"),
                            F.floor((F.lit(MERC_MAX) - my) / F.lit(span))))
    return cx, cy


def cell_col(mx, my, zoom: int):
    """Cell id column from mercator x/y columns (clamped to the grid)."""
    return _pack(*cell_xy_cols(mx, my, zoom))


def bbox_cover_cells(df: DataFrame, zoom: int,
                     xmin="xmin", ymin="ymin", xmax="xmax", ymax="ymax",
                     out="cell") -> DataFrame:
    """Explode each row to every index cell its bbox covers (polygon-side
    prefilter of J4): the cells of its top-left and bottom-right corners
    by cell_xy_cols, and every cell between. Arithmetic + explode, no
    shuffle."""
    cx0, cy0 = cell_xy_cols(F.col(xmin), F.col(ymax), zoom)
    cx1, cy1 = cell_xy_cols(F.col(xmax), F.col(ymin), zoom)
    return (df
            .withColumn("_ccx", F.explode(F.sequence(cx0, cx1)))
            .withColumn("_ccy", F.explode(F.sequence(cy0, cy1)))
            .withColumn(out, _pack(F.col("_ccx"), F.col("_ccy")))
            .drop("_ccx", "_ccy"))


def latlng_cell_col(lat, lng, zoom: int):
    """Equal-angle lat/lng grid cell (pure Catalyst arithmetic): the
    pole-safe keying for lat/lng-space joins where mercator-grid cells
    degenerate (|lat| near 85°+ has no mercator cell at all). 2^zoom
    columns x 2^(zoom-1) rows of (360/2^zoom)° cells."""
    n = 1 << zoom
    cx = F.least(F.lit(n - 1).cast("long"),
                 F.greatest(F.lit(0).cast("long"),
                            F.floor((lng + F.lit(180.0)) / F.lit(360.0 / n))))
    ny = max(n // 2, 1)
    cy = F.least(F.lit(ny - 1).cast("long"),
                 F.greatest(F.lit(0).cast("long"),
                            F.floor((F.lit(90.0) - lat)
                                    / F.lit(180.0 / ny))))
    return _pack(cx, cy)


def h3_cell_col(lat, lng, resolution: int):
    """H3 cell id via the `h3` library (vectorized pandas UDF) — the
    adapter seam BASELINE.json's "H3/S2 indexing" names. The library is
    not baked into this container; callers get a clear ImportError (the
    slippy-grid cell_col / latlng_cell_col paths are the always-available
    equivalents, and s2.s2_cell_col is a REAL executing S2 implementation
    with no library dependency; every join in spatial.py keys on an
    opaque long, so the schemes are drop-in interchangeable)."""
    try:
        import h3  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "h3 library not available: use cell_col (mercator grid) or "
            "latlng_cell_col (equal-angle grid) instead") from e

    import pandas as pd
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _h3(lat_s: pd.Series, lng_s: pd.Series) -> pd.Series:
        import h3
        return pd.Series(
            [int(h3.latlng_to_cell(float(a), float(o), resolution), 16)
             for a, o in zip(lat_s, lng_s)], dtype="int64")

    return _h3(lat, lng)


def disk_cells(df: DataFrame, cx_col: str, cy_col: str, radius: int,
               zoom: int, out="cell") -> DataFrame:
    """grid_disk ring expansion (J5): explode each row to the (2r+1)^2
    cells around its cell — the H3 grid_disk analog on the square grid.
    Out-of-grid cells are filtered (not clamped) so no dedup shuffle is
    needed."""
    n = 1 << zoom
    nx = F.col(cx_col) + F.col("_dx")
    ny = F.col(cy_col) + F.col("_dy")
    return (df
            .withColumn("_dx", F.explode(F.sequence(F.lit(-radius),
                                                    F.lit(radius))))
            .withColumn("_dy", F.explode(F.sequence(F.lit(-radius),
                                                    F.lit(radius))))
            .filter((nx >= 0) & (nx < n) & (ny >= 0) & (ny < n))
            .withColumn(out, _pack(nx, ny))
            .drop("_dx", "_dy"))
