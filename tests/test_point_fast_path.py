"""Parity test: the vectorized points kernel of the geometry stage must be
row-for-row identical to the scalar chain, including tile-border
duplication and buffered fan-out."""

import pytest

from tileigi_spark import engine as eng
from tileigi_spark.geom.wkb import geom_to_wkb, write_ragged
from tileigi_spark.mercator import MERC_MAX

WORLD = 2.0 * MERC_MAX


def _mk_points(spark):
    rows = []
    fid = 0
    # scattered points
    for i in range(60):
        mx = (((i * 7919) % 1000) / 1000.0 - 0.5) * WORLD
        my = (((i * 104729) % 1000) / 1000.0 - 0.5) * WORLD * 0.9
        rows.append((fid, geom_to_wkb(("Point", (mx, my))), f"p{fid}"))
        fid += 1
    # exact tile-border points at z3 (u multiple of 4096)
    for k in range(1, 8):
        mx = WORLD * k / 8.0 - MERC_MAX
        my = WORLD * 0.25 - MERC_MAX
        rows.append((fid, geom_to_wkb(("Point", (mx, my))), f"b{fid}"))
        fid += 1
    # metatile-border point (z5, metatile boundary)
    rows.append((fid, geom_to_wkb(("Point", (0.0, 0.0))), "origin"))
    fid += 1
    # just-outside-buffer points
    rows.append((fid, geom_to_wkb(("Point", (-MERC_MAX * 0.999999,
                                             MERC_MAX * 0.999999))), "edge"))
    return spark.createDataFrame(rows,
                                 "feature_id long, way binary, name string")


@pytest.mark.parametrize("buffer_px", [0, 2])
def test_fast_slow_parity(spark, buffer_px, monkeypatch):
    """Fast side: geometry_stage through Spark (the router's points
    kernel). Slow side: the same covered rows through process_general
    with SPARK_GRAFT_FORCE_SCALAR_GEOM=1 set in this process, i.e. the
    scalar chain for every row."""
    import tileigi_spark.geom.batch as B

    feats = _mk_points(spark)
    zooms = [0, 3, 5]
    covered = eng.cover_metatiles(eng.with_bbox(feats), zooms, buffer_px)

    pieces = eng.geometry_stage(covered, "l", buffer_px, global_maxzoom=14)
    fast = sorted(
        (r["zoom"], r["x"], r["y"], r["feature_id"], bytes(r["geom"]),
         r["name"])
        for r in pieces.collect())

    monkeypatch.setenv("SPARK_GRAFT_FORCE_SCALAR_GEOM", "1")
    monkeypatch.setattr(B, "_points_lane", None)  # must not be reached
    pdf = covered.drop("xmin", "ymin", "xmax", "ymax").toPandas()
    slow_df, rag = B.process_general(pdf, ["name"], buffer_px * 16, 8, 14,
                                     8)
    slow = sorted(
        (int(r.zoom), int(r.x), int(r.y), int(r.feature_id), w, r.name)
        for r, w in zip(slow_df.itertuples(index=False), write_ragged(rag)))

    assert len(fast) > 0
    assert fast == slow

    # border point b60 sits on a tile corner at z3 (u and v both multiples
    # of 4096) -> duplicated into all four adjacent tiles
    border = [t for t in fast if t[0] == 3 and t[5] == "b60"]
    assert len(border) == 4
    assert sorted((t[1], t[2]) for t in border) == \
        [(0, 5), (0, 6), (1, 5), (1, 6)]
