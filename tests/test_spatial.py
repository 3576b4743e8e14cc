"""Spatial join tests: point-in-polygon (J4) and kNN (J5) against
brute-force oracles computed in pandas."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from tileigi_spark.fixtures import admin_polygons_df, make_admin_polygons
from tileigi_spark.spatial import point_in_polygon_join, knn_join, \
    point_in_polygon
from tileigi_spark.geom.wkb import geom_to_wkb, wkb_to_geom
from tileigi_spark.mercator import MERC_MAX


def _point_grid(spark, n):
    """Deterministic points across the world in mercator coords."""
    rows = []
    for i in range(n):
        mx = -MERC_MAX * 0.9 + (i * 7919 % 1000) / 1000.0 * 1.8 * MERC_MAX
        my = -MERC_MAX * 0.7 + (i * 104729 % 1000) / 1000.0 * 1.4 * MERC_MAX
        rows.append((i, mx, my))
    return spark.createDataFrame(rows, "pid long, mx double, my double"), rows


def _brute_knn(qrows, crows, k, cand_offset=0):
    expected = set()
    for qid, qxv, qyv in qrows:
        scored = sorted(((qxv - mx) ** 2 + (qyv - my) ** 2, pid + cand_offset)
                        for pid, mx, my in crows)
        for rank, (_, cid) in enumerate(scored[:k], start=1):
            expected.add((qid, cid, rank))
    return expected


class TestPip:
    def test_matches_bruteforce(self, spark):
        points, prows = _point_grid(spark, 300)
        polys = admin_polygons_df(spark)
        got = point_in_polygon_join(points, polys, index_zoom=5)
        got_pairs = {(r["pid"], r["admin_id"]) for r in got.collect()}

        admin = make_admin_polygons()
        geoms = [(r.admin_id, wkb_to_geom(bytes(r.way)))
                 for r in admin.itertuples(index=False)]
        expected = set()
        for pid, mx, my in prows:
            for aid, g in geoms:
                if point_in_polygon(mx, my, g):
                    expected.add((pid, aid))
        assert got_pairs == expected
        assert len(expected) > 50  # fixture sanity

    def test_hole_excluded(self, spark):
        admin = make_admin_polygons()
        # admin_id 4 has a centered hole
        row = admin[admin.admin_id == 4].iloc[0]
        g = wkb_to_geom(bytes(row.way))
        rings = g[1]
        ext = rings[0]
        cx = (ext[0][0] + ext[2][0]) / 2
        cy = (ext[0][1] + ext[2][1]) / 2
        assert len(rings) == 2
        assert not point_in_polygon(cx, cy, g)  # inside hole -> out
        assert point_in_polygon(ext[0][0] + 10.0, ext[0][1] + 10.0, g)


class TestKnn:
    def test_matches_bruteforce(self, spark):
        queries, qrows = _point_grid(spark, 20)
        queries = queries.select(F.col("pid").alias("query_id"),
                                 F.col("mx").alias("qx"),
                                 F.col("my").alias("qy"))
        cands, crows = _point_grid(spark, 400)
        # shift candidate ids so streams differ
        cands = cands.select((F.col("pid") + 1000).alias("cand_id"),
                             F.col("mx").alias("cx"),
                             F.col("my").alias("cy"))
        k = 3
        got = knn_join(queries, cands, k=k, index_zoom=4)
        got_pairs = {(r["query_id"], r["cand_id"], r["knn_rank"])
                     for r in got.collect()}
        assert got_pairs == _brute_knn(qrows, crows, k, cand_offset=1000)


def test_latlng_cell_grid(spark):
    """Pole-safe equal-angle lat/lng cells: points above the mercator
    latitude limit still get distinct, joinable keys."""
    from tileigi_spark.index import latlng_cell_col

    df = spark.createDataFrame(
        [(1, 89.5, 10.0), (2, 89.5, 10.1), (3, 89.5, -170.0),
         (4, -89.5, 10.0), (5, 0.0, 0.0)],
        "pid long, lat double, lng double")
    got = {r["pid"]: r["cell"] for r in df.select(
        "pid", latlng_cell_col(F.col("lat"), F.col("lng"), 8)
        .alias("cell")).collect()}
    assert got[1] == got[2]          # same 1.4-degree cell near the pole
    assert got[1] != got[3]          # far-apart longitudes differ
    assert got[1] != got[4]          # opposite poles differ
    assert len(set(got.values())) == 4


def test_h3_adapter_seam(spark):
    """h3_cell_col either produces H3 cells (library present) or raises
    the documented ImportError pointing at the grid alternatives."""
    from tileigi_spark.index import h3_cell_col

    try:
        import h3  # noqa: F401
    except ImportError:
        import pytest
        with pytest.raises(ImportError, match="cell_col"):
            h3_cell_col(F.col("lat"), F.col("lng"), 7)
        return
    df = spark.createDataFrame([(48.85, 2.35), (48.86, 2.36)],
                               "lat double, lng double")
    cells = df.select(h3_cell_col(F.col("lat"), F.col("lng"), 5)
                      .alias("c")).collect()
    assert cells[0]["c"] == cells[1]["c"]


def test_knn_straggler_needs_full_grid_pass(spark):
    """A query whose neighbors are all far away rides the ring expansion
    to the full-grid pass; with a 2^9 grid (n=512, not a power of 4) the
    x4 radius growth must clamp to n or the final pass is jumped over
    and the query silently dropped."""
    from tileigi_spark.spatial import knn_join

    M = 20037508.342789244
    cands = spark.createDataFrame(
        [(i, -M * 0.9 + i * 1000.0, -M * 0.9 + i * 500.0)
         for i in range(10)],
        "cand_id long, cx double, cy double")
    qs = spark.createDataFrame(
        [(1, M * 0.9, M * 0.9), (2, -M * 0.9, -M * 0.9)],
        "query_id long, qx double, qy double")
    got = knn_join(qs, cands, k=3, index_zoom=9)
    per_q = {r["query_id"]: r["cnt"] for r in
             got.groupBy("query_id").agg(F.count("*").alias("cnt"))
             .collect()}
    assert per_q == {1: 3, 2: 3}
    # the far query's nearest candidate is the cluster's max-index corner
    top = {(r["query_id"], r["knn_rank"]): r["cand_id"]
           for r in got.collect()}
    assert top[(1, 1)] == 9
    assert top[(2, 1)] == 0


def test_knn_work_dir_staging(spark, tmp_path):
    """Cluster-safe staging: an explicit work_dir receives the round
    parquet (the driver-local tempfile default is only correct in local
    mode), the query staging is gone once knn_join returns, and results
    are identical to the default path. A later call into the same
    work_dir (once the first result is consumed) returns its own rows
    only."""
    import os

    queries, qrows = _point_grid(spark, 10)
    queries = queries.select(F.col("pid").alias("query_id"),
                             F.col("mx").alias("qx"),
                             F.col("my").alias("qy"))
    cands, crows = _point_grid(spark, 200)
    cands = cands.select((F.col("pid") + 1000).alias("cand_id"),
                         F.col("mx").alias("cx"), F.col("my").alias("cy"))
    work = str(tmp_path / "knn_stage")
    got = knn_join(queries, cands, k=2, index_zoom=4, work_dir=work)
    assert os.path.isdir(os.path.join(work, "round_1"))  # staged where told
    assert not os.path.exists(os.path.join(work, "queries"))
    got_pairs = {(r["query_id"], r["cand_id"], r["knn_rank"])
                 for r in got.collect()}
    assert got_pairs == _brute_knn(qrows, crows, 2, cand_offset=1000)
    again = knn_join(queries, cands, k=2, index_zoom=4, work_dir=work)
    again = [(r["query_id"], r["cand_id"], r["knn_rank"])
             for r in again.collect()]
    assert len(again) == len(got_pairs) and set(again) == got_pairs


@pytest.mark.parametrize("disk_rows", [4_000_000, 0])
def test_knn_sparse_rounds_reach_the_full_grid(spark, tmp_path, monkeypatch,
                                               disk_rows):
    """Candidates clustered in one corner, queries spread over the world
    at index_zoom 4 (n=16): queries finish in different rounds (radius
    1, 4 and the full-grid 16), each round's final rows are returned
    once. disk_rows=0 sends every round through the shuffle join."""
    import os

    import tileigi_spark.spatial as spatial

    monkeypatch.setattr(spatial, "_BROADCAST_DISK_ROWS", disk_rows)
    crows = [(i, -MERC_MAX * 0.95 + (i % 4) * 9000.0,
              MERC_MAX * 0.95 - (i // 4) * 7000.0) for i in range(12)]
    qrows = [(q, -MERC_MAX * 0.9 + (q * 7919 % 100) / 100.0 * 1.8 * MERC_MAX,
              -MERC_MAX * 0.9 + (q * 104729 % 100) / 100.0 * 1.8 * MERC_MAX)
             for q in range(24)] + [(99, crows[5][1] + 10.0, crows[5][2])]
    cands = spark.createDataFrame(crows, "cand_id long, cx double, cy double")
    queries = spark.createDataFrame(qrows,
                                    "query_id long, qx double, qy double")
    work = str(tmp_path / "knn")
    got = knn_join(queries, cands, k=3, index_zoom=4, work_dir=work)
    rows = got.collect()
    assert {(r["query_id"], r["cand_id"], r["knn_rank"]) for r in rows} \
        == _brute_knn(qrows, crows, 3)
    assert len(rows) == 3 * len(qrows)
    assert all(os.path.isdir(os.path.join(work, f"round_{r}"))
               for r in (1, 4, 16))


def test_knn_ring_safety_bound(spark):
    """k candidates inside the radius-1 disk do not finish a query whose
    k-th is farther than the disk's guaranteed radius: a closer
    candidate can sit just outside the disk (index_zoom 4, query at the
    right edge of its cell, the in-disk candidate 1.89 cells away, the
    outside one 1.06)."""
    span = 2.0 * MERC_MAX / 16
    qs = spark.createDataFrame([(1, 0.99 * span, -0.5 * span)],
                               "query_id long, qx double, qy double")
    cands = spark.createDataFrame(
        [(10, -0.9 * span, -0.5 * span), (11, 2.05 * span, -0.5 * span)],
        "cand_id long, cx double, cy double")
    got = knn_join(qs, cands, k=1, index_zoom=4).collect()
    assert [(r["query_id"], r["cand_id"], r["knn_rank"]) for r in got] \
        == [(1, 11, 1)]


def test_knn_large_round_does_not_broadcast_the_disks(spark):
    """Catalyst sizes an exploded disk by its input rows: a round over
    the bound must not be planned as a broadcast of the disks."""
    from tileigi_spark.index import cell_col, cell_xy_cols
    from tileigi_spark.spatial import _BROADCAST_DISK_ROWS, _disk_join

    cands = spark.createDataFrame([(1, 0.0, 0.0)],
                                  "cand_id long, cx double, cy double")
    cands = cands.withColumn("cell", cell_col(F.col("cx"), F.col("cy"), 9))
    qcx, qcy = cell_xy_cols(F.lit(0.0), F.lit(0.0), 9)
    queries = spark.range(40).withColumn("_qcx", qcx).withColumn("_qcy", qcy)

    def plan(n_remaining, radius):
        return _disk_join(cands, queries, n_remaining, radius, 9) \
            ._jdf.queryExecution().executedPlan().toString()

    small = plan(40, 1)
    assert "BroadcastHashJoin" in small and "SortMergeJoin" not in small
    assert 40 * 513 ** 2 > _BROADCAST_DISK_ROWS
    large = plan(40, 256)
    assert "SortMergeJoin" in large
    assert "Broadcast" not in large, large


def test_pip_streamed_fallback_matches_broadcast(spark):
    """The large-polygon-table fallback (WKB streamed through the cover
    join) must produce the same matches as the broadcast-dict path."""
    points, _ = _point_grid(spark, 150)
    polys = admin_polygons_df(spark)
    fast = point_in_polygon_join(points, polys, index_zoom=5)
    slow = point_in_polygon_join(points, polys, index_zoom=5,
                                 max_broadcast_polys=0)
    fp = {(r["pid"], r["admin_id"]) for r in fast.collect()}
    sp = {(r["pid"], r["admin_id"]) for r in slow.collect()}
    assert fp == sp and len(fp) > 20


def _pip_table(spark, quad=False):
    """Boxes of both windings, one as a MultiPolygon-of-one; with
    quad=True one box becomes a non-axis quad."""
    rows = []
    for i in range(12):
        x0 = -MERC_MAX * 0.8 + (i % 4) * MERC_MAX * 0.4
        y0 = -MERC_MAX * 0.6 + (i // 4) * MERC_MAX * 0.4
        x1, y1 = x0 + MERC_MAX * 0.3, y0 + MERC_MAX * 0.35
        ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)]
        if i % 2:
            ring = ring[::-1]
        geom = ("Polygon", [ring])
        if i == 5:
            geom = ("MultiPolygon", [[ring]])
        if quad and i == 6:
            geom = ("Polygon", [[(x0, y0), (x1, y0 + MERC_MAX * 0.1),
                                 (x1, y1), (x0, y1), (x0, y0)]])
        rows.append((100 + i, geom_to_wkb(geom)))
    return spark.createDataFrame(rows, "area_id long, way binary"), rows


def _pip_check(spark, quad):
    points, prows = _point_grid(spark, 400)
    polys, rows = _pip_table(spark, quad)
    got = point_in_polygon_join(points, polys, index_zoom=5)
    pairs = {(r["pid"], r["area_id"]) for r in got.collect()}
    expected = {(pid, aid) for pid, mx, my in prows for aid, w in rows
                if point_in_polygon(mx, my, wkb_to_geom(w))}
    assert pairs == expected and len(expected) > 20
    return got._jdf.queryExecution().executedPlan().toString()


def _assert_points_probe_a_broadcast_cover(plan):
    """The polygon cover relation is the broadcast build side, the
    points are never exchanged and no polygon WKB rides the candidate
    stream."""
    assert "BroadcastHashJoin" in plan and "BuildRight" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "way#" not in plan, plan


def test_pip_all_rects_refine_in_the_jvm(spark):
    """Every polygon an axis rect (both windings, a MultiPolygon-of-one):
    the refine is a JVM comparison, no Python eval node in the plan."""
    plan = _pip_check(spark, quad=False)
    assert "EvalPython" not in plan
    _assert_points_probe_a_broadcast_cover(plan)


def test_pip_non_axis_quad_takes_the_exact_refine(spark):
    plan = _pip_check(spark, quad=True)
    assert "EvalPython" in plan
    _assert_points_probe_a_broadcast_cover(plan)


@pytest.mark.parametrize("quad", [False, True], ids=["rects", "quad"])
def test_pip_polygon_relation_is_a_local_relation(spark, quad):
    """The one-row-per-polygon relation reaches the JVM as a
    LocalRelation (no Python worker unpickles it) and carries string,
    int, bigint and double attributes, NULLs included, unchanged."""
    import pyarrow as pa

    _, prows = _point_grid(spark, 400)
    # points as an Arrow table too, so any Python-RDD scan in the plan
    # would be the polygon relation's
    points = spark.createDataFrame(pa.table(
        dict(zip(("pid", "mx", "my"), map(list, zip(*prows))))))
    _, rows = _pip_table(spark, quad)
    attrs = [("name'" + str(aid) if aid % 3 else None,
              None if aid % 4 == 1 else aid - 100,
              None if aid % 5 == 2 else aid * 2 ** 33,
              None if aid % 3 == 1 else aid / 7.0)
             for aid, _ in rows]
    polys = spark.createDataFrame(
        [(aid, *a, w) for (aid, w), a in zip(rows, attrs)],
        "area_id long, name string, rank int, big bigint, score double, "
        "way binary")
    got = point_in_polygon_join(points, polys, index_zoom=5)
    plan = str(got._jdf.queryExecution().optimizedPlan())
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert got.columns == ["pid", "mx", "my", "area_id", "name", "rank",
                           "big", "score"]
    expected = sorted(
        (pid, mx, my, aid, *a) for pid, mx, my in prows
        for (aid, w), a in zip(rows, attrs)
        if point_in_polygon(mx, my, wkb_to_geom(w)))
    assert sorted(tuple(r) for r in got.collect()) == expected
    assert len(expected) > 20


def test_knn_staging_cleanup_failure_logs_a_named_fallback(spark, tmp_path,
                                                           caplog):
    """_fs_delete is best effort: a round directory the FileSystem API
    cannot delete (here: a scheme with no FileSystem) is logged and left,
    not raised; a deletable one is removed."""
    import logging

    from tileigi_spark.spatial import _fs_delete

    gone = tmp_path / "rem_1"
    gone.mkdir()
    (gone / "part-0.parquet").write_bytes(b"x")
    with caplog.at_level(logging.WARNING, logger="tileigi_spark.spatial"):
        _fs_delete(spark, str(gone))
        assert not caplog.records
        _fs_delete(spark, "no-such-scheme://host/knn/rem_1")
    assert not gone.exists()
    rec, = caplog.records
    assert rec.getMessage().startswith(
        "knn staging cleanup failed: no-such-scheme://host/knn/rem_1")


def test_row_count_without_plan_stats_logs_and_counts(spark, caplog):
    """_approx_row_count falls back to a counting job, with a named log
    line, when the plan statistics cannot be read over py4j."""
    import logging

    from py4j.protocol import Py4JError

    from tileigi_spark.spatial import _approx_row_count

    df = spark.range(37)

    class NoPlanStats:
        """df with a JVM handle whose queryExecution() fails."""

        class _jdf:
            @staticmethod
            def queryExecution():
                raise Py4JError("no plan statistics")

        count = staticmethod(df.count)

    with caplog.at_level(logging.WARNING, logger="tileigi_spark.spatial"):
        assert _approx_row_count(df) == 37
        assert not caplog.records
        assert _approx_row_count(NoPlanStats()) == 37
    rec, = caplog.records
    assert rec.getMessage().startswith("row-count stats unavailable: counting")
