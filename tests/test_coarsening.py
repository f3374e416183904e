"""Regression tests for the covering-cell coarsening bug (round-1 VERDICT
"What's wrong #1"): a bbox covering that exceeds ``max_cells`` coarsens its
resolution, and every consumer must still equi-join-match the other side —
previously the coarse ids silently matched NOTHING (zero join rows for any
polygon bbox > ~512 m at res 7, or any oblique camera footprint > 4096
cells), exactly the production geometry sizes the 100 TB path hits."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geograypher_spark.functions import cells as C
from geograypher_spark.functions import geometry as geom
from geograypher_spark.operators import spatial_join as SJ
from geograypher_spark.operators import visibility as V
from geograypher_spark.operators.overlay import polygon_overlap_join


def _square_wkb(cx, cy, half):
    ring = np.array([
        [cx - half, cy - half], [cx + half, cy - half],
        [cx + half, cy + half], [cx - half, cy + half]])
    return geom.polygon_to_wkb([ring])


def _poly_df(spark, specs):
    pdf = pd.DataFrame({
        "polygon_id": [s[0] for s in specs],
        "geometry_wkb": [_square_wkb(*s[1:]) for s in specs],
    })
    return spark.createDataFrame(pdf)


def _points_df(spark, pts):
    pdf = pd.DataFrame({
        "point_id": np.arange(len(pts), dtype=np.int64),
        "x": [p[0] for p in pts], "y": [p[1] for p in pts]})
    return spark.createDataFrame(pdf)


def test_covering_coarsens_and_levels_reported():
    # 1 km bbox at res 7 (8 m cells) would need 125*125 cells > 4096
    cc = C.covering_cells_np(0.0, 0.0, 1000.0, 1000.0, 7, max_cells=4096)
    levels = C.res_levels_of_cells(cc)
    assert levels and levels[0] < 7  # did coarsen
    assert len(cc) <= 4096


def test_cell_ancestor_col_matches_direct_encoding(spark):
    """ancestor(cell@r, level) == cell@level of the same point, negatives
    included (floor-div must behave like an arithmetic shift)."""
    pts = [(-1000.0, -3.0), (-0.5, 0.5), (1234.5, -777.25), (8191.0, 8191.0)]
    pdf = pd.DataFrame({"x": [p[0] for p in pts], "y": [p[1] for p in pts]})
    df = spark.createDataFrame(pdf)
    for r, lvl in [(7, 4), (9, 0), (5, 5)]:
        got = df.select(
            C.cell_ancestor_col(C.cell_id_col(F.col("x"), F.col("y"), r), lvl)
            .alias("a"),
            C.cell_id_col(F.col("x"), F.col("y"), lvl).alias("b"),
        ).collect()
        assert all(row["a"] == row["b"] for row in got), (r, lvl)


def test_points_in_large_polygon(spark):
    """The exact VERDICT repro: 1 km x 1 km polygon at default res — used to
    return ZERO rows."""
    polys = _poly_df(spark, [(1, 500.0, 500.0, 500.0)])  # 1 km square
    pts = _points_df(spark, [(500.0, 500.0), (10.0, 10.0), (990.0, 990.0),
                             (1500.0, 500.0), (-5.0, 500.0)])
    got = {(r["point_id"], r["polygon_id"])
           for r in SJ.points_in_polygons(pts, polys,
                                          point_keys=["point_id"]).collect()}
    assert got == {(0, 1), (1, 1), (2, 1)}


def test_points_mixed_size_polygons(spark):
    """One coarsened + one fine polygon in the same covering → the point
    side must key at BOTH resolutions."""
    polys = _poly_df(spark, [(1, 500.0, 500.0, 500.0),   # coarsens
                             (2, 2000.0, 2000.0, 5.0)])   # stays at res 7
    pts = _points_df(spark, [(500.0, 500.0), (2001.0, 2001.0),
                             (3000.0, 3000.0)])
    got = {(r["point_id"], r["polygon_id"])
           for r in SJ.points_in_polygons(pts, polys,
                                          point_keys=["point_id"]).collect()}
    assert got == {(0, 1), (1, 2)}
    # shuffle path (salt_factor=1: unsalted) takes the covering_res_levels
    # branch
    got2 = {(r["point_id"], r["polygon_id"])
            for r in SJ.points_in_polygons(
                pts, polys, point_keys=["point_id"],
                salt_factor=1).collect()}
    assert got2 == got


def test_triangles_overlap_large_polygon(spark):
    tris = pd.DataFrame({
        "face_id": [0, 1],
        "x0": [400.0, 5000.0], "y0": [400.0, 5000.0],
        "x1": [410.0, 5010.0], "y1": [400.0, 5000.0],
        "x2": [400.0, 5000.0], "y2": [410.0, 5010.0],
    })
    faces = spark.createDataFrame(tris)
    polys = _poly_df(spark, [(1, 500.0, 500.0, 500.0)])  # 1 km square
    got = SJ.triangles_polygon_overlap(faces, polys).collect()
    assert {r["face_id"] for r in got} == {0}
    assert got[0]["overlap_area"] == 50.0  # whole triangle inside


def test_overlay_large_x_small(spark):
    left = spark.createDataFrame(pd.DataFrame({
        "left_id": [0], "geometry_wkb": [_square_wkb(500.0, 500.0, 500.0)]}))
    right = spark.createDataFrame(pd.DataFrame({
        "right_id": [0, 1],
        "geometry_wkb": [_square_wkb(500.0, 500.0, 2.0),
                         _square_wkb(5000.0, 5000.0, 2.0)]}))
    got = polygon_overlap_join(left, right).collect()
    assert [(r["left_id"], r["right_id"]) for r in got] == [(0, 0)]
    assert got[0]["overlap_area"] == 16.0


def test_visibility_coarsened_footprint(spark):
    """Forcing the camera covering to coarsen (tiny max_cells) must not
    change the render at all (faces join at the coarse level instead)."""
    from tests.test_visibility import camera_df, faces_df, flat_mesh_tables

    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    cdf = camera_df(spark)
    base = V.visibility_join(cdf, fdf, res=8)  # 4m cells, no coarsening
    coarse = V.visibility_join(cdf, fdf, res=8, max_cells=4)  # forces coarsen
    a = {(r["camera_id"], r["face_id"]): r["pixel_count"] for r in base.collect()}
    b = {(r["camera_id"], r["face_id"]): r["pixel_count"] for r in coarse.collect()}
    assert a == b and sum(a.values()) == 200 * 200


class TestCoveringCellsBatch:
    def test_batch_equals_scalar_per_row(self):
        """covering_cells_batch must reproduce covering_cells_np row by
        row exactly — same coarsening decisions, same x-major order."""
        rng = np.random.default_rng(8)
        n = 60
        xmin = rng.uniform(-500, 500, n)
        ymin = rng.uniform(-500, 500, n)
        xmax = xmin + rng.uniform(0.01, 900, n)
        ymax = ymin + rng.uniform(0.01, 900, n)
        for res, max_cells in [(4, None), (6, 64), (8, 16), (10, 4096)]:
            cells, counts = C.covering_cells_batch(
                xmin, ymin, xmax, ymax, res, max_cells=max_cells)
            off = 0
            for i in range(n):
                want = C.covering_cells_np(
                    float(xmin[i]), float(ymin[i]), float(xmax[i]),
                    float(ymax[i]), res, max_cells=max_cells)
                got = cells[off:off + counts[i]]
                assert np.array_equal(got, want), (res, max_cells, i)
                off += counts[i]
            assert off == len(cells)

    def test_batch_empty(self):
        cells, counts = C.covering_cells_batch(
            np.array([]), np.array([]), np.array([]), np.array([]), 5,
            max_cells=10)
        assert len(cells) == 0 and len(counts) == 0
