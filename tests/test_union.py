"""Per-class geometry union via boundary-edge extraction, on the scene."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geograypher_spark.functions import geometry as geom
from geograypher_spark.operators.union import face_class_union
from geograypher_spark.sources.scene import scene_to_spark


def kgon_area(r, k):
    return 0.5 * k * r * r * np.sin(2 * np.pi / k)


def test_class_union_areas(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    got = {r["class_id"]: r for r in face_class_union(faces, verts).collect()}
    # cube class 0: 4 objects, square base (k=4) radius 0.45
    # cylinder class 1: 5 objects, 12-gon; cone class 2: 3 objects, 12-gon
    expect = {
        0.0: 4 * kgon_area(0.45, 4),
        1.0: 5 * kgon_area(0.45, 12),
        2.0: 3 * kgon_area(0.45, 12),
    }
    assert got.keys() == expect.keys()
    for cls, area in expect.items():
        assert got[cls]["area"] == pytest.approx(area, rel=1e-9)
    assert got[0.0]["n_rings"] == 4
    assert got[1.0]["n_rings"] == 5
    assert got[2.0]["n_rings"] == 3


def test_union_geometry_contains_object_centers(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    unions = {r["class_id"]: bytes(r["geometry_wkb"])
              for r in face_class_union(faces, verts).collect()}
    # each object's footprint centroid must be inside its class union and
    # outside every other class union
    for p in scene.polygons:
        rings = geom.wkb_to_rings(p["wkb"])
        cx, cy = geom.ring_centroid(np.vstack([rings[0][0], rings[0][0][:1]])
                                    if len(rings[0][0]) < 3 else rings[0][0])
        for cls, wkb in unions.items():
            hit = geom.points_in_wkb(np.array([cx]), np.array([cy]), wkb)[0]
            assert hit == (cls == float(p["class_id"]))


def test_ground_plane_union_open_sheet(spark, scene):
    """Ground faces (class NULL) tagged with a fake class → whole plane."""
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    ground = faces.filter(F.col("class_id").isNull()).withColumn(
        "class_id", F.lit(99.0))
    got = face_class_union(ground, verts).collect()
    assert len(got) == 1
    size = scene.params["size"]
    assert got[0]["area"] == pytest.approx(size * size)
    assert got[0]["n_rings"] == 1


def test_union_class_with_hole(spark):
    """Integer grid (16x16 quads): class 1 is the 4x4 block at 4..8,
    a hole inside class 0. Class 0 → outer ring + hole ring, area
    256 − 16; the hole's centre is outside class 0 and inside class 1."""
    from geograypher_spark.plans.driver_queries import _union_grid_spark

    faces, verts = _union_grid_spark(spark)
    got = {r["class_id"]: r for r in face_class_union(faces, verts).collect()}
    assert got.keys() == {0.0, 1.0}
    assert got[0.0]["n_rings"] == 2
    assert got[0.0]["area"] == 256.0 - 16.0
    assert got[1.0]["n_rings"] == 1
    assert got[1.0]["area"] == 16.0
    rings = [r for poly in geom.wkb_to_rings(bytes(got[0.0]["geometry_wkb"]))
             for r in poly]
    assert sorted(abs(geom.ring_signed_area(r)) for r in rings) == [16.0, 256.0]
    px, py = np.array([6.0, 1.5]), np.array([6.0, 1.5])  # hole centre, class 0
    in0 = geom.points_in_wkb(px, py, bytes(got[0.0]["geometry_wkb"]))
    in1 = geom.points_in_wkb(px, py, bytes(got[1.0]["geometry_wkb"]))
    assert in0.tolist() == [False, True]
    assert in1.tolist() == [True, False]


class TestNonOverlapResolution:
    """W3 vector-space resolution (reference utils/geospatial.py:74-107)."""

    def _unions_df(self, spark, specs):
        import pandas as pd

        pdf = pd.DataFrame({
            "class_id": [float(c) for c, _ in specs],
            "geometry_wkb": [geom.multipolygon_to_wkb(p) for _, p in specs],
        })
        return spark.createDataFrame(pdf)

    def test_overlapping_squares_become_disjoint(self, spark):
        from geograypher_spark.operators.union import ensure_non_overlapping_unions

        sq = lambda x0, y0, s: [[geom.rect_ring(x0, y0, x0 + s, y0 + s)]]
        # class 2 (small, area 4) overlaps class 1 (big, area 100) corner
        df = self._unions_df(spark, [(1, sq(0, 0, 10)), (2, sq(9, 9, 2))])
        got = {r["class_id"]: r for r in
               ensure_non_overlapping_unions(df).collect()}
        # smaller class processed first → keeps its full area
        assert got[2.0]["area"] == pytest.approx(4.0)
        # larger loses the 1x1 overlap corner
        assert got[1.0]["area"] == pytest.approx(99.0)
        a = geom.wkb_to_rings(bytes(got[1.0]["geometry_wkb"]))
        b = geom.wkb_to_rings(bytes(got[2.0]["geometry_wkb"]))
        assert geom.polygon_intersection_area(a, b) == pytest.approx(0.0, abs=1e-9)

    def test_three_way_chain_and_hole(self, spark):
        from geograypher_spark.operators.union import ensure_non_overlapping_unions

        ring = geom.rect_ring
        # class 1: big square WITH a hole; class 2 overlaps the hole edge;
        # class 3 tiny, overlapping both
        c1 = [[ring(0, 0, 12, 12), ring(4, 4, 8, 8)]]      # area 144-16=128
        c2 = [[ring(3, 3, 9, 9)]]                          # area 36
        c3 = [[ring(2.5, 2.5, 4.5, 4.5)]]                  # area 4
        df = self._unions_df(spark, [(1, c1), (2, c2), (3, c3)])
        got = {r["class_id"]: r for r in
               ensure_non_overlapping_unions(df).collect()}
        assert got[3.0]["area"] == pytest.approx(4.0)      # smallest: intact
        # class 2 loses its overlap with class 3 (area 4 ∩ = 2x2 at 2.5..4.5
        # clipped to 3..4.5 = 1.5x1.5)
        assert got[2.0]["area"] == pytest.approx(36.0 - 1.5 * 1.5)
        # c1 ∖ (c2 ∪ c3): c1 region = 128. c1∩c2 = 36 − 16 (hole 4..8 is
        # inside c2) = 20. c1∩c3 = 4 − 0.25 (hole corner) = 3.75, of which
        # already inside c2: (3..4.5)² minus hole corner = 2.25 − 0.25 = 2.0
        # → exclusive c3 part = 1.75. Final: 128 − 20 − 1.75 = 106.25.
        assert got[1.0]["area"] == pytest.approx(106.25)
        # pairwise disjoint
        geoms = {k: geom.wkb_to_rings(bytes(v["geometry_wkb"]))
                 for k, v in got.items()}
        for x in geoms:
            for y in geoms:
                if x < y:
                    assert geom.polygon_intersection_area(
                        geoms[x], geoms[y]) == pytest.approx(0.0, abs=1e-9)

    def test_many_classes_dense_rings_resolve_fast(self, spark):
        """50 classes x ~2000-vertex rings (≈1e5 accumulated triangles):
        the bbox-pruned, executor-side recurrence must stay in seconds —
        the unpruned loop rescanned every accumulated triangle per class
        (round-2 VERDICT #6 acceptance fixture)."""
        import time

        from geograypher_spark.operators.union import ensure_non_overlapping_unions

        def dense_square(x0, s=1.0, v_per_side=500):
            t = np.linspace(0.0, s, v_per_side, endpoint=False)
            bottom = np.stack([x0 + t, np.zeros_like(t)], axis=1)
            right = np.stack([np.full_like(t, x0 + s), t], axis=1)
            top = np.stack([x0 + s - t, np.full_like(t, s)], axis=1)
            left = np.stack([np.full_like(t, x0), s - t], axis=1)
            return np.vstack([bottom, right, top, left])

        # squares overlap their right neighbor by 0.1
        specs = [(k, [[dense_square(k * 0.9)]]) for k in range(50)]
        df = self._unions_df(spark, specs)
        t0 = time.perf_counter()
        got = {r["class_id"]: r for r in
               ensure_non_overlapping_unions(df).collect()}
        elapsed = time.perf_counter() - t0
        assert elapsed < 60, f"resolution took {elapsed:.1f}s"
        assert len(got) == 50
        # each class keeps 1.0 minus 0.1 per already-processed neighbor
        for k in range(50):
            assert got[float(k)]["area"] == pytest.approx(
                [1.0, 0.9, 0.8][round((1.0 - got[float(k)]["area"]) / 0.1)],
                rel=1e-9)
        # outputs partition the union of all squares exactly
        total = sum(r["area"] for r in got.values())
        assert total == pytest.approx(1.0 + 49 * 0.9, rel=1e-9)
        # adjacent (formerly overlapping) pairs are now disjoint
        for k in (0, 17, 48):
            a = geom.wkb_to_rings(bytes(got[float(k)]["geometry_wkb"]))
            b = geom.wkb_to_rings(bytes(got[float(k + 1)]["geometry_wkb"]))
            assert geom.polygon_intersection_area(a, b) == pytest.approx(
                0.0, abs=1e-9)
