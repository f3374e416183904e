"""Unit tests for the pure-numpy geometry/camera kernels.

Numeric expectations mirror the reference's hand-computed oracles
(``tests/test_numeric.py:18-177``, ``tests/test_geometric.py``) — ported as
values, not code.
"""

import numpy as np
import pytest

from geograypher_spark.functions import camera as cam
from geograypher_spark.functions import cells as C
from geograypher_spark.functions import geometry as geom


class TestCells:
    def test_roundtrip(self):
        rng = np.random.default_rng(0)
        x = rng.uniform(-5000, 5000, 1000)
        y = rng.uniform(-5000, 5000, 1000)
        for res in (0, 5, 12):
            cell = C.cell_id_np(x, y, res)
            r, ix, iy = C.cell_decode_np(cell)
            assert (r == res).all()
            s = C.cell_size(res)
            np.testing.assert_array_equal(ix, np.floor(x / s).astype(np.int64))
            np.testing.assert_array_equal(iy, np.floor(y / s).astype(np.int64))

    def test_bounds_contain_point(self):
        x, y = np.array([123.456]), np.array([-78.9])
        cell = C.cell_id_np(x, y, 9)
        xmin, ymin, xmax, ymax = C.cell_bounds_np(cell)
        assert xmin[0] <= x[0] < xmax[0]
        assert ymin[0] <= y[0] < ymax[0]

    def test_ring(self):
        cell = int(C.cell_id_np(np.array([100.0]), np.array([100.0]), 8)[0])
        ring = C.cell_ring_np(cell, k=1)
        assert len(ring) == 9
        assert cell in ring
        ring2 = C.cell_ring_np(cell, k=2)
        assert len(ring2) == 25
        assert set(ring).issubset(set(ring2))

    def test_covering(self):
        cc = C.covering_cells_np(0.0, 0.0, 10.0, 10.0, 7)  # 8m cells
        assert len(cc) == 4  # 2x2
        # cap coarsens resolution; bottoms out at res 0 (best-effort bound)
        cc_cap = C.covering_cells_np(0.0, 0.0, 10000.0, 10000.0, 10, max_cells=128)
        assert len(cc_cap) <= 128
        res, _, _ = C.cell_decode_np(cc_cap)
        assert (res < 10).all()


class TestWkbPip:
    def test_wkb_roundtrip(self):
        ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        wkb = geom.polygon_to_wkb([ring])
        polys = geom.wkb_to_rings(wkb)
        assert len(polys) == 1
        np.testing.assert_allclose(polys[0][0][:-1], ring)

    def test_pip_square(self):
        ring = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
        wkb = geom.polygon_to_wkb([ring])
        px = np.array([2.0, 5.0, -1.0, 3.9])
        py = np.array([2.0, 2.0, 2.0, 3.9])
        np.testing.assert_array_equal(
            geom.points_in_wkb(px, py, wkb), [True, False, False, True])

    def test_pip_with_hole(self):
        outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], dtype=float)
        hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], dtype=float)
        wkb = geom.polygon_to_wkb([outer, hole])
        px = np.array([5.0, 2.0])
        py = np.array([5.0, 2.0])
        np.testing.assert_array_equal(geom.points_in_wkb(px, py, wkb), [False, True])

    def test_pip_concave(self):
        # L-shape
        ring = np.array([[0, 0], [4, 0], [4, 2], [2, 2], [2, 4], [0, 4]], dtype=float)
        wkb = geom.polygon_to_wkb([ring])
        px = np.array([3.0, 3.0, 1.0])
        py = np.array([1.0, 3.0, 3.0])
        np.testing.assert_array_equal(geom.points_in_wkb(px, py, wkb), [True, False, True])

    def test_multipolygon(self):
        a = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
        b = np.array([[5, 5], [6, 5], [6, 6], [5, 6]], dtype=float)
        wkb = geom.multipolygon_to_wkb([[a], [b]])
        px = np.array([0.5, 5.5, 3.0])
        py = np.array([0.5, 5.5, 3.0])
        np.testing.assert_array_equal(geom.points_in_wkb(px, py, wkb), [True, True, False])

    def test_area_centroid(self):
        ring = np.array([[0, 0], [4, 0], [4, 2], [0, 2], [0, 0]], dtype=float)
        assert geom.ring_signed_area(ring) == pytest.approx(8.0)
        cx, cy = geom.ring_centroid(ring)
        assert (cx, cy) == pytest.approx((2.0, 1.0))


class TestClip:
    def test_clip_fully_inside(self):
        subj = np.array([[1, 1], [2, 1], [2, 2], [1, 2]], dtype=float)
        clip = geom.rect_ring(0, 0, 4, 4)
        assert geom.clip_area_convex(subj, clip) == pytest.approx(1.0)

    def test_clip_partial(self):
        subj = np.array([[2, 2], [6, 2], [6, 6], [2, 6]], dtype=float)
        clip = geom.rect_ring(0, 0, 4, 4)
        assert geom.clip_area_convex(subj, clip) == pytest.approx(4.0)

    def test_clip_disjoint(self):
        subj = np.array([[10, 10], [11, 10], [11, 11]], dtype=float)
        clip = geom.rect_ring(0, 0, 4, 4)
        assert geom.clip_area_convex(subj, clip) == 0.0

    def test_clip_triangle_area_additive(self):
        # triangle split across two adjacent tiles: areas sum to total
        tri = np.array([[1, 1], [7, 1], [4, 5]], dtype=float)
        total = abs(geom.ring_signed_area(np.vstack([tri, tri[:1]])))
        a1 = geom.clip_area_convex(tri, geom.rect_ring(0, 0, 4, 8))
        a2 = geom.clip_area_convex(tri, geom.rect_ring(4, 0, 8, 8))
        assert a1 + a2 == pytest.approx(total)


class TestCamera:
    def _nadir(self, x=0.0, y=0.0, z=10.0):
        return np.array([[1, 0, 0, x], [0, -1, 0, y], [0, 0, -1, z], [0, 0, 0, 1.0]])

    def test_project_center(self):
        c2w = self._nadir()
        px, py, depth = cam.project_points(
            np.array([[0.0, 0.0, 0.0]]), c2w, f=100, cx=0, cy=0, w=200, h=200)
        assert (px[0], py[0]) == pytest.approx((100.0, 100.0))
        assert depth[0] == pytest.approx(10.0)

    def test_project_offset_point(self):
        # point 1m east of a nadir camera at 10m with f=100 → 10 px right
        c2w = self._nadir()
        px, py, _ = cam.project_points(
            np.array([[1.0, 0.0, 0.0]]), c2w, f=100, cx=0, cy=0, w=200, h=200)
        assert px[0] == pytest.approx(110.0)
        assert py[0] == pytest.approx(100.0)

    def test_cast_rays_inverse_of_project(self):
        c2w = self._nadir(x=3.0, y=4.0, z=12.0)
        pts = np.array([[3.5, 4.5, 0.0], [2.0, 4.0, 0.5]])
        px, py, depth = cam.project_points(pts, c2w, f=120, cx=0, cy=0, w=200, h=200)
        starts, ends = cam.cast_rays(px, py, c2w, f=120, cx=0, cy=0, w=200, h=200)
        d = ends - starts
        # ray from camera through the pixel must pass through the 3D point
        t = (pts[:, 2] - starts[:, 2]) / d[:, 2]
        hit = starts + d * t[:, None]
        np.testing.assert_allclose(hit, pts, atol=1e-9)

    def test_ray_angle_filter(self):
        starts = np.zeros((2, 3))
        ends = np.array([[0, 0, -1.0], [1.0, 0, -1.0]])
        ang = cam.ray_angle_from_vertical(starts, ends)
        assert ang[0] == pytest.approx(0.0)
        assert ang[1] == pytest.approx(np.pi / 4)


class TestSegmentDistance:
    """Ported numeric oracles in the spirit of reference tests/test_numeric.py."""

    def test_perpendicular_crossing(self):
        pA, pB, d = cam.segment_pair_closest(
            np.array([[-1, 0, 0.0]]), np.array([[1, 0, 0.0]]),
            np.array([[0, -1, 1.0]]), np.array([[0, 1, 1.0]]))
        assert d[0] == pytest.approx(1.0)
        np.testing.assert_allclose(pA[0], [0, 0, 0], atol=1e-12)
        np.testing.assert_allclose(pB[0], [0, 0, 1], atol=1e-12)

    def test_parallel_disjoint(self):
        _, _, d = cam.segment_pair_closest(
            np.array([[0, 0, 0.0]]), np.array([[1, 0, 0.0]]),
            np.array([[3, 0, 0.0]]), np.array([[4, 0, 0.0]]))
        assert d[0] == pytest.approx(2.0)

    def test_parallel_offset(self):
        _, _, d = cam.segment_pair_closest(
            np.array([[0, 0, 0.0]]), np.array([[1, 0, 0.0]]),
            np.array([[0, 2, 0.0]]), np.array([[1, 2, 0.0]]))
        assert d[0] == pytest.approx(2.0)

    def test_clamped_endpoints(self):
        _, _, d = cam.segment_pair_closest(
            np.array([[0, 0, 0.0]]), np.array([[1, 0, 0.0]]),
            np.array([[2, 1, 0.0]]), np.array([[3, 1, 0.0]]))
        assert d[0] == pytest.approx(np.sqrt(2.0))

    def test_intersecting(self):
        _, _, d = cam.segment_pair_closest(
            np.array([[-1, -1, 0.0]]), np.array([[1, 1, 0.0]]),
            np.array([[-1, 1, 0.0]]), np.array([[1, -1, 0.0]]))
        assert d[0] == pytest.approx(0.0, abs=1e-12)

    def test_clip_to_planes(self):
        starts = np.array([[0, 0, 5.0], [0, 0, 5.0]])
        ends = np.array([[0, 0, -5.0], [4, 0, 4.0]])  # second never crosses slab
        ns, ne, keep = cam.segment_clip_to_planes(starts, ends, z_top=2.0, z_bottom=-2.0)
        assert keep.tolist() == [True, False]
        np.testing.assert_allclose(ns[0], [0, 0, 2.0])
        np.testing.assert_allclose(ne[0], [0, 0, -2.0])


class TestTriangleAreas:
    def test_3d_vs_2d(self):
        p0 = np.array([[0, 0, 0.0]])
        p1 = np.array([[1, 0, 0.0]])
        p2 = np.array([[0, 1, 1.0]])  # sloped
        a3 = geom.triangle_areas_3d(p0, p1, p2)
        a2 = geom.triangle_areas_2d(p0, p1, p2)
        assert a2[0] == pytest.approx(0.5)
        assert a3[0] == pytest.approx(np.sqrt(2) / 2)
        assert a3[0] > a2[0]  # slope ratio > 1


class TestRasterizeZbufferStreaming:
    """Fuzz the streaming-resolve z-buffer against a per-face sequential
    strict-< renderer (the reference semantics: faces in face_id order,
    nearer-depth wins, first face wins exact depth ties ==
    lexicographic min of (depth, face_id))."""

    @staticmethod
    def _reference(tri_px, tri_z, fids, w, h, ortho):
        img_f = np.full((h, w), -1, np.int64)
        img_d = np.full((h, w), np.inf, np.float64)
        for k in np.argsort(fids, kind="stable"):
            P, Z, fid = tri_px[k], tri_z[k], fids[k]
            if not ortho and (Z <= 1e-12).any():
                continue
            x0, y0 = P[0]
            x1, y1 = P[1]
            x2, y2 = P[2]
            dd = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
            if abs(dd) < 1e-300:
                continue
            xmin = max(int(np.floor(P[:, 0].min() - 0.5)), 0)
            xmax = min(int(np.ceil(P[:, 0].max() - 0.5)), w - 1)
            ymin = max(int(np.floor(P[:, 1].min() - 0.5)), 0)
            ymax = min(int(np.ceil(P[:, 1].max() - 0.5)), h - 1)
            for r in range(ymin, ymax + 1):
                for c in range(xmin, xmax + 1):
                    gx, gy = (c + 0.5) - x2, (r + 0.5) - y2
                    l0 = ((y1 - y2) * gx + (x2 - x1) * gy) / dd
                    l1 = ((y2 - y0) * gx + (x0 - x2) * gy) / dd
                    l2 = 1.0 - l0 - l1
                    if l0 >= 0 and l1 >= 0 and l2 >= 0:
                        if ortho:
                            dep = l0 * Z[0] + l1 * Z[1] + l2 * Z[2]
                        else:
                            inv = l0 / Z[0] + l1 / Z[1] + l2 / Z[2]
                            dep = np.inf if inv == 0 else 1.0 / inv
                        if dep < img_d[r, c]:
                            img_d[r, c] = dep
                            img_f[r, c] = fid
        return img_f, img_d

    @pytest.mark.parametrize("seed,ortho", [(0, False), (1, True),
                                            (2, False), (3, True)])
    def test_matches_sequential_reference(self, seed, ortho):
        from geograypher_spark.operators.visibility import rasterize_zbuffer

        rng = np.random.default_rng(seed)
        n = int(rng.integers(5, 50))
        w, h = int(rng.integers(6, 32)), int(rng.integers(6, 32))
        tri = (rng.uniform(-4, w + 4, (n, 1, 2))
               + rng.uniform(-6, 6, (n, 3, 2)))
        z = rng.uniform(-5.0 if ortho else 0.5, 20, (n, 3))
        # exact depth ties: duplicated geometry under distinct face ids
        dup = min(n, 4)
        tri = np.concatenate([tri, tri[:dup]])
        z = np.concatenate([z, z[:dup]])
        fids = rng.permutation(len(tri)).astype(np.int64) * 3 + 1
        rf, rd = self._reference(tri, z, fids, w, h, ortho)
        nf, nd = rasterize_zbuffer(tri, z, fids, w, h,
                                   return_depth=True, ortho=ortho)
        assert np.array_equal(rf, nf)
        assert np.array_equal(rd, nd)
