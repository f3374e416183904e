"""Visibility z-buffer join: pixel-exact analytic oracle on a flat mesh
(reference ``tests/test_derived_meshes.py`` analog) + occlusion ordering.
"""

import warnings

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geograypher_spark.operators import visibility as V

N = 201            # verts per side
EXTENT = 2.0       # mesh spans [-2, 2]^2
CELL = 2 * EXTENT / (N - 1)   # 0.02
W = H = 200
FOCAL = 100.0
CAM_Z = 2.0
# asymmetric sub-cell offsets keep every pixel center strictly off triangle
# edges (a symmetric offset cancels on the quad diagonal since y flips)
CAM_OFF_X = CELL / 4
CAM_OFF_Y = CELL / 8


def flat_mesh_tables():
    xs = np.linspace(-EXTENT, EXTENT, N)
    gx, gy = np.meshgrid(xs, xs, indexing="ij")
    verts = np.stack([gx.ravel(), gy.ravel(), np.zeros(N * N)], axis=1)
    idx = np.arange(N * N).reshape(N, N)
    a = idx[:-1, :-1].ravel(); b = idx[1:, :-1].ravel()
    c = idx[1:, 1:].ravel(); d = idx[:-1, 1:].ravel()
    tris = np.concatenate([np.stack([a, b, c], 1), np.stack([a, c, d], 1)])
    return verts, tris


def faces_df(spark, verts, tris):
    p0, p1, p2 = verts[tris[:, 0]], verts[tris[:, 1]], verts[tris[:, 2]]
    cen = (p0 + p1 + p2) / 3
    pdf = pd.DataFrame({
        "face_id": np.arange(len(tris), dtype=np.int64),
        "x0": p0[:, 0], "y0": p0[:, 1], "z0": p0[:, 2],
        "x1": p1[:, 0], "y1": p1[:, 1], "z1": p1[:, 2],
        "x2": p2[:, 0], "y2": p2[:, 1], "z2": p2[:, 2],
        "cx": cen[:, 0], "cy": cen[:, 1], "cz": cen[:, 2],
    })
    return spark.createDataFrame(pdf)


def camera_df(spark, x=CAM_OFF_X, y=CAM_OFF_Y, z=CAM_Z):
    c2w = [1.0, 0, 0, x, 0, -1.0, 0, y, 0, 0, -1.0, z, 0, 0, 0, 1.0]
    pdf = pd.DataFrame([{
        "camera_id": 0, "cam_to_world": c2w,
        "f": FOCAL, "cx": 0.0, "cy": 0.0, "w": W, "h": H,
    }])
    return spark.createDataFrame(pdf)


def expected_face(r, c):
    """Analytic pix2face for the flat mesh + offset nadir camera."""
    # pixel center → world (camera at (off, off, z), f/z = 50 px per meter)
    wx = (c + 0.5 - W / 2) / (FOCAL / CAM_Z) + CAM_OFF_X
    wy = -(r + 0.5 - H / 2) / (FOCAL / CAM_Z) + CAM_OFF_Y
    fi = (wx + EXTENT) / CELL
    fj = (wy + EXTENT) / CELL
    i, j = int(np.floor(fi)), int(np.floor(fj))
    if not (0 <= i < N - 1 and 0 <= j < N - 1):
        return -1
    u, v = fi - i, fj - j
    quad = i * (N - 1) + j
    # lower tri (a,b,c) covers v <= u (verts (i,j),(i+1,j),(i+1,j+1))
    return quad if v <= u else quad + (N - 1) ** 2


def test_render_pixel_exact(spark):
    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    cdf = camera_df(spark)
    row = V.render_face_images(cdf, fdf).collect()[0]
    img = np.frombuffer(bytes(row["face_image"]), dtype="<i8").reshape(row["h"], row["w"])
    exp = np.array([[expected_face(r, c) for c in range(W)] for r in range(H)])
    mismatches = int((img != exp).sum())
    assert mismatches == 0, f"{mismatches} of {W*H} pixels wrong"


def test_visibility_counts_sum_to_image(spark):
    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    cdf = camera_df(spark)
    counts = V.visibility_join(cdf, fdf)
    total = counts.agg(F.sum("pixel_count")).collect()[0][0]
    assert total == W * H  # every pixel hits the mesh
    per_cam = counts.groupBy("camera_id").count().collect()
    assert len(per_cam) == 1


def test_occlusion_nearer_face_wins(spark):
    # big ground square at z=0, small square at z=1 centered under camera
    def square(fid0, half, z):
        quad = np.array([
            [-half, -half, z], [half, -half, z], [half, half, z], [-half, half, z]])
        rows = []
        for k, tri in enumerate([(0, 1, 2), (0, 2, 3)]):
            p = quad[list(tri)]
            rows.append({
                "face_id": fid0 + k,
                "x0": p[0, 0], "y0": p[0, 1], "z0": p[0, 2],
                "x1": p[1, 0], "y1": p[1, 1], "z1": p[1, 2],
                "x2": p[2, 0], "y2": p[2, 1], "z2": p[2, 2],
                "cx": p[:, 0].mean(), "cy": p[:, 1].mean(), "cz": p[:, 2].mean(),
            })
        return rows

    pdf = pd.DataFrame(square(0, 1.9, 0.0) + square(2, 0.5, 1.0))
    fdf = spark.createDataFrame(pdf)
    cdf = camera_df(spark, x=0.0, y=0.0)
    got = {r["face_id"]: r["pixel_count"]
           for r in V.visibility_join(cdf, fdf).collect()}
    # at z=1 the camera is 1m away: f/Zc = 100 → the 1x1m square spans
    # 100x100 px = 10000 px, split between its 2 faces
    assert got[2] + got[3] == 100 * 100
    # ground: 1.9m half-width at Zc=2m, 50 px/m → 190x190 px footprint,
    # minus the 100x100 occluded by the high square
    assert got[0] + got[1] == 190 * 190 - 10000
    # z-buffer sanity: without the high square the ground gets them back
    ground_only = {r["face_id"]: r["pixel_count"] for r in V.visibility_join(
        cdf, spark.createDataFrame(pd.DataFrame(square(0, 1.9, 0.0)))).collect()}
    assert ground_only[0] + ground_only[1] == 190 * 190


def test_camera_footprint_prunes_far_faces(spark):
    """Candidate join must exclude faces far outside the frustum footprint."""
    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    # shift a copy of the mesh 1000m away — none of it is visible
    far = fdf.select(
        (F.col("face_id") + 10**6).alias("face_id"),
        *[(F.col(c) + (1000.0 if c.startswith(("x", "cx")) else 0.0)).alias(c)
          for c in fdf.columns if c != "face_id"])
    both = fdf.unionByName(far)
    cdf = camera_df(spark)
    cand = V.candidate_camera_faces(cdf, both)
    far_candidates = cand.filter(F.col("face_id") >= 10**6).count()
    assert far_candidates == 0
    counts = V.visibility_join(cdf, both)
    assert counts.filter(F.col("face_id") >= 10**6).count() == 0
    assert counts.agg(F.sum("pixel_count")).collect()[0][0] == W * H


def test_distortion_aware_render(spark):
    """Barrel distortion (k1<0) pulls off-axis points toward the center:
    a point at normalized radius r lands at r(1+k1 r²) < r. Verify the
    rendered footprint of an off-center square shifts exactly as the
    forward Brown-Conrady model predicts, and that k1=0 reproduces the
    undistorted render."""
    import pandas as pd
    from geograypher_spark.functions import camera as camf

    def square(half, z):
        quad = np.array([
            [1.0 - half, 1.0 - half, z], [1.0 + half, 1.0 - half, z],
            [1.0 + half, 1.0 + half, z], [1.0 - half, 1.0 + half, z]])
        rows = []
        for k, tri in enumerate([(0, 1, 2), (0, 2, 3)]):
            p = quad[list(tri)]
            rows.append({
                "face_id": k,
                "x0": p[0, 0], "y0": p[0, 1], "z0": p[0, 2],
                "x1": p[1, 0], "y1": p[1, 1], "z1": p[1, 2],
                "x2": p[2, 0], "y2": p[2, 1], "z2": p[2, 2],
                "cx": p[:, 0].mean(), "cy": p[:, 1].mean(), "cz": p[:, 2].mean(),
            })
        return pd.DataFrame(rows)

    fdf = spark.createDataFrame(square(0.3, 0.0))
    k1 = -0.2

    def cam_df(dist):
        pdf = pd.DataFrame([{
            "camera_id": 0,
            "cam_to_world": [1.0, 0, 0, 0.0, 0, -1.0, 0, 0.0, 0, 0, -1.0, 2.0,
                             0, 0, 0, 1.0],
            "f": 100.0, "cx": 0.0, "cy": 0.0, "w": 200, "h": 200,
            "distortion": dist,
        }])
        return spark.createDataFrame(pdf)

    import geograypher_spark.operators.visibility as V2

    undist = V2.render_face_images(cam_df({}), fdf).collect()[0]
    dist = V2.render_face_images(cam_df({"k1": k1}), fdf).collect()[0]
    img_u = np.frombuffer(bytes(undist["face_image"]), dtype="<i8").reshape(200, 200)
    img_d = np.frombuffer(bytes(dist["face_image"]), dtype="<i8").reshape(200, 200)

    # undistorted: square center (1,1,0) at normalized (0.5,-0.5) → px
    # (150, 50)
    u_rows, u_cols = np.nonzero(img_u >= 0)
    d_rows, d_cols = np.nonzero(img_d >= 0)
    assert u_cols.mean() == pytest.approx(150.0, abs=1.0)
    assert u_rows.mean() == pytest.approx(50.0, abs=1.0)
    # distorted footprint bbox = forward-warped square corners (the warp is
    # radially monotone here so extremes stay at the corners)
    corners = np.array([[0.7, 0.7], [1.3, 0.7], [1.3, 1.3], [0.7, 1.3]])
    xn = corners[:, 0] / 2.0
    yn = -corners[:, 1] / 2.0
    xd, yd = camf.brown_conrady_distort(xn, yn, {"k1": k1})
    px = 100.0 * xd + 100.0
    py = 100.0 * yd + 100.0
    assert d_cols.min() == pytest.approx(px.min(), abs=1.5)
    assert d_cols.max() == pytest.approx(px.max(), abs=1.5)
    assert d_rows.min() == pytest.approx(py.min(), abs=1.5)
    assert d_rows.max() == pytest.approx(py.max(), abs=1.5)
    # barrel distortion shrinks the footprint
    assert (img_d >= 0).sum() < (img_u >= 0).sum()


def test_empty_mesh_and_faceless_camera(spark):
    """An empty face table yields an empty frame with the operator's
    schema (no z-range to read), and a camera looking away from the mesh
    yields no rows without NaN-bbox warnings on the driver."""
    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    cdf = camera_df(spark)
    vis = V.visibility_join(cdf, fdf.limit(0))
    assert vis.schema == V.VISIBILITY_SCHEMA and vis.count() == 0
    imgs = V.render_face_images(cdf, fdf.limit(0))
    assert imgs.columns == ["camera_id", "w", "h", "face_image"]
    assert imgs.count() == 0

    up = spark.createDataFrame(pd.DataFrame([{
        "camera_id": 0,
        "cam_to_world": [1.0, 0, 0, 0.0, 0, 1.0, 0, 0.0, 0, 0, 1.0, CAM_Z,
                         0, 0, 0, 1.0],
        "f": FOCAL, "cx": 0.0, "cy": 0.0, "w": W, "h": H}]))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert V.visibility_join(up, fdf).count() == 0
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


# ---------------------------------------------------------------------------
# Exact render-then-warp distortion
# ---------------------------------------------------------------------------

def _dist_cam_df(spark, dist, w=200, h=200, f=100.0):
    pdf = pd.DataFrame([{
        "camera_id": 0,
        "cam_to_world": [1.0, 0, 0, 0.0, 0, -1.0, 0, 0.0, 0, 0, -1.0, 2.0,
                         0, 0, 0, 1.0],
        "f": f, "cx": 0.0, "cy": 0.0, "w": w, "h": h,
        "distortion": dist,
    }])
    return spark.createDataFrame(pdf)


def _one_tri_df(spark, p0, p1, p2):
    p = np.array([p0, p1, p2], dtype=float)
    return spark.createDataFrame(pd.DataFrame([{
        "face_id": 0,
        "x0": p[0, 0], "y0": p[0, 1], "z0": p[0, 2],
        "x1": p[1, 0], "y1": p[1, 1], "z1": p[1, 2],
        "x2": p[2, 0], "y2": p[2, 1], "z2": p[2, 2],
        "cx": p[:, 0].mean(), "cy": p[:, 1].mean(), "cz": p[:, 2].mean(),
    }]))


def _face_img(row):
    return np.frombuffer(bytes(row["face_image"]), dtype="<i8").reshape(
        row["h"], row["w"])


def test_warp_mode_zero_params_is_identity(spark):
    """All-zero Brown-Conrady params through the warp path must reproduce
    the plain pinhole render BIT-EXACTLY (the inverse map is the identity
    and the canvas is the original frame)."""
    verts, tris = flat_mesh_tables()
    fdf = faces_df(spark, verts, tris)
    plain = _face_img(V.render_face_images(
        _dist_cam_df(spark, {}), fdf).collect()[0])
    warp = _face_img(V.render_face_images(
        _dist_cam_df(spark, {"k1": 0.0, "p1": 0.0}), fdf).collect()[0])
    assert np.array_equal(plain, warp)


def test_warp_mode_big_triangle_curved_edges(spark):
    """One huge triangle under strong barrel distortion, whose edges
    image as curves (distorting only the vertices would draw straight
    chords). Ground truth per output pixel is analytic — undistort the
    pixel center (same fixed-point inverse) and test the ideal float
    coords against the pinhole-projected triangle, no raster grid
    involved. The render must agree except for nearest-neighbour
    quantisation at the (curved) edges."""
    from geograypher_spark.functions import camera as camf

    dist = {"k1": -0.3}
    w = h = 200
    f = 100.0
    # big ground-plane triangle, off-centre so the curved edges cross
    # high-radius image regions
    tri_world = [(-1.6, -1.6, 0.0), (1.7, -1.4, 0.0), (0.1, 1.8, 0.0)]
    fdf = _one_tri_df(spark, *tri_world)

    # pinhole 2D projection (camera at (0,0,2), rot diag(1,-1,-1)):
    # px = f*X/2 + 100, py = f*(-Y)/2 + 100
    t2 = np.array([[f * x / 2.0 + 100.0, f * (-y) / 2.0 + 100.0]
                   for x, y, _ in tri_world])

    u = np.broadcast_to(np.arange(w, dtype=float)[None, :] + 0.5, (h, w)).ravel()
    v = np.broadcast_to(np.arange(h, dtype=float)[:, None] + 0.5, (h, w)).ravel()
    xn, yn = camf.brown_conrady_undistort((u - 100.0) / f, (v - 100.0) / f, dist)
    us, vs = f * xn + 100.0, f * yn + 100.0

    def edge(a, b, px, py):
        return (b[0] - a[0]) * (py - a[1]) - (b[1] - a[1]) * (px - a[0])

    e0 = edge(t2[0], t2[1], us, vs)
    e1 = edge(t2[1], t2[2], us, vs)
    e2 = edge(t2[2], t2[0], us, vs)
    inside = ((e0 >= 0) & (e1 >= 0) & (e2 >= 0)) | ((e0 <= 0) & (e1 <= 0) & (e2 <= 0))
    truth = inside.reshape(h, w)

    warp_img = _face_img(V.render_face_images(
        _dist_cam_df(spark, dist), fdf).collect()[0])

    warp_err = int((truth != (warp_img >= 0)).sum())
    # NN quantisation only: a thin band along the 3 curved edges
    assert warp_err < 0.01 * truth.sum()


def test_inverse_map_built_once_per_sensor(spark, monkeypatch):
    """The driver builds one inverse distortion map per distinct sensor
    key (params, f, cx, cy, w, h), cameras of one sensor share it through
    the broadcast, and undistorted cameras build none."""
    from geograypher_spark.functions import camera as camf

    calls = []
    build = camf.inverse_distortion_map

    def counting(*args, **kwargs):
        calls.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(camf, "inverse_distortion_map", counting)
    fdf = _one_tri_df(spark, (-1.6, -1.6, 0.0), (1.7, -1.4, 0.0),
                      (0.1, 1.8, 0.0))
    c2w = [1.0, 0, 0, 0.0, 0, -1.0, 0, 0.0, 0, 0, -1.0, 2.0, 0, 0, 0, 1.0]
    cams = spark.createDataFrame(pd.DataFrame([
        {"camera_id": i, "cam_to_world": c2w, "f": 50.0, "cx": 0.0,
         "cy": 0.0, "w": 64, "h": 64, "distortion": d}
        for i, d in enumerate([{"k1": -0.2}, {"k1": -0.1}, {"k1": -0.2}])]))
    vis = V.visibility_join(cams, fdf).collect()
    assert len(calls) == 2
    assert sorted(r["camera_id"] for r in vis) == [0, 1, 2]
    _, bc = V._camera_side(cams, "test")
    assert bc.value[0]["warp"][0] is bc.value[2]["warp"][0]
    assert bc.value[0]["warp"][0] is not bc.value[1]["warp"][0]

    calls.clear()
    assert V.visibility_join(camera_df(spark), fdf).count() == 1
    assert V.visibility_join(cams.withColumn(
        "distortion", F.create_map().cast("map<string,double>")),
        fdf).count() == 3
    assert calls == []
