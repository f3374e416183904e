"""Coverage batch: overlay join, DTM sampling/ground labeling, camera IO
parsers, set cover, sinks, label helpers, distortion inversion, ray clip."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geograypher_spark.functions import camera as cam
from geograypher_spark.functions import geometry as geom
from geograypher_spark.functions.labels import infer_ids_to_labels, remap_labels
from geograypher_spark.operators import dtm as DTM
from geograypher_spark.operators import raytri as RT
from geograypher_spark.operators.overlay import overlap_counts_matrix, polygon_overlap_join
from geograypher_spark.operators.selection import (
    filter_by_path, greedy_set_cover, kmeans_partition, subsample_every_nth)
from geograypher_spark.sources import sinks
from geograypher_spark.sources.cameras_io import parse_colmap, parse_metashape_xml


class TestOverlay:
    def test_rect_overlap_join(self, spark):
        def rect(pid, x0, y0, x1, y1):
            return (pid, geom.polygon_to_wkb([geom.rect_ring(x0, y0, x1, y1)]))
        left = spark.createDataFrame(
            pd.DataFrame([rect(1, 0, 0, 4, 4), rect(2, 10, 10, 12, 12)],
                         columns=["left_id", "geometry_wkb"]))
        right = spark.createDataFrame(
            pd.DataFrame([rect(7, 2, 2, 6, 6), rect(8, 11, 11, 13, 13)],
                         columns=["right_id", "geometry_wkb"]))
        got = {(r["left_id"], r["right_id"]): r["overlap_area"]
               for r in polygon_overlap_join(left, right).collect()}
        assert got[(1, 7)] == pytest.approx(4.0)
        assert got[(2, 8)] == pytest.approx(1.0)
        assert len(got) == 2

    def test_counts_matrix(self, spark):
        def rect(pid, x0, y0, x1, y1):
            return (pid, geom.polygon_to_wkb([geom.rect_ring(x0, y0, x1, y1)]))
        left = spark.createDataFrame(
            pd.DataFrame([rect(1, 0, 0, 2, 2), rect(2, 5, 5, 7, 7)],
                         columns=["left_id", "geometry_wkb"]))
        right = spark.createDataFrame(
            pd.DataFrame([rect(7, 1, 1, 3, 3), rect(8, 5, 5, 6, 6)],
                         columns=["right_id", "geometry_wkb"]))
        ov = polygon_overlap_join(left, right)
        lc = spark.createDataFrame([(1, "tree"), (2, "shrub")],
                                   "left_id long, class_name string")
        rc = spark.createDataFrame([(7, "tree"), (8, "shrub")],
                                   "right_id long, class_name string")
        wide = {r["class_name"]: r.asDict()
                for r in overlap_counts_matrix(ov, lc, rc).collect()}
        assert wide["tree"]["tree"] == pytest.approx(1.0)
        assert wide["shrub"]["shrub"] == pytest.approx(1.0)


class TestDtm:
    def test_sample_bilinear_plane(self, spark):
        # sloped plane z = x → bilinear sampling reproduces it exactly
        H = W = 64
        gx, gy = np.meshgrid(np.arange(W) + 0.5, np.arange(H) + 0.5, indexing="xy")
        height = gx.astype(np.float64)  # z equals world x at pixel centers
        tiles = DTM.dtm_tiles_from_array(spark, height, x0=0.0, y0=64.0, gsd=1.0,
                                         tile_px=32)
        pts = spark.createDataFrame(pd.DataFrame({
            "pid": [1, 2], "x": [10.5, 40.25], "y": [50.5, 20.5]}))
        got = {r["pid"]: r["ground_z"]
               for r in DTM.sample_dtm(pts, tiles, grid_x0=0.0, grid_y0=64.0,
                                       gsd=1.0, tile_px=32).collect()}
        assert got[1] == pytest.approx(10.5)
        assert got[2] == pytest.approx(40.25)

    def test_label_ground_class(self, spark, scene):
        from geograypher_spark.sources.scene import scene_to_spark

        verts, faces, polys, cams = scene_to_spark(spark, scene)
        flat = DTM.dtm_tiles_from_array(
            spark, np.zeros((64, 64)), x0=0.0, y0=10.0, gsd=10 / 64, tile_px=64)
        labeled = DTM.label_ground_class(
            faces, flat, ground_threshold=0.5, ground_class_id=-1.0,
            grid_x0=0.0, grid_y0=10.0, gsd=10 / 64, tile_px=64)
        rows = labeled.collect()
        # every face with centroid below 0.5 → ground class
        for r in rows:
            if r["height_above_ground"] < 0.5:
                assert r["class_id"] == -1.0
            else:
                assert r["class_id"] is None or r["class_id"] >= 0


class TestCameraIO:
    XML = """<document><chunk>
      <sensors><sensor id="0">
        <resolution width="100" height="80"/>
        <calibration><resolution width="100" height="80"/>
          <f>95.5</f><cx>1.5</cx><cy>-2.0</cy><k1>0.01</k1><p1>0.001</p1>
        </calibration></sensor></sensors>
      <cameras>
        <camera id="3" sensor_id="0" label="img_003.jpg">
          <transform>1 0 0 5 0 -1 0 6 0 0 -1 12 0 0 0 1</transform>
        </camera>
        <camera id="4" sensor_id="0" label="disabled.jpg" enabled="false">
          <transform>1 0 0 0 0 1 0 0 0 0 1 0 0 0 0 1</transform>
        </camera>
      </cameras>
      <transform>
        <rotation>1 0 0 0 1 0 0 0 1</rotation>
        <translation>100 200 300</translation>
        <scale>2.0</scale>
      </transform>
    </chunk></document>"""

    def test_metashape_parse(self):
        rows, tr = parse_metashape_xml(self.XML)
        assert len(rows) == 1
        r = rows[0]
        assert r["camera_id"] == 3
        assert r["f"] == 95.5 and r["w"] == 100 and r["h"] == 80
        assert r["distortion"] == {"k1": 0.01, "p1": 0.001}
        c2w = np.array(r["cam_to_world"]).reshape(4, 4)
        assert c2w[0, 3] == 5 and c2w[2, 3] == 12
        assert tr["scale"] == 2.0
        np.testing.assert_allclose(tr["local_to_ecef"][:3, 3], [100, 200, 300])
        np.testing.assert_allclose(tr["local_to_ecef"][:3, :3], np.eye(3) * 2.0)

    def test_colmap_parse_roundtrip(self):
        # a camera at (1,2,3) looking along +z world (identity rotation)
        cameras_txt = "# hdr\n1 PINHOLE 640 480 500 500 320 240\n"
        w2c_t = -np.array([1.0, 2.0, 3.0])  # w2c translation = -R^T c = -c
        images_txt = (
            "# hdr\n"
            f"10 1 0 0 0 {w2c_t[0]} {w2c_t[1]} {w2c_t[2]} 1 shot.jpg\n"
            "0 0 -1\n")
        rows = parse_colmap(cameras_txt, images_txt)
        assert len(rows) == 1
        c2w = np.array(rows[0]["cam_to_world"]).reshape(4, 4)
        np.testing.assert_allclose(c2w[:3, 3], [1, 2, 3], atol=1e-12)
        np.testing.assert_allclose(c2w[:3, :3], np.eye(3), atol=1e-12)
        assert rows[0]["f"] == 500 and rows[0]["cx"] == 0.0 and rows[0]["cy"] == 0.0

    def test_colmap_simple_radial_keeps_k1(self):
        cameras_txt = "1 SIMPLE_RADIAL 640 480 500 320 240 -0.05\n"
        images_txt = "10 1 0 0 0 0 0 0 1 shot.jpg\n0 0 -1\n"
        rows = parse_colmap(cameras_txt, images_txt)
        assert rows[0]["distortion"] == {"k1": -0.05}

    def test_colmap_opencv_model(self):
        cameras_txt = "1 OPENCV 640 480 500 500 320 240 -0.05 0.01 0.001 0\n"
        images_txt = "10 1 0 0 0 0 0 0 1 shot.jpg\n0 0 -1\n"
        rows = parse_colmap(cameras_txt, images_txt)
        assert rows[0]["f"] == 500
        assert rows[0]["distortion"] == {"k1": -0.05, "k2": 0.01, "p1": 0.001}

    def test_colmap_rejects_anisotropic_focal(self):
        import pytest

        cameras_txt = "1 PINHOLE 640 480 500 510 320 240\n"
        images_txt = "10 1 0 0 0 0 0 0 1 shot.jpg\n0 0 -1\n"
        with pytest.raises(ValueError, match="fx=500.0 != fy=510.0"):
            parse_colmap(cameras_txt, images_txt)

    def test_colmap_rejects_unknown_model(self):
        import pytest

        cameras_txt = "1 FISHEYE 640 480 500 320 240\n"
        with pytest.raises(ValueError, match="unsupported model"):
            parse_colmap(cameras_txt, "")

    def test_quaternion_matrix(self):
        # 90° about z: (w,x,y,z) = (cos45, 0, 0, sin45)
        from geograypher_spark.sources.cameras_io import quaternion_to_matrix
        R = quaternion_to_matrix(np.cos(np.pi / 4), 0, 0, np.sin(np.pi / 4))
        np.testing.assert_allclose(R @ [1, 0, 0], [0, 1, 0], atol=1e-12)


class TestSetCover:
    def test_greedy(self, spark):
        rows = [(1, f) for f in range(10)] + [(2, f) for f in range(5, 15)] + \
               [(3, f) for f in range(20)]
        vis = spark.createDataFrame(rows, "camera_id long, face_id long")
        chosen = greedy_set_cover(vis)
        assert chosen[0][0] == 3 and chosen[0][1] == 20
        assert len(chosen) == 1  # camera 3 covers everything

    def test_min_observations(self, spark):
        rows = [(1, 100), (1, 101), (2, 101)]
        vis = spark.createDataFrame(rows, "camera_id long, face_id long")
        chosen = greedy_set_cover(vis, min_observations=2)
        # only face 101 is eligible; either camera covers it with gain 1
        assert sum(g for _, g in chosen) == 1

    def test_max_rounds_raises_on_partial_cover(self, spark):
        rows = [(1, 1), (1, 2), (2, 3)]  # two disjoint cameras
        vis = spark.createDataFrame(rows, "camera_id long, face_id long")
        with pytest.raises(ValueError, match="1 elements still uncovered"):
            greedy_set_cover(vis, max_rounds=1)
        assert greedy_set_cover(vis, max_rounds=2) == [(1, 2), (2, 1)]

    def test_filters(self, spark):
        df = spark.createDataFrame(
            [(0, "a/x.jpg"), (1, "a/y.jpg"), (2, "b/z.jpg"), (4, "a/w.png")],
            "camera_id long, image_ref string")
        assert filter_by_path(df, prefix="a/").count() == 3
        assert filter_by_path(df, regex=r"\.jpg$").count() == 3
        assert subsample_every_nth(df, "camera_id", 2).count() == 3

    def test_kmeans_partition(self, spark):
        pdf = pd.DataFrame({
            "x": np.r_[np.zeros(10), np.full(10, 100.0)],
            "y": np.r_[np.zeros(10), np.full(10, 100.0)]})
        out = kmeans_partition(spark.createDataFrame(pdf), k=2)
        groups = out.groupBy("cluster_id").count().collect()
        assert sorted(r["count"] for r in groups) == [10, 10]


class TestSinks:
    def test_geojson_sink(self, spark, scene, tmp_path):
        from geograypher_spark.operators.union import face_class_union
        from geograypher_spark.sources.scene import scene_to_spark

        verts, faces, polys, cams = scene_to_spark(spark, scene)
        unions = face_class_union(faces, verts)
        path = str(tmp_path / "out.geojson")
        n = sinks.write_vector_geojson(unions, path,
                                       class_names={0.0: "cube"})
        assert n == 3
        import json
        doc = json.load(open(path))
        assert len(doc["features"]) == 3
        assert doc["features"][0]["geometry"]["type"] == "MultiPolygon"

    def test_render_and_chip_sinks(self, spark, tmp_path):
        renders = spark.createDataFrame(pd.DataFrame([{
            "camera_id": 7, "w": 4, "h": 4,
            "face_image": np.arange(16, dtype="<i8").tobytes()}]))
        d = str(tmp_path / "renders")
        sinks.write_render_images(renders, d)
        img = np.load(os.path.join(d, "render_7.npy"))
        assert img.shape == (4, 4) and img[3, 3] == 15

        chips = spark.createDataFrame(pd.DataFrame([{
            "tile_x": 1, "tile_y": 2, "data": b"\x01\x02"}]))
        d2 = str(tmp_path / "chips")
        sinks.write_image_chips(chips, d2)
        assert open(os.path.join(d2, "chip_1_2.bin"), "rb").read() == b"\x01\x02"


class TestLabels:
    def test_remap_and_infer(self, spark):
        df = spark.createDataFrame(
            [("cube",), ("cone",), ("cube",), ("mystery",)], "label string")
        mapped = remap_labels(df, "label", {"cube": 0, "cone": 2})
        got = {r["label"]: r["class_id"] for r in mapped.collect()}
        assert got["cube"] == 0 and got["cone"] == 2 and got["mystery"] is None
        ids = infer_ids_to_labels(df, "label")
        assert ids == {0: "cone", 1: "cube", 2: "mystery"}


class TestDistortionInverse:
    def test_roundtrip(self):
        params = {"k1": -0.08, "k2": 0.01, "p1": 0.001, "p2": -0.0005}
        rng = np.random.default_rng(2)
        xn = rng.uniform(-0.4, 0.4, 500)
        yn = rng.uniform(-0.4, 0.4, 500)
        xd, yd = cam.brown_conrady_distort(xn, yn, params)
        xb, yb = cam.brown_conrady_undistort(xd, yd, params, iters=20)
        np.testing.assert_allclose(xb, xn, atol=1e-10)
        np.testing.assert_allclose(yb, yn, atol=1e-10)


class TestRayClip:
    def test_clip_to_covering(self, spark):
        # ceiling plane z=2, floor plane z=0, both as 2-triangle squares
        def plane(z):
            q = np.array([[-10, -10, z], [10, -10, z], [10, 10, z], [-10, 10, z]])
            return np.stack([q[[0, 1, 2]], q[[0, 2, 3]]])
        rays = spark.createDataFrame(pd.DataFrame({
            "ray_id": [0, 1], "camera_id": [0, 1],
            "sx": [0.0, 50.0], "sy": [0.0, 50.0], "sz": [5.0, 5.0],
            "ex": [0.0, 50.0], "ey": [0.0, 50.0], "ez": [-3.0, -3.0]}))
        got = RT.clip_rays_to_covering(rays, plane(2.0), plane(0.0)).collect()
        assert len(got) == 1  # second ray misses the 20x20 covering
        r = got[0]
        assert r["sz"] == pytest.approx(2.0)
        assert r["ez"] == pytest.approx(0.0)


class TestEquirect:
    def test_center_pixel_looks_forward(self):
        H, W = 64, 128
        pano = np.zeros((H, W), dtype=np.float64)
        # mark the forward direction (lon=0 → u=(W-1)/2, lat=0 → v=(H-1)/2)
        pano[H // 2 - 2:H // 2 + 2, W // 2 - 2:W // 2 + 2] = 255.0
        out = cam.equirect_to_perspective(pano, fov_deg=60, roll=0, pitch=0,
                                          yaw=0, out_h=32, out_w=32)
        assert out[16, 16] > 200  # center of view hits the marked region
        assert out[0, 0] < 50


class TestMeshSink:
    def test_write_mesh_tables_roundtrip(self, spark, scene, tmp_path):
        from geograypher_spark.sources.scene import scene_to_spark

        verts, faces, polys, cams = scene_to_spark(spark, scene)
        out = str(tmp_path / "mesh")
        sinks.write_mesh_tables(faces, verts, out,
                                ids_to_labels={0: "ground", 1: "canopy"})
        f2 = spark.read.parquet(out + "/faces")
        v2 = spark.read.parquet(out + "/verts")
        assert f2.count() == faces.count()
        assert v2.count() == verts.count()
        assert set(f2.columns) == set(faces.columns)
        import json as _json
        with open(out + "/IDs_to_labels.json") as fh:
            assert _json.load(fh) == {"0": "ground", "1": "canopy"}
