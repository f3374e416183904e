"""End-to-end forward pipeline (aggregate_images analog): images → mesh →
map. Semantic oracle: every object face visible to ≥1 camera must get its
own true class back; ground faces stay unlabeled; the exported per-class
unions contain the object centroids."""

import json
import math

import numpy as np
from pyspark.sql import functions as F

from geograypher_spark.functions import geometry as geom
from geograypher_spark.plans.pipelines import forward_pipeline
from geograypher_spark.sources.scene import scene_to_spark


def test_forward_pipeline_recovers_classes(spark, scene, tmp_path):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    truth = faces.select("face_id", "class_id").filter(
        F.col("class_id").isNotNull())
    out = str(tmp_path / "preds.geojson")
    pred = forward_pipeline(spark, cams, faces, verts, truth,
                            export_geojson_path=out)
    rows = pred.collect()
    assert len(rows) > 0
    # every predicted face matches its true class (LookUp segmentation is
    # exact, so any mismatch = a visibility/aggregation bug)
    true_map = {r["face_id"]: r["class_id"] for r in truth.collect()}
    for r in rows:
        assert float(r["pred_class"]) == true_map[r["face_id"]], r
    # only object faces are ever predicted (ground has NULL class)
    assert set(true_map) >= {r["face_id"] for r in rows}
    # at least one face of most objects is visible from the camera grid
    f = scene.faces
    pred_objs = {int(f["object_id"][r["face_id"]]) for r in rows}
    assert len(pred_objs) >= scene.params["n_objects"] - 1

    # exported unions exist and contain their object centroids
    doc = json.load(open(out))
    assert len(doc["features"]) >= 1
    feats = {feat["properties"]["class_id"]: feat for feat in doc["features"]}
    for p in scene.polygons:
        cls = float(p["class_id"])
        if cls not in feats:
            continue
        rings = geom.wkb_to_rings(p["wkb"])
        cx, cy = geom.ring_centroid(rings[0][0])
        coords = feats[cls]["geometry"]["coordinates"]
        hit = any(
            geom.points_in_polygon(
                np.array([cx]), np.array([cy]),
                [np.array(ring) for ring in poly])[0]
            for poly in coords)
        assert hit, f"object {p['polygon_id']} centroid not in class {cls} union"


def test_aggregate_images_n_cameras_across_classes(spark):
    """n_cameras is the distinct cameras observing a FACE, not the max of
    per-class camera counts: a face seen by 2 cameras voting different
    classes must report n_cameras=2 and survive min_observations=2."""
    from geograypher_spark.plans.pipelines import aggregate_images

    rows = [
        # face 1: cam 1 says class 10 (3 px), cam 2 says class 20 (1 px)
        (1, 1, 10, 3), (2, 1, 20, 1),
        # face 2: one camera only
        (3, 2, 10, 5),
    ]
    pc = spark.createDataFrame(
        rows, "camera_id long, face_id long, class_id long, pixel_count long")
    got = {r["face_id"]: r for r in aggregate_images(pc).collect()}
    assert got[1]["n_cameras"] == 2 and got[1]["pred_class"] == 10
    assert got[2]["n_cameras"] == 1
    kept = aggregate_images(pc, min_observations=2).collect()
    assert [r["face_id"] for r in kept] == [1]


def _aggregate_images_two_pass(pixel_classes, min_observations=1):
    """The two-aggregation formulation aggregate_images replaced: the
    window argmax of the (face, class) totals joined to a separate
    distinct-camera count over the same valid rows."""
    from geograypher_spark.operators.aggregates import weighted_argmax

    valid = pixel_classes.filter(F.col("class_id").isNotNull())
    counts = valid.groupBy("face_id", "class_id").agg(
        F.sum("pixel_count").alias("w"))
    obs = valid.groupBy("face_id").agg(
        F.countDistinct("camera_id").alias("n_cameras"))
    pred = weighted_argmax(counts, ["face_id"], "class_id", "w")
    return (pred.join(obs, "face_id")
            .filter(F.col("n_cameras") >= min_observations)
            .select("face_id", "pred_class", "total_weight", "n_cameras"))


def _canon(df):
    """Rows as a set of tuples, NaN made comparable."""
    def c(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v
    return {tuple(c(v) for v in r) for r in df.collect()}


def test_aggregate_images_matches_two_pass(spark):
    """The one-pass aggregate equals the two-pass one on equal-weight
    ties (lower class wins), a NaN class, totals <= 0, NaN weights and
    min_observations=2; schema included."""
    from geograypher_spark.plans.pipelines import aggregate_images

    nan = float("nan")
    rows = [
        # face 1: tie 4 vs 4 between classes 2.0 and 1.0 -> 1.0
        (1, 1, 2.0, 4.0), (2, 1, 1.0, 4.0),
        # face 2: the NaN class wins its weight tie (NaN sorts last on
        # the class, so only a heavier NaN class wins) ...
        (1, 2, nan, 6.0), (2, 2, 3.0, 5.0),
        # face 3: ... and loses an equal-weight tie
        (1, 3, nan, 5.0), (3, 3, 3.0, 5.0),
        # face 4: class 7 sums to 0 and class 8 to < 0: no prediction,
        # while its cameras still count for nothing
        (1, 4, 7.0, 2.0), (2, 4, 7.0, -2.0), (3, 4, 8.0, -1.0),
        # face 5: non-positive class next to a positive one; 3 cameras
        (1, 5, 7.0, -9.0), (2, 5, 8.0, 1.0), (3, 5, 8.0, 1.0),
        # face 6: a NaN total outranks every finite one
        (1, 6, 1.0, nan), (2, 6, 2.0, 100.0),
        # face 7: two NaN totals tie, the lower class wins
        (1, 7, 5.0, nan), (1, 7, 4.0, nan),
        # face 8: one camera only; a NULL class and a NULL camera
        (4, 8, 9.0, 3.0), (5, 8, None, 50.0), (None, 8, 9.0, 1.0),
    ]
    pc = spark.createDataFrame(
        rows, "camera_id long, face_id long, class_id double, "
              "pixel_count double")
    ints = pc.filter(~F.isnan("class_id") & ~F.isnan("pixel_count")).select(
        "camera_id", "face_id",
                     F.col("class_id").cast("long").alias("class_id"),
                     F.col("pixel_count").cast("long").alias("pixel_count"))
    for df in (pc, ints):
        for k in (1, 2, 3):
            got = aggregate_images(df, min_observations=k)
            ref = _aggregate_images_two_pass(df, min_observations=k)
            assert got.schema.simpleString() == ref.schema.simpleString()
            assert _canon(got) == _canon(ref), (k, df.schema)
    got = {r["face_id"]: r for r in aggregate_images(pc).collect()}
    assert got[1]["pred_class"] == 1.0 and got[1]["n_cameras"] == 2
    assert math.isnan(got[2]["pred_class"]) and got[3]["pred_class"] == 3.0
    assert 4 not in got and got[5]["pred_class"] == 8.0
    assert got[5]["n_cameras"] == 3
    assert got[6]["pred_class"] == 1.0 and math.isnan(got[6]["total_weight"])
    assert got[7]["pred_class"] == 4.0 and got[8]["n_cameras"] == 1


def test_render_labels_pipeline_exact(spark):
    """Reverse pipeline on the analytic flat mesh: one square polygon
    labels part of the mesh; the rendered label image must equal the
    closed-form pixel->class map."""
    import pandas as pd
    from geograypher_spark.plans.pipelines import render_labels_pipeline
    from geograypher_spark.sources import analytic as AN
    from geograypher_spark.functions import geometry as geom

    faces_pdf = AN.flat_mesh_faces_pdf().drop(columns=["class_id"])
    faces = spark.createDataFrame(faces_pdf)
    cams = spark.createDataFrame(AN.nadir_cameras_pdf()).filter("camera_id = 0")
    # verts table from the same grid
    xs = np.linspace(-AN.EXTENT, AN.EXTENT, AN.N)
    gx, gy = np.meshgrid(xs, xs, indexing="ij")
    verts = spark.createDataFrame(pd.DataFrame({
        "vert_id": np.arange(AN.N * AN.N, dtype=np.int64),
        "x": gx.ravel(), "y": gy.ravel()}))
    # polygon: square [-1.0, 0.2]^2 with class 7 (edges at .0/.2 never hit
    # the 0.04-grid verts... they do: -1.0 is a vert line. Shift: use .013)
    ring = geom.rect_ring(-1.013, -1.013, 0.213, 0.213)
    polys = spark.createDataFrame(pd.DataFrame({
        "polygon_id": [1], "class_id": [7],
        "geometry_wkb": [geom.polygon_to_wkb([ring])]}))
    out = render_labels_pipeline(spark, cams, faces, verts, polys).collect()
    assert len(out) == 1
    row = out[0]
    img = np.frombuffer(bytes(row["label_image"]), dtype=np.uint8).reshape(
        row["h"], row["w"])
    # expected: pixel -> face (analytic) -> class 7 iff ALL 3 of the
    # face's verts are inside the polygon (mode vote over 3 identical
    # labels; faces with 2/3 verts inside also vote 7 — mode of {7,7} with
    # one unlabeled vert missing from the vote)
    # easier exact check: interior pixels far from the polygon boundary
    f_over_z = AN.CAM_F / AN.CAM_Z
    offx, offy = AN.CAMERAS[0]["offx"], AN.CAMERAS[0]["offy"]
    for r, c in [(80, 80), (100, 60), (20, 20), (150, 150)]:
        wx = (c + 0.5 - AN.CAM_W / 2) / f_over_z + offx
        wy = -(r + 0.5 - AN.CAM_H / 2) / f_over_z + offy
        margin = 0.1
        inside = (-1.013 + margin < wx < 0.213 - margin
                  and -1.013 + margin < wy < 0.213 - margin)
        outside = not (-1.013 - margin < wx < 0.213 + margin
                       and -1.013 - margin < wy < 0.213 + margin)
        if inside:
            assert img[r, c] == 7, (r, c)
        elif outside:
            assert img[r, c] == 255, (r, c)
    assert (img == 7).sum() > 1000


def test_multiview_detections_pipeline_with_checkpoints(spark, tmp_path):
    """Detections->rays->edges->components->3D points, resumable: the
    second run must skip all three checkpointed stages and produce the
    identical triangulation."""
    import pandas as pd
    from geograypher_spark.plans.pipelines import multiview_detections_pipeline
    from geograypher_spark.functions import camera as cam_fn
    from geograypher_spark.sources.scene import make_scene

    scene = make_scene(seed=42)
    targets = np.array([[3.0, 3.7, 0.5], [7.3, 6.1, 0.8]])
    rows = []
    det_id = 0
    for tgt in targets:
        for c in scene.cameras:
            c2w = np.asarray(c["cam_to_world"]).reshape(4, 4)
            px, py, z = cam_fn.project_points(
                tgt[None, :], c2w, c["f"], c["cx"], c["cy"], c["w"], c["h"])
            if not cam_fn.in_image_mask(px, py, z, c["w"], c["h"])[0]:
                continue
            rows.append({"detection_id": det_id, "camera_id": c["camera_id"],
                         "px": float(px[0]), "py": float(py[0])})
            det_id += 1
    dets = spark.createDataFrame(pd.DataFrame(rows))
    import pandas as pd2
    cams = spark.createDataFrame(pd2.DataFrame(scene.cameras))

    root = str(tmp_path / "ckpt")
    out1 = multiview_detections_pipeline(
        spark, cams, dets, ray_length=12.0, tau=0.005,
        checkpoint_root=root).collect()
    got = {r["component"]: (r["n_rays"], round(r["px"], 5), round(r["py"], 5),
                            round(r["pz"], 5)) for r in out1}
    # each target recovered by its own component
    recovered = sorted(v[1:] for v in got.values())
    assert recovered == sorted((t[0], t[1], t[2]) for t in targets.tolist())
    # resume: all three stages skip
    out2 = multiview_detections_pipeline(
        spark, cams, dets, ray_length=12.0, tau=0.005,
        checkpoint_root=root).collect()
    assert {r["component"]: (r["n_rays"], round(r["px"], 5)) for r in out2} \
        == {k: (v[0], v[1]) for k, v in got.items()}
    import json, glob, os
    lineages = [json.load(open(f))
                for f in glob.glob(os.path.join(root, "*", "*", "lineage.json"))]
    assert len(lineages) == 3


def _forward_survey_chain(spark, scene):
    """The perfbench forward_survey chain on ``scene``: docs → the three
    parsers → visibility → per-face aggregates → union, tiles and the
    polygon vote, each step materialized."""
    import pandas as pd
    from geograypher_spark.operators.aggregates import mode_vote
    from geograypher_spark.operators.spatial_join import points_in_polygons
    from geograypher_spark.operators.tiles import (TileGrid,
                                                   rasterize_face_labels)
    from geograypher_spark.operators.union import face_class_union
    from geograypher_spark.operators.visibility import visibility_join
    from geograypher_spark.plans.pipelines import aggregate_images
    from geograypher_spark.sources import docs as D

    docs, payloads = D.docs_from_scene(spark, scene, seed=1)
    spans = D.explode_spans(docs)
    f = scene.faces
    topo = spark.createDataFrame(pd.DataFrame(
        {"face_id": f["face_id"], "v0": f["v0"], "v1": f["v1"],
         "v2": f["v2"]}))
    verts = spark.createDataFrame(pd.DataFrame(scene.verts))
    faces = D.parse_faces(spans, payloads).join(topo, "face_id")
    cams = D.parse_cameras(spans, payloads)
    polys = D.parse_polygons(spans, payloads)
    for df in (faces, cams, polys):
        df.collect()
    vis = visibility_join(cams, faces)
    vis.collect()
    truth = faces.select("face_id", "class_id")
    pred = aggregate_images(
        vis.join(F.broadcast(truth), "face_id")
        .select("camera_id", "face_id", "class_id", "pixel_count"))
    pred.collect()
    labeled = faces.drop("class_id").join(
        pred.select("face_id", F.col("pred_class").alias("class_id")),
        "face_id", "left")
    face_class_union(labeled, verts).collect()
    size = scene.params["size"]
    grid = TileGrid(x0=0.0, y0=size, gsd=size / 200, tile_px=50)
    rasterize_face_labels(labeled, grid, emit_images=True,
                          bounds=(0.0, 0.0, size, size)).collect()
    points = faces.select("face_id", F.col("cx").alias("x"),
                          F.col("cy").alias("y")).join(pred, "face_id")
    hits = points_in_polygons(points, polys.select("polygon_id",
                                                   "geometry_wkb"))
    return mode_vote(hits, ["polygon_id"], "pred_class",
                     out="polygon_class").collect()


def test_forward_survey_rerun_compiles_no_code(spark):
    """A re-run of the forward_survey chain reuses every generated class.
    Spark's codegen cache held 100 classes (4 LRU segments of 25), fewer
    than the chain's working set, so each re-run recompiled its classes
    with Janino (64 of the chain's 111 at 100 entries); with the session's
    512 entries a re-run compiles none. The count is Spark's
    compile-time histogram, which every Janino compile records.

    The stage ids stay out of the class names for the test: AQE numbers
    whole-stage codegen stages in the order it plans its query stages,
    which follows whichever shuffle finishes first, so with the id in the
    name a re-run can meet the same code under a new name (0-22 classes
    per re-run in probes, each differing only in ``codegenStageId``)."""
    from geograypher_spark.sources.scene import make_scene

    assert spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries") == "512"
    scene = make_scene(seed=1, camera_grid=2, ground_grid=8, image_size=64,
                       focal=40.0, n_boxes=1, n_cylinders=1, n_cones=1)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    spark.conf.set("spark.sql.codegen.useIdInClassName", "false")
    try:
        first = _forward_survey_chain(spark, scene)
        before = compiles.getCount()
        again = _forward_survey_chain(spark, scene)
        assert compiles.getCount() - before == 0
    finally:
        spark.conf.unset("spark.sql.codegen.useIdInClassName")
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))
