"""Cell-join + PIP refinement vs a brute-force numpy oracle on the scene."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geograypher_spark.functions import geometry as geom
from geograypher_spark.operators import spatial_join as SJ
from geograypher_spark.sources.scene import scene_to_spark


def brute_force_pip(scene):
    """(face_id, polygon_id) pairs where the face centroid is inside."""
    f = scene.faces
    out = set()
    for p in scene.polygons:
        inside = geom.points_in_wkb(f["cx"], f["cy"], p["wkb"])
        for fid in f["face_id"][inside]:
            out.add((int(fid), int(p["polygon_id"])))
    return out


def test_points_in_polygons_matches_bruteforce(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    joined = SJ.points_in_polygons(
        faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y")),
        polys.select("polygon_id", "geometry_wkb"),
    )
    got = {(r["face_id"], r["polygon_id"]) for r in joined.collect()}
    assert got == brute_force_pip(scene)
    assert len(got) > 0


def test_salted_join_same_result(spark, scene):
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    pts = faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y"))
    pg = polys.select("polygon_id", "geometry_wkb")
    plain = SJ.points_in_polygons(pts, pg)
    salted = SJ.points_in_polygons(pts, pg, salt_factor=4)
    a = {(r["face_id"], r["polygon_id"]) for r in plain.collect()}
    b = {(r["face_id"], r["polygon_id"]) for r in salted.collect()}
    assert a == b


def test_covering_cells_superset_of_hits(spark, scene):
    """Candidate stage must never lose a true hit (covering is an overestimate)."""
    verts, faces, polys, cams = scene_to_spark(spark, scene)
    cover = SJ.polygon_covering_cells(polys.select("polygon_id", "geometry_wkb"))
    cov = cover.groupBy("polygon_id").count().collect()
    assert all(r["count"] >= 1 for r in cov)
    # every oracle hit appears in the candidate join
    pts = SJ.with_cell(
        faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y")))
    cand = pts.join(cover, "cell").select("face_id", "polygon_id")
    cand_set = {(r["face_id"], r["polygon_id"]) for r in cand.collect()}
    assert brute_force_pip(scene).issubset(cand_set)


def test_points_in_polygons_above_edge_budget(spark):
    """A 600-edge concave ring and a square (604 edges, past the 512-edge
    JVM predicate budget) refine through the Arrow kernel on both routes
    (broadcast id dict and salted WKB column) to exactly the pairs
    geom.points_in_multipolygon calls inside."""
    n = 600
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False) + 0.001
    rad = np.where(np.arange(n) % 2 == 0, 5.0, 3.5)
    star = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
    square = np.array([[1, 1], [4, 1], [4, 4], [1, 4]], dtype=float)
    rings = {0: [star], 1: [square]}
    polys = spark.createDataFrame(pd.DataFrame({
        "polygon_id": [0, 1],
        "geometry_wkb": [geom.polygon_to_wkb(r) for r in rings.values()]}))
    pts = np.random.default_rng(3).uniform(-5.5, 5.5, size=(3000, 2))
    points = spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(len(pts)), "x": pts[:, 0], "y": pts[:, 1]}))
    expect = set()
    for pid, r in rings.items():
        inside = geom.points_in_multipolygon(pts[:, 0], pts[:, 1], [r])
        expect |= {(int(i), pid) for i in np.nonzero(inside)[0]}
    assert len(expect) > 1000
    for salt in (None, 2):
        joined = SJ.points_in_polygons(points, polys, salt_factor=salt)
        assert "ArrowEvalPython" in joined._jdf.queryExecution().toString()
        got = {(r["point_id"], r["polygon_id"]) for r in joined.collect()}
        assert got == expect


def test_pip_udf_batch_grouping(spark):
    """pip_udf handles batches containing multiple distinct polygons."""
    sq1 = geom.polygon_to_wkb([np.array([[0, 0], [1, 0], [1, 1], [0, 1.0]])])
    sq2 = geom.polygon_to_wkb([np.array([[10, 10], [11, 10], [11, 11], [10, 11.0]])])
    pdf = pd.DataFrame({
        "x": [0.5, 10.5, 0.5, 10.5],
        "y": [0.5, 10.5, 10.5, 0.5],
        "wkb": [sq1, sq2, sq1, sq2],
    })
    df = spark.createDataFrame(pdf)
    got = df.select(SJ.pip_udf("x", "y", "wkb").alias("hit")).collect()
    assert [r["hit"] for r in got] == [True, True, False, False]
