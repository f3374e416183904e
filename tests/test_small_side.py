"""Broadcast ("small") sides: each operator collects its small side in
exactly one job while building the plan, and a small side over the row cap
fails loudly."""

import pytest
from pyspark.sql import functions as F

from geograypher_spark.operators import spatial_join as SJ
from geograypher_spark.operators import visibility as V
from geograypher_spark.operators.overlay import polygon_overlap_join
from geograypher_spark.sources.scene import scene_to_spark


@pytest.fixture(scope="module")
def scene_parquet(spark, scene, tmp_path_factory):
    """The scene tables read back from Parquet: every collect of a file
    scan runs a Spark job, so the job count is the collect count."""
    root = tmp_path_factory.mktemp("scene")
    _, faces, polys, cams = scene_to_spark(spark, scene)
    for name, df in [("faces", faces), ("polys", polys), ("cams", cams)]:
        df.write.parquet(str(root / name))
    return tuple(spark.read.parquet(str(root / n))
                 for n in ("faces", "polys", "cams"))


def _build_jobs(spark, label, build):
    """Number of Spark jobs ``build()`` runs while building its plan."""
    sc = spark.sparkContext
    group = f"small_side_{label}"
    sc.setJobGroup(group, group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_one_build_job_per_small_side(spark, scene_parquet):
    faces, polys, cams = scene_parquet
    z = (0.0, 100.0)
    pts = faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y"))
    builds = {
        "visibility_join": lambda: V.visibility_join(cams, faces, z_range=z),
        "render_label_images": lambda: V.render_label_images(
            cams, faces, class_col="class_id", z_range=z),
        "render_face_images": lambda: V.render_face_images(
            cams, faces, z_range=z),
        "points_in_polygons": lambda: SJ.points_in_polygons(
            pts, polys.select("polygon_id", "geometry_wkb")),
    }
    jobs = {name: _build_jobs(spark, name, b) for name, b in builds.items()}
    assert jobs == {name: 1 for name in builds}


def test_small_side_over_cap_raises(spark, scene_parquet, monkeypatch):
    faces, polys, cams = scene_parquet
    pts = faces.select("face_id", F.col("cx").alias("x"), F.col("cy").alias("y"))
    psel = polys.select("polygon_id", "geometry_wkb")
    monkeypatch.setattr(SJ, "SMALL_SIDE_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="points_in_polygons.*salt_factor="):
        SJ.points_in_polygons(pts, psel)
    with pytest.raises(ValueError, match="visibility_join"):
        V.visibility_join(cams, faces, z_range=(0.0, 100.0))
    with pytest.raises(ValueError, match="polygon_overlap_join"):
        polygon_overlap_join(psel.withColumnRenamed("polygon_id", "left_id"),
                             psel.withColumnRenamed("polygon_id", "right_id"))
    # the salted shuffle join is the distributed route: no driver collect
    assert SJ.points_in_polygons(pts, psel, salt_factor=1).count() > 0


def test_label_dictionary_over_cap_raises(spark, monkeypatch):
    from geograypher_spark.functions.labels import infer_ids_to_labels

    df = spark.createDataFrame([("cube",), ("cone",), ("mystery",)],
                               "label string")
    monkeypatch.setattr(SJ, "SMALL_SIDE_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="infer_ids_to_labels"):
        infer_ids_to_labels(df, "label")


def test_geojson_sink_over_cap_raises(spark, scene, tmp_path, monkeypatch):
    """The GeoJSON sink collects its per-class unions through the capped
    small-side read, so an unexpectedly large union table fails loudly
    instead of filling the driver."""
    from geograypher_spark.operators.union import face_class_union
    from geograypher_spark.sources.sinks import write_vector_geojson

    verts, faces, _, _ = scene_to_spark(spark, scene)
    unions = face_class_union(faces, verts)
    path = tmp_path / "out.geojson"
    monkeypatch.setattr(SJ, "SMALL_SIDE_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="write_vector_geojson"):
        write_vector_geojson(unions, str(path))
    assert not path.exists()
