"""End-to-end pipeline compositions (the reference's CLI entrypoints).

Each pipeline is a declarative DataFrame plan — Catalyst owns predicate
pushdown / join ordering; we own the spatial-candidate generation, salting
and the Arrow kernels.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import aggregates as A
from ..operators import spatial_join as SJ


def slope_ratio_col() -> F.Column:
    """3D/2D triangle area ratio from the 9 coord columns (closed-form cross
    product, pure column exprs — X4, reference ``utils/numeric.py:271-327``).
    Vertical faces (2D area → 0) get ratio 0 so they never dominate a
    polygon vote (they project to nothing in plan view)."""
    ax, ay, az = (F.col("x1") - F.col("x0"), F.col("y1") - F.col("y0"), F.col("z1") - F.col("z0"))
    bx, by, bz = (F.col("x2") - F.col("x0"), F.col("y2") - F.col("y0"), F.col("z2") - F.col("z0"))
    cx = ay * bz - az * by
    cy = az * bx - ax * bz
    cz = ax * by - ay * bx
    area3d = F.sqrt(cx * cx + cy * cy + cz * cz) / 2
    area2d = F.abs(ax * by - ay * bx) / 2
    return F.when(area2d > 1e-12, area3d / area2d).otherwise(F.lit(0.0))


def label_polygons(
    faces: DataFrame,
    polygons: DataFrame,
    class_col: str = "class_id",
    res: int = SJ.DEFAULT_RES,
    use_slope_weight: bool = True,
    salt_factor: int | None = None,
) -> DataFrame:
    """The minimum end-to-end query (SURVEY §7 step 2): assign each polygon
    the class whose faces cover the most (slope-corrected) area inside it.

    Reference: ``TexturedPhotogrammetryMesh.label_polygons``
    (``meshes/meshes.py:1117-1282``) = sjoin/overlay (J2/J5) + weighted-area
    groupby (A5) + idxmax (W1).

    faces: (face_id, x0..z2, class_col); polygons: (polygon_id, geometry_wkb).
    Returns (polygon_id, pred_class, total_weight).
    """
    f = faces.filter(F.col(class_col).isNotNull())  # F4 finite-label mask
    overlap = SJ.triangles_polygon_overlap(
        f.select("face_id", "x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2", class_col),
        polygons.select("polygon_id", "geometry_wkb"),
        res=res, salt_factor=salt_factor,
    )
    weight = F.col("overlap_area") * (slope_ratio_col() if use_slope_weight else F.lit(1.0))
    weighted = overlap.withColumn("weight", weight)
    return A.weighted_argmax(weighted, ["polygon_id"], class_col, "weight")


def aggregate_images(
    pixel_classes: DataFrame,
    min_observations: int = 1,
) -> DataFrame:
    """Forward pipeline core (``entrypoints/aggregate_images.py`` /
    ``aggregate_projected_images``, ``meshes/meshes.py:1971-2051``):
    per-camera per-face class observations → per-face predicted class.

    pixel_classes: (camera_id, face_id, class_id, pixel_count) — the
    visibility join output joined with each camera's segmentation (for a
    LookUpSegmentor this is a map face→class; for an ML segmentor the
    per-pixel classes aggregate to the same shape). The reference's
    streaming nansum/count loop is exactly groupBy partial+final agg here.

    Returns (face_id, pred_class, total_weight, n_cameras).

    One pass over the input: (face, class) totals and camera sets, then a
    per-face aggregate of both. The class is the ``A.weighted_argmax``
    pick — positive totals only, weight DESC (NaN first, as Spark orders
    it) then class ASC — as the min of a (not NaN, -w, class) struct.
    Every read of ``pixel_classes`` re-runs its whole lineage (the
    visibility render included), so it is read by this one chain only.
    """
    valid = pixel_classes.filter(F.col("class_id").isNotNull())
    per_class = valid.groupBy("face_id", "class_id").agg(
        F.sum("pixel_count").alias("w"),
        F.collect_set("camera_id").alias("cams"))
    w = F.col("w")
    best = F.min(F.when(w > 0, F.struct(
        (~F.isnan(w)).alias("not_nan"), (-w).alias("neg_w"),
        F.col("class_id").alias("class_id"))))
    # observations are per FACE across all classes — a face seen by two
    # cameras voting for different classes has n_cameras=2, not max(1,1)
    # (reference counts valid projections per face, meshes.py:2010-2031)
    n_cameras = F.size(F.array_distinct(F.flatten(F.collect_list("cams"))))
    return (
        per_class.groupBy("face_id")
        .agg(best.alias("best"), n_cameras.cast("long").alias("n_cameras"))
        .filter(F.col("best").isNotNull()
                & (F.col("n_cameras") >= min_observations))
        .select("face_id", F.col("best.class_id").alias("pred_class"),
                (-F.col("best.neg_w")).alias("total_weight"), "n_cameras")
    )


def forward_pipeline(
    spark,
    cameras: DataFrame,
    faces: DataFrame,
    verts: DataFrame,
    face_true_class: DataFrame,
    export_geojson_path: str | None = None,
    resolve_overlaps: bool = False,
) -> DataFrame:
    """The full aggregate_images entrypoint re-expressed (SURVEY §3.1):

    cameras ⋈ faces (visibility z-buffer) → per-camera LookUp segmentation
    (face→class broadcast join) → per-face weighted class argmax → per-class
    footprint union → optional GeoJSON sink.

    ``face_true_class``: (face_id, class_id) — the LookUpSegmentor's label
    source (ground truth / upstream model output).
    Returns the per-face predictions; the union/export is a side effect.
    """
    from ..operators.visibility import visibility_join
    from ..operators.union import face_class_union
    from ..sources.sinks import write_vector_geojson

    vis = visibility_join(cameras, faces)
    observed = vis.join(F.broadcast(face_true_class), "face_id")
    pred = aggregate_images(
        observed.select("camera_id", "face_id", "class_id", "pixel_count"))
    if export_geojson_path is not None:
        labeled_faces = faces.drop("class_id").join(
            pred.select("face_id", F.col("pred_class").alias("class_id")),
            "face_id", "left")
        unions = face_class_union(labeled_faces, verts)
        if resolve_overlaps:
            # W3: per-class export geometries pairwise disjoint (reference
            # ensure_non_overlapping_polygons before gdf.to_file)
            from ..operators.union import ensure_non_overlapping_unions

            unions = ensure_non_overlapping_unions(unions)
        write_vector_geojson(unions, export_geojson_path)
    return pred


def render_labels_pipeline(
    spark,
    cameras: DataFrame,
    faces: DataFrame,
    verts: DataFrame,
    polygons: DataFrame,
    nodata: int = 255,
) -> DataFrame:
    """The REVERSE entrypoint (``entrypoints/render_labels.py:21-245``,
    SURVEY §3.2): map → mesh → per-camera label images.

    1. verts ⋈ polygons exact PIP (J4, ``meshes.py:971-1056``)
    2. vert labels → per-face mode vote (deterministic tie-break)
    3. per-camera z-buffer render of face ids (J1) + broadcast face→class
       gather → uint8 label images (the reference's
       ``face_texture[pix2face]`` gather, ``meshes.py:1825-1909``)

    Returns (camera_id, w, h, label_image binary uint8, nodata=255).
    """
    from ..operators.visibility import mesh_z_range, render_label_images

    vert_labels = SJ.points_in_polygons(
        verts.select("vert_id", "x", "y"),
        polygons.select("polygon_id", "class_id", "geometry_wkb"),
    ).select("vert_id", "class_id")
    face_votes = (
        faces.select("face_id", F.explode(F.array("v0", "v1", "v2")).alias("vert_id"))
        .join(vert_labels, "vert_id")
    )
    face_class = A.mode_vote(face_votes, ["face_id"], "class_id",
                             out="face_class")
    # face->class joins back onto the face table (face-scale: a shuffle
    # join, never a driver collect); the render gathers classes inside
    # each camera group
    labeled = faces.join(face_class.select("face_id", "face_class"), "face_id")
    # footprint z-stats from the RAW face table: the class join doesn't
    # move geometry, and reading zmin/zmax through `labeled` would
    # re-execute the whole PIP + mode-vote lineage once more (measured
    # ~25% of the pipeline's stage CPU at 32 cores). At warehouse scale
    # this is the table-stats read the operator docstring describes.
    return render_label_images(cameras, labeled, nodata=nodata,
                               z_range=mesh_z_range(faces))


def multiview_detections_pipeline(
    spark,
    cameras: DataFrame,
    detections: DataFrame,
    ray_length: float = 50.0,
    tau: float = 0.05,
    max_angle_rad: float | None = None,
    checkpoint_root: str | None = None,
) -> DataFrame:
    """The detections→3D-objects entrypoint
    (``entrypoints/multiview_detections.py:183-303``, SURVEY §3.3):

    detections (camera_id, px, py) → world rays (X6, distributed
    mapInPandas with broadcast camera params) → optional vertical-angle
    filter (F5) → τ proximity graph (J8) → connected components (A12) →
    per-component triangulation (A11).

    With ``checkpoint_root`` the three reference checkpoints
    (line_segments.npz / edge_weights.json / communities.npz,
    ``cameras/cameras.py:1342-1398``) become three resumable content-hash
    checkpoint tables with per-partition lineage.
    """
    from ..functions import camera as cam_fn
    from ..operators.raytri import (connected_components, ray_proximity_edges,
                                    triangulate_components)
    from ..operators.visibility import _camera_side

    _, bc = _camera_side(cameras, "multiview_detections_pipeline")
    schema = T.StructType([
        T.StructField("ray_id", T.LongType()),
        T.StructField("camera_id", T.LongType()),
        T.StructField("sx", T.DoubleType()), T.StructField("sy", T.DoubleType()),
        T.StructField("sz", T.DoubleType()), T.StructField("ex", T.DoubleType()),
        T.StructField("ey", T.DoubleType()), T.StructField("ez", T.DoubleType()),
    ])

    def to_rays(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for cam_id, grp in pdf.groupby("camera_id"):
                p = bc.value[int(cam_id)]
                c2w = np.asarray(p["cam_to_world"], dtype=np.float64).reshape(4, 4)
                s, e = cam_fn.cast_rays(
                    grp["px"].to_numpy(np.float64), grp["py"].to_numpy(np.float64),
                    c2w, float(p["f"]), float(p["cx"]), float(p["cy"]),
                    int(p["w"]), int(p["h"]), length=ray_length)
                o = pd.DataFrame({
                    "ray_id": grp["detection_id"].to_numpy(np.int64),
                    "camera_id": np.full(len(grp), cam_id, dtype=np.int64),
                    "sx": s[:, 0], "sy": s[:, 1], "sz": s[:, 2],
                    "ex": e[:, 0], "ey": e[:, 1], "ez": e[:, 2]})
                if max_angle_rad is not None:
                    ang = cam_fn.ray_angle_from_vertical(s, e)
                    o = o[ang <= max_angle_rad]
                outs.append(o)
            yield pd.concat(outs) if outs else pd.DataFrame(
                {f.name: pd.Series([], dtype="float64") for f in schema})

    rays = detections.mapInPandas(to_rays, schema=schema)

    if checkpoint_root is not None:
        from .checkpoints import CheckpointManager

        mgr = CheckpointManager(spark, checkpoint_root)
        rays, rays_key = mgr.run(
            "line_segments", {"ray_length": ray_length}, [], lambda: rays)
        edges, edges_key = mgr.run(
            "edge_weights", {"tau": tau}, [rays_key],
            lambda: ray_proximity_edges(rays, tau=tau))
        comp_df, _ = mgr.run(
            "communities", {}, [edges_key],
            lambda: connected_components(edges))
    else:
        edges = ray_proximity_edges(rays, tau=tau)
        comp_df = connected_components(edges)
    return triangulate_components(rays, comp_df)
