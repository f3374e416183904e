"""Sinks: vector (GeoJSON), raster tiles (+world files), render images,
image chips, mesh tables (S9–S13).

Big data stays distributed (foreachPartition binary writers keyed by
camera/window); only per-class collapsed geometry (a handful of
multipolygons post-A6) is collected for the GeoJSON sink — mirroring the
reference's final ``gdf.to_file`` (``meshes/meshes.py:1406-1408``).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame

from ..functions import geometry as geom
from ..operators.spatial_join import collect_small_side


def write_vector_geojson(
    unions: DataFrame, path: str, crs: str = "EPSG:32610",
    class_names: dict | None = None,
) -> int:
    """S9: (class_id, geometry_wkb, ...) → one GeoJSON FeatureCollection.
    Input is per-class collapsed output of face_class_union — tiny, and
    read through the capped small-side collect."""
    rows = collect_small_side(unions, "write_vector_geojson").to_dict("records")
    feats = []
    for r in rows:
        polys = geom.wkb_to_rings(bytes(r["geometry_wkb"]))
        coords = [[[ [float(x), float(y)] for x, y in ring] for ring in rings]
                  for rings in polys]
        cls = r["class_id"]
        props = {"class_id": cls}
        if class_names and cls in class_names:
            props["class_name"] = class_names[cls]
        if "area" in r:
            props["area"] = r["area"]
        feats.append({
            "type": "Feature",
            "geometry": {"type": "MultiPolygon", "coordinates": coords},
            "properties": props,
        })
    doc = {
        "type": "FeatureCollection",
        "crs": {"type": "name", "properties": {"name": crs}},
        "features": feats,
    }
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return len(feats)


def write_raster_tiles(
    tiles: DataFrame, out_dir: str, grid, fmt: str = "npy",
    epsg: int = 32610, nodata: int = 255,
) -> None:
    """S10: (tile_x, tile_y, data) uint8 class tiles → per-tile raster
    files written from the executors (foreachPartition — no driver
    collect). ``fmt="gtiff"`` writes real GeoTIFFs via the from-scratch
    encoder (``sources/gtiff.py`` — reference rasterio GTiff sink,
    ``ortho_segmentor.py:330-431``); ``fmt="npy"`` writes .npy + ESRI
    world files."""
    os.makedirs(out_dir, exist_ok=True)
    tp, gsd, x0, y0 = grid.tile_px, grid.gsd, grid.x0, grid.y0

    def write_part(rows):
        from .gtiff import encode_geotiff

        for r in rows:
            img = np.frombuffer(bytes(r["data"]), dtype=np.uint8).reshape(tp, tp)
            base = os.path.join(out_dir, f"tile_{r['tile_x']}_{r['tile_y']}")
            ox = x0 + r["tile_x"] * tp * gsd
            oy = y0 - r["tile_y"] * tp * gsd
            if fmt == "gtiff":
                with open(base + ".tif", "wb") as fh:
                    fh.write(encode_geotiff(img, ox, oy, gsd,
                                            epsg=epsg, nodata=nodata))
            else:
                np.save(base + ".npy", img)
                with open(base + ".wld", "w") as fh:
                    # world file: gsd_x, rot, rot, -gsd_y, center-x, center-y
                    fh.write(f"{gsd}\n0.0\n0.0\n{-gsd}\n"
                             f"{ox + gsd / 2}\n{oy - gsd / 2}\n")

    tiles.foreachPartition(write_part)


def write_render_images(renders: DataFrame, out_dir: str) -> None:
    """S12: (camera_id, w, h, face_image) → per-camera .npy files from the
    executors (partitioned binary sink keyed by camera_id)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for r in rows:
            img = np.frombuffer(bytes(r["face_image"]), dtype="<i8").reshape(
                r["h"], r["w"])
            np.save(os.path.join(out_dir, f"render_{r['camera_id']}.npy"), img)

    renders.foreachPartition(write_part)


def write_image_chips(
    chips: DataFrame, out_dir: str,
    key_cols: tuple[str, ...] = ("tile_x", "tile_y"), data_col: str = "data",
) -> None:
    """S11: chip sink — filename encodes the window key
    (reference ``ortho_segmentor.py:32-37`` window-key format)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows):
        for r in rows:
            key = "_".join(str(r[k]) for k in key_cols)
            with open(os.path.join(out_dir, f"chip_{key}.bin"), "wb") as fh:
                fh.write(bytes(r[data_col]))

    chips.foreachPartition(write_part)


def write_mesh_tables(
    faces: DataFrame, verts: DataFrame, out_dir: str,
    ids_to_labels: dict | None = None,
) -> None:
    """S13: textured-mesh sink = faces + verts parquet + label dim JSON
    (reference ``meshes/meshes.py:1087-1115`` mesh + IDs_to_labels.json)."""
    faces.write.mode("overwrite").parquet(os.path.join(out_dir, "faces"))
    verts.write.mode("overwrite").parquet(os.path.join(out_dir, "verts"))
    if ids_to_labels is not None:
        with open(os.path.join(out_dir, "IDs_to_labels.json"), "w") as fh:
            json.dump({str(k): v for k, v in ids_to_labels.items()}, fh)
