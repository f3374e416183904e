"""DTM (terrain raster) sampling + ground-class labeling.

Reference S5/F7 (``meshes/meshes.py:1425-1472`` ``get_height_above_ground``
via rasterio ``sample``; ``meshes/meshes.py:1496-1500`` threshold;
``meshes/meshes.py:1504-1596`` ``label_ground_class``).

Spark plan: DTM tiles are a table (tile_x, tile_y, width, height,
x0, y0, gsd, data: float32 LE bytes). Points get a tile key (pure column
exprs) → equi-join (broadcast: a DTM at 1 m/px for a 10 km² survey is
~40 MB — fits; bigger DTMs use the plain shuffle join) → per-batch
bilinear/nearest sample in an Arrow UDF.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dtm_tiles_from_array(
    spark, height: np.ndarray, x0: float, y0: float, gsd: float, tile_px: int = 256,
) -> DataFrame:
    """Fixture/ingest helper: split a (H, W) float array into tile rows.
    y0 is the TOP edge (GeoTIFF convention: row grows southward)."""
    H, W = height.shape
    rows = []
    for ty in range(0, H, tile_px):
        for tx in range(0, W, tile_px):
            sub = np.ascontiguousarray(
                height[ty:ty + tile_px, tx:tx + tile_px].astype("<f4"))
            rows.append({
                "tile_x": tx // tile_px, "tile_y": ty // tile_px,
                "width": sub.shape[1], "height": sub.shape[0],
                "x0": x0 + tx * gsd, "y0": y0 - ty * gsd, "gsd": gsd,
                "data": sub.tobytes(),
            })
    return spark.createDataFrame(pd.DataFrame(rows))


def sample_dtm(
    points: DataFrame, dtm_tiles: DataFrame,
    x: str = "x", y: str = "y",
    grid_x0: float = 0.0, grid_y0: float = 0.0,
    gsd: float = 1.0, tile_px: int = 256,
    method: str = "bilinear",
    out: str = "ground_z",
) -> DataFrame:
    """points + (tile join) → points + ground elevation column.

    Bilinear uses pixel-center convention; points in the half-pixel border
    of a tile fall back to nearest-neighbor (no cross-tile interpolation —
    at 1m GSD the error bound is half a pixel of terrain, far below the
    2 m ground-threshold default the reference uses).
    """
    tile_m = gsd * tile_px
    keyed = points.withColumn(
        "tile_x", F.floor((F.col(x) - F.lit(grid_x0)) / F.lit(tile_m)).cast("long")
    ).withColumn(
        "tile_y", F.floor((F.lit(grid_y0) - F.col(y)) / F.lit(tile_m)).cast("long")
    )
    # prefix tile columns: faces tables legitimately carry x0/y0 etc.
    tiles = dtm_tiles.select(
        "tile_x", "tile_y",
        F.col("width").alias("_t_w"), F.col("height").alias("_t_h"),
        F.col("x0").alias("_t_x0"), F.col("y0").alias("_t_y0"),
        F.col("gsd").alias("_t_gsd"), F.col("data").alias("_t_data"))
    joined = keyed.join(F.broadcast(tiles), ["tile_x", "tile_y"], "left")

    schema = T.StructType(
        list(points.schema.fields) + [T.StructField(out, T.DoubleType())])
    pt_cols = [f.name for f in points.schema.fields]

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arr_cache: dict[bytes, np.ndarray] = {}
        for pdf in batches:
            n = len(pdf)
            z = np.full(n, np.nan)
            has = pdf["_t_data"].notna().to_numpy()
            for i in np.nonzero(has)[0]:
                row = pdf.iloc[i]
                buf = bytes(row["_t_data"])
                a = arr_cache.get(buf)
                if a is None:
                    a = np.frombuffer(buf, dtype="<f4").reshape(
                        int(row["_t_h"]), int(row["_t_w"]))
                    arr_cache[buf] = a
                # pixel coords within tile, pixel-center convention
                px = (row[x] - row["_t_x0"]) / row["_t_gsd"] - 0.5
                py = (row["_t_y0"] - row[y]) / row["_t_gsd"] - 0.5
                if method == "nearest" or not (
                    0 <= px <= a.shape[1] - 1 and 0 <= py <= a.shape[0] - 1
                ):
                    ci = int(np.clip(round(px), 0, a.shape[1] - 1))
                    ri = int(np.clip(round(py), 0, a.shape[0] - 1))
                    z[i] = float(a[ri, ci])
                else:
                    c0, r0 = int(np.floor(px)), int(np.floor(py))
                    c1, r1 = min(c0 + 1, a.shape[1] - 1), min(r0 + 1, a.shape[0] - 1)
                    fx, fy = px - c0, py - r0
                    z[i] = float(
                        a[r0, c0] * (1 - fx) * (1 - fy) + a[r0, c1] * fx * (1 - fy)
                        + a[r1, c0] * (1 - fx) * fy + a[r1, c1] * fx * fy)
            out_pdf = pdf[pt_cols].copy()
            out_pdf[out] = z
            yield out_pdf

    return joined.mapInPandas(sample, schema=schema)


def label_ground_class(
    faces: DataFrame, dtm_tiles: DataFrame,
    ground_threshold: float = 2.0,
    ground_class_id: float = -1.0,
    class_col: str = "class_id",
    **dtm_kw,
) -> DataFrame:
    """F7 + X16: faces whose centroid height-above-ground < threshold get
    relabeled to ``ground_class_id`` (reference ``label_ground_class``)."""
    sampled = sample_dtm(
        faces, dtm_tiles, x="cx", y="cy", out="_ground_z", **dtm_kw)
    hag = F.col("cz") - F.coalesce(F.col("_ground_z"), F.lit(0.0))
    return sampled.withColumn(
        class_col,
        F.when(hag < ground_threshold, F.lit(ground_class_id))
        .otherwise(F.col(class_col)),
    ).withColumn("height_above_ground", hag).drop("_ground_z")
