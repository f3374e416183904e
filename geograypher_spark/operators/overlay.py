"""Polygon×polygon overlay join (J5) + overlap counts matrix (A7).

Reference: ``gpd.overlay(classes_df, unlabeled_df, how="union"/"identity")``
(``utils/geospatial.py:276-283``) feeding the vector↔vector confusion
matrix (``utils/geospatial.py:292-329``).

Spark plan: covering-cell candidate join (both sides covered at the same
resolution) → exact intersection AREA via triangulate-both + pairwise
convex clips (works for concave polygons with holes, no GEOS) → per-pair
piece rows → groupBy/pivot for the counts matrix.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import cells as C
from ..functions import geometry as geom
from .spatial_join import (
    _driver_covering,
    covering_res_levels,
    polygon_covering_cells,
)


def _align_covering(cover: DataFrame, other_levels: list[int]) -> DataFrame:
    """A covering may hold mixed resolutions (large bboxes coarsen — see
    ``covering_cells_np``). For a covering×covering equi-join, two bboxes
    overlap iff their cells share an ancestor at the coarser of their two
    resolutions — so each side also emits its ancestors at every COARSER
    level the other side uses. Candidate set stays a superset (exact-area
    refine removes false positives); dedup collapses multi-level matches."""
    legs = [cover]
    res_col = C.cell_res_col(F.col("cell"))
    for lvl in other_levels:
        finer = cover.filter(res_col > F.lit(lvl))
        legs.append(finer.withColumn(
            "cell", C.cell_ancestor_col(F.col("cell"), lvl)))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def polygon_overlap_join(
    left: DataFrame, right: DataFrame,
    left_key: str = "left_id", right_key: str = "right_id",
    res: int = 7, min_area: float = 1e-9,
) -> DataFrame:
    """→ (left_key, right_key, overlap_area) for every intersecting pair.

    left/right: (key, geometry_wkb). The left side streams; the right side
    (typically the ground-truth class polygons — small) is collected once
    through the capped small-side guard, covered on the driver and
    broadcast.
    """
    lcover = polygon_covering_cells(
        left.select(F.col(left_key), F.col("geometry_wkb").alias("_lwkb")),
        wkb_col="_lwkb", res=res)
    rsel = right.select(F.col(right_key), F.col("geometry_wkb").alias("_rwkb"))
    _, rcover, r_levels = _driver_covering(
        rsel, "polygon_overlap_join", wkb_col="_rwkb", res=res, route="")
    l_levels = covering_res_levels(lcover) or [res]
    lcover = _align_covering(lcover, r_levels)
    rcover = F.broadcast(_align_covering(rcover, l_levels))
    cand = (
        lcover.join(rcover, "cell").drop("cell")
        .dropDuplicates([left_key, right_key])
    )

    schema = T.StructType([
        T.StructField("left_id_out", T.LongType()),
        T.StructField("right_id_out", T.LongType()),
        T.StructField("overlap_area", T.DoubleType()),
    ])

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[bytes, list] = {}

        def tris(wkb: bytes):
            if wkb not in cache:
                cache[wkb] = geom.wkb_to_rings(wkb)
            return cache[wkb]

        for pdf in batches:
            out = {"left_id_out": [], "right_id_out": [], "overlap_area": []}
            lids = pdf[left_key].to_numpy()
            rids = pdf[right_key].to_numpy()
            lwkb = pdf["_lwkb"].to_numpy()
            rwkb = pdf["_rwkb"].to_numpy()
            for i in range(len(pdf)):
                a = tris(bytes(lwkb[i]))
                b = tris(bytes(rwkb[i]))
                out["left_id_out"].append(lids[i])
                out["right_id_out"].append(rids[i])
                out["overlap_area"].append(geom.polygon_intersection_area(a, b))
            yield pd.DataFrame(out)

    pieces = cand.mapInPandas(compute, schema=schema)
    return (
        pieces.filter(F.col("overlap_area") > min_area)
        .select(F.col("left_id_out").alias(left_key),
                F.col("right_id_out").alias(right_key),
                "overlap_area")
    )


def overlap_counts_matrix(
    overlap: DataFrame, left_class: DataFrame, right_class: DataFrame,
    left_key: str = "left_id", right_key: str = "right_id",
    normalize: bool = False,
) -> DataFrame:
    """A7: per (left_class, right_class) summed intersection area, pivoted
    wide (n_classes is small). left_class/right_class: (key, class_name)."""
    joined = (
        overlap
        .join(left_class.withColumnRenamed("class_name", "_lc"), left_key)
        .join(right_class.withColumnRenamed("class_name", "_rc"), right_key)
    )
    long = joined.groupBy("_lc", "_rc").agg(
        F.sum("overlap_area").alias("area"))
    wide = long.groupBy("_lc").pivot("_rc").sum("area").na.fill(0.0)
    if normalize:
        cols = [c for c in wide.columns if c != "_lc"]
        total = sum(F.col(c) for c in cols)
        wide = wide.select(
            "_lc", *[(F.col(c) / total).alias(c) for c in cols])
    return wide.withColumnRenamed("_lc", "class_name")
