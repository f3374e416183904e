"""Greedy set cover for annotation-image selection (A14) + camera subset
filters (F2/F3) + KMeans co-partitioning (A13/J12).

Reference: ``entrypoints/annotation_image_selection.py:142-172`` (SetCoverPy
on the boolean face×camera matrix), camera filters
``cameras/cameras.py:819-864`` and ``entrypoints/aggregate_images.py:117-130``,
KMeans chunking ``meshes/derived_meshes.py:26-151``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_set_cover(
    visibility: DataFrame,
    set_col: str = "camera_id", elem_col: str = "face_id",
    min_observations: int = 1, max_rounds: int = 1000,
) -> list[tuple[int, int]]:
    """Minimal-ish camera subset covering every (sufficiently observed)
    face: classic greedy — each round pick the set covering the most
    uncovered elements. Returns [(camera_id, newly_covered), ...].
    Elements still uncovered after ``max_rounds`` picks raise
    ``ValueError``: a partial cover is never returned.

    Driver-coordinated loop of distributed aggregations: per round one
    groupBy-count + one top-1 (no N×M matrix ever materializes — the
    reference builds the dense boolean matrix, we stay long-format).
    """
    eligible = (
        visibility.groupBy(elem_col)
        .agg(F.count(F.lit(1)).alias("n_obs"))
        .filter(F.col("n_obs") >= min_observations)
        .select(elem_col)
    )
    remaining = visibility.join(
        F.broadcast(eligible), elem_col, "left_semi"
    ).select(set_col, elem_col).localCheckpoint()
    chosen: list[tuple[int, int]] = []
    for _ in range(max_rounds):
        top = (
            remaining.groupBy(set_col)
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), F.asc(set_col))
            .limit(1).collect()
        )
        if not top:
            break
        cam, gain = top[0][set_col], int(top[0]["gain"])
        chosen.append((cam, gain))
        covered = remaining.filter(
            F.col(set_col) == cam).select(elem_col).distinct()
        remaining = remaining.join(
            F.broadcast(covered), elem_col, "left_anti").localCheckpoint()
        if remaining.isEmpty():
            break
    else:
        uncovered = remaining.select(elem_col).distinct().count()
        if uncovered:
            raise ValueError(
                f"greedy_set_cover: {uncovered} elements still uncovered "
                f"after max_rounds={max_rounds}")
    return chosen


def subsample_every_nth(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """F3: every-nth-index subset (deterministic on the id)."""
    return df.filter(F.col(id_col) % n == 0)


def filter_by_path(
    df: DataFrame, path_col: str = "image_ref",
    prefix: str | None = None, regex: str | None = None,
) -> DataFrame:
    """F3: folder-prefix and regex camera filters (Catalyst-native)."""
    out = df
    if prefix is not None:
        out = out.filter(F.col(path_col).startswith(prefix))
    if regex is not None:
        out = out.filter(F.col(path_col).rlike(regex))
    return out


def kmeans_partition(
    df: DataFrame, cols: tuple[str, str] = ("x", "y"),
    k: int = 8, seed: int = 42, out: str = "cluster_id",
) -> DataFrame:
    """A13/J12: KMeans co-partitioning of cameras/polygons. Uses
    pyspark.ml with a fixed seed; ``repartition(out)`` afterwards
    co-locates each cluster. For fully deterministic bucketing prefer the
    grid cells (functions.cells) — KMeans is seed-stable but
    initialization-order-sensitive across Spark versions."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    vec = VectorAssembler(inputCols=list(cols), outputCol="_features")
    fitted = KMeans(k=k, seed=seed, featuresCol="_features",
                    predictionCol=out).fit(vec.transform(df))
    return fitted.transform(vec.transform(df)).drop("_features")
