"""Aggregation layer: deterministic mode votes, weighted-area argmax,
multiview means, covering grids, confusion matrices.

Reference analogs (SURVEY §2.4/§2.5):
- A1/A2 multiview mean per face: ``meshes/meshes.py:1971-2051`` — the
  manual streaming nansum/count loop is exactly Spark's partial+final agg
- A4 mode vote: ``meshes/meshes.py:928-968`` + ``utils/numeric.py:622-659``;
  the reference tie-breaks with unseeded random noise — we make it
  deterministic (lowest class id wins) per SURVEY §7 hard-part 1
- A5/W1 weighted-area argmax per polygon: ``meshes/meshes.py:1246-1270``
- A9 covering-grid min/max: ``meshes/meshes.py:2366-2449``
- A15 confusion matrices: ``utils/prediction_metrics.py:95-335``

All plain DataFrame ops — partial aggregation (map-side combine), rank
windows — so Catalyst/Tungsten owns the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def multiview_mean(
    df: DataFrame, group_cols: list[str], value_col: str, out: str = "mean_value",
) -> DataFrame:
    """Per-group mean over finite observations; zero-count groups → NULL
    (the reference's NaN). Spark's sum/count ignore NULLs natively, which
    matches the reference's nansum + isfinite-count loop."""
    return df.groupBy(*group_cols).agg(
        F.sum(value_col).alias("_sum"),
        F.count(value_col).alias("n_obs"),
    ).withColumn(out, F.col("_sum") / F.col("n_obs")).drop("_sum")


def mode_vote(
    df: DataFrame, group_cols: list[str], class_col: str, out: str = "mode_class",
) -> DataFrame:
    """Deterministic majority vote: most frequent non-NULL class per group;
    ties broken by lowest class value (NOT the reference's unseeded random
    jitter — fixtures must be tie-free for parity, SURVEY §7)."""
    counts = (
        df.filter(F.col(class_col).isNotNull())
        .groupBy(*group_cols, class_col)
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy(*group_cols).orderBy(F.desc("votes"), F.asc(class_col))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, F.col(class_col).alias(out), "votes")
    )


def weighted_argmax(
    df: DataFrame, group_cols: list[str], class_col: str, weight_col: str,
    out: str = "pred_class",
) -> DataFrame:
    """argmax_class sum(weight) per group (A5+W1). Zero/negative total weight
    groups are dropped (reference: zero-weight → NaN row skipped)."""
    agg = (
        df.filter(F.col(class_col).isNotNull())
        .groupBy(*group_cols, class_col)
        .agg(F.sum(weight_col).alias("total_weight"))
        .filter(F.col("total_weight") > 0)
    )
    w = Window.partitionBy(*group_cols).orderBy(F.desc("total_weight"), F.asc(class_col))
    return (
        agg.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*group_cols, F.col(class_col).alias(out), "total_weight")
    )


def covering_grid(
    df: DataFrame, x: str, y: str, z: str, n_cells: int,
    xmin: float, ymin: float, xmax: float, ymax: float,
    z_buffer: float = 0.0,
) -> DataFrame:
    """N×N grid over [xmin,xmax]×[ymin,ymax]: per-cell max/min z (+buffer) —
    the ceiling/floor covering surfaces (A9). Pure column exprs + groupBy."""
    sx = (xmax - xmin) / n_cells
    sy = (ymax - ymin) / n_cells
    gi = F.least(F.lit(n_cells - 1), F.greatest(F.lit(0),
         F.floor((F.col(x) - F.lit(xmin)) / F.lit(sx)))).cast("int")
    gj = F.least(F.lit(n_cells - 1), F.greatest(F.lit(0),
         F.floor((F.col(y) - F.lit(ymin)) / F.lit(sy)))).cast("int")
    return (
        df.withColumn("grid_i", gi).withColumn("grid_j", gj)
        .groupBy("grid_i", "grid_j")
        .agg(
            (F.max(z) + F.lit(z_buffer)).alias("z_ceiling"),
            (F.min(z) - F.lit(z_buffer)).alias("z_floor"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )
