"""Label dictionary helpers (X16/X17).

Reference: label→ID remap via inverted dict with NaN default
(``meshes/meshes.py:436-467``); IDs_to_labels inference from unique values
(``utils/indexing.py:35-84``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.spatial_join import collect_small_side


def remap_labels(
    df: DataFrame, label_col: str, mapping: dict[str, int],
    out: str = "class_id",
) -> DataFrame:
    """X16: string labels → int ids via a broadcast dim table; unmapped
    labels → NULL (the reference's NaN default)."""
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(k, v) for k, v in mapping.items()], f"{label_col} string, {out} int")
    return df.join(F.broadcast(dim), label_col, "left")


def infer_ids_to_labels(df: DataFrame, label_col: str) -> dict[int, str]:
    """X17: class dictionary from the distinct values, ids assigned in
    sorted order (deterministic; reference infers from unique values).
    More distinct labels than the small-side row cap raise ``ValueError``."""
    w = Window.orderBy(F.asc(label_col))
    pdf = collect_small_side(
        df.select(label_col).filter(F.col(label_col).isNotNull()).distinct()
        .withColumn("_id", F.row_number().over(w) - 1),
        "infer_ids_to_labels")
    return dict(zip(pdf["_id"].tolist(), pdf[label_col].tolist()))
