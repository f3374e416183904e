"""Distributed Louvain community detection (A12 full analog).

Reference: ``utils/numeric.py:509-556`` runs networkx
``louvain_communities`` on the thresholded ray-proximity graph on one
machine; this module is the distributed analog — the standard parallel
Louvain: synchronous best-gain label moves with a checkerboard update
schedule (only half the nodes move per sweep, so two
adjacent nodes never swap into each other's old communities in the same
step), then graph contraction, repeated per level.

Every step is groupBy/join/window (one shuffle each); per-sweep state is
``localCheckpoint``-ed so the plan stays constant-depth (the same pattern
as ``raytri.connected_components``). Determinism: gains tie-break on
lowest community id, node sweeps alternate on ``node % 2`` parity — no
seed, same result at any parallelism (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame, src: str, dst: str, weight: str) -> DataFrame:
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                     F.col(weight).cast("double").alias("w"))
    return e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))


def _one_level(adj: DataFrame, max_sweeps: int, resolution: float,
               min_gain: float) -> DataFrame:
    """One Louvain level: returns (node, comm) labels. ``adj`` is the
    symmetric adjacency (a, b, w) with self-loops allowed (contracted
    internal weight)."""
    spark = adj.sparkSession
    m2 = adj.agg(F.sum("w")).collect()[0][0]  # = 2m (each edge twice)
    if not m2:
        return adj.select(F.col("a").alias("node")).distinct() \
                  .withColumn("comm", F.col("node"))
    deg = adj.groupBy("a").agg(F.sum("w").alias("k")).localCheckpoint()
    labels = deg.select(F.col("a").alias("node"),
                        F.col("a").alias("comm")).localCheckpoint()
    for sweep in range(max_sweeps):
        # neighbor-community weights per node: k_i,in(C)
        nb = (adj.filter(F.col("a") != F.col("b"))
              .join(labels.select(F.col("node").alias("b"),
                                  F.col("comm").alias("nb_comm")), "b")
              .groupBy("a", "nb_comm").agg(F.sum("w").alias("k_in")))
        # community totals Σtot(C) = Σ k_i over members
        sig = (labels.join(deg.withColumnRenamed("a", "node"), "node")
               .groupBy("comm").agg(F.sum("k").alias("sigma")))
        cur = (labels.join(deg.withColumnRenamed("a", "node"), "node")
               .join(sig, "comm")
               .select("node", F.col("comm").alias("cur_comm"), "k",
                       (F.col("sigma") - F.col("k")).alias("sigma_cur")))
        cand = (nb.withColumnRenamed("a", "node")
                .join(cur, "node")
                .join(sig.withColumnRenamed("comm", "nb_comm")
                         .withColumnRenamed("sigma", "sigma_nb"), "nb_comm"))
        # Σtot of the target community EXCLUDING the node itself
        sigma_tgt = F.when(F.col("nb_comm") == F.col("cur_comm"),
                           F.col("sigma_nb") - F.col("k")
                           ).otherwise(F.col("sigma_nb"))
        gain = (F.col("k_in")
                - F.lit(resolution) * F.col("k") * sigma_tgt / F.lit(m2))
        scored = cand.withColumn("gain", gain)
        w = Window.partitionBy("node").orderBy(
            F.desc("gain"), F.asc("nb_comm"))
        best = (scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("node", "cur_comm", "nb_comm", "gain",
                        # gain of STAYING = k_in(cur) - res*k*sigma_cur/m2
                        F.col("k"), F.col("sigma_cur")))
        stay = (scored.filter(F.col("nb_comm") == F.col("cur_comm"))
                .select("node", F.col("gain").alias("stay_gain")))
        # a node with NO intra-community neighbor has no stay row; its true
        # stay gain is k_in=0 minus the degree penalty, NEGATIVE once its
        # community has other members — coalescing to 0.0 overestimated it
        # and rejected positive-modularity moves on sparse contracted
        # graphs (ADVICE r2)
        no_stay = -F.lit(resolution) * F.col("k") * F.col("sigma_cur") / F.lit(m2)
        moves = (best.join(stay, "node", "left")
                 .withColumn("stay_gain", F.coalesce(F.col("stay_gain"), no_stay))
                 .filter((F.col("nb_comm") != F.col("cur_comm"))
                         & (F.col("gain") > F.col("stay_gain") + F.lit(min_gain))
                         # checkerboard: half the nodes per sweep
                         & (F.pmod(F.col("node"), F.lit(2)) == F.lit(sweep % 2)))
                 .select("node", F.col("nb_comm").alias("new_comm")))
        n_moves = moves.limit(1).count()
        if n_moves == 0 and sweep % 2 == 1:
            break
        labels = (labels.join(moves, "node", "left")
                  .select("node", F.coalesce("new_comm", "comm").alias("comm"))
                  ).localCheckpoint()
    return labels


def louvain_distributed(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    weight: str = "weight", max_sweeps: int = 10, max_levels: int = 3,
    resolution: float = 1.0, min_gain: float = 1e-12,
) -> DataFrame:
    """→ (node, community): modularity communities of a weighted undirected
    graph, fully distributed (no driver-side graph). ``community`` is the
    min ORIGINAL node id inside the community (stable, seed-free)."""
    adj = _symmetrize(edges, src, dst, weight).localCheckpoint()
    # mapping original node → current super-node
    mapping = adj.select(F.col("a").alias("node")).distinct() \
                 .withColumn("super", F.col("node")).localCheckpoint()
    for level in range(max_levels):
        labels = _one_level(adj, max_sweeps, resolution, min_gain)
        n_comms = labels.select("comm").distinct().count()
        n_nodes = labels.count()
        mapping = (mapping.join(
            labels.select(F.col("node").alias("super"), "comm"), "super")
            .select("node", F.col("comm").alias("super"))).localCheckpoint()
        if n_comms == n_nodes:
            break
        # contract: communities become nodes; parallel edges sum; the
        # intra-community weight becomes a self-loop (keeps k_i exact)
        adj = (adj
               .join(labels.select(F.col("node").alias("a"),
                                   F.col("comm").alias("ca")), "a")
               .join(labels.select(F.col("node").alias("b"),
                                   F.col("comm").alias("cb")), "b")
               .groupBy(F.col("ca").alias("a"), F.col("cb").alias("b"))
               .agg(F.sum("w").alias("w"))).localCheckpoint()
    # canonical community id = min original member id
    canon = mapping.groupBy("super").agg(F.min("node").alias("community"))
    return mapping.join(canon, "super").select("node", "community")
