"""Ray-pair proximity theta-join + community triangulation.

Reference J8 (``utils/numeric.py:39-236`` pair kernel, ``:350-506`` blocked
driver): all-pairs closest distance between 3D line segments computed in
5000×5000 index blocks over the upper triangle, thresholded into a sparse
edge list with 1/dist weights, cross-image-only.

The blocked self-join is numpy's workaround for O(N²) memory. Spark-first
this is a **spatial candidate join**: two segments within τ must have
τ-dilated bounding boxes that intersect, so

1. cover each segment's τ-dilated bbox with cells (left side) and its raw
   bbox with cells (right side)
2. cell equi-join with ``ray_id_a < ray_id_b`` and ``camera differs``
   predicates pushed into the join — candidate pairs only where geometry
   allows (O(N·density) instead of O(N²))
3. exact segment–segment distance (vectorized Eberly kernel) as an Arrow
   batch filter; weight = 1/dist (clamped)

At 10¹² docs the candidate count is bounded by physical ray density per
cell — the join never materializes the N² grid the reference blocks over.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import camera as cam
from ..functions import cells as C

RAY_COLS = ["sx", "sy", "sz", "ex", "ey", "ez"]


def _segment_cover_cells(
    df: DataFrame, res: int, dilate: float,
    sx: str = "sx", sy: str = "sy", ex: str = "ex", ey: str = "ey",
    out: str = "cell",
) -> DataFrame:
    """Explode each segment to the cells covering its (optionally dilated)
    2D bbox. Pure column exprs (sequence × transform)."""
    s = F.lit(C.cell_size(res))
    xmin = F.least(sx, ex) - F.lit(dilate)
    xmax = F.greatest(sx, ex) + F.lit(dilate)
    ymin = F.least(sy, ey) - F.lit(dilate)
    ymax = F.greatest(sy, ey) + F.lit(dilate)
    ix0 = F.floor(xmin / s).cast("long"); ix1 = F.floor(xmax / s).cast("long")
    iy0 = F.floor(ymin / s).cast("long"); iy1 = F.floor(ymax / s).cast("long")
    offset = F.lit(1 << 28).cast("long")
    res_bits = F.lit(int(res)).cast("long")
    # arithmetic explode: generate ONE flat index sequence per row and
    # derive (ix, iy) row-major from it, instead of materializing a
    # nested array-of-arrays through transform+flatten — the nested form
    # allocates a GenericArrayData per x-column plus closures per
    # element, and this explode feeds the workload's widest shuffle (the
    # candidate-join cover), where allocation garbage inflates the
    # stage's CPU under high core counts. Same cells, same row-major
    # order (ix outer, iy inner).
    ny = iy1 - iy0 + 1
    k = F.explode(F.sequence(
        F.lit(0).cast("long"), (ix1 - ix0 + 1) * ny - 1))
    df = df.withColumn("_k", k)
    ix = ix0 + F.floor(F.col("_k") / ny).cast("long")
    iy = iy0 + F.col("_k") % ny
    cell = (F.shiftleft(res_bits, 58)
            .bitwiseOR(F.shiftleft(ix + offset, 29))
            .bitwiseOR(iy + offset))
    return df.withColumn(out, cell).drop("_k")


def with_seg_dist(df: DataFrame, out: str = "dist") -> DataFrame:
    """Segment–segment closest distance as PURE column expressions
    (Eberly formulation, same algebra as ``camera.segment_pair_closest``).
    Runs inside whole-stage codegen — no Arrow transfer of the candidate
    set, which at 10⁶+ candidates/partition is the dominant cost of a
    pandas-UDF kernel.

    STAGED as named intermediate columns, not one fused Column: column
    expressions are trees, so inlining s/t (each referenced 3+ times)
    exponentiated the expression and the generated Project blew janino's
    64 KB method limit — Spark silently fell back to interpreted eval
    (round-1 driver bench log). Catalyst's CollapseProject keeps
    multi-referenced non-cheap aliases in their own projection, so each
    codegen unit stays small and compiled."""
    def dot(u, v):
        return u[0] * v[0] + u[1] * v[1] + u[2] * v[2]

    a0 = [F.col("a_sx"), F.col("a_sy"), F.col("a_sz")]
    a1 = [F.col("a_ex"), F.col("a_ey"), F.col("a_ez")]
    b0 = [F.col("b_sx"), F.col("b_sy"), F.col("b_sz")]
    b1 = [F.col("b_ex"), F.col("b_ey"), F.col("b_ez")]
    d1 = [x - y for x, y in zip(a1, a0)]
    d2 = [x - y for x, y in zip(b1, b0)]
    r = [x - y for x, y in zip(a0, b0)]
    lit0, lit1 = F.lit(0.0), F.lit(1.0)
    clamp01 = lambda c: F.least(lit1, F.greatest(lit0, c))

    df = df.withColumns({
        "_aa": dot(d1, d1), "_ee": dot(d2, d2), "_ff": dot(d2, r),
        "_cc": dot(d1, r), "_bb": dot(d1, d2)})
    aa, ee = F.col("_aa"), F.col("_ee")
    ff, cc, bb = F.col("_ff"), F.col("_cc"), F.col("_bb")
    denom = aa * ee - bb * bb
    df = df.withColumn("_s0", clamp01(
        F.when(denom > 1e-14 * aa * ee + 1e-300,
               (bb * ff - cc * ee) / denom).otherwise(lit0)))
    df = df.withColumn("_traw", F.when(
        ee > 0, (bb * F.col("_s0") + ff) / ee).otherwise(lit0))
    df = df.withColumn("_t", clamp01(F.col("_traw")))
    df = df.withColumn("_s", F.when(
        F.col("_traw") != F.col("_t"),
        clamp01(F.when(aa > 0, (F.col("_t") * bb - cc) / aa).otherwise(lit0))
    ).otherwise(F.col("_s0")))
    pa = [x + d * F.col("_s") for x, d in zip(a0, d1)]
    pb = [x + d * F.col("_t") for x, d in zip(b0, d2)]
    diff = [x - y for x, y in zip(pa, pb)]
    # + rand()*0.0 is a value-preserving (x + 0.0 == x for all x >= 0)
    # NON-DETERMINISM TAG: PushPredicateThroughNonJoin would otherwise
    # substitute the whole alias chain into the caller's `dist <= tau`
    # filter and push a ~256 KB inlined predicate below every Project —
    # the single expression that blew janino's 64 KB method limit and
    # dropped the hot path to interpreted eval. Non-deterministic project
    # lists are a pushdown/collapse barrier, keeping the filter above the
    # staged, compiled projections.
    df = df.withColumn(out, F.sqrt(dot(diff, diff)) + F.rand(42) * F.lit(0.0))
    return df.drop("_aa", "_ee", "_ff", "_cc", "_bb", "_s0", "_traw", "_t", "_s")


def ray_proximity_edges(
    rays: DataFrame,
    tau: float,
    res: int | None = None,
    min_dist: float = 1e-8,
    cross_camera_only: bool = True,
    cell_partitions: int | None = None,
) -> DataFrame:
    """→ (src, dst, weight, dist): sparse proximity graph over segments.

    ``rays``: (ray_id, camera_id, sx..ez). src < dst always; weight = 1/dist
    (dist clamped below by ``min_dist`` — the reference's 1/dist with
    potential inf is made finite and deterministic).

    SINGLE-EXCHANGE cell-partitioned SORT-MERGE self-join:

    - Both sides consume the same repartitioned τ-dilated cover. The
      exchange subtrees are canonically equal, so Spark plans a
      ReusedExchange and the cover is exploded, row-packed and shuffled
      ONCE. Measured at the dense bench: a two-sided form (a second,
      raw-cover explode+pack+write stage) was the scaling sink (per-task
      CPU inflated ~5x from 4→16 cores — bus-bound); the single-exchange
      form cut wall 28-32% at BOTH parallelism levels and lifted 4→16
      efficiency ~0.79 → 0.83.
    - The b side recovers its raw-cover role from the coordinates
      post-shuffle (raw ⊆ dilated). The recovered bounds carry a
      rand()*0.0 taint: untainted, PushDownPredicates would push them
      below the repartition and make the b-side exchange distinct again.
    - The canonical-cell dedup rides in the join condition, and a
      bbox-gap prefilter guards the staged whole-stage-codegen distance
      kernel (``with_seg_dist``).
    - The join is hinted ``merge`` on the explicit repartition:
      Catalyst's size estimate for an exploded side of a tiny scan
      undershoots by orders of magnitude and would pick a
      BroadcastHashJoin (measured: memory-bound, ~0.57 scaling; at
      10¹²-doc scale a data-sized broadcast is a driver OOM), and the
      user repartition also pins the pair-enumeration stage's task count
      (AQE byte-coalescing would size it by shuffle INPUT bytes; the work
      is the O(pairs) join OUTPUT).

    The candidate count is bounded by physical ray density per cell —
    the join never materializes the N² grid the reference blocks over.
    """
    if res is None:
        # cell comfortably larger than τ keeps ring logic unnecessary
        res = max(0, min(C.MAX_RES, int(np.log2(C.BASE / max(tau * 4, 1e-6)))))
    if cell_partitions is None:
        sc = rays.sparkSession.sparkContext
        cell_partitions = max(sc.defaultParallelism * 4, 16)
    # ONE cover shuffle feeds BOTH join sides. The two sides used to
    # explode different covers (a: τ-dilated, b: raw) — two full
    # explode+pack+write map stages whose per-task CPU measured inflating
    # ~5x from 4→16 cores (Tungsten row packing + lz4 on ~270 MB is
    # bus-bound, the stream-class kernel that physically caps at ~0.44
    # scaling on this host). Raw cover ⊆ dilated cover, so instead both
    # sides read the SAME repartitioned dilated cover — canonically equal
    # exchange subtrees, so Spark plans a ReusedExchange and the cover is
    # exploded, packed and shuffled ONCE — and the b side recovers its
    # raw-cover membership post-shuffle from the coordinates, with the
    # SAME floor expressions the raw emission used (bit-identical
    # candidate set). Each recovered bound carries a rand()*0.0 taint:
    # untainted, PushDownPredicates would split the conjuncts and push
    # them below the repartition, making the b-side exchange distinct
    # again and resurrecting the second shuffle.
    # null ids/coords can never yield an edge through the inner join
    # (null conditions drop the row); filtering them below the explode
    # keeps the two sides' inferred-notnull constraints subsumed, so
    # neither side grows an asymmetric below-exchange Filter that would
    # break the exchanges' canonical equality
    notnull = F.col("ray_id").isNotNull() & F.col("camera_id").isNotNull()
    for c in RAY_COLS:
        notnull = notnull & F.col(c).isNotNull()
    base = rays.select("ray_id", "camera_id", *RAY_COLS).filter(notnull)
    cov = _segment_cover_cells(base, res, dilate=tau)
    cov = cov.repartition(cell_partitions, "cell")
    s = F.lit(C.cell_size(res))
    off = F.lit(1 << 28).cast("long")
    mask29 = F.lit((1 << 29) - 1).cast("long")
    z = F.rand(11) * F.lit(0.0)  # == 0.0; x + z == x bit-exactly
    cur_ix_b = F.shiftright(F.col("cell"), 29).bitwiseAND(mask29) - off
    cur_iy_b = F.col("cell").bitwiseAND(mask29) - off
    raw_ix0 = F.floor((F.least("sx", "ex") - F.lit(0.0) + z) / s).cast("long")
    raw_ix1 = F.floor((F.greatest("sx", "ex") + z) / s).cast("long")
    raw_iy0 = F.floor((F.least("sy", "ey") - F.lit(0.0) + z) / s).cast("long")
    raw_iy1 = F.floor((F.greatest("sy", "ey") + z) / s).cast("long")
    b = cov.filter(
        (raw_ix0 <= cur_ix_b) & (cur_ix_b <= raw_ix1)
        & (raw_iy0 <= cur_iy_b) & (cur_iy_b <= raw_iy1))
    a = cov.select(
        F.col("cell").alias("cell_a"),
        F.col("ray_id").alias("ray_a"), F.col("camera_id").alias("cam_a"),
        *[F.col(c).alias(f"a_{c}") for c in RAY_COLS])
    b = b.select(
        F.col("cell").alias("cell_b"),
        F.col("ray_id").alias("ray_b"), F.col("camera_id").alias("cam_b"),
        *[F.col(c).alias(f"b_{c}") for c in RAY_COLS])
    cond = [F.col("cell_a") == F.col("cell_b"),
            F.col("ray_a") < F.col("ray_b")]
    if cross_camera_only:
        cond.append(F.col("cam_a") != F.col("cam_b"))
    # CANONICAL-CELL dedup, inside the join: a pair whose covers share k
    # cells would match k times; instead of a global dropDuplicates
    # exchange over the (dense) edge set, keep the pair only in the
    # lexicographically-smallest shared cell — (max of the two covers'
    # low x-index, max of the low y-indices), which per-dimension range
    # overlap guarantees is one of the matched cells. Recomputed from the
    # raw coordinates with the SAME floor expressions the cover emission
    # used (bit-identical), so no extra shuffle bytes; evaluated as a join
    # condition, so duplicate candidates never reach the distance kernel.
    cur_ix = F.shiftright(F.col("cell_a"), 29).bitwiseAND(mask29) - off
    cur_iy = F.col("cell_a").bitwiseAND(mask29) - off
    a_ix0 = F.floor((F.least("a_sx", "a_ex") - F.lit(tau)) / s).cast("long")
    a_iy0 = F.floor((F.least("a_sy", "a_ey") - F.lit(tau)) / s).cast("long")
    b_ix0 = F.floor((F.least("b_sx", "b_ex") - F.lit(0.0)) / s).cast("long")
    b_iy0 = F.floor((F.least("b_sy", "b_ey") - F.lit(0.0)) / s).cast("long")
    cond.append(cur_ix == F.greatest(a_ix0, b_ix0))
    cond.append(cur_iy == F.greatest(a_iy0, b_iy0))
    cand = a.hint("merge").join(b, cond).drop("cell_a", "cell_b")
    # bbox-gap prefilter between the join and the staged kernel: any two
    # segment points differ by at least the per-axis bbox gaps, so
    # dist ≥ √(gapx² + gapy² + gapz²) — a pair with gap² > τ² can never
    # pass the exact ``dist ≤ τ`` filter (the survivors still go through
    # the exact kernel). Prunes ~94% of candidates ahead of the ~50-flop
    # staged kernel at the dense-bench density (neutral there — the
    # merge enumeration dominates — but the win grows with τ·density,
    # where kernel flops dominate). Placement matters, twice over: as a
    # JOIN CONDITION the whole predicate is evaluated interpreted inside
    # the SMJ condition check (measured +45% on the join stage), and as
    # a plain filter Catalyst would push it INTO that join condition —
    # the rand()*0.0 non-determinism tag (same trick as with_seg_dist)
    # pins it here as a compiled post-join filter.
    def _gap(lo_a, hi_a, lo_b, hi_b):
        return F.greatest(
            F.lit(0.0),
            F.greatest(F.least(cand[lo_a], cand[hi_a]),
                       F.least(cand[lo_b], cand[hi_b]))
            - F.least(F.greatest(cand[lo_a], cand[hi_a]),
                      F.greatest(cand[lo_b], cand[hi_b])))

    gx = _gap("a_sx", "a_ex", "b_sx", "b_ex")
    gy = _gap("a_sy", "a_ey", "b_sy", "b_ey")
    gz = _gap("a_sz", "a_ez", "b_sz", "b_ez")
    cand = cand.withColumn(
        "_g2", gx * gx + gy * gy + gz * gz
        + F.rand(7) * F.lit(0.0)).filter(
        F.col("_g2") <= F.lit(tau) * F.lit(tau)).drop("_g2")
    scored = with_seg_dist(cand, out="dist")
    # the canonical-cell join condition already emits each pair exactly
    # once — no post-hoc dropDuplicates exchange needed
    edges = (
        scored
        .filter(F.col("dist") <= tau)
        .select(
            F.col("ray_a").alias("src"), F.col("ray_b").alias("dst"),
            (F.lit(1.0) / F.greatest(F.col("dist"), F.lit(min_dist))).alias("weight"),
            "dist")
    )
    return edges


def clip_rays_to_covering(
    rays: DataFrame,
    ceiling_tris: "np.ndarray", floor_tris: "np.ndarray",
) -> DataFrame:
    """J9 general case: clip each ray segment to its first hits on the
    ceiling and floor covering meshes (Möller–Trumbore against broadcast
    triangle soups, reference ``utils/geometric.py:144-254`` /
    ``pv.multi_ray_trace``). Rays must hit BOTH surfaces to survive.

    ceiling_tris/floor_tris: (m, 3, 3) arrays — small (A9 grid Delaunay),
    shipped to executors via closure broadcast.
    """
    from pyspark.sql import types as T
    from ..functions import geometry as geom

    c0, c1, c2 = ceiling_tris[:, 0], ceiling_tris[:, 1], ceiling_tris[:, 2]
    f0, f1, f2 = floor_tris[:, 0], floor_tris[:, 1], floor_tris[:, 2]
    schema = T.StructType([
        T.StructField("ray_id", T.LongType()),
        T.StructField("camera_id", T.LongType()),
        T.StructField("sx", T.DoubleType()), T.StructField("sy", T.DoubleType()),
        T.StructField("sz", T.DoubleType()), T.StructField("ex", T.DoubleType()),
        T.StructField("ey", T.DoubleType()), T.StructField("ez", T.DoubleType()),
    ])

    def clip(batches):
        for pdf in batches:
            s = pdf[["sx", "sy", "sz"]].to_numpy(np.float64)
            e = pdf[["ex", "ey", "ez"]].to_numpy(np.float64)
            d = e - s
            t_top, hit_top = geom.rays_triangles_first_hit(s, d, c0, c1, c2)
            t_bot, hit_bot = geom.rays_triangles_first_hit(s, d, f0, f1, f2)
            keep = hit_top & hit_bot & (t_top <= 1) & (t_bot <= 1)
            ns = s + d * np.nan_to_num(
                np.where(np.isfinite(t_top), t_top, 0.0))[:, None]
            ne = s + d * np.nan_to_num(
                np.where(np.isfinite(t_bot), t_bot, 0.0))[:, None]
            out = pdf.loc[keep, ["ray_id", "camera_id"]].copy()
            out[["sx", "sy", "sz"]] = ns[keep]
            out[["ex", "ey", "ez"]] = ne[keep]
            yield out

    return rays.mapInPandas(clip, schema=schema)


# ---------------------------------------------------------------------------
# Connected components (A12 stand-in, deterministic)
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 50,
) -> DataFrame:
    """→ (node, component): component = min reachable node id, via
    hash-min label propagation: each round, every node takes the least
    label among itself and its neighbours, so a label travels one hop
    per round and the loop needs (graph diameter + 1) rounds. A graph
    still changing labels after ``max_iter`` rounds raises ``ValueError``
    instead of returning partial components. The reference uses Louvain
    (``utils/numeric.py:509-556``) whose resolution splitting is
    seed-sensitive; components are the deterministic contract our
    fixtures use (SURVEY §7 hard-part 1). For modularity splitting see
    ``community.louvain_distributed``.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()  # cut lineage: the loop below would otherwise
    )                       # grow an O(iterations)-deep plan (JVM stack)
    labels = sym.select("a").distinct().withColumn(
        "component", F.col("a")).localCheckpoint()
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels.withColumnRenamed("a", "b2"), sym["b"] == F.col("b2"))
            .groupBy("a").agg(F.min("component").alias("neigh_comp"))
        )
        new_labels = (
            labels.join(neigh_min, "a", "left")
            .select("a", F.least("component", F.coalesce("neigh_comp", "component")).alias("component"))
        ).localCheckpoint()  # eager materialize per round, constant-depth plan
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "old"), "a")
            .filter(F.col("component") != F.col("old")).limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise ValueError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} rounds; the graph's diameter needs more")
    return labels.select(F.col("a").alias("node"), "component")


# ---------------------------------------------------------------------------
# Community triangulation (A11)
# ---------------------------------------------------------------------------

TRIANGULATION_SCHEMA = T.StructType([
    T.StructField("component", T.LongType()),
    T.StructField("n_rays", T.IntegerType()),
    T.StructField("px", T.DoubleType()),
    T.StructField("py", T.DoubleType()),
    T.StructField("pz", T.DoubleType()),
])


def triangulate_components(rays: DataFrame, components: DataFrame) -> DataFrame:
    """Per component: mean of all-pairs clamped closest points (the
    reference's ``intersection_average``, ``utils/numeric.py:330-347``).
    Components are small (rays seeing one object) → applyInPandas per
    component is bounded."""
    tagged = rays.join(components, rays["ray_id"] == components["node"]).drop("node")

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        # group row order is shuffle-dependent; sort for a deterministic
        # summation order in the mean (bit-stable output)
        pdf = pdf.sort_values("ray_id")
        s = pdf[["sx", "sy", "sz"]].to_numpy(np.float64)
        e = pdf[["ex", "ey", "ez"]].to_numpy(np.float64)
        n = len(s)
        if n < 2:
            return pd.DataFrame({
                "component": [key[0]], "n_rays": [n],
                "px": [np.nan], "py": [np.nan], "pz": [np.nan]})
        ii, jj = np.triu_indices(n, k=1)
        pa, pb, _ = cam.segment_pair_closest(s[ii], e[ii], s[jj], e[jj])
        pts = np.concatenate([pa, pb])
        m = pts.mean(axis=0)
        return pd.DataFrame({
            "component": [key[0]], "n_rays": [n],
            "px": [m[0]], "py": [m[1]], "pz": [m[2]]})

    return tagged.groupBy("component").applyInPandas(agg, schema=TRIANGULATION_SCHEMA)
