"""Spatial join spine: cell-prefix candidate join + exact PIP refinement.

Replaces the reference's geopandas joins:
- ``gpd.sjoin(faces, polygons, predicate="within")`` (``meshes/meshes.py:1226-1237``)
- ``gpd.tools.overlay(verts, gdf, how="intersection")`` (``meshes/meshes.py:1013-1056``)
- coarse-then-exact ROI prefilter (``meshes/meshes.py:1210-1237``)

Pattern (the engine's core, per north_rule):
1. encode point side to grid cells — pure column expr, codegen'd
2. cover each polygon with cells at the same resolution — small side,
   collected once and covered on the driver, then broadcast
3. equi-join on cell id (broadcast hash join; salted shuffle join when
   ``salt_factor`` is given — skew handled *explicitly*)
4. refine candidates with the exact winding-number PIP kernel in a
   vectorized pandas UDF (Arrow batches, no per-row Python)

At 100 TB the point side never moves twice: one projection to add the cell
column, one (broadcast) join, one Arrow-batched refine. One capped driver
collect of the broadcast side (``collect_small_side``); none when salted.
"""

from __future__ import annotations

import math
import numbers
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions import cells as C
from ..functions import geometry as geom

DEFAULT_RES = 7  # 8 m cells at BASE=1024 — tuned to forest-plot object size

# Row cap of every broadcast side collected to the driver (the fixtures'
# largest are 576 cameras and 64 polygons)
SMALL_SIDE_MAX_ROWS = 100_000

_SALTED_ROUTE = "; pass salt_factor= to run the distributed salted join instead"


def collect_small_side(df: DataFrame, operator: str,
                       route: str = "") -> pd.DataFrame:
    """The broadcast side of ``operator`` as one pandas frame, read by ONE
    job (the Arrow collect of ``limit(cap + 1)``; a row ``collect()`` of a
    limit takes partitions in scale-up rounds, a job each). Raises
    ``ValueError`` naming ``operator`` and its distributed ``route`` when
    the side has more than ``SMALL_SIDE_MAX_ROWS`` rows."""
    pdf = df.limit(SMALL_SIDE_MAX_ROWS + 1).toPandas()
    if len(pdf) > SMALL_SIDE_MAX_ROWS:
        raise ValueError(
            f"{operator}: the broadcast side has more than "
            f"{SMALL_SIDE_MAX_ROWS} rows{route}")
    return pdf


def with_cell(df: DataFrame, x: str = "x", y: str = "y", res: int = DEFAULT_RES,
              out: str = "cell") -> DataFrame:
    return df.withColumn(out, C.cell_id_col(F.col(x), F.col(y), res))


def with_cell_multires(
    df: DataFrame, x: str = "x", y: str = "y",
    res_levels: list[int] | None = None, out: str = "cell",
) -> DataFrame:
    """Cell key(s) for the point side of a covering join. With one level
    this is a plain column (no row blow-up); with several (a covering that
    coarsened some rows) the point gets one row per level via explode —
    each covering row is single-res, so a (point, geometry) pair still
    matches through exactly one leg."""
    levels = sorted(set(res_levels or [DEFAULT_RES]))
    if len(levels) == 1:
        return df.withColumn(out, C.cell_id_col(F.col(x), F.col(y), levels[0]))
    return df.withColumn(
        out, F.explode(C.multires_cell_array_col(F.col(x), F.col(y), levels)))


def covering_res_levels(cover: DataFrame) -> list[int]:
    """Distinct resolutions present in a covering DataFrame — one tiny agg
    job on the SMALL (covering) side, never on the point side."""
    rows = (cover.select(C.cell_res_col(F.col("cell")).alias("r"))
            .distinct().collect())
    return sorted(int(r["r"]) for r in rows)


def _polygon_covering_pdf(
    polygons_pdf: "pd.DataFrame", wkb_col: str, res: int,
    max_cells_per_polygon: int,
) -> "pd.DataFrame":
    # bbox per geometry (WKB parse is per-row by nature), then ONE
    # batched covering + np.repeat emission for the whole frame
    boxes = np.array([
        geom.rings_bbox(geom.wkb_to_rings(bytes(v)))
        for v in polygons_pdf[wkb_col]], dtype=np.float64).reshape(-1, 4)
    cells, counts = C.covering_cells_batch(
        boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3], res,
        max_cells=max_cells_per_polygon)
    out = polygons_pdf.iloc[
        np.repeat(np.arange(len(polygons_pdf)), counts)].reset_index(drop=True)
    out.insert(0, "cell", cells)
    return out


def _driver_covering(
    polygons: DataFrame, operator: str, wkb_col: str = "geometry_wkb",
    res: int = DEFAULT_RES, max_cells_per_polygon: int = 4096,
    route: str = _SALTED_ROUTE,
) -> tuple[pd.DataFrame, DataFrame, list[int]]:
    """``polygon_covering_cells_driver`` that also returns the collected
    polygon rows: (rows, covering_df, res_levels)."""
    pdf = collect_small_side(polygons, operator, route)
    cover_pdf = _polygon_covering_pdf(pdf, wkb_col, res, max_cells_per_polygon)
    levels = C.res_levels_of_cells(cover_pdf["cell"].to_numpy()) or [res]
    schema = T.StructType(
        [T.StructField("cell", T.LongType())] + list(polygons.schema.fields))
    return pdf, polygons.sparkSession.createDataFrame(
        cover_pdf, schema=schema).coalesce(1), levels


def polygon_covering_cells_driver(
    polygons: DataFrame, wkb_col: str = "geometry_wkb", res: int = DEFAULT_RES,
    max_cells_per_polygon: int = 4096,
) -> tuple[DataFrame, list[int]]:
    """Driver-side covering for the BROADCAST path: the polygon side is by
    definition small enough to broadcast, so collecting it is cheap and
    avoids a 32-task python stage for a 3-row table.

    Returns ``(covering_df, res_levels)`` — the levels come free from the
    local pandas frame, so the point side can key itself at every res the
    covering actually uses (coarsened large-ROI rows included) without an
    extra Spark job."""
    return _driver_covering(polygons, "polygon_covering_cells_driver",
                            wkb_col, res, max_cells_per_polygon, route="")[1:]


def polygon_covering_cells(
    polygons: DataFrame, wkb_col: str = "geometry_wkb", res: int = DEFAULT_RES,
    max_cells_per_polygon: int = 4096,
) -> DataFrame:
    """(polygon keys..., cell) — one row per covering cell.

    Bbox covering (safe overestimate); the exact PIP refine removes false
    positives, so correctness never depends on covering tightness.
    """
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _polygon_covering_pdf(pdf, wkb_col, res, max_cells_per_polygon)

    schema = T.StructType(
        [T.StructField("cell", T.LongType())] + list(polygons.schema.fields))
    return polygons.mapInPandas(gen, schema=schema)


def _sql_double(v: float) -> str:
    """A float64 as Spark SQL text that parses back to the same bits:
    ``repr`` is the shortest round-tripping decimal and the parser reads
    a ``D`` literal with Java's correctly rounded ``parseDouble``."""
    v = float(v)
    if math.isfinite(v):
        return repr(v) + "D"
    return f"CAST('{v!r}' AS DOUBLE)"


def _sql_literal(v) -> str:
    """A polygon id as the SQL literal ``F.lit(v)`` would build."""
    if v is None:
        return "NULL"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        return _sql_double(v)
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"pip_filter_expr: unsupported polygon id {v!r}")


def _sql_name(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _pip_ring_sql(px: str, py: str, ring: np.ndarray) -> tuple[str, int]:
    """Crossing-number test for one closed ring as SQL text — the EXACT
    arithmetic of ``geom.points_in_ring`` compiled per edge:
    ``cond = (y0 <= py) != (y1 <= py)`` and
    ``px < x0 + (py - y0) * dx / dy`` with dx/dy precomputed in float64
    (the same subtractions numpy performs), same op order, so every
    comparison is bit-identical to the kernel. Horizontal edges are
    skipped (``cond`` is identically false for them — numpy reaches the
    same result through its inf-divisor guard). The per-edge terms are
    summed in two levels: ⌈√n⌉-term chunks, each a flat parenthesised
    sum, then the chunk sums flat, so the ``Add`` tree is at most
    2⌈√n⌉ deep (44 at 510 edges). A flat ``t1 + t2 + ...`` parses to an
    n-deep left chain, and once whole-stage codegen of a long ring
    overflows 64 KB, the fallback's recursive ``genCode`` down that chain
    overflowed the executor's stack. A balanced parenthesised tree
    (⌈log₂ n⌉ deep) runs too, but the parser's first parse of each new
    parenthesis depth costs about twice the previous one: 8.2 s for one
    510-edge ring in a fresh JVM, against 0.5 s flat or in two levels.
    Integer addition is exact, so the crossing count is the same in any
    order. Returns (sql, n_edges)."""
    terms = []
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        if y0 == y1:
            continue
        a, b = _sql_double(y0), _sql_double(y1)
        terms.append(
            f"CASE WHEN ({a} <= {py}) != ({b} <= {py}) AND {px} < "
            f"{_sql_double(x0)} + ({py} - {a}) * {_sql_double(x1 - x0)}"
            f" / {_sql_double(y1 - y0)} THEN 1 ELSE 0 END")
    if not terms:
        return "false", 0
    return f"(({_two_level_sum(terms)}) % 2 = 1)", len(terms)


def _two_level_sum(terms: list[str]) -> str:
    """``terms`` added as flat parenthesised chunks of ⌈√n⌉ terms."""
    k = math.isqrt(len(terms) - 1) + 1
    return " + ".join(f"({' + '.join(terms[i:i + k])})"
                      for i in range(0, len(terms), k))


def _pip_polys_sql(px: str, py: str,
                   polys: list[list[np.ndarray]]) -> tuple[str, int]:
    """``geom.points_in_multipolygon`` as SQL text: OR over polygons of
    (exterior ring AND NOT holes). Returns (sql, n_edges)."""
    def _closed(r: np.ndarray) -> np.ndarray:
        return r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])

    parts = []
    total = 0
    for rings in polys:
        ring_sql = []
        for i, ring in enumerate(rings):
            e, n = _pip_ring_sql(px, py, _closed(ring))
            ring_sql.append(e if i == 0 else f"NOT {e}")
            total += n
        parts.append(" AND ".join(ring_sql))
    return (" OR ".join(f"({p})" for p in parts) or "false"), total


def pip_filter_expr(x: str, y: str, pid: str, wkb_map: dict,
                    max_edges: int = 512):
    """The whole broadcast-path PIP refine as ONE JVM expression (a
    CASE on column ``pid`` over per-polygon crossing tests of columns
    ``x``/``y``), or None when the polygon set is too big to inline (edge
    budget keeps the generated method well under janino limits — the
    caller falls back to the Arrow kernel).

    The predicate is written as SQL text and parsed by one ``F.expr``
    call, because building it from ``Column`` operators costs one py4j
    round trip per operator (9,466 for the 26 polygons of the reverse
    fixture). Doubles are written so they parse back to the same bits,
    so every comparison matches the kernel's.

    Guide §4: the refine predicate was the only Python boundary in the
    point/vert spatial joins — every candidate row crossed JVM→Arrow→
    pandas and back just to evaluate a handful of edge comparisons. As a
    codegen'd expression the filter fuses into the scan/join stage
    (measured at sf1.0: points_in_polygons 0.94 s → ~0.55 s,
    ArrowEvalPython gone from the plan). The kernel path stays the
    implementation for polygon sets beyond the inlining budget."""
    px, py, pc = _sql_name(x), _sql_name(y), _sql_name(pid)
    total = 0
    branches = []
    for pid_v, wkb in wkb_map.items():
        e, n = _pip_polys_sql(px, py, geom.wkb_to_rings(bytes(wkb)))
        total += n
        if total > max_edges:
            return None
        branches.append(f"WHEN {pc} = {_sql_literal(pid_v)} THEN {e}")
    if not branches:
        return F.lit(False)
    return F.expr(f"CASE {' '.join(branches)} ELSE false END")


def _pip_by_key(x: pd.Series, y: pd.Series, key: pd.Series,
                wkb_of) -> pd.Series:
    """The Arrow PIP kernel: exact point-in-polygon over one batch, grouped
    by polygon ``key`` so each distinct polygon decodes once —
    ``wkb_of(key)`` gives its WKB bytes. A null key matches nothing."""
    out = np.zeros(len(x), dtype=bool)
    xv = x.to_numpy(dtype=np.float64)
    yv = y.to_numpy(dtype=np.float64)
    codes, uniques = pd.factorize(key)
    for u_idx, u_key in enumerate(uniques):
        m = codes == u_idx
        out[m] = geom.points_in_wkb(xv[m], yv[m], wkb_of(u_key))
    return pd.Series(out)


@pandas_udf(T.BooleanType())
def pip_udf(x: pd.Series, y: pd.Series, wkb: pd.Series) -> pd.Series:
    """Exact point-in-polygon against a WKB column (the salted route)."""
    return _pip_by_key(x, y, wkb, bytes)


def salted_equi_join(
    big: DataFrame, small: DataFrame, key: str, salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Shuffle equi-join with explicit salting for skewed keys (north_rule).

    The big side gets a deterministic salt derived from its whole row hash;
    the small side is exploded ×salt_factor. Use when the small side exceeds
    broadcast threshold AND key histogram is skewed (forest plots concentrate
    faces in few cells). AQE skew-join remains on as backstop.
    ``salt_factor=1`` is the plain (unsalted) shuffle join.
    """
    if salt_factor < 1:
        raise ValueError(f"salt_factor must be >= 1, got {salt_factor}")
    big_s = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_factor)).cast("int"))
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))))
    joined = big_s.join(small_s, on=[key, "_salt"], how=how)
    return joined.drop("_salt")


@pandas_udf(T.DoubleType())
def overlap_area_udf(
    x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series,
    x2: pd.Series, y2: pd.Series, wkb: pd.Series,
) -> pd.Series:
    """Exact 2D intersection area of triangle (x0..y2) with a WKB
    (Multi)Polygon. Clips each polygon ring (concave OK) against the convex
    triangle (Sutherland–Hodgman), exterior minus holes, summed over parts.

    Replaces ``gpd.overlay(..., how="intersection")`` area computation
    (reference ``meshes/meshes.py:1240-1244``) without GEOS.
    """
    n = len(x0)
    out = np.zeros(n, dtype=np.float64)
    tri = np.stack([
        np.stack([x0.to_numpy(float), y0.to_numpy(float)], axis=1),
        np.stack([x1.to_numpy(float), y1.to_numpy(float)], axis=1),
        np.stack([x2.to_numpy(float), y2.to_numpy(float)], axis=1),
    ], axis=1)  # (n, 3, 2)
    codes, uniques = pd.factorize(wkb, use_na_sentinel=True)
    for u_idx, u_wkb in enumerate(uniques):
        polys = geom.wkb_to_rings(bytes(u_wkb))
        idxs = np.nonzero(codes == u_idx)[0]
        for i in idxs:
            a = 0.0
            for rings in polys:
                a += geom.clip_area_convex(rings[0], tri[i])
                for hole in rings[1:]:
                    a -= geom.clip_area_convex(hole, tri[i])
            out[i] = a
    return pd.Series(out)


def triangles_polygon_overlap(
    faces: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    salt_factor: int | None = None,
    min_area: float = 1e-9,
) -> DataFrame:
    """Candidate cell join (triangle bbox covering × polygon covering) +
    exact intersection-area refine → one row per overlapping (face, polygon)
    pair with ``overlap_area``.

    ``min_area`` (default 1e-9, i.e. nm² in meter CRS) drops degenerate
    boundary-touch slivers whose area is floating-point noise — the
    reference's GEOS ``set_precision`` snapping plays the same role
    (``meshes/meshes.py:1197-1203``).

    ``faces`` needs columns x0..y2 (triangle 2D coords) plus any keys.
    ``salt_factor`` as in :func:`points_in_polygons`.
    """
    if salt_factor is None:
        _, cover, levels = _driver_covering(
            polygons, "triangles_polygon_overlap", res=res)
    else:
        cover = polygon_covering_cells(polygons, res=res)
        # one tiny agg on the covering (polygon) side to learn which
        # resolutions coarsening actually produced — never scans faces
        levels = covering_res_levels(cover) or [res]
    # triangle covering: cells of the triangle's bbox at every covering res
    # via explode of a per-row cell array (triangles are small vs cells;
    # usually 1-4 cells; extra levels only appear when some polygon's ROI
    # was coarsened)
    fxmin = F.least("x0", "x1", "x2"); fxmax = F.greatest("x0", "x1", "x2")
    fymin = F.least("y0", "y1", "y2"); fymax = F.greatest("y0", "y1", "y2")
    cells = C.multires_bbox_cells_col(fxmin, fymin, fxmax, fymax, levels)
    tri_cells = faces.withColumn("cell", F.explode(cells))
    if salt_factor is None:
        cand = tri_cells.join(F.broadcast(cover), "cell")
    else:
        cand = salted_equi_join(tri_cells, cover, "cell", salt_factor)
    # a (face, polygon) pair can match in several cells → dedup before the
    # expensive refine (cheap: candidate set is already small)
    key_cols = [c for c in cand.columns if c != "cell"]
    cand = cand.dropDuplicates(key_cols)
    refined = cand.withColumn(
        "overlap_area",
        overlap_area_udf("x0", "y0", "x1", "y1", "x2", "y2", "geometry_wkb"),
    ).filter(F.col("overlap_area") > min_area)
    return refined.drop("cell", "geometry_wkb")


def points_in_polygons(
    points: DataFrame,
    polygons: DataFrame,
    x: str = "x", y: str = "y",
    point_keys: list[str] | None = None,
    res: int = DEFAULT_RES,
    salt_factor: int | None = None,
    polygon_id_col: str = "polygon_id",
) -> DataFrame:
    """Inner join: each point row × each polygon containing it.

    Output = point columns + polygon columns (minus wkb/cell plumbing).

    Broadcast path ships polygon geometry to executors ONCE as a
    {polygon_id: wkb} broadcast dict (from the rows the covering was built
    from) — candidate rows carry only the id, not a duplicated WKB blob
    per row (10-100× less Arrow traffic at scale). ``salt_factor`` selects
    the salted shuffle join instead (1 = unsalted), which keeps the wkb
    column (the polygon side is too big to broadcast there by definition).
    """
    if salt_factor is not None:
        cover = polygon_covering_cells(polygons, res=res)
        pts = with_cell_multires(points, x, y, covering_res_levels(cover) or [res])
        cand = salted_equi_join(pts, cover, "cell", salt_factor)
        refined = cand.filter(pip_udf(F.col(x), F.col(y), F.col("geometry_wkb")))
        return refined.drop("cell", "geometry_wkb")

    pdf, cover, levels = _driver_covering(
        polygons, "points_in_polygons", res=res)
    pts = with_cell_multires(points, x, y, levels)
    wkb_map = {pid: bytes(wkb) for pid, wkb in
               zip(pdf[polygon_id_col].tolist(), pdf["geometry_wkb"])}
    cand = pts.join(F.broadcast(cover.drop("geometry_wkb")), "cell")

    # small polygon sets compile to a pure JVM predicate (bit-exact
    # twin of the winding kernel) — no Python boundary in the refine
    expr = pip_filter_expr(x, y, polygon_id_col, wkb_map)
    if expr is not None:
        return cand.filter(expr).drop("cell")

    bc = points.sparkSession.sparkContext.broadcast(wkb_map)

    @pandas_udf(T.BooleanType())
    def pip_by_id(xs: pd.Series, ys: pd.Series, pids: pd.Series) -> pd.Series:
        return _pip_by_key(xs, ys, pids, bc.value.__getitem__)

    refined = cand.filter(pip_by_id(F.col(x), F.col(y), F.col(polygon_id_col)))
    return refined.drop("cell")
