"""Visibility join: per-(camera, pixel) first mesh face hit — z-buffer
rasterization as a distributed join.

Reference J1 (``meshes/meshes.py:1645-1823``): off-screen VTK rendering of
faces colored with base-256-encoded ids, screenshot, decode. Here instead:

1. **Candidate stage** — camera frustum-footprint covering cells ⋈ face
   bbox covering cells (cell equi-join; the camera table is collected
   once, capped, and its covering broadcast). Keeps the per-camera
   rasterizer input bounded: each camera sees only faces its frustum can
   reach, the Spark analog of the reference's per-cluster submeshes (J12).
2. **Rasterize stage** — ``applyInPandas`` grouped by camera_id: software
   z-buffer with perspective-correct depth (linear 1/z in screen space),
   pixel-center sampling. Emits ``(camera_id, face_id, pixel_count)``
   (the aggregated pix2face map) or per-pixel rows for rendering sinks.

No GPU, no VTK, no base-256 trick (X9) — face ids stay int64 end to end.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import camera as cam
from ..functions import cells as C
from .balanced import grouped_apply_balanced
from .spatial_join import collect_small_side

FACE_COORD_COLS = ["x0", "y0", "z0", "x1", "y1", "z1", "x2", "y2", "z2"]

# samples per barycentric chunk in rasterize_zbuffer: sized so the ~10
# per-chunk (m, side, side) float64 temporaries stay cache-resident under
# MANY concurrent renders — one render per core means the budget is the
# PER-CORE cache share, not the whole LLC. Measured pinned at 16
# concurrent renders: 65536 (≈5 MB of temporaries) beats 262144 (≈20 MB)
# by 10-25% on both the ortho tile and perspective camera workloads, and
# costs nothing at 4 cores.
_CHUNK_SAMPLES = 65536


# ---------------------------------------------------------------------------
# Rasterizer kernel (numpy, used inside applyInPandas)
# ---------------------------------------------------------------------------

def rasterize_zbuffer(
    tri_px: np.ndarray,  # (n, 3, 2) screen coords per face vertex
    tri_z: np.ndarray,   # (n, 3) camera-frame depths
    face_ids: np.ndarray,
    w: int, h: int,
    return_depth: bool = False,
    ortho: bool = False,
):
    """(h, w) int64 image of face ids, -1 = no hit. Pixel (r, c) sampled at
    image coords (c+0.5, r+0.5). Perspective-correct depth via linear 1/z.
    ``return_depth=True`` also returns the (h, w) float64 depth buffer
    (inf = no hit).

    ``ortho=True`` switches to orthographic semantics: depth interpolates
    LINEARLY in screen space (exact for a parallel projection) and the
    behind-camera vertex gate is skipped (any depth sign is valid — an
    orthographic 'camera' has no apex). Winner per pixel is still
    min (depth, face_id); callers wanting highest-z-wins pass depth = -z.

    FULLY VECTORIZED: faces are bucketed by power-of-two bbox size class,
    each bucket evaluates its barycentrics for all faces at once (chunked
    to stay cache-resident), and each chunk resolves STREAMING into the
    global z-buffer: a chunk-local lexsort picks the chunk winner per
    pixel, then one gather/compare/scatter merges it lexicographically.
    Winner per pixel = min (depth, face_id), which is EXACTLY what the
    sequential face_id-ordered strict-< loop computed (a
    20k-small-triangle render was ~80 µs/face of Python loop overhead;
    this is ~30× faster and bit-identical). Hits are never accumulated
    across chunks, so resolve memory traffic is one gather + one scatter
    per unique (chunk, pixel) instead of a stored-and-twice-re-read
    per-render hit log."""
    # img_face doubles as the fid min-buffer during the streaming resolve
    # (sentinel = int64 max, so any real face id wins a tie-compare);
    # _out() rewrites never-hit pixels to the public -1 sentinel.
    img_face = np.full((h, w), np.iinfo(np.int64).max, dtype=np.int64)
    img_depth = np.full((h, w), np.inf, dtype=np.float64)

    def _out():
        img_face[~np.isfinite(img_depth)] = -1
        return (img_face, img_depth) if return_depth else img_face

    n = len(face_ids)
    if n == 0:
        return _out()
    if ortho:
        P = np.asarray(tri_px, dtype=np.float64)
        Z = np.asarray(tri_z, dtype=np.float64)
        FID = np.asarray(face_ids, dtype=np.int64)
    else:
        # skip faces with any vertex at/behind the camera (scene cameras are
        # above the mesh; general frustum clipping is future work)
        ok = (tri_z > 1e-12).all(axis=1)
        P = np.asarray(tri_px, dtype=np.float64)[ok]
        Z = np.asarray(tri_z, dtype=np.float64)[ok]
        FID = np.asarray(face_ids, dtype=np.int64)[ok]
    if len(P) == 0:
        return _out()
    x0, y0 = P[:, 0, 0], P[:, 0, 1]
    x1, y1 = P[:, 1, 0], P[:, 1, 1]
    x2, y2 = P[:, 2, 0], P[:, 2, 1]
    dd = (y1 - y2) * (x0 - x2) + (x2 - x1) * (y0 - y2)
    xs_min = P[:, :, 0].min(axis=1); xs_max = P[:, :, 0].max(axis=1)
    ys_min = P[:, :, 1].min(axis=1); ys_max = P[:, :, 1].max(axis=1)
    xmin = np.maximum(np.floor(xs_min - 0.5), 0).astype(np.int64)
    xmax = np.minimum(np.ceil(xs_max - 0.5), w - 1).astype(np.int64)
    ymin = np.maximum(np.floor(ys_min - 0.5), 0).astype(np.int64)
    ymax = np.minimum(np.ceil(ys_max - 0.5), h - 1).astype(np.int64)
    good = (np.abs(dd) >= 1e-300) & (xmin <= xmax) & (ymin <= ymax)
    idx_all = np.nonzero(good)[0]
    if len(idx_all) == 0:
        return _out()
    bw = xmax - xmin + 1
    bh = ymax - ymin + 1
    # power-of-two size class (shared bucket grid, padded mask)
    size_cls = np.maximum(
        np.ceil(np.log2(bw[idx_all])), np.ceil(np.log2(bh[idx_all]))
    ).astype(np.int64)
    # streaming resolve state: flat views of the two global buffers. Each
    # chunk merges its hits immediately (see below) instead of appending
    # them to per-render part lists — the old accumulate-then-two-pass
    # resolve wrote every hit (pix, dep, fid = 24 B) to memory once and
    # re-read it twice through np.minimum.at, which is what saturated the
    # shared bus on 100M-px renders.
    depth_flat = img_depth.ravel()
    fid_flat = img_face.ravel()
    for cls in np.unique(size_cls):
        members = idx_all[size_cls == cls]
        side = 1 << int(cls)
        per_face = side * side
        # small chunk target keeps the 5 per-chunk barycentric temporaries
        # cache-resident (~2 MB each) — at 32 concurrent renders the large
        # version saturated the shared memory bus
        chunk = max(1, _CHUNK_SAMPLES // per_face)
        off = np.arange(side)
        for lo in range(0, len(members), chunk):
            i = members[lo:lo + chunk]           # (m,)
            rx = xmin[i][:, None, None] + off[None, None, :]   # (m,1,side)
            ry = ymin[i][:, None, None] + off[None, :, None]   # (m,side,1)
            inbox = (rx <= xmax[i][:, None, None]) & (ry <= ymax[i][:, None, None])
            # barycentric numerators factor into a column-only and a
            # row-only term — compute them SMALL ((m,1,side)/(m,side,1))
            # and materialize only the broadcast sum. Together with
            # in-place ops and hit-gathered depth this holds full-size
            # traffic to 3 float + 2 bool arrays per chunk (the naive
            # expression tree made ~12 and saturated the memory bus at
            # high render concurrency). Arithmetic order is unchanged →
            # bit-identical output.
            gxd = (rx + 0.5) - x2[i][:, None, None]            # (m,1,side)
            gyd = (ry + 0.5) - y2[i][:, None, None]            # (m,side,1)
            ddi = dd[i][:, None, None]
            l0 = np.add((y1[i] - y2[i])[:, None, None] * gxd,
                        (x2[i] - x1[i])[:, None, None] * gyd)  # full
            l0 /= ddi
            l1 = np.add((y2[i] - y0[i])[:, None, None] * gxd,
                        (x0[i] - x2[i])[:, None, None] * gyd)  # full
            l1 /= ddi
            l2 = np.subtract(1.0, l0)                          # full
            l2 -= l1
            inside = l0 >= 0                                   # full bool
            inside &= l1 >= 0
            inside &= l2 >= 0
            inside &= inbox
            fi, rr, cc = np.nonzero(inside)
            if len(fi) == 0:
                continue
            # depth only at hit samples (~half the box): same scalar ops
            # on the same values as the full-array form
            l0h = l0[fi, rr, cc]
            l1h = l1[fi, rr, cc]
            l2h = l2[fi, rr, cc]
            ii = i[fi]
            if ortho:
                dep = l0h * Z[ii, 0] + l1h * Z[ii, 1] + l2h * Z[ii, 2]
            else:
                inv_z = l0h / Z[ii, 0] + l1h / Z[ii, 1] + l2h / Z[ii, 2]
                with np.errstate(divide="ignore"):
                    dep = 1.0 / inv_z
            pix = (ry[fi, rr, 0] * w + rx[fi, 0, cc]).astype(np.int64)
            fid = FID[ii]
            # streaming per-chunk resolve. Winner per pixel is the
            # lexicographic min of (depth, face_id) — min is associative,
            # so (a) reduce the chunk locally, (b) merge the chunk winner
            # against the global buffers. Identical semantics to the old
            # two-global-pass resolve (and to the sequential
            # face_id-ordered strict-< loop), but the hit arrays are never
            # stored or re-read, and the slow np.minimum.at ufunc loop is
            # replaced by a cache-resident lexsort (≤ _CHUNK_SAMPLES rows)
            # plus one vectorized gather/compare/scatter.
            order = np.lexsort((fid, dep, pix))
            pix_s = pix[order]
            keep = np.empty(len(pix_s), dtype=bool)
            keep[0] = True
            np.not_equal(pix_s[1:], pix_s[:-1], out=keep[1:])
            pu = pix_s[keep]
            du = dep[order][keep]
            fu = fid[order][keep]
            cur_d = depth_flat[pu]
            win = du < cur_d
            win |= (du == cur_d) & (fu < fid_flat[pu])
            pw = pu[win]
            depth_flat[pw] = du[win]
            fid_flat[pw] = fu[win]
    return _out()


def _render_group(pdf: pd.DataFrame, cam_params: dict):
    """Shared per-camera render: returns the (h, w) face-id image.

    ``cam_params`` comes from the broadcast camera map — candidate rows
    carry ONLY (camera_id, face_id, 9 coords); shipping the 4×4 transform
    on every row through the shuffle costs ~2.5× the bytes for nothing.

    A distorted camera renders the ideal pinhole image on the expanded
    canvas of its ``"warp"`` map (:func:`_camera_side`), then gathers each
    output pixel through it — the reference's render-then-warp
    (``meshes.py:1817-1820``), exact for arbitrarily large triangles.
    """
    # deterministic z-tie resolution: rasterize in face_id order regardless
    # of shuffle-dependent group row order
    pdf = pdf.sort_values("face_id")
    c2w = np.asarray(cam_params["cam_to_world"], dtype=np.float64).reshape(4, 4)
    f = float(cam_params["f"])
    cx, cy = float(cam_params["cx"]), float(cam_params["cy"])
    w, h = int(cam_params["w"]), int(cam_params["h"])
    coords = pdf[FACE_COORD_COLS].to_numpy(dtype=np.float64)
    n = len(coords)
    # coords row = [x0,y0,z0,x1,y1,z1,x2,y2,z2] → (n*3, 3) points
    pts = coords.reshape(n, 3, 3).reshape(n * 3, 3)
    warp = cam_params.get("warp")
    x_off, y_off, cw, ch = warp[1] if warp else (0, 0, w, h)
    px, py, z = cam.project_points(pts, c2w, f, cx, cy, w, h)
    tri_px = np.stack([px - x_off, py - y_off], axis=1).reshape(n, 3, 2)
    img = rasterize_zbuffer(
        tri_px, z.reshape(n, 3), pdf["face_id"].to_numpy(np.int64), cw, ch)
    if not warp:
        return img
    # index -1 (no preimage) takes the appended no-hit sentinel
    return np.append(img.ravel(), np.int64(-1)).take(warp[0])


# ---------------------------------------------------------------------------
# Candidate generation
# ---------------------------------------------------------------------------

def _footprint_bboxes(
    c2w_flat: np.ndarray, f: np.ndarray, cx: np.ndarray, cy: np.ndarray,
    w: np.ndarray, h: np.ndarray, z_min: float, z_max: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Batched corner-ray footprint: for n cameras at once, intersect the
    4 image-corner rays with both z-planes and bbox the valid hits.
    Returns (any_valid, xmin, ymin, xmax, ymax): ``any_valid`` is (n,),
    the bbox arrays hold only the ``any_valid`` cameras (a camera looking
    away from the mesh has no footprint to bbox). Same math as
    ``cam.cast_rays`` (normalized dirs, scale-normalized rotation) — one
    numpy pass instead of a per-camera iterrows loop."""
    n = len(f)
    c2w = np.asarray(c2w_flat, dtype=np.float64).reshape(n, 4, 4)
    zeros = np.zeros(n)
    px = np.stack([zeros, w, zeros, w], axis=1)           # (n, 4)
    py = np.stack([zeros, zeros, h, h], axis=1)
    dirs_cam = np.stack([
        (px - cx[:, None] - w[:, None] / 2.0) / f[:, None],
        (py - cy[:, None] - h[:, None] / 2.0) / f[:, None],
        np.ones((n, 4)),
    ], axis=2)                                            # (n, 4, 3)
    dirs_cam /= np.linalg.norm(dirs_cam, axis=2, keepdims=True)
    R = c2w[:, :3, :3]
    scale = np.cbrt(np.abs(np.linalg.det(R)))
    Rn = R / scale[:, None, None]
    d = np.einsum("nij,nkj->nki", Rn, dirs_cam)           # (n, 4, 3)
    o = c2w[:, :3, 3]                                     # (n, 3)
    hx_parts, hy_parts, v_parts = [], [], []
    for zp in (z_min, z_max):
        dz = d[:, :, 2]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (zp - o[:, None, 2]) / np.where(dz == 0, np.nan, dz)
        valid = np.isfinite(t) & (t > 0)
        ts = np.nan_to_num(t, nan=0.0)
        hx_parts.append(o[:, None, 0] + d[:, :, 0] * ts)
        hy_parts.append(o[:, None, 1] + d[:, :, 1] * ts)
        v_parts.append(valid)
    HX = np.concatenate(hx_parts, axis=1)                 # (n, 8)
    HY = np.concatenate(hy_parts, axis=1)
    V = np.concatenate(v_parts, axis=1)
    any_valid = V.any(axis=1)
    V = V[any_valid]
    HX = np.where(V, HX[any_valid], np.nan)
    HY = np.where(V, HY[any_valid], np.nan)
    return (any_valid, np.nanmin(HX, axis=1), np.nanmin(HY, axis=1),
            np.nanmax(HX, axis=1), np.nanmax(HY, axis=1))


def mesh_z_range(faces: DataFrame) -> tuple[float, float]:
    """(zmin, zmax) over every face vertex — the two planes the camera
    footprints are cut at. A face-less mesh has no range; (0, 0) stands
    in, since the face side of the candidate join is empty anyway."""
    z = faces.agg(
        F.min(F.least("z0", "z1", "z2")).alias("zmin"),
        F.max(F.greatest("z0", "z1", "z2")).alias("zmax"),
    ).collect()[0]
    if z["zmin"] is None:
        return 0.0, 0.0
    return float(z["zmin"]), float(z["zmax"])


def _candidates(
    cameras: DataFrame, rows: pd.DataFrame, faces: DataFrame, res: int,
    max_cells: int, z_range: tuple[float, float] | None,
) -> DataFrame:
    """``candidate_camera_faces`` over already-collected camera ``rows``."""
    if z_range is None:
        z_range = mesh_z_range(faces)
    # driver-side footprint covering: every camera's cells in one np.repeat
    ok, xmin, ymin, xmax, ymax = _footprint_bboxes(
        np.array(rows["cam_to_world"].tolist(), np.float64).reshape(-1, 16),
        rows["f"].to_numpy(np.float64),
        rows["cx"].to_numpy(np.float64), rows["cy"].to_numpy(np.float64),
        rows["w"].to_numpy(np.float64), rows["h"].to_numpy(np.float64),
        *z_range)
    cells, counts = C.covering_cells_batch(
        xmin, ymin, xmax, ymax, res, max_cells=max_cells)
    cover = rows.iloc[np.repeat(np.nonzero(ok)[0], counts)].reset_index(
        drop=True)
    cover.insert(0, "cell", cells)
    schema = T.StructType(
        [T.StructField("cell", T.LongType())] + list(cameras.schema.fields))
    cam_cells = cameras.sparkSession.createDataFrame(
        cover, schema=schema).coalesce(1)
    # an oblique camera's covering may coarsen (covering_cells_np): the face
    # side keys itself at every resolution the covering uses
    levels = C.res_levels_of_cells(cells) or [res]
    # face centroid cx/cy collides with the camera principal point cx/cy —
    # only the bbox is needed for the cell key, so drop centroids after
    fxmin = F.least("x0", "x1", "x2"); fxmax = F.greatest("x0", "x1", "x2")
    fymin = F.least("y0", "y1", "y2"); fymax = F.greatest("y0", "y1", "y2")
    face_cells = faces.withColumn(
        "cell", F.explode(C.multires_bbox_cells_col(fxmin, fymin, fxmax, fymax,
                                                    levels))
    ).drop("cx", "cy", "cz")
    # a face bbox spanning k covering cells of one camera yields k copies of
    # the (camera, face) pair. The z-buffer rasterizer is idempotent per
    # face (strict depth-<, deterministic face_id order), so duplicates are
    # render-time overhead only — cheaper than a global dedup shuffle here;
    # callers that need distinct pairs dedup on (camera_id, face_id).
    return face_cells.join(F.broadcast(cam_cells), "cell").drop("cell")


def candidate_camera_faces(
    cameras: DataFrame, faces: DataFrame, res: int = 4,
    max_cells: int = 4096, z_range: tuple[float, float] | None = None,
) -> DataFrame:
    """Cell equi-join of camera footprints × face BBOX covering cells →
    (camera cols + face cols) candidate pairs. The camera table is the
    broadcast side: collected once (capped, see
    ``spatial_join.collect_small_side``) and covered on the driver.

    Faces key on their bbox covering (not the centroid cell): a face whose
    centroid sits one cell outside the camera footprint but whose triangle
    still reaches into the frustum would otherwise never be shipped to the
    rasterizer (hole at the image edge). The face side is keyed at every
    resolution the camera covering uses, so coarsened (oblique, large-
    footprint) cameras still match (``covering_cells_np`` contract).

    ``z_range``: precomputed (zmin, zmax) of the mesh — pass it to skip the
    per-call faces scan (e.g. from table stats at 100 TB scale).
    """
    return _candidates(cameras, collect_small_side(
        cameras, "candidate_camera_faces"), faces, res, max_cells, z_range)


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

VISIBILITY_SCHEMA = T.StructType([
    T.StructField("camera_id", T.LongType()),
    T.StructField("face_id", T.LongType()),
    T.StructField("pixel_count", T.LongType()),
])


def _camera_side(cameras: DataFrame, operator: str):
    """The camera table — the visibility join's small side by design
    (thousands of rows vs billions of faces) — collected ONCE for
    ``operator`` → (rows, broadcast {camera_id: row}), so candidate rows
    carry only ids+coords. A camera with non-null ``distortion`` params
    (Brown–Conrady) gets ``"warp"``: :func:`camera.inverse_distortion_map`,
    built once per (params, f, cx, cy, w, h) key and shared by the
    sensor's cameras, so the broadcast pickles it once per sensor (the
    reference's per-key cache, ``cameras.py:968-993``)."""
    rows = collect_small_side(cameras, operator)
    cam_map = {int(r["camera_id"]): r for r in rows.to_dict("records")}
    maps = {}
    for p in cam_map.values():
        dist = {k: v for k, v in (p.get("distortion") or {}).items()
                if v is not None}
        if dist:
            intr = (float(p["f"]), float(p["cx"]), float(p["cy"]),
                    int(p["w"]), int(p["h"]))
            key = (tuple(sorted(dist.items())), intr)
            if key not in maps:
                maps[key] = cam.inverse_distortion_map(dist, *intr)
            p["warp"] = maps[key]
    return rows, cameras.sparkSession.sparkContext.broadcast(cam_map)


def _render_inputs(
    cameras: DataFrame, faces: DataFrame, cols: list[str], operator: str,
    res: int, max_cells: int, z_range: tuple[float, float] | None,
):
    """Shared setup of the per-camera renders from ONE camera collect →
    (candidates (camera_id, face_id, *cols), broadcast params, group keys:
    the broadcast dict, so grouped_apply_balanced needs no probe job)."""
    rows, bc = _camera_side(cameras, operator)
    cand = _candidates(cameras, rows, faces, res, max_cells, z_range).select(
        "camera_id", "face_id", *cols)
    return cand, bc, [(int(cid),) for cid in bc.value]


def _counts_pdf(camera_id, img: np.ndarray) -> pd.DataFrame:
    hit = img[img >= 0]
    if len(hit) == 0:
        return pd.DataFrame({"camera_id": pd.Series([], dtype="int64"),
                             "face_id": pd.Series([], dtype="int64"),
                             "pixel_count": pd.Series([], dtype="int64")})
    ids, counts = np.unique(hit, return_counts=True)
    return pd.DataFrame({
        "camera_id": np.full(len(ids), camera_id, dtype=np.int64),
        "face_id": ids,
        "pixel_count": counts.astype(np.int64),
    })


def visibility_join(
    cameras: DataFrame, faces: DataFrame,
    res: int = 4, max_cells: int = 4096,
    z_range: tuple[float, float] | None = None,
) -> DataFrame:
    """→ (camera_id, face_id, pixel_count): for every camera, the number of
    pixels whose first hit is each face (pixel_count > 0 only). The
    engine's pix2face analog, aggregated (SURVEY §1.1 'pix2face map').
    One z-buffer render per camera; distorted cameras render then warp
    (:func:`_render_group`)."""
    cand, bc, groups = _render_inputs(
        cameras, faces, FACE_COORD_COLS, "visibility_join", res, max_cells,
        z_range)

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _counts_pdf(int(key[0]),
                           _render_group(pdf, bc.value[int(key[0])]))

    # camera renders are compute-dense (bytes-cheap candidate rows,
    # z-buffer kernel per group): the balanced grouped-apply keeps the
    # render stage at one task per camera stripe instead of the
    # handful AQE's byte-based coalescing leaves
    return grouped_apply_balanced(
        cand, ["camera_id"], agg, VISIBILITY_SCHEMA, groups=groups)


def render_label_images(
    cameras: DataFrame, faces_with_class: DataFrame,
    class_col: str = "face_class", nodata: int = 255,
    res: int = 4,
    z_range: tuple[float, float] | None = None,
) -> DataFrame:
    """→ (camera_id, w, h, label_image): per-camera uint8 CLASS images —
    the reverse-pipeline render (reference ``face_texture[pix2face]``
    gather, ``meshes.py:1825-1909``). The face→class gather happens INSIDE
    each camera's render group (its candidate rows already carry the
    class), so no face-scale map ever hits the driver or a broadcast.

    ``z_range``: precomputed mesh (zmin, zmax). Pass it whenever
    ``faces_with_class`` is an EXPENSIVE lineage (e.g. the reverse
    pipeline's faces ⋈ PIP-voted classes): the footprint-covering z-stats
    agg otherwise re-executes that whole lineage once more just to read
    two numbers the raw face table already answers."""
    cand, bc, groups = _render_inputs(
        cameras, faces_with_class, [class_col, *FACE_COORD_COLS],
        "render_label_images", res, 4096, z_range)
    schema = T.StructType([
        T.StructField("camera_id", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("label_image", T.BinaryType()),
    ])

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        img = _render_group(pdf, bc.value[int(key[0])])
        lab = np.full(img.shape, nodata, dtype=np.uint8)
        hit = img >= 0
        if hit.any():
            # sorted-gather instead of a per-pixel dict lambda: on a real
            # 4000x3000 frame the lambda was ~10^7 Python calls per camera
            fids = pdf["face_id"].to_numpy(np.int64)
            order = np.argsort(fids, kind="stable")
            sf = fids[order]
            scls = pdf[class_col].to_numpy(np.int64)[order]
            ids = img[hit]
            pos = np.clip(np.searchsorted(sf, ids), 0, len(sf) - 1)
            vals = scls[pos].astype(np.uint8)
            vals[sf[pos] != ids] = nodata   # id not in group (defensive)
            lab[hit] = vals
        return pd.DataFrame({
            "camera_id": [key[0]],
            "w": [img.shape[1]], "h": [img.shape[0]],
            "label_image": [lab.tobytes()],
        })

    # same compute-dense exchange as visibility_join: per-camera renders
    # are ~1000x compute per byte, so AQE's byte-based coalescing would
    # collapse the render stage to a handful of tasks (the rasterize_big
    # scaling cap, round-4)
    return grouped_apply_balanced(cand, ["camera_id"], agg, schema,
                                  groups=groups)


def render_face_images(
    cameras: DataFrame, faces: DataFrame,
    res: int = 4,
    z_range: tuple[float, float] | None = None,
) -> DataFrame:
    """→ (camera_id, w, h, face_image:binary): full pix2face images as
    int64-LE bytes — feeds the render sink (S12) / label-mask export.
    ``z_range`` as in :func:`render_label_images`."""
    cand, bc, groups = _render_inputs(
        cameras, faces, FACE_COORD_COLS, "render_face_images", res, 4096,
        z_range)
    schema = T.StructType([
        T.StructField("camera_id", T.LongType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("face_image", T.BinaryType()),
    ])

    def agg(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        img = _render_group(pdf, bc.value[int(key[0])])
        return pd.DataFrame({
            "camera_id": [key[0]],
            "w": [img.shape[1]], "h": [img.shape[0]],
            "face_image": [np.ascontiguousarray(img).astype("<i8").tobytes()],
        })

    return grouped_apply_balanced(cand, ["camera_id"], agg, schema,
                                  groups=groups)
