"""Camera math kernels: pinhole projection, ray casting, distortion,
segment–segment distances. Vectorized numpy, used inside pandas UDFs.

Reference analogs:
- pinhole projection K[R|t]: ``cameras/cameras.py:404-444`` (X5)
- pixel → world ray casting: ``cameras/cameras.py:574-628`` (X6)
- Brown–Conrady distortion: ``cameras/derived_cameras.py:151-196`` (X7)
- segment-pair closest distance kernel: ``utils/numeric.py:39-236`` (J8)
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np


# ---------------------------------------------------------------------------
# Transforms
# ---------------------------------------------------------------------------

def invert_rigid(T: np.ndarray) -> np.ndarray:
    """Inverse of a 4x4 rigid (or rigid+uniform-scale) transform via solve —
    matches the reference's np.linalg.inv use (``cameras/cameras.py:82-84``)."""
    return np.linalg.inv(T)


def apply_transform(T: np.ndarray, pts: np.ndarray) -> np.ndarray:
    """(4,4) @ (n,3) homogeneous with perspective divide."""
    h = np.hstack([pts, np.ones((len(pts), 1))])
    out = (T @ h.T).T
    return out[:, :3] / out[:, 3:4]


# ---------------------------------------------------------------------------
# Pinhole projection
# ---------------------------------------------------------------------------

def project_points(
    pts_world: np.ndarray,
    cam_to_world: np.ndarray,
    f: float, cx: float, cy: float, w: int, h: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """World points → pixel coords (i=row, j=col) + camera-frame depth.

    Metashape convention (reference ``cameras/cameras.py:404-444``):
    image x = f * Xc/Zc + cx + w/2, image y = f * Yc/Zc + cy + h/2.
    Returns (px_j, px_i, depth); callers filter depth>0 and bounds (F8).
    """
    world_to_cam = invert_rigid(cam_to_world)
    pc = apply_transform(world_to_cam, pts_world)
    z = pc[:, 2]
    with np.errstate(divide="ignore", invalid="ignore"):
        x = f * pc[:, 0] / z + cx + w / 2.0
        y = f * pc[:, 1] / z + cy + h / 2.0
    return x, y, z


def in_image_mask(px_x: np.ndarray, px_y: np.ndarray, z: np.ndarray, w: int, h: int) -> np.ndarray:
    """in-front + in-bounds predicate (reference ``cameras/cameras.py:328-369``)."""
    return (z > 0) & (px_x >= 0) & (px_x < w) & (px_y >= 0) & (px_y < h)


# ---------------------------------------------------------------------------
# Ray casting (pixel → world unit direction)
# ---------------------------------------------------------------------------

def cast_rays(
    px_x: np.ndarray, px_y: np.ndarray,
    cam_to_world: np.ndarray,
    f: float, cx: float, cy: float, w: int, h: int,
    length: float = 1.0,
) -> tuple[np.ndarray, np.ndarray]:
    """Pixel coords → (origin (n,3), end (n,3)) world-frame segments of
    ``length`` (reference ``cameras/cameras.py:574-628``)."""
    n = len(px_x)
    dirs_cam = np.stack(
        [
            (np.asarray(px_x, dtype=np.float64) - cx - w / 2.0) / f,
            (np.asarray(px_y, dtype=np.float64) - cy - h / 2.0) / f,
            np.ones(n),
        ],
        axis=1,
    )
    dirs_cam /= np.linalg.norm(dirs_cam, axis=1, keepdims=True)
    R = cam_to_world[:3, :3]
    # normalize out any uniform scale in the rotation block
    scale = np.cbrt(abs(np.linalg.det(R)))
    Rn = R / scale
    dirs_world = (Rn @ dirs_cam.T).T
    origin = cam_to_world[:3, 3]
    starts = np.tile(origin, (n, 1))
    ends = starts + dirs_world * length
    return starts, ends


def ray_angle_from_vertical(starts: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """arccos(|dz|/‖d‖) in radians — the F5 angle filter
    (reference ``cameras/cameras.py:1569-1578``)."""
    d = ends - starts
    nrm = np.linalg.norm(d, axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.arccos(np.abs(d[:, 2]) / np.where(nrm == 0, np.nan, nrm))


# ---------------------------------------------------------------------------
# Brown–Conrady distortion (forward model)
# ---------------------------------------------------------------------------

def brown_conrady_distort(
    xn: np.ndarray, yn: np.ndarray, params: dict[str, float],
) -> tuple[np.ndarray, np.ndarray]:
    """Normalized camera coords → distorted normalized coords.
    Parameter set ⊆ {k1..k4, p1, p2, b1, b2} (Metashape convention;
    reference ``cameras/derived_cameras.py:151-196``)."""
    k1 = params.get("k1", 0.0); k2 = params.get("k2", 0.0)
    k3 = params.get("k3", 0.0); k4 = params.get("k4", 0.0)
    p1 = params.get("p1", 0.0); p2 = params.get("p2", 0.0)
    r2 = xn * xn + yn * yn
    radial = 1.0 + k1 * r2 + k2 * r2**2 + k3 * r2**3 + k4 * r2**4
    xd = xn * radial + p1 * (r2 + 2 * xn * xn) + 2 * p2 * xn * yn
    yd = yn * radial + p2 * (r2 + 2 * yn * yn) + 2 * p1 * xn * yn
    return xd, yd


def brown_conrady_undistort(
    xd: np.ndarray, yd: np.ndarray, params: dict[str, float],
    iters: int = 10,
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse distortion by fixed-point iteration (X8 analog).

    The reference inverts the warp with scipy ``griddata`` interpolation
    (``utils/indexing.py:87-150``); the standard closed-loop iteration
    x ← xd − D(x) converges for physical distortion magnitudes and needs
    no grid — vectorized over the whole pixel batch."""
    xn, yn = np.asarray(xd, dtype=np.float64).copy(), np.asarray(yd, dtype=np.float64).copy()
    with np.errstate(over="ignore", invalid="ignore"):
        for _ in range(iters):
            xdist, ydist = brown_conrady_distort(xn, yn, params)
            xn += xd - xdist
            yn += yd - ydist
    return xn, yn


def _undistort_pixels(
    u: np.ndarray, v: np.ndarray, params: dict[str, float],
    f: float, cx: float, cy: float, w: int, h: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Distorted pixel coords → ideal (pinhole) pixel coords, both in the
    Metashape convention of :func:`project_points`."""
    xd = (u - (cx + w / 2.0)) / f
    yd = (v - (cy + h / 2.0)) / f
    xn, yn = brown_conrady_undistort(xd, yd, params)
    return f * xn + cx + w / 2.0, f * yn + cy + h / 2.0


def inverse_distortion_canvas(
    params: dict[str, float], f: float, cx: float, cy: float,
    w: int, h: int, max_margin: float = 1.0,
) -> tuple[int, int, int, int]:
    """Expanded pinhole canvas ``(x_off, y_off, W, H)`` covering the
    warped→ideal map of the image BORDER pixel centers.

    For a radially monotone Brown–Conrady field the extrema of the inverse
    map over the pixel rectangle lie on its boundary, so rendering the
    ideal image on this canvas guarantees every distorted output pixel has
    a source sample. ``max_margin`` clips runaway inverses (non-physical
    parameter sets) to at most that fraction of the frame per side; pixels
    mapping outside are reported invalid by :func:`inverse_distortion_map`.
    (The reference builds the same warped→ideal map densely with scipy
    griddata, ``cameras/cameras.py:995-1090``.)"""
    eu = np.arange(w, dtype=np.float64) + 0.5
    ev = np.arange(h, dtype=np.float64) + 0.5
    u = np.concatenate([eu, eu, np.full(h, 0.5), np.full(h, w - 0.5)])
    v = np.concatenate([np.full(w, 0.5), np.full(w, h - 0.5), ev, ev])
    us, vs = _undistort_pixels(u, v, params, f, cx, cy, w, h)
    ok = np.isfinite(us) & np.isfinite(vs)
    mx, my = float(np.ceil(max_margin * w)), float(np.ceil(max_margin * h))
    us = np.clip(us[ok], -mx, w + mx)
    vs = np.clip(vs[ok], -my, h + my)
    if len(us) == 0:
        return 0, 0, w, h
    x_off = min(int(np.floor(us.min())), 0)
    y_off = min(int(np.floor(vs.min())), 0)
    x_hi = max(int(np.floor(us.max())), w - 1)
    y_hi = max(int(np.floor(vs.max())), h - 1)
    return x_off, y_off, x_hi - x_off + 1, y_hi - y_off + 1


def inverse_distortion_map(
    params: dict[str, float], f: float, cx: float, cy: float,
    w: int, h: int,
) -> tuple[np.ndarray, tuple[int, int, int, int]]:
    """Per-output-pixel nearest-neighbour remap for render-then-warp
    distortion: for every DISTORTED pixel (r, c) (sampled at its center),
    the flat index of its source pixel in the ideal render on the
    expanded canvas.

    Returns ``(index, (x_off, y_off, W, H))``: ``index`` is (h, w) int32,
    ``-1`` where the pixel has no preimage. Render the pinhole image with
    ``px - x_off, py - y_off`` into (H, W), append one ``-1`` to its
    raveled pixels and ``take(index)``. With zero distortion the map is
    the identity (bit-exact pass-through). Matches the reference's
    render-undistorted-then-warp order-0 remap (``meshes.py:1817-1820``
    via ``cameras.py:995-1090``)."""
    canvas = inverse_distortion_canvas(params, f, cx, cy, w, h)
    x_off, y_off, W, H = canvas
    if W * H >= 2**31:
        raise ValueError(f"distortion canvas {W}x{H} overflows an int32 index")
    u = np.broadcast_to(np.arange(w, dtype=np.float64)[None, :] + 0.5, (h, w))
    v = np.broadcast_to(np.arange(h, dtype=np.float64)[:, None] + 0.5, (h, w))
    # the inverse is per pixel, so row bands on threads (numpy drops the
    # GIL in its loops) give one pass's bits in a fraction of its time
    bands = np.array_split(np.arange(h), min(h, 8, os.cpu_count() or 1))
    with ThreadPoolExecutor(len(bands)) as pool:
        parts = list(pool.map(lambda r: _undistort_pixels(
            u[r].ravel(), v[r].ravel(), params, f, cx, cy, w, h), bands))
    us, vs = (np.concatenate(c) for c in zip(*parts))
    # range-check in float space: a diverged inverse (no preimage inside
    # the image circle, e.g. strong barrel k1) yields huge/NaN values that
    # must not reach the int cast
    valid = (np.isfinite(us) & np.isfinite(vs)
             & (us >= x_off) & (us < x_off + W)
             & (vs >= y_off) & (vs < y_off + H))
    cols = np.floor(np.where(valid, us, 0.0)).astype(np.int64) - x_off
    rows = np.floor(np.where(valid, vs, 0.0)).astype(np.int64) - y_off
    valid &= (cols >= 0) & (cols < W) & (rows >= 0) & (rows < H)
    index = np.where(valid, rows * W + cols, -1).astype(np.int32)
    return index.reshape(h, w), canvas


def rpy_rotation(roll: float, pitch: float, yaw: float) -> np.ndarray:
    """Roll-pitch-yaw (XYZ intrinsic) rotation matrix (X15,
    ``utils/image.py:29-45``)."""
    cr, sr = np.cos(roll), np.sin(roll)
    cp, sp = np.cos(pitch), np.sin(pitch)
    cy, sy = np.cos(yaw), np.sin(yaw)
    Rx = np.array([[1, 0, 0], [0, cr, -sr], [0, sr, cr]])
    Ry = np.array([[cp, 0, sp], [0, 1, 0], [-sp, 0, cp]])
    Rz = np.array([[cy, -sy, 0], [sy, cy, 0], [0, 0, 1]])
    return Rz @ Ry @ Rx


def equirect_to_perspective(
    pano: np.ndarray, fov_deg: float, roll: float, pitch: float, yaw: float,
    out_h: int, out_w: int,
) -> np.ndarray:
    """Equirectangular panorama → perspective view (X15,
    ``utils/image.py:129-267``): cast the virtual camera's pixel rays,
    rotate by RPY, convert to (lon, lat) on the sphere, bilinear-sample.
    Pure numpy; image-shaped → meant for use inside mapInPandas."""
    H, W = pano.shape[:2]
    f = (out_w / 2.0) / np.tan(np.radians(fov_deg) / 2.0)
    xs = np.arange(out_w) - out_w / 2.0 + 0.5
    ys = np.arange(out_h) - out_h / 2.0 + 0.5
    gx, gy = np.meshgrid(xs, ys, indexing="xy")
    dirs = np.stack([gx, gy, np.full_like(gx, f)], axis=-1)
    dirs /= np.linalg.norm(dirs, axis=-1, keepdims=True)
    R = rpy_rotation(roll, pitch, yaw)
    d = dirs @ R.T
    lon = np.arctan2(d[..., 0], d[..., 2])           # [-pi, pi]
    lat = np.arcsin(np.clip(d[..., 1], -1, 1))       # [-pi/2, pi/2]
    u = (lon / np.pi + 1) / 2 * (W - 1)
    v = (lat / (np.pi / 2) + 1) / 2 * (H - 1)
    u0 = np.floor(u).astype(int); v0 = np.floor(v).astype(int)
    u1 = np.clip(u0 + 1, 0, W - 1); v1 = np.clip(v0 + 1, 0, H - 1)
    u0 = np.clip(u0, 0, W - 1); v0 = np.clip(v0, 0, H - 1)
    fu = (u - u0)[..., None] if pano.ndim == 3 else (u - u0)
    fv = (v - v0)[..., None] if pano.ndim == 3 else (v - v0)
    p = (pano[v0, u0] * (1 - fu) * (1 - fv) + pano[v0, u1] * fu * (1 - fv)
         + pano[v1, u0] * (1 - fu) * fv + pano[v1, u1] * fu * fv)
    return p.astype(pano.dtype)


# ---------------------------------------------------------------------------
# Segment–segment closest distance (the J8 theta-join kernel)
# ---------------------------------------------------------------------------

def segment_pair_closest(
    a0: np.ndarray, a1: np.ndarray, b0: np.ndarray, b1: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Closest points and distance between segment batches.

    a0,a1,b0,b1: (n,3). Returns (pA (n,3), pB (n,3), dist (n,)).
    Clamped to segment endpoints; parallel segments handled by projecting
    endpoints. Re-derivation of the reference's pair kernel
    (``utils/numeric.py:39-236``) — standard Eberly formulation, not a copy.
    """
    d1 = a1 - a0
    d2 = b1 - b0
    r = a0 - b0
    aa = np.einsum("ij,ij->i", d1, d1)
    ee = np.einsum("ij,ij->i", d2, d2)
    ff = np.einsum("ij,ij->i", d2, r)
    cc = np.einsum("ij,ij->i", d1, r)
    bb = np.einsum("ij,ij->i", d1, d2)
    denom = aa * ee - bb * bb
    with np.errstate(divide="ignore", invalid="ignore"):
        s = np.where(denom > 1e-14 * aa * ee + 1e-300, (bb * ff - cc * ee) / np.where(denom == 0, 1, denom), 0.0)
    s = np.clip(s, 0.0, 1.0)
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(ee > 0, (bb * s + ff) / np.where(ee == 0, 1, ee), 0.0)
    # re-clamp s for clamped t
    t_cl = np.clip(t, 0.0, 1.0)
    need = t != t_cl
    with np.errstate(divide="ignore", invalid="ignore"):
        s2 = np.where(aa > 0, (t_cl * bb - cc) / np.where(aa == 0, 1, aa), 0.0)
    s = np.where(need, np.clip(s2, 0.0, 1.0), s)
    t = t_cl
    pA = a0 + d1 * s[:, None]
    pB = b0 + d2 * t[:, None]
    dist = np.linalg.norm(pA - pB, axis=1)
    return pA, pB, dist


def segment_clip_to_planes(
    starts: np.ndarray, ends: np.ndarray, z_top: float, z_bottom: float,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Clip segments to the slab z ∈ [z_bottom, z_top]; segments must cross
    both planes to survive (reference J9 flat-boundary case,
    ``utils/geometric.py:144-254``). Returns (new_starts, new_ends, keep)."""
    d = ends - starts
    dz = d[:, 2]
    with np.errstate(divide="ignore", invalid="ignore"):
        t_top = (z_top - starts[:, 2]) / np.where(dz == 0, np.nan, dz)
        t_bot = (z_bottom - starts[:, 2]) / np.where(dz == 0, np.nan, dz)
    keep = np.isfinite(t_top) & np.isfinite(t_bot)
    keep &= (np.minimum(t_top, t_bot) >= 0) & (np.maximum(t_top, t_bot) <= 1)
    new_starts = starts + d * np.nan_to_num(t_top)[:, None]
    new_ends = starts + d * np.nan_to_num(t_bot)[:, None]
    return new_starts, new_ends, keep
