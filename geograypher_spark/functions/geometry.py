"""Pure-numpy computational-geometry kernels (vectorized, Arrow-UDF-ready).

The reference leans on shapely/GEOS (``gpd.sjoin`` at ``meshes/meshes.py:1226``,
``overlay`` at ``meshes/meshes.py:1240-1244``, ``unary_union`` at
``utils/geometric.py:13-94``). This container has no GEOS, so the engine ships
its own exact kernels, all batch-vectorized numpy so they run inside pandas
UDFs without per-row Python:

- WKB encode/decode for Polygon / MultiPolygon / Point (little-endian)
- shoelace signed area, centroid
- winding-number point-in-polygon (many points × one polygon), exact on
  boundary via even-odd crossing with consistent tie handling
- Sutherland–Hodgman clipping against a *convex* clipper (tile squares,
  bboxes) → exact polygon∩rect pieces for zonal stats / overlay
"""

from __future__ import annotations

import struct

import numpy as np

_WKB_POINT = 1
_WKB_POLYGON = 3
_WKB_MULTIPOLYGON = 6


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

def polygon_to_wkb(rings: list[np.ndarray]) -> bytes:
    """rings[0] = exterior (closed or open), rest = holes. (n,2) float64."""
    out = [struct.pack("<BI", 1, _WKB_POLYGON), struct.pack("<I", len(rings))]
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if not np.array_equal(ring[0], ring[-1]):
            ring = np.vstack([ring, ring[:1]])
        out.append(struct.pack("<I", len(ring)))
        out.append(ring.astype("<f8").tobytes())
    return b"".join(out)


def multipolygon_to_wkb(polys: list[list[np.ndarray]]) -> bytes:
    out = [struct.pack("<BI", 1, _WKB_MULTIPOLYGON), struct.pack("<I", len(polys))]
    for rings in polys:
        out.append(polygon_to_wkb(rings))
    return b"".join(out)


def wkb_to_rings(wkb: bytes) -> list[list[np.ndarray]]:
    """Decode WKB Polygon/MultiPolygon/Point → list of polygons, each a list
    of (n,2) rings (exterior first). Points decode as a 1-vertex ring."""
    off = 0

    def _read_poly(off: int) -> tuple[list[np.ndarray], int]:
        byte_order, gtype = struct.unpack_from("<BI", wkb, off)
        assert byte_order == 1, "big-endian WKB not supported"
        off += 5
        if gtype == _WKB_POINT:
            x, y = struct.unpack_from("<dd", wkb, off)
            return [np.array([[x, y]])], off + 16
        assert gtype == _WKB_POLYGON, f"unexpected geometry type {gtype}"
        (n_rings,) = struct.unpack_from("<I", wkb, off)
        off += 4
        rings = []
        for _ in range(n_rings):
            (n_pts,) = struct.unpack_from("<I", wkb, off)
            off += 4
            pts = np.frombuffer(wkb, dtype="<f8", count=2 * n_pts, offset=off)
            off += 16 * n_pts
            rings.append(pts.reshape(-1, 2).astype(np.float64))
        return rings, off

    byte_order, gtype = struct.unpack_from("<BI", wkb, 0)
    if gtype == _WKB_MULTIPOLYGON:
        (n_polys,) = struct.unpack_from("<I", wkb, 5)
        off = 9
        polys = []
        for _ in range(n_polys):
            rings, off = _read_poly(off)
            polys.append(rings)
        return polys
    rings, _ = _read_poly(0)
    return [rings]


# ---------------------------------------------------------------------------
# Scalar polygon properties (vectorized over vertices)
# ---------------------------------------------------------------------------

def ring_signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    return 0.5 * float(np.sum(x * y1 - x1 * y))


def polygon_area(rings: list[np.ndarray]) -> float:
    """Exterior minus holes, absolute."""
    a = abs(ring_signed_area(rings[0]))
    for hole in rings[1:]:
        a -= abs(ring_signed_area(hole))
    return a


def multipolygon_area(polys: list[list[np.ndarray]]) -> float:
    return float(sum(polygon_area(rings) for rings in polys))


def ring_centroid(ring: np.ndarray) -> tuple[float, float]:
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    cross = x * y1 - x1 * y
    a = np.sum(cross) / 2.0
    if abs(a) < 1e-300:  # degenerate: mean of vertices
        return float(np.mean(x[:-1] if len(x) > 1 else x)), float(np.mean(y[:-1] if len(y) > 1 else y))
    cx = float(np.sum((x + x1) * cross) / (6.0 * a))
    cy = float(np.sum((y + y1) * cross) / (6.0 * a))
    return cx, cy


def rings_bbox(polys: list[list[np.ndarray]]) -> tuple[float, float, float, float]:
    pts = np.vstack([r for rings in polys for r in rings])
    return (
        float(pts[:, 0].min()), float(pts[:, 1].min()),
        float(pts[:, 0].max()), float(pts[:, 1].max()),
    )


# ---------------------------------------------------------------------------
# Point-in-polygon: vectorized winding number (many points × one ring set)
# ---------------------------------------------------------------------------

def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number test, half-open edge convention → deterministic on
    shared boundaries. (n_points,) bool."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    x0, y0 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x1, y1 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    # edge crosses the horizontal ray from (px,py) to +inf
    cond = (y0 <= py) != (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (py - y0) * (x1 - x0) / np.where(y1 == y0, np.inf, y1 - y0)
    crossings = np.sum(cond & (px < xint), axis=1)
    return (crossings % 2) == 1


def points_in_polygon(px: np.ndarray, py: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    def _closed(r: np.ndarray) -> np.ndarray:
        return r if np.array_equal(r[0], r[-1]) else np.vstack([r, r[:1]])

    inside = points_in_ring(px, py, _closed(rings[0]))
    for hole in rings[1:]:
        inside &= ~points_in_ring(px, py, _closed(hole))
    return inside


def points_in_multipolygon(px: np.ndarray, py: np.ndarray, polys: list[list[np.ndarray]]) -> np.ndarray:
    out = np.zeros(len(np.atleast_1d(px)), dtype=bool)
    for rings in polys:
        out |= points_in_polygon(px, py, rings)
    return out


def points_in_wkb(px: np.ndarray, py: np.ndarray, wkb: bytes) -> np.ndarray:
    return points_in_multipolygon(px, py, wkb_to_rings(wkb))


# ---------------------------------------------------------------------------
# Sutherland–Hodgman clip against a convex clipper
# ---------------------------------------------------------------------------

def clip_ring_convex(subject: np.ndarray, clipper: np.ndarray) -> np.ndarray:
    """Clip a (possibly concave) subject ring by a convex CCW clipper ring.
    Returns (m,2) clipped ring (open) or empty array. Exact for the
    polygon∩tile pieces of zonal stats / overlay (``utils/geospatial.py:150-217``).
    """
    subject = np.asarray(subject, dtype=np.float64)
    if np.array_equal(subject[0], subject[-1]):
        subject = subject[:-1]
    clipper = np.asarray(clipper, dtype=np.float64)
    if np.array_equal(clipper[0], clipper[-1]):
        clipper = clipper[:-1]
    if ring_signed_area(np.vstack([clipper, clipper[:1]])) < 0:
        clipper = clipper[::-1]
    out = subject
    n = len(clipper)
    for i in range(n):
        if len(out) == 0:
            return np.empty((0, 2))
        a, b = clipper[i], clipper[(i + 1) % n]
        ex, ey = b[0] - a[0], b[1] - a[1]
        px, py = out[:, 0], out[:, 1]
        side = ex * (py - a[1]) - ey * (px - a[0])  # >=0 → inside (left of edge)
        nxt = np.roll(out, -1, axis=0)
        side_n = np.roll(side, -1)
        new_pts = []
        for j in range(len(out)):
            cur_in, nxt_in = side[j] >= 0, side_n[j] >= 0
            if cur_in:
                new_pts.append(out[j])
            if cur_in != nxt_in:
                # intersection of segment out[j]→nxt[j] with clip edge line
                d = side[j] - side_n[j]
                t = side[j] / d if d != 0 else 0.0
                new_pts.append(out[j] + t * (nxt[j] - out[j]))
        out = np.asarray(new_pts) if new_pts else np.empty((0, 2))
    return out


def clip_ring_halfplane(
    subject: np.ndarray, a: np.ndarray, b: np.ndarray, keep_left: bool,
) -> np.ndarray:
    """Clip a convex ring by the line through a→b: keep the side left of
    the edge (``keep_left``) or right of it. One Sutherland–Hodgman pass —
    the building block of convex-decomposition polygon difference."""
    out = np.asarray(subject, dtype=np.float64)
    if len(out) and np.array_equal(out[0], out[-1]):
        out = out[:-1]
    if len(out) == 0:
        return np.empty((0, 2))
    ex, ey = b[0] - a[0], b[1] - a[1]
    side = ex * (out[:, 1] - a[1]) - ey * (out[:, 0] - a[0])
    if not keep_left:
        side = -side
    nxt = np.roll(out, -1, axis=0)
    side_n = np.roll(side, -1)
    new_pts = []
    for j in range(len(out)):
        cur_in, nxt_in = side[j] >= 0, side_n[j] >= 0
        if cur_in:
            new_pts.append(out[j])
        if cur_in != nxt_in:
            d = side[j] - side_n[j]
            t = side[j] / d if d != 0 else 0.0
            new_pts.append(out[j] + t * (nxt[j] - out[j]))
    if not new_pts:
        return np.empty((0, 2))
    ring = np.asarray(new_pts)
    # drop consecutive duplicates (an intersection landing ON an existing
    # vertex emits it twice): degenerate repeated vertices break ear
    # clipping and intersection tests downstream — found by hypothesis
    keep = np.ones(len(ring), dtype=bool)
    for j in range(len(ring)):
        if np.all(np.abs(ring[j] - ring[(j + 1) % len(ring)]) < 1e-12):
            keep[(j + 1) % len(ring)] = False
    return ring[keep]


def convex_pieces_minus_convex(
    pieces: list[np.ndarray], clipper: np.ndarray, min_area: float = 1e-12,
) -> list[np.ndarray]:
    """Subtract one convex polygon from a set of convex pieces → convex
    pieces. Per piece: walk the clipper's edges; the part OUTSIDE edge k
    (but inside edges <k) is kept, the rest continues — a disjoint convex
    decomposition of piece ∖ clipper. Exact up to S-H float intersections.
    Accepting arbitrary convex clippers (not just triangles) lets callers
    subtract whole convex regions in one pass — k half-plane clips instead
    of 3(k−2) with intermediate piece blowup."""
    t = np.asarray(clipper, dtype=np.float64)
    if len(t) and np.array_equal(t[0], t[-1]):
        t = t[:-1]
    if ring_signed_area(np.vstack([t, t[:1]])) < 0:
        t = t[::-1]
    nk = len(t)
    txmin, tymin = t[:, 0].min(), t[:, 1].min()
    txmax, tymax = t[:, 0].max(), t[:, 1].max()
    out: list[np.ndarray] = []
    for P in pieces:
        # bbox reject: untouched pieces pass through unchanged
        if (P[:, 0].max() <= txmin or P[:, 0].min() >= txmax
                or P[:, 1].max() <= tymin or P[:, 1].min() >= tymax):
            out.append(P)
            continue
        remaining = P
        for k in range(nk):
            a, b = t[k], t[(k + 1) % nk]
            outside = clip_ring_halfplane(remaining, a, b, keep_left=False)
            if len(outside) >= 3 and abs(ring_signed_area(
                    np.vstack([outside, outside[:1]]))) > min_area:
                out.append(outside)
            remaining = clip_ring_halfplane(remaining, a, b, keep_left=True)
            if len(remaining) < 3:
                break
        # `remaining` = P ∩ clipper → subtracted (dropped)
    return out


def convex_pieces_minus_triangle(
    pieces: list[np.ndarray], tri: np.ndarray, min_area: float = 1e-12,
) -> list[np.ndarray]:
    return convex_pieces_minus_convex(pieces, tri, min_area)


def polygon_region_pieces(polys: list[list[np.ndarray]],
                          min_area: float = 1e-12) -> list[np.ndarray]:
    """(Multi)Polygon with holes → disjoint convex pieces covering exactly
    its region: triangulate each exterior, subtract its hole triangles.

    Rings are first stripped of exactly-collinear vertices (DP tol=0 —
    area-preserving): a boundary with long collinear runs (axis-aligned
    union output, densified rectangles) otherwise ear-clips into O(n)
    sliver fans whose giant bboxes defeat downstream spatial pruning."""
    pieces: list[np.ndarray] = []
    for rings in polys:
        ext = simplify_ring(rings[0], 0.0)
        part = [tr for tr in triangulate_ring(ext)]
        for hole in rings[1:]:
            for ht in triangulate_ring(simplify_ring(hole, 0.0)):
                part = convex_pieces_minus_convex(part, ht, min_area)
        pieces.extend(part)
    return pieces


def clip_area_convex(subject: np.ndarray, clipper: np.ndarray) -> float:
    clipped = clip_ring_convex(subject, clipper)
    if len(clipped) < 3:
        return 0.0
    return abs(ring_signed_area(np.vstack([clipped, clipped[:1]])))


def rect_ring(xmin: float, ymin: float, xmax: float, ymax: float) -> np.ndarray:
    return np.array([[xmin, ymin], [xmax, ymin], [xmax, ymax], [xmin, ymax]])


# ---------------------------------------------------------------------------
# Ear-clipping triangulation (enables concave∩concave overlay: J5/A7)
# ---------------------------------------------------------------------------

def triangulate_ring(ring: np.ndarray) -> list[np.ndarray]:
    """Ear-clipping triangulation of a simple (hole-free) ring → list of
    (3,2) triangles. O(n²) — polygon vertex counts are small (post-union
    boundaries, label polygons). Orientation-insensitive."""
    pts = np.asarray(ring, dtype=np.float64)
    if np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    n = len(pts)
    if n < 3:
        return []
    idx = list(range(n))
    if ring_signed_area(np.vstack([pts, pts[:1]])) < 0:
        idx = idx[::-1]
    tris: list[np.ndarray] = []
    guard = 0
    while len(idx) > 3 and guard < 10 * n:
        guard += 1
        m = len(idx)
        clipped = False
        for k in range(m):
            i0, i1, i2 = idx[(k - 1) % m], idx[k], idx[(k + 1) % m]
            a, b, c = pts[i0], pts[i1], pts[i2]
            cross = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
            if cross <= 1e-14:   # reflex or degenerate
                continue
            # no other vertex strictly inside the candidate ear
            others = [j for j in idx if j not in (i0, i1, i2)]
            if others:
                tri = np.array([a, b, c])
                ox = pts[others, 0]; oy = pts[others, 1]
                inside = points_in_ring(ox, oy, np.vstack([tri, tri[:1]]))
                if inside.any():
                    continue
            tris.append(np.array([a, b, c]))
            del idx[k]
            clipped = True
            break
        if not clipped:  # numeric fallback: fan (valid for near-convex rest)
            break
    if len(idx) >= 3:
        for k in range(1, len(idx) - 1):
            tris.append(np.array([pts[idx[0]], pts[idx[k]], pts[idx[k + 1]]]))
    return tris


def polygon_intersection_area(polys_a: list[list[np.ndarray]],
                              polys_b: list[list[np.ndarray]]) -> float:
    """Exact area of A∩B for arbitrary (Multi)Polygons with holes:
    triangulate both into signed triangle soups (exterior +, holes −),
    then Σ signed clip areas of every triangle pair — Sutherland–Hodgman
    handles any-subject × convex-clipper, and triangles are convex.
    Replaces GEOS ``overlay(how="intersection")`` area semantics (J5)."""
    def signed_tris(polys):
        out = []
        for rings in polys:
            for t in triangulate_ring(rings[0]):
                out.append((t, 1.0))
            for hole in rings[1:]:
                for t in triangulate_ring(hole):
                    out.append((t, -1.0))
        return out

    ta = signed_tris(polys_a)
    tb = signed_tris(polys_b)
    area = 0.0
    for a, sa in ta:
        for b, sb in tb:
            area += sa * sb * clip_area_convex(a, b)
    return area


# ---------------------------------------------------------------------------
# Simplify / buffer (X12 analogs, pure numpy)
# ---------------------------------------------------------------------------

def simplify_chain(pts: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker on an open polyline; endpoints always kept."""
    pts = np.asarray(pts, dtype=np.float64)
    if len(pts) <= 2:
        return pts
    keep = np.zeros(len(pts), dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, len(pts) - 1)]
    while stack:
        lo, hi = stack.pop()
        if hi <= lo + 1:
            continue
        a, b = pts[lo], pts[hi]
        ab = b - a
        L = np.hypot(ab[0], ab[1])
        seg = pts[lo + 1:hi]
        if L < 1e-300:
            d = np.hypot(seg[:, 0] - a[0], seg[:, 1] - a[1])
        else:
            d = np.abs(ab[0] * (seg[:, 1] - a[1]) - ab[1] * (seg[:, 0] - a[0])) / L
        imax = int(np.argmax(d))
        if d[imax] > tol:
            k = lo + 1 + imax
            keep[k] = True
            stack.append((lo, k))
            stack.append((k, hi))
    return pts[keep]


def simplify_ring(ring: np.ndarray, tol: float) -> np.ndarray:
    """Douglas–Peucker simplification of a closed ring: split at vertex 0
    and its farthest vertex into two open chains, simplify each, rejoin."""
    pts = np.asarray(ring, dtype=np.float64)
    closed = np.array_equal(pts[0], pts[-1])
    if closed:
        pts = pts[:-1]
    if len(pts) <= 3:
        return np.vstack([pts, pts[:1]]) if closed else pts
    d0 = np.hypot(pts[:, 0] - pts[0, 0], pts[:, 1] - pts[0, 1])
    far = int(np.argmax(d0))
    chain1 = simplify_chain(pts[:far + 1], tol)
    chain2 = simplify_chain(np.vstack([pts[far:], pts[:1]]), tol)
    out = np.vstack([chain1[:-1], chain2[:-1]])
    return np.vstack([out, out[:1]]) if closed else out


def buffer_convex(points: np.ndarray, dist: float, n_arc: int = 8) -> np.ndarray:
    """Positive buffer of a point set as the convex hull of per-point
    discs (approximated by n_arc-gon). Exact enough for the reference's
    prefilter buffers (ROI dissolve+buffer, camera-cluster 125 m buffer) —
    candidate-stage only; refinement stays exact."""
    pts = np.asarray(points, dtype=np.float64).reshape(-1, 2)
    ang = np.linspace(0, 2 * np.pi, n_arc, endpoint=False)
    offs = np.stack([np.cos(ang), np.sin(ang)], axis=1) * dist
    cloud = (pts[:, None, :] + offs[None, :, :]).reshape(-1, 2)
    return convex_hull(cloud)


def convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain → CCW hull ring (m,2)."""
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) <= 2:
        return pts
    order = np.lexsort((pts[:, 1], pts[:, 0]))
    pts = pts[order]

    def half(seq):
        out: list[np.ndarray] = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


# ---------------------------------------------------------------------------
# Ray–triangle intersection (Möller–Trumbore, J9 general covering meshes)
# ---------------------------------------------------------------------------

def rays_triangles_first_hit(
    starts: np.ndarray, dirs: np.ndarray,
    tri0: np.ndarray, tri1: np.ndarray, tri2: np.ndarray,
) -> tuple[np.ndarray, np.ndarray]:
    """First-hit parameter t ≥ 0 of each ray against a (broadcast) triangle
    soup. starts/dirs: (n,3); tri*: (m,3). Returns (t (n,), hit (n,) bool);
    t = +inf where no hit. Vectorized n×m (soups are small covering meshes,
    A9: ≤ N² grid cells)."""
    eps = 1e-12
    e1 = tri1 - tri0           # (m,3)
    e2 = tri2 - tri0
    n, m = len(starts), len(tri0)
    d = dirs[:, None, :]       # (n,1,3)
    p = np.cross(d, e2[None, :, :])                  # (n,m,3)
    det = np.einsum("nmk,mk->nm", p, e1)
    s = starts[:, None, :] - tri0[None, :, :]        # (n,m,3)
    with np.errstate(divide="ignore", invalid="ignore"):
        inv = np.where(np.abs(det) > eps, 1.0 / det, np.nan)
        u = np.einsum("nmk,nmk->nm", p, s) * inv
        q = np.cross(s, e1[None, :, :])
        v = np.einsum("nmk,nk->nm", q, dirs) * inv
        t = np.einsum("nmk,mk->nm", q, e2) * inv
    ok = (np.abs(det) > eps) & (u >= -eps) & (v >= -eps) & (u + v <= 1 + eps) & (t >= eps)
    t = np.where(ok, t, np.inf)
    tmin = t.min(axis=1)
    return tmin, np.isfinite(tmin)


# ---------------------------------------------------------------------------
# Triangle metrics (reference utils/numeric.py:271-327, X4)
# ---------------------------------------------------------------------------

def triangle_areas_3d(p0: np.ndarray, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
    """(n,3) each → (n,) 3D triangle areas via cross product."""
    c = np.cross(p1 - p0, p2 - p0)
    return 0.5 * np.linalg.norm(c, axis=-1)


def triangle_areas_2d(p0: np.ndarray, p1: np.ndarray, p2: np.ndarray) -> np.ndarray:
    """z-projected (plan-view) areas; with 3D ratio gives slope correction
    (reference ``meshes/meshes.py:881-900``)."""
    return 0.5 * np.abs(
        (p1[:, 0] - p0[:, 0]) * (p2[:, 1] - p0[:, 1])
        - (p1[:, 1] - p0[:, 1]) * (p2[:, 0] - p0[:, 0])
    )
