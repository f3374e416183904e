"""kNN join vs brute force; ray proximity edges vs O(N²) oracle;
components; end-to-end multiview triangulation recovery."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geograypher_spark.functions import camera as cam
from geograypher_spark.operators import knn as KNN
from geograypher_spark.operators import raytri as RT


def test_knn_matches_bruteforce(spark):
    rng = np.random.default_rng(3)
    q = pd.DataFrame({"query_id": np.arange(200, dtype=np.int64),
                      "x": rng.uniform(0, 100, 200), "y": rng.uniform(0, 100, 200)})
    r = pd.DataFrame({"ref_id": np.arange(50, dtype=np.int64),
                      "x": rng.uniform(0, 100, 50), "y": rng.uniform(0, 100, 50)})
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r), k=1).collect()
    got_map = {row["query_id"]: row["ref_id"] for row in got}
    assert len(got_map) == 200
    qx = q[["x", "y"]].to_numpy()
    rx = r[["x", "y"]].to_numpy()
    d = np.linalg.norm(qx[:, None, :] - rx[None, :, :], axis=2)
    expected = d.argmin(axis=1)
    for qid in range(200):
        assert got_map[qid] == expected[qid], f"query {qid}"


def test_knn_k3_ranks(spark):
    rng = np.random.default_rng(4)
    q = pd.DataFrame({"query_id": np.arange(50, dtype=np.int64),
                      "x": rng.uniform(0, 50, 50), "y": rng.uniform(0, 50, 50)})
    r = pd.DataFrame({"ref_id": np.arange(30, dtype=np.int64),
                      "x": rng.uniform(0, 50, 30), "y": rng.uniform(0, 50, 30)})
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r), k=3).collect()
    by_q = {}
    for row in got:
        by_q.setdefault(row["query_id"], []).append((row["rank"], row["ref_id"], row["dist"]))
    qx = q[["x", "y"]].to_numpy(); rx = r[["x", "y"]].to_numpy()
    d = np.linalg.norm(qx[:, None, :] - rx[None, :, :], axis=2)
    for qid, items in by_q.items():
        items.sort()
        assert len(items) == 3
        expect = np.argsort(d[qid])[:3]
        assert [ref for _, ref, _ in items] == expect.tolist()
        # dists are non-decreasing by rank
        dd = [x[2] for x in items]
        assert dd == sorted(dd)


def test_knn_collinear_refs_exact(spark):
    """All refs on a line: the old area-product auto_resolution collapsed
    to max res and the ring expansion could never cover the spread
    (round-2 VERDICT #8). The occupied-cell solve must pick a cell sized
    to the 1D density, keeping results exact within max_expansions."""
    rng = np.random.default_rng(11)
    r = pd.DataFrame({"ref_id": np.arange(60, dtype=np.int64),
                      "x": np.linspace(0, 90, 60), "y": np.full(60, 5.0)})
    q = pd.DataFrame({"query_id": np.arange(120, dtype=np.int64),
                      "x": rng.uniform(0, 90, 120), "y": rng.uniform(0, 10, 120)})
    res = KNN.auto_resolution(
        spark.createDataFrame(r), "x", "y", target_per_cell=4.0)
    from geograypher_spark.functions import cells as C
    # cell must be sized to the 1D spread (~90*4/60 = 6), not collapsed
    assert C.cell_size(res) >= 1.0
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r), k=1).collect()
    got_map = {row["query_id"]: row["ref_id"] for row in got}
    d = np.linalg.norm(q[["x", "y"]].to_numpy()[:, None, :]
                       - r[["x", "y"]].to_numpy()[None, :, :], axis=2)
    expected = d.argmin(axis=1)
    assert len(got_map) == 120
    for qid in range(120):
        assert got_map[qid] == expected[qid], f"query {qid}"


def test_knn_single_point_refs(spark):
    """Degenerate: every ref at one spot → res 0 (coarsest), still exact."""
    r = pd.DataFrame({"ref_id": np.arange(3, dtype=np.int64),
                      "x": np.full(3, 7.0), "y": np.full(3, -2.0)})
    q = pd.DataFrame({"query_id": np.arange(5, dtype=np.int64),
                      "x": np.linspace(0, 20, 5), "y": np.linspace(-5, 5, 5)})
    assert KNN.auto_resolution(
        spark.createDataFrame(r), "x", "y") == 0
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r), k=1).collect()
    assert {row["query_id"] for row in got} == set(range(5))
    assert all(row["ref_id"] == 0 for row in got)  # tie → lowest ref id


def _rays_df(spark, starts, ends, camera_ids):
    pdf = pd.DataFrame({
        "ray_id": np.arange(len(starts), dtype=np.int64),
        "camera_id": np.asarray(camera_ids, dtype=np.int64),
        "sx": starts[:, 0], "sy": starts[:, 1], "sz": starts[:, 2],
        "ex": ends[:, 0], "ey": ends[:, 1], "ez": ends[:, 2],
    })
    return spark.createDataFrame(pdf)


def _assert_edges_match_bruteforce(spark, starts, ends, cams, tau):
    got = RT.ray_proximity_edges(_rays_df(spark, starts, ends, cams), tau=tau).collect()
    got_set = {(r["src"], r["dst"]) for r in got}
    # brute force over all pairs, in slabs of 2^18 pairs
    ii, jj = np.triu_indices(len(starts), k=1)
    d = np.concatenate([
        cam.segment_pair_closest(starts[i], ends[i], starts[j], ends[j])[2]
        for i, j in zip(np.array_split(ii, len(ii) // (1 << 18) + 1),
                        np.array_split(jj, len(jj) // (1 << 18) + 1))])
    mask = (d <= tau) & (cams[ii] != cams[jj])
    expected = {(int(a), int(b)) for a, b in zip(ii[mask], jj[mask])}
    assert got_set == expected
    # weights = 1/dist
    dmap = {(int(a), int(b)): float(x) for a, b, x in zip(ii[mask], jj[mask], d[mask])}
    for r in got:
        assert r["weight"] == pytest.approx(1.0 / max(dmap[(r["src"], r["dst"])], 1e-8))
    return got_set


def test_ray_edges_match_bruteforce(spark):
    rng = np.random.default_rng(5)
    n = 120
    starts = rng.uniform(0, 30, (n, 3))
    dirs = rng.normal(size=(n, 3))
    dirs /= np.linalg.norm(dirs, axis=1, keepdims=True)
    ends = starts + dirs * 5.0
    cams = rng.integers(0, 6, n)
    _assert_edges_match_bruteforce(spark, starts, ends, cams, tau=0.8)


def test_ray_edges_match_bruteforce_dense(spark):
    """Dense case: 1500 long segments over a 25×25 patch, 12 cameras —
    every segment spans many cells and most pairs share several, so the
    canonical-cell dedup and the bbox-gap prefilter are exercised hard."""
    rng = np.random.default_rng(17)
    n = 1500
    cams = rng.integers(0, 12, n)
    sx, sy = rng.uniform(0, 25, n), rng.uniform(0, 25, n)
    sz = rng.uniform(0, 1, n)
    ex, ey = rng.uniform(0, 25, n), rng.uniform(0, 25, n)
    ez = rng.uniform(1, 3, n)
    starts = np.stack([sx, sy, sz], axis=1)
    ends = np.stack([ex, ey, ez], axis=1)
    edges = _assert_edges_match_bruteforce(spark, starts, ends, cams, tau=0.45)
    assert len(edges) > 100


def test_ray_edges_cross_camera_only(spark):
    # two nearly identical rays in the SAME camera → no edge
    starts = np.array([[0, 0, 0], [0.01, 0, 0], [5, 5, 5.0]])
    ends = np.array([[0, 0, 5], [0.01, 0, 5], [5, 5, 10.0]])
    df = _rays_df(spark, starts, ends, [1, 1, 2])
    assert RT.ray_proximity_edges(df, tau=0.5).count() == 0
    # allow same camera → the close pair appears
    got = RT.ray_proximity_edges(df, tau=0.5, cross_camera_only=False).collect()
    assert {(r["src"], r["dst"]) for r in got} == {(0, 1)}


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long")
    got = {r["node"]: r["component"]
           for r in RT.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_triangulation_recovers_point(spark, scene):
    """Rays cast from every camera through the projection of a known 3D
    point must triangulate back to that point (multiview_detections e2e)."""
    target = np.array([[5.0, 5.0, 0.5]])
    rows = []
    for c in scene.cameras:
        c2w = np.asarray(c["cam_to_world"]).reshape(4, 4)
        px, py, z = cam.project_points(target, c2w, c["f"], c["cx"], c["cy"], c["w"], c["h"])
        if not cam.in_image_mask(px, py, z, c["w"], c["h"])[0]:
            continue
        s, e = cam.cast_rays(px, py, c2w, c["f"], c["cx"], c["cy"], c["w"], c["h"], length=20.0)
        rows.append((c["camera_id"], s[0], e[0]))
    assert len(rows) >= 4
    starts = np.array([r[1] for r in rows])
    ends = np.array([r[2] for r in rows])
    cams = [r[0] for r in rows]
    rays = _rays_df(spark, starts, ends, cams)
    edges = RT.ray_proximity_edges(rays, tau=0.05)
    comp = RT.connected_components(edges)
    assert comp.select("component").distinct().count() == 1
    pts = RT.triangulate_components(rays, comp).collect()
    assert len(pts) == 1
    p = pts[0]
    np.testing.assert_allclose([p["px"], p["py"], p["pz"]], target[0], atol=1e-6)
    assert p["n_rays"] == len(rows)


def test_knn_guaranteed_flag_sparse_refs(spark):
    """Sparse refs + a truncated expansion budget leave a best-effort
    tail. Contract: guaranteed=True rows are exactly the KDTree answer;
    any query whose best-effort rows differ from the true kNN (wrong
    neighbor OR fewer than k neighbors) MUST be flagged
    guaranteed=False (the flag never lies)."""
    rng = np.random.default_rng(11)
    # res=5 -> 32-unit cells. Dense cluster at the origin resolves with
    # a full guarantee; a LONE ref at (200, 200) serves nearby queries
    # k=2 with only one reachable neighbor -> best-effort tail.
    q = pd.DataFrame({
        "query_id": np.arange(40, dtype=np.int64),
        "x": np.concatenate([rng.uniform(0, 60, 30), rng.uniform(180, 220, 10)]),
        "y": np.concatenate([rng.uniform(0, 60, 30), rng.uniform(180, 220, 10)])})
    r = pd.DataFrame({
        "ref_id": np.arange(7, dtype=np.int64),
        "x": np.concatenate([rng.uniform(0, 60, 6), [200.0]]),
        "y": np.concatenate([rng.uniform(0, 60, 6), [200.0]])})
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r),
                       k=2, res=5, max_expansions=2).collect()
    qx = q[["x", "y"]].to_numpy()
    rx = r[["x", "y"]].to_numpy()
    d = np.linalg.norm(qx[:, None, :] - rx[None, :, :], axis=2)
    true_knn = np.argsort(d, axis=1)[:, :2]
    by_q = {}
    for row in got:
        by_q.setdefault(int(row["query_id"]), []).append(row)
    n_unguaranteed = 0
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        flags = {r["guaranteed"] for r in rows}
        assert len(flags) == 1, f"query {qid}: mixed flags"
        exact = ([r["ref_id"] for r in rows] == list(true_knn[qid]))
        if flags == {True}:
            assert exact, f"guaranteed rows wrong for query {qid}"
        else:
            n_unguaranteed += 1
        if not exact:
            assert flags == {False}, (
                f"query {qid}: rows differ from KDTree but flagged True")
    # the fixture is built so the tail actually exists
    assert n_unguaranteed > 0


def test_knn_guaranteed_true_on_dense_refs(spark):
    rng = np.random.default_rng(4)
    q = pd.DataFrame({"query_id": np.arange(50, dtype=np.int64),
                      "x": rng.uniform(0, 50, 50), "y": rng.uniform(0, 50, 50)})
    r = pd.DataFrame({"ref_id": np.arange(400, dtype=np.int64),
                      "x": rng.uniform(0, 50, 400), "y": rng.uniform(0, 50, 400)})
    got = KNN.knn_join(spark.createDataFrame(q), spark.createDataFrame(r), k=2).collect()
    assert all(row["guaranteed"] for row in got)
