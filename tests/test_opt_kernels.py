"""Round-6 optimization internals: the argpartition top-k kernel, the
binary-packed quantized vectors, HALF_UP rounding, and hashed-shingle
jaccard parity — each change must be output-identical to the shape it
replaced."""

from collections import Counter
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geograypher_spark.operators import dedup as DD
from geograypher_spark.operators import similarity as SIM


class TestTopkDescTiebreak:
    def test_matches_full_lexsort_fuzz(self):
        """Randomized low-entropy matrices (heavy ties, -inf padding):
        the finite slots must equal the full lexsort exactly."""
        rng = np.random.default_rng(0)
        for _ in range(300):
            c = int(rng.integers(1, 8))
            m = int(rng.integers(2, 40))
            k = int(rng.integers(1, m + 1))
            sims = rng.integers(0, 4, size=(c, m)).astype(float)
            sims[rng.random((c, m)) < 0.3] = -np.inf
            ids = rng.permutation(1000)[:m]
            ref = np.lexsort(
                (np.broadcast_to(ids, (c, m)), -sims), axis=-1)[:, :k]
            got = SIM._topk_desc_tiebreak(sims, ids, k)
            for r in range(c):
                rs = [(sims[r, j], ids[j]) for j in ref[r]
                      if np.isfinite(sims[r, j])]
                gs = [(sims[r, j], ids[j]) for j in got[r]
                      if np.isfinite(sims[r, j])]
                assert rs == gs

    def test_boundary_tie_uses_id(self):
        """A tie at the k-th boundary must select the LOWEST ids among
        the tied candidates (the unsafe-row fallback path)."""
        sims = np.array([[1.0, 0.5, 0.5, 0.5, 0.9]])
        ids = np.array([10, 7, 3, 5, 20])
        got = SIM._topk_desc_tiebreak(sims, ids, 3)
        assert [ids[j] for j in got[0]] == [10, 20, 3]

    def test_nan_ranks_below_finite(self):
        """A NaN sim (zero-norm vector) must not displace a finite
        neighbour from the top-k."""
        sims = np.array([[0.9, np.nan, 0.8, 0.1, np.nan]])
        ids = np.arange(5)
        got = SIM._topk_desc_tiebreak(sims, ids, 2)
        assert [sims[0, j] for j in got[0]] == [0.9, 0.8]


class TestRoundHalfUp:
    def test_matches_spark_round_semantics(self):
        x = np.array([0.5, 1.5, 2.5, -0.5, -1.5, -2.5, 0.49999999999999994,
                      2.4999999999999996, 1e15 + 0.5, -1e15 - 0.5])
        expect = np.array([1.0, 2.0, 3.0, -1.0, -2.0, -3.0, 0.0,
                           2.0, 1e15 + 1, -1e15 - 1])
        assert np.array_equal(SIM._round_half_up(x), expect)

    def test_matches_jvm_round_on_spark(self, spark):
        vals = [0.5, -0.5, 1.4999999999999998, -3.5, 12.345, 0.0015 * 1000]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        jvm = [r[0] for r in df.select(F.round("x")).collect()]
        assert list(SIM._round_half_up(np.array(vals))) == [float(v)
                                                           for v in jvm]


class TestQuantizedBinaryPack:
    def test_struct_udf_matches_jvm_quantize(self, spark):
        """The packed int32 qv must equal the JVM F.round path element
        for element, and the band values must equal the numpy reference:
        signs of the exact integer dots of the quantized vector with the
        integer planes, grouped into bands."""
        rng = np.random.default_rng(3)
        rows = [(i, [float(x) for x in rng.standard_normal(16)])
                for i in range(50)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        qb = SIM.quantized_band_struct_udf(8, 4, 1000)
        got = {r["vec_id"]: r for r in emb.select(
            "vec_id", qb(F.col("embedding")).alias("s"),
            SIM.quantized(F.col("embedding"), 1000).alias("qv_jvm"),
        ).collect()}
        # array<float> column: the UDF sees the float32 values
        M = np.array([v for _, v in rows], dtype=np.float32).astype(np.float64)
        bits = (SIM._round_half_up(M * 1000) @ SIM.lsh_planes(16, 8)) > 0
        bv_ref = bits.reshape(len(rows), 4, 2).astype(np.int64) @ [1, 2]
        for vid, r in got.items():
            unpacked = np.frombuffer(bytes(r["s"]["qv"]), dtype="<i4")
            assert list(unpacked) == list(r["qv_jvm"]), vid
            assert list(r["s"]["bv"]) == list(bv_ref[vid]), vid

    def test_int32_overflow_raises(self, spark):
        """round(3e6 * 1000) does not fit the int32 packing: the LSH
        struct UDF and IVF's list assignment (the in-range anchor is
        vector 0) must fail instead of wrapping."""
        emb = spark.createDataFrame(
            [(0, [1.0, 1.0]), (1, [3e6, 1.0])],
            "vec_id long, embedding array<double>")
        qb = SIM.quantized_band_struct_udf(8, 4, 1000)
        with pytest.raises(Exception, match="outside int32"):
            emb.select(qb(F.col("embedding")).alias("s")).collect()
        with pytest.raises(Exception, match="outside int32"):
            SIM.cosine_topk_ivf(emb, k=1, n_lists=1).collect()


class TestPipExprEquivalence:
    def test_expr_matches_numpy_kernel(self, spark):
        """The compiled JVM PIP predicate must agree with the winding
        kernel on random concave polygons with holes, including points
        landing near edges."""
        from geograypher_spark.functions import geometry as geom
        from geograypher_spark.operators.spatial_join import pip_filter_expr
        from pyspark.sql import functions as F

        rng = np.random.default_rng(7)
        wkb_map = {}
        polys_by_pid = {}
        for pid in range(3):
            # star-ish concave ring around a random center
            ang = np.sort(rng.uniform(0, 2 * np.pi, 9))
            rad = rng.uniform(1.0, 4.0, 9)
            cx, cy = rng.uniform(3, 7, 2)
            ring = np.stack([cx + rad * np.cos(ang),
                             cy + rad * np.sin(ang)], axis=1)
            hole = ring.mean(axis=0) + (ring - ring.mean(axis=0)) * 0.2
            rings = [ring, hole[::-1]]
            wkb_map[pid] = geom.polygon_to_wkb(rings)
            polys_by_pid[pid] = geom.wkb_to_rings(wkb_map[pid])
        pts = rng.uniform(-1, 11, size=(400, 2))
        rows = [(int(i % 3), float(px), float(py))
                for i, (px, py) in enumerate(pts)]
        df = spark.createDataFrame(rows, "polygon_id int, x double, y double")
        expr = pip_filter_expr(F.col("x"), F.col("y"), F.col("polygon_id"),
                               wkb_map)
        assert expr is not None
        got = {(r["polygon_id"], r["x"], r["y"])
               for r in df.filter(expr).collect()}
        expect = set()
        for pid, px, py in rows:
            if geom.points_in_multipolygon(
                    np.array([px]), np.array([py]), polys_by_pid[pid])[0]:
                expect.add((pid, px, py))
        assert got == expect and len(expect) > 10

    def test_large_polygon_sets_fall_back(self, spark):
        from geograypher_spark.functions import geometry as geom
        from geograypher_spark.operators.spatial_join import pip_filter_expr
        from pyspark.sql import functions as F

        ring = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
        wkb = geom.polygon_to_wkb([ring])
        big = {i: wkb for i in range(300)}  # 300 polys x 2 crossing edges
        assert pip_filter_expr(F.col("x"), F.col("y"),
                               F.col("polygon_id"), big) is None


def _jaccard_reference(texts: dict, n: int, df_cap: int,
                       threshold: float) -> set:
    """Pure-Python SQL_DEDUP_JACCARD: string word n-gram sets, shingles in
    more than ``df_cap`` docs dropped, exact inter/size/jaccard per pair."""
    postings = {}
    for doc_id, text in texts.items():
        words = text.split(" ")
        for i in range(len(words) - n + 1):
            postings.setdefault(" ".join(words[i:i + n]), set()).add(doc_id)
    kept = [sorted(ids) for ids in postings.values() if len(ids) <= df_cap]
    size = Counter(d for ids in kept for d in ids)
    inter = Counter(pair for ids in kept for pair in combinations(ids, 2))
    out = set()
    for (a, b), k in inter.items():
        j = k / (size[a] + size[b] - k)
        if j >= threshold:
            out.add((a, b, k, size[a], size[b], j))
    return out


class TestHashedJaccardParity:
    def test_hashed_equals_string_pipeline(self, spark):
        """The xxhash64-keyed pipeline equals the exact string-shingle
        algebra of the oracle SQL (pure-Python reference)."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
        cols = ["id_a", "id_b", "inter", "size_a", "size_b", "jaccard"]
        got = {tuple(r) for r in DD.jaccard_pairs(
            docs, threshold=0.2, df_cap=50).select(*cols).collect()}
        texts = {int(r["doc_id"]): r["text"] for r in docs.collect()}
        expect = _jaccard_reference(texts, n=3, df_cap=50, threshold=0.2)
        assert got == expect and len(got) > 0

    def test_band_hash_stays_long_in_xxhash_family(self, spark):
        """VERDICT r5 #1: no string materialization of the xxhash64 band
        key — the collision join runs on (int, long) for either
        signature family."""
        docs = spark.read.parquet(
            "/root/testdata/sf0.01/documents.parquet").select("doc_id", "text")
        columns = []
        for hash_fn in ("xxhash64", "md5"):
            sigs = DD.minhash_signatures(docs, n_hashes=8, hash_fn=hash_fn)
            pairs = DD.lsh_candidate_pairs(sigs, n_hashes=8, bands=4)
            plan = pairs._jdf.queryExecution().optimizedPlan().toString()
            assert "cast(xxhash64" not in plan.lower(), hash_fn
            columns.append(pairs.columns)
        assert columns[0] == columns[1]


class TestOracleCanon:
    def test_nan_is_its_own_value(self):
        """The oracle comparator keeps NaN apart from ±inf and equal to
        any other NaN, whatever its sign bit."""
        import math
        import sys
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
        from check_oracle import canon

        nan, neg_nan = math.nan, -math.nan
        assert canon([(1, nan)]) == canon([(1, neg_nan)])
        assert canon([(1, nan)]) != canon([(1, math.inf)])
        assert canon([(1, nan)]) != canon([(1, -math.inf)])
        assert canon([(0.0,)]) != canon([(-0.0,)])
