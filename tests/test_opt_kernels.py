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
        expr = pip_filter_expr("x", "y", "polygon_id", wkb_map)
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
        assert pip_filter_expr("x", "y", "polygon_id", big) is None

    @staticmethod
    def _assert_matches_kernel(spark, wkb_map, pts, id_type):
        """Every (polygon, point) pair: the JVM predicate keeps exactly
        the pairs the numpy winding kernel calls inside."""
        from geograypher_spark.functions import geometry as geom
        from geograypher_spark.operators.spatial_join import pip_filter_expr

        pts = [(float(x), float(y)) for x, y in pts]
        rows = [(pid, x, y) for pid in wkb_map for x, y in pts]
        df = spark.createDataFrame(
            rows, f"polygon_id {id_type}, x double, y double")
        expr = pip_filter_expr("x", "y", "polygon_id", wkb_map)
        assert expr is not None
        # compare bits, so -0.0 and 0.0 stay distinct points
        key = lambda pid, x, y: (pid, np.float64(x).tobytes(),
                                 np.float64(y).tobytes())
        got = sorted(key(*r) for r in df.filter(expr).collect())
        xs = np.array([x for x, _ in pts])
        ys = np.array([y for _, y in pts])
        expect = []
        for pid, wkb in wkb_map.items():
            inside = geom.points_in_multipolygon(
                xs, ys, geom.wkb_to_rings(wkb))
            expect += [key(pid, x, y) for (x, y), k in zip(pts, inside) if k]
        assert got == sorted(expect)
        return len(expect)

    @staticmethod
    def _boundary_points(rings, step_frac=0.5):
        """Every vertex, every edge midpoint (horizontal edges included)
        and a grid over the bbox whose lines pass through the vertices."""
        pts = []
        for r in rings:
            r = np.asarray(r, dtype=np.float64)
            pts += [tuple(v) for v in r]
            pts += [tuple(v) for v in (r[:-1] + (r[1:] - r[:-1]) * 0.5)]
        allv = np.vstack([np.asarray(r, dtype=np.float64) for r in rings])
        gx = np.unique(np.concatenate([allv[:, 0], (allv[:-1, 0] + allv[1:, 0]) * step_frac]))
        gy = np.unique(np.concatenate([allv[:, 1], (allv[:-1, 1] + allv[1:, 1]) * step_frac]))
        pts += [(x, y) for x in gx for y in gy]
        return sorted(set(pts))

    def test_literals_round_trip_exactly(self, spark):
        """Coordinates whose SQL text must parse back to the same bits:
        tiny (1e-300), subnormal (5e-324), large (1e15 + fractions),
        negative and -0.0; probes on vertices and horizontal edges."""
        from geograypher_spark.functions import geometry as geom

        notch = np.array([[0, 0], [3, 0], [3, 2], [1.5, 1], [0, 2]], dtype=float)
        tiny = 5e-324
        cases = {
            1: notch * 1e-300,
            2: np.array([[0, 0], [4, 0], [4, 4], [2, 1], [0, 4]]) * tiny,
            3: notch * 0.375 + [1e15, -1e15],
            4: -notch * 7.1 - [3.3, 1.1],
            5: np.array([[-0.0, -0.0], [1.0, -0.0], [1.0, 1.0], [-0.0, 1.0]]),
        }
        wkb_map = {pid: geom.polygon_to_wkb([r]) for pid, r in cases.items()}
        pts = []
        for r in cases.values():
            pts += self._boundary_points([r])
        pts += [(0.0, 0.0), (-0.0, -0.0), (0.0, -0.0), (-0.0, 0.5),
                (0.5, -0.0), (tiny, tiny), (-tiny, tiny)]
        assert self._assert_matches_kernel(spark, wkb_map, pts, "int") > 20

    def test_long_ring_and_string_ids(self, spark):
        """One 80-edge concave ring (past the parser's nesting limit if
        partial sums were parenthesised), a holed polygon and a
        multipolygon, keyed by string ids that need escaping."""
        from geograypher_spark.functions import geometry as geom

        ang = np.linspace(0, 2 * np.pi, 80, endpoint=False)
        rad = np.where(np.arange(80) % 2 == 0, 5.0, 3.2)
        star = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
        square = np.array([[-2, -2], [2, -2], [2, 2], [-2, 2]], dtype=float)
        hole = np.array([[-1, -1], [-1, 1], [1, 1], [1, -1]], dtype=float)
        wkb_map = {
            "star": geom.polygon_to_wkb([star]),
            "it's": geom.polygon_to_wkb([square, hole]),
            "back\\slash": geom.multipolygon_to_wkb(
                [[square + 6], [hole * 0.5 - 6], [square * 0.5 + [0, 6]]]),
        }
        rng = np.random.default_rng(11)
        pts = [tuple(p) for p in rng.uniform(-8, 8, size=(300, 2))]
        pts += self._boundary_points([square, hole])
        pts += [tuple(v) for v in star]
        assert self._assert_matches_kernel(spark, wkb_map, pts, "string") > 50

    def test_510_edge_ring(self, spark, tmp_path):
        """One 510-edge concave ring (just under the 512-edge inlining
        budget) over 3,000 points read from Parquet, so the filter runs in
        executor tasks: the predicate keeps exactly the points
        geom.points_in_wkb calls inside. Its crossing terms are summed in
        two levels; a flat 510-deep Add chain overflowed the executor's
        stack once whole-stage codegen fell back, which in local mode
        stops the SparkContext."""
        from geograypher_spark.functions import geometry as geom
        from geograypher_spark.operators.spatial_join import (
            _pip_ring_sql, pip_filter_expr)

        n = 510
        ang = np.linspace(0, 2 * np.pi, n, endpoint=False) + 0.001
        rad = np.where(np.arange(n) % 2 == 0, 5.0, 3.5)
        ring = np.stack([rad * np.cos(ang), rad * np.sin(ang)], axis=1)
        assert _pip_ring_sql("x", "y", np.vstack([ring, ring[:1]]))[1] == n
        wkb = geom.polygon_to_wkb([ring])
        pts = np.random.default_rng(5).uniform(-5.5, 5.5, size=(3000, 2))
        spark.createDataFrame(
            [(float(x), float(y)) for x, y in pts], "x double, y double"
        ).write.parquet(str(tmp_path / "pts"))
        df = spark.read.parquet(str(tmp_path / "pts")).withColumn(
            "polygon_id", F.lit(0))
        expr = pip_filter_expr("x", "y", "polygon_id", {0: wkb})
        assert expr is not None
        got = sorted((r["x"], r["y"]) for r in df.filter(expr).collect())
        inside = geom.points_in_wkb(pts[:, 0], pts[:, 1], wkb)
        expect = sorted((float(x), float(y)) for x, y in pts[inside])
        assert got == expect and len(expect) > 1000

    def test_one_round_trip_per_predicate(self, spark, monkeypatch):
        """The reverse fixture's 26-polygon predicate is sent to the JVM
        as one parsed expression, not one py4j call per operator."""
        from py4j.clientserver import ClientServerConnection

        from geograypher_spark.operators.spatial_join import pip_filter_expr
        from geograypher_spark.sources.analytic import reverse_fixture_spark

        polys = reverse_fixture_spark(spark)[3].toPandas()
        wkb_map = {int(p): bytes(w) for p, w in
                   zip(polys["polygon_id"], polys["geometry_wkb"])}
        assert len(wkb_map) == 26
        calls = []
        send = ClientServerConnection.send_command

        def counting_send(self, command):
            calls.append(command)
            return send(self, command)

        monkeypatch.setattr(ClientServerConnection, "send_command",
                            counting_send)
        expr = pip_filter_expr("x", "y", "polygon_id", wkb_map)
        monkeypatch.undo()
        assert expr is not None
        assert len(calls) <= 5, len(calls)


def _jaccard_reference(texts: dict, n: int, df_cap: int,
                       threshold: float) -> set:
    """Pure-Python SQL_DEDUP_JACCARD: string word n-gram sets, shingles in
    more than ``df_cap`` docs dropped, exact inter/size/jaccard per pair."""
    postings = {}
    for doc_id, text in texts.items():
        words = text.split(" ")
        for i in range(len(words) - n + 1):
            postings.setdefault(" ".join(words[i:i + n]), set()).add(doc_id)
    # a NULL doc_id counts toward a shingle's document frequency but joins
    # nothing, so it never gets a size or a pair
    kept = [sorted(d for d in ids if d is not None)
            for ids in postings.values() if len(ids) <= df_cap]
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

    @pytest.mark.parametrize("df_cap", [3, None])
    def test_diagonal_edge_inputs(self, spark, df_cap):
        """Doc sizes come from the self-join's diagonal, so each input
        shape without an ordinary diagonal row must still match the
        reference: an empty text, a doc shorter than n words, a NULL
        doc_id, two identical docs, and (under df_cap) doc 5, whose only
        shingle is capped away, so it has no diagonal row and no pair."""
        texts = {1: "a b c d e", 2: "a b c d e", 3: "x y", 4: "",
                 5: "a b c", 6: "b c d e g", None: "a b c d f"}
        docs = spark.createDataFrame(list(texts.items()),
                                     "doc_id long, text string")
        cols = ["id_a", "id_b", "inter", "size_a", "size_b", "jaccard"]
        got = {tuple(r) for r in DD.jaccard_pairs(
            docs, threshold=0.0, df_cap=df_cap).select(*cols).collect()}
        expect = _jaccard_reference(texts, n=3, df_cap=df_cap or len(texts),
                                    threshold=0.0)
        assert got == expect
        jaccard = {r[:2]: r[5] for r in got}
        assert jaccard[(1, 2)] == 1.0
        assert any(5 in pair for pair in jaccard) == (df_cap is None)

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
