"""Training-data-pipeline ops: dedup tiers, ANN, text stats, multimodal
plumbing, checkpoint resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geograypher_spark.operators import dedup as DD
from geograypher_spark.operators import multimodal as MM
from geograypher_spark.operators import similarity as SIM
from geograypher_spark.operators import textstats as TS
from geograypher_spark.plans.checkpoints import CheckpointManager, content_key


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),     # exact dup of d1
        ("d3", "the quick brown fox leaps over the lazy dog"),     # near dup
        ("d4", "completely different text about spark engines"),
        ("d5", "el gato la casa de la madre y el perro"),
        ("d6", "completely different text about spark engines"),   # exact dup of d4
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


class TestDedup:
    def test_exact(self, spark, docs):
        got = DD.exact_duplicates(docs).collect()
        groups = {r["canonical_id"]: r["n_copies"] for r in got}
        assert groups["d1"] == 2
        assert groups["d4"] == 2
        assert groups["d3"] == 1 and groups["d5"] == 1
        assert len(got) == 4

    def test_shingles(self, spark, docs):
        sh = DD.word_shingles(docs, n=3).filter(F.col("doc_id") == "d1").collect()
        text = "the quick brown fox jumps over the lazy dog".split()
        expect = {" ".join(text[i:i + 3]) for i in range(len(text) - 2)}
        assert {r["shingle"] for r in sh} == expect

    def test_jaccard(self, spark, docs):
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in DD.jaccard_pairs(docs, threshold=0.3).collect()}
        assert got[("d1", "d2")] == 1.0
        assert got[("d4", "d6")] == 1.0
        assert ("d1", "d3") in got and got[("d1", "d3")] < 1.0
        # brute-force jaccard check for d1-d3
        t1 = "the quick brown fox jumps over the lazy dog".split()
        t3 = "the quick brown fox leaps over the lazy dog".split()
        s1 = {" ".join(t1[i:i + 3]) for i in range(len(t1) - 2)}
        s3 = {" ".join(t3[i:i + 3]) for i in range(len(t3) - 2)}
        assert got[("d1", "d3")] == pytest.approx(len(s1 & s3) / len(s1 | s3))

    def test_minhash_lsh_finds_dups(self, spark, docs):
        got = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in DD.minhash_dedup(docs, threshold=0.3).collect()}
        assert got[("d1", "d2")] == 1.0            # exact dups always collide
        assert got[("d4", "d6")] == 1.0
        # verified jaccard matches the exact computation (no FP survives)
        exact = {(r["id_a"], r["id_b"]): r["jaccard"]
                 for r in DD.jaccard_pairs(docs, threshold=0.0).collect()}
        for pair, j in got.items():
            assert j == pytest.approx(exact[pair])

    def test_minhash_xxhash_family_and_cacheless(self, spark, docs):
        """The xxhash64 scale family must find the same dup structure and
        report IDENTICAL jaccard values (jaccard is computed from shingle
        SETS, which hashing preserves up to 64-bit collisions)."""
        md5 = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in DD.minhash_dedup(docs, threshold=0.3).collect()}
        xx = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in DD.minhash_dedup(
                  docs, threshold=0.3, hash_fn="xxhash64").collect()}
        assert xx[("d1", "d2")] == 1.0
        assert xx[("d4", "d6")] == 1.0
        for pair in set(xx) & set(md5):
            assert xx[pair] == pytest.approx(md5[pair])
        with pytest.raises(ValueError):
            DD.minhash_dedup(docs, hash_fn="sha1").collect()

    def test_minhash_dedup_persists_nothing(self, spark, docs):
        """minhash_dedup and jaccard_pairs (with and without df_cap) are
        persist-free plans: building one runs no Spark job, and running
        it leaves Spark's cache manager empty."""
        sc = spark.sparkContext
        cache = spark._jsparkSession.sharedState().cacheManager()
        builds = {
            "minhash_dedup": lambda: DD.minhash_dedup(docs),
            "jaccard_pairs": lambda: DD.jaccard_pairs(docs),
            "jaccard_pairs_df_cap": lambda: DD.jaccard_pairs(docs, df_cap=2),
        }
        spark.catalog.clearCache()
        for name, build in builds.items():
            group = f"persists_nothing_{name}"
            sc.setJobGroup(group, group)
            try:
                out = build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0, name
            out.collect()
            assert cache.isEmpty(), name

    def test_lsh_bands_must_divide_hashes(self, spark, docs):
        """bands > n_hashes (0 rows per band: every pair a candidate) and
        a remainder (the last signature column silently dropped) both
        raise instead of returning a wrong candidate set."""
        sigs = DD.minhash_signatures(docs, n_hashes=4)
        for bands in (8, 3, 0):
            with pytest.raises(ValueError, match="bands"):
                DD.lsh_candidate_pairs(sigs, n_hashes=4, bands=bands)

    def test_shingle_hashes_match_string_shingles(self, spark, docs):
        """word_shingle_hashes must be a bijective image of word_shingles:
        per-doc distinct counts equal, and equal strings hash equal
        (intersection sizes preserved) — checked doc-by-doc."""
        s = DD.word_shingles(docs, n=3).groupBy("doc_id").count()
        h = DD.word_shingle_hashes(docs, n=3).groupBy("doc_id").count()
        sc = {r["doc_id"]: r["count"] for r in s.collect()}
        hc = {r["doc_id"]: r["count"] for r in h.collect()}
        assert sc == hc
        # cross-doc intersection sizes preserved — expectation derived
        # from the string shingles (d3 swaps one word of d1, killing the
        # 3 shingles that contain it: 7 ∩ 7 → 4)
        t1 = "the quick brown fox jumps over the lazy dog".split()
        t3 = "the quick brown fox leaps over the lazy dog".split()
        s1 = {" ".join(t1[i:i + 3]) for i in range(len(t1) - 2)}
        s3 = {" ".join(t3[i:i + 3]) for i in range(len(t3) - 2)}
        hh = DD.word_shingle_hashes(docs, n=3)
        inter = (hh.filter(F.col("doc_id") == "d1")
                 .select("shingle")
                 .intersect(hh.filter(F.col("doc_id") == "d3")
                            .select("shingle")).count())
        assert inter == len(s1 & s3) == 4


    def test_jaccard_df_cap_bounds_hot_shingle(self, spark):
        """One stop-shingle in every doc must not force O(N²) pairs: with
        df_cap the hot shingle is dropped, pairs sharing only it vanish,
        and surviving pairs report the jaccard of the capped sets."""
        hot = "aa bb cc"  # 3-gram present in all docs
        rows = [(f"d{i}", f"aa bb cc u{i} v{i} w{i} x{i}") for i in range(12)]
        rows += [("p1", "aa bb cc same tail here okay"),
                 ("p2", "aa bb cc same tail here okay")]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        capped = DD.jaccard_pairs(docs, threshold=0.2, df_cap=5).collect()
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped}
        # the only real near-dup pair survives, at jaccard 1.0 over the
        # capped sets (every shared shingle that remains is shared)
        assert got[("p1", "p2")] == 1.0
        # d_i pairs shared ONLY hot-prefix shingles → gone
        assert not any(k for k in got if k[0].startswith("d"))
        # uncapped finds strictly more pairs (recall trade documented)
        uncapped = DD.jaccard_pairs(docs, threshold=0.01).count()
        assert uncapped > len(got)

    def test_simhash_defaults_keep_pigeonhole_guarantee(self, spark):
        """hamming-8 pair whose differing bits straddle all four 16-bit
        blocks — the old default (n_blocks=4) silently missed it."""
        base = 0x0123456789ABCDEF
        # one flipped bit inside each 16-bit quarter, 8 total
        diff = (1 << 1) | (1 << 9) | (1 << 17) | (1 << 25) | (1 << 33) \
            | (1 << 41) | (1 << 49) | (1 << 57)
        sims = spark.createDataFrame(
            [("a", base), ("b", base ^ diff), ("c", ~base & (2**63 - 1))],
            "doc_id string, simhash long")
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in DD.simhash_near_pairs(sims, max_hamming=8).collect()}
        assert pairs == {("a", "b"): 8}

    def test_simhash_rejects_lossy_blocking(self, spark, docs):
        sims = DD.simhash(docs, n=2)
        with pytest.raises(ValueError):
            DD.simhash_near_pairs(sims, max_hamming=8, n_blocks=4)

    def test_simhash_near_pairs(self, spark, docs):
        sims = DD.simhash(docs, n=2)
        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in DD.simhash_near_pairs(sims, max_hamming=3).collect()}
        assert pairs[("d1", "d2")] == 0
        assert pairs[("d4", "d6")] == 0
        # d3 is a near dup of d1/d2 → hamming(d1,d3) < hamming(d1,d4),
        # measured directly on the signatures (the bucketed join only
        # guarantees candidates for hamming < n_blocks — pigeonhole)
        sh = {r["doc_id"]: r["simhash"] for r in sims.collect()}
        ham = lambda a, b: bin((sh[a] ^ sh[b]) & (2**64 - 1)).count("1")
        assert ham("d1", "d3") < ham("d1", "d4")


class TestSimilarity:
    def test_bruteforce_matches_numpy(self, spark):
        rng = np.random.default_rng(9)
        V = rng.normal(size=(40, 16)).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(40, dtype=np.int64),
                            "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        got = SIM.cosine_topk_bruteforce(df, k=3).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["vec_id"], []).append((r["rank"], r["neighbor_id"]))
        Q = np.round(V.astype(np.float64) * 1000)
        S = (Q @ Q.T) / np.sqrt(np.outer((Q * Q).sum(1), (Q * Q).sum(1)))
        np.fill_diagonal(S, -2)
        for q in range(40):
            order = np.lexsort((np.arange(40), -S[q]))[:3]
            got_order = [n for _, n in sorted(by_q[q])]
            assert got_order == order.tolist(), f"query {q}"

    def test_lsh_sims_exact_and_pairs_unique(self, spark):
        """The per-bucket matmul must reproduce the brute-force quantized
        cosine BIT-EXACTLY, and first-match band attribution must emit
        each (query, neighbor) pair at most once (a duplicated pair would
        consume two top-k slots)."""
        rng = np.random.default_rng(11)
        V = rng.normal(size=(80, 16)).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(80, dtype=np.int64),
                            "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        got = SIM.cosine_topk_lsh(df, k=4, n_planes=12, bands=4).collect()
        pairs = [(r["vec_id"], r["neighbor_id"]) for r in got]
        assert len(pairs) == len(set(pairs))
        Q = np.round(V.astype(np.float64) * 1000)
        n2 = (Q * Q).sum(axis=1)
        for r in got:
            q, n = r["vec_id"], r["neighbor_id"]
            expect = (Q[q] @ Q[n]) / np.sqrt(n2[q] * n2[n])
            assert r["sim"] == expect  # exact, not approx

    def test_lsh_autosizing_scales_bits_with_n(self, spark):
        """Band width grows with log2(N) so expected bucket size stays
        ~target_bucket — candidates linear in N, not quadratic."""
        rng = np.random.default_rng(12)
        V = rng.normal(size=(256, 8)).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(256, dtype=np.int64),
                            "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        # auto path runs end-to-end and returns k rows per query
        out = SIM.cosine_topk_lsh(df, k=2, target_bucket=16)
        counts = out.groupBy("vec_id").count().collect()
        assert all(r["count"] <= 2 for r in counts)
        # the sizing rule itself: 4x the vectors → +2 bits per band
        import math
        bits = lambda n, t: max(1, math.ceil(math.log2(max(n, 2) / t)))
        assert bits(256, 16) == 4 and bits(1024, 16) == 6

    def test_lsh_recall_reasonable(self, spark):
        rng = np.random.default_rng(10)
        # clustered vectors → high recall within clusters
        centers = rng.normal(size=(5, 16)) * 3
        V = np.vstack([c + rng.normal(size=(8, 16)) * 0.1 for c in centers]).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(40, dtype=np.int64), "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        exact = {(r["vec_id"], r["neighbor_id"])
                 for r in SIM.cosine_topk_bruteforce(df, k=1).collect()}
        approx = {(r["vec_id"], r["neighbor_id"])
                  for r in SIM.cosine_topk_lsh(df, k=1, n_planes=12, bands=4).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9


class TestTextStats:
    def test_token_counts(self, spark, docs):
        got = docs.select(
            "doc_id", TS.token_count_col(F.col("text")).alias("n"),
            TS.bpe_estimate_col(F.col("text")).alias("bpe")).collect()
        m = {r["doc_id"]: (r["n"], r["bpe"]) for r in got}
        assert m["d1"][0] == 9
        assert m["d1"][1] == int(np.ceil(len("the quick brown fox jumps over the lazy dog") / 4))

    def test_quality_features(self, spark, docs):
        got = {r["doc_id"]: r for r in TS.quality_features(docs).collect()}
        r = got["d1"]
        assert r["n_tokens"] == 9
        assert r["stopword_ratio"] == pytest.approx(2 / 9)  # 'the' twice
        assert r["punct_ratio"] == 0.0
        assert r["distinct_ratio"] == pytest.approx(8 / 9)

    def test_language_id(self, spark, docs):
        got = {r["doc_id"]: r["pred_lang"] for r in TS.language_id(docs).collect()}
        assert got["d1"] == "en"
        assert got["d5"] == "es"
        assert got["d4"] == "und" or got["d4"] == "en"  # no/weak markers

    def test_fingerprint_equal_for_exact_dups(self, spark, docs):
        got = {r["doc_id"]: r["fingerprint"] for r in TS.fingerprint(docs).collect()}
        assert got["d1"] == got["d2"]
        assert got["d4"] == got["d6"]
        assert got["d1"] != got["d4"]


class TestMultimodal:
    def _media(self, spark):
        rows = [("m1", "image", b"payload-1", {}), ("m2", "image", b"payload-2", {}),
                ("v1", "video", b"vid-1", {})]
        return spark.createDataFrame(rows, MM.MEDIA_SCHEMA)

    def test_decode_stub_raises_without_fake(self):
        with pytest.raises(NotImplementedError):
            MM.decode_image(b"x", fake=False)

    def test_image_features_deterministic(self, spark):
        m = self._media(spark)
        a = {r["media_ref"]: r for r in MM.image_features(m).collect()}
        b = {r["media_ref"]: r for r in MM.image_features(m).collect()}
        assert set(a) == {"m1", "m2"}
        for k in a:
            assert a[k]["mean_r"] == b[k]["mean_r"]
            assert list(a[k]["feature"]) == list(b[k]["feature"])
            assert len(a[k]["feature"]) == 4 * 4 * 3

    def test_video_frame_sampling(self, spark):
        m = self._media(spark)
        frames = MM.sample_video_frames(m, every_nth=10, n_frames=30, h=8, w=8).collect()
        assert [r["frame_idx"] for r in sorted(frames, key=lambda r: r["frame_idx"])] == [0, 10, 20]
        assert all(len(bytes(r["frame"])) == 8 * 8 * 3 for r in frames)


class TestCheckpoints:
    def test_resume_skips_completed_stage(self, spark, tmp_path):
        mgr = CheckpointManager(spark, str(tmp_path))
        calls = {"n": 0}

        def build():
            calls["n"] += 1
            return spark.range(100).withColumn("v", F.col("id") * 2)

        df1, key1 = mgr.run("double", {"mult": 2}, [], build)
        assert calls["n"] == 1 and df1.count() == 100
        df2, key2 = mgr.run("double", {"mult": 2}, [], build)
        assert calls["n"] == 1  # skipped
        assert key1 == key2
        # changed params → new key, rebuild
        df3, key3 = mgr.run("double", {"mult": 3}, [], build)
        assert calls["n"] == 2 and key3 != key1
        lineage = mgr.lineage()
        assert len(lineage) == 3
        assert lineage[1]["skipped"] is True
        assert sum(lineage[0]["partition_rows"].values()) == 100

    def test_key_depends_on_inputs(self):
        k1 = content_key("s", {"a": 1}, ["x"])
        k2 = content_key("s", {"a": 1}, ["y"])
        k3 = content_key("s", {"a": 2}, ["x"])
        assert len({k1, k2, k3}) == 3


class TestTableFormat:
    def test_parquet_roundtrip_and_exists(self, spark, tmp_path):
        from geograypher_spark.sources.table_format import ParquetFormat

        fmt = ParquetFormat()
        p = str(tmp_path / "t1")
        assert not fmt.exists(spark, p)
        fmt.write(spark.range(10), p)
        assert fmt.exists(spark, p)
        assert fmt.read(spark, p).count() == 10

    def test_iceberg_gated_with_clear_error(self, spark):
        """No Iceberg runtime in this container: available() must be False
        and any use must fail fast with the setup instructions, not
        mid-plan with a ClassNotFoundException."""
        from geograypher_spark.sources.table_format import IcebergFormat

        fmt = IcebergFormat()
        assert not IcebergFormat.available(spark)
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            fmt.read(spark, "db.docs")

    def test_checkpoint_manager_takes_format(self, spark, tmp_path):
        from geograypher_spark.plans.checkpoints import CheckpointManager
        from geograypher_spark.sources.table_format import ParquetFormat

        mgr = CheckpointManager(spark, str(tmp_path), fmt=ParquetFormat())
        df, key = mgr.run("s", {}, [], lambda: spark.range(5))
        assert df.count() == 5


class TestExif:
    def test_jpeg_gps_roundtrip(self):
        from geograypher_spark.functions.exif import build_exif_jpeg, parse_jpeg_gps

        jpg = build_exif_jpeg(44.6387, -123.2791, alt=87.5)
        gps = parse_jpeg_gps(jpg)
        assert gps["lat"] == pytest.approx(44.6387, abs=1e-6)
        assert gps["lon"] == pytest.approx(-123.2791, abs=1e-6)
        assert gps["alt"] == pytest.approx(87.5, abs=1e-3)
        # southern/western hemisphere signs
        gps2 = parse_jpeg_gps(build_exif_jpeg(-33.87, 151.21))
        assert gps2["lat"] == pytest.approx(-33.87, abs=1e-6)
        assert gps2["lon"] == pytest.approx(151.21, abs=1e-6)

    def test_non_jpeg_and_gps_free_return_none(self):
        from geograypher_spark.functions.exif import parse_jpeg_gps

        assert parse_jpeg_gps(b"plainbytes") is None
        assert parse_jpeg_gps(b"\xff\xd8\xff\xd9") is None

    def test_malformed_exif_never_raises(self):
        """Truncated/corrupt EXIF blocks must return None, not crash the
        executor (ADVICE r2: one bad payload failed the whole job)."""
        from geograypher_spark.functions.exif import build_exif_jpeg, parse_jpeg_gps

        good = build_exif_jpeg(44.0, -123.0, alt=10.0)
        # every truncation of a valid GPS JPEG parses to a dict or None
        for cut in range(len(good)):
            parse_jpeg_gps(good[:cut])  # must not raise
        # bit-flip every byte of the TIFF block region
        for i in range(12, len(good) - 2):
            bad = bytearray(good)
            bad[i] ^= 0xFF
            parse_jpeg_gps(bytes(bad))  # must not raise
        assert parse_jpeg_gps(b"") is None
        assert parse_jpeg_gps(b"\xff") is None

    def test_jpeg_fill_bytes_tolerated(self):
        """0xFF pad bytes before a marker are legal; the walker must skip
        them instead of desyncing (ADVICE r2)."""
        import struct

        from geograypher_spark.functions.exif import build_exif_jpeg, parse_jpeg_gps

        good = build_exif_jpeg(12.5, 99.25)
        # inject a harmless padded COM segment before the APP1: fill bytes
        # then 0xFF 0xFE <len> payload
        com = b"\xff\xff\xff" + b"\xff\xfe" + struct.pack(">H", 6) + b"padd"
        padded = good[:2] + com + good[2:]
        gps = parse_jpeg_gps(padded)
        assert gps is not None
        assert gps["lat"] == pytest.approx(12.5, abs=1e-6)
        assert gps["lon"] == pytest.approx(99.25, abs=1e-6)

    def test_exif_lonlat_operator_parses_payload(self, spark):
        from geograypher_spark.functions.exif import build_exif_jpeg

        rows = [
            # GPS only in the payload bytes
            ("a.jpg", "image", build_exif_jpeg(45.5, -122.6), {}),
            # GPS pre-surfaced in meta (wins, payload not even a JPEG)
            ("b.jpg", "image", b"notajpeg", {"exif_lon": "-120.5", "exif_lat": "40.25"}),
            # neither → dropped
            ("c.jpg", "image", b"notajpeg", {}),
        ]
        media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
        got = {r["media_ref"]: (r["lon"], r["lat"])
               for r in MM.exif_lonlat(media).collect()}
        assert set(got) == {"a.jpg", "b.jpg"}
        assert got["a.jpg"][0] == pytest.approx(-122.6, abs=1e-6)
        assert got["a.jpg"][1] == pytest.approx(45.5, abs=1e-6)
        assert got["b.jpg"] == (-120.5, 40.25)


class TestEmbeddingNearDup:
    def test_finds_planted_neardups_exactly_once(self, spark):
        """Planted near-copies must surface as pairs exactly once (first-
        matching-band dedup), with sims matching the exact quantized
        cosine; far pairs must not appear."""
        import pandas as pd

        from geograypher_spark.operators.similarity import (
            embedding_near_duplicates)

        rng = np.random.default_rng(21)
        base = rng.normal(size=(60, 32))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        near = base[:20] + 0.02  # high-cosine copies of the first 20
        V = np.vstack([base, near])
        pdf = pd.DataFrame({
            "vec_id": np.arange(len(V), dtype=np.int64),
            "embedding": list(V.astype(np.float64))})
        got = embedding_near_duplicates(
            spark.createDataFrame(pdf), threshold=0.98,
            n_planes=16, bands=8).collect()
        pairs = {(r["id_a"], r["id_b"]) for r in got}
        assert len(pairs) == len(got), "pair emitted more than once"
        # every planted pair that shares >=1 LSH band must be found;
        # with 8 bands of 2 bits recall on 0.999-cosine pairs is ~certain
        expected = {(i, 60 + i) for i in range(20)}
        assert expected <= pairs
        # no spurious far pairs: everything found really is >= threshold
        Q = np.round(V * 1000.0)
        for a, b in pairs:
            sim = (Q[a] @ Q[b]) / np.sqrt((Q[a] @ Q[a]) * (Q[b] @ Q[b]))
            assert sim >= 0.98


class TestIvf:
    def test_ivf_recall_on_clusters(self, spark):
        rng = np.random.default_rng(13)
        centers = rng.normal(size=(5, 16)) * 3
        V = np.vstack([c + rng.normal(size=(10, 16)) * 0.1
                       for c in centers]).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(50, dtype=np.int64),
                            "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        exact = {(r["vec_id"], r["neighbor_id"])
                 for r in SIM.cosine_topk_bruteforce(df, k=1).collect()}
        approx = {(r["vec_id"], r["neighbor_id"])
                  for r in SIM.cosine_topk_ivf(
                      df, k=1, n_lists=8, n_probe=3).collect()}
        assert len(exact & approx) / len(exact) >= 0.9

    def test_ivf_pairs_unique_and_sims_exact(self, spark):
        rng = np.random.default_rng(14)
        V = rng.normal(size=(60, 8)).astype(np.float32)
        pdf = pd.DataFrame({"vec_id": np.arange(60, dtype=np.int64),
                            "embedding": list(V)})
        df = spark.createDataFrame(pdf)
        got = SIM.cosine_topk_ivf(df, k=3, n_lists=6, n_probe=2).collect()
        pairs = [(r["vec_id"], r["neighbor_id"]) for r in got]
        assert len(pairs) == len(set(pairs))
        Q = np.round(V.astype(np.float64) * 1000)
        n2 = (Q * Q).sum(axis=1)
        for r in got:
            expect = (Q[r["vec_id"]] @ Q[r["neighbor_id"]]) / np.sqrt(
                n2[r["vec_id"]] * n2[r["neighbor_id"]])
            assert r["sim"] == expect

    @staticmethod
    def _sql_ivf_twin(V, k, n_lists, n_probe):
        """numpy twin of the ``ann_ivf`` oracle SQL with ids = row index:
        HALF_UP quantization everywhere, the n_lists lowest ids as anchors,
        lists ordered by (dist2, list_idx), exact cosine re-rank over the
        probed lists with (sim DESC, id ASC) ties."""
        Q = SIM._round_half_up(V.astype(np.float64) * 1000)
        C = Q[:n_lists]
        lists = np.argsort((C * C).sum(axis=1) - 2 * Q @ C.T, axis=1,
                           kind="stable")
        own, probes = lists[:, 0], lists[:, :n_probe]
        out = set()
        for q in range(len(Q)):
            cands = [j for j in range(len(Q))
                     if j != q and own[j] in probes[q]]
            sim = {j: (Q[q] @ Q[j]) / np.sqrt((Q[q] @ Q[q]) * (Q[j] @ Q[j]))
                   for j in cands}
            ranked = sorted(cands, key=lambda j: (-sim[j], j))[:k]
            out |= {(q, j, r + 1) for r, j in enumerate(ranked)}
        return out

    def test_ivf_anchors_round_half_up(self, spark):
        """Exact .5 ties after *1000: the anchors must round HALF_UP like
        the vectors and the oracle (a half-to-even anchor moves vector 3
        into the wrong list)."""
        V = np.array([[-0.8125, -0.75], [0.9375, 0.25], [0.875, -0.5],
                      [0.0625, -0.25], [0.4375, -0.6875], [0.5625, 0.5625]],
                     dtype=np.float32)
        df = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(len(V), dtype=np.int64),
            "embedding": list(V)}))
        got = {(r["vec_id"], r["neighbor_id"], r["rank"])
               for r in SIM.cosine_topk_ivf(
                   df, k=2, n_lists=2, n_probe=1).collect()}
        assert got == self._sql_ivf_twin(V, k=2, n_lists=2, n_probe=1)

    def test_malformed_jpeg_segment_does_not_hang(self):
        from geograypher_spark.functions.exif import parse_jpeg_gps

        # APP1 marker with an invalid (0) segment length must bail, not loop
        assert parse_jpeg_gps(b"\xff\xd8\xff\xe1\x00\x00rest") is None
        assert parse_jpeg_gps(b"\xff\xd8\xff") is None


class TestEdgeCases:
    """Degenerate inputs must return empty typed results, not crash."""

    def _emb(self, spark, n):
        if n == 0:
            return spark.createDataFrame([], "vec_id long, embedding array<float>")
        return spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [np.ones(8, dtype=np.float32) * (k + 1) for k in range(n)]}))

    def test_similarity_empty_and_singleton(self, spark):
        for n in (0, 1):
            assert SIM.cosine_topk_lsh(self._emb(spark, n), k=2).count() == 0
            assert SIM.cosine_topk_ivf(self._emb(spark, n), k=2).count() == 0

    def test_ivf_fewer_vectors_than_lists(self, spark):
        out = SIM.cosine_topk_ivf(self._emb(spark, 3), k=2,
                                  n_lists=16, n_probe=4)
        assert out.count() == 6  # every pair found

    def test_dedup_empty(self, spark):
        empty = spark.createDataFrame([], "doc_id string, text string")
        assert DD.jaccard_pairs(empty).count() == 0
        assert DD.simhash(empty).count() == 0


class TestSimhashFirstMatchAttribution:
    def _brute_pairs(self, sh: dict, max_hamming: int):
        ids = sorted(sh)
        return {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
                if bin(sh[a] ^ sh[b]).count("1") <= max_hamming}

    def test_each_pair_emitted_exactly_once(self, spark):
        """First-match attribution replaces dropDuplicates: the multiset
        of emitted pairs must already be a set, equal to the brute-force
        hamming pairs."""
        import pandas as pd
        rng = __import__("numpy").random.default_rng(3)
        sh = {}
        base = int(rng.integers(0, 2**63))
        for i in range(40):
            v = base
            for b in rng.choice(64, size=int(rng.integers(0, 12)),
                                replace=False):
                v ^= 1 << int(b)
            sh[f"d{i:02d}"] = v - (1 << 64 if v >= 1 << 63 else 0)
        sims = spark.createDataFrame(
            pd.DataFrame({"doc_id": list(sh), "simhash": pd.Series(
                list(sh.values()), dtype="int64")}))
        rows = DD.simhash_near_pairs(sims, max_hamming=6).collect()
        got = [(r["id_a"], r["id_b"]) for r in rows]
        assert len(got) == len(set(got)), "pair emitted more than once"
        assert set(got) == self._brute_pairs(
            {k: v & (2**64 - 1) for k, v in sh.items()}, 6)

    def test_no_dedup_exchange_in_plan(self, spark):
        import pandas as pd
        sims = spark.createDataFrame(pd.DataFrame({
            "doc_id": ["a", "b"],
            "simhash": pd.Series([3, 7], dtype="int64")}))
        plan = (DD.simhash_near_pairs(sims, max_hamming=8)
                ._jdf.queryExecution().executedPlan().toString())
        # the old dropDuplicates compiled to an extra HashAggregate over
        # (id_a, id_b); first-match attribution needs none
        assert "HashAggregate" not in plan
        assert "dropDuplicates" not in plan

    def test_block_cap_bounds_identical_hash_blowup(self, spark):
        """~1000 identical simhashes (exact dups that skipped tier 1):
        uncapped this is 500k candidate pairs through one bucket; with a
        cap the tier stays bounded and still finds pairs among the
        uncapped remainder."""
        import pandas as pd
        n_hot = 1000
        hot = pd.DataFrame({
            "doc_id": [f"h{i:04d}" for i in range(n_hot)],
            "simhash": pd.Series([12345] * n_hot, dtype="int64")})
        cold = pd.DataFrame({
            "doc_id": ["x1", "x2"],
            "simhash": pd.Series([99991, 99991 ^ 3], dtype="int64")})
        sims = spark.createDataFrame(pd.concat([hot, cold]))
        out = DD.simhash_near_pairs(sims, max_hamming=8, block_cap=50)
        rows = out.collect()
        pairs = {(r["id_a"], r["id_b"]) for r in rows}
        # hot block dropped everywhere -> no h-h pairs; cold pair kept
        assert ("x1", "x2") in pairs
        assert not any(a.startswith("h") and b.startswith("h")
                       for a, b in pairs)

    def test_block_cap_alive_mask_keeps_partial_matches(self, spark):
        """A pair whose FIRST matching block is capped but that also
        matches a later, uncapped block must still be found (the alive
        mask makes attribution skip capped blocks)."""
        import pandas as pd
        # 9 blocks over 64 bits (max_hamming=8): block 0 = bits 0..6.
        # Hot group: 60 docs agreeing ONLY on block 0 (bits 0-6 equal,
        # higher bits random) -> block 0 bucket is hot. Target pair: two
        # docs sharing block 0 AND block 8; their first match (block 0)
        # is capped, the block-8 match survives.
        rng = __import__("numpy").random.default_rng(5)
        docs = {}
        for i in range(60):
            v = (int(rng.integers(0, 2**56)) << 7) | 0x55
            docs[f"h{i:02d}"] = v
        ta = (0x3A << 57) | (int(rng.integers(0, 2**50)) << 7) | 0x55
        tb = (0x3A << 57) | (int(rng.integers(0, 2**50)) << 7) | 0x55
        docs["ta"], docs["tb"] = ta, tb
        to_i64 = lambda v: v - (1 << 64 if v >= 1 << 63 else 0)
        sims = spark.createDataFrame(pd.DataFrame({
            "doc_id": list(docs),
            "simhash": pd.Series([to_i64(v) for v in docs.values()],
                                 dtype="int64")}))
        out = DD.simhash_near_pairs(sims, max_hamming=63, block_cap=30)
        pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
        assert ("ta", "tb") in pairs
