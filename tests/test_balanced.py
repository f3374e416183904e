"""grouped_apply_balanced: hash-inversion routing + applyInPandas parity."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geograypher_spark.operators import balanced
from geograypher_spark.operators.balanced import (
    grouped_apply_balanced, inverse_bucket_keys, spark_hash_long)


class TestSparkHashLong:
    def test_matches_spark_hash(self, spark):
        vals = [0, 1, -1, 42, 2**31, -2**35, 982451653, -7, 2**62]
        pdf = pd.DataFrame({"v": pd.Series(vals, dtype="int64")})
        got = (spark.createDataFrame(pdf)
               .select(F.hash("v").alias("h")).toPandas()["h"].tolist())
        assert got == [spark_hash_long(v) for v in vals]

    def test_inverse_keys_land_in_their_partition(self):
        for p in (8, 17, 32, 64):
            inv = inverse_bucket_keys(p)
            assert len(set(inv)) == p
            assert [spark_hash_long(k) % p for k in inv] == list(range(p))

    def test_inverse_placement_in_spark(self, spark):
        """repartition(p, key) really puts bucket t in partition t."""
        p = 16
        inv = inverse_bucket_keys(p)
        df = spark.createDataFrame(
            pd.DataFrame({"k": pd.Series(inv, dtype="int64")}))
        parts = (df.repartition(p, "k").rdd
                 .mapPartitionsWithIndex(
                     lambda i, it: [(i, [r.k for r in it])]).collect())
        placed = {i: ks for i, ks in parts if ks}
        assert placed == {t: [inv[t]] for t in range(p)}


SCHEMA = T.StructType([
    T.StructField("g", T.LongType()),
    T.StructField("h", T.LongType()),
    T.StructField("total", T.DoubleType()),
    T.StructField("n", T.LongType()),
])


def _make_agg():
    def _agg(key, pdf):
        return pd.DataFrame({
            "g": [key[0]], "h": [key[1]],
            "total": [float(pdf["x"].sum())], "n": [len(pdf)]})
    return _agg


def _mkdf(spark, n_groups, rows_per_group=7):
    pdf = pd.DataFrame({
        "g": np.repeat(np.arange(n_groups, dtype=np.int64), rows_per_group),
        "h": np.tile(np.arange(rows_per_group, dtype=np.int64) % 3,
                     n_groups) * 0,
        "x": np.arange(n_groups * rows_per_group, dtype=np.float64) * 0.5,
    })
    pdf["h"] = pdf["g"] % 5
    return spark.createDataFrame(pdf)


class TestGroupedApplyBalanced:
    # kwargs: balanced-module attributes overridden for the case
    @pytest.mark.parametrize("n_groups,kwargs", [
        (23, {}),                                   # enumeration regime
        (23, {"MAX_ENUMERATED_GROUPS": 5}),         # forced volume regime
        (1, {}),
    ])
    def test_matches_apply_in_pandas(self, spark, monkeypatch, n_groups,
                                     kwargs):
        for name, value in kwargs.items():
            monkeypatch.setattr(balanced, name, value)
        df = _mkdf(spark, n_groups)
        _agg = _make_agg()
        want = (df.groupBy("g", "h").applyInPandas(_agg, schema=SCHEMA)
                .toPandas().sort_values(["g", "h"]).reset_index(drop=True))
        got = (grouped_apply_balanced(df, ["g", "h"], _agg, SCHEMA)
               .toPandas().sort_values(["g", "h"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(got, want)

    def test_groups_undercoverage_not_dropped(self, spark):
        """A caller-supplied groups list that under-covers the data must
        route the unlisted keys to the fallback bucket, not silently drop
        their rows (round-4 ADVICE contract guard)."""
        df = _mkdf(spark, 10)
        groups = [(g, g % 5) for g in range(5)]   # covers half the keys
        got = (grouped_apply_balanced(df, ["g", "h"], _make_agg(), SCHEMA,
                                      groups=groups)
               .toPandas().sort_values("g").reset_index(drop=True))
        assert got["g"].tolist() == list(range(10))
        assert got["n"].tolist() == [7] * 10

    def test_null_keys_processed(self, spark):
        """Null-valued group keys are a real group (applyInPandas
        semantics), not a join casualty."""
        schema = T.StructType([
            T.StructField("g", T.DoubleType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("n", T.LongType())])
        pdf = pd.DataFrame({"g": [1.0, 1.0, None, None, 2.0],
                            "x": [1.0, 2.0, 4.0, 8.0, 16.0]})
        df = spark.createDataFrame(pdf)

        def agg(key, p):
            return pd.DataFrame({
                "g": [-1.0 if key[0] is None else float(key[0])],
                "total": [float(p["x"].sum())], "n": [len(p)]})

        got = (grouped_apply_balanced(df, ["g"], agg, schema)
               .toPandas().sort_values("g").reset_index(drop=True))
        assert got["g"].tolist() == [-1.0, 1.0, 2.0]
        assert got["total"].tolist() == [12.0, 3.0, 16.0]

    def test_fn_sees_original_column_order(self, spark):
        """The frame handed to fn must carry df's column order — the
        routing join moves key columns to the front internally, and a
        position-dependent fn must not observe that (round-4 ADVICE)."""
        df = _mkdf(spark, 6).select("x", "h", "g")   # keys NOT first
        # fn runs executor-side: report the observed order via the output
        out = grouped_apply_balanced(
            df, ["g", "h"],
            lambda key, p: pd.DataFrame(
                {"g": [key[0]], "h": [key[1]], "total": [0.0],
                 "n": [1 if list(p.columns) == ["x", "h", "g"] else 0]}),
            SCHEMA).toPandas()
        assert out["n"].tolist() == [1] * 6

    def test_group_spanning_batch_boundary(self, spark):
        """The streaming run-carver must reassemble a group whose rows
        arrive split across Arrow batches. 40 groups on the default
        bucket count put several groups in each partition, so group
        edges also fall inside batches."""
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        try:
            df = _mkdf(spark, 40, rows_per_group=5).coalesce(1)
            _agg = _make_agg()
            want = (df.groupBy("g", "h").applyInPandas(_agg, schema=SCHEMA)
                    .toPandas().sort_values(["g", "h"])
                    .reset_index(drop=True))
            got = (grouped_apply_balanced(df, ["g", "h"], _agg, SCHEMA)
                   .toPandas().sort_values(["g", "h"])
                   .reset_index(drop=True))
            pd.testing.assert_frame_equal(got, want)
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)

    def test_empty_input(self, spark):
        df = _mkdf(spark, 3).filter("g > 100")
        out = grouped_apply_balanced(df, ["g", "h"], _make_agg(), SCHEMA)
        assert out.count() == 0
        assert out.schema == SCHEMA

    def test_round_robin_is_balanced(self, spark):
        """Enumeration regime: partition group-counts differ by at most 1
        (the birthday-problem skew of plain hash routing is the bug this
        operator exists to remove)."""
        p = 8
        df = _mkdf(spark, 40)
        counts_schema = T.StructType([T.StructField("pid", T.IntegerType()),
                                      T.StructField("n_groups", T.LongType())])

        def count_groups(batches):
            import pandas as _pd
            chunks = [c for c in batches]
            if not chunks:
                return
            pdf = _pd.concat(chunks)
            yield _pd.DataFrame({
                "pid": [0],
                "n_groups": [pdf.groupby(["g", "h"]).ngroups]})

        # reproduce the routed exchange the operator builds
        from geograypher_spark.operators.balanced import inverse_bucket_keys
        inv = inverse_bucket_keys(p)
        rows = sorted(tuple(r) for r in df.select("g", "h").distinct().take(10_000))
        assign = spark.createDataFrame(
            pd.DataFrame([(*r, int(inv[i % p])) for i, r in enumerate(rows)],
                         columns=["g", "h", "_gb"]),
            schema=df.select("g", "h").schema.add("_gb", "long"))
        routed = df.join(F.broadcast(assign), ["g", "h"]).repartition(p, "_gb")
        per_part = (routed.mapInPandas(count_groups, schema=counts_schema)
                    .toPandas()["n_groups"].tolist())
        assert sum(per_part) == 40
        assert max(per_part) - min(per_part) <= 1


def test_auto_partitions_rule():
    from geograypher_spark.operators.balanced import auto_partitions

    # thick buckets (>=16 groups each): default stands
    assert auto_partitions(64, 2700) == 64
    assert auto_partitions(16, 576) == 16
    # thin buckets: raised toward ~3 groups/bucket, capped at 3x
    assert auto_partitions(64, 576) == 192
    assert auto_partitions(128, 576) == 192
    assert auto_partitions(64, 700) == 192  # 700//3=233 capped at 3x
    # domains smaller than the bucket count shrink to one bucket per
    # group: extra buckets are guaranteed empty and an empty
    # grouped-apply task still pays the full worker protocol round trip
    assert auto_partitions(128, 10) == 10
    assert auto_partitions(128, 2) == 2
    assert auto_partitions(8, 0) == 8
