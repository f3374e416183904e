"""Physical-plan regression guards: the properties that make the 100 TB
story true must stay visible in the executed plan — column pruning into
the parquet scan, broadcast joins for small sides, no accidental
cartesian products, whole-stage codegen on the hot paths."""

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def queries():
    from geograypher_spark.plans import driver_queries as DQ

    return DQ.QUERIES


def test_pip_scan_prunes_columns(spark, queries):
    plan = _plan(queries["points_in_polygons"](spark, SF_DIR))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet scan found"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"l_orderkey", "l_partkey", "l_linenumber"}, cols


def test_pip_uses_broadcast_join(spark, queries):
    plan = _plan(queries["points_in_polygons"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_no_cartesian_in_headline(spark, queries):
    # every headline query except the documented O(N^2) brute-force
    # baseline must be free of cartesian/nested-loop joins
    for name in ["points_in_polygons", "label_polygons", "tile_argmax",
                 "knn", "proximity_edges", "dedup_jaccard",
                 "minhash_signatures", "ann_lsh", "ann_ivf", "doc_roundtrip"]:
        plan = _plan(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ann_ivf_packed_qv(spark, queries):
    """IVF quantizes in its Arrow assignment step, not with the JVM
    higher-order transform, and ships qv as packed int32 binary."""
    import json

    sp = queries["ann_ivf"](spark, SF_DIR)._jdf.queryExecution().sparkPlan()
    assert "lambdafunction" not in sp.toString()
    qv_types = set()

    def walk(node):
        for f in json.loads(node.schema().json())["fields"]:
            if f["name"] == "qv":
                qv_types.add(json.dumps(f["type"]))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(sp)
    assert qv_types == {'"binary"'}, qv_types
    # the assignment step emits probe and member rows itself: every
    # vector is shuffled, quantized and assigned once
    assert sp.toString().count("MapInPandas") == 1, sp.toString()[:2000]


def test_proximity_kernel_stays_staged(spark, queries):
    """The tau filter must NOT be pushed below the staged distance
    projections (round-1 bug: pushdown inlined a ~256KB predicate that
    blew janino's 64KB method limit and fell back to interpreted eval)."""
    plan = _plan(queries["proximity_edges"](spark, SF_DIR))
    # the non-determinism tag keeps the filter above the projections
    assert "rand(" in plan
    # the staged intermediates survive as named projections
    assert plan.count("Project") >= 3


def test_rasterize_single_shuffle(spark, queries):
    """rasterize_face_labels must be one explode → one tile-keyed shuffle
    → one applyInPandas render: a second exchange would re-shuffle the
    wide face rows (9 coord doubles each) for nothing at 100 TB."""
    plan = _plan(queries["rasterize_scene"](spark, SF_DIR))
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan


def test_render_labels_plan_sane(spark, queries):
    """The reverse pipeline and the visibility join must stay
    cartesian-free and render through ONE balanced exchange (repartition
    on the synthetic _gb bucket key — a user repartition AQE cannot
    byte-coalesce; a plain camera_id exchange here would reintroduce the
    round-4 coalescing cap that made render_labels the slowest headline
    query). The class gather happens inside the render groups and the
    visibility counts come straight out of them — no camera-keyed
    exchange before or after the render. (The face→class join shows as a
    broadcast at this fixture scale — a size-based choice; don't assert
    it.)"""
    for name in ["render_labels", "visibility_zbuffer"]:
        plan = _plan(queries[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert len(re.findall(r"Exchange hashpartitioning\(_gb", plan)) == 1, \
            plan[:2000]
        assert not re.search(r"Exchange hashpartitioning\(camera_id",
                             plan), plan[:2000]


def test_forward_pipeline_renders_once(spark, queries):
    """aggregate_images reads the rendered observations in one pass: a
    second branch over them (an argmax and a camera count joined back
    together) renders every camera twice, since Spark cannot reuse the
    first render's exchange."""
    sp = queries["forward_pipeline"](spark, SF_DIR)._jdf.queryExecution().sparkPlan()
    assert sp.toString().count("MapInPandas") == 1, sp.toString()[:2000]


def test_simhash_no_dedup_exchange(spark):
    """simhash_near_pairs attributes each pair to its FIRST matching
    block (round-4): reintroducing a dropDuplicates over (id_a, id_b)
    would add a pair-keyed exchange over the full candidate set — the
    exact shuffle the first-match rewrite removed (round-3 done
    criterion, guard added r5)."""
    from geograypher_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = DD.simhash_near_pairs(DD.simhash(docs))
    analyzed = pairs._jdf.queryExecution().analyzed().toString()
    # the shingle-distinct Deduplicate upstream is fine — the guard is
    # against a PAIR-keyed dropDuplicates over the candidate set
    assert not re.search(r"Deduplicate \[[^\]]*id_a", analyzed)
    plan = _plan(pairs)
    assert not re.search(r"Exchange hashpartitioning\(id_a", plan), \
        plan[:2000]


def test_jaccard_single_shingle_construction(spark, queries):
    """jaccard_pairs builds its shingle set once without a persist: every
    consumer (both self-join sides and both diagonal size joins) reads
    one shingle exchange through ReusedExchange, so the executed plan
    scans the documents once (round-2 fix: 8 scans)."""
    df = queries["dedup_jaccard"](spark, SF_DIR)
    df.collect()
    final = _plan(df).split("== Initial Plan ==")[0]
    assert "InMemoryTableScan" not in final
    assert final.count("FileScan parquet") == 1, final[:3000]
    assert "ReusedExchange" in final


def test_proximity_cover_shuffled_once(spark, queries):
    """The proximity self-join must feed BOTH sides from ONE dilated-cover
    exchange (canonically-equal subtrees -> ReusedExchange): the two-sided
    form's second explode+pack+write stage was the measured scaling sink
    (per-task CPU inflated ~5x from 4 to 16 cores on ~100 MB of extra
    shuffle write). An asymmetric pushed-down filter silently breaks the
    canonical equality, so guard it here."""
    df = queries["proximity_edges"](spark, SF_DIR)
    sp = df._jdf.queryExecution().sparkPlan()
    exchanges = []

    def walk(node):
        if node.nodeName() == "Exchange":
            exchanges.append(node)
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(sp)
    assert len(exchanges) == 2, f"expected the 2 self-join exchanges, saw {len(exchanges)}"
    assert exchanges[0].canonicalized().equals(exchanges[1].canonicalized()), (
        "self-join exchanges no longer canonically equal - ReusedExchange lost")


def test_dedup_big_cacheless_shape(spark):
    """The scale-path minhash pipeline (hash_fn=xxhash64) must keep the
    three properties that fixed its scaling:
    (1) no InMemoryRelation fence (the cold-cache race materialized the
        shingle subtree twice concurrently at 16 cores, and the fence
        blocked Catalyst from collapsing the distinct into the signature
        aggregation);
    (2) the exact-verify runs on the candidate-id-reduced shingle set —
        a LeftSemi broadcast join must be present;
    (3) shingling stays in codegen — no interpreted higher-order
        transform() over the word array (was 3x the stage CPU)."""
    from geograypher_spark.operators.dedup import minhash_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text")
    df = minhash_dedup(docs, hash_fn="xxhash64")
    plan = _plan(df)
    assert "InMemoryTableScan" not in plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan[:2000]
    assert "transform(" not in plan
    assert "xxhash64" in plan
