"""Document deduplication suite (training-data-pipeline ops).

Large-scale ingest needs dedup before any of the geospatial pipelines see
the interleaved docs. Four tiers, cheapest first:

- exact: md5(text) hash groupBy — one shuffle
- n-gram Jaccard: inverted shingle index self-join (pairs share ≥1
  shingle) → |A∩B| by groupBy, each doc's size from the join's diagonal
  → threshold
- MinHash-LSH: per-doc signature = min(md5(seed:shingle)) per seed (string
  min — engine-portable, no custom hashing); banded OR-amplification; only
  band-collision pairs get exact Jaccard verification
- SimHash: 64-bit xxhash64-weighted bit votes, hamming-distance buckets

All built from groupBy/join/window (Catalyst-native); md5/lead/min are
deliberately chosen so an external SQL engine (the DuckDB oracle) computes
bit-identical intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def unpersist_dedup_caches() -> None:
    """No-op: :func:`jaccard_pairs` is one persist-free plan, so there is
    no dedup cache left to release. Kept only because the perfbench
    ``doc_dedup`` workload still calls it; it goes once that call does."""


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """→ (content_hash, canonical_id, n_copies): groups of byte-identical
    texts; canonical = lowest id (deterministic survivor policy)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def _shingle_words(
    docs: DataFrame, id_col: str, text_col: str, n: int,
) -> tuple[DataFrame, list]:
    """The shared shingle prologue: split → index sequence → explode.
    Returns the exploded (id, _a, _i) rows and the n word columns of the
    shingle starting at ``_i``; the caller combines the words."""
    # name the split array: inlining it would re-split the text once per
    # shingle index (O(len²)); as a multi-referenced attribute it survives
    # CollapseProject and evaluates once per row
    with_arr = docs.withColumn("_arr", F.split(F.col(text_col), " "))
    arr = F.col("_arr")
    idxs = F.when(
        F.size(arr) >= n, F.sequence(F.lit(1), F.size(arr) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    # explode the index range and read the words via element_at lookups:
    # the whole row stays inside ONE WholeStageCodegen span (Generate +
    # Project fuse; the word array is never copied per shingle because
    # nothing crosses a stage boundary until the (id, shingle) distinct
    # exchange). The F.transform(lambda: ...(slice)) form evaluates the
    # higher-order lambda INTERPRETED per element — measured 3× the stage
    # CPU for the hashed variant (227 vs 73 core-s on the amplified sf0.1
    # corpus at 16c).
    exploded = with_arr.select(F.col(id_col), arr.alias("_a"),
                               F.explode(idxs).alias("_i"))
    return exploded, [F.element_at("_a", F.col("_i") + k) for k in range(n)]


def word_shingles(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
) -> DataFrame:
    """→ (id, shingle) DISTINCT word n-grams, built with PURE array ops
    (split → slice per index → explode): no window, so no doc-keyed
    shuffle before the distinct — one shuffle total instead of two, and
    far less generated code than the round-1 posexplode + lead-window
    form. Mirrored verbatim in the oracle SQL (list slicing + scalar
    generate_series)."""
    exploded, words = _shingle_words(docs, id_col, text_col, n)
    return (exploded.select(
        F.col(id_col), F.concat_ws(" ", *words).alias("shingle"))
        .distinct())


def word_shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3,
) -> DataFrame:
    """→ (id, shingle) DISTINCT word n-grams as xxhash64 LONGS: the n-word
    slice hashes directly, so no shingle STRING is ever materialized —
    the explode/distinct/verify traffic carries 8-byte fixed-width keys
    instead of ~40+ byte strings (the dominant memory traffic of the
    string pipeline; this is the standard production-minhash shape).
    Set semantics are exact up to 64-bit collisions: with s shingles per
    doc the expected per-doc collision count is ~s²·2⁻⁶⁴ — zero in
    practice — and everything downstream (distinct, min-per-seed,
    intersection counts) only needs set identity, not the text."""
    exploded, words = _shingle_words(docs, id_col, text_col, n)
    return (exploded.select(
        F.col(id_col), F.xxhash64(*words).alias("shingle"))
        .distinct())


def jaccard_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, threshold: float = 0.5, df_cap: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, inter, size_a, size_b, jaccard) for pairs ≥ threshold.

    Inverted-index self-join: only docs sharing a shingle pair up — the
    candidate count is bounded by shingle document-frequency, not N².

    ``df_cap`` drops shingles appearing in more than that many documents
    BEFORE the self-join (stop-shingle removal — the skew guard this join
    needs at scale: one shingle in k docs creates k²/2 candidate pairs
    through a single hot key). Doc sizes and intersections are both
    computed over the capped shingle set, so the reported jaccard stays a
    true Jaccard of the capped sets; pairs that only share ultra-frequent
    shingles are missed by design (MinHash-LSH covers near-exact dups).
    Default None = exact (small corpora / oracle parity).

    The inverted index is keyed on xxhash64 LONGS of the n-word slice
    (:func:`word_shingle_hashes`) instead of shingle strings: every
    downstream stage — the df window, the self-join, the
    per-pair counts — only needs shingle-set identity, never the text, so
    an 8-byte fixed-width key replaces a ~40+ byte string in all shuffle
    traffic and join/aggregate buffers (guide §2.3 "narrower types";
    measured ~2.4 GB → ~1.0 GB of stage I/O per bench trial at sf1.0).
    Set semantics are exact up to 64-bit collisions (~s²·2⁻⁶⁴ per doc —
    zero in practice; oracle-verified on the contract data).

    One persist-free plan: the self-join counts shared shingles for every
    pair with ``id_a <= id_b``. Off-diagonal rows (``id_a < id_b``) are
    the intersections; each doc's diagonal row ``(id, id)`` counts its own
    shingles, i.e. its size over the capped set, and both size joins read
    it. Every consumer of the shingle set is then a join over the same
    non-null subtree, which Spark builds once and shares through
    ReusedExchange; a ``groupBy(id)`` sizes branch lacks the joins'
    inferred ``isnotnull`` and re-runs the shingle construction. A doc
    with no shingle left has no diagonal row, so it gets no pair.
    Catalyst pushes the diagonal split into the join (the sizes run as an
    ``(id, shingle)`` equi-join); pinning the split above one shared
    aggregate measured slower (sf0.1, 4 cores).
    """
    # one fixed-count exchange by shingle: AQE coalesces a byte-small
    # shingle shuffle (8-byte keys) to a few partitions, but the self-join
    # stage reading it emits ~5x its input rows (sf0.1 on 4 cores: the
    # coalesced join stage ran 2 tasks on 4 cores and the plan was ~15%
    # slower), and AQE does not coalesce a repartition to a set count
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = word_shingle_hashes(docs, id_col, text_col, n).repartition(par, "shingle")
    if df_cap is not None:
        # df filter as a window over the shingle key: it runs inside the
        # shingle partitioning, so both join sides read the window's
        # output with no further exchange, instead of an eager broadcast
        # sub-job for the hot-shingle list
        wdf = Window.partitionBy("shingle")
        sh = (sh.withColumn("_df", F.count(F.lit(1)).over(wdf))
              .filter(F.col("_df") <= df_cap).drop("_df"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    counts = (
        a.join(b, "shingle")
        .filter(F.col("id_a") <= F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = counts.filter(F.col("id_a") == F.col("id_b"))
    return (
        counts.filter(F.col("id_a") < F.col("id_b"))
        .join(sizes.select("id_a", F.col("inter").alias("size_a")), "id_a")
        .join(sizes.select(F.col("id_a").alias("id_b"),
                           F.col("inter").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("size_a") + F.col("size_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, n_hashes: int = 16, hash_fn: str = "md5",
) -> DataFrame:
    """→ (id, h0..h{k-1}): MinHash signature; min per seed over the doc's
    shingle set. ``hash_fn`` picks the family — see :func:`_minhash_aggs`
    ("md5" default: engine-portable/oracle-mirrorable; "xxhash64": the
    allocation-free scale path)."""
    sh = word_shingles(docs, id_col, text_col, n)
    return sh.groupBy(id_col).agg(*_minhash_aggs(n_hashes, hash_fn))


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id",
    n_hashes: int = 16, bands: int = 4,
) -> DataFrame:
    """→ (id_a, id_b, n_bands_matched): pairs whose signatures collide in
    ≥1 band (rows_per_band = n_hashes/bands). Banded OR-amplification: the
    classic S-curve P(candidate) = 1-(1-j^r)^b. ``bands`` must divide
    ``n_hashes``: a remainder would silently drop the last signature
    columns, and zero rows per band would make every pair a candidate.

    The band key is xxhash64(band_idx, h…) for either signature family and
    STAYS a raw long end to end (no concat/md5 allocation, and no string
    materialization of the hash): the explode, the collision join and the
    pair groupBy all run on fixed-width (int, long) keys. Keys are equal
    for equal bands and distinct otherwise up to 64-bit collisions; the
    band key is internal to this operator and never in the output."""
    if bands < 1 or n_hashes < bands or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must be between 1 and n_hashes={n_hashes} "
            "and divide it")
    rows = n_hashes // bands
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(
                F.lit(b),
                *[F.col(f"h{b * rows + i}") for i in range(rows)]
            ).alias("band_hash"))
        for b in range(bands)])
    # one explode pass — a union of per-band selects would recompute the
    # signature aggregation once per branch per join side
    stacked = signatures.select(
        F.col(id_col), F.explode(band_structs).alias("_b")
    ).select(id_col, F.col("_b.band_idx").alias("band_idx"),
             F.col("_b.band_hash").alias("band_hash"))
    a = stacked.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    b_ = stacked.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    return (
        a.join(b_, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_matched"))
    )


def _minhash_aggs(n_hashes: int, hash_fn: str):
    """The per-seed min-hash aggregate expressions over a ``shingle``
    column. ``"md5"`` — min over the hex string of md5("seed:shingle"):
    engine-portable (mirrored verbatim in the DuckDB oracle SQL) but
    allocates a concat + a 32-char string per (seed, shingle).
    ``"xxhash64"`` — min over the raw long of xxhash64(seed, shingle):
    one JVM hash call, no string allocation, ~long-typed aggregation
    buffers; the scale path (measured ~2× less stage CPU and far less
    GC at 16 cores on the amplified sf0.1 corpus). Both families are
    deterministic; LSH banding only needs exchangeable uniform hashes."""
    if hash_fn == "md5":
        return [
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    if hash_fn == "xxhash64":
        return [
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    raise ValueError(f"unknown minhash hash_fn {hash_fn!r}")


def minhash_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, n_hashes: int = 16, bands: int = 4, threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → band collisions → exact
    Jaccard verify on candidates only → (id_a, id_b, jaccard).

    One persist-free plan: the candidate subtree is consumed twice (the
    broadcast id list and the verify join) and, being canonically equal
    in both places, shares its shuffles via ReusedExchange. The verify
    shingles only the candidate docs — a broadcast LeftSemi of the
    candidate ids into ``docs`` BELOW the shingler — and collects each
    candidate doc's shingle set into one array, so the exact Jaccard is
    ``|A∩B| / (|A| + |B| - |A∩B|)`` over two arrays per pair, a ratio of
    exact integers."""
    shingler = word_shingles if hash_fn == "md5" else word_shingle_hashes
    # the explicit notnull below the explode keeps the two consumer
    # subtrees canonically EQUAL: a join-inferred isnotnull pushed below
    # only one side's exchange would otherwise break ReusedExchange (same
    # gotcha as the ray-proximity self-join)
    docs = docs.filter(F.col(id_col).isNotNull())
    sigs = (shingler(docs, id_col, text_col, n)
            .groupBy(id_col).agg(*_minhash_aggs(n_hashes, hash_fn)))
    cand = lsh_candidate_pairs(sigs, id_col, n_hashes, bands)
    # SEMI-JOIN REDUCTION before the exact verify, pushed BELOW the
    # shingling (filter docs, then shingle): Catalyst does not move a
    # LeftSemi join through a Generate on its own, so the verify branch
    # otherwise re-exploded and re-hashed the FULL corpus just to keep ~1%
    # of it (round-6 stage probe on dedup_big at 16 cores: the verify-side
    # shingle pass was the single largest stage, 58 s of executor time vs
    # 38 s for the signature pass). Shingles are per-doc, so
    # shingler(filter(docs)) == filter(shingler(docs)) exactly. The
    # broadcast payload is bare ids, bounded by 2× the pair count; a corpus
    # where that overflows has an O(N²) LSH pair problem long before the
    # broadcast matters.
    cand_ids = (cand.select(F.col("id_a").alias(id_col))
                .union(cand.select(F.col("id_b").alias(id_col)))
                .distinct())
    docs_cand = docs.join(F.broadcast(cand_ids), id_col, "leftsemi")
    sets = (shingler(docs_cand, id_col, text_col, n)
            .groupBy(id_col).agg(F.collect_list("shingle").alias("_s")))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.select("id_a", "id_b")
        .join(sets.select(F.col(id_col).alias("id_a"), F.col("_s").alias("sa")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("_s").alias("sb")), "id_b")
        .withColumn("jaccard",
                    inter / (F.size("sa") + F.size("sb") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """→ (id, simhash:long): 64-bit SimHash over word n-grams. Near-dups
    share most bits; pair by bucketing on bit-blocks then hamming-filter.

    ``hash_fn``: "xxhash64" (default — JVM whole-stage codegen, the fast
    path) or "md5_64" (first 16 hex chars of md5 as a signed int64 —
    engine-portable, bit-identical in any SQL engine with md5; used by the
    DuckDB correctness oracle)."""
    sh = word_shingles(docs, id_col, text_col, n)
    if hash_fn == "xxhash64":
        h = sh.withColumn("h", F.xxhash64("shingle"))
    elif hash_fn == "md5_64":
        md = F.md5("shingle")
        hi = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
        # signed-wrap the high half so hi*2^32 + lo stays in int64 — the
        # same arithmetic a checked-overflow SQL engine can run
        hi_signed = hi - F.when(hi >= F.lit(1 << 31), F.lit(1 << 32)).otherwise(F.lit(0))
        h = sh.withColumn("h", hi_signed * F.lit(1 << 32) + lo)
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    # vote per bit: sum(+1/-1) over shingles, sign → bit
    bits = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    votes = h.groupBy(id_col).agg(*bits)
    acc = F.lit(0).cast("long")
    for i in range(64):
        acc = acc.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long")))
    return votes.select(F.col(id_col), acc.alias("simhash"))


def simhash_near_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 8,
    n_blocks: int | None = None, block_cap: int | None = None,
) -> DataFrame:
    """Pigeonhole bucket join: split the 64-bit hash into ``n_blocks``
    contiguous blocks; a pair within hamming distance ``max_hamming`` has
    at most ``max_hamming`` differing blocks, so with
    ``n_blocks > max_hamming`` it shares ≥1 exact block (pigeonhole) →
    LOSSLESS candidate join on (block_idx, block_value), then exact
    popcount filter. Default ``n_blocks = max_hamming + 1`` (blocks of
    ~64/(h+1) bits); passing ``n_blocks <= max_hamming`` would silently
    miss pairs and raises instead.

    Each pair is emitted exactly once WITHOUT a dedup shuffle: a pair
    matching several blocks is attributed to its FIRST matching block,
    and "first matching block" is a pure column expression over
    ``sh_a XOR sh_b`` (block j matches iff the XOR's bits in block j are
    all zero) — the same first-match-attribution idea as the embedding
    LSH tier (similarity.py), but fully JVM-side because both hashes ride
    the candidate row.

    ``block_cap`` (opt-in) bounds hot buckets: a (block_idx, block_val)
    shared by k documents emits k²/2 candidate rows through one join key
    — k identical simhashes (exact dups that skipped tier 1) are the
    worst case. With a cap, block occurrences above it are dropped from
    the join (a count window over the join's own shuffle key, like
    ``jaccard_pairs``'s df_cap), each document carries an alive-bitmask
    so attribution only counts SURVIVING blocks, and a pair is lost only
    if every block it matches on is hot — bounded runtime for a
    documented recall tradeoff (run ``exact_duplicates`` first so
    identical texts never reach this tier)."""
    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} <= max_hamming={max_hamming} breaks the "
            "pigeonhole recall guarantee (pairs differing in every block "
            "would be missed); need n_blocks > max_hamming")
    if n_blocks > 64:
        raise ValueError("n_blocks > 64: blocks would be empty")
    # variable-width contiguous blocks covering all 64 bits
    bounds = [round(64 * i / n_blocks) for i in range(n_blocks + 1)]

    def _block_mask(i: int):
        return F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)

    block_structs = F.array(*[
        F.struct(
            F.lit(i).alias("block_idx"),
            F.shiftright("simhash", bounds[i]).bitwiseAND(_block_mask(i))
            .alias("block_val"))
        for i in range(n_blocks)])
    stacked = sims.select(
        F.col(id_col), F.col("simhash"), F.explode(block_structs).alias("_b")
    ).select(id_col, "simhash", F.col("_b.block_idx").alias("block_idx"),
             F.col("_b.block_val").alias("block_val"))

    if block_cap is not None:
        # count over the join's own shuffle key → exchange reuse; then an
        # alive-bitmask per doc so first-match attribution skips blocks
        # the cap removed for EITHER side of a pair
        w = Window.partitionBy("block_idx", "block_val")
        stacked = stacked.withColumn("_bn", F.count(F.lit(1)).over(w)) \
                         .filter(F.col("_bn") <= block_cap).drop("_bn")
        alive = stacked.groupBy(id_col).agg(
            F.sum(F.expr("shiftleft(1L, cast(block_idx as int))"))
            .alias("_alive"))
        stacked = stacked.join(alive, id_col)
        a_cols = [F.col(id_col).alias("id_a"),
                  F.col("simhash").alias("sh_a"),
                  F.col("_alive").alias("_alive_a"),
                  "block_idx", "block_val"]
        b_cols = [F.col(id_col).alias("id_b"),
                  F.col("simhash").alias("sh_b"),
                  F.col("_alive").alias("_alive_b"),
                  "block_idx", "block_val"]
    else:
        a_cols = [F.col(id_col).alias("id_a"),
                  F.col("simhash").alias("sh_a"), "block_idx", "block_val"]
        b_cols = [F.col(id_col).alias("id_b"),
                  F.col("simhash").alias("sh_b"), "block_idx", "block_val"]

    cand = (
        stacked.select(*a_cols).join(stacked.select(*b_cols),
                                     ["block_idx", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # first matching block of the pair, straight from the XOR (and, with
    # a cap, from both alive masks): attribute the pair to that block
    # only — no dropDuplicates exchange
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))

    def _matches(i: int):
        m = F.shiftright(xor, bounds[i]).bitwiseAND(_block_mask(i)) == 0
        if block_cap is not None:
            bit = F.lit(1).cast("long")
            m = m & (F.shiftright(F.col("_alive_a"), i).bitwiseAND(bit) == 1)
            m = m & (F.shiftright(F.col("_alive_b"), i).bitwiseAND(bit) == 1)
        return m

    first_match = F.lit(None).cast("int")
    for i in range(n_blocks - 1, -1, -1):
        first_match = F.when(_matches(i), F.lit(i)).otherwise(first_match)
    cand = cand.filter(F.col("block_idx") == first_match)

    hamming = F.bit_count(xor)
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
