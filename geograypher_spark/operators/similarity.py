"""Similarity search over embedding columns (training-data-pipeline ops).

- brute-force cosine top-k: the correctness baseline. Embeddings are
  quantized to integers (round(x*1000)) so dot products and norms are
  EXACT integer sums — order-independent, bit-identical across engines
  (the DuckDB oracle reproduces them); the final score
  dot / sqrt(na*nb) is a fixed sequence of correctly-rounded IEEE ops.
  Runs JVM-side (zip_with/aggregate/transform higher-order functions).
- the scale paths — hyperplane-LSH top-k, embedding near-duplicates and
  IVF top-k — quantize once in Python (``_quantize_pack``, HALF_UP like
  the JVM/oracle ``round``) into packed int32 ``qv`` cells and re-rank
  candidates exactly in vectorized Arrow kernels (bucket / list matmuls),
  never N².
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def quantized(col: Column, scale: int = 1000) -> Column:
    """array<float> → array<long> with round(double(x)*scale). The explicit
    double cast keeps the multiply in (correctly-rounded) double on every
    engine — float32 arithmetic would diverge from the SQL oracle."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * scale).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine_topk_bruteforce(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, scale: int = 1000,
) -> DataFrame:
    """→ (vec_id, neighbor_id, rank): exact top-k cosine neighbors per
    vector (self excluded). Ties break on lowest neighbor id. O(N²/p) —
    baseline only; use ``cosine_topk_lsh`` beyond ~10⁵ vectors."""
    q = embeddings.select(
        F.col(id_col).alias("vec_id"), quantized(F.col(vec_col), scale).alias("qv"))
    # the cross join's parallelism = left-side partitions (right side is
    # broadcast); small single-file scans would otherwise run 1-3 tasks
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    a = q.repartition(max(par * 2, 8)).select(
        F.col("vec_id"), F.col("qv").alias("qa"),
        _norm2(F.col("qv")).alias("na"))
    b = q.select(F.col("vec_id").alias("neighbor_id"), F.col("qv").alias("qb"),
                 _norm2(F.col("qv")).alias("nb"))
    pairs = a.crossJoin(b).filter(F.col("vec_id") != F.col("neighbor_id"))
    sim = (_dot(F.col("qa"), F.col("qb")).cast("double")
           / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("vec_id", "neighbor_id", "rank")
    )


def lsh_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    """INTEGER-quantized random hyperplanes (round(gauss*1000)): sign bits
    come from exact integer dot products of the quantized vector and the
    quantized plane — order-free, bit-identical in any engine, so the
    DuckDB oracle can embed these planes as literals and reproduce the
    bucketing exactly (float matmul sign would depend on summation order)."""
    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((dim, n_planes)) * 1000.0)


def _topk_desc_tiebreak(sims: np.ndarray, ids: np.ndarray, k_eff: int
                        ) -> np.ndarray:
    """Row-wise top-``k_eff`` column indices of ``sims`` ordered by
    (sim DESC, id ASC) — identical to
    ``np.lexsort((ids_bcast, -sims))[:, :k_eff]`` on every FINITE slot
    (the -inf padding slots a caller drops with ``isfinite`` may come out
    in a different id order) but at argpartition cost:
    the full-width lexsort was the dominant Python time of the bucketed
    ANN kernels (O(m log m) tuple sort per query row; measured ~20 s of
    worker time per ann_lsh trial at sf1.0 against a ~2 s matmul).

    Selection: argpartition by sim gives the top-k by value with arbitrary
    tie order; a row is 'unsafe' only when a FINITE boundary value has
    more ties in the full row than made it into the partition (then the
    id tie-break must choose among them) — those rare rows fall back to
    the exact full-width lexsort. Rows with fewer than k_eff valid
    candidates are safe by construction: every finite sim sorts strictly
    before the -inf padding, so argpartition keeps all of them, and
    callers drop the non-finite slots afterwards. NaN sims (a zero-norm
    vector's 0/0 cosine) rank as -inf: argpartition would otherwise rank
    them above every finite value and crowd true neighbours out."""
    nan = np.isnan(sims)
    if nan.any():
        sims = np.where(nan, -np.inf, sims)
    c, m = sims.shape
    part = np.argpartition(sims, m - k_eff, axis=-1)[:, m - k_eff:]
    psims = np.take_along_axis(sims, part, axis=-1)
    # order the kept entries exactly: lexsort over (id ASC, sim DESC)
    order = np.lexsort((np.take_along_axis(
        np.broadcast_to(ids, (c, m)), part, axis=-1), -psims), axis=-1)
    idx = np.take_along_axis(part, order, axis=-1)
    kth = psims.min(axis=1)
    finite = np.isfinite(kth)
    if finite.any():
        total_at = np.count_nonzero(sims == kth[:, None], axis=1)
        kept_at = np.count_nonzero(psims == kth[:, None], axis=1)
        unsafe = finite & (total_at > kept_at)
        if unsafe.any():
            rows_u = np.nonzero(unsafe)[0]
            idx[rows_u] = np.lexsort(
                (np.broadcast_to(ids, (len(rows_u), m)), -sims[rows_u]),
                axis=-1)[:, :k_eff]
    return idx


def _round_half_up(x: np.ndarray) -> np.ndarray:
    """Exact BigDecimal-HALF_UP rounding of doubles (|x| < 2^52) — the
    semantics of Spark's ``F.round(double)`` / DuckDB's ``round``,
    reproduced without the ``floor(x + 0.5)`` representability pitfall:
    ``x - floor(x)`` is exact (Sterbenz for |floor(x)| ≥ 1, trivially
    exact below), so the .5 comparison is performed on the true
    fractional part. Ties round AWAY FROM ZERO (+.5 up, -.5 down),
    matching HALF_UP for both signs."""
    f = np.floor(x)
    d = x - f
    return f + np.where(x >= 0, d >= 0.5, d > 0.5)


def _quantize_pack(vecs, scale: int) -> tuple[np.ndarray, list[bytes]]:
    """The one Python-side quantizer: a sequence of n equal-length vectors
    → ``(Q, cells)``. ``Q`` is the (n, dim) matrix of round(double(x)*scale)
    by :func:`_round_half_up` (exact ints in double, bit-identical to the
    JVM ``F.round`` / oracle ``round``); ``cells[i]`` is row i packed as
    int32-LE bytes — the ``qv`` column format :func:`_decode_qv` reads."""
    M = np.stack(vecs).astype(np.float64)                # (n, dim)
    Q = _round_half_up(M * float(scale))
    # int32 packing: out-of-range (or non-finite) components would
    # wrap silently in the cast
    if not (np.abs(Q) < 2**31).all():
        raise ValueError(
            f"quantized embedding component outside int32 at "
            f"scale={scale}: |round(x*scale)| must be < 2**31")
    qb = Q.astype("<i4").tobytes()
    row_b = M.shape[1] * 4
    return Q, [qb[i * row_b:(i + 1) * row_b] for i in range(len(M))]


def quantized_band_struct_udf(n_planes: int, bands: int, scale: int = 1000,
                              seed: int = 42):
    """ONE Python pass per vector → struct(qv: binary, bv: array<long>):
    the int32-LE-packed quantized vector and its band values.

    Replaces the previous two-step shape (a JVM higher-order ``transform``
    for qv — evaluated interpreted per element — plus a separate pandas
    UDF for bv over the raw embedding). Benefits, measured at sf1.0:
    the 64-element ``array<long>`` qv (~528 B/row through every band
    exchange) becomes a 256 B binary cell (~2× fewer shuffle bytes after
    the ×bands explode), the kernel-side decode is one ``frombuffer``
    over joined bytes instead of per-row object-array stacking, and only
    one column crosses the Python boundary once.

    Quantization is :func:`_quantize_pack`, and the band bits are signs
    of EXACT integer dots of that same quantized vector with the integer
    planes (``lsh_planes``), which is precisely the oracle's formulation."""
    rows = n_planes // bands
    out_t = T.StructType([
        T.StructField("qv", T.BinaryType()),
        T.StructField("bv", T.ArrayType(T.LongType()))])

    @pandas_udf(out_t)
    def f(vec: pd.Series) -> pd.DataFrame:
        if len(vec) == 0:
            return pd.DataFrame({"qv": pd.Series([], dtype=object),
                                 "bv": pd.Series([], dtype=object)})
        Q, cells = _quantize_pack(vec.to_numpy(), scale)
        planes = lsh_planes(Q.shape[1], n_planes, seed)
        bits = (Q @ planes) > 0                              # exact int dots
        weights = 1 << np.arange(rows, dtype=np.int64)
        vals = np.stack(
            [bits[:, b * rows:(b + 1) * rows].astype(np.int64) @ weights
             for b in range(bands)], axis=1)                 # (n, bands)
        return pd.DataFrame({"qv": cells, "bv": list(vals)})

    # the value is pure, but the nondeterministic mark stops the optimizer
    # duplicating the evaluation: the downstream posexplode's implicit
    # size(bv) > 0 filter was pushed below the repartition exchange,
    # yielding TWO ArrowEvalPython nodes for one UDF (guide §4.4 pattern;
    # observed in the sf1.0 plan — every vector paid the signature matmul
    # and the Arrow round trip twice)
    return f.asNondeterministic()


def _decode_qv(col: "pd.Series") -> np.ndarray:
    """binary int32-LE cells → (n, dim) float64 matrix (exact ints)."""
    buf = b"".join(col)
    n = len(col)
    return np.frombuffer(buf, dtype="<i4").astype(np.float64).reshape(n, -1)


def _cosine_chunks(Q: np.ndarray, N: np.ndarray):
    """Yield ``(lo, hi, sims)``: the exact quantized cosine of rows
    ``lo:hi`` of ``Q`` against every row of ``N``, row-chunked so a hot
    bucket or list never allocates a full len(Q)×len(N) matrix.

    dot / sqrt(na*nb) is the exact op sequence of the brute-force path
    (ints exact in double, product < 2^53, one rounded sqrt + one rounded
    divide) — bit-identical across engines. The divide is IN-PLACE
    (identical correctly-rounded values, one fewer full-size temporary),
    and the top-k callers mask slots by assigning -inf in place rather
    than np.where over a bool mask: the kernels are memory-bound next to
    a ~1 GFLOP/s GEMM."""
    qn2 = (Q * Q).sum(axis=1)
    nn2 = (N * N).sum(axis=1)
    chunk = max(1, min(len(Q), 2_000_000 // max(len(N), 1) + 1, 4096))
    for lo in range(0, len(Q), chunk):
        hi = min(lo + chunk, len(Q))
        sims = Q[lo:hi] @ N.T
        sims /= np.sqrt(np.outer(qn2[lo:hi], nn2))
        yield lo, hi, sims


def _topk_frame(sims: np.ndarray, qids: np.ndarray, nids: np.ndarray,
                k_eff: int) -> pd.DataFrame:
    """(vec_id, neighbor_id, sim) rows of each ``sims`` row's top-``k_eff``
    FINITE entries in (sim DESC, id ASC) order; -inf marks masked slots."""
    idx = _topk_desc_tiebreak(sims, nids, k_eff)
    rowi = np.repeat(np.arange(len(sims)), k_eff)
    coli = idx.ravel()
    s = sims[rowi, coli]
    valid = np.isfinite(s)
    return pd.DataFrame({"vec_id": qids[rowi[valid]],
                         "neighbor_id": nids[coli[valid]], "sim": s[valid]})


def _topk_schema(id_type: T.DataType) -> T.StructType:
    return T.StructType([
        T.StructField("vec_id", id_type),
        T.StructField("neighbor_id", id_type),
        T.StructField("sim", T.DoubleType()),
    ])


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    """Per-query top-k over the kernels' local (vec_id, neighbor_id, sim)
    rows — a window shuffle of a few·k slim rows per query."""
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "neighbor_id", "rank", "sim"))


def _band_buckets(
    embeddings: DataFrame, id_col: str, vec_col: str, n_planes: int | None,
    bands: int, scale: int, target_bucket: int, n_vectors: int | None,
) -> DataFrame:
    """(vec_id, qv, bv, band_idx, band_val): one row per vector and band —
    the hyperplane-LSH banding both LSH operators group by
    (band_idx, band_val). ``n_planes=None`` auto-sizes the band width (see
    ``cosine_topk_lsh``) from ``n_vectors``, counted when not given."""
    if n_planes is None:
        if n_vectors is None:
            n_vectors = embeddings.count()
        rows = max(1, int(np.ceil(np.log2(max(n_vectors, 2) / target_bucket))))
        n_planes = rows * bands
    elif n_planes % bands:
        raise ValueError(f"n_planes={n_planes} not divisible by bands={bands}")
    qb_udf = quantized_band_struct_udf(n_planes, bands, scale)
    # no pre-UDF repartition: the signature UDF is one small matmul per
    # batch, and the band-bucket exchange right below already gives the
    # kernel stage its parallelism — the old repartition(2*cores) added a
    # full exchange of the embedding arrays purely to spread a trivial
    # UDF over a single-row-group local file (measured at sf1.0: full
    # query 2.5 s with it, 1.6 s without; at warehouse scale the scan
    # is already split and the exchange was pure overhead)
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        qb_udf(F.col(vec_col)).alias("_s"),
    ).select("vec_id", F.col("_s.qv").alias("qv"),
             F.col("_s.bv").alias("bv"))
    # ONE pass: posexplode the band array — a union of per-band selects
    # would re-execute the signature stage once per branch per join side
    return base.select(
        "vec_id", "qv", "bv",
        F.posexplode("bv").alias("band_idx", "band_val"))


def cosine_topk_lsh(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_planes: int | None = None, bands: int = 8,
    scale: int = 1000, target_bucket: int = 64, n_vectors: int | None = None,
) -> DataFrame:
    """Approximate top-k: hyperplane band values; vectors sharing any band
    bucket become candidates; exact quantized cosine re-rank on candidates.

    SCALE SHAPE: with ``n_planes=None`` the band width auto-sizes from the
    corpus size so the expected bucket holds ~``target_bucket`` vectors —
    E[candidates] = bands · N²/2^rows ≈ bands · target_bucket · N, i.e.
    LINEAR in N, not Θ(N²/2^rows) with a fixed width (round-1 used 6-bit
    buckets: N²/64). Pass ``n_vectors`` (e.g. from table stats) to skip the
    count job. Recall tunes with bands (OR-amplification across bands).

    Each candidate pair is attributed to its FIRST matching band (a filter
    on the two band arrays) instead of dropDuplicates — no extra shuffle of
    the wide candidate rows; the only shuffle after the join is the final
    per-vector top-k window over slim (id, id, sim) rows."""
    stacked = _band_buckets(embeddings, id_col, vec_col, n_planes, bands,
                            scale, target_bucket, n_vectors)
    kk = int(k)

    def bucket_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """All-pairs exact cosine inside ONE bucket, vectorized (matmul at
        memory bandwidth, not per-pair expression eval). Emits each query's
        bucket-local top-k only: a neighbor absent from the query's top-k
        of every shared bucket is dominated by ≥k better candidates there,
        so it can never enter the global top-k — bucket-local truncation
        is lossless. Pairs matching in several bands are attributed to the
        FIRST matching band (vectorized band-array compare), so each pair
        is emitted exactly once — dedup as a kernel filter, no shuffle."""
        band_idx = int(key[0])
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"vec_id": pd.Series([], dtype=object),
                                 "neighbor_id": pd.Series([], dtype=object),
                                 "sim": pd.Series([], dtype="float64")})
        Q = _decode_qv(pdf["qv"])
        ids = pdf["vec_id"].to_numpy()
        B = np.stack(pdf["bv"].to_numpy()) if band_idx > 0 else None
        outs = []
        for lo, hi, sims in _cosine_chunks(Q, Q):
            sims[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf  # self
            if band_idx > 0:
                earlier = (
                    B[lo:hi, None, :band_idx] == B[None, :, :band_idx]
                ).any(axis=-1)
                sims[earlier] = -np.inf
            outs.append(_topk_frame(sims, ids[lo:hi], ids, min(kk, m - 1)))
        return pd.concat(outs)

    # plain grouped applyInPandas: with the argpartition kernel the
    # per-bucket compute is cheap enough that AQE's byte-based partition
    # sizing is the right cost model again — the balanced-exchange variant
    # (assign join + explicit repartition) was measured SLOWER at both
    # sf0.1 (1.2 -> 2.1 s) and sf1.0 (1.6 -> 2.6 s): its extra broadcast
    # round and fixed 64-task waves cost more than the coalesced stage
    local = stacked.groupBy("band_idx", "band_val").applyInPandas(
        bucket_topk, schema=_topk_schema(embeddings.schema[id_col].dataType))
    return _global_topk(local, kk)


def embedding_near_duplicates(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_planes: int | None = None, bands: int = 8,
    scale: int = 1000, target_bucket: int = 64, n_vectors: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, sim) with id_a < id_b: embedding-cosine NEAR-DUP
    pairs — the embedding tier of the dedup suite (alongside exact /
    Jaccard / MinHash-LSH / SimHash).

    Candidates = hyperplane-LSH band collisions (identical auto-sized
    banding to ``cosine_topk_lsh``); the exact quantized cosine filters
    inside each bucket, and each pair is attributed to its FIRST matching
    band, so pairs are emitted exactly once with no dedup shuffle. Output
    size is bounded by the true near-duplicate density (pairs ≥ threshold
    within a bucket), never N². As with all LSH dedup, a pair colliding in
    no band is missed by design — recall tunes with ``bands``."""
    stacked = _band_buckets(embeddings, id_col, vec_col, n_planes, bands,
                            scale, target_bucket, n_vectors)
    id_type = embeddings.schema[id_col].dataType
    out_schema = T.StructType([
        T.StructField("id_a", id_type),
        T.StructField("id_b", id_type),
        T.StructField("sim", T.DoubleType()),
    ])
    thr = float(threshold)

    def bucket_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        band_idx = int(key[0])
        empty = pd.DataFrame({"id_a": pd.Series([], dtype=object),
                              "id_b": pd.Series([], dtype=object),
                              "sim": pd.Series([], dtype="float64")})
        if len(pdf) < 2:
            return empty
        Q = _decode_qv(pdf["qv"])
        ids = pdf["vec_id"].to_numpy()
        B = np.stack(pdf["bv"].to_numpy()) if band_idx > 0 else None
        outs = []
        for lo, hi, sims in _cosine_chunks(Q, Q):
            ok = ids[lo:hi, None] < ids[None, :]
            ok &= sims >= thr
            if band_idx > 0:
                earlier = (
                    B[lo:hi, None, :band_idx] == B[None, :, :band_idx]
                ).any(axis=-1)
                ok &= ~earlier
            ri, ci = np.nonzero(ok)
            if len(ri):
                outs.append(pd.DataFrame({
                    "id_a": ids[lo:hi][ri], "id_b": ids[ci],
                    "sim": sims[ri, ci]}))
        return pd.concat(outs) if outs else empty

    return stacked.groupBy("band_idx", "band_val").applyInPandas(
        bucket_pairs, schema=out_schema)


def cosine_topk_ivf(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_lists: int | None = None, n_probe: int = 4,
    scale: int = 1000, n_vectors: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k — the inverted-list ANN scale path
    alongside the LSH variant.

    Coarse quantizer: the ``n_lists`` lowest-id vectors serve as list
    anchors (sampled-anchor IVF). Every vector joins the list of its
    nearest anchor (min L2 over EXACT integer-quantized arithmetic, ties
    to the lowest anchor index); a query probes its ``n_probe`` nearest
    lists and re-ranks their members with the exact quantized cosine.
    Anchors and vectors share one quantizer (``_quantize_pack``), so the
    whole structure has a closed-form SQL twin.

    Scale shape: assignment is one broadcast-matmul pass (anchors are tiny
    by construction) that also packs ``qv`` as int32 cells; the probe join
    shuffles each vector once per probed list; per-list re-rank is a
    vectorized matmul bounded by list size ~N/n_lists. A neighbor appears
    in exactly ONE list, so per-list top-k rows are already pair-unique —
    no dedup shuffle. Lossless within the probed lists (exact re-rank +
    the bucket-truncation argument of ``cosine_topk_lsh``)."""
    spark = embeddings.sparkSession
    id_type = embeddings.schema[id_col].dataType
    kk = int(k)
    if n_lists is None:
        if n_vectors is None:
            n_vectors = embeddings.count()
        n_lists = max(1, int(np.ceil(np.sqrt(n_vectors))))
    anchors_rows = (embeddings.orderBy(id_col).limit(n_lists)
                    .select(id_col, vec_col).collect())
    if not anchors_rows:  # empty corpus → empty result, typed
        return _global_topk(spark.createDataFrame([], _topk_schema(id_type)), kk)
    C, _ = _quantize_pack([r[vec_col] for r in anchors_rows], scale)
    bc = spark.sparkContext.broadcast((C, (C * C).sum(axis=1)))
    # a corpus smaller than n_lists has fewer anchors than lists
    npb = int(min(n_probe, len(C)))

    par = spark.sparkContext.defaultParallelism
    base = embeddings.repartition(max(par * 2, 8)).select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    # one row per (vector, probed list) with side=0 plus one side=1 row
    # for the list the vector belongs to — emitted by the assignment step
    # itself, so each vector is shuffled, quantized and assigned once
    assign_schema = T.StructType([
        T.StructField("vec_id", id_type),
        T.StructField("qv", T.BinaryType()),
        T.StructField("probe_list", T.IntegerType()),
        T.StructField("side", T.IntegerType()),
    ])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Cm, cn2 = bc.value
            Q, cells = _quantize_pack(pdf["embedding"].to_numpy(), scale)
            # argmin ||q-c||^2 = argmin (|c|^2 - 2 q.c): exact integers
            d2 = cn2[None, :] - 2.0 * (Q @ Cm.T)
            order = np.argsort(d2, axis=1, kind="stable")  # ties -> low idx
            n = len(pdf)
            rows = np.concatenate([np.repeat(np.arange(n), npb),
                                   np.arange(n)])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy()[rows],
                "qv": np.asarray(cells, dtype=object)[rows],
                "probe_list": np.concatenate(
                    [order[:, :npb].ravel(), order[:, 0]]).astype(np.int32),
                "side": np.repeat(np.int32([0, 1]), [n * npb, n]),
            })

    assigned = base.mapInPandas(assign, schema=assign_schema)

    def list_topk(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["side"] == 0]
        ns = pdf[pdf["side"] == 1]
        if not len(qs) or not len(ns):
            return pd.DataFrame({"vec_id": pd.Series([], dtype=object),
                                 "neighbor_id": pd.Series([], dtype=object),
                                 "sim": pd.Series([], dtype="float64")})
        qids = qs["vec_id"].to_numpy()
        nids = ns["vec_id"].to_numpy()
        outs = []
        for lo, hi, sims in _cosine_chunks(_decode_qv(qs["qv"]),
                                           _decode_qv(ns["qv"])):
            sims[qids[lo:hi, None] == nids[None, :]] = -np.inf  # self
            outs.append(_topk_frame(sims, qids[lo:hi], nids,
                                    min(kk, len(nids))))
        return pd.concat(outs)

    local = assigned.groupBy("probe_list").applyInPandas(
        list_topk, _topk_schema(id_type))
    return _global_topk(local, kk)
