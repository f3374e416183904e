"""Balanced grouped-apply for compute-dense Pandas stages.

Spark sizes shuffle partitions by BYTES: AQE's partition coalescing
targets ``advisoryPartitionSizeInBytes`` (with a ``minPartitionSize``
floor), so a grouped ``applyInPandas`` whose per-row compute cost is
~1000× its byte size — e.g. a tile render burning ~50 ms of kernel per
~1k-row, ~80 KB group — gets coalesced to a handful of tasks and stops
scaling with cores (measured: a 680-group render stage ran as 14 tasks
on 16 cores because its shuffle input was ~20 MB). Byte-based sizing is
the right default for scan/join stages; it is the wrong cost model for
CPU-dense Python stages.

``grouped_apply_balanced`` keeps the same (key, pdf) → pdf contract as
``DataFrame.groupBy(...).applyInPandas`` but controls the exchange:

- **volume regime** (many groups): an explicit ``repartition(p, keys)``
  — user-specified repartitions are exempt from AQE coalescing, and with
  groups ≫ partitions the hash assignment is balanced by the law of
  large numbers. ``applyInPandas`` then reuses that exchange (its
  ClusteredDistribution on the same keys is already satisfied).
- **enumeration regime** (group count within ~2 orders of magnitude of
  the core count — where hash assignment is Poisson-skewed and one
  straggler partition caps the whole stage): enumerate the distinct
  groups (tiny, map-side-combined distinct), stripe them round-robin
  across exactly ``p`` buckets, and repartition on a *bucket key chosen
  so Spark's own hash places bucket b in partition b* (Murmur3 inverted
  driver-side, see ``inverse_bucket_keys``). Every partition gets
  ⌈groups/p⌉ or ⌊groups/p⌋ groups — no birthday-problem collisions.
  The group function runs inside ``mapInPandas`` with an in-task pandas
  groupby (a post-repartition ``applyInPandas`` would re-shuffle on the
  raw keys and undo the balancing).

At 100 TB the volume regime is the norm; the enumeration regime is what
keeps the LAST reduction of a pipeline — hundreds of tiles/cameras on
hundreds of cores — from being bound by one unlucky hash bucket.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Spark-compatible Murmur3 (x86_32) of a LongType value, seed 42 — the
# function behind HashPartitioning, reimplemented so the driver can
# precompute which partition a bucket key lands in. Verified against
# F.hash in tests/test_balanced.py.
# ---------------------------------------------------------------------------

_M32 = 0xFFFFFFFF


def _mix_k1(k1: int) -> int:
    k1 = (k1 * 0xCC9E2D51) & _M32
    k1 = ((k1 << 15) | (k1 >> 17)) & _M32
    return (k1 * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M32
    return (h1 * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & _M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & _M32
    h1 ^= h1 >> 16
    return h1


def spark_hash_long(value: int, seed: int = 42) -> int:
    """Spark's ``hash(bigint)``: Murmur3_x86_32 over the two 32-bit
    halves of the long (low word first), returned as a signed int32."""
    v = value & 0xFFFFFFFFFFFFFFFF
    h1 = _mix_h1(seed & _M32, _mix_k1(v & _M32))
    h1 = _mix_h1(h1, _mix_k1((v >> 32) & _M32))
    out = _fmix(h1, 8)
    return out - (1 << 32) if out >= (1 << 31) else out


def inverse_bucket_keys(p: int) -> list[int]:
    """For each target partition t in [0, p): the smallest non-negative
    long k with pmod(spark_hash_long(k), p) == t, so that
    ``repartition(p, key)`` places bucket t's rows in partition t.
    Recomputed per call: about p·ln(p) pure-Python hashes, a few ms at
    the bucket counts ``auto_partitions`` returns."""
    keys: list[int | None] = [None] * p
    found, k = 0, 0
    while found < p:
        t = spark_hash_long(k) % p
        if keys[t] is None:
            keys[t] = k
            found += 1
        k += 1
    return keys  # type: ignore[return-value]


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------

def auto_partitions(p: int, n_groups: int) -> int:
    """Bucket-count rule for the enumeration regime. With ≥ ~16 groups
    per bucket the content-hash striping averages per-group cost noise
    away and the 4-wave default is the overhead sweet spot (measured:
    2700 tiles at 64 buckets scale cleanly; doubling buckets cost +14%
    in per-task Arrow/worker overhead). BELOW that, one expensive group
    per thin bucket caps the stage — 576 cameras on 64 buckets left a
    2.1x task-time spread and ~12% of wall in the last-wave tail —
    so raise the bucket count toward ~3 groups/bucket (576 cameras:
    measured best at exactly groups/3 = 192 buckets, -12% wall at 16
    cores), capped at 3x so per-task overhead stays bounded. When the
    group domain is SMALLER than the bucket count, shrink to one
    bucket per group: groups are atomic, so buckets beyond n_groups
    are guaranteed empty, and an empty grouped-apply task still costs
    a full Python-worker protocol round trip (~76 ms measured even
    after the zip-cache fix — a 2-camera render on the default 128
    buckets paid 126 pointless tasks)."""
    if not n_groups:
        return p
    if n_groups < p:
        return n_groups
    if n_groups / p < 16:
        return min(3 * p, max(p, n_groups // 3))
    return p


# Group enumeration pulls at most this many distinct keys to the driver in
# one action; beyond it the group count alone guarantees hash balance.
MAX_ENUMERATED_GROUPS = 100_000


def grouped_apply_balanced(
    df: DataFrame,
    keys: Sequence[str],
    fn: Callable[[tuple, pd.DataFrame], pd.DataFrame],
    schema,
    groups: Sequence[tuple] | None = None,
) -> DataFrame:
    """``df.groupBy(*keys).applyInPandas(fn, schema)`` with a
    compute-aware exchange (see module docstring).

    ``fn(key_tuple, pdf) -> pdf`` — identical contract to applyInPandas;
    ``pdf`` contains the full rows including the key columns.

    The partition count is 4× the session's default parallelism —
    round-robin assignment is exact, so a handful of waves absorbs
    group-cost variance, and four waves halve the last-wave straggler
    tail a two-wave schedule pays (measured ~8% of stage wall on the
    576-camera render at 2×) while per-task Python-worker overhead
    stays negligible (workers are reused across tasks). In the
    enumeration regime it is adjusted by ``auto_partitions`` when the
    group domain is thin relative to the bucket count (high per-group
    cost variance stops averaging out — see its docstring for the
    measurements). Groups are atomic: one group's rows always land
    in one task, so per-task memory is bounded by the largest
    ⌈groups/partitions⌉ groups (enumeration regime) or by the streamed
    single group (volume regime).

    More than ``MAX_ENUMERATED_GROUPS`` groups take the volume path.
    When ``df`` is itself expensive to compute, the enumeration probe
    re-runs its lineage — callers that already know the key domain (e.g.
    a broadcast camera dict) should pass ``groups`` (a superset is fine:
    empty buckets cost nothing, and keys with no rows produce no output,
    exactly like applyInPandas; keys MISSING from ``groups`` — and
    null-valued keys, which no equi-join matches — are still processed,
    routed to a shared fallback bucket).
    """
    keys = list(keys)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    p = max(par * 4, 8)

    # ONE extra action: pull the distinct groups if there are few enough
    # to enumerate (map-side-combined distinct, tiny result). Everything
    # else — round-robin assignment, placement inversion — happens on the
    # driver, so no count job and no single-partition window stage.
    if groups is not None:
        head = [tuple(g) if isinstance(g, (tuple, list)) else (g,)
                for g in groups]
    else:
        head = df.select(*keys).distinct().take(MAX_ENUMERATED_GROUPS + 1)
    if not head:
        return spark.createDataFrame([], schema)
    if len(head) > MAX_ENUMERATED_GROUPS:
        return (df.repartition(p, *keys)
                  .groupBy(*keys).applyInPandas(fn, schema=schema))

    p = auto_partitions(p, len(head))
    inv = inverse_bucket_keys(p)
    # stripe in content-hash order, not key order: group cost usually
    # varies smoothly with the natural key (neighboring cameras/tiles see
    # similar geometry), and a fixed stride over a spatially-ordered list
    # can alias with that structure (measured: a 24-wide camera grid
    # striped mod 32 put one stripe at ~2x the median cost). Hashing the
    # key first gives every stripe an i.i.d.-like cost sample. md5, not
    # hash(): PYTHONHASHSEED must not change the plan between runs.
    import hashlib

    # null-valued keys can't match an equi-join anyway — leave them out
    # of the routing table (they reach the fallback bucket below) so the
    # assign DataFrame stays cleanly typed
    rows = sorted(
        (tuple(r) for r in head if not any(v is None for v in r)),
        key=lambda r: hashlib.md5(repr(r).encode()).digest())
    assign = spark.createDataFrame(
        pd.DataFrame(
            [(*r, int(inv[i % p])) for i, r in enumerate(rows)],
            columns=[*keys, "_gb"]),
        schema=df.select(*keys).schema.add("_gb", "long"),
    )
    # LEFT join + fallback bucket: a caller-supplied ``groups`` that
    # under-covers the data (or null-valued keys, which no equi-join
    # matches) must not silently drop rows — applyInPandas processes
    # every group. Unrouted keys all land in bucket 0; a gross
    # under-coverage would skew that one partition, but that is a
    # contract violation made loud (the rows come out), not a hang.
    fallback = int(inv[0])
    routed = (
        df.join(F.broadcast(assign), keys, "left")
          .withColumn("_gb", F.coalesce(F.col("_gb"), F.lit(fallback)))
          .repartition(p, "_gb")
          # group rows contiguous within the partition so the executor
          # streams one group at a time (below) instead of materializing
          # the whole multi-group partition in one pandas frame — at 576
          # cameras × 32 buckets a partition holds ~18 cameras of
          # candidate rows, and a full concat doubled peak memory and
          # copied every Arrow batch twice (round-4 visibility_big
          # regression). Sort cost is a vectorized JVM in-partition sort
          # of key columns only — noise next to the per-group kernels
          # this operator exists for.
          .sortWithinPartitions(*keys))
    cols = df.columns

    def run_partition(batches):
        cur_key: tuple | None = None
        cur_buf: list[pd.DataFrame] | None = None

        def call(key, frames):
            g = frames[0] if len(frames) == 1 else pd.concat(
                frames, ignore_index=True)
            # original column order + drop _gb: identical frame contract
            # to applyInPandas (a position-dependent fn sees df's order)
            return fn(key, g[cols].reset_index(drop=True))

        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # contiguous group runs (rows are key-sorted): ngroup codes
            # increase at group boundaries; dropna=False keeps null-keyed
            # rows as a real group, matching applyInPandas
            codes = pdf.groupby(list(keys), sort=False,
                                dropna=False).ngroup().to_numpy()
            bounds = np.flatnonzero(codes[1:] != codes[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            for s, e in zip(starts, ends):
                run = pdf.iloc[s:e]
                key = tuple(
                    None if pd.isna(v) else v
                    for v in (run.iloc[0][k] for k in keys))
                if cur_buf is not None and key == cur_key:
                    cur_buf.append(run)   # group spans an Arrow batch edge
                else:
                    if cur_buf is not None:
                        out = call(cur_key, cur_buf)
                        if out is not None and len(out):
                            yield out
                    cur_key, cur_buf = key, [run]
        if cur_buf is not None:
            out = call(cur_key, cur_buf)
            if out is not None and len(out):
                yield out

    return routed.mapInPandas(run_partition, schema=schema)
