"""Bloom filters: a distributed build for the map-side join
pre-filter, and the hash family the snapshot log's per-file key
blooms share.

One hash family serves both.  :func:`_positions` gives the k bit
positions of a key as Spark Columns (two xxhash64 lanes, enhanced
double hashing); :func:`_positions_np` gives the same positions in
numpy.  The join pre-filter below builds and probes with the Column
form.  The per-file key blooms of the snapshot log are numpy-only:
built on the driver from the files a commit just wrote
(``operators/snapshot.py`` ``file_key_blooms``) and probed on the
driver with the merge's collected source keys (``sinks/merge.py``
``plan_key_merge``).  Their bits are still Spark's xxhash64 family —
``tests/test_snapshot.py::test_positions_np_matches_spark`` holds the
two forms to bit-for-bit agreement, and the tests' Spark reference
builds and probes use the Column form.

The 100 TB join pattern this encodes: when a selective dimension
predicate keeps only a sliver of the dim, the fact side should be
cut BEFORE its shuffle, not after.  The filter over the surviving
dim keys is built distributed (explode k seed-hashes → bit
positions → word-level ``bit_or`` aggregation with map-side partial
agg), folded JVM-side into a one-row dense ``array<long>``, and
injected into the fact-side predicate as a SCALAR SUBQUERY
(:func:`bloom_filter_subquery`) — the same mechanism Spark's own
runtime bloom filter (``spark.sql.optimizer.runtime.bloomFilter``)
uses.  Membership is then a pure JVM expression (xxhash64 +
shift/mask + O(1) array index): no Python, no per-row data
movement, no shuffle of fact rows that cannot join, and NOTHING
filter-shaped ever crosses the driver.

Rejected representations, each measured: (a) carrying the filter as
a column of a 1-row broadcast join physically copies the 128 KiB
array into EVERY joined fact row (23 s for a 600k-row scan vs 1.3 s
without); (b) ``element_at`` on a MAP column is a linear scan per
probe (20 s at 16k words); (c) a parsed ``array(...)`` literal of
16k elements (:func:`bloom_filter_literal`, the previous default,
kept for plan-literal use cases) costs ~1.5 s of driver-side
ANALYSIS per query build, because the literal appears once per
probe hash in the expression tree.

Bloom filters admit false positives, never false negatives, so the
pre-filter is always followed by the exact (now much smaller) semi
join; results are exactly the un-filtered join's.  Because false
positives are repaired downstream, the probe count k trades fpp for
per-row cost — default k=3 (~2% fpp at 10 bits/key) rather than the
fpp-optimal k≈7.

Sizing: ``num_bits`` (default 2**20 bits = 128 KiB) holds ~100k keys
at 10 bits/key; beyond that the filter stays CORRECT but degrades
toward pass-through, and the exact semi join still repairs the
result.  At a larger key cardinality pass a larger ``num_bits`` —
the driver fold and plan literal grow linearly with the FILTER, not
the data.

Reference anchor: the reference pre-loads full lookup tables into
pandas before filtering (helpers/db_funcs.py:4-45); this is the
scale-safe inversion of that pattern.
"""

from __future__ import annotations

import uuid
from functools import reduce

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _positions(
    key: Column, num_bits: int | Column, num_hashes: int
) -> list[Column]:
    """k independent bit positions for ``key`` (enhanced-double-hash
    family over two xxhash64 lanes — standard Kirsch-Mitzenmacher).

    ``num_bits`` may be a Column (per-row filter size), which is how
    the tests' Spark reference build and probe of the per-file key
    blooms use it.  This and :func:`_positions_np` must agree bit for
    bit; ``tests/test_snapshot.py::test_positions_np_matches_spark``
    pins that on every key type the per-file blooms accept."""
    nb = num_bits if isinstance(num_bits, Column) else F.lit(num_bits)
    # Each lane is reduced mod num_bits BEFORE the double-hash combine
    # so the arithmetic stays far from long range (ANSI mode overflows
    # raw xxhash64 sums); the combine then needs at most
    # num_hashes * num_bits headroom.
    h1 = F.pmod(F.xxhash64(key), nb)
    h2 = F.pmod(F.xxhash64(key, F.lit(0x9E3779B9)), nb)
    return [F.pmod(h1 + F.lit(i) * h2, nb) for i in range(num_hashes)]


# Spark's XXH64 (org.apache.spark.sql.catalyst.expressions.XXH64) over
# uint64 lanes; numpy integer arrays wrap mod 2**64 like JVM longs.
_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def _xxh64_long(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashLong`` of uint64-viewed longs ``v``."""
    h = seed + _P5 + np.uint64(8)
    h = h ^ (_rotl(v * _P2, 31) * _P1)
    return _fmix(_rotl(h, 27) * _P1 + _P4)


def _xxh64_int(v: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """``XXH64.hashInt`` of uint64 lanes holding the ints' low 32 bits."""
    h = seed + _P5 + np.uint64(4)
    h = h ^ (v * _P1)
    return _fmix(_rotl(h, 23) * _P2 + _P3)


def _positions_np(
    keys: np.ndarray, num_bits: int, num_hashes: int
) -> np.ndarray:
    """:func:`_positions` on the driver: a ``(num_hashes, len(keys))``
    int64 array of the positions Spark computes for the same non-NULL
    keys.  int64 keys hash as ``hashLong`` (bigint); int8/16/32 keys
    hash as ``hashInt`` (tinyint, smallint, int, and date as days
    since the epoch).  Any other dtype raises TypeError."""
    if keys.dtype == np.int64:
        h1 = _xxh64_long(keys.view(np.uint64), np.uint64(42))
    elif keys.dtype in (np.int8, np.int16, np.int32):
        lo = keys.astype(np.int64).view(np.uint64) & np.uint64(0xFFFFFFFF)
        h1 = _xxh64_int(lo, np.uint64(42))
    else:
        raise TypeError(f"no Spark xxhash64 twin for dtype {keys.dtype}")
    # lane 2 is xxhash64(key, 0x9E3779B9L): the literal hashed as a
    # long, seeded with lane 1's raw hash
    h2 = _xxh64_long(np.full_like(h1, 0x9E3779B9), h1)
    m = np.int64(num_bits)
    a = np.mod(h1.view(np.int64), m)
    b = np.mod(h2.view(np.int64), m)
    return np.stack(
        [np.mod(a + np.int64(i) * b, m) for i in range(num_hashes)]
    )


# ONE parsed SQL string (the module's own "bloom lesson", applied to
# itself): the previous F.array(*[F.lit(1 << i) ...]) built the same
# 64 values through 64 py4j round trips — ~0.18 s of pure driver time
# PER CALL, and the bloom build / might_contain each call this three
# times per expression build.  Bit 63 is long-min; the SQL parser
# rejects the -9223372036854775808L literal (unary minus over an
# overflowing long), so the last element is a foldable shiftleft.
_POWERS_SQL = (
    "array("
    + ",".join(f"{1 << i}L" for i in range(63))
    + ",shiftleft(cast(1 as bigint),63))"
)


def _powers() -> Column:
    """64-entry literal long array: element i+1 is the word with only
    bit i set (bit 63 is long-min in two's complement).
    ``shiftleft``'s shift amount must be a Python int in PySpark, so
    dynamic single-bit masks come from this literal lookup instead.
    Built lazily — Column literals need an active SparkContext."""
    return F.expr(_POWERS_SQL)


def build_bloom_words(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> DataFrame:
    """Distributed build: the filter's non-zero words as a sparse
    ``(w int, word long)`` DataFrame, ≤ num_bits/64 rows.

    Explode to (word, bit) pairs, then one hash aggregation with
    map-side partial ``bit_or`` — no executor ever holds more than
    its own partial word set."""
    pos = keys.select(
        F.explode(
            F.array(*_positions(F.col(key_col), num_bits, num_hashes))
        ).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / F.lit(64)).cast("int").alias("w"),
            F.element_at(
                _powers(),
                F.col("p").bitwiseAND(F.lit(63)).cast("int") + F.lit(1),
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )


def bloom_filter_subquery(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> Column:
    """Materialize the filter as a SCALAR SUBQUERY over a one-row
    dense ``array<long>`` — the exact mechanism Spark's own runtime
    bloom filter (``spark.sql.optimizer.runtime.bloomFilter``) uses
    to inject a filter into a scan predicate.  The dense array is
    assembled JVM-side (sparse words ∪ zero words → bit_or per word
    → array_sort(collect_list) fold; NEVER a map build — ``m[i]`` on
    a MAP column is a linear scan, measured 20 s/probe at 16k words),
    registered as a unique temp view, and referenced as
    ``(SELECT arr FROM view)``: the subquery executes once per job
    and its result rides to executors as a runtime literal.

    Preferred over :func:`bloom_filter_literal` at every size
    because the analyzed expression tree stays O(1) nodes — a parsed
    16k-element array literal costs ~1.5 s of driver-side analysis
    per query build (it appears once per probe hash) — and because
    nothing filter-shaped crosses the driver at all.  Measured at
    ~sf1 (6M-row probe, 2^20 bits): 1.6 s/run including the
    distributed build, vs 0.7 s build + 2.3 s probe for the literal
    path.  An empty key set yields an all-zero filter (rejects
    everything) with no special case."""
    spark = keys.sparkSession
    n_words = num_bits // 64
    sparse = build_bloom_words(keys, key_col, num_bits, num_hashes)
    zeros = spark.range(n_words).select(
        F.col("id").cast("int").alias("w"),
        F.lit(0).cast("long").alias("word"),
    )
    dense = (
        sparse.union(zeros)
        .groupBy("w")
        .agg(F.bit_or("word").alias("word"))
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(w, word))),"
                " s -> s.word)"
            ).alias("arr")
        )
    )
    # cache the one-row result: might_contain's k probes embed k
    # scalar-subquery instances that Spark executes independently
    # (ReuseSubquery does not collapse them) — with the cache, probes
    # after the first cost scheduling only.  Bounded: one live cached
    # copy per call site (a superseded filter's view recomputes
    # lazily if something still references it).
    from .dedup import cache_bounded

    view = f"_bloom_words_{uuid.uuid4().hex[:12]}"
    # create the view BEFORE registering it for eviction: registering
    # first opens a race where a concurrent build evicts the
    # not-yet-created view (a no-op drop) and the one created after
    # leaks forever.  Registration second means the view always
    # exists by the time any later build's eviction drops it —
    # catalog entries no longer accumulate across rounds/bench reps
    # (ADVICE r05).  The drop itself is deferred one generation by
    # cache_bounded (ADVICE r06): the returned expression must be
    # applied to a DataFrame before the SECOND subsequent
    # bloom_filter_subquery call, or analysis fails with
    # TABLE_OR_VIEW_NOT_FOUND; a single outstanding build is safe.
    dense.createOrReplaceTempView(view)
    dense = cache_bounded("bloom_dense_words", dense, view=view)
    return F.expr(f"(SELECT arr FROM {view})")


def bloom_filter_literal(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 3,
) -> Column:
    """Materialize the filter as a dense ``array<long>`` literal.

    Runs the distributed word build, collects the BOUNDED sparse
    word list (≤ num_bits/64 two-int rows — filter-sized, never
    data-sized), gap-fills in plain Python, and emits one SQL array
    literal (single parse; per-element ``F.lit`` calls cost ~0.5 ms
    of py4j round-trip each, and a 1-row broadcast join would memcpy
    the array per fact row — see module docstring).  Eager: triggers
    one Spark job, like Spark's own runtime-filter scalar subquery."""
    n_words = num_bits // 64
    arr = [0] * n_words
    for r in build_bloom_words(keys, key_col, num_bits, num_hashes).collect():
        arr[r.w] = r.word
    return F.expr("array(" + ",".join(f"{v}L" for v in arr) + ")")


def might_contain(
    bloom: Column, key: Column, num_bits: int = 1 << 20, num_hashes: int = 3
) -> Column:
    """JVM-side membership test against a dense ``array<long>``
    filter (scalar subquery from :func:`bloom_filter_subquery`,
    literal from :func:`bloom_filter_literal`, or any array column
    with the same layout).

    True for every key that was inserted (no false negatives);
    spuriously true at the filter's false-positive rate.

    Expression shape: the k probes are ANDed checks, so ``bloom``
    appears k times.  A single-reference ``forall`` over the position
    array is NOT legal when ``bloom`` is a scalar subquery (Spark
    rejects subquery expressions inside higher-order functions), and
    the executed plan shows the k subquery instances are NOT
    collapsed by ReuseSubquery — which is why
    :func:`bloom_filter_subquery` caches its one-row dense dataset:
    executions after the first are cache hits, so the k-fold
    execution costs scheduling only."""
    checks = []
    for p in _positions(key, num_bits, num_hashes):
        w = (p / F.lit(64)).cast("int")
        bit = F.element_at(
            _powers(), p.bitwiseAND(F.lit(63)).cast("int") + F.lit(1)
        )
        # dense array: word w lives at 1-based index w+1, always present
        checks.append(F.element_at(bloom, w + F.lit(1)).bitwiseAND(bit) != 0)
    return reduce(lambda a, b: a & b, checks)


def auto_num_bits(
    n_keys: int,
    bits_per_key: int = 10,
    min_bits: int = 1 << 14,
    max_bits: int = 1 << 27,
) -> int:
    """Filter size for a key-count estimate: next power of two at or
    above ``n_keys * bits_per_key`` (10 bits/key ≈ 1% fpp at k=3),
    clamped to [min_bits, max_bits].  The max clamp (2**27 bits =
    16 MiB literal) bounds the driver fold and the plan size; past it
    the filter degrades gracefully toward pass-through and the exact
    semi join still repairs the result — at that cardinality the dim
    is no longer "a sliver" and a shuffle join is the right plan
    anyway."""
    target = max(int(n_keys) * bits_per_key, 1)
    bits = min_bits
    while bits < target and bits < max_bits:
        bits <<= 1
    return bits


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str,
    num_bits: int | None = None,
    num_hashes: int = 3,
) -> DataFrame:
    """Exact semi join of ``fact`` against ``dim_keys``, Bloom-cut.

    Plan shape: fact scan → literal-predicate membership filter
    (inside the scan stage, no join machinery touched by non-members)
    → broadcast LEFT SEMI hash join for exactness.  Equivalent to
    ``fact WHERE fact_key IN (SELECT dim_key FROM dim_keys)``.

    ``num_bits=None`` sizes the filter from the actual key count
    (one dim-side count job — dim-sized, like the build itself) at
    ~10 bits/key, so the filter stays *effective* (~1% fpp) as the
    dim grows instead of silently degrading toward pass-through.
    The filter rides as a scalar subquery
    (:func:`bloom_filter_subquery`), so the analyzed plan stays tiny
    and no filter bytes cross the driver.
    """
    if num_bits is None:
        num_bits = auto_num_bits(dim_keys.count())
    blit = bloom_filter_subquery(dim_keys, dim_key, num_bits, num_hashes)
    pre = fact.filter(
        might_contain(blit, F.col(fact_key), num_bits, num_hashes)
    )
    dim = dim_keys.select(F.col(dim_key).alias("__bloom_dk")).distinct()
    return pre.join(
        F.broadcast(dim),
        on=pre[fact_key] == dim["__bloom_dk"],
        how="left_semi",
    )
