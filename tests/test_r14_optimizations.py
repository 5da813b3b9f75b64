"""Round-14 optimization internals: pinned behaviors.

The r14 changes are plan/driver-side with bit-identical outputs
(oracle-verified); these tests pin the internals a future
refactor could silently regress:

1. the parsed `_powers()` literal is element-for-element the bit
   masks the per-element `F.lit` loop used to build (bit 63 = long
   min via two's complement);
2. `catalog.load_table` memoizes the scan handle per
   (application, sf_dir, table) — same object back, distinct per
   sf_dir, and the handle still serves correct data;
3. the write/compute sizing helpers stay shrink-only WITHOUT their
   former partition probe: a target above the child's partition
   count must not raise it;
4. `explode_posting_pairs` (the two-Generate posting-pair emission
   that replaced the interpreted flatten(transform(transform)) HOF)
   emits exactly the (i, j>i) pair multiset — every unordered pair
   once, none mirrored, none dropped, size-1 postings silent.
"""

from __future__ import annotations


def test_powers_literal_matches_bit_masks(spark):
    from survivor_processing_spark.operators.bloom import _powers

    row = spark.range(1).select(_powers().alias("p")).collect()[0]
    got = list(row["p"])
    want = [1 << i for i in range(63)] + [-(1 << 63)]
    assert got == want


def test_load_table_memoizes_per_sf_dir(spark):
    from survivor_processing_spark.catalog import load_table

    a1 = load_table(spark, "/root/testdata/sf0.001", "nation")
    a2 = load_table(spark, "/root/testdata/sf0.001", "nation")
    b = load_table(spark, "/root/testdata/sf0.01", "nation")
    assert a1 is a2  # memo hit: the identical analyzed handle
    assert a1 is not b  # keyed by sf_dir
    # the handle is a plan, not a result: actions still compute
    assert a1.count() == 25
    assert set(a1.columns) >= {"n_nationkey", "n_name"}


def test_sizing_helpers_never_raise_partition_count(spark):
    from survivor_processing_spark.sinks.merge import (
        sized_for_compute,
        sized_for_write,
    )

    df = spark.range(0, 1000).repartition(4)
    # want >> current: coalesce is a no-op, never an expansion
    wide = sized_for_write(df, est_rows=10_000_000_000)
    assert wide.rdd.getNumPartitions() == 4
    wide2 = sized_for_compute(df, est_rows=10_000_000_000)
    assert wide2.rdd.getNumPartitions() == 4
    # want < current: shrinks exactly as before
    assert sized_for_write(df, est_rows=1).rdd.getNumPartitions() == 1
    assert sized_for_compute(df, est_rows=1).rdd.getNumPartitions() == 1


def test_explode_posting_pairs_matches_hof_enumeration(spark):
    """The nested-Generate emission must reproduce the old HOF's pair
    stream exactly: for a posting [e1..em] every unordered pair once
    (as a multiset — the count strategy's groupBy counts emissions),
    y strictly after x in posting order, singletons/empties silent."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.dedup import (
        explode_posting_pairs,
    )

    rows = [([10, 30, 20, 40],), ([7, 5],), ([1],), ([],)]
    df = spark.createDataFrame(rows, "ids: array<bigint>")
    got = sorted(
        (r["x"], r["y"])
        for r in explode_posting_pairs(df).collect()
    )
    want = []
    for (ids,) in rows:
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                want.append((ids[i], ids[j]))
    assert got == sorted(want)
    # normalized the way every call site does: least/greatest
    norm = explode_posting_pairs(df).select(
        F.least("x", "y").alias("id1"), F.greatest("x", "y").alias("id2")
    )
    assert all(r["id1"] < r["id2"] for r in norm.collect())
