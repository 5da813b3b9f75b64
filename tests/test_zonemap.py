"""Zone-map file skipping: the manifest matches an independent
footer reader (DuckDB parquet_metadata oracle) on single- and
multi-row-group files including numeric-vs-lexical ordering traps
("9" vs "10"), pruning never changes results (pruned scan ≡ full
scan + filter) while provably skipping files, NULL-stat files are
never skipped, and randomized range probes hold the contract."""

from __future__ import annotations

import os
import random
import shutil
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.operators.zonemap import (
    build_zonemap,
    prune_files,
    pruned_scan,
    zonemap_oracle,
)


@pytest.fixture(scope="module")
def ranged_dir(spark):
    """Four range-partitioned files over k=0..399 (k DIV 100)."""
    d = tempfile.mkdtemp()
    try:
        for part in range(4):
            tbl = pa.table(
                {
                    "k": list(range(part * 100, part * 100 + 100)),
                    "s": [f"v{i}" for i in range(100)],
                }
            )
            pq.write_table(tbl, os.path.join(d, f"part-{part}.parquet"))
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _oracle_rows(path, cols):
    con = duckdb.connect()
    return sorted(map(tuple, con.execute(zonemap_oracle(path, cols)).fetchall()))


def test_manifest_matches_duckdb(spark, ranged_dir):
    zm = build_zonemap(spark, ranged_dir, ["k", "s"])
    assert sorted(map(tuple, zm.collect())) == _oracle_rows(
        ranged_dir, ["k", "s"]
    )


def test_multi_row_group_numeric_ordering(spark):
    # values chosen so lexical min/max ("10" < "9") disagree with
    # numeric across TWO row groups — both engines must pick 9/1000
    d = tempfile.mkdtemp()
    try:
        tbl = pa.table({"k": [10, 1000, 9, 500]})
        pq.write_table(
            tbl, os.path.join(d, "rg.parquet"), row_group_size=2
        )
        zm = build_zonemap(spark, d, ["k"])
        rows = sorted(map(tuple, zm.collect()))
        assert rows == [("rg.parquet", "k", 4, "9", "1000", "numeric")]
        assert rows == _oracle_rows(d, ["k"])
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_multi_row_group_string_ordering(spark):
    # the r7 ADVICE trap: a STRING column holding numeric-looking
    # values across two row groups must merge BYTEWISE ('10' is the
    # byte-min, '9' the byte-max) on both engines; a numeric merge
    # would produce vmin='9'/vmax='1000' — bytewise-narrower than the
    # data and able to skip matching files
    d = tempfile.mkdtemp()
    try:
        tbl = pa.table({"s": ["10", "1000", "9", "500"]})
        pq.write_table(
            tbl, os.path.join(d, "rg.parquet"), row_group_size=2
        )
        zm = build_zonemap(spark, d, ["s"])
        rows = sorted(map(tuple, zm.collect()))
        assert rows == [("rg.parquet", "s", 4, "10", "9", "bytewise")]
        assert rows == _oracle_rows(d, ["s"])
        # a bytewise probe covering '500' must keep the file
        assert prune_files(zm, "s", "500", "501", cast="string") == [
            "rg.parquet"
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_prune_cast_ordering_mismatch_raises(spark, ranged_dir):
    # pruning a bytewise envelope with a numeric cast (or vice versa)
    # could skip matching files — it must raise, never guess
    zm = build_zonemap(spark, ranged_dir, ["k", "s"])
    with pytest.raises(ValueError, match="ordering mismatch"):
        prune_files(zm, "s", 4, 6, cast="bigint")
    with pytest.raises(ValueError, match="ordering mismatch"):
        prune_files(zm, "k", "4", "6", cast="string")
    with pytest.raises(ValueError, match="unsupported prune cast"):
        prune_files(zm, "k", 4, 6, cast="binary")


def test_prune_skips_and_preserves_results(spark, ranged_dir):
    zm = build_zonemap(spark, ranged_dir, ["k"])
    kept = prune_files(zm, "k", 150, 249)
    assert kept == ["part-1.parquet", "part-2.parquet"]  # 2 of 4 skipped
    got = sorted(
        r["k"]
        for r in pruned_scan(spark, ranged_dir, zm, "k", 150, 249).collect()
    )
    want = sorted(
        r["k"]
        for r in spark.read.parquet(ranged_dir)
        .filter("k BETWEEN 150 AND 249")
        .collect()
    )
    assert got == want == list(range(150, 250))


def test_empty_range_returns_empty(spark, ranged_dir):
    zm = build_zonemap(spark, ranged_dir, ["k"])
    assert prune_files(zm, "k", 5000, 6000) == []
    assert pruned_scan(spark, ranged_dir, zm, "k", 5000, 6000).count() == 0


def test_null_stats_never_skipped(spark, ranged_dir):
    zm = build_zonemap(spark, ranged_dir, ["k"]).withColumn(
        "vmin",
        F.expr("CASE WHEN file = 'part-3.parquet' THEN NULL ELSE vmin END"),
    )
    kept = prune_files(zm, "k", 0, 50)
    assert "part-3.parquet" in kept  # blind file must survive


def test_randomized_range_contract(spark, ranged_dir):
    rng = random.Random(20260815)
    zm = build_zonemap(spark, ranged_dir, ["k"])
    full = spark.read.parquet(ranged_dir)
    for _ in range(5):
        lo = rng.randrange(-50, 450)
        hi = lo + rng.randrange(0, 200)
        got = sorted(
            r["k"]
            for r in pruned_scan(
                spark, ranged_dir, zm, "k", lo, hi
            ).collect()
        )
        want = sorted(
            r["k"]
            for r in full.filter(f"k BETWEEN {lo} AND {hi}").collect()
        )
        assert got == want, (lo, hi)


@pytest.mark.parametrize("seed", [0, 1])
def test_random_layouts_match_oracle_and_prune_exactly(spark, seed, tmp_path):
    """Random file layouts and row-group sizes: the manifest equals
    the DuckDB parquet_metadata oracle, and random numeric and
    numeric-looking string ranges (bytewise ordering on both engines)
    satisfy pruned scan == full scan + filter."""
    rng = random.Random(seed)
    d = str(tmp_path)
    all_k, all_s = [], []
    for i in range(rng.randrange(1, 5)):
        ks = [rng.randrange(-1000, 1000) for _ in range(rng.randrange(1, 40))]
        ss = [str(rng.randrange(0, 2000)) for _ in ks]
        all_k += ks
        all_s += ss
        pq.write_table(
            pa.table({"k": ks, "s": ss}),
            os.path.join(d, f"f{i}.parquet"),
            row_group_size=rng.choice([2, 7, 1000]),
        )
    zm = build_zonemap(spark, d, ["k", "s"])
    assert sorted(map(tuple, zm.collect())) == _oracle_rows(d, ["k", "s"])
    lo = rng.randrange(-1100, 1100)
    hi = lo + rng.randrange(0, 800)
    got = sorted(
        r["k"] for r in pruned_scan(spark, d, zm, "k", lo, hi).collect()
    )
    assert got == sorted(x for x in all_k if lo <= x <= hi), (seed, lo, hi)
    slo = str(rng.randrange(0, 2000))
    shi = max(slo, str(rng.randrange(0, 2000)))
    got_s = sorted(
        r["s"]
        for r in pruned_scan(spark, d, zm, "s", slo, shi, cast="string").collect()
    )
    assert got_s == sorted(x for x in all_s if slo <= x <= shi), (
        seed,
        slo,
        shi,
    )


def test_zorder_layout_makes_zonemaps_pay_on_both_dims(spark):
    """The composition the two operators exist for: a z-ordered
    layout tightens BOTH dimensions' per-file envelopes, so a range
    probe on EITHER column skips most files — against a random
    layout the same probe keeps everything.  (Zone maps prune the
    file LIST; z-order is what makes the list prunable.)"""
    import tempfile

    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.snapshot import (
        init_snapshot,
        read_snapshot,
        snapshot_files,
        zorder_snapshot,
    )

    df = (
        spark.range(0, 4096)
        .select(
            (F.xxhash64("id") % 256).alias("a"),
            (F.xxhash64("id", F.lit(1)) % 256).alias("b"),
        )
        .selectExpr("abs(a) AS a", "abs(b) AS b")
    )
    d_z = tempfile.mkdtemp()
    d_r = tempfile.mkdtemp()
    try:
        init_snapshot(spark, d_z, df)
        zorder_snapshot(spark, d_z, "a", "b", n_files=16, bits=8)
        df.repartition(16).write.mode("overwrite").parquet(d_r)
        pruned = {}
        for d, files in ((d_z, snapshot_files(d_z)), (d_r, None)):
            zm = build_zonemap(spark, d, ["a", "b"], files=files)
            total = len(prune_files(zm, "a", -1, 10**9))
            kept_a = len(prune_files(zm, "a", 0, 63))
            kept_b = len(prune_files(zm, "b", 0, 63))
            pruned[d] = (total, kept_a, kept_b)
        tz, az, bz = pruned[d_z]
        tr, ar, br = pruned[d_r]
        assert ar == tr and br == tr  # random layout: nothing skips
        assert az <= tz // 2 and bz <= tz // 2  # z-order: both dims
        # and pruning never changes results, layout notwithstanding
        zm = build_zonemap(spark, d_z, ["a"], files=snapshot_files(d_z))
        got = sorted(
            (r["a"], r["b"])
            for r in pruned_scan(spark, d_z, zm, "a", 0, 63).collect()
        )
        want = sorted(
            (r["a"], r["b"])
            for r in read_snapshot(spark, d_z)
            .filter("a BETWEEN 0 AND 63")
            .collect()
        )
        assert got == want
    finally:
        shutil.rmtree(d_z, ignore_errors=True)
        shutil.rmtree(d_r, ignore_errors=True)


# --- round-9 ADVICE hardening: cast-width guard, log-driven listing ---------


def test_prune_cast_width_never_skips_blind(spark):
    """Ordering class agrees (numeric/numeric) but the requested cast
    is NARROWER than the envelope: try_cast yields NULL and the file
    must be KEPT — a NULL-casting envelope is as unprunable as a
    NULL-stat one."""
    d = tempfile.mkdtemp()
    try:
        pq.write_table(
            pa.table({"k": [5, 6, 7]}), os.path.join(d, "small.parquet")
        )
        big = 1 << 40  # far beyond int32
        pq.write_table(
            pa.table({"k": [big, big + 1]}), os.path.join(d, "huge.parquet")
        )
        zm = build_zonemap(spark, d, ["k"])
        kept = prune_files(zm, "k", 0, 10, cast="int")
        # small matches the range; huge is uncastable -> kept, not
        # silently pruned (it provably can't match, but the cast
        # can't prove it -- never skip blind)
        assert kept == ["huge.parquet", "small.parquet"]
        # the same prune at the right width CAN skip it
        assert prune_files(zm, "k", 0, 10, cast="bigint") == [
            "small.parquet"
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_directory_listing_is_log_driven(spark):
    """A table with a snapshot log lists files FROM the log: a data
    file stranded by a failed commit never leaks into the manifest
    or a pruned scan."""
    from survivor_processing_spark.operators.snapshot import commit_version

    d = tempfile.mkdtemp()
    try:
        pq.write_table(
            pa.table({"k": [1, 2, 3]}), os.path.join(d, "good.parquet")
        )
        commit_version(d, adds=["good.parquet"])
        # orphan: written, never committed
        pq.write_table(
            pa.table({"k": [100, 200]}), os.path.join(d, "orphan.parquet")
        )
        zm = build_zonemap(spark, d, ["k"])
        assert [r["file"] for r in zm.collect()] == ["good.parquet"]
        got = sorted(
            r["k"] for r in pruned_scan(spark, d, zm, "k", 0, 1000).collect()
        )
        assert got == [1, 2, 3]  # orphan rows never surface
    finally:
        shutil.rmtree(d, ignore_errors=True)
