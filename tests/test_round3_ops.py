"""Unit tests for the round-3 operators: CDC changelog application,
symmetric-delete fuzzy matching, mergeable aggregate state, and
deterministic k-means."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from survivor_processing_spark.operators.cdc import apply_changelog
from survivor_processing_spark.operators.cluster import kmeans_lloyd
from survivor_processing_spark.operators.fuzzy import fuzzy_join
from survivor_processing_spark.operators.partial_agg import (
    merge_agg_states,
    partial_agg_state,
)


# --- CDC --------------------------------------------------------------------


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, status string, price double",
    )


def test_cdc_last_op_wins_and_delete(spark):
    changes = spark.createDataFrame(
        [
            # k=1: update then delete -> gone
            (1, 1, "U", "a2", 11.0),
            (1, 2, "D", None, None),
            # k=2: two updates -> seq 2 wins
            (2, 1, "U", "b2", 21.0),
            (2, 2, "U", "b3", 22.0),
            # k=9: insert of a brand-new key
            (9, 1, "I", "new", 99.0),
        ],
        "k int, seq int, op string, status string, price double",
    )
    out = apply_changelog(
        _base(spark), changes, keys=["k"], seq_col="seq", op_col="op"
    )
    rows = {r["k"]: (r["status"], r["price"]) for r in out.collect()}
    assert 1 not in rows  # deleted
    assert rows[2] == ("b3", 22.0)  # last update wins
    assert rows[3] == ("c", 30.0)  # untouched base survives
    assert rows[9] == ("new", 99.0)  # inserted


def test_cdc_delete_then_reinsert_and_missing_delete(spark):
    changes = spark.createDataFrame(
        [
            # k=3: delete then re-insert -> latest (insert) wins
            (3, 1, "D", None, None),
            (3, 2, "I", "c2", 33.0),
            # k=7: delete of a key that never existed -> no-op
            (7, 1, "D", None, None),
        ],
        "k int, seq int, op string, status string, price double",
    )
    out = apply_changelog(
        _base(spark), changes, keys=["k"], seq_col="seq", op_col="op"
    )
    rows = {r["k"]: (r["status"], r["price"]) for r in out.collect()}
    assert rows[3] == ("c2", 33.0)
    assert 7 not in rows
    assert set(rows) == {1, 2, 3}


# --- fuzzy (symmetric-delete blocking) --------------------------------------


def test_fuzzy_dist1_complete_recall(spark):
    # one deletion, one insertion, one substitution, one exact — all
    # must surface; a distance-2 mangle must NOT
    clean = spark.createDataFrame(
        [(1, "survivor"), (2, "island"), (3, "tribal"), (4, "merge")],
        "cid int, c string",
    )
    dirty = spark.createDataFrame(
        [
            (101, "surivor"),  # deletion (dist 1)
            (102, "islands"),  # insertion (dist 1)
            (103, "tribal"),  # exact (dist 0)
            (104, "tribak"),  # substitution (dist 1)
            (105, "mxrgx"),  # dist 2 from 'merge' -> excluded
        ],
        "did int, d string",
    )
    pairs = fuzzy_join(dirty, clean, "d", "c", max_dist=1)
    got = {(r["did"], r["cid"]) for r in pairs.collect()}
    assert {(101, 1), (102, 2), (103, 3), (104, 3)} <= got
    assert not any(d == 105 for d, _ in got)
    dists = {(r["did"], r["cid"]): r["dist"] for r in pairs.collect()}
    assert dists[(103, 3)] == 0 and dists[(101, 1)] == 1


def test_fuzzy_pairs_are_unique(spark):
    # many shared deletion variants must not duplicate a pair
    clean = spark.createDataFrame([(1, "aaaa")], "cid int, c string")
    dirty = spark.createDataFrame([(9, "aaa")], "did int, d string")
    pairs = fuzzy_join(dirty, clean, "d", "c", max_dist=1).collect()
    assert len(pairs) == 1


# --- mergeable aggregate state ----------------------------------------------


def test_partial_agg_merge_equals_full_recompute(spark):
    rows = [(i % 5, float(i), i * 10) for i in range(100)]
    df = spark.createDataFrame(rows, "g int, v double, t long")
    full = partial_agg_state(
        df, ["g"], sum_cols={"sv": "v"}, max_cols={"mt": "t"}, count_col="n"
    )
    a = df.filter(F.col("t") < 500)
    b = df.filter(F.col("t") >= 500)
    merged = merge_agg_states(
        [
            partial_agg_state(x, ["g"], {"sv": "v"}, {"mt": "t"}, "n")
            for x in (a, b)
        ],
        keys=["g"],
        sum_cols=["n", "sv"],
        max_cols=["mt"],
    )
    exp = {r["g"]: (r["n"], r["sv"], r["mt"]) for r in full.collect()}
    got = {r["g"]: (r["n"], r["sv"], r["mt"]) for r in merged.collect()}
    assert got == exp


# --- k-means ----------------------------------------------------------------


def test_kmeans_recovers_planted_clusters(spark):
    # three tight, well-separated 4-d blobs; k=3 must split them exactly
    pts = []
    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0],
               [-10.0, 10.0, -10.0, 10.0]]
    vid = 0
    for ci, c in enumerate(centers):
        for j in range(10):
            eps = 0.01 * (j - 5)
            pts.append((vid, [x + eps for x in c], ci))
            vid += 1
    df = spark.createDataFrame(
        pts, "vec_id long, embedding array<double>, truth int"
    )
    out = kmeans_lloyd(df, "embedding", "vec_id", k=3, iters=4)
    # every truth-group lands in exactly one cluster, clusters distinct
    grp = (
        out.groupBy("truth")
        .agg(F.count_distinct("cluster").alias("nc"),
             F.first("cluster").alias("c"))
        .collect()
    )
    assert all(r["nc"] == 1 for r in grp)
    assert len({r["c"] for r in grp}) == 3


def test_kmeans_deterministic(spark):
    import random

    rng = random.Random(7)
    pts = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    a = {r["vec_id"]: r["cluster"]
         for r in kmeans_lloyd(df, "embedding", "vec_id", k=4, iters=3).collect()}
    b = {r["vec_id"]: r["cluster"]
         for r in kmeans_lloyd(df, "embedding", "vec_id", k=4, iters=3).collect()}
    assert a == b


# --- z-order layout ---------------------------------------------------------


def test_zorder_write_tightens_rowgroup_stats(spark, tmp_path):
    """A z-ordered rewrite (OPTIMIZE ZORDER over a snapshot table)
    must give materially narrower per-row-group min/max ranges on
    BOTH dimensions than the unsorted layout — that narrowing IS the
    data-skipping win."""
    import glob

    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        init_snapshot,
        snapshot_files,
        zorder_snapshot,
    )

    n = 4096
    df = spark.range(n).select(
        (F.col("id") % 64).alias("a"),
        (F.col("id") / 64).cast("bigint").alias("b"),
    )
    plain, zed = str(tmp_path / "plain"), str(tmp_path / "zed")
    # unsorted baseline: shuffle rows round-robin so neither column is
    # accidentally clustered, one file/row group per partition
    df.repartition(4).write.parquet(plain)
    init_snapshot(spark, zed, df)
    zorder_snapshot(spark, zed, "a", "b", n_files=16, bits=12)

    plain_files = glob.glob(f"{plain}/*.parquet")
    zed_files = [os.path.join(zed, f) for f in snapshot_files(zed)]

    def avg_span(files, col):
        spans, total = [], 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    if c.path_in_schema == col:
                        st = c.statistics
                        spans.append(st.max - st.min)
                        total += 1
        return sum(spans) / total

    # plain layout: every row group spans ~the full domain of both
    # columns; z-order: both dimensions should tighten markedly
    assert avg_span(zed_files, "a") < avg_span(plain_files, "a") * 0.5
    assert avg_span(zed_files, "b") < avg_span(plain_files, "b") * 0.5


def test_zvalue_matches_python_interleave(spark):
    """The JVM shift/mask fold must equal a reference Python Morton
    encode for arbitrary inputs across the full bit range."""
    from survivor_processing_spark.operators.zorder import zvalue

    def morton(a: int, b: int, bits: int = 16) -> int:
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321),
            (65535, 0), (1, 65534), (32768, 32767)]
    df = spark.createDataFrame(vals, "a long, b long")
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select("a", "b", zvalue("a", "b", 16).alias("z")).collect()
    }
    for a, b in vals:
        assert got[(a, b)] == morton(a, b)
