"""Portable PageRank: pure-Python reference equality on
hand-checkable graphs, cross-engine equality (Spark == generated
DuckDB oracle) on a deterministic orders-derived graph and on
randomized digraphs, plus the overflow guard and empty edge."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.pagerank import (
    pagerank_portable,
    pagerank_portable_oracle,
)

SCALE = 1_000_000_000


def _reference(edges, n_iters, scale=SCALE):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    base = 15 * scale // 100
    rank = {n: scale for n in nodes}
    for _ in range(n_iters):
        inc = {n: 0 for n in nodes}
        for s, d in edges:
            inc[d] += (85 * rank[s]) // (100 * outdeg[s])
        rank = {n: base + inc[n] for n in nodes}
    return rank


def _spark_ranks(spark, edges, n_iters):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["rank"]
        for r in pagerank_portable(df, n_iters=n_iters).collect()
    }


def _duck_ranks(edges, n_iters):
    con = duckdb.connect()
    con.register(
        "edges",
        pd.DataFrame(edges, columns=["src", "dst"]).astype("int64"),
    )
    return dict(con.execute(pagerank_portable_oracle(n_iters)).fetchall())


def test_pagerank_star_sink(spark):
    # 1,2,3 all point at 0: node 0 accumulates, others hold base+
    edges = [(1, 0), (2, 0), (3, 0)]
    got = _spark_ranks(spark, edges, n_iters=3)
    assert got == _reference(edges, 3)
    assert got[0] > got[1] == got[2] == got[3]


def test_pagerank_cycle_symmetry(spark):
    # 3-cycle: mass is symmetric, every node equal at every iter
    edges = [(0, 1), (1, 2), (2, 0)]
    got = _spark_ranks(spark, edges, n_iters=4)
    assert got == _reference(edges, 4)
    assert len(set(got.values())) == 1


def test_pagerank_dangling_leak(spark):
    # 0 -> 1, 1 dangling: total mass shrinks toward bases
    edges = [(0, 1)]
    got = _spark_ranks(spark, edges, n_iters=2)
    assert got == _reference(edges, 2)


def test_pagerank_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank_portable(df, n_iters=2).collect() == []


def test_pagerank_overflow_guard(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="overflow"):
        pagerank_portable(df, n_iters=1, scale=2**62)


def test_pagerank_cross_engine_orders_graph(spark):
    # deterministic host-graph stand-in derived from orders:
    # custkey-bucket links to orderkey-bucket (parallel edges real)
    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    edges_df = orders.selectExpr(
        "o_custkey % 97 AS src", "o_orderkey % 89 AS dst"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank_portable(edges_df, n_iters=4).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW edges AS SELECT o_custkey % 97 AS src,"
        " o_orderkey % 89 AS dst FROM"
        f" read_parquet('{sf}/orders.parquet')"
    )
    want = dict(con.execute(pagerank_portable_oracle(4)).fetchall())
    assert got == want
    assert len(got) >= 89


@pytest.mark.parametrize("seed", [5, 19])
def test_pagerank_cross_engine_randomized(spark, seed):
    # self-loops, parallel edges, dangling nodes and disconnected
    # components all arise from uniform endpoint draws
    rng = random.Random(seed)
    n = rng.randint(2, 60)
    edges = [
        (rng.randrange(n), rng.randrange(n))
        for _ in range(rng.randint(1, 5 * n))
    ]
    iters = rng.randint(1, 6)
    got = _spark_ranks(spark, edges, n_iters=iters)
    assert got == _duck_ranks(edges, iters), (seed, n, len(edges), iters)
    assert got == _reference(edges, iters), (seed, n, len(edges), iters)


def test_bucketed_fanout_matches_default_and_skips_edge_exchange(spark):
    """The at-scale layout: ranks identical to the in-memory path,
    and under forced SMJ (the beyond-broadcast regime) the bucketed
    edge scan joins WITHOUT an Exchange on the edge side — the rank
    side is the only per-iteration shuffle."""
    import uuid

    import pyspark.sql.functions as F

    edges = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tbl = f"pr_fanout_{uuid.uuid4().hex[:8]}"
    try:
        want = sorted(
            map(tuple, pagerank_portable(df, n_iters=3).collect())
        )
        got = sorted(
            map(
                tuple,
                pagerank_portable(
                    df, n_iters=3, bucket_table=tbl
                ).collect(),
            )
        )
        assert got == want
        # plan shape: bucketed scan ⋈ ranks with NO exchange on the
        # bucketed side even when broadcast is disabled
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        try:
            fanout = spark.table(tbl)
            ranks = df.select(F.col("src").alias("node")).distinct()
            j = fanout.join(
                ranks.withColumnRenamed("node", "src"), "src"
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan
            # the rank side's exchange is the plan's only Exchange:
            # the bucketed fanout branch has none
            assert plan.count("Exchange") == 1
            assert "Exchange hashpartitioning(node" in plan
            control = fanout.join(
                spark.table(tbl).withColumnRenamed("dst", "d2"),
                "src",
            )
            # (sanity of the probe itself: joining two bucketed scans
            # needs NO exchange at all)
            cplan = control._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning(src" not in cplan
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
