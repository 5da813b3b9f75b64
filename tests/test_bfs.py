"""Multi-source BFS levels: pure-Python reference equality,
cross-engine equality (Spark == generated DuckDB oracle) on hand,
random, and orders-derived graphs, and the horizon/isolated-source
edges."""

from __future__ import annotations

import random
from collections import deque

import duckdb
import pandas as pd
import pytest

from survivor_processing_spark.operators.bfs import (
    bfs_levels,
    bfs_levels_oracle,
)


def _reference_bfs(edges, sources, n_iters):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    level = {s: 0 for s in set(sources)}
    q = deque((s, 0) for s in sorted(set(sources)))
    while q:
        node, lv = q.popleft()
        if lv >= n_iters:
            continue
        for nb in adj.get(node, []):
            if nb not in level:
                level[nb] = lv + 1
                q.append((nb, lv + 1))
    return level


def _spark_bfs(spark, edges, sources, n_iters):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["level"]
        for r in bfs_levels(df, sources, n_iters=n_iters).collect()
    }


def _duck_bfs(edges, sources, n_iters):
    con = duckdb.connect()
    con.register(
        "edges",
        pd.DataFrame(edges, columns=["src", "dst"]).astype("int64"),
    )
    return dict(
        con.execute(bfs_levels_oracle(sources, n_iters)).fetchall()
    )


def test_bfs_hand_graph(spark):
    # 0->1->2->3 chain plus a shortcut 0->2 and an isolated source 9
    edges = [(0, 1), (1, 2), (2, 3), (0, 2), (5, 6)]
    got = _spark_bfs(spark, edges, [0, 9], 4)
    assert got == {0: 0, 9: 0, 1: 1, 2: 1, 3: 2}
    assert got == _duck_bfs(edges, [0, 9], 4)
    assert got == _reference_bfs(edges, [0, 9], 4)


def test_bfs_horizon_truncates(spark):
    edges = [(0, 1), (1, 2), (2, 3)]
    got = _spark_bfs(spark, edges, [0], 2)
    assert got == {0: 0, 1: 1, 2: 2}  # node 3 beyond the horizon
    assert got == _duck_bfs(edges, [0], 2)


def test_bfs_cycle_and_parallel_edges(spark):
    edges = [(0, 1), (0, 1), (1, 0), (1, 1), (1, 2)]
    got = _spark_bfs(spark, edges, [0], 5)
    assert got == {0: 0, 1: 1, 2: 2}
    assert got == _duck_bfs(edges, [0], 5)


def test_bfs_cross_engine_random(spark):
    # self-loops, parallel edges and unreachable components arise
    # from uniform endpoint draws; iters 0 is the sources-only horizon
    rng = random.Random(17)
    for _ in range(3):
        n = rng.randint(3, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(1, 4 * n))
        ]
        sources = rng.sample(range(n), rng.randint(1, min(4, n)))
        iters = rng.randint(0, 6)
        got = _spark_bfs(spark, edges, sources, iters)
        drawn = (n, len(edges), sources, iters)
        assert got == _duck_bfs(edges, sources, iters), drawn
        assert got == _reference_bfs(edges, sources, iters), drawn


def test_bfs_orders_derived(spark):
    # real-table shape: customer -> order edges from sf0.001
    orders = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet"
    ).limit(500)
    edges_df = orders.selectExpr(
        "o_custkey AS src", "o_orderkey AS dst"
    )
    rows = [(r["src"], r["dst"]) for r in edges_df.collect()]
    sources = sorted({s for s, _ in rows})[:5]
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(edges_df, sources, n_iters=2).collect()
    }
    assert got == _duck_bfs(rows, sources, 2)
    # the id spaces overlap (an orderkey can equal another custkey),
    # so 2-hop chains exist; just pin the horizon and source levels
    assert all(0 <= lv <= 2 for lv in got.values())
    assert all(got[s] == 0 for s in sources)


def test_bfs_validation(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        bfs_levels(df, [])
    with pytest.raises(ValueError):
        bfs_levels(df, [0], n_iters=-1)
    # n_iters=0: sources only
    assert _spark_bfs(spark, [(0, 1)], [0], 0) == {0: 0}


def test_bucketed_edges_match_default_and_skip_edge_exchange(spark):
    """The at-scale layout (mirror of the PageRank design): levels
    identical to the in-memory path, and under forced SMJ the
    bucketed edge scan joins WITHOUT an Exchange on the edge side."""
    import uuid

    import pyspark.sql.functions as F

    edges = [(1, 2), (2, 3), (3, 4), (1, 4), (5, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    tbl = f"bfs_edges_{uuid.uuid4().hex[:8]}"
    try:
        want = sorted(
            map(tuple, bfs_levels(df, [1], n_iters=3).collect())
        )
        got = sorted(
            map(
                tuple,
                bfs_levels(
                    df, [1], n_iters=3, bucket_table=tbl
                ).collect(),
            )
        )
        assert got == want
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"
        )
        try:
            e = spark.table(tbl)
            frontier = df.select(F.col("src").alias("node")).distinct()
            plan_b = (
                frontier.join(e, frontier.node == e.src)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            # control: the same join against a plain (non-bucketed)
            # edge frame pays one MORE exchange — the edge side's
            plan_c = (
                frontier.join(df, frontier.node == df.src)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "Bucketed: true" in plan_b
            # precise invariant: the edge-side exchange partitions by
            # src — present in the control, absent when bucketed
            assert "Exchange hashpartitioning(src" not in plan_b
            assert "Exchange hashpartitioning(src" in plan_c
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
