"""Triangle counting: hand-checkable graphs (triangle, square,
clique, star), normalization of direction/parallel edges/self-loops,
per-corner attribution, cross-engine equality (Spark == generated
DuckDB oracle) on fixed and randomized graphs, and a brute-force
reference check."""

from __future__ import annotations

import itertools
import random

import duckdb

from survivor_processing_spark.operators.graphstats import (
    triangle_counts,
    triangle_counts_oracle,
)

SCHEMA = "src long, dst long"


def _spark_rows(spark, edges):
    df = spark.createDataFrame(edges, SCHEMA)
    return sorted(map(tuple, triangle_counts(df).collect()))


def _duck_rows(edges):
    con = duckdb.connect()
    values = ", ".join(f"({a}, {b})" for a, b in edges)
    src = f"SELECT * FROM (VALUES {values}) AS t(src, dst)"
    return sorted(map(tuple, con.execute(triangle_counts_oracle(src)).fetchall()))


def _brute(edges):
    adj = {}
    es = set()
    for s, d in edges:
        if s == d:
            continue
        a, b = min(s, d), max(s, d)
        es.add((a, b))
    nodes = sorted({n for e in es for n in e})
    for a, b in es:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tri = {n: 0 for n in nodes}
    for u, v, w in itertools.combinations(nodes, 3):
        if (
            v in adj.get(u, ())
            and w in adj.get(u, ())
            and w in adj.get(v, ())
        ):
            tri[u] += 1
            tri[v] += 1
            tri[w] += 1
    return sorted(
        (n, len(adj.get(n, ())), tri[n], len(adj.get(n, ())) * (len(adj.get(n, ())) - 1) // 2)
        for n in nodes
    )


def test_single_triangle(spark):
    edges = [(1, 2), (2, 3), (3, 1)]
    got = _spark_rows(spark, edges)
    assert got == [(1, 2, 1, 1), (2, 2, 1, 1), (3, 2, 1, 1)]
    assert got == _duck_rows(edges)


def test_square_has_no_triangles(spark):
    edges = [(1, 2), (2, 3), (3, 4), (4, 1)]
    got = _spark_rows(spark, edges)
    assert all(r[2] == 0 for r in got)
    assert got == _duck_rows(edges)


def test_k4_clique(spark):
    edges = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    got = _spark_rows(spark, edges)
    # every node of K4 sits in C(3,2)=3 triangles; wedges C(3,2)=3
    assert got == [(n, 3, 3, 3) for n in range(4)]
    assert got == _duck_rows(edges)


def test_normalization(spark):
    # direction flips, parallel duplicates, and self-loops collapse
    edges = [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 1)]
    got = _spark_rows(spark, edges)
    assert got == _spark_rows(spark, [(1, 2), (2, 3), (3, 1)])
    assert got == _duck_rows(edges)


def test_star_hub_zero_triangles(spark):
    # the skew case the degree ordering exists for: hub degree 5,
    # zero triangles, leaves degree 1
    edges = [(0, i) for i in range(1, 6)]
    got = _spark_rows(spark, edges)
    assert got[0] == (0, 5, 0, 10)
    assert all(r == (i, 1, 0, 0) for i, r in zip(range(1, 6), got[1:]))
    assert got == _duck_rows(edges)


def test_randomized_cross_engine_and_brute(spark):
    rng = random.Random(20260815)
    for trial in range(4):
        n = rng.randrange(3, 18)
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(2, 60))
        ]
        got = _spark_rows(spark, edges)
        assert got == _duck_rows(edges), (trial, edges)
        assert got == _brute(edges), (trial, edges)
