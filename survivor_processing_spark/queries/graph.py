"""Graph-analytics gating queries (round-8 queue registrations):
integer-lane PageRank and multi-source BFS hop levels over the
customer→order link graph.

Both operators were unit-gated under the r7 registration freeze
(ROTATION_r07.md) with mechanically generated DuckDB oracles — the
oracle SQL below is EMITTED by the same generators the fuzz families
exercise (operators/pagerank.py, operators/bfs.py), so the
registered contract cannot drift from the loop structure.

Scale shape (both): edges repartition on src ONCE and are pinned
with localCheckpoint; every iteration reuses that partitioning with
zero driver traffic beyond the loop counter (bfs.py:65,
pagerank.py:83) — the O(iters) shuffle-reuse plan a 1000-executor
link graph needs.  Integer lanes make every rank/level exactly
replayable cross-engine (no fp summation order).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..operators.bfs import bfs_levels as _bfs_levels
from ..operators.graphstats import triangle_counts as _triangle_counts
from ..operators.graphstats import triangle_counts_oracle
from ..operators.bfs import bfs_levels_oracle
from ..operators.pagerank import pagerank_portable as _pagerank
from ..operators.pagerank import pagerank_portable_oracle
from ._registry import register

# The link graph: customers point at (bucketed) orders they placed —
# a bipartite-ish directed graph whose in-degree skew (popular order
# buckets) exercises the hub arithmetic.  Same derivation string on
# both engines.
_EDGES_SQL = "SELECT o_custkey AS src, o_orderkey % 100000 AS dst FROM orders"

# Fixed, data-independent BFS sources: seeds enter the frontier at
# level 0 whether or not they occur in the edge list (both engines
# replay the same rule), so the seed set needs no data probe.
_BFS_SOURCES = [1, 2, 3, 4, 5]


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 100000).alias("dst"),
    )


@register(
    "pagerank_portable",
    doc="integer-lane PageRank (operators/pagerank.py): 3 power "
    "iterations at damping 85/100 over the customer→order-bucket "
    "link graph, rank in exact 1e-9 lanes (contrib = (85*rank) DIV "
    "(100*outdeg), dangling mass dropped — the classic "
    "simplification, identical both engines).  Edges repartition on "
    "src once and are reused every iteration; driver traffic is the "
    "loop counter only.  Oracle is EMITTED by "
    "pagerank_portable_oracle — one (c{t}, r{t}) CTE pair per "
    "iteration from the same parameters (randomized in "
    "tests/test_pagerank.py::test_pagerank_cross_engine_randomized)",
    oracle=pagerank_portable_oracle(n_iters=3, edges_sql=_EDGES_SQL),
)
def pagerank_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pagerank(_edges(spark, sf_dir), n_iters=3)


@register(
    "bfs_levels",
    doc="multi-source BFS shortest hop counts (operators/bfs.py): 3 "
    "frontier expansions from fixed seeds {1..5} over the customer→"
    "order-bucket graph — level = exact shortest distance within the "
    "horizon, min-merged per node each hop.  Edges repartition on "
    "src once (checkpointed) and every hop reuses the partitioning.  "
    "Oracle is EMITTED by bfs_levels_oracle — one frontier CTE per "
    "hop from the same seeds (randomized in "
    "tests/test_bfs.py::test_bfs_cross_engine_random)",
    oracle=bfs_levels_oracle(
        sources=_BFS_SOURCES, n_iters=3, edges_sql=_EDGES_SQL
    ),
)
def bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs_levels(_edges(spark, sf_dir), _BFS_SOURCES, n_iters=3)


@register(
    "triangle_counts",
    doc="exact per-node triangle participation over the undirected "
    "customer-order link graph under driver gating "
    "(operators/graphstats.py — queued since r7, registered r10; "
    "completes the graph family beside q:pagerank_portable and "
    "q:bfs_levels): the degree-ordered node-iterator (Schank-Wagner "
    "2005 / Suri-Vassilvitskii WWW'11) orients each edge from the "
    "smaller (degree, id) rank, emits wedges only from shared "
    "lower-rank endpoints, and closes them against the oriented edge "
    "set — O(m^1.5) wedge volume instead of sum(deg^2), so one "
    "celebrity host cannot blow the shuffle.  All BIGINT relational "
    "algebra (distinct, two grouped counts, three equi-joins), "
    "bit-portable by construction; emits degree and n_wedges = "
    "deg*(deg-1)/2 so clustering coefficients stay an exact rational "
    "downstream.  Oracle EMITTED by triangle_counts_oracle over the "
    "same edge derivation (randomized in tests/test_graphstats.py::"
    "test_randomized_cross_engine_and_brute)",
    oracle=triangle_counts_oracle(_EDGES_SQL),
)
def triangle_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the SAME _edges every graph gate (and _EDGES_SQL oracle twin)
    # shares — one derivation, no drift
    return _triangle_counts(_edges(spark, sf_dir))
