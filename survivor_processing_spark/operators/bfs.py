"""Multi-source BFS shortest hop counts over a link graph — the
traversal member of the graph family (connected components:
operators/dedup.py:519; centrality: operators/pagerank.py).

A training-data pipeline uses it as crawl-frontier accounting:
"every page within h hops of the seed list" is the classic
quality-propagation set (seed-distance features are the public
Common Crawl curation recipe alongside centrality), and "which
quarantined entity links reach a trusted root in ≤ h steps" is the
resolve-cascade variant.  The reference has no graph surface; this
is part of the beyond-reference mandate.

Spark-first shape — level-synchronous frontier BFS, the standard
Pregel-style formulation:

1. edges are canonicalized and repartitioned by ``src`` ONCE; every
   iteration's frontier join reuses that partitioning, so each hop
   is one shuffle of the (small) frontier plus one min-aggregation,
   never a re-shuffle of the edge table;
2. only nodes DISCOVERED at hop t expand at t+1 (the frontier
   filter) — re-expanding the whole visited set would do
   O(levels × reached) join work for identical output;
3. the visited set is localCheckpointed per hop to truncate the
   growing lineage (cluster: persist MEMORY_AND_DISK and unpersist
   the previous level, same note as the other iterative operators);
   driver traffic is ZERO — levels never collect.

ENGINE-PORTABLE by construction: integer levels, MIN aggregation,
no RNG, no engine-private hash; :func:`bfs_levels_oracle`
mechanically generates the DuckDB replay (one frontier CTE per hop
from the same parameters).  Unreachable nodes simply don't appear;
declared sources appear at level 0 even when isolated.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.sql_literals import sql_long_array


def bfs_levels(
    edges: DataFrame,
    sources: list[int],
    n_iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    bucket_table: str | None = None,
) -> DataFrame:
    """Shortest hop count from any of ``sources`` along directed
    ``edges[src, dst]``, explored for ``n_iters`` hops.  Returns
    ``node bigint, level int`` for every node reached within the
    horizon (exact shortest distance once ``n_iters`` ≥ the graph
    diameter).

    ``bucket_table`` selects the at-scale edge layout (same design
    as ``pagerank_portable``): the canonical edge table is written
    ONCE bucketed+sorted by src under that name, and every hop's
    frontier⋈edges join reads the bucketed scan — once a frontier
    outgrows the broadcast threshold, bucketed SMJ exchanges ONLY
    the frontier side, never the edges (a checkpointed DataFrame
    loses its outputPartitioning to the planner, so the in-memory
    layout only avoids the edge shuffle while the frontier still
    broadcasts).  The caller owns dropping the table afterwards."""
    if not sources:
        raise ValueError("sources must be non-empty")
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    spark = edges.sparkSession
    canonical = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    if bucket_table is not None:
        # one bucket per shuffle partition, so the other join side's
        # exchange lines up with the buckets at any core count
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        (
            canonical.write.bucketBy(n_buckets, "src")
            .sortBy("src")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(bucket_table)
        )
        e = spark.table(bucket_table)
    else:
        e = canonical.repartition("src").localCheckpoint(eager=True)
    # source list as ONE parsed literal (the py4j literal lesson)
    seeds = sorted({int(s) for s in sources})
    levels = spark.sql(
        f"SELECT explode({sql_long_array(seeds)}) AS node,"
        " cast(0 as int) AS level"
    )
    for t in range(n_iters):
        frontier = levels.where(F.col("level") == t)
        expanded = frontier.join(
            e, frontier.node == e.src
        ).select(F.col("dst").alias("node"), F.lit(t + 1).alias("level"))
        levels = (
            levels.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("level").cast("int").alias("level"))
            .localCheckpoint(eager=True)
        )
    return levels


def bfs_levels_oracle(
    sources: list[int],
    n_iters: int = 4,
    edges_sql: str = "SELECT src, dst FROM edges",
) -> str:
    """Mechanically generate the DuckDB SQL replaying
    :func:`bfs_levels` — one frontier-expansion CTE per hop from the
    same parameters."""
    seeds = sorted({int(s) for s in sources})
    vals = ", ".join(f"({s})" for s in seeds)
    parts = [
        f"""WITH e AS (
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
    FROM ({edges_sql}) raw
),
l0 AS (
    SELECT CAST(v AS BIGINT) AS node, 0 AS level
    FROM (VALUES {vals}) t(v)
)"""
    ]
    for t in range(n_iters):
        parts.append(
            f""",
l{t + 1} AS (
    SELECT node, MIN(level) AS level FROM (
        SELECT node, level FROM l{t}
        UNION ALL
        SELECT e.dst AS node, {t + 1} AS level
        FROM (SELECT node FROM l{t} WHERE level = {t}) f
        JOIN e ON e.src = f.node
    ) GROUP BY node
)"""
        )
    parts.append(
        f"\nSELECT node, CAST(level AS INTEGER) AS level FROM l{n_iters}"
    )
    return "".join(parts)
