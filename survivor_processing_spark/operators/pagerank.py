"""Engine-portable integer-lane PageRank — link-graph quality
scores for corpus curation.

Web-scale training-data pipelines filter documents by host-level
link-graph centrality (the public CommonCrawl curation recipe:
harmonic/PageRank centrality over the host web graph picks the
crawl frontier and downweights spam hosts).  The reference pipeline
has no graph operator; this is a training-data extension alongside
the quality family (q:quality_filter_chain, q:quality_model_score).

Portability (the techniques in MEMORY's portable-oracle playbook,
proven on Lloyd k-means):

- ranks live in INTEGER lanes (``scale`` = 1e9 per node at init);
  every update is ``base + Σ (85 · r_j) intdiv (100 · outdeg_j)``
  over in-neighbors — BIGINT multiply + integer division, bit-exact
  in any engine.  All values are positive, so Spark ``DIV`` and
  DuckDB ``//`` (both truncate toward zero) agree with floor.
- overflow guard: total mass never grows (damping < 1), so
  ``85 · rank ≤ 85 · n_nodes · scale`` must stay below 2^62;
  asserted at call time.
- dangling nodes (outdeg 0) leak their mass — the documented
  variant choice (same as Spark's own GraphX example); the damping
  base keeps every node's rank ≥ base.
- ``pagerank_portable_oracle`` mechanically GENERATES the DuckDB
  replay (one contrib+rank CTE pair per iteration from the same
  parameters) so SQL cannot drift from the loop.

Scale shape (the classic two-shuffle iteration): contribs =
edges ⋈ ranks on src (one shuffle keyed by src — co-partition
edges and ranks on src via ``repartition`` once, reuse every
iteration), then groupBy(dst) SUM (second shuffle, map-side
combine).  Driver traffic is ZERO — no collect; the loop only
chains DataFrames, with ``localCheckpoint`` per iteration to
truncate lineage (single-JVM test scale; persist(MEMORY_AND_DISK)
+ unpersist of the previous iteration on a real cluster).  At
100 TB the edge table dominates; bucketing it by src on disk makes
every iteration's first join shuffle-free.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

DAMP_NUM, DAMP_DEN = 85, 100


def pagerank_portable(
    edges: DataFrame,
    n_iters: int = 5,
    scale: int = 1_000_000_000,
    src: str = "src",
    dst: str = "dst",
    bucket_table: str | None = None,
) -> DataFrame:
    """Integer-lane PageRank over ``edges[src, dst]`` (bigint node
    ids; parallel edges count once per row).  Returns
    ``node bigint, rank bigint`` — rank in lanes of ``1/scale``.

    ``bucket_table`` selects the at-scale fanout layout: the
    (src, dst, outdeg) table is WRITTEN ONCE bucketed+sorted by src
    under that name, and every iteration's edge⋈ranks join reads the
    bucketed scan — Spark's bucketed SMJ then exchanges ONLY the
    (node-sized) rank side, never the edge table (plan-asserted in
    tests/test_pagerank.py).  This matters because a checkpointed
    DataFrame loses its outputPartitioning to the planner: under the
    default in-memory layout the broadcast regime hides it (tiny
    rank side ⇒ BHJ, no fanout shuffle), but once ranks exceed the
    broadcast threshold a plain checkpoint would re-shuffle the
    EDGE table every iteration — the exact cost bucketing exists to
    amortize.  The caller owns dropping the table afterwards."""
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        # nodes feeds the init ranks AND every iteration's left join;
        # unpinned, each consumer re-ran the scan+union+distinct.  The
        # count() below materializes the lazy checkpoint, so the node
        # set is computed exactly once per call
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0).cast("long"))
    if DAMP_NUM * n_nodes * scale >= 2**62:
        raise ValueError(
            f"integer-lane overflow risk: {n_nodes} nodes at scale "
            f"{scale} — lower scale"
        )
    base = (DAMP_DEN - DAMP_NUM) * scale // DAMP_DEN
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # src -> (dst, outdeg) joined once; reused every iteration
    fanout_raw = e.join(
        outdeg.withColumnRenamed("node", "src"), on="src", how="inner"
    )
    if bucket_table is not None:
        spark = edges.sparkSession
        # one bucket per shuffle partition, so the other join side's
        # exchange lines up with the buckets at any core count
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        (
            fanout_raw.write.bucketBy(n_buckets, "src")
            .sortBy("src")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(bucket_table)
        )
        fanout = spark.table(bucket_table)
    else:
        fanout = fanout_raw.repartition("src").localCheckpoint()

    ranks = nodes.withColumn("rank", F.lit(int(scale)).cast("long"))
    for t in range(n_iters):
        # lazy checkpoint every FOURTH iteration (the bpe-train
        # cadence): each lazy checkpoint still costs a full physical-
        # planning pass of the accumulated plan (~0.3-0.4 s at bench
        # scale — Dataset.localCheckpoint resolves the RDD even when
        # eager=False), so letting up to 4 iterations chain bounds
        # plan depth while paying the planning pass 4x less often
        # (measured at the 3-iteration gate: per-iteration 1.7-2.3 s,
        # none 1.5 s, hash-identical; stats carry over either way so
        # the join regime is unchanged).  Unbounded lineage remains
        # the high-n_iters risk, hence every-4, not never.
        if t > 0 and t % 4 == 0:
            ranks = ranks.localCheckpoint(eager=False)
        contribs = (
            fanout.join(
                ranks.withColumnRenamed("node", "src"), on="src", how="inner"
            )
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"({DAMP_NUM} * rank) DIV ({DAMP_DEN} * outdeg)"
                ).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inc"))
        )
        ranks = nodes.join(contribs, on="node", how="left").select(
            "node",
            (F.lit(int(base)) + F.coalesce(F.col("inc"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
    return ranks


def pagerank_portable_oracle(
    n_iters: int = 5,
    scale: int = 1_000_000_000,
    edges_sql: str = "SELECT src, dst FROM edges",
) -> str:
    """Generate the DuckDB SQL replaying :func:`pagerank_portable`
    — one (c{t}, r{t}) CTE pair per iteration, same parameters."""
    base = (DAMP_DEN - DAMP_NUM) * scale // DAMP_DEN
    parts = [
        f"""WITH e AS (
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
    FROM ({edges_sql}) raw
),
nodes AS (
    SELECT src AS node FROM e UNION SELECT dst FROM e
),
outdeg AS (
    SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY src
),
fanout AS (
    SELECT e.src, e.dst, o.outdeg FROM e JOIN outdeg o USING (src)
),
r0 AS (
    SELECT node, CAST({int(scale)} AS BIGINT) AS rank FROM nodes
)"""
    ]
    for t in range(n_iters):
        parts.append(
            f""",
c{t} AS (
    SELECT f.dst AS node,
           CAST(SUM(({DAMP_NUM} * r.rank) // ({DAMP_DEN} * f.outdeg))
                AS BIGINT) AS inc
    FROM fanout f JOIN r{t} r ON r.node = f.src
    GROUP BY f.dst
),
r{t + 1} AS (
    SELECT n.node,
           CAST({int(base)} + COALESCE(c.inc, 0) AS BIGINT) AS rank
    FROM nodes n LEFT JOIN c{t} c USING (node)
)"""
        )
    parts.append(f"\nSELECT node, rank FROM r{n_iters} ORDER BY node")
    return "".join(parts)
