"""Behavioral-mining and matching queries (round 3): ordered funnel
analysis, guaranteed-recall fuzzy matching, equi-width histograms,
and deterministic k-means clustering.

The fuzzy matcher is the scalable replacement for the reference's
``difflib.get_close_matches`` name reconciliation (reference:
helpers + data/interim/truedorks_contestant_namemap.yaml); the rest
extend the E/F aggregation families with the event-sequence and
clustering shapes an LLM-corpus pipeline needs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..operators.cluster import kmeans_lloyd
from ..operators.fuzzy import fuzzy_join
from ._registry import register


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


# --- F-family: ordered funnel (view -> click -> purchase) --------------------


@register(
    "funnel_stage_counts",
    doc="strictly-ordered three-stage funnel per user (first view, "
    "first click AFTER it, first purchase after that) — three chained "
    "conditional-min windows over ONE user_id partitioning: Catalyst "
    "plans a single Exchange and the Window nodes share the sort, so "
    "the whole funnel is one shuffle regardless of stage count; "
    "oracle is the identical window chain in SQL",
    oracle="""
WITH s1 AS (
    SELECT user_id, ts, event_type,
           MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM events
), s2 AS (
    SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2
    FROM s1
), s3 AS (
    SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t2 THEN ts END)
                  OVER (PARTITION BY user_id) AS t3
    FROM s2
), u AS (
    SELECT user_id, MAX(t1) AS t1, MAX(t2) AS t2, MAX(t3) AS t3
    FROM s3 GROUP BY user_id
)
SELECT 'view' AS stage, 1 AS stage_no, COUNT(t1) AS n_users FROM u
UNION ALL
SELECT 'click', 2, COUNT(t2) FROM u
UNION ALL
SELECT 'purchase', 3, COUNT(t3) FROM u
""",
)
def funnel_stage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    u = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    # ONE pass: per-stage counts land in a single row, then unpivot —
    # a 3-way union of selects over `u` would recompute the whole
    # window chain per branch (3x the scan and shuffles)
    counts = u.agg(
        F.count("t1").alias("n1"),
        F.count("t2").alias("n2"),
        F.count("t3").alias("n3"),
    )
    return counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view").alias("stage"),
                    F.lit(1).alias("stage_no"),
                    F.col("n1").alias("n_users"),
                ),
                F.struct(
                    F.lit("click").alias("stage"),
                    F.lit(2).alias("stage_no"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit("purchase").alias("stage"),
                    F.lit(3).alias("stage_no"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.stage", "s.stage_no", "s.n_users")


# --- D9 at scale: guaranteed-recall fuzzy match ------------------------------


@register(
    "fuzzy_name_match_dist2",
    doc="edit-distance-2 name reconciliation via TWO-round "
    "symmetric-delete blocking (operators/fuzzy.py fuzzy_join "
    "max_dist=2): a doubly-corrupted copy of 1-in-10 customer names "
    "(two deterministic char deletions) re-matches the clean roster "
    "through one hash equi-join on depth-2 deletion variants + JVM "
    "levenshtein verify — 100% recall at dist ≤ 2 by the SymSpell "
    "depth-2 guarantee, candidates O(n·len²) not O(n²) (mirrors the "
    "reference's loose difflib cascade, episodes_transform.py:218-240)."
    "  Oracle is the naive all-pairs levenshtein join (exact ground "
    "truth)",
    oracle="""
WITH dirty1 AS (
    SELECT c_custkey, c_custkey + 2000000 AS d_key,
           substr(c_name, 1, c_custkey % length(c_name)) ||
           substr(c_name, (c_custkey % length(c_name)) + 2) AS d1
    FROM customer
    WHERE c_custkey % 10 = 7
), dirty AS (
    SELECT d_key,
           substr(d1, 1, c_custkey % length(d1)) ||
           substr(d1, (c_custkey % length(d1)) + 2) AS d_name
    FROM dirty1
)
SELECT d.d_key, c.c_custkey, levenshtein(d.d_name, c.c_name) AS dist
FROM dirty d, customer c
WHERE levenshtein(d.d_name, c.c_name) <= 2
""",
)
def fuzzy_name_match_dist2(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    dirty1 = cust.filter(F.col("c_custkey") % 10 == 7).select(
        "c_custkey",
        (F.col("c_custkey") + 2000000).alias("d_key"),
        F.expr(
            "substr(c_name, 1, CAST(c_custkey % length(c_name) AS INT)) || "
            "substr(c_name, CAST(c_custkey % length(c_name) AS INT) + 2)"
        ).alias("d1"),
    )
    dirty = dirty1.select(
        "d_key",
        F.expr(
            "substr(d1, 1, CAST(c_custkey % length(d1) AS INT)) || "
            "substr(d1, CAST(c_custkey % length(d1) AS INT) + 2)"
        ).alias("d_name"),
    )
    clean = cust.select("c_custkey", "c_name")
    pairs = fuzzy_join(dirty, clean, "d_name", "c_name", max_dist=2)
    return pairs.select(
        "d_key", "c_custkey", F.col("dist").cast("long").alias("dist")
    )


# --- E-family: equi-width histogram ------------------------------------------


@register(
    "value_histogram_equiwidth",
    doc="equi-width histogram of events.value (bin width 50): one "
    "map-side-combined hash agg over a computed bin key — the "
    "distributed histogram primitive (both engines bin on identical "
    "IEEE double ops, so bucket edges agree bit-for-bit)",
    oracle="""
SELECT CAST(floor(value / 50) AS INTEGER) * 50 AS bin_lo,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
)
def value_histogram_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            (F.floor(F.col("value") / 50).cast("int") * 50).alias("bin_lo")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )


# --- clustering: deterministic Lloyd's k-means (error-bound gate) -----------


@register(
    "kmeans_clusters",
    doc="float Lloyd k-means (operators/cluster.py kmeans_lloyd: 3 "
    "iterations; every assignment runs the numpy Arrow kernel "
    "_np_assign_udf, the float64 lane-ordered squared-L2 argmin with "
    "first-minimum ties) as an ERROR-BOUND GATE: fp centroid means "
    "are engine-specific, so the contract is emitted as "
    "oracle-checkable facts instead — n_points (every clean vector "
    "labeled, count the oracle computes itself), all_labeled, and "
    "inertia parity within 5% against the hash-green "
    "integer-arithmetic twin q:kmeans_lloyd_portable, both inertias "
    "measured in the SAME float space.  Both twins start from the "
    "SAME md5-smallest-id seeds (the portable seed rule), making "
    "parity a pure same-start same-descent arithmetic-difference "
    "claim (float vs 1e-6 fixed-point); kmeans_lloyd's default "
    "farthest-point init stays unit-tested (tests/test_round3_ops.py "
    "planted-cluster recovery).  The twins are independent until the "
    "parity check, so their driver loops are submitted from two "
    "scheduler threads — wall time is max(twins), not sum",
    oracle="""
SELECT CAST((SELECT COUNT(*) FROM embeddings
             WHERE embedding IS NOT NULL
               AND len(embedding) = 64
               AND len(list_filter(embedding, x -> x IS NULL)) = 0)
           AS BIGINT) AS n_points,
       TRUE AS all_labeled,
       TRUE AS inertia_within_5pct
""",
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gate-cost shape: ONE cleaned, checkpointed input shared by
    # both Lloyd twins; BOTH twins seeded from one md5 scan (no
    # farthest-point init jobs in the gate); the two
    # iterative driver loops submitted CONCURRENTLY (independent
    # until the parity check — Spark schedules jobs from separate
    # threads side by side, so the gate pays max(twins) wall time);
    # and ONE exploded (vec_id, pos, x) frame feeding BOTH inertia
    # aggregates via the identity Σ(x−m)² = Σx² − (Σx)²/n per
    # (side, cluster, lane) — a single map-side-combined aggregation,
    # no join-back, instead of two full explode+join pipelines.
    from concurrent.futures import ThreadPoolExecutor

    from ..operators.cluster import kmeans_lloyd_portable
    from ..operators.dedup import spread

    emb = load_table(spark, sf_dir, "embeddings")
    clean = emb.where(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == 64)
        & ~F.exists(F.col("embedding"), lambda x: x.isNull())
    ).select("vec_id", "embedding")
    n_all = clean.count()
    # coalesce is shrink-only; the former current-partition probe
    # (df.rdd = a full planning pass) was redundant
    n_parts = max(1, n_all // 65536 + 1)
    clean = clean.coalesce(n_parts).localCheckpoint(eager=True)
    seeds = [
        list(r["v"])
        for r in clean.select(
            F.col("embedding").cast("array<double>").alias("v"),
            F.md5(F.col("vec_id").cast("string")).alias("_m"),
        )
        .orderBy("_m")
        .limit(8)
        .collect()
    ]
    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_f = pool.submit(
            kmeans_lloyd,
            clean,
            "embedding",
            "vec_id",
            k=8,
            iters=3,
            init_centroids=seeds,
        )
        fut_p = pool.submit(
            kmeans_lloyd_portable,
            clean,
            "embedding",
            "vec_id",
            k=8,
            iters=3,
            dim=64,
        )
        f_lab, p_lab = fut_f.result(), fut_p.result()
    labels = f_lab.select(
        "vec_id", F.col("cluster").cast("int").alias("lab")
    ).withColumn("side", F.lit("f")).unionByName(
        p_lab.select(
            "vec_id", F.col("cluster_idx").cast("int").alias("lab")
        ).withColumn("side", F.lit("p"))
    )
    # the 64x explode is the gate's widest frame — spread it across
    # the cores (the labels side broadcasts, so no pts shuffle)
    pts = spread(clean).select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "x"
        ),
    )
    inert = (
        labels.join(pts, "vec_id")
        .groupBy("side", "lab", "pos")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
            F.count(F.lit(1)).alias("c"),
        )
        .groupBy("side")
        .agg(
            F.sum(
                F.col("ss") - F.col("s") * F.col("s") / F.col("c")
            ).alias("inertia")
        )
        .groupBy()
        .pivot("side", ["f", "p"])
        .agg(F.first("inertia"))
    )
    counts = f_lab.agg(F.count("cluster").alias("n_lab"))
    return counts.crossJoin(inert).select(
        F.lit(n_all).cast("long").alias("n_points"),
        (F.col("n_lab") == F.lit(n_all)).alias("all_labeled"),
        (
            F.greatest("f", "p") <= F.least("f", "p") * F.lit(1.05)
        ).alias("inertia_within_5pct"),
    )
