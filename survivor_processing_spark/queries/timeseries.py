"""Time-series and layout queries (round 3b): calendar gap-fill with
forward fill, event-transition matrices, decile profiling, and
Morton (z-order) keys for multi-dimensional data skipping.

The reference's episode timelines are dense by construction; real
event feeds are not — these queries add the regularization and
layout shapes a 100 TB event lake needs.  Hash-safety: dates emitted
as yyyy-MM-dd strings, money on decimal lanes, z-values as plain
bigints from portable shift/mask ops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ._registry import register


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


# --- behavioral: event-type transition matrix --------------------------------


@register(
    "event_transition_matrix",
    doc="first-order Markov transition counts over per-user event "
    "sequences: lead() over ONE (user, ts, id)-ordered window + one "
    "hash agg — sequence mining as two shuffles total, with the "
    "(ts, event_id) composite order making ties deterministic",
    oracle="""
WITH seq AS (
    SELECT event_type AS src,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
)
SELECT src, dst, COUNT(*) AS n_transitions
FROM seq WHERE dst IS NOT NULL
GROUP BY src, dst
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    return (
        seq.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_transitions"))
    )


# --- profiling: exact deciles ------------------------------------------------


@register(
    "ntile_decile_stats",
    doc="customer account-balance deciles via NTILE(10) over a "
    "totally-ordered window (acctbal, custkey tiebreak — identical "
    "bucket remainder semantics in both engines).  Exact global "
    "ranking needs the global sort; at 100 TB swap to "
    "approx_percentile bounds (q:sketch_distinct_quantiles) or a "
    "two-stage sampled partitioner — documented in SCALE.md",
    oracle="""
SELECT decile, COUNT(*) AS n_customers,
       CAST(MIN(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS min_bal,
       CAST(MAX(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
FROM (
    SELECT c_acctbal,
           NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
    FROM customer
)
GROUP BY decile
""",
)
def ntile_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_acctbal", F.ntile(10).over(w).cast("long").alias("decile")
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min(_dec("c_acctbal")).cast("double").alias("min_bal"),
            F.max(_dec("c_acctbal")).cast("double").alias("max_bal"),
        )
    )


# --- cohort retention --------------------------------------------------------


@register(
    "cohort_retention",
    doc="weekly cohort retention: each user's cohort is their "
    "first-seen week (one hash agg), activity joins back on user "
    "(shuffle on the natural key) and counts distinct users per "
    "(cohort_week, week_offset) cell — the standard retention "
    "triangle as two aggregates and one join, no window over the "
    "full event stream; weeks are epoch-day arithmetic (no "
    "engine-specific week-of-year semantics)",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           CAST(floor(CAST(epoch(MIN(CAST(ts AS TIMESTAMP))) AS BIGINT)
                      / 604800) AS BIGINT) AS cohort_week
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT user_id,
           CAST(floor(CAST(epoch(CAST(ts AS TIMESTAMP)) AS BIGINT)
                      / 604800) AS BIGINT) AS act_week
    FROM events
)
SELECT f.cohort_week,
       a.act_week - f.cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("bigint").alias("week"),
    )
    firsts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = ev.distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# --- interval merge (gaps and islands) --------------------------------------


@register(
    "interval_merge_islands",
    doc="merge overlapping activity intervals per user (gaps-and-"
    "islands): each event opens a 300 s interval; overlapping/"
    "touching intervals collapse to one island with min start, max "
    "end and the event count.  Two running windows + the final agg "
    "share ONE hash partitioning on user_id (single shuffle end-to-"
    "end); every user's series is independent, so the plan has no "
    "global sort and survives 1000 executors.  Equal-(s,e) ties "
    "cannot split an island, so the result is engine-order-"
    "invariant.  Oracle: identical window SQL in DuckDB.  Reference "
    "anchor: episode airdate spans (episodes_transform.py) are the "
    "dense single-node special case",
    oracle="""
WITH iv AS (
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS s,
           CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
    FROM events
), flagged AS (
    SELECT user_id, s, e,
           CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                THEN 1 ELSE 0 END AS new_island
    FROM iv
    WINDOW w AS (PARTITION BY user_id ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
    SELECT user_id, s, e,
           SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
    FROM flagged
)
SELECT user_id,
       MIN(s) AS island_start_s,
       MAX(e) AS island_end_s,
       COUNT(*) AS n_events
FROM isl
GROUP BY user_id, island
""",
)
def interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.timeseries import merge_intervals

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + F.lit(300)).alias("e"),
    )
    out = merge_intervals(iv, ["user_id"], "s", "e")
    return out.select(
        "user_id",
        F.col("island_start").alias("island_start_s"),
        F.col("island_end").alias("island_end_s"),
        F.col("n_intervals").alias("n_events"),
    )


# --- r12 queue registration (VERDICT r11 #1) ---------------------------------

from ..operators.timeseries import (  # noqa: E402
    interpolate_linear,
    interpolate_linear_oracle,
)

_INTERP_EXPRS = [
    "o_custkey % 50 AS k",
    "o_orderkey AS t",
    # integer lanes only: a double->bigint cast would expose the
    # engines' different rounding (Spark truncates, DuckDB rounds)
    "CASE WHEN o_orderkey % 3 = 0 THEN NULL"
    " ELSE o_custkey * 13 % 997 END AS yq",
]
_INTERP_SRC_SQL = f"SELECT {', '.join(_INTERP_EXPRS)} FROM orders"


@register(
    "interpolate_linear",
    doc="linear interpolation of NULL gaps in keyed integer-lane "
    "series (operators/timeseries.py interpolate_linear — queued "
    "r9, registered r12 per VERDICT r11 #1, paired with the "
    "q:gap_fill_forward_fill retirement: interpolation is the "
    "resample companion where carrying the last value forward is a "
    "lie — sensor readings, prices, rates).  Exact rational output "
    "(y_num, y_den) instead of a float division, so the gate is "
    "engine-portable bit-for-bit; leading/trailing NULLs (no "
    "bracketing neighbors) stay NULL with was_interpolated=false.  "
    "Plan: the four neighbor lookups (last/first non-null value and "
    "time) are window functions SHARING one key-partitioned "
    "Exchange — one shuffle total, no self-join (the plan audit "
    "pins the single Exchange).  One in three order rows is "
    "NULLed by key arithmetic so every interpolation path fires.  "
    "(fuzz family `interpolate`; cross-engine tests "
    "tests/test_interpolate.py; plan audit "
    "tests/test_plans_queued.py)",
    oracle=interpolate_linear_oracle(
        ["k"], "t", "yq", _INTERP_SRC_SQL
    ),
)
def interpolate_linear_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "orders").selectExpr(*_INTERP_EXPRS)
    return interpolate_linear(d, ["k"], "t", "yq")
