"""Analytics-window / OLAP-shape queries (beyond-reference F/E/H
extensions): cumulative + moving windows, explicit-values pivot,
GROUPING SETS, deterministic mode/median, binned numeric range join,
SCD2 dimension build, and sketch aggregates.

Hash-safety conventions as in relational.py: money/value math rides
decimal(18,2) (exact, summation-order-free) and is emitted as
doubles; dates as ``yyyy-MM-dd`` strings; window frames are explicit
ROWS frames over a unique (ts, id) ordering so both engines resolve
ties identically.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..operators.rangejoin import binned_range_join
from ..operators.regression import ols_trend_exact as _ols_trend
from ..operators.regression import ols_trend_oracle as _ols_oracle
from ..operators.scd2 import scd2_from_history
from ._registry import register


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


# --- F-family: cumulative / moving / lag windows ----------------------------


@register(
    "cumulative_window_sums",
    doc="running total, 4-row moving sum, and lag delta per user over "
    "event time — one window partitioning (user_id), one shuffle, all "
    "three frames share the sort; decimal lanes keep every engine's "
    "partial-sum order irrelevant",
    oracle="""
SELECT user_id, event_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w_cum AS DOUBLE) AS cum_value,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w_mov AS DOUBLE) AS mov_sum4,
       CAST(CAST(value AS DECIMAL(18,2))
            - LAG(CAST(value AS DECIMAL(18,2))) OVER w_ord AS DOUBLE) AS delta
FROM events
WINDOW
  w_ord AS (PARTITION BY user_id ORDER BY ts, event_id),
  w_cum AS (w_ord ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
  w_mov AS (w_ord ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
""",
)
def cumulative_window_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_mov = w_ord.rowsBetween(-3, Window.currentRow)
    v = _dec("value")
    return ev.select(
        "user_id",
        "event_id",
        F.sum(v).over(w_cum).cast("double").alias("cum_value"),
        F.sum(v).over(w_mov).cast("double").alias("mov_sum4"),
        (v - F.lag(v).over(w_ord)).cast("double").alias("delta"),
    )


# --- H/L-family: explicit-values pivot (long -> wide) ------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_type_wide",
    doc="long->wide pivot of per-user value by event type with an "
    "EXPLICIT pivot-value list: one hash aggregate, no "
    "distinct-values pre-job (implicit pivot runs a whole extra "
    "action to discover values — never do that at 100 TB)",
    oracle="""
SELECT user_id,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
                     FILTER (WHERE event_type = 'click'), 0) AS DOUBLE) AS click,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
                     FILTER (WHERE event_type = 'error'), 0) AS DOUBLE) AS error,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
                     FILTER (WHERE event_type = 'purchase'), 0) AS DOUBLE) AS purchase,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
                     FILTER (WHERE event_type = 'signup'), 0) AS DOUBLE) AS signup,
       CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2)))
                     FILTER (WHERE event_type = 'view'), 0) AS DOUBLE) AS view
FROM events
GROUP BY user_id
""",
)
def pivot_event_type_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.sum(_dec("value")))
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0).cast("decimal(18,2)"))
            .cast("double")
            .alias(t)
            for t in EVENT_TYPES
        ],
    )


# --- E-family: GROUPING SETS (beyond rollup_multilevel_agg) ------------------


@register(
    "grouping_sets_agg",
    doc="GROUPING SETS ((status, priority), (status), ()) over orders "
    "— Spark expands to one Expand + single hash aggregate (one "
    "shuffle for all three grains); grouping() flags disambiguate "
    "subtotal rows from genuine NULL keys",
    oracle="""
SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
            AS INTEGER) AS lvl,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
""",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
            AS INT) AS lvl,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM _gs_orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""
    )


# --- E-family: deterministic mode + lower median -----------------------------


@register(
    "mode_median_per_group",
    doc="per-event-type exact lower median and deterministic mode "
    "(most frequent user bucket, smallest wins ties) — both derived "
    "from counts + row_number, NOT the engines' mode()/median() whose "
    "tie-breaks and interpolation differ; no fp interpolation at all",
    oracle="""
WITH ranked AS (
    SELECT event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           COUNT(*)    OVER (PARTITION BY event_type) AS n
    FROM events
), med AS (
    SELECT event_type, n,
           CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS median_lo
    FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
), buckets AS (
    SELECT event_type, user_id % 100 AS bucket, COUNT(*) AS cnt
    FROM events GROUP BY 1, 2
), md AS (
    SELECT event_type, bucket AS mode_bucket
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY cnt DESC, bucket) AS r
          FROM buckets)
    WHERE r = 1
)
SELECT m.event_type, m.n AS n_events, m.median_lo, md.mode_bucket
FROM med m JOIN md USING (event_type)
""",
)
def mode_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / 2.0).cast("long")
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        _dec("value").cast("double").alias("median_lo"),
    )
    buckets = (
        ev.select("event_type", (F.col("user_id") % 100).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("bucket")
    )
    md = (
        buckets.withColumn("r", F.row_number().over(wr))
        .filter(F.col("r") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"))
    )
    return med.join(md, "event_type")


# --- D-family: binned numeric range join ------------------------------------

VALUE_BANDS = [
    ("nano", 0.0, 5.0),
    ("micro", 5.0, 20.0),
    ("small", 20.0, 75.0),
    ("mid", 75.0, 150.0),
    ("large", 150.0, 300.0),
    ("whale", 300.0, 1000.0),
]


@register(
    "range_join_binned",
    doc="events.value -> irregular value bands via the binned range "
    "join (operators/rangejoin.py): grid-cell equi-join + residual "
    "filter plans a BroadcastHashJoin, fact side map-side only — the "
    "naive BETWEEN join is a BroadcastNestedLoopJoin scanning every "
    "band per row (plan-tested away, tests/test_plans.py)",
    oracle="""
WITH bands(band, lo, hi) AS (VALUES
  ('nano', 0.0, 5.0), ('micro', 5.0, 20.0), ('small', 20.0, 75.0),
  ('mid', 75.0, 150.0), ('large', 150.0, 300.0), ('whale', 300.0, 1000.0)
)
SELECT b.band, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.band
""",
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from ..functions.localrel import local_rows_df

    bands = local_rows_df(
        spark, VALUE_BANDS, "band string, lo double, hi double"
    )
    joined = binned_range_join(
        ev, bands, value_col="value", lo_col="lo", hi_col="hi", bin_width=50.0
    )
    return joined.groupBy("band").agg(
        F.count("*").alias("n_events"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


# --- B-family: SCD2 dimension build -----------------------------------------


@register(
    "scd2_order_history",
    doc="type-2 slowly-changing dimension from order history "
    "(operators/scd2.py): per-customer daily spend band, consecutive "
    "unchanged bands run-length-compressed, effective_from/to closed "
    "date ranges + is_current — the historical companion to the "
    "reference's type-1 ON CONFLICT upserts (load_helpers.py:4-39)",
    oracle="""
WITH daily AS (
    SELECT o_custkey, o_orderdate,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders GROUP BY 1, 2
), banded AS (
    SELECT o_custkey, o_orderdate,
           CASE WHEN spend < 150000 THEN 'low'
                WHEN spend < 300000 THEN 'mid'
                ELSE 'high' END AS spend_band
    FROM daily
), chg AS (
    SELECT *,
           LAG(spend_band) OVER w AS prev_band,
           LAG(o_orderdate) OVER w AS prev_ts
    FROM banded
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
), compressed AS (
    SELECT o_custkey, o_orderdate, spend_band
    FROM chg
    WHERE prev_ts IS NULL OR spend_band IS DISTINCT FROM prev_band
)
SELECT o_custkey, spend_band,
       strftime(o_orderdate, '%Y-%m-%d') AS effective_from,
       COALESCE(strftime(LEAD(o_orderdate) OVER w - INTERVAL 1 DAY,
                         '%Y-%m-%d'), '9999-12-31') AS effective_to,
       LEAD(o_orderdate) OVER w IS NULL AS is_current
FROM compressed
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
""",
)
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy("o_custkey", "o_orderdate").agg(
        F.sum(_dec("o_totalprice")).alias("spend")
    )
    banded = daily.select(
        "o_custkey",
        "o_orderdate",
        F.when(F.col("spend") < 150000, "low")
        .when(F.col("spend") < 300000, "mid")
        .otherwise("high")
        .alias("spend_band"),
    )
    return scd2_from_history(
        banded, ["o_custkey"], "o_orderdate", ["spend_band"]
    )


# --- sketches: approximate distinct + quantiles (rows-only) ------------------


@register(
    "sketch_distinct_quantiles",
    doc="per-event-type HyperLogLog++ approx distinct users and "
    "approx quantile sketch of value — mergeable sketches are THE "
    "100 TB shape for cardinality/quantile answers (exact "
    "count-distinct shuffles every key; sketches shuffle KBs).  "
    "Raw sketch VALUES are engine-specific by construction (HLL++ vs "
    "DuckDB's HLL, GK vs T-Digest) and can never hash-match, so the "
    "GATED output is the sketch's ACCURACY CONTRACT instead: "
    "distinct-count within 5% (+0.5 floor) of exact, and each "
    "approx quantile within RANK tolerance — the fraction of group "
    "rows <= the sketch's answer must sit within 0.02 + 1.5/n of "
    "the target quantile (rank error is what GK-style sketches "
    "actually guarantee; VALUE tolerance is scale-fragile where "
    "order-stat gaps are wide, e.g. p99 of a 40-row group).  One "
    "distributed pipeline computes sketch + exact side by side; the "
    "oracle asserts every boolean TRUE over the exact group keys — "
    "a full value-hash gate: a broken or degraded sketch flips a "
    "boolean and the driver sees a hash mismatch (VERDICT r05 "
    "next-round #6; raw approx numbers live in "
    "tests/test_analytics.py, which pins the same bounds)",
    oracle="""
SELECT event_type, TRUE AS users_within_tol, TRUE AS p50_within_tol,
       TRUE AS p90_within_tol, TRUE AS p99_within_tol
FROM events
GROUP BY event_type
""",
)
def sketch_distinct_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # The sketch aggregate must NOT share a groupBy with the exact
    # countDistinct: a single DISTINCT aggregate makes Spark rewrite
    # the whole aggregate as partial-by-(event_type, user_id), which
    # drags the HLL registers and the accuracy-10k quantile buffer
    # into a per-USER state (one 400+-column sketch row per user,
    # thousands of sketch merges) — measured as a 4.3 s two-task
    # stage at sf0.1.  The exact count rides the rank pass below
    # instead, whose other states are plain double sums of 0/1 (so
    # the distinct rewrite there reassociates exactly).
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10_000).alias("aq"),
    )
    # achieved rank of each sketch answer, via a null-safe broadcast
    # of the 5-row sketch result back onto the fact table (a plain
    # equi-join would silently drop a NULL event_type group the
    # oracle's GROUP BY retains)
    a = agg.withColumnRenamed("event_type", "_et")
    j = ev.select("event_type", "user_id", "value").join(
        F.broadcast(a), F.col("event_type").eqNullSafe(F.col("_et"))
    )
    # rank space excludes NULL values (quantile functions ignore
    # them), and ties are BRACKETED: a correct sketch answer inside a
    # run of equal values has strictly-below fraction <= q <= at-or-
    # below fraction; a one-sided <= fraction would falsely fail a
    # healthy sketch whenever the target quantile lands mid-run
    nn = F.sum(F.when(F.col("value").isNotNull(), 1.0).otherwise(0.0))

    def frac(i: int, strict: bool):
        cmp = (
            F.col("value") < F.col("aq")[i]
            if strict
            else F.col("value") <= F.col("aq")[i]
        )
        # try_divide: an all-NULL-value group has nn = 0, and the
        # session runs ANSI mode — a bare / would throw
        # DIVIDE_BY_ZERO instead of reaching the vacuous-truth
        # coalesce below
        return F.try_divide(F.sum(F.when(cmp, 1.0).otherwise(0.0)), nn)

    ranks = j.groupBy("event_type").agg(
        F.first("approx_users").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        nn.alias("n"),
        *[
            frac(i, strict).alias(f"f{name}{'_lt' if strict else '_le'}")
            for i, name in enumerate(("50", "90", "99"))
            for strict in (True, False)
        ],
    )
    slack = F.lit(0.02) + F.try_divide(F.lit(1.5), F.col("n"))

    def within_rank(name: str, q: float):
        ok = (F.lit(q) >= F.col(f"f{name}_lt") - slack) & (
            F.lit(q) <= F.col(f"f{name}_le") + slack
        )
        # all-NULL-value group: the quantile is undefined, the
        # contract is vacuously met
        return F.coalesce(ok, F.lit(True))

    return ranks.select(
        "event_type",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users") + F.lit(0.5)
        ).alias("users_within_tol"),
        within_rank("50", 0.5).alias("p50_within_tol"),
        within_rank("90", 0.9).alias("p90_within_tol"),
        within_rank("99", 0.99).alias("p99_within_tol"),
    )


@register(
    "heavy_hitters_mg",
    doc="exact phi-heavy-hitters (phi=1/100) over the document token "
    "stream via distributed Misra-Gries: each partition's MG summary "
    "(m=k counters, Arrow-batched value_counts updates) emits only "
    "its surviving candidate KEYS — provably a superset of every key "
    "with global count > n/k (Misra-Gries 1982 undercount bound + "
    "averaging; mergeability per Agarwal et al. PODS 2012) — then "
    "ONE exact count pass restricted to the broadcast candidate set. "
    " Output is EXACT (keys with count*k > total, exact counts), so "
    "unlike the HLL/GK contract gate (q:sketch_distinct_quantiles) "
    "this sketch family hash-gates on full values.  The 100 TB win: "
    "the full-vocabulary shuffle of a plain groupBy-count collapses "
    "to candidates (<= m x n_partitions keys)",
    oracle="""
WITH toks AS (
    SELECT unnest(string_split(regexp_replace(lower(trim(text)),
                                              '\\s+', ' ', 'g'), ' '))
        AS term
    FROM documents
)
SELECT term, COUNT(*) AS n_occurrences
FROM toks GROUP BY term
HAVING COUNT(*) * 100 > (SELECT COUNT(*) FROM toks)
""",
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import table_rows
    from ..operators.dedup import spread_rows, tokens_expr
    from ..operators.heavyhitters import heavy_hitters_exact

    d = load_table(spark, sf_dir, "documents")
    # spread BEFORE the explode: a single-row-group scan would run
    # the tokenize, the per-partition MG summaries, AND the exact
    # count pass all on one task.  Row-aware (not fixed-cores): the
    # MG pass is mapInPandas, and 32 near-empty Python workers cost
    # more than they save on a small corpus (the multimodal lesson —
    # a fixed spread measured +0.4 s at sf0.1; 1k-doc chunks still
    # clamp to every core from ~30k docs up).
    toks = spread_rows(
        d, table_rows(sf_dir, "documents"), rows_per_task=1000
    ).select(F.explode(tokens_expr("text")).alias("term"))
    return heavy_hitters_exact(toks, "term", k=100)


# --- sinks/scans: hive-partitioned write + partition-pruned read ------------


@register(
    "partition_pruned_scan",
    doc="hive-partitioned parquet write (partitionBy event_type) + "
    "read-back with a partition-key predicate: the filter resolves at "
    "PLANNING time against directory names (PartitionFilters in the "
    "scan, plan-tested) — 3 of 5 partitions are never opened, the "
    "100 TB analog of not reading 60% of the lake; oracle computes "
    "the same aggregate on the unpartitioned table",
    oracle="""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import uuid

    path = f"{tempfile.gettempdir()}/spark_graft_part_{uuid.uuid4().hex[:8]}"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "value", "event_type"
    )
    ev.write.partitionBy("event_type").mode("overwrite").parquet(path)
    out = (
        spark.read.parquet(path)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
    )
    res = out.localCheckpoint(eager=True)
    shutil.rmtree(path, ignore_errors=True)
    return res


# --- M4: grouped-aggregate Pandas UDAF --------------------------------------


@register(
    "geo_mean_udaf",
    doc="custom UDAF surface (SURVEY §2.M4, beyond built-ins): "
    "per-event-type geometric mean of (1+value) minus 1 as a "
    "GROUPED_AGG pandas UDF — Arrow ships each group's values once, "
    "the kernel is vectorized numpy.  Hash-checkable by the integer "
    "log-lane convention: each ln(1+v) is scaled by 1e12 and "
    "floor(x+0.5)-rounded to an int64, so the SUM is exact and "
    "order-independent (float log-sums follow shuffle arrival order "
    "otherwise); the only residual cross-engine wobble is a ≤1-ulp "
    "ln/exp libm difference, absorbed by the final round(·, 6).  "
    "Oracle replays the identical integer-lane arithmetic in SQL",
    oracle="""
SELECT event_type,
       round(exp(CAST(SUM(CAST(floor(ln(1 + value) * 1e12 + 0.5) AS BIGINT))
                      AS DOUBLE) / COUNT(value) / 1e12) - 1, 6)
           AS geo_mean_value
FROM events
GROUP BY event_type
""",
)
def geo_mean_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: the module's `from __future__ import
    # annotations` turns type hints into strings pandas_udf can't
    # inspect for GROUPED_AGG inference
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geo_mean(v):
        x = v.to_numpy(dtype="float64")
        # ln(1+x) (not log1p: the oracle computes ln of the rounded
        # double 1+x, so mirror that exactly), integer micro-units,
        # floor(x+0.5) rounding on both engines (np.rint is half-even,
        # DuckDB round() half-away — floor(+0.5) sidesteps both)
        scaled = np.floor(np.log(1.0 + x) * 1e12 + 0.5).astype("int64")
        mean_ln = (float(scaled.sum()) / len(scaled)) / 1e12
        return round(float(np.exp(mean_ln) - 1.0), 6)

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(geo_mean("value").alias("geo_mean_value"))
    )


@register(
    "sliding_range_window",
    doc="trailing 1-hour event count and value sum per user at every "
    "event — the RANGE-frame sliding window (frame membership decided "
    "by ORDER-BY VALUE distance, not row position), which ROWS frames "
    "cannot express over irregular event times.  One shuffle on "
    "user_id; Spark evaluates the sliding frame incrementally "
    "(add/remove at the frame edges, never a per-row rescan), and "
    "RANGE peers make the result tie-order-invariant by definition.  "
    "Decimal-lane sum keeps the hash bit-stable.  Oracle: identical "
    "RANGE BETWEEN window in DuckDB",
    oracle="""
SELECT event_id, user_id, ts_epoch,
       COUNT(*) OVER w AS trailing_n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
           AS trailing_value
FROM (
    SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, value
    FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY ts_epoch
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
""",
)
def sliding_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_epoch")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.sum(_dec("value")).over(w).cast("double").alias("trailing_value"),
    )


@register(
    "ols_trend_exact",
    doc="per-event-type least-squares trend of value ~ (user_id % "
    "100) in EXACT RATIONAL arithmetic under driver gating "
    "(operators/regression.py — queued since r7, registered r10): "
    "both columns quantize once to the 1/10 fixed-point grid, every "
    "moment (n, Sx, Sy, Sxy, Sxx, Syy) is an exact order-free int64 "
    "SUM in ONE map-side-combined hash aggregate (Spark's own "
    "partial-agg shape — no window, no sort, mergeable across "
    "shards), and the slope ships as the bigint rational (slope_num, "
    "slope_den); intercept/R^2 derive downstream via Fraction so no "
    "in-engine product grows past the documented int64 envelope "
    "(float regr_slope differs at the ulp level across engines — a "
    "value-hash poison this recipe removes).  Oracle EMITTED by "
    "ols_trend_oracle from the same parameters (randomized in "
    "tests/test_regression.py::test_cross_engine_random_scales)",
    oracle=_ols_oracle(
        ["g"],
        "x",
        "y",
        scale=10,
        table="(SELECT event_type AS g, "
        "CAST(user_id % 100 AS DOUBLE) AS x, value AS y FROM events)",
    ),
)
def ols_trend_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").selectExpr(
        "event_type AS g",
        "cast(user_id % 100 as double) AS x",
        "value AS y",
    )
    return _ols_trend(ev, ["g"], "x", "y", scale=10)
