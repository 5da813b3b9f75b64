"""Core relational operator queries (SURVEY.md §2.C/D/E/F/G/H).

Each query re-expresses one reference operator family on the test
star schema and carries a DuckDB oracle.  Conventions (hash-safety
across engines): measure aggregates use decimal(18,2) arithmetic and
emit rounded doubles; dates are emitted as ``yyyy-MM-dd`` strings;
``row_number`` outputs are 32-bit ints on both sides.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ._registry import register


def _dec(c: str):
    return F.col(c).cast("decimal(18,2)")


# --- C1/C2/C4: projection + predicate filters ------------------------------


@register(
    "filter_project",
    doc="reference episode_stats_transform.py:23,54 (null-guard filters) + "
    "C1 projection; revenue derivation stays JVM-side",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2))
            * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
FROM lineitem
WHERE l_returnflag = 'R' AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_quantity IS NOT NULL
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_returnflag") == "R")
            & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_quantity").isNotNull()
        ).select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


# --- D1: multi-way left join ----------------------------------------------


@register(
    "multiway_left_join",
    doc="reference db_funcs.py:25-42 — chained left equi-joins over dims",
    oracle="""
SELECT o.o_orderkey, o.o_orderstatus, c.c_name, n.n_name AS nation_name,
       r.r_name AS region_name
FROM orders o
LEFT JOIN customer c ON c.c_custkey = o.o_custkey
LEFT JOIN nation n   ON n.n_nationkey = c.c_nationkey
LEFT JOIN region r   ON r.r_regionkey = n.n_regionkey
""",
)
def multiway_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "c_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


# --- D4: broadcast lookup join (replaces dict .map lookups) ----------------


@register(
    "broadcast_lookup_join",
    doc="reference db_funcs.py:48-55 + Series.map(dict) call sites — "
    "dimension snapshot becomes a broadcast hash join, never a driver dict",
    oracle="""
SELECT s.s_suppkey, s.s_name, n.n_name AS nation_name, r.r_name AS region_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
""",
)
def broadcast_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
        )
    )


# --- D8: anti-join (new-entity detection) ----------------------------------


@register(
    "anti_join_new_entities",
    doc="reference extract_helpers.py:7-21 search_for_new_seasons — "
    "scraped set minus already-loaded set as a left_anti join",
    oracle="""
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def anti_join_new_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# --- E2/E3/E4/E5: grouped aggregate family ---------------------------------


@register(
    "conditional_flag_agg",
    doc="reference db_funcs.py:30-34 — COUNT(*) + CAST(SUM(CASE…)>0 AS INT)",
    oracle="""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0 AS INTEGER)
           AS any_finished
FROM orders
GROUP BY o_custkey
""",
)
def conditional_flag_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        (F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)) > 0)
        .cast("int")
        .alias("any_finished"),
    )


@register(
    "coalesce_default_agg",
    doc="reference db_funcs.py:10-13 — COALESCE(SUM(x), -1) per group; "
    "nations without suppliers exercise the default",
    oracle="""
SELECT n.n_nationkey, n.n_name,
       COALESCE(CAST(ROUND(SUM(CAST(s.s_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE),
                CAST(-1 AS DOUBLE)) AS supplier_balance
FROM nation n
LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_nationkey, n.n_name
""",
)
def coalesce_default_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.coalesce(
                F.round(F.sum(_dec("s_acctbal")), 2).cast("double"), F.lit(-1.0)
            ).alias("supplier_balance")
        )
    )


@register(
    "filtered_group_sum",
    doc="reference db_funcs.py:36-39 — SUM(...) WHERE team=1 GROUP BY",
    oracle="""
SELECT l_returnflag,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
           AS fin_price
FROM lineitem
WHERE l_linestatus = 'F'
GROUP BY l_returnflag
""",
)
def filtered_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_linestatus") == "F")
        .groupBy("l_returnflag")
        .agg(F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("fin_price"))
    )


@register(
    "grouped_sum_all_measures",
    doc="reference episode_stats_transform.py:132-135 — groupby(keys)[rest].sum()",
    oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / 100.0      AS l_quantity,
       SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / 100.0 AS l_extendedprice,
       SUM(CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) / 100.0      AS l_discount,
       SUM(CAST(floor(l_tax * 100 + 0.5) AS BIGINT)) / 100.0           AS l_tax,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def grouped_sum_all_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact money math via integer cents, not decimal: a decimal sum
    # whose buffer precision exceeds 18 drops Spark to the BigDecimal
    # aggregation path (measured 3.6x slower than long sums on this
    # query).  round(x*100)->bigint is exact for 2-decimal measures,
    # sums map-side in codegen'd long arithmetic, and /100.0 is a
    # correctly-rounded IEEE division on both engines so the value
    # hash is bit-stable.  Headroom: a per-group cent sum overflows
    # ~9.2e18, i.e. >1e11 rows x max-price — safe per group at 100 TB;
    # for unbounded global totals fall back to decimal.
    li = load_table(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        *[
            (F.sum(F.floor(F.col(m) * 100 + F.lit(0.5)).cast("long")) / F.lit(100.0)).alias(m)
            for m in measures
        ],
        F.count("*").alias("n_rows"),
    )


# --- F1-F4: window functions ----------------------------------------------


@register(
    "window_rank_placement",
    doc="reference db_funcs.py:6-16 — ROW_NUMBER() PARTITION BY group "
    "ORDER BY measure DESC with deterministic tiebreak",
    oracle="""
SELECT c_custkey, c_nationkey,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
       ) AS INTEGER) AS placement
FROM customer
""",
)
def window_rank_placement(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_nationkey", F.row_number().over(w).alias("placement")
    )


@register(
    "topk_per_group_salted",
    doc="skew-proof top-3 per nation (operators/skew.py top_k_per_group): "
    "two-stage salted window — stage 1 sorts each (nation, salt) slice "
    "and keeps a local top-k, stage 2 ranks the <= n_salts*k survivors, "
    "so no task ever sorts a whole hot group; output == the single-"
    "window top-k (pigeonhole)",
    oracle="""
SELECT c_nationkey, c_custkey, rank FROM (
    SELECT c_nationkey, c_custkey,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
           ) AS INTEGER) AS rank
    FROM customer)
WHERE rank <= 3
""",
)
def topk_per_group_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import top_k_per_group

    c = load_table(spark, sf_dir, "customer")
    return top_k_per_group(
        c,
        keys=["c_nationkey"],
        order_cols=[F.desc("c_acctbal"), F.asc("c_custkey")],
        k=3,
        salt_on=["c_custkey"],
    ).select("c_nationkey", "c_custkey", "rank")


@register(
    "group_ordinal_appearance",
    doc="reference episode_stats_extract.py:338-346 — per-group ordinal of "
    "appearance; pandas-index order becomes an explicit order column",
    oracle="""
SELECT o_orderkey, o_custkey,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS INTEGER) AS attempt_number
FROM orders
""",
)
def group_ordinal_appearance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey", "o_custkey", F.row_number().over(w).alias("attempt_number")
    )


@register(
    "group_max_arithmetic",
    doc="reference episode_stats_extract.py:374-376 — "
    "tc_number = MAX(col) OVER group + 1 - col",
    oracle="""
SELECT l_orderkey, l_linenumber,
       MAX(l_linenumber) OVER (PARTITION BY l_orderkey) + 1 - l_linenumber
           AS tc_number
FROM lineitem
""",
)
def group_max_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.max("l_linenumber").over(w) + 1 - F.col("l_linenumber")).alias("tc_number"),
    )


# --- H1/C8: union-by-name ---------------------------------------------------


@register(
    "union_all_by_name",
    doc="reference pd.concat accumulation (H1) + reindex-to-schema (C8) → "
    "unionByName(allowMissingColumns=True)",
    oracle="""
SELECT * FROM (
    SELECT c_custkey AS entity_key, c_name AS entity_name,
           'customer' AS entity_type, c_acctbal AS balance
    FROM customer
    UNION ALL BY NAME
    SELECT s_suppkey AS entity_key, s_name AS entity_name,
           'supplier' AS entity_type, NULL AS balance
    FROM supplier
)
""",
)
def union_all_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.lit("customer").alias("entity_type"),
        F.col("c_acctbal").alias("balance"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.lit("supplier").alias("entity_type"),
    )
    return c.unionByName(s, allowMissingColumns=True)


# --- H4/L6: unpivot wide→long ----------------------------------------------


@register(
    "unpivot_measures",
    doc="reference episode_stats_extract.py:107-134 vote-matrix stack — "
    "wide measure columns to (key, measure_name, value) rows",
    oracle="""
SELECT l_orderkey, l_linenumber, measure_name, measure_value
FROM (
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure_name,
           l_quantity AS measure_value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
)
WHERE measure_value IS NOT NULL
""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="measure_name",
        valueColumnName="measure_value",
    ).filter(F.col("measure_value").isNotNull())


# --- K1/K3/K5: coalesce cascades, constant fills, CASE WHEN ----------------


@register(
    "coalesce_cascade_defaults",
    doc="reference episode_stats_transform.py:32-37 iterative_replace_null — "
    "first-non-null across candidate columns then constant default (K1/K3); "
    "medevac-style CASE flag (K5)",
    oracle="""
SELECT o_orderkey,
       COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'),
                o_orderstatus, 'unknown') AS priority_resolved,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 100000 THEN 'mid'
            ELSE 'small' END AS size_class
FROM orders
""",
)
def coalesce_cascade_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")),
            F.col("o_orderstatus"),
            F.lit("unknown"),
        ).alias("priority_resolved"),
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
    )


# --- beyond-reference: row-set INTERSECT / EXCEPT ---------------------------


@register(
    "intersect_except_sets",
    doc="row-set algebra the reference lacks: customers appearing in "
    "BOTH halves of a date split (INTERSECT) and only in the first "
    "(EXCEPT) — each compiles to a hash semi/anti aggregate, one "
    "shuffle on the full row",
    oracle="""
SELECT c_custkey, 'both' AS membership FROM (
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderdate <  DATE '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1996-01-01'
)
UNION ALL
SELECT c_custkey, 'early_only' AS membership FROM (
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderdate <  DATE '1996-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderdate >= DATE '1996-01-01'
)
""",
)
def intersect_except_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1996-01-01").cast("timestamp")
    early = o.filter(F.col("o_orderdate") < cutoff).select(
        F.col("o_custkey").alias("c_custkey")
    )
    late = o.filter(F.col("o_orderdate") >= cutoff).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return early.intersect(late).withColumn(
        "membership", F.lit("both")
    ).unionByName(
        # subtract = EXCEPT DISTINCT (set semantics, like the SQL);
        # exceptAll would leave residual multiplicities for keys
        # present on both sides
        early.subtract(late).withColumn("membership", F.lit("early_only"))
    )
