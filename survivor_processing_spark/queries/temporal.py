"""Custom-operator queries: as-of joins, containment join, id
minting, entity resolution, schema sync, derivation chains
(SURVEY.md §2.D5/D6/D9, E6, C7, M1).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table
from ..operators.asof import asof_join, containment_join
from ..operators.ids import mint_ids_sequential
from ..operators.resolve import resolve_cascade
from ..operators.schema_sync import sync_with_target
from ._registry import register

# --- D5: as-of join, keyed (union+window strategy) --------------------------


@register(
    "asof_join_keyed",
    doc="reference reddit_transform.py:12-25 process_nearest_event — "
    "pd.merge_asof backward per user: purchase → most recent preceding "
    "signup of the SAME user; union+window strategy (one shuffle on the key)",
    oracle="""
SELECT p.event_id, p.user_id,
       s.event_id AS signup_event_id,
       CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_epoch
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'signup') s
ON p.user_id = s.user_id AND p.ts >= s.ts
""",
)
def asof_join_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    out = asof_join(
        purchases, signups, "ts", "signup_ts", by=["user_id"], strategy="union"
    )
    return out.select(
        "event_id",
        "user_id",
        "signup_event_id",
        F.unix_timestamp("signup_ts").alias("signup_epoch"),
    )


# --- D5: as-of join, global dimension (broadcast interval strategy) ---------


@register(
    "asof_join_nearest_broadcast",
    doc="nearest-direction as-of (pd.merge_asof direction='nearest', "
    "ties backward): each event attaches the CLOSEST signup time in "
    "either direction — midpoint-interval banding keeps the same "
    "zero-fact-shuffle BroadcastHashJoin plan as backward/forward; "
    "oracle is a correlated LATERAL argmin with the same tie rule",
    oracle="""
SELECT e.event_id, s.nearest_signup_epoch
FROM (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type <> 'signup') e,
LATERAL (
    SELECT CAST(floor(epoch(sts)) AS BIGINT) AS nearest_signup_epoch
    FROM (SELECT DISTINCT CAST(ts AS TIMESTAMP) AS sts
          FROM events WHERE event_type = 'signup')
    ORDER BY abs(epoch_us(e.ts) - epoch_us(sts)), sts
    LIMIT 1
) s
""",
)
def asof_join_nearest_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") != "signup").select("event_id", "ts")
    dim = (
        ev.filter(F.col("event_type") == "signup")
        .select(F.col("ts").alias("signup_ts"))
        .distinct()
    )
    out = asof_join(
        facts, dim, "ts", "signup_ts", strategy="broadcast", direction="nearest"
    )
    return out.select(
        "event_id",
        F.unix_timestamp("signup_ts").alias("nearest_signup_epoch"),
    )


# --- D6/K4: containment join with NULL-out ---------------------------------


@register(
    "containment_join_nullout",
    doc="reference reddit_transform.py:28-34 process_within_season — "
    "equi-join then NULL the payload outside [start, end] (K4 masked update)",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber,
       strftime(l.l_shipdate, '%Y-%m-%d') AS ship_day,
       CASE WHEN l.l_shipdate < o.o_orderdate
              OR l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
            THEN NULL
            ELSE strftime(o.o_orderdate, '%Y-%m-%d') END AS window_order_day
FROM lineitem l
LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
""",
)
def containment_join_nullout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_orderdate").alias("win_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("win_end"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("window_order_day"),
    )
    out = containment_join(
        li,
        o,
        keys=["okey"],
        point="l_shipdate",
        start="win_start",
        end="win_end",
        null_out_cols=["window_order_day"],
    )
    return out.select(
        F.col("okey").alias("l_orderkey"),
        "l_linenumber",
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
        "window_order_day",
    )


# --- E6/K2: sequential surrogate-id minting --------------------------------


@register(
    "id_minting_sequential",
    doc="reference contestant_extract.py:350-358 — MAX(id)+1 fill of null "
    "ids in deterministic key order (exact reference semantics)",
    oracle="""
WITH base AS (
    SELECT c_name,
           CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END AS cid
    FROM customer
), mx AS (SELECT MAX(cid) AS m FROM base)
SELECT c_name, cid FROM base WHERE cid IS NOT NULL
UNION ALL
SELECT c_name, m + ROW_NUMBER() OVER (ORDER BY c_name) AS cid
FROM base, mx WHERE cid IS NULL
""",
)
def id_minting_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_name",
        F.when(F.col("c_acctbal") < 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("cid"),
    )
    return mint_ids_sequential(base, "cid", ["c_name"])


# --- D9/A10/I3: fallback-cascade entity resolution --------------------------


@register(
    "entity_resolution_cascade",
    doc="reference episodes_transform.py:218-240 + YAML overlay "
    "episode_stats_transform.py:176-181 — broadcast join cascade with "
    "COALESCE in attempt order; corrections are data, not code",
    oracle="""
SELECT d.doc_id, d.lang,
       COALESCE(p.lang_name, f.lang_name, 'unknown') AS lang_name,
       CASE WHEN p.lang_name IS NOT NULL THEN 0
            WHEN f.lang_name IS NOT NULL THEN 1
            ELSE -1 END AS lang_name_resolved_by
FROM documents d
LEFT JOIN (VALUES ('en', 'English'), ('de', 'German')) p(lang, lang_name)
       ON p.lang = d.lang
LEFT JOIN (VALUES ('es', 'Spanish'), ('zh', 'Chinese'), ('de', 'Deutsch'))
       f(lang, lang_name)
       ON f.lang = d.lang
""",
)
def entity_resolution_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    primary = [("en", "English"), ("de", "German")]
    fallback = [("es", "Spanish"), ("zh", "Chinese"), ("de", "Deutsch")]
    from ..functions.localrel import local_rows_df

    schema = "lang string, lang_name string"
    p_df = local_rows_df(d.sparkSession, primary, schema)
    f_df = local_rows_df(d.sparkSession, fallback, schema)
    out = resolve_cascade(
        d,
        [(p_df, ["lang"], "lang_name"), (f_df, ["lang"], "lang_name")],
        out_col="lang_name",
        default="unknown",
    )
    return out.select("doc_id", "lang", "lang_name", "lang_name_resolved_by")


@register(
    "entity_match_quarantine",
    doc="the D9 cascade's RESIDUE made observable: rows no attempt "
    "resolved (resolved_by = -1) summarized per unresolved key with a "
    "count and a deterministic sample id — the quarantine table a "
    "distributed engine routes to where the reference dropped into "
    "pdb (episodes_transform.py:218-240; quarantine writer "
    "pipelines/confessional.py).  Same broadcast-cascade plan as "
    "entity_resolution_cascade plus one filter and a tiny groupBy",
    oracle="""
SELECT d.lang AS unresolved_key,
       COUNT(*) AS n_quarantined,
       MIN(d.doc_id) AS sample_doc_id
FROM documents d
LEFT JOIN (VALUES ('en', 'English'), ('de', 'German')) p(lang, lang_name)
       ON p.lang = d.lang
LEFT JOIN (VALUES ('es', 'Spanish'), ('zh', 'Chinese'), ('de', 'Deutsch'))
       f(lang, lang_name)
       ON f.lang = d.lang
WHERE p.lang_name IS NULL AND f.lang_name IS NULL
GROUP BY d.lang
""",
)
def entity_match_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    primary = [("en", "English"), ("de", "German")]
    fallback = [("es", "Spanish"), ("zh", "Chinese"), ("de", "Deutsch")]
    from ..functions.localrel import local_rows_df

    schema = "lang string, lang_name string"
    p_df = local_rows_df(d.sparkSession, primary, schema)
    f_df = local_rows_df(d.sparkSession, fallback, schema)
    out = resolve_cascade(
        d,
        [(p_df, ["lang"], "lang_name"), (f_df, ["lang"], "lang_name")],
        out_col="lang_name",
        default="unknown",
    )
    return (
        out.filter(F.col("lang_name_resolved_by") == -1)
        .groupBy(F.col("lang").alias("unresolved_key"))
        .agg(
            F.count(F.lit(1)).alias("n_quarantined"),
            F.min("doc_id").alias("sample_doc_id"),
        )
    )


# --- C7: schema sync against a target schema --------------------------------

_SYNC_TARGET = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("l_linenumber", IntegerType()),
        StructField("l_quantity", IntegerType()),  # catalog-driven cast
        StructField("l_extendedprice", DoubleType()),
        StructField("load_comment", StringType()),  # missing → NULL
    ]
)


@register(
    "schema_sync_project",
    doc="reference transform_helpers.py:5-39 sync_with_remote — add missing "
    "as NULL, cast to catalog types, drop extras; one projection, no shuffle",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(round(l_quantity) AS INTEGER) AS l_quantity,
       l_extendedprice,
       CAST(NULL AS VARCHAR) AS load_comment
FROM lineitem
""",
)
def schema_sync_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return sync_with_target(li, _SYNC_TARGET)


# --- M1/H2: ordered multi-column derivation chain ---------------------------


@register(
    "derivation_chain",
    doc="reference transform_helpers.py:42-54 add_to_df OrderedDict — later "
    "derivations consume earlier outputs; one select, Catalyst sees one tree",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(rev AS DOUBLE) AS rev,
       CAST(rev_taxed AS DOUBLE) AS rev_taxed,
       CASE WHEN rev_taxed > 50000 THEN 'high' ELSE 'low' END AS rev_class
FROM (
    SELECT *, CAST(rev AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))
                  AS rev_taxed
    FROM (
        SELECT l_orderkey, l_linenumber, l_tax,
               CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2))) AS rev
        FROM lineitem
    )
)
""",
)
def derivation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    out = (
        li.withColumn("rev", dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
        .withColumn(
            "rev_taxed",
            F.col("rev").cast("decimal(18,4)") * (F.lit(1) + dec("l_tax")),
        )
        .withColumn(
            "rev_class",
            F.when(F.col("rev_taxed") > 50000, "high").otherwise("low"),
        )
    )
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.col("rev").cast("double").alias("rev"),
        F.col("rev_taxed").cast("double").alias("rev_taxed"),
        "rev_class",
    )


# --- beyond-reference: session windows (gaps-and-islands) -------------------


@register(
    "session_window_agg",
    doc="per-user session windows with a 30-minute inactivity gap "
    "(F.session_window) — the event-time sessionization a training-data "
    "event log needs; oracle is the exact gaps-and-islands rewrite "
    "(LAG + running island sum).  One shuffle on (user_id); the window "
    "merge is per-key and needs no global order",
    oracle="""
WITH e AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
    SELECT user_id, ts, value,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sess_no
    FROM e
)
SELECT user_id,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sess_no
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
            "total_value",
        )
    )


@register(
    "asof_join_forward_keyed",
    doc="forward as-of per user: purchase -> NEXT error event of the "
    "same user (smallest ts >= purchase ts, exact matches included) — "
    "pd.merge_asof(direction='forward') semantics; union+window "
    "strategy, one shuffle on the key",
    oracle="""
SELECT p.event_id, p.user_id,
       e.event_id AS next_error_event_id,
       CAST(floor(epoch(e.ts)) AS BIGINT) AS next_error_epoch
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN
     (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error') e
ON p.user_id = e.user_id AND p.ts <= e.ts
""",
)
def asof_join_forward_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("next_error_event_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    out = asof_join(
        purchases,
        errors,
        "ts",
        "error_ts",
        by=["user_id"],
        strategy="union",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "next_error_event_id",
        F.unix_timestamp("error_ts").alias("next_error_epoch"),
    )
