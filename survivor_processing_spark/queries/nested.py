"""Nested / semi-structured operator queries (SURVEY.md §2.L, E10).

Array, map, and JSON cells are first-class column types here —
the reference flattened dict-of-list cells row-by-row in Python
(episodes_transform.py:83-119); the engine explodes them JVM-side.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ._registry import register


# --- L1: explode map-of-arrays → rows --------------------------------------


@register(
    "explode_map_of_arrays",
    doc="reference episodes_transform.py:83-119 create_dict_based_df — "
    "{speaker: [quotes]} cells → one row per (key, element); "
    "MapType + double explode replaces the per-row Python loop",
    oracle="""
SELECT doc_id, 'words' AS key, unnest(string_split(text, ' ')[1:3]) AS val
FROM documents
UNION ALL
SELECT doc_id, 'lang' AS key, lang AS val FROM documents
""",
)
def explode_map_of_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("words"),
        F.slice(F.split(F.col("text"), " "), 1, 3),
        F.lit("lang"),
        F.array(F.col("lang")),
    )
    return (
        d.select("doc_id", F.explode(m).alias("key", "arr"))
        .select("doc_id", "key", F.explode("arr").alias("val"))
    )


# --- L2: array cell → numbered columns (padded) ----------------------------


@register(
    "array_numbered_columns",
    doc="reference contestant_transform.py:185-189 tribe_0..3 expansion — "
    "array kept internally, numbered columns projected only at the edge "
    "(out-of-range → NULL padding)",
    oracle="""
SELECT doc_id,
       list_extract(string_split(text, ' '), 1) AS word_0,
       list_extract(string_split(text, ' '), 2) AS word_1,
       list_extract(string_split(text, ' '), 3) AS word_2,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words
FROM documents
""",
)
def array_numbered_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        *[F.try_element_at(words, F.lit(i + 1)).alias(f"word_{i}") for i in range(3)],
        F.size(words).alias("n_words"),
    )


# --- E10: set-union dedup of array cells -----------------------------------


@register(
    "explode_distinct_union",
    doc="reference contestant_extract.py:419-463 find_unique_* — union of "
    "all list cells → select(explode(col)).distinct(), here counted per lang",
    oracle="""
SELECT lang, COUNT(DISTINCT token) AS n_unique_tokens
FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
)
GROUP BY lang
""",
)
def explode_distinct_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("lang")
        .agg(F.count_distinct("token").alias("n_unique_tokens"))
    )


# --- L5: complex column → JSON string at the sink ---------------------------


@register(
    "to_json_roundtrip",
    doc="reference reddit_transform.py:76-81 — dict/list cells stringified "
    "before load → F.to_json(struct) at the sink",
    oracle="""
SELECT event_id,
       '{"event_type":"' || event_type || '","k":'
           || CAST(CAST(props->>'k' AS INTEGER) AS VARCHAR) || '}' AS payload_json
FROM events
""",
)
def to_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.col("event_type"),
                F.get_json_object("props", "$.k").cast("int").alias("k"),
            )
        ).alias("payload_json"),
    )


# --- L4 at scale: VARIANT semi-structured type (Spark 4) --------------------


@register(
    "variant_props_agg",
    doc="semi-structured analytics on the VARIANT type (Spark 4 "
    "parse_json/variant_get): props parses ONCE into the binary "
    "variant encoding, typed extraction happens without re-parsing "
    "the string per access — at 100 TB the parse-once layout beats "
    "per-expression get_json_object (q:json_extract_payload is the "
    "string-path twin); oracle uses DuckDB's native JSON extraction",
    oracle="""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
       MAX(CAST(props->>'k' AS INTEGER)) AS max_k
FROM events
GROUP BY event_type
""",
)
def variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )
