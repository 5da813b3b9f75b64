"""Watermark-based incremental and Structured Streaming reads.

The reference extracts incrementally from ``SELECT MAX(created_dt)``
and pages forward (reference: reddit_extract.py:86-100, N1), and
re-processes only new/running entities (extract_helpers.py:7-57,
N2); its keyed upserts make replays idempotent (N3).

Engine form:

* batch-incremental: ``max_watermark`` (scalar agg, no scan of data
  to the driver beyond one value) + ``read_incremental`` (predicate
  pushed into the parquet scan — the 100 TB path prunes row groups
  by the watermark column's min/max stats);
* streaming: ``stream_events`` wraps ``readStream`` with a
  watermark, windowed counts, and an ``availableNow`` trigger +
  ``foreachBatch`` merge — exactly-once-effect on replay, same as
  the reference's keyed upserts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table


def max_watermark(df: DataFrame, ts_col: str):
    """MAX(ts) as the incremental cursor (reference E7)."""
    return df.agg(F.max(ts_col)).first()[0]


def read_incremental(
    spark: SparkSession, sf_dir: str, table: str, ts_col: str, since
) -> DataFrame:
    """Rows strictly after the watermark; the predicate reaches the
    parquet scan (row-group pruning on ts min/max)."""
    df = load_table(spark, sf_dir, table)
    return df.filter(F.col(ts_col) > F.lit(since))


def stream_events(spark: SparkSession, sf_dir: str, watermark: str = "10 minutes"):
    """Structured Streaming source over the events table with event-time
    watermarking.  The parquet dir stands in for a real stream; the
    same plan runs against Kafka by swapping the reader."""
    # The parquet stream source requires an explicit schema AND a
    # *directory*: stage one with a symlink to the events file.
    # events.ts has shipped as BOTH int64-nanos parquet and plain µs
    # timestamps (see catalog.load_table); a streaming reader can't
    # introspect, so probe the landed type with a batch schema read
    # (footer-only, no data scan) and branch like the batch catalog.
    import os
    import tempfile

    from pyspark.sql.types import LongType

    stage = tempfile.mkdtemp(prefix="spark_graft_stream_")
    os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # queries downstream render event-time windows with date_format,
    # which is session-timezone dependent; the engine's own sessions
    # are UTC (session.py) but a foreign session (spark-submit with a
    # system tz) would silently diverge from the timezone-naive
    # DuckDB oracles — pin here, beside the other landed-format conf
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    landed = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ts_is_nanos_long = isinstance(landed["ts"].dataType, LongType)
    ts_decl = "ts bigint" if ts_is_nanos_long else "ts timestamp"
    raw = (
        spark.readStream.schema(
            f"event_id bigint, {ts_decl}, user_id bigint, "
            "event_type string, value double, props string"
        )
        .format("parquet")
        .load(stage)
    )
    if ts_is_nanos_long:
        # exact long integral division (ts div 1000): double division
        # loses ULPs above 2^53 and ns-since-epoch is ~1.7e18
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # watermark=None returns the raw stream so an operator that
    # applies its own watermark (streaming/joins.py interval join,
    # which must mark BOTH renamed sides) doesn't hit Spark's
    # "redefining watermark" refusal
    if watermark is None:
        return raw
    return raw.withWatermark("ts", watermark)
