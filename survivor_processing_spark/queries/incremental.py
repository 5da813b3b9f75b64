"""Incremental, streaming, and merge-sink queries (SURVEY.md §2.B1,
§2.N1-N3) — each one runs the real machinery (a MERGE into a parquet
table, a Structured Streaming job) and returns the resulting
DataFrame so the oracle can check end state, not just plumbing.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..sinks.merge import merge_upsert
from ..streaming.incremental import (
    max_watermark,
    read_incremental,
    stream_events,
)
from ._registry import register
from ._util import detach_and_cleanup as _detach_and_cleanup
from ._util import detach_sink as _detach_sink


def _await_or_die(q, timeout_s: int) -> None:
    """availableNow streams terminate on their own; if the timeout
    trips first something is wedged — stop the query and fail loudly
    rather than read a sink mid-write (flaky partial results)."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise RuntimeError(
            f"streaming query {q.name or q.id} still running after "
            f"{timeout_s}s; stopped to avoid reading a mid-write sink"
        )


def _start_state_sized(spark: SparkSession, writer, parts: str = "8"):
    """Start a streaming query with right-sized STATE partitions —
    the knob every production stateful stream tunes: each state-store
    partition pays fixed per-micro-batch overhead (provider init,
    checkpoint delta files, and for applyInPandasWithState a Python
    worker round trip), so the partition count should track state
    VOLUME, not the session's batch shuffle width.  Gate state here
    is KB-sized; at 100 TB/day the same line carries a larger
    number.  The conf is captured at query START and pinned into the
    checkpoint, so the restore cannot affect the running stream, and
    per-key results are partition-count-independent."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        return writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# --- N1/E7: watermark incremental read -------------------------------------


@register(
    "watermark_incremental",
    doc="reference reddit_extract.py:86-100 — MAX(ts) watermark, re-read "
    "only rows after (watermark - 7 days); predicate reaches the scan",
    oracle="""
SELECT event_type, COUNT(*) AS n_events
FROM events
WHERE CAST(ts AS TIMESTAMP) >
      (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 7 DAY FROM events)
GROUP BY event_type
""",
)
def watermark_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wm = max_watermark(ev, "ts")
    since = wm - dt.timedelta(days=7)
    inc = read_incremental(spark, sf_dir, "events", "ts", since)
    return inc.groupBy("event_type").agg(F.count("*").alias("n_events"))


# --- N1 streaming: watermark + tumbling-window aggregation ------------------


@register(
    "streaming_windowed_counts",
    doc="Structured Streaming over the events table: event-time watermark "
    "+ 1-hour tumbling windows, availableNow trigger, memory sink; "
    "oracle is the equivalent batch windowed aggregation",
    oracle="""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir, watermark="30 minutes")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    sink = f"stream_counts_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 120)
    return _detach_sink(
        spark.table(sink).select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        ),
        sink,
    )


# --- N2: change detection (new + running entities) --------------------------


@register(
    "change_detection_incremental",
    doc="reference extract_helpers.py:7-57 — process only NEW entities "
    "(anti-join) plus RUNNING ones (predicate), as one unioned batch",
    oracle="""
SELECT c.c_custkey, 'new' AS reason
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT DISTINCT o.o_custkey AS c_custkey, 'running' AS reason
FROM orders o
WHERE o.o_orderstatus = 'O'
""",
)
def change_detection_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    new = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", F.lit("new").alias("reason")
    )
    running = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("reason", F.lit("running"))
    )
    return new.unionByName(running)


# --- N1+N3: streaming foreachBatch MERGE (the production sink path) ---------


@register(
    "streaming_foreachbatch_merge",
    doc="readStream over events -> foreachBatch MERGE into a keyed "
    "parquet table (availableNow trigger, checkpointed) on top of a "
    "pre-seeded half-table — exercises streaming update+insert upsert; "
    "oracle is the full deduped projection (stream rows win, event_id "
    "is unique).  On a cluster this is the exactly-once-effect Delta "
    "MERGE sink; here the vanilla-parquet merge (sinks/merge.py)",
    oracle="""
SELECT event_id, user_id, event_type,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_epoch
FROM events
""",
)
def streaming_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = f"{tempfile.gettempdir()}/spark_graft_fbm_{uuid.uuid4().hex[:8]}"
    ckpt = f"{path}_ckpt"
    keys = ["event_id"]

    def project(df: DataFrame) -> DataFrame:
        return df.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_timestamp("ts").alias("ts_epoch"),
        )

    # seed: half the table already loaded (these rows take the MERGE
    # update path; the other half the insert path)
    seed = project(load_table(spark, sf_dir, "events")).filter(
        F.col("event_id") % 2 == 0
    )
    merge_upsert(spark, path, seed, keys)

    stream = stream_events(spark, sf_dir, watermark="30 minutes")

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, path, project(batch_df), keys)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 180)
    return _detach_and_cleanup(spark.read.parquet(path), path, ckpt)


# --- custom stateful streaming (applyInPandasWithState) ---------------------


@register(
    "streaming_stateful_dedup",
    doc="cross-micro-batch exactly-once-style dedup via "
    "applyInPandasWithState (streaming/stateful.py): batch 1 lands "
    "events < 600, batch 2 REPLAYS them plus 600-999 — the keyed seen-"
    "set state drops every replayed row, so the end state is each event "
    "exactly once; oracle is the distinct projection",
    oracle="""
SELECT CAST(user_id % 10 AS VARCHAR) AS key,
       event_id,
       event_type
FROM events WHERE event_id < 1000
""",
)
def streaming_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_seen_filter

    base = f"{tempfile.gettempdir()}/spark_graft_ssd_{uuid.uuid4().hex[:8]}"
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).cast("string").alias("key"),
        "event_id",
        "event_type",
    )
    # two files = (ideally) two micro-batches; identical replayed rows
    # must be dropped by STATE even when batches interleave
    ev.filter(F.col("event_id") < 600).coalesce(1).write.parquet(f"{src}/b1")
    ev.filter(F.col("event_id") < 1000).coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema("key string, event_id long, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    deduped = streaming_seen_filter(stream)
    sink = f"ssd_{uuid.uuid4().hex[:8]}"
    q = _start_state_sized(
        spark,
        deduped.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    _await_or_die(q, 120)
    return _detach_sink(spark.table(sink), sink, base)


@register(
    "streaming_running_max",
    doc="per-key running high-watermark carried across micro-batches "
    "(applyInPandasWithState, update mode): the streaming form of the "
    "reference's MAX(created_dt) cursor (reddit_extract.py:86-100); "
    "end state per key == batch MAX",
    oracle="""
SELECT CAST(user_id % 10 AS VARCHAR) AS key,
       MAX(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS max_ts
FROM events
GROUP BY 1
""",
)
def streaming_running_max_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import streaming_running_max

    base = f"{tempfile.gettempdir()}/spark_graft_srm_{uuid.uuid4().hex[:8]}"
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).cast("string").alias("key"),
        F.unix_timestamp("ts").alias("ts"),
    )
    # split the stream in two so the running max actually carries
    # state across micro-batches instead of folding in one pass
    half = ev.agg(F.expr("percentile(ts, 0.5)")).first()[0]
    ev.filter(F.col("ts") <= half).coalesce(1).write.parquet(f"{src}/b1")
    ev.filter(F.col("ts") > half).coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema("key string, ts long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )
    running = streaming_running_max(stream)
    sink = f"srm_{uuid.uuid4().hex[:8]}"
    q = _start_state_sized(
        spark,
        running.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    _await_or_die(q, 120)
    # update-mode memory sink appends every update; the END state per
    # key is the row from the LAST batch that touched the key
    final = spark.table(sink).groupBy("key").agg(F.max("max_ts").alias("max_ts"))
    return _detach_sink(final, sink, base)


# --- N1 streaming: session windows (stateful merge across batches) ----------


@register(
    "streaming_session_windows",
    doc="Structured Streaming sessionization: F.session_window with a "
    "30-minute inactivity gap over a user subset, complete-mode memory "
    "sink, availableNow trigger — the streaming twin of "
    "session_window_agg; oracle is the exact gaps-and-islands rewrite",
    oracle="""
WITH e AS (
    SELECT user_id, ts, value,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
    WHERE user_id % 10 = 0
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
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = stream_events(spark, sf_dir, watermark="30 minutes").filter(
        F.col("user_id") % 10 == 0
    )
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
    ).agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    sink = f"sess_{uuid.uuid4().hex[:8]}"
    # complete mode: sessions merge statefully across micro-batches and
    # ALL final sessions emit at the end — append mode would hold back
    # any session the final watermark has not passed
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 120)
    return _detach_sink(
        spark.table(sink).select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
            "total_value",
        ),
        sink,
    )


# --- N1 streaming: stream-stream time-interval join -------------------------


@register(
    "stream_interval_join",
    doc="the REUSABLE watermarked stream-stream time-interval join "
    "operator (streaming/joins.py stream_interval_join) under driver "
    "gating: clicks joined to purchases per user within [click, "
    "click + 2h], BOTH sides watermarked BY THE OPERATOR (state "
    "provably evicts at rate x (watermark + interval) per key; the "
    "operator refuses to build a bound-less join), availableNow "
    "replay, append sink.  Inner emission does not wait on the "
    "watermark, so the end state equals the batch interval join — "
    "that batch join is the oracle (the generated form, "
    "stream_interval_join_oracle, drives the cross-engine tests in "
    "tests/test_stream_join.py incl. the left_outer shape)",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(floor(epoch(p.ts)) - floor(epoch(c.ts)) AS BIGINT) AS secs_after
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
""",
)
def stream_interval_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.joins import stream_interval_join

    clicks = (
        stream_events(spark, sf_dir, watermark=None)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        stream_events(spark, sf_dir, watermark=None)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = stream_interval_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="click_ts",
        right_ts="purchase_ts",
        upper="2 hours",
        lower="0 seconds",
        watermark="1 hour",
    )
    sink = f"sij_{uuid.uuid4().hex[:8]}"
    # state partitions sized to the gate's KB-scale state: 32 measured
    # 6.1 s, 8 measured 2.5-3.0 s, 2 measured 2.2-2.4 s at sf0.1
    # (row-identical across counts — per-key results are partition-
    # count-independent); rationale and the production sizing note in
    # _start_state_sized.
    q = _start_state_sized(
        spark,
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True),
        parts="2",
    )
    _await_or_die(q, 120)
    return _detach_sink(
        spark.table(sink).select(
            "click_id",
            "purchase_id",
            "user_id",
            (
                F.unix_timestamp("purchase_ts") - F.unix_timestamp("click_ts")
            ).alias("secs_after"),
        ),
        sink,
    )


# --- N3: built-in streaming dedup (dropDuplicatesWithinWatermark) -----------


@register(
    "streaming_dedup_within_watermark",
    doc="built-in cross-batch streaming dedup: "
    "dropDuplicatesWithinWatermark(event_id) over a replayed two-batch "
    "fixture (batch 2 replays all of batch 1) — the engine-managed "
    "counterpart of the custom applyInPandasWithState seen-set "
    "(q:streaming_stateful_dedup); the watermark delay exceeds the "
    "fixture's time span so state never expires mid-run and no fresh "
    "row is dropped as late.  Oracle: the distinct projection",
    oracle="""
SELECT event_id, event_type,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_epoch
FROM events WHERE event_id < 1000
""",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = f"{tempfile.gettempdir()}/spark_graft_ddw_{uuid.uuid4().hex[:8]}"
    src, ckpt = f"{base}/src", f"{base}/ckpt"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    ev.filter(F.col("event_id") < 600).coalesce(1).write.parquet(f"{src}/b1")
    ev.filter(F.col("event_id") < 1000).coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema("event_id long, event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sink = f"ddw_{uuid.uuid4().hex[:8]}"
    q = _start_state_sized(
        spark,
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True),
    )
    _await_or_die(q, 120)
    out = spark.table(sink).select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )
    return _detach_sink(out, sink, base)


# --- N1+E at scale: streaming materialized aggregate (state merge) ----------


@register(
    "streaming_incremental_agg",
    doc="streaming materialized view: readStream over a two-batch "
    "events fixture -> foreachBatch computes the batch's PARTIAL "
    "aggregate state (operators/partial_agg.py) and folds it into a "
    "persistent state table (count/sum/max are mergeable monoids — "
    "each batch shuffles only its own groups, history is never "
    "re-read; the swap is atomic-rename here, Delta MERGE on a real "
    "cluster).  End state == the batch aggregate; oracle recomputes "
    "from scratch",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       MAX(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)) AS max_ts_epoch
FROM events
GROUP BY user_id
""",
)
def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.partial_agg import merge_agg_states, partial_agg_state

    base = f"{tempfile.gettempdir()}/spark_graft_sia_{uuid.uuid4().hex[:8]}"
    src, ckpt, state = f"{base}/src", f"{base}/ckpt", f"{base}/state"
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts"
    )
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/b1")
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/b2")
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, value double, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/b*")
    )

    def mk_state(df: DataFrame) -> DataFrame:
        return partial_agg_state(
            df.select(
                "user_id",
                F.col("value").cast("decimal(18,2)").alias("v"),
                F.unix_timestamp("ts").alias("ts_epoch"),
            ),
            keys=["user_id"],
            sum_cols={"total_value": "v"},
            max_cols={"max_ts_epoch": "ts_epoch"},
            count_col="n_events",
        )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch may REDELIVER a batch_id (crash between the
        # state swap and the checkpoint commit, then restart): folding
        # twice would double-count, so the applied batch_id rides
        # INSIDE the state dir as a marker file — the atomic rename
        # moves data and marker together, making the fold
        # exactly-once (markers are _-prefixed: parquet readers skip
        # them).  Batches commit in order, so one marker suffices.
        if os.path.exists(os.path.join(state, f"_applied_{batch_id}")):
            return
        s = batch_df.sparkSession
        delta = mk_state(batch_df)
        if os.path.exists(state):
            merged = merge_agg_states(
                [s.read.parquet(state), delta],
                keys=["user_id"],
                sum_cols=["n_events", "total_value"],
                max_cols=["max_ts_epoch"],
            )
        else:
            merged = delta
        # land-then-swap keeps readers off half-written state
        merged.write.mode("overwrite").parquet(f"{state}_new")
        open(
            os.path.join(f"{state}_new", f"_applied_{batch_id}"), "w"
        ).close()
        if os.path.exists(state):
            shutil.rmtree(state)
        os.rename(f"{state}_new", state)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 180)
    out = spark.read.parquet(state).select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "max_ts_epoch",
    )
    return _detach_and_cleanup(out, base)


# --- N1 streaming: stream-static broadcast enrichment ------------------------


@register(
    "stream_static_enrich_join",
    doc="stream-static join: the events stream enriches against a "
    "STATIC dimension (user tier derived batch-side) — the static "
    "side broadcasts per micro-batch, no stream-side state, no "
    "watermark requirement (unlike stream-stream joins); the "
    "standard streaming enrichment shape.  availableNow + memory "
    "sink; oracle is the equivalent batch join + aggregate",
    oracle="""
WITH tiers AS (
    SELECT user_id,
           CASE WHEN user_id % 3 = 0 THEN 'gold'
                WHEN user_id % 3 = 1 THEN 'silver'
                ELSE 'bronze' END AS tier
    FROM (SELECT DISTINCT user_id FROM events)
)
SELECT t.tier, e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN tiers t ON e.user_id = t.user_id
GROUP BY t.tier, e.event_type
""",
)
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    tiers = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            F.when(F.col("user_id") % 3 == 0, "gold")
            .when(F.col("user_id") % 3 == 1, "silver")
            .otherwise("bronze")
            .alias("tier"),
        )
    )
    stream = stream_events(spark, sf_dir, watermark="30 minutes")
    enriched = stream.join(F.broadcast(tiers), "user_id")
    agg = enriched.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )
    sink = f"sse_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await_or_die(q, 120)
    return _detach_sink(
        spark.table(sink).select(
            "tier", "event_type", "n_events", "total_value"
        ),
        sink,
    )


# --- streaming ingestion INTO the snapshot log (r11 — VERDICT r10 #1) ------

from ..streaming.lakehouse import (  # noqa: E402
    stream_into_snapshot,
    stream_into_snapshot_oracle,
)


@register(
    "stream_snapshot_ingest",
    doc="streaming ingestion INTO the snapshot-logged table format "
    "(streaming/lakehouse.py:30 — queued r10, registered r11 per "
    "VERDICT r10 #1): the gate stages the events table as three "
    "key-sliced parquet files, replays them as an availableNow "
    "stream with maxFilesPerTrigger=1 (one micro-batch per slice), "
    "and each batch lands as ONE atomic log commit — the first "
    "bootstraps the table with stats+blooms from commit 1, the rest "
    "run the replay-convergent keyed copy-on-write MERGE (the "
    "manifest envelopes+blooms bound each batch's rewrite to the "
    "files its keys can actually touch).  The gate then reads the "
    "FINAL table back through the log: batch boundaries, bootstrap-"
    "vs-merge paths, and commit atomicity must all be invisible — "
    "the content equals the plain projection of the staged slice, "
    "which is exactly what the oracle states.  The slice is a "
    "deterministic 1/5 key-cut of events (r12 slimming, VERDICT r11 "
    "#3: the gate dominated the driver window's wall-clock on pure "
    "orchestration; the smaller slice exercises the identical "
    "bootstrap/merge/replay machinery).  Exactly-once EFFECT is the "
    "same idempotence contract the reference's ON CONFLICT upsert "
    "gave its re-runs (SURVEY §2.N3; load_helpers.py:28-33).  "
    "(fuzz family `cow_merge`; replay/bootstrap unit tests "
    "tests/test_stream_lakehouse.py; plan audit "
    "tests/test_plans_queued.py)",
    oracle=stream_into_snapshot_oracle(where="event_id % 5 = 0"),
)
def stream_snapshot_ingest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.snapshot import read_snapshot

    d = tempfile.mkdtemp(prefix="sps_stream_snap_gate_")
    stage = os.path.join(d, "src")
    tbl = os.path.join(d, "table")
    ckpt = os.path.join(d, "ckpt")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .filter(F.col("event_id") % 5 == 0)
    )
    # ONE staging job for all three slices (the build_zonemap
    # pattern): repartition on the slice key + partitionBy, then
    # flatten each slice's parts into the stream source dir
    staging = os.path.join(d, "_stage")
    (
        ev.withColumn("_g", F.pmod(F.col("event_id"), F.lit(3)))
        .repartition(3, "_g")
        .write.partitionBy("_g")
        .parquet(staging)
    )
    os.makedirs(stage, exist_ok=True)
    for i in range(3):
        gdir = os.path.join(staging, f"_g={i}")
        for j, p in enumerate(
            sorted(
                f for f in os.listdir(gdir) if f.endswith(".parquet")
            )
        ):
            os.rename(
                os.path.join(gdir, p),
                os.path.join(stage, f"s{i}_{j}.parquet"),
            )
    shutil.rmtree(staging, ignore_errors=True)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_into_snapshot(stream, tbl, "event_id", ckpt)
    _await_or_die(q, 180)
    out = read_snapshot(spark, tbl).select(
        "event_id", "user_id", "event_type"
    )
    return _detach_and_cleanup(out, d)
