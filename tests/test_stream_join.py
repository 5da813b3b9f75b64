"""Watermarked stream-stream interval join: static-mode equivalence
with the generated DuckDB oracle on the sf0.001 events table, an
actual two-batch availableNow streaming replay matching the static
join row-for-row, and the unbounded-state / ambiguous-column guards.
"""

from __future__ import annotations

import random
import tempfile
import uuid

import duckdb
import pandas as pd
import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.streaming.joins import (
    stream_interval_join,
    stream_interval_join_oracle,
)

SF_DIR = "/root/testdata/sf0.001"


def _sides(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return views, clicks


def _key(rows):
    return sorted(
        (r["user_id"], r["view_id"], r["click_id"]) for r in rows
    )


def test_static_mode_matches_duckdb_oracle(spark):
    views, clicks = _sides(spark)
    out = stream_interval_join(
        views,
        clicks,
        keys=["user_id"],
        left_ts="view_ts",
        right_ts="click_ts",
        upper="1 hour",
    ).select("user_id", "view_id", "click_id")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/events.parquet')"
    )
    sql = stream_interval_join_oracle(
        keys=["user_id"],
        left_sql=(
            "SELECT user_id, event_id AS view_id,"
            " CAST(ts AS TIMESTAMP) AS view_ts"
            " FROM events WHERE event_type = 'view'"
        ),
        right_sql=(
            "SELECT user_id, event_id AS click_id,"
            " CAST(ts AS TIMESTAMP) AS click_ts"
            " FROM events WHERE event_type = 'click'"
        ),
        left_ts="view_ts",
        right_ts="click_ts",
        upper_s=3600,
    )
    wdf = con.execute(sql).fetchdf()
    want = sorted(
        (int(u), int(v), int(c))
        for u, v, c in zip(
            wdf["user_id"], wdf["view_id"], wdf["click_id"]
        )
    )
    got = _key(out.collect())
    assert len(got) > 0  # the fixture must actually exercise the join
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_static_mode_random_events_match_oracle(spark, seed):
    """Random two-sided event sets over 5 keys and random upper
    bounds: the static-mode interval join == the DuckDB oracle."""
    rng = random.Random(seed)
    lrows = [
        (rng.randrange(0, 5), i, rng.randrange(0, 10000))
        for i in range(rng.randrange(1, 40))
    ]
    rrows = [
        (rng.randrange(0, 5), i, rng.randrange(0, 10000))
        for i in range(rng.randrange(1, 40))
    ]
    upper = rng.choice([60, 600, 3600])
    left = spark.createDataFrame(
        lrows, "user_id long, view_id long, sec long"
    ).selectExpr("user_id", "view_id", "timestamp_seconds(sec) AS view_ts")
    right = spark.createDataFrame(
        rrows, "user_id long, click_id long, sec long"
    ).selectExpr("user_id", "click_id", "timestamp_seconds(sec) AS click_ts")
    got = _key(
        stream_interval_join(
            left,
            right,
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
            upper=f"{upper} seconds",
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "lraw", pd.DataFrame(lrows, columns=["user_id", "view_id", "sec"])
    )
    con.register(
        "rraw", pd.DataFrame(rrows, columns=["user_id", "click_id", "sec"])
    )
    wdf = con.execute(
        stream_interval_join_oracle(
            keys=["user_id"],
            left_sql="SELECT user_id, view_id, to_timestamp(sec) AS view_ts FROM lraw",
            right_sql=(
                "SELECT user_id, click_id, to_timestamp(sec) AS click_ts FROM rraw"
            ),
            left_ts="view_ts",
            right_ts="click_ts",
            upper_s=upper,
        )
    ).fetchdf()
    want = sorted(
        (int(u), int(v), int(c))
        for u, v, c in zip(wdf["user_id"], wdf["view_id"], wdf["click_id"])
    )
    assert got == want, (seed, upper, len(lrows), len(rrows))


def test_streaming_replay_matches_static(spark):
    views, clicks = _sides(spark)
    static = _key(
        stream_interval_join(
            views,
            clicks,
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
            upper="1 hour",
        ).collect()
    )
    base = f"{tempfile.gettempdir()}/sps_ssj_{uuid.uuid4().hex[:8]}"
    # two-batch file source per side: maxFilesPerTrigger=1 forces the
    # join to carry state ACROSS micro-batches
    views.filter(F.col("view_id") % 2 == 0).coalesce(1).write.parquet(
        f"{base}/v/b1"
    )
    views.filter(F.col("view_id") % 2 == 1).coalesce(1).write.parquet(
        f"{base}/v/b2"
    )
    clicks.coalesce(1).write.parquet(f"{base}/c/b1")
    vs = (
        spark.readStream.schema(
            "user_id long, view_id long, view_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/v/b*")
    )
    cs = (
        spark.readStream.schema(
            "user_id long, click_id long, click_ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{base}/c/b*")
    )
    # watermark far beyond the fixture's span: nothing is dropped as
    # late, so the replay must equal the static join exactly
    joined = stream_interval_join(
        vs,
        cs,
        keys=["user_id"],
        left_ts="view_ts",
        right_ts="click_ts",
        upper="1 hour",
        watermark="3650 days",
    )
    sink = f"ssj_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "streaming join did not finish"
    got = _key(spark.table(sink).collect())
    assert got == static


def test_guards(spark):
    views, clicks = _sides(spark)
    with pytest.raises(ValueError, match="distinct column names"):
        stream_interval_join(
            views.withColumnRenamed("view_ts", "ts"),
            clicks.withColumnRenamed("click_ts", "ts"),
            keys=["user_id"],
            left_ts="ts",
            right_ts="ts",
        )
    with pytest.raises(ValueError, match="shared by both sides"):
        stream_interval_join(
            views,
            clicks.withColumnRenamed("click_id", "view_id"),
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
        )


def test_left_outer_matches_duckdb_oracle(spark):
    """Outer form: unmatched views survive with NULL click columns —
    equal to the DuckDB LEFT JOIN replay on the same condition."""
    views, clicks = _sides(spark)
    out = stream_interval_join(
        views,
        clicks,
        keys=["user_id"],
        left_ts="view_ts",
        right_ts="click_ts",
        upper="5 minutes",
        how="left_outer",
    ).select("user_id", "view_id", "click_id")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/events.parquet')"
    )
    sql = stream_interval_join_oracle(
        keys=["user_id"],
        left_sql=(
            "SELECT user_id, event_id AS view_id,"
            " CAST(ts AS TIMESTAMP) AS view_ts"
            " FROM events WHERE event_type = 'view'"
        ),
        right_sql=(
            "SELECT user_id, event_id AS click_id,"
            " CAST(ts AS TIMESTAMP) AS click_ts"
            " FROM events WHERE event_type = 'click'"
        ),
        left_ts="view_ts",
        right_ts="click_ts",
        upper_s=300,
        how="left_outer",
    )
    wdf = con.execute(sql).fetchdf()
    import pandas as pd

    want = sorted(
        (
            (int(u), int(v), None if pd.isna(c) else int(c))
            for u, v, c in zip(
                wdf["user_id"], wdf["view_id"], wdf["click_id"]
            )
        ),
        key=str,
    )
    got = sorted(
        (
            (r["user_id"], r["view_id"], r["click_id"])
            for r in out.collect()
        ),
        key=str,
    )
    assert len(got) >= len(set(r[1] for r in got))  # every view kept
    assert got == want
    assert any(c is None for _u, _v, c in got)  # some unmatched rows


def test_bad_how_rejected(spark):
    views, clicks = _sides(spark)
    with pytest.raises(ValueError, match="inner.*left_outer"):
        stream_interval_join(
            views,
            clicks,
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
            how="full_outer",
        )
