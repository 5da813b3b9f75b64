"""Streaming ingestion into the snapshot table format (r10,
streaming/lakehouse.py): each micro-batch is ONE atomic log commit,
the first batch bootstraps the table (stats + blooms from commit 1),
a replayed stream converges instead of duplicating (exactly-once
EFFECT via the keyed COW merge), and maintenance composes between
commits as further versions of the same log."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyspark.sql.functions as F
import pytest

from survivor_processing_spark.operators.snapshot import (
    log_versions,
    read_snapshot,
    snapshot_history,
    table_state,
)
from survivor_processing_spark.streaming.lakehouse import (
    stream_into_snapshot,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def dirs():
    d = tempfile.mkdtemp(prefix="sps_stream_lake_")
    try:
        yield os.path.join(d, "table"), os.path.join(d, "ckpt")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _stream(spark, stage: str, n_files: int):
    """A file-per-trigger stream over n_files staged event slices —
    n_files micro-batches, each key-unique on event_id."""
    schema = spark.read.parquet(f"{SF}/events.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
        .select("event_id", "user_id", "event_type")
    )


def _stage_slices(spark, stage: str, n_files: int) -> None:
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for i in range(n_files):
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(stage, f"slice_{i}"))
        # the stream source wants a flat dir of files
    # flatten: move each part up as sliceN.parquet
    for i in range(n_files):
        d = os.path.join(stage, f"slice_{i}")
        part = next(
            p for p in sorted(os.listdir(d)) if p.endswith(".parquet")
        )
        os.rename(
            os.path.join(d, part), os.path.join(stage, f"s{i}.parquet")
        )
        shutil.rmtree(d, ignore_errors=True)


def test_stream_bootstraps_commits_per_batch_and_replays(spark, dirs):
    table_dir, ckpt = dirs
    stage = tempfile.mkdtemp(prefix="sps_stream_src_")
    try:
        _stage_slices(spark, stage, 3)
        q = stream_into_snapshot(
            _stream(spark, stage, 3), table_dir, "event_id", ckpt
        )
        q.awaitTermination()
        expected = dict(
            spark.read.parquet(f"{SF}/events.parquet")
            .select("event_id", "event_type")
            .collect()
        )
        got = dict(
            read_snapshot(spark, table_dir)
            .select("event_id", "event_type")
            .collect()
        )
        assert got == expected
        # one atomic commit per non-empty micro-batch: v1 bootstrap +
        # one merge per remaining slice
        versions = log_versions(table_dir)
        assert len(versions) == 3
        # bootstrap recorded stats AND blooms from commit 1
        st = table_state(table_dir, 1).stats
        assert st and all(
            "bloom" in v["event_id"] and v["event_id"]["vmin"] is not None
            for v in st.values()
        )
        # history is the batch history
        hist = {
            r["version"]: r["n_adds"]
            for r in snapshot_history(spark, table_dir).collect()
        }
        assert set(hist) == {1, 2, 3}

        # REPLAY from a fresh checkpoint: the keyed merge converges —
        # same content, no duplicates (exactly-once EFFECT)
        q2 = stream_into_snapshot(
            _stream(spark, stage, 3),
            table_dir,
            "event_id",
            ckpt + "_replay",
        )
        q2.awaitTermination()
        again = dict(
            read_snapshot(spark, table_dir)
            .select("event_id", "event_type")
            .collect()
        )
        assert again == expected
        n = read_snapshot(spark, table_dir).count()
        assert n == len(expected)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_stream_then_maintenance_composes_on_one_log(spark, dirs):
    """Ingest, then DELETE + OPTIMIZE ZORDER run as further versions
    of the same log — the standing 100 TB shape: stream commits and
    maintenance commits interleave on one table."""
    from survivor_processing_spark.operators.snapshot import (
        zorder_snapshot,
    )
    from survivor_processing_spark.sinks.merge import delete_from_snapshot

    table_dir, ckpt = dirs
    stage = tempfile.mkdtemp(prefix="sps_stream_src_")
    try:
        _stage_slices(spark, stage, 2)
        q = stream_into_snapshot(
            _stream(spark, stage, 2), table_dir, "event_id", ckpt
        )
        q.awaitTermination()
        total = read_snapshot(spark, table_dir).count()
        out = delete_from_snapshot(spark, table_dir, "event_id", 0, 99)
        assert out["n_deleted"] > 0
        zorder_snapshot(
            spark, table_dir, "event_id", "user_id", n_files=2
        )
        left = read_snapshot(spark, table_dir)
        assert left.count() == total - out["n_deleted"]
        assert left.filter("event_id <= 99").count() == 0
        # the full lineage stays time-travelable
        assert len(log_versions(table_dir)) == 4
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_stream_writes_log_checkpoints_on_cadence(spark, dirs):
    """log_checkpoint_every=2: the standing-ingestion shape writes a
    snapshot-log checkpoint after every second commit, so a hot
    table's planning replay stays O(commits since checkpoint)."""
    from survivor_processing_spark.operators.snapshot import (
        log_checkpoints,
    )

    table_dir, ckpt = dirs
    stage = tempfile.mkdtemp(prefix="sps_stream_src_")
    try:
        _stage_slices(spark, stage, 4)
        q = stream_into_snapshot(
            _stream(spark, stage, 4),
            table_dir,
            "event_id",
            ckpt,
            log_checkpoint_every=2,
        )
        q.awaitTermination()
        # 4 slices -> v1 bootstrap + 3 merges; cadence hits v2, v4
        assert log_checkpoints(table_dir) == [2, 4]
        # and the checkpointed table still reads exactly
        got = read_snapshot(spark, table_dir).count()
        want = spark.read.parquet(f"{SF}/events.parquet").count()
        assert got == want
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def test_stream_batch_replans_on_occ_conflict(spark, dirs, monkeypatch):
    """A batch whose merge loses the read-set OCC race replans from
    the new head instead of failing the stream (the keyed merge is
    exactly-once-EFFECT, so the retry converges)."""
    import survivor_processing_spark.sinks.merge as merge_mod
    from survivor_processing_spark.operators.snapshot import (
        SnapshotConflictError,
    )

    table_dir, ckpt = dirs
    stage = tempfile.mkdtemp(prefix="sps_stream_src_")
    state = {"bombs": 2}
    real_merge = merge_mod.merge_into_snapshot

    def flaky_merge(*args, **kwargs):
        if state["bombs"] > 0:
            state["bombs"] -= 1
            raise SnapshotConflictError("injected concurrent commit")
        return real_merge(*args, **kwargs)

    monkeypatch.setattr(merge_mod, "merge_into_snapshot", flaky_merge)
    try:
        _stage_slices(spark, stage, 3)
        q = stream_into_snapshot(
            _stream(spark, stage, 3), table_dir, "event_id", ckpt
        )
        q.awaitTermination()
        assert state["bombs"] == 0  # both injections consumed
        got = read_snapshot(spark, table_dir).count()
        want = spark.read.parquet(f"{SF}/events.parquet").count()
        assert got == want
    finally:
        shutil.rmtree(stage, ignore_errors=True)
