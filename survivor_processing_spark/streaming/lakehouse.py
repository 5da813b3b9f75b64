"""Streaming ingestion INTO the snapshot-logged table format — the
piece that joins the engine's two deep layers: Structured Streaming
(micro-batch delivery, checkpointed progress, replay) and the
lakehouse trio (snapshot log + stats/bloom manifests + copy-on-write
DML).  Each micro-batch lands as ONE atomic log commit, so readers
of the table — batch scans, time travel, pruned scans — never
observe a torn batch, and the table's history IS the stream's batch
history.

Exactly-once EFFECT, not exactly-once delivery: the sink is the
keyed copy-on-write MERGE (sinks/merge.py merge_into_snapshot), so a
replayed micro-batch (checkpoint loss, failure-retry) re-merges the
same keys to the same values — the table converges instead of
duplicating, which is the same idempotence contract the reference's
ON CONFLICT upsert gave its re-runs (SURVEY §2.N3) and the property
q:streaming_foreachbatch_merge gates for the plain parquet sink.

At 100 TB this is the standing ingestion shape: the stream's rate
bounds each batch, the manifest (envelopes + blooms) bounds each
merge's rewrite to the files the batch's keys can actually touch,
and maintenance (compaction, z-order, retention) runs between
commits as further atomic versions of the same log.  Each batch's
merge is planned on the driver from one collect of the batch's key
column (``sinks/merge.py`` ``plan_key_merge``), so the batch's key
column must fit in driver memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_into_snapshot(
    stream_df: DataFrame,
    table_dir: str,
    key_col: str,
    checkpoint: str,
    cast: str = "bigint",
    bloom_bits: int | str | None = "auto",
    available_now: bool = True,
    log_checkpoint_every: int | None = 32,
    conflict_retries: int = 3,
):
    """Run a streaming DataFrame into a snapshot-logged table via
    ``foreachBatch`` → copy-on-write MERGE: one atomic log commit per
    micro-batch (the first batch BOOTSTRAPS the table when no log
    exists yet, stats recorded from commit 1).  Batches must be
    key-unique on ``key_col`` (the merge's contract — pre-aggregate
    upstream if the stream can repeat a key within one batch).

    ``log_checkpoint_every`` (default 32) writes a snapshot-log
    CHECKPOINT (operators/snapshot.py ``checkpoint_snapshot``) after
    every Nth commit: a standing stream mints a version per
    micro-batch, and without checkpoints every merge's planning
    replay grows with the table's entire commit history — the
    exact workload the checkpoint layer exists for.  ``None``
    disables (maintenance then owns the cadence).

    ``conflict_retries`` REPLANS a batch whose commit lost the
    read-set OCC race (``SnapshotConflictError`` — e.g. a
    maintenance purge/compaction committed mid-batch): the keyed
    merge is exactly-once-EFFECT, so re-running it against the new
    head converges instead of duplicating — the retry loop is the
    streaming face of the replan-from-head contract every writer
    documents.  Retries exhausted re-raise (the stream fails loudly
    rather than dropping a batch).

    Returns the started ``StreamingQuery``; with
    ``available_now=True`` (the default, and the replay-testable
    mode) the caller awaits termination."""
    from ..operators.snapshot import (
        SnapshotConflictError,
        checkpoint_snapshot,
        init_snapshot,
        log_versions,
    )
    from ..sinks.merge import merge_into_snapshot

    def sink(batch_df: DataFrame, _batch_id: int) -> None:
        if not log_versions(table_dir):
            # the batch arrives with the source's scan width (the
            # 32-way small-file floor; foreachBatch plans never AQE-
            # coalesce), and init_snapshot writes it as given — an
            # unsized bootstrap lands ~32 near-empty files, and every
            # later batch's scans and commit-time footer and key-bloom
            # reads pay per file.  Bootstrap happens once per table
            # lifetime, so the exact count is worth its single job
            # (it also subsumes the emptiness probe) and sizes the
            # first commit like every other writer (sized_for_write).
            n0 = batch_df.count()
            if n0 == 0:
                return  # an empty batch must not bootstrap the table
            from ..sinks.merge import sized_for_write

            init_snapshot(
                batch_df.sparkSession,
                table_dir,
                sized_for_write(batch_df, est_rows=n0),
                stats_cols=[key_col],
                prefix="stream",
                bloom_key=key_col,
                bloom_bits=bloom_bits,
            )
            return
        for attempt in range(conflict_retries + 1):
            try:
                out = merge_into_snapshot(
                    batch_df.sparkSession,
                    table_dir,
                    batch_df,
                    key_col,
                    cast=cast,
                    bloom_bits=bloom_bits,
                )
                break
            except SnapshotConflictError:
                # lost the OCC race to a concurrent maintenance
                # commit: the merge rolled back; replan from the new
                # head (idempotent — exactly-once EFFECT)
                if attempt >= conflict_retries:
                    raise
        v = out.get("version")
        if (
            log_checkpoint_every
            and v is not None
            and v % log_checkpoint_every == 0
        ):
            # best-effort maintenance: a failed checkpoint must not
            # fail the batch (the commit already landed; the next
            # cadence hit retries)
            try:
                checkpoint_snapshot(table_dir)
            except OSError:
                pass

    writer = stream_df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_into_snapshot_oracle(
    cols: list[str] | None = None,
    table: str = "events",
    where: str | None = None,
) -> str:
    """DuckDB oracle for the q:stream_snapshot_ingest gate: after an
    availableNow run over slices of ``table``, the snapshot content
    equals the plain projection — batch boundaries, bootstrap vs
    merge paths, and replay must all be invisible in the final
    table.  ``where`` mirrors the gate's staging filter (the r12
    slimming keeps the three-batch semantics on a deterministic
    key-slice of the table instead of all of it — VERDICT r11
    "What's wrong" #3: the gate was 18% of the driver window's
    wall-clock, all orchestration, none of it exercising anything
    the smaller slice doesn't)."""
    cs = ", ".join(cols or ["event_id", "user_id", "event_type"])
    w = f" WHERE {where}" if where else ""
    return f"SELECT {cs} FROM {table}{w}"
