"""Merge-on-read row-level DML (deletion vectors) + change data feed
over the snapshot log — the second half of the table format's DML
story.  ``sinks/merge.py`` gives the trio COPY-ON-WRITE DELETE/MERGE:
correct, but a delete of 100 rows spread over 100 multi-GB files
rewrites all of them.  The public designs for making that cheap are
Delta Lake's deletion vectors and Iceberg v2 position deletes: record
*(file, row position)* tombstones in a small sidecar, apply them as an
anti-join at read time, and let maintenance (OPTIMIZE/purge) fold them
into real rewrites later.  This module is that design re-expressed on
the repo's own snapshot log (operators/snapshot.py):

- the DELETE plans with the SAME log-first zone-map cut as the COW
  path (``range_candidate_files``), scans only candidate files, and
  writes sidecar parquet(s) of ``(file string, pos long)`` positions
  — the commit is ``dv_adds``-only, zero data files rewritten; a
  large tombstone set SHARDS the sidecar write by data file
  (disjoint-coverage sidecars, parallel writer tasks instead of a
  single-task ``coalesce(1)`` funnel);
- row identity is Spark's parquet ``_metadata.file_name`` /
  ``_metadata.row_index`` — the physical position in the file, the
  exact identity Delta DVs and Iceberg position deletes key on, and
  the same pair DuckDB exposes as ``filename`` / ``file_row_number``
  (the cross-engine oracle);
- every reader sees the post-delete table because
  ``read_snapshot`` anti-joins live DVs (``strip_deleted_rows``), and
  every COW rewriter (compaction, z-order, MERGE, COW DELETE) applies
  them before rewriting — a rewrite retires the coverage it folds in
  (the log replay prunes coverage as files are removed);
- :func:`purge_dvs` is Delta's ``REORG ... APPLY (PURGE)``: rewrite
  ONLY the covered files with their DVs applied, committed with
  ``data_change=False`` (layout-only — the rows were already
  logically gone);
- :func:`table_changes` is the change data feed (Delta CDF shape):
  incremental consumers read inserts/deletes between two versions,
  with ``data_change=False`` maintenance commits skipped instead of
  emitted as rewrite noise.

Why this matters at 100 TB: a right-to-be-forgotten or retention pass
deletes a sliver of rows across many files; copy-on-write turns that
into a rewrite proportional to the FILES touched, merge-on-read into
one proportional to the ROWS deleted (a KB-scale sidecar write), with
the rewrite cost deferred to scheduled maintenance.  The DV build side
of every read is bounded by deletes-since-last-purge, broadcast under
a size cap and shuffled past it (``strip_deleted_rows``).

Reference parity: the reference rebuilds tables wholesale each run
(survivor_processing load_helpers.py:28-33 staging full-replace) —
row-level deletes exist there only as pandas boolean masks before the
replace (e.g. transform_helpers.py filter steps).  This module is the
at-scale replacement for that pattern, not a translation of it.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .snapshot import (
    MOR_FILE_TAG as _FCOL,
    MOR_POS_TAG as _PCOL,
)
from .snapshot import (
    Landing,
    _apply_entry,
    _dv_sidecars,
    _load_entry,
    _state_at,
    head_schema,
    log_versions,
    range_candidate_files,
    strip_deleted_rows,
    table_reader,
    table_state,
)


def _write_dv_sidecar(
    landing: Landing,
    hits: DataFrame,
    shards: int = 1,
) -> tuple[dict[str, list[str]], int]:
    """Land ``hits`` (``file``/``pos`` tombstones) as deletion-vector
    sidecars under ``landing`` (the caller commits them as
    ``dv_adds``, or leaves the scope and they are removed).

    Each sidecar is ONE parquet file (never split after landing), but
    a commit may carry SEVERAL sidecars with DISJOINT file-coverage:
    with ``shards > 1`` the tombstones hash-partition on their data
    FILE, so a large tombstone set (a MOR upsert matching millions of
    rows across thousands of files) writes through ``shards``
    parallel tasks instead of funnelling one.  All positions for one
    data file land in one sidecar (hash partition on ``file``), so
    coverage sets never overlap and no reader ever has to merge two
    same-commit sidecars for one file.  ``shards=1`` keeps the
    classic one-sidecar commit (and its ``dv-{tag}.parquet`` name)
    for sliver-sized deletes.

    Coverage is read back on the driver from each landed sidecar's
    ``file`` column in record batches — memory bounded by one batch
    plus the distinct covered files, whatever the tombstone count —
    and the tombstone count is the landing's footer row count.
    Returns ``({sidecar_name: sorted covered files}, n_rows)`` —
    ``({}, 0)`` when nothing matched."""
    import pyarrow.parquet as pq

    if shards <= 1:
        names = landing.land(
            hits.coalesce(1), "dv", name="dv-{tag}.parquet", one="DV"
        )
    else:
        names = landing.land(
            hits.repartition(shards, F.col("file")),
            "dv",
            name="dv-{tag}-{i:04d}.parquet",
        )
    sidecars: dict[str, list[str]] = {}
    for name in names:
        covered: set[str] = set()
        with pq.ParquetFile(os.path.join(landing.table_dir, name)) as pf:
            for batch in pf.iter_batches(batch_size=1 << 16, columns=["file"]):
                covered.update(batch.column(0).unique().to_pylist())
        sidecars[name] = sorted(covered)
    return sidecars, sum(landing.rows[n] for n in names)


def _auto_dv_shards(n_candidates: int) -> int:
    """Sidecar shard count from the planned scan width: ~8 candidate
    files per writer task, capped at 32 — sliver deletes (the MOR
    contract's common case, < 8 files) stay single-sidecar, a
    tombstone set spread over hundreds of files fans the write out
    instead of funnelling one task.  Residual bound (inherent to the
    never-split-a-file protocol, same as Delta's one-DV-per-file
    design): one data file's tombstones always land in one task, so
    parallelism is capped by the candidate-file count however many
    rows each file contributes."""
    return max(1, min(32, n_candidates // 8)) if n_candidates else 1


def delete_from_snapshot_mor(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    lo,
    hi,
    cast: str = "bigint",
    shards: int | str = 1,
) -> dict:
    """MERGE-ON-READ range DELETE: record the matching rows'
    positions in a deletion-vector sidecar instead of rewriting any
    data file.  Same SQL semantics as the COW
    ``sinks/merge.py delete_from_snapshot`` (NULL keys never match a
    range predicate, so they always survive), same log-first
    zone-map candidate cut — the scan touches only files whose
    envelope intersects ``[lo, hi]``.

    Rows already deleted by a live DV are anti-joined out BEFORE the
    predicate, so re-running the same delete is a clean no-op (no
    duplicate positions, no empty sidecar, no version minted) and
    ``n_deleted`` is always the count of rows that were live.

    Commit shape: ``dv_adds={sidecar: [covered files]}`` only — zero
    data files added or removed; time travel to any earlier version
    still reads the pre-delete rows because the sidecar only applies
    from this version on.

    Returns ``{"version", "n_deleted", "n_files_covered",
    "n_untouched", "dv", "dvs"}`` (``dv`` is the sidecar name for a
    single-sidecar commit, ``None`` when sharded; ``dvs`` always
    lists them all); a no-match delete returns ``version=None`` and
    leaves no sidecar behind.

    SIZING CONTRACT: with the default ``shards=1`` the sidecar lands
    as ONE file through one task (``coalesce(1)``) — right for the
    sliver-of-rows deletes MOR exists for.  A delete whose tombstones
    span many files fans the write out with ``shards > 1`` or
    ``shards="auto"`` (``_auto_dv_shards`` over the candidate count,
    the upsert's default policy): the commit then carries several
    sidecars with disjoint file-coverage, written in parallel.  A
    delete big enough to push READS past the broadcast cap in
    ``strip_deleted_rows`` still belongs on the COW path, whose cost
    is proportional to files touched, not rows deleted."""
    state = table_state(table_dir)
    candidates = range_candidate_files(state, key_col, lo, hi, cast)
    noop = {
        "version": None,
        "n_deleted": 0,
        "n_files_covered": 0,
        "n_untouched": len(state.active),
        "dv": None,
        "dvs": [],
    }
    if not candidates:
        return noop
    scan = table_reader(spark, state).parquet(
        *[os.path.join(table_dir, f) for f in candidates]
    )
    # keep_tags: the positions being recorded ARE the metadata tags;
    # the anti-join below drops rows an earlier DV already deleted
    live = strip_deleted_rows(
        spark, scan, table_dir, state.dvs, candidates, keep_tags=True
    )
    pred = (F.col(key_col) >= F.lit(lo)) & (F.col(key_col) <= F.lit(hi))
    hits = live.where(pred).select(
        F.col(_FCOL).alias("file"), F.col(_PCOL).alias("pos")
    )
    n_shards = (
        _auto_dv_shards(len(candidates))
        if shards == "auto"
        else int(shards)
    )
    with Landing(table_dir) as landing:
        sidecars, n_deleted = _write_dv_sidecar(landing, hits, n_shards)
        if not sidecars:
            return noop
        version = landing.commit(
            [], dv_adds=sidecars, planned_version=state.version
        )
    covered = sorted({f for cov in sidecars.values() for f in cov})
    return {
        "version": version,
        "n_deleted": n_deleted,
        "n_files_covered": len(covered),
        "n_untouched": len(state.active) - len(covered),
        "dv": next(iter(sidecars)) if len(sidecars) == 1 else None,
        "dvs": sorted(sidecars),
    }


def upsert_into_snapshot_mor(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_col: str,
    cast: str = "bigint",
    bloom_bits: int | str | None = "auto",
    dv_shards: int | str = "auto",
) -> dict:
    """MERGE-ON-READ keyed UPSERT — the Delta DV-enabled MERGE shape:
    instead of rewriting every file a source key lands in (the
    copy-on-write ``sinks/merge.py merge_into_snapshot``), DV-delete
    the matched rows and append the source as NEW files, all in ONE
    atomic commit (``adds`` + ``dv_adds`` together).  Logical result
    is IDENTICAL to the COW merge (source wins per key, table keys
    stay unique); the cost model flips from files-touched to
    batch-sized — at 100 TB a merge of 0.1% of keys scattered over
    half the files writes one batch of new files plus a KB-scale
    sidecar, not half the table.

    Same source contract as the COW merge: key-unique, no NULL keys,
    no schema drift (extra/missing/retyped columns rejected; use the
    COW path for explicit evolution).  The files to scan for matched
    positions come from the COW merge's driver-side plan
    (``sinks/merge.py`` ``plan_key_merge``: one collect of the source
    keys, then the log-first envelopes and per-file key blooms — a
    file whose envelope or bloom excludes every source key is never
    scanned), and rows an earlier DV already deleted are anti-joined
    out first, so a replayed batch re-converges instead of
    double-tombstoning — the same exactly-once-EFFECT contract as the
    COW merge.

    Change-feed bonus: because the commit IS (tombstones + inserts),
    ``table_changes`` emits the exact old row image as ``delete`` and
    the new one as ``insert`` for every update — row-exact CDC the
    COW rewrite can only over-report.

    Returns ``{"version", "n_updated", "n_inserted",
    "n_files_covered", "n_untouched", "adds", "dv", "dvs"}``; an
    empty source is a clean no-op.  ``n_updated`` counts tombstoned
    table ROWS; under the key-uniqueness invariant this merge itself
    maintains, that equals matched source keys and ``n_inserted`` is
    exact.  If the table already held duplicate live rows for a key
    (possible only via the documented concurrent same-new-key insert
    anomaly), one source key tombstones several rows, so
    ``n_inserted = max(0, n_src - n_updated)`` under-reports — the
    stat is approximate there (exact would re-scan the candidates
    for a distinct-matched-keys count; the commit itself converges
    correctly either way).

    ``dv_shards`` sizes the sidecar write fan-out: ``"auto"``
    (default) derives it from the candidate-file count via
    ``_auto_dv_shards`` — single-sidecar for sliver merges, up to 32
    parallel sidecar writers when tombstones span thousands of files
    (each sidecar covers a disjoint file set; see
    ``_write_dv_sidecar``).

    CONCURRENCY: the commit declares its read-set
    (``planned_version``), so the loser of any overlapping race
    fails loudly with SnapshotConflictError and replans: a
    concurrent rewrite that retires a file these tombstones cover
    (stale positions), AND — the DV-vs-DV rule, Delta's
    ConcurrentDeleteDelete shape — a concurrent MOR delete/upsert
    that tombstoned the SAME file from the same parent (silent
    composition there would let two upserts of one EXISTING key both
    append a replacement, breaking key uniqueness).  Writers over
    files no other writer touched compose.  The one remaining
    documented anomaly is the COW merge's: two concurrent upserts of
    the SAME brand-new key both land as inserts (no file exists yet
    for either to conflict on — see ``merge_into_snapshot``'s
    CONCURRENCY note)."""
    from pyspark import StorageLevel

    from ..sinks.merge import (
        check_source_schema,
        plan_key_merge,
        sized_for_compute,
        sized_for_write,
    )

    # MATERIALIZE the source once (the COW merge's rule, the public
    # Delta MERGE move): the key collect fills the cache, and the
    # tombstone semi-join and the append write read it again —
    # unpersisted in the finally; every action completes before
    # return.
    pinned = source.persist(StorageLevel.MEMORY_AND_DISK)
    source = pinned
    try:
        state = table_state(table_dir)
        # the key contract (empty, NULL, duplicate keys) and the files
        # that can hold a source key, in one collect of the keys
        n_in_source, candidates = plan_key_merge(
            state, source, key_col, cast
        )
        # narrow the view of the just-cached source for every later
        # consumer (sinks/merge.py sized_for_write note): a small
        # batch otherwise schedules its arrival width of near-empty
        # tasks per downstream job
        source = sized_for_compute(source, max(1, n_in_source))
        if n_in_source == 0:
            return {
                "version": None,
                "n_updated": 0,
                "n_inserted": 0,
                "n_files_covered": 0,
                "n_untouched": len(state.active),
                "adds": [],
                "dv": None,
                "dvs": [],
            }
        table = head_schema(spark, state)
        check_source_schema(
            table,
            source,
            widen="use merge_into_snapshot(allow_evolution=True) to widen",
        )
        # one rollback scope for the tombstone sidecars AND the
        # appended files: leaving it without a commit removes both
        with Landing(table_dir) as landing:
            sidecars: dict[str, list[str]] = {}
            n_updated = 0
            if candidates:
                scan = table_reader(spark, state).parquet(
                    *[os.path.join(table_dir, f) for f in candidates]
                )
                live = strip_deleted_rows(
                    spark,
                    scan,
                    table_dir,
                    state.dvs,
                    candidates,
                    keep_tags=True,
                )
                hits = live.join(
                    source.select(key_col), on=key_col, how="left_semi"
                ).select(
                    F.col(_FCOL).alias("file"), F.col(_PCOL).alias("pos")
                )
                shards = (
                    _auto_dv_shards(len(candidates))
                    if dv_shards == "auto"
                    else int(dv_shards)
                )
                sidecars, n_updated = _write_dv_sidecar(
                    landing, hits, shards
                )
            # append the source as new files, projected onto the
            # table's column order (never a source-ordered footer),
            # sized for the batch volume rather than the source's scan
            # width (sinks/merge.py sized_for_write — guide §6)
            adds = landing.land(
                sized_for_write(
                    source.select(*[c for c, _ in table]),
                    est_rows=n_in_source,
                ),
                "upsert",
            )
            version = landing.commit(
                adds,
                stats_cols=[key_col],
                bloom_key=key_col,
                bloom_bits=bloom_bits,
                dv_adds=sidecars or None,
                planned_version=state.version,
            )
        covered = sorted({f for cov in sidecars.values() for f in cov})
        return {
            "version": version,
            "n_updated": n_updated,
            # exact under the key-uniqueness invariant; clamped-approx
            # if pre-existing duplicate live rows inflate n_updated (see
            # docstring)
            "n_inserted": max(
                0, sum(landing.rows[a] for a in adds) - n_updated
            ),
            "n_files_covered": len(covered),
            "n_untouched": len(state.active) - len(covered),
            "adds": adds,
            "dv": next(iter(sidecars)) if len(sidecars) == 1 else None,
            "dvs": sorted(sidecars),
        }
    finally:
        pinned.unpersist()


def purge_dvs(
    spark: SparkSession,
    table_dir: str,
    stats_cols: list[str] | None = None,
    bloom_key: str | None = None,
    bloom_bits: int | str | None = "auto",
) -> dict:
    """Fold every live deletion vector into a real rewrite — Delta's
    ``REORG TABLE ... APPLY (PURGE)``.  Rewrites ONLY the covered
    files (untouched files survive by NAME), commits the swap with
    ``data_change=False`` (the rows were already logically deleted —
    change-feed readers skip this), and the removes retire the DV
    coverage by replay construction.  The sidecar FILES stay on disk
    for time travel to pre-purge versions; ``expire_snapshots``
    garbage-collects them when their last referencing entry expires.

    ``stats_cols`` records the rewritten files' envelopes in the
    commit (stats-in-manifest) and ``bloom_key`` re-attaches per-file
    key blooms — parity with the COW writers, so a purged file keeps
    planning log-first instead of degrading later merges to
    envelope-only.  Returns ``{"version", "n_rewritten",
    "n_untouched", "adds"}``; a table with no live DVs is a clean
    no-op."""
    # a MOR delete landing between this plan and this commit would
    # otherwise have its fresh DV silently folded OUT by our rewrite
    # (resurrecting its rows) — the read-set declaration
    # (planned_version = the state's version) makes commit_version
    # fail us loudly instead
    state = table_state(table_dir)
    if not state.dvs:
        return {
            "version": None,
            "n_rewritten": 0,
            "n_untouched": len(state.active),
            "adds": [],
        }
    covered = sorted({f for cov in state.dvs.values() for f in cov})
    scan = table_reader(spark, state).parquet(
        *[os.path.join(table_dir, f) for f in covered]
    )
    live = strip_deleted_rows(spark, scan, table_dir, state.dvs, covered)
    with Landing(table_dir) as landing:
        # a file whose every row was deleted lands no replacement
        adds = landing.land(live, "purge")
        version = landing.commit(
            adds,
            removes=covered,
            stats_cols=stats_cols,
            bloom_key=bloom_key,
            bloom_bits=bloom_bits,
            data_change=False,
            planned_version=state.version,
        )
    return {
        "version": version,
        "n_rewritten": len(covered),
        "n_untouched": len(state.active) - len(covered),
        "adds": adds,
    }


def table_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
) -> DataFrame:
    """CHANGE DATA FEED between two versions (Delta CDF shape): one
    row per changed row for every commit ``v_from < v <= v_to``, with
    ``_change_type`` (``insert`` / ``delete``) and
    ``_commit_version`` appended to the table columns.  ``v_from=0``
    means "from before the first commit" (the full-history feed).

    Exactness contract: commits marked ``data_change=False``
    (compaction, z-order, DV purge) are SKIPPED — they change layout,
    not content — so an incremental consumer never sees rewrite
    noise for them.  Appends emit their added files' rows as
    ``insert``; a DV commit emits exactly the newly-deleted rows as
    ``delete`` (positions an earlier DV already covered are
    anti-joined out); a remove emits the file's rows AS OF the
    parent version — i.e. with the parent's DVs applied — as
    ``delete``.  The one documented over-report: a COPY-ON-WRITE
    DELETE/MERGE commit is a data change whose rewrite re-adds the
    unchanged rows, so those emit as delete+insert pairs (Delta has
    the same behavior without its CDC files; consumers wanting exact
    row deltas use the MOR delete path).

    Scale: each commit contributes a file-bounded scan of exactly the
    files it touched — the feed never rescans the table, and the
    per-commit DV state replay is log-sized driver work."""
    versions = log_versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshot log under {table_dir!r}")
    if v_to not in versions:
        raise ValueError(f"version {v_to} not in log")
    if v_from != 0 and v_from not in versions:
        raise ValueError(f"version {v_from} not in log (0 = from start)")
    if v_from >= v_to:
        raise ValueError(f"need v_from < v_to, got {v_from} >= {v_to}")
    # the DV coverage at v_from (one replay, checkpoint-seeded: an
    # incremental consumer reading a small (v_from, v_to] window of a
    # long-lived table skips the pre-window entry chain), advanced
    # through the window by the same fold every replay uses, so each
    # emitted commit sees its PARENT version's DVs — skipped
    # data_change=False commits advance it too
    state = _state_at(table_dir, versions, v_from)
    steps: list[tuple[int, dict, dict[str, list[str]]]] = []
    for n in versions:
        if v_from < n <= v_to:
            e = _load_entry(table_dir, n)
            if e.get("data_change") is not False:
                steps.append((n, e, dict(state.dvs)))
            _apply_entry(state, e)
    # output schema: the table schema at v_to (logged wins, else any
    # file's footer), plus the two change columns
    reader = table_reader(spark, state)

    def _scan(files: list[str]) -> DataFrame:
        return reader.parquet(
            *[os.path.join(table_dir, f) for f in files]
        )

    def _tail(df: DataFrame, kind: str, v: int) -> DataFrame:
        return df.select(
            "*",
            F.lit(kind).alias("_change_type"),
            F.lit(v).cast("int").alias("_commit_version"),
        )

    parts: list[DataFrame] = []
    for n, e, parent_dvs in steps:
        if e.get("baseline"):
            # an expiry baseline is history COMPACTION, not a data
            # change: its adds re-state the files active at the cut,
            # its removes name crash-window bookkeeping whose data
            # files expiry already deleted from disk (scanning them
            # would crash), and its dv_adds cover its own adds (a
            # shape commit_version forbids for real commits).  Emit
            # it as the feed's INITIAL SNAPSHOT: the live rows at the
            # cut — adds with the baseline's own DVs applied — as
            # 'insert', nothing else.
            img = _scan(sorted(e["adds"]))
            if e.get("dv_adds"):
                img = strip_deleted_rows(
                    spark, img, table_dir, e["dv_adds"], sorted(e["adds"])
                )
            parts.append(_tail(img, "insert", n))
            continue
        if e["removes"]:
            # the removed files' LIVE rows at the parent version
            doomed = strip_deleted_rows(
                spark,
                _scan(sorted(e["removes"])),
                table_dir,
                parent_dvs,
                sorted(e["removes"]),
            )
            parts.append(_tail(doomed, "delete", n))
        if e["adds"]:
            parts.append(_tail(_scan(sorted(e["adds"])), "insert", n))
        for s, covered in sorted((e.get("dv_adds") or {}).items()):
            tomb, small = _dv_sidecars(spark, table_dir, [s])
            # tombstone side renamed: a table column called
            # "file"/"pos" must not make the join ambiguous
            tomb = tomb.select(
                F.col("file").alias("__sps_dv_file"),
                F.col("pos").alias("__sps_dv_pos"),
            )
            img = strip_deleted_rows(
                spark,
                _scan(sorted(covered)),
                table_dir,
                parent_dvs,
                sorted(covered),
                keep_tags=True,
            )
            dead = img.join(
                F.broadcast(tomb) if small else tomb,
                (F.col(_FCOL) == F.col("__sps_dv_file"))
                & (F.col(_PCOL) == F.col("__sps_dv_pos")),
                "left_semi",
            ).drop(_FCOL, _PCOL)
            parts.append(_tail(dead, "delete", n))
            # fold THIS sidecar into the parent DVs before the
            # commit's next sidecar: a commit may carry several
            # (sharded MOR writes), and a position two of them both
            # name must emit once, not once per sidecar — processing
            # order is the sorted name order, so the feed is
            # deterministic
            parent_dvs = {**parent_dvs, s: sorted(covered)}
    if parts:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    # empty feed (e.g. only data_change=False commits in range):
    # a filter-false scan of any logged file keeps the exact schema
    for n in versions:
        adds = _load_entry(table_dir, n)["adds"]
        if adds:
            return _tail(
                _scan([adds[0]]).filter(F.lit(False)), "insert", v_to
            )
    raise ValueError(f"log under {table_dir!r} never added a file")


def mor_summary_oracle(
    key_col: str,
    agg_col: str,
    lo1: int,
    hi1: int,
    lo2: int,
    hi2: int,
    table: str = "orders",
) -> str:
    """Closed-form DuckDB oracle for the merge-on-read gate
    (q:snapshot_mor — mirrors q:snapshot_dml's closed-form style):
    the gate stages a snapshot table from
    ``table``, commits v2 = MOR DELETE of ``[lo1, hi1]`` and v3 =
    MOR DELETE of ``[lo2, hi2]`` (both sidecar-only — zero files
    rewritten), then v4 = ``purge_dvs`` (physical fold,
    ``data_change=False``), and summarizes every version's row count
    + decimal sum THROUGH the DV-aware read, plus the change feed's
    per-version delete counts over ``(1, 4]``.  NULL keys survive
    both deletes; the second range may overlap the first, pinning
    that re-deletes are not double-counted; v4 must equal v3 exactly
    (purge is layout-only) and contribute ZERO feed rows
    (``data_change=False`` skip)."""

    def keep(ranges: list[tuple[int, int]]) -> str:
        cl = " OR ".join(
            f"({key_col} >= {int(a)} AND {key_col} <= {int(b)})"
            for a, b in ranges
        )
        return f"({key_col} IS NULL OR NOT ({cl}))"

    k1 = keep([(lo1, hi1)])
    k12 = keep([(lo1, hi1), (lo2, hi2)])

    def block(v: int, where: str, deleted: str) -> str:
        return (
            f"SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COALESCE(SUM(CAST({agg_col} AS DECIMAL(18,2))), 0)"
            f" AS DOUBLE) AS total,"
            f" CAST({deleted} AS BIGINT) AS n_feed_deletes"
            f" FROM {table}{where}"
        )

    d2 = (
        f"(SELECT COUNT(*) FROM {table} WHERE {key_col} >= {int(lo1)}"
        f" AND {key_col} <= {int(hi1)})"
    )
    # second delete only counts rows NOT already dead from the first
    d3 = (
        f"(SELECT COUNT(*) FROM {table} WHERE {key_col} >= {int(lo2)}"
        f" AND {key_col} <= {int(hi2)} AND NOT ({key_col} >= {int(lo1)}"
        f" AND {key_col} <= {int(hi1)}))"
    )
    return "\nUNION ALL\n".join(
        [
            block(1, "", "0"),
            block(2, f" WHERE {k1}", d2),
            block(3, f" WHERE {k12}", d3),
            block(4, f" WHERE {k12}", "0"),
        ]
    )


def mor_upsert_summary_oracle(
    key_col: str,
    agg_col: str,
    u_lo: int,
    u_hi: int,
    bump: int,
    i_lo: int,
    i_hi: int,
    d_lo: int,
    d_hi: int,
    table: str = "orders",
) -> str:
    """Closed-form DuckDB oracle for the MOR-UPSERT gate
    (q:snapshot_mor_upsert).
    The gate stages ``table`` as a snapshot table (v1), commits v2 =
    ``upsert_into_snapshot_mor`` of a source holding (a) UPDATES —
    every row with ``key_col`` in ``[u_lo, u_hi]`` re-valued to
    ``agg_col + bump`` — and (b) INSERTS — brand-new keys
    ``-key_col`` for rows in ``[i_lo, i_hi]``, value unchanged — in
    ONE atomic commit (tombstone sidecars + appended files together),
    then v3 = an OVERLAPPING copy-on-write DELETE of ``[d_lo, d_hi]``
    whose rewrite must apply v2's deletion vectors (a rewrite that
    ignored them would RESURRECT the pre-update row images).  Output:
    every version's row count + decimal sum through the DV-aware
    read, plus the CHANGE FEED over the upsert commit only —
    ``table_changes(1, 2)`` emits the exact OLD row image per update
    as ``delete`` and each source row as ``insert`` (row-exact CDC,
    the thing a COW MERGE can only over-report), so the v2 row also
    carries the feed's delete/insert counts and the delete images'
    decimal sum.  Reference anchor: the ON CONFLICT upsert
    (survivor_processing load_helpers.py:28-33) at row-proportional
    cost."""
    upd = f"{key_col} >= {int(u_lo)} AND {key_col} <= {int(u_hi)}"
    ins = f"{key_col} >= {int(i_lo)} AND {key_col} <= {int(i_hi)}"
    dead = f"{key_col} >= {int(d_lo)} AND {key_col} <= {int(d_hi)}"
    v2 = (
        f"SELECT {key_col} AS k, {agg_col} + {int(bump)} AS val"
        f" FROM {table} WHERE {upd}"
        f" UNION ALL SELECT -{key_col}, {agg_col} FROM {table}"
        f" WHERE {ins}"
        f" UNION ALL SELECT {key_col}, {agg_col} FROM {table}"
        f" WHERE {key_col} IS NULL OR NOT ({upd})"
    )
    n_upd = f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {table} WHERE {upd})"
    n_src = (
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM {table} WHERE {upd})"
        f" + (SELECT CAST(COUNT(*) AS BIGINT) FROM {table} WHERE {ins})"
    )
    del_total = (
        f"(SELECT CAST(COALESCE(SUM(CAST({agg_col} AS DECIMAL(18,2))),"
        f" 0) AS DOUBLE) FROM {table} WHERE {upd})"
    )

    def block(
        v: int, src: str, col: str, where: str, nfd: str, nfi: str,
        fdt: str,
    ) -> str:
        return (
            f"SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS"
            f" n_rows, CAST(COALESCE(SUM(CAST({col} AS"
            f" DECIMAL(18,2))), 0) AS DOUBLE) AS total,"
            f" CAST({nfd} AS BIGINT) AS n_feed_deletes,"
            f" CAST({nfi} AS BIGINT) AS n_feed_inserts,"
            f" CAST({fdt} AS DOUBLE) AS feed_del_total"
            f" FROM {src}{where}"
        )

    return "\nUNION ALL\n".join(
        [
            block(1, table, agg_col, "", "0", "0", "0"),
            block(2, f"({v2})", "val", "", n_upd, n_src, del_total),
            block(
                3,
                f"({v2})",
                "val",
                f" WHERE k IS NULL OR NOT"
                f" (k >= {int(d_lo)} AND k <= {int(d_hi)})",
                "0",
                "0",
                "0",
            ),
        ]
    )
