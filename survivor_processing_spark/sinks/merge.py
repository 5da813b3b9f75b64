"""MERGE-style keyed upsert sink.

The reference's only sink is a keyed upsert: write to a temp table,
then ``INSERT … ON CONFLICT (keys) DO UPDATE SET col = excluded.col``
(reference: helpers/load_helpers.py:4-39); every pipeline re-run is
therefore idempotent (SURVEY.md §2.N3).  The engine's equivalent over
vanilla Spark + parquet is the union + window-dedup + atomic-swap
overwrite in ``merge_upsert``.  Source rows win over target rows on
key collision (``_src_priority``); the swap is staging-dir + rename
so a failed job never corrupts the table.  Scale note: the window
partitions by the merge keys — the same shuffle a MERGE's join would
do; no driver-side data movement.

Upsert key semantics preserved exactly, including the reference's
fillna-on-keys behavior (K3: NULL key parts participate after a
constant fill — callers fill before merging, as the reference does).
"""

from __future__ import annotations

import base64
import os
import shutil
import uuid

import numpy as np
import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window


class MergeTable:
    """A parquet-backed keyed table with MERGE upsert semantics."""

    def __init__(self, spark: SparkSession, path: str, keys: list[str]):
        self.spark = spark
        self.path = path
        self.keys = keys

    def exists(self) -> bool:
        if not os.path.isdir(self.path):
            return False
        for _root, _dirs, files in os.walk(self.path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def merge(self, source: DataFrame) -> None:
        merge_upsert(self.spark, self.path, source, self.keys)


def _contains_map(dt) -> bool:
    """True when a MapType appears ANYWHERE in the type tree —
    xxhash64 rejects maps nested inside arrays/structs too, not just
    top-level map columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _row_tiebreak(source: DataFrame):
    """Deterministic whole-row ordering key for within-source
    duplicate resolution: xxhash64 over every hashable column.
    Columns carrying a MapType anywhere in their type tree are
    excluded — Spark's hash functions reject maps at any nesting
    depth, so including one would fail the whole merge at analysis
    time.  Residual nondeterminism: rows identical in every
    non-map column but differing in a map payload still tie, and
    either payload may win — the documented limit of hashing an
    unhashable type."""
    hashable = [
        f.name for f in source.schema if not _contains_map(f.dataType)
    ]
    if not hashable:  # every column is map-carrying: all rows tie
        return F.lit(0).cast("long")
    return F.xxhash64(*[F.col(c) for c in hashable])


def merge_upsert(
    spark: SparkSession, target_path: str, source: DataFrame, keys: list[str]
) -> None:
    """Upsert ``source`` into the parquet table at ``target_path`` on
    ``keys``.  Last-writer-wins per key (source beats target); ties
    within the source go to the row with the lowest whole-row
    xxhash64 (``_row_tiebreak``), so re-runs pick the same row."""
    table = MergeTable(spark, target_path, keys)
    # within-source duplicate keys resolve by a DETERMINISTIC
    # tiebreak (xxhash64 over the full row), not by whichever row a
    # partition happened to deliver first — dropDuplicates/arbitrary
    # window order would let two identical re-runs persist different
    # values, breaking the idempotency this sink promises
    tiebreak = _row_tiebreak(source)
    if not table.exists():
        w0 = Window.partitionBy(*keys).orderBy(tiebreak)
        merged = (
            source.withColumn("_rn", F.row_number().over(w0))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        _atomic_overwrite(spark, merged, target_path)
        return

    target = spark.read.parquet(target_path)
    src = source.withColumn("_src_priority", F.lit(0)).withColumn(
        "_tie", tiebreak
    )
    tgt = target.withColumn("_src_priority", F.lit(1)).withColumn(
        "_tie", F.lit(0).cast("long")
    )
    unioned = src.unionByName(tgt, allowMissingColumns=True)
    w = Window.partitionBy(*keys).orderBy(
        F.asc("_src_priority"), F.asc("_tie")
    )
    merged = (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src_priority", "_tie")
    )
    _atomic_overwrite(spark, merged, target_path)


_TARGET_FILE_BYTES = 64 << 20  # ~64 MiB parquet output files (guide §6)
_ROWS_PER_FILE = 1_000_000  # row-count fallback when bytes are unknown
_ROWS_PER_TASK = 65_536  # COMPUTE view sizing (the spread_rows convention)


def sized_for_write(
    df: DataFrame,
    est_bytes: int | None = None,
    est_rows: int | None = None,
) -> DataFrame:
    """Coalesce a rewrite/append to a file count sized for its DATA
    VOLUME instead of the scan/shuffle width it happens to arrive
    with.  Un-sized, a KB-scale merge batch inherits the session's
    32-way partitioning (files.minPartitionNum / shuffle width) and
    lands as ~32 near-empty parquet files per commit — paying 32
    write tasks now, one footer and key-bloom read per file at
    commit, and one task per file in every later scan (foreachBatch
    plans run WITHOUT AQE coalescing, so streaming ingest hit this
    every batch).  The
    target is max(bytes/64 MiB, rows/1M) over whichever estimates
    the caller has; ``coalesce`` only ever SHRINKS, so a genuinely
    large rewrite keeps its parallelism."""
    import math

    want = 1
    if est_bytes is not None:
        want = max(want, math.ceil(est_bytes / _TARGET_FILE_BYTES))
    if est_rows is not None:
        want = max(want, math.ceil(est_rows / _ROWS_PER_FILE))
    # no partition-count probe: coalesce() is intrinsically shrink-
    # only (a target above the child's count leaves it unchanged),
    # and the probe itself forced a full physical-planning pass
    # (df.rdd) costing ~60-80 ms per commit
    return df.coalesce(want)


def sized_for_compute(df: DataFrame, est_rows: int) -> DataFrame:
    """Shrink-only view sizing for CPU-bearing consumers of a small
    cached batch: ~64k rows per task (the spread_rows convention),
    NOT the 1M-row FILE target — reusing the write sizing here
    single-tasked a 90k-key bloom/probe chain into a 5 s straggler.
    Like coalesce everywhere else in this module, only ever shrinks."""
    import math

    want = max(1, math.ceil(est_rows / _ROWS_PER_TASK))
    # shrink-only by construction; no .rdd planning probe (see
    # sized_for_write)
    return df.coalesce(want)


def _atomic_overwrite(spark: SparkSession, df: DataFrame, target_path: str) -> None:
    """Write to a staging dir, then swap — the reader of the old data
    is never the writer's victim (parquet can't overwrite in place
    while being read)."""
    staging = f"{target_path}.staging-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(staging)
    backup = f"{target_path}.old-{uuid.uuid4().hex[:8]}"
    if os.path.isdir(target_path):
        os.rename(target_path, backup)
    os.rename(staging, target_path)
    if os.path.isdir(backup):
        shutil.rmtree(backup, ignore_errors=True)


def merge_into_snapshot(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_col: str,
    cast: str = "bigint",
    bloom_bits: int | str | None = "auto",
    allow_evolution: bool = False,
) -> dict:
    """COPY-ON-WRITE MERGE into a snapshot-logged parquet table —
    the real lakehouse MERGE shape (Delta/Iceberg merge-on-read's
    copy-on-write sibling), composed from this repo's own table
    format: the snapshot log (operators/snapshot.py) says which
    files ARE the table, the zone maps (operators/zonemap.py) say
    which of them can possibly hold a source key, and only THOSE
    files are rewritten.  The atomic-swap ``merge_upsert`` above
    rewrites the whole table every run; at 100 TB a MERGE that
    touches 0.1% of keys must touch ~0.1% of files, and this one
    does — the untouched files survive by NAME in the next snapshot.

    Mechanics:
    1. :func:`plan_key_merge` collects the source's key column to the
       driver in ONE Spark action (which also fills the source's
       cache), enforces the key contract there, and picks the
       affected files from the log-first manifest: a file is affected
       when some source key lies inside its [vmin, vmax] envelope and
       its recorded key bloom admits that key.  A NULL-stat or
       unprovable envelope, or a missing or damaged bloom, keeps the
       file — never skip blind;
    2. merged = unmatched rows of the affected files ∪ source
       (source wins per key; source must be key-unique — reject,
       don't guess); written as NEW files, never in place;
    3. one atomic log commit: remove(affected) + add(new files),
       landed through ``operators/snapshot.py`` ``Landing`` (a failure
       before the commit lands removes every new file).  Readers of
       the previous snapshot never observe a torn table — scans are
       log-driven, and the new files are invisible until the commit
       lands.

    Returns ``{"version", "n_affected", "n_untouched", "adds"}``.
    Source rows whose keys fall outside every envelope are inserts
    by the zone-map contract (a file whose envelope excludes the key
    provably cannot contain it).

    ``allow_evolution=True`` turns EXTRA source columns from a
    rejection into an explicit SCHEMA WIDENING (Delta's
    mergeSchema): the merge writes the wider schema, records it in
    the commit (schema-in-the-log), and every later read serves the
    new columns as NULL for pre-widening files — while time travel
    to an earlier version still reads the narrow schema.  Retyped
    columns and source-missing table columns stay rejected either
    way (a type change is corruption, not evolution, and this COW
    upsert replaces whole rows, so a missing source column would
    silently NULL matched rows' existing values).

    CONCURRENCY: the commit protocol is FILE-level optimistic
    concurrency (commit_version re-validates adds/removes against
    the new head and rebases or raises) — the contract the racing-
    merge tests pin is for writers over DISJOINT key sets.  Two
    concurrent merges of the SAME brand-new key are both insert-only
    (the key matches no envelope), conflict on no file, and BOTH
    land — duplicate rows for that key, exactly like two blind
    appends (Delta's WriteSerializable admits the same anomaly
    without a ConcurrentAppend read-set check).  Serialize same-key
    writers externally, or route them through one streaming
    ``stream_into_snapshot`` pipeline."""
    # MATERIALIZE the source once (the public Delta MERGE move): the
    # key collect fills the cache, and the left_anti and the union
    # write read it again — at 100 TB recomputing an arbitrary source
    # lineage three times costs more than one spill-capable
    # materialization.  Unpersisted in the finally; every action
    # completes before return.
    source = source.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return _merge_into_snapshot_impl(
            spark,
            table_dir,
            source,
            key_col,
            cast,
            bloom_bits,
            allow_evolution,
        )
    finally:
        source.unpersist()


def _bloom_words(b) -> np.ndarray | None:
    """The words of a recorded key bloom, or None when it is missing,
    not k=3, undecodable, or its size disagrees with its m — the file
    is then probed by its envelope only (an out-of-range probe would
    read past the words and could skip a file that matches)."""
    if not (
        isinstance(b, dict) and b.get("k") == 3 and b.get("m") and b.get("b64")
    ):
        return None
    try:
        raw = base64.b64decode(b["b64"])
        if len(raw) * 8 != int(b["m"]):
            return None
    except (ValueError, TypeError):
        return None
    # _pack_words stores each int64 word big-endian; bit i of word w
    # is position 64*w + i
    return np.frombuffer(raw, dtype=">u8").astype(np.uint64)


def plan_key_merge(
    state, source: DataFrame, key_col: str, cast: str
) -> tuple[int, list[str]]:
    """The driver-side plan of a keyed snapshot merge, shared by the
    copy-on-write :func:`merge_into_snapshot` and the merge-on-read
    ``operators/mor.py`` ``upsert_into_snapshot_mor``: returns
    ``(n_src, affected files)`` of the writer's table ``state``
    (``operators/snapshot.py`` ``table_state``).

    ONE Spark action, ``source.select(key_col).toArrow()``, brings the
    key column to the driver; everything else is decided there.

    - Key contract: a NULL key raises (it would match no file and no
      left_anti row, so the same row re-inserts on every run), a
      duplicate key raises naming one (``source wins per key`` would be
      ambiguous), and an empty source returns ``(0, [])`` without
      planning files.  Duplicates follow Spark's grouping: -0.0 equals
      0.0 and every NaN is one key.
    - Affected files: the log-first zone-map rows, ordering-guarded
      like ``prune_files``, are checked against the sorted keys with
      ``np.searchsorted``; the keys inside a file's envelope are then
      tested against its recorded key bloom with ``operators/bloom.py``
      ``_positions_np``, the hash family the bloom was built with.
      Bounds are compared exactly (``zonemap._key_bound``, the rule
      the range prune shares) for integral casts (width-losing casts
      stay NULL), date keys (ISO day), string keys (byte order) and
      finite double stats; any bound the driver cannot prove exact —
      and every file when the source holds a NaN, which parquet stats
      leave out — considers all source keys.  Keeping a file costs a rewrite,
      never a wrong result.

    Memory bound: the key column is held on the driver as one Arrow
    array (8 B per bigint key) plus its sorted numpy copy, and 24 B
    per key of bloom positions for each distinct filter size probed.
    Work is the keys inside each file's envelope, summed over files —
    the rows the Spark broadcast join it replaces produced."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..operators.bloom import _positions_np
    from ..operators.snapshot import (
        guard_zonemap_ordering,
        snapshot_zonemap_rows,
    )
    from ..operators.zonemap import _CAST_ORD, _INT_CAST_RANGE, _key_bound

    base = cast.lower().split("(")[0]
    required = _CAST_ORD.get(base)
    if required is None:
        raise ValueError(f"unsupported merge key cast {cast!r}")
    col = source.select(key_col).toArrow().column(0)
    if col.null_count:
        raise ValueError(
            f"source has NULL merge keys in {key_col!r} — a NULL "
            "key matches nothing and would re-insert every run"
        )
    srt = col.combine_chunks()
    srt = srt.take(pc.array_sort_indices(srt))
    t = srt.type
    keys = (srt.cast(pa.int32()) if pa.types.is_date32(t) else srt).to_numpy(
        zero_copy_only=False
    )
    same = keys[1:] == keys[:-1]
    if keys.dtype.kind == "f":
        same |= np.isnan(keys[1:]) & np.isnan(keys[:-1])
    dup = np.flatnonzero(same)
    if dup.size:
        raise ValueError(
            f"source is not key-unique on {key_col!r} "
            f"(e.g. {srt[int(dup[0])].as_py()!r})"
        )
    n = len(keys)
    if n == 0:
        return 0, []
    if pa.types.is_integer(t) and base in _INT_CAST_RANGE:
        kind = "int"
    elif pa.types.is_date32(t) and base == "date":
        kind = "date"
    elif pa.types.is_float64(t) and base == "double":
        # NaNs sort last; parquet stats leave NaN out, so no envelope
        # can prove it excludes one
        kind = None if np.isnan(keys[-1]) else "double"
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        kind = "string" if base == "string" else None
    else:
        kind = None
    search = keys.astype(np.int64) if kind in ("int", "date") else keys
    # the per-file key blooms exist for signed-integer and date keys
    # only (operators/snapshot.py file_key_blooms)
    hashable = pa.types.is_integer(t) or pa.types.is_date32(t)
    zrows = snapshot_zonemap_rows(state, [key_col])
    guard_zonemap_ordering(zrows, key_col, cast, required, "merge")
    positions: dict[int, np.ndarray] = {}
    affected = []
    for fname, _c, _n, vmin, vmax, _o in zrows:
        lo_v = _key_bound(vmin, kind, base)
        hi_v = _key_bound(vmax, kind, base)
        if lo_v is None or hi_v is None:
            lo, hi = 0, n
        else:
            lo = int(np.searchsorted(search, lo_v, "left"))
            hi = int(np.searchsorted(search, hi_v, "right"))
            if lo >= hi:
                continue
        words = (
            _bloom_words(state.stats[fname].get(key_col, {}).get("bloom"))
            if hashable
            else None
        )
        if words is not None:
            m = len(words) * 64
            if m not in positions:
                positions[m] = _positions_np(keys, m, 3)
            p = positions[m][:, lo:hi]
            bit = (words[p >> 6] >> (p & 63).astype(np.uint64)) & np.uint64(1)
            if not bit.all(axis=0).any():
                continue
        affected.append(fname)
    return n, sorted(affected)


def check_source_schema(
    table: list[list[str]],
    source: DataFrame,
    allow_evolution: bool = False,
    widen: str = "pass allow_evolution=True to widen the table explicitly",
) -> list[str]:
    """The keyed writers' source-schema contract against the table's
    ``[[name, type], ...]``, validated once before any write: a source
    missing a table column, holding a column the table lacks (unless
    ``allow_evolution``), or retyping one raises — the copy-on-write
    MERGE replaces whole rows (a missing column would NULL matched
    rows' values), and an unvetted column would mint schema-drifting
    data files.  ``widen`` is the remedy the extra-column error names.
    Returns the extra columns, sorted (the widening when allowed)."""
    src_types = dict(source.dtypes)
    missing = [c for c, _ in table if c not in src_types]
    if missing:
        raise ValueError(f"source is missing table columns {missing}")
    extra = sorted(set(src_types) - {c for c, _ in table})
    if extra and not allow_evolution:
        raise ValueError(
            f"source has columns the table lacks: {extra} — a silent "
            "drop would lose data and a silent add would drift the "
            f"schema; {widen}"
        )
    drift = [(c, src_types[c], t) for c, t in table if src_types[c] != t]
    if drift:
        raise ValueError(
            "source column types drift from the table schema "
            f"(col, source, table): {drift}"
        )
    return extra


def _merge_into_snapshot_impl(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_col: str,
    cast: str,
    bloom_bits: int | str | None,
    allow_evolution: bool,
) -> dict:
    from ..operators.snapshot import (
        Landing,
        head_schema,
        strip_deleted_rows,
        table_reader,
        table_state,
    )

    # one table state plans the whole merge; its version is the
    # commit's read-set
    state = table_state(table_dir)
    n_src, affected = plan_key_merge(state, source, key_col, cast)
    # the key collect just materialized the persisted source at its
    # arrival width (the 32-way scan floor for a small batch); every
    # later consumer — the left_anti and the union write — would
    # otherwise schedule that many near-empty tasks per job.  Narrow
    # the VIEW of the cached blocks to the row count's worth of
    # partitions (coalesce reads all cached blocks in fewer tasks;
    # shrink-only).
    source = sized_for_compute(source, max(1, n_src))
    if n_src == 0:
        # an empty batch must be a clean no-op, not an empty commit
        return {
            "version": None,
            "n_affected": 0,
            "n_untouched": len(state.active),
            "adds": [],
        }
    table = head_schema(spark, state)
    extra = check_source_schema(table, source, allow_evolution)
    # the schema the merge WRITES: the table head, widened by the
    # extra source columns when evolving (stable order: table columns
    # first, then the new ones sorted) — and recorded in the commit
    # so every later read resolves it from the log, not a footer
    out_cols = [c for c, _ in table] + extra
    if affected:
        # read the affected files WITH the table's logged schema: a
        # pre-widening file read raw would lack the new columns and
        # the union would silently drop them from the source rows
        base = table_reader(spark, state).parquet(
            *[os.path.join(table_dir, f) for f in affected]
        )
        # merge-on-read interplay: rewriting a DV-covered file from
        # its raw bytes would RESURRECT the deleted rows; applying
        # the live DVs here also retires them for the rewritten
        # files (the remove prunes their coverage on replay)
        if state.dvs:
            base = strip_deleted_rows(
                spark, base, table_dir, state.dvs, affected
            )
        keep = base.join(
            source.select(key_col), on=key_col, how="left_anti"
        )
        # widening: kept rows take NULL for the new columns
        merged = keep.unionByName(
            source.select(*out_cols), allowMissingColumns=bool(extra)
        ).select(*out_cols)
    else:
        # insert-only: STILL project onto the write schema — writing
        # the source verbatim is how unvetted columns sneak into data
        # files (the schema check above already rejected type changes)
        merged = source.select(*out_cols)
    affected_bytes = sum(
        os.path.getsize(os.path.join(table_dir, f)) for f in affected
    )
    # the new files' key envelopes and blooms ride the commit
    # (stats-in-manifest) so the NEXT merge plans them log-first, no
    # footer reads; "auto" sizes each file's filter at ~10 bits/key —
    # operators/snapshot.py attach_key_blooms
    with Landing(table_dir) as landing:
        adds = landing.land(
            sized_for_write(merged, est_bytes=affected_bytes, est_rows=n_src),
            "merge",
        )
        version = landing.commit(
            adds,
            removes=affected,
            stats_cols=[key_col],
            bloom_key=key_col,
            bloom_bits=bloom_bits,
            schema=(
                [[c, dict(merged.dtypes)[c]] for c in out_cols]
                if extra
                else None
            ),
            planned_version=state.version,
        )
    return {
        "version": version,
        "n_affected": len(affected),
        "n_untouched": len(state.active) - len(affected),
        "adds": adds,
    }


def delete_from_snapshot(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    lo,
    hi,
    cast: str = "bigint",
    bloom_bits: int | str | None = "auto",
) -> dict:
    """COPY-ON-WRITE range DELETE from a snapshot-logged table — the
    row-level DML a retention window or right-to-be-forgotten pass
    runs, composed from the same trio as :func:`merge_into_snapshot`:
    the log says which files ARE the table, the log-first zone maps
    say which of them can possibly hold a row in ``[lo, hi]``, and
    only files that ACTUALLY contain matching rows are rewritten —
    a file whose envelope intersects the range but holds no matching
    row survives by NAME (no metadata churn, no data copy).

    NULL keys never match a range predicate, so rows with a NULL
    ``key_col`` are always kept — the SQL DELETE semantics.

    Mechanics:
    1. candidates = envelope-intersecting files (log-first manifest,
       ordering- and width-guarded exactly like ``prune_files``;
       NULL-stat files are always candidates — never skip blind);
    2. ONE pass over the candidates counts matches per file via
       ``input_file_name`` — the files with zero matches drop out of
       the rewrite set right there;
    3. survivors of the truly-affected files are rewritten as NEW
       files (never in place) with stats + blooms recorded in the
       commit, and the swap lands as ONE atomic remove+add version;
       a file whose every row matches is removed with no replacement.

    Returns ``{"version", "n_deleted", "n_rewritten", "n_removed",
    "n_untouched", "adds"}``; a delete that matches nothing is a
    clean no-op (version None), never an empty commit."""
    from ..operators.snapshot import (
        Landing,
        range_candidate_files,
        strip_deleted_rows,
        table_reader,
        table_state,
    )

    state = table_state(table_dir)
    candidates = range_candidate_files(state, key_col, lo, hi, cast)
    noop = {
        "version": None,
        "n_deleted": 0,
        "n_rewritten": 0,
        "n_removed": 0,
        "n_untouched": len(state.active),
        "adds": [],
    }
    if not candidates:
        return noop
    pred = (F.col(key_col) >= F.lit(lo)) & (F.col(key_col) <= F.lit(hi))
    # schema-aware read: rewriting a pre-widening file must carry the
    # evolved columns (as NULL), not silently drop them
    reader = table_reader(spark, state)
    base = reader.parquet(*[os.path.join(table_dir, f) for f in candidates])
    # merge-on-read interplay: rows a live deletion vector already
    # removed must neither count as deleted again nor resurrect in
    # the rewrite — both raw reads below go through the DV filter.
    # The DV path names files via the _metadata tag it already
    # carries (input_file_name() is per-scan-task and unreliable
    # after the anti-join); the bare path keeps the original plan.
    dvs = state.dvs
    if dvs:
        counted = strip_deleted_rows(
            spark, base, table_dir, dvs, candidates, keep_tags=True
        )
        fname = F.col("__sps_mor_file")
    else:
        counted = base
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
    # one aggregation names the files that ACTUALLY hold matches —
    # an envelope is an over-approximation, and rewriting a
    # no-match file is pure churn (plus a pointless name change)
    per_file = (
        counted.where(pred)
        .select(fname.alias("_f"))
        .groupBy("_f")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    matches = {r["_f"]: int(r["n"]) for r in per_file}
    affected = sorted(matches)
    if not affected:
        return noop
    survivors = reader.parquet(
        *[os.path.join(table_dir, f) for f in affected]
    )
    if dvs:
        survivors = strip_deleted_rows(
            spark, survivors, table_dir, dvs, affected
        )
    survivors = survivors.where(~pred | F.col(key_col).isNull())
    affected_bytes = sum(
        os.path.getsize(os.path.join(table_dir, f)) for f in affected
    )
    with Landing(table_dir) as landing:
        # a file whose every row matched lands no replacement
        adds = landing.land(
            sized_for_write(survivors, est_bytes=affected_bytes), "delete"
        )
        version = landing.commit(
            adds,
            removes=affected,
            stats_cols=[key_col],
            bloom_key=key_col,
            bloom_bits=bloom_bits,
            planned_version=state.version,
        )
    return {
        "version": version,
        "n_deleted": sum(matches.values()),
        "n_rewritten": len(adds),
        "n_removed": len(affected),
        "n_untouched": len(state.active) - len(affected),
        "adds": adds,
    }


def dml_summary_oracle(
    key_col: str,
    agg_col: str,
    lo: int,
    hi: int,
    table: str = "orders",
) -> str:
    """Closed-form DuckDB oracle for the snapshot-DML gate
    (q:snapshot_dml): the gate stages a
    snapshot-logged table from ``table``, commits v2 = COPY-ON-WRITE
    DELETE of ``key_col`` in ``[lo, hi]`` (:func:`delete_from_snapshot`)
    and v3 = OPTIMIZE ZORDER (operators/snapshot.py
    ``zorder_snapshot`` — layout-only, content-identical to v2), then
    summarizes every version (row count + decimal sum of
    ``agg_col``).  A wrong rewrite set, a dropped NULL key, or a
    zorder that loses/duplicates rows all show up as a wrong count or
    sum."""
    keep = (
        f"({key_col} IS NULL OR NOT ({key_col} >= {int(lo)}"
        f" AND {key_col} <= {int(hi)}))"
    )

    def block(v: int, where: str) -> str:
        return (
            f"SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(COALESCE(SUM(CAST({agg_col} AS DECIMAL(18,2))), 0)"
            f" AS DOUBLE) AS total FROM {table}{where}"
        )

    return "\nUNION ALL\n".join(
        [
            block(1, ""),
            block(2, f" WHERE {keep}"),
            block(3, f" WHERE {keep}"),
        ]
    )
