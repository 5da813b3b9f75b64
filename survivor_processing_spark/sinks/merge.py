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

import os
import shutil
import uuid

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.localrel import local_rows_df


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
    1. footer-only zone maps over the ACTIVE file set (file-count
       driver work), ordering-guarded exactly like ``prune_files``
       (a cast whose comparison disagrees with the envelope's
       recorded ordering raises — never a silent wrong prune);
    2. affected = files whose [vmin, vmax] envelope contains ANY
       source key (broadcast join of the file-count-sized manifest
       against the source keys; NULL-stat files are always
       affected — never skip blind);
    3. merged = unmatched rows of the affected files ∪ source
       (source wins per key; source must be key-unique — reject,
       don't guess); written as NEW files, never in place;
    4. one atomic log commit: remove(affected) + add(new files).
       Readers of the previous snapshot never observe a torn table —
       scans are log-driven, and the new files are invisible until
       the commit lands.

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
    from ..operators.zonemap import _CAST_ORD

    required = _CAST_ORD.get(cast.lower().split("(")[0])
    if required is None:
        raise ValueError(f"unsupported merge key cast {cast!r}")
    # MATERIALIZE the source once (the public Delta MERGE move): the
    # plan below consumes it four times — the key-contract aggregate,
    # the candidate probe, the left_anti, and the union write — and
    # at 100 TB recomputing an arbitrary source lineage four times
    # costs more than one spill-capable materialization.  Unpersisted
    # in the finally; every action completes before return.
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
            required,
        )
    finally:
        source.unpersist()


def check_merge_source(source: DataFrame, key_col: str) -> int:
    """ONE aggregate job adjudicates the whole merge-source key
    contract — emptiness, NULL keys, key-uniqueness — and returns the
    source row count.  A NULL key would match no zone-map envelope
    and no left_anti row, so the same row re-inserts on every run —
    silently breaking the idempotency the upsert promises; a
    duplicate key would make 'source wins per key' ambiguous.
    Reject, don't guess.  The example-key lookup that makes the
    duplicate error actionable runs a second job on the FAILURE path
    only — the green path is one job (shared by the COW merge and
    the MOR upsert; previously each ran a separate uniqueness probe
    plus an emptiness probe per call)."""
    row = (
        source.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.coalesce(F.sum("_c"), F.lit(0)).alias("n"),
            F.coalesce(F.max("_c"), F.lit(0)).alias("max_c"),
            F.max(F.col(key_col).isNull()).alias("has_null"),
        )
        .first()
    )
    if row["has_null"]:
        raise ValueError(
            f"source has NULL merge keys in {key_col!r} — a NULL "
            "key matches nothing and would re-insert every run"
        )
    if row["max_c"] > 1:
        bad = (
            source.groupBy(key_col)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        raise ValueError(
            f"source is not key-unique on {key_col!r} "
            f"(e.g. {bad[0][key_col]!r})"
        )
    return int(row["n"])


def _merge_into_snapshot_impl(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key_col: str,
    cast: str,
    bloom_bits: int | str | None,
    allow_evolution: bool,
    required: str,
) -> dict:
    from ..operators.bloom import _positions, _powers
    from ..operators.snapshot import (
        attach_key_blooms,
        commit_version,
        file_stats,
        guard_zonemap_ordering,
        plan_head,
        read_snapshot,
        snapshot_dvs,
        snapshot_files,
        snapshot_zonemap_rows,
        stats_for_files,
        strip_deleted_rows,
        unpack_words,
    )

    n_src = check_merge_source(source, key_col)
    # the contract aggregate just materialized the persisted source
    # at its arrival width (the 32-way scan floor for a small batch);
    # every later consumer — the candidate probe, the broadcast
    # build, the left_anti, the union write — would otherwise
    # schedule that many near-empty tasks per job.  Narrow the VIEW
    # of the cached blocks to the row count's worth of partitions
    # (coalesce reads all cached blocks in fewer tasks; shrink-only).
    source = sized_for_compute(source, max(1, n_src))
    planned = plan_head(table_dir)
    active = snapshot_files(table_dir)
    if n_src == 0:
        # an empty batch must be a clean no-op, not an empty commit
        return {
            "version": None,
            "n_affected": 0,
            "n_untouched": len(active),
            "adds": [],
        }
    # schema contract, validated ONCE against the table head before
    # any write: the affected path's unionByName would coerce or fail
    # late, and the insert-only path previously wrote the source's
    # own schema verbatim — a source with extra or retyped columns
    # would mint schema-drifting data files that later scans resolve
    # from an arbitrary footer.  Reject drift up front.
    head = read_snapshot(spark, table_dir)
    src_types = dict(source.dtypes)
    missing = [c for c, _ in head.dtypes if c not in src_types]
    if missing:
        raise ValueError(
            f"source is missing table columns {missing}"
        )
    extra = sorted(set(src_types) - {c for c, _ in head.dtypes})
    if extra and not allow_evolution:
        raise ValueError(
            f"source has columns the table lacks: {extra} — a silent "
            "drop would lose data and a silent add would drift the "
            "schema; pass allow_evolution=True to widen the table "
            "explicitly"
        )
    drift = [
        (c, src_types[c], t) for c, t in head.dtypes if src_types[c] != t
    ]
    if drift:
        raise ValueError(
            "source column types drift from the table schema "
            f"(col, source, table): {drift}"
        )
    # LOG-FIRST envelopes (stats-in-manifest): files whose commit
    # recorded key stats are planned with ZERO footer reads — at
    # 100 TB, reopening a million footers per merge costs more than
    # the rewrite it prunes; files from pre-stats commits fall back
    # to a footer walk inside snapshot_zonemap_rows (correct, slower).
    # ONE log replay feeds both the envelopes and the bloom probe.
    rec = file_stats(table_dir)
    zrows = snapshot_zonemap_rows(table_dir, [key_col], recorded=rec)
    guard_zonemap_ordering(zrows, key_col, cast, required, "merge")
    # manifest-sized local rows: a plain createDataFrame would
    # parallelize them into Python-RDD slices and the broadcast build
    # below would pay a Python worker round trip per slice — the
    # LocalRelation path is pure JVM (functions/localrel.py)
    zm = local_rows_df(
        spark,
        zrows,
        "file string, col string, n_rows long, "
        "vmin string, vmax string, ord string",
    )
    # try_cast with NULL-keeps-the-file semantics, mirroring
    # prune_files: the ordering guard above proves the comparison
    # CLASS agrees, but a width-losing cast (cast='int' over a bigint
    # envelope beyond int32) yields NULL — which would make the join
    # predicate NULL, mark the file unaffected, and INSERT a key the
    # file already holds.  An uncastable envelope is an affected
    # envelope; never skip blind.
    cmin = F.expr(f"try_cast(vmin as {cast})")
    cmax = F.expr(f"try_cast(vmax as {cast})")
    cand = (
        source.select(F.col(key_col).alias("_k"))
        .join(
            F.broadcast(zm),
            F.col("vmin").isNull()
            | cmin.isNull()
            | cmax.isNull()
            | ((cmin <= F.col("_k")) & (cmax >= F.col("_k"))),
            "inner",
        )
        .select("file", "_k")
    )
    # second manifest cut, per-file key BLOOMS (built on the driver
    # at write time, operators/snapshot.py file_key_blooms): on an
    # UNSORTED table every file's [vmin, vmax] spans the whole key
    # domain and the envelope alone degrades this merge to a full
    # rewrite — the bloom excludes files that provably lack every
    # source key.  The probe evaluates bloom.py ``_positions`` (per-row
    # m, so mixed filter sizes coexist), whose numpy twin built the
    # bits; a file without a recorded bloom (a non-integer key, or an
    # unexpected k) stays envelope-only — never skip blind.  False
    # positives cost one extra file rewrite, never correctness.
    brows = []
    for fname in active:
        b = rec.get(fname, {}).get(key_col, {}).get("bloom")
        if (
            isinstance(b, dict)
            and b.get("k") == 3
            and b.get("m")
            and b.get("b64")
        ):
            # a truncated/undecodable/mismatched packed filter must
            # degrade to envelope-only for THIS file (an out-of-range
            # probe would read NULL and silently skip) — never skip
            # blind
            try:
                words = unpack_words(b["b64"])
            except Exception:
                words = None
            if words is not None and len(words) * 64 == int(b["m"]):
                brows.append((fname, int(b["m"]), words))
    if brows:
        bm = local_rows_df(
            spark, brows, "file string, m long, words array<long>"
        )

        def _bit_set(p):
            word = F.element_at(
                F.col("words"), (p / F.lit(64)).cast("int") + F.lit(1)
            )
            mask = F.element_at(
                _powers(), p.bitwiseAND(F.lit(63)).cast("int") + F.lit(1)
            )
            return word.bitwiseAND(mask) != F.lit(0)

        # probe positions (Column num_bits = per-row m) must equal
        # the build's _positions_np bit for bit — a drift would read
        # unset bits and silently insert keys the file already holds;
        # tests/test_snapshot.py::test_positions_np_matches_spark
        # pins the two together
        member = None
        for p in _positions(F.col("_k"), F.col("m"), 3):
            member = _bit_set(p) if member is None else member & _bit_set(p)
        cand = cand.join(F.broadcast(bm), "file", "left").where(
            F.col("m").isNull() | member
        )
    # the distinct's reduce stage inherits the full shuffle width —
    # and actions over a foreachBatch source run WITHOUT AQE
    # coalescing, so a KB-scale batch scheduled 32 near-empty reduce
    # tasks per micro-batch here.  The result is file-count-bounded;
    # one task reads all shuffle partitions.
    hits = cand.select("file").distinct().coalesce(1).collect()
    affected = sorted(r["file"] for r in hits)
    untouched = [f for f in active if f not in set(affected)]
    # the schema the merge WRITES: the table head, widened by the
    # extra source columns when evolving (stable order: table columns
    # first, then the new ones sorted) — and recorded in the commit
    # so every later read resolves it from the log, not a footer
    out_cols = list(head.columns) + (extra if allow_evolution else [])
    if affected:
        # read the affected files WITH the table's current schema
        # (head carries the logged evolved schema when one exists):
        # a pre-widening file read raw would lack the new columns and
        # the union would silently drop them from the source rows
        base = spark.read.schema(head.schema).parquet(
            *[os.path.join(table_dir, f) for f in affected]
        )
        # merge-on-read interplay: rewriting a DV-covered file from
        # its raw bytes would RESURRECT the deleted rows; applying
        # the live DVs here also retires them for the rewritten
        # files (the remove prunes their coverage — snapshot_dvs)
        dvs = snapshot_dvs(table_dir)
        if dvs:
            base = strip_deleted_rows(spark, base, table_dir, dvs, affected)
        keep = base.join(
            source.select(key_col), on=key_col, how="left_anti"
        )
        if extra and allow_evolution:
            # widening: kept rows take NULL for the new columns
            merged = keep.unionByName(
                source.select(*out_cols), allowMissingColumns=True
            ).select(*out_cols)
        else:
            merged = keep.unionByName(source.select(*base.columns))
    else:
        # insert-only: STILL project onto the write schema — writing
        # the source verbatim is how unvetted columns sneak into data
        # files (the drift guard above already rejected type changes)
        merged = source.select(*out_cols)
    staging = os.path.join(table_dir, f"_tmp_merge_{uuid.uuid4().hex[:8]}")
    affected_bytes = sum(
        os.path.getsize(os.path.join(table_dir, f)) for f in affected
    )
    sized_for_write(
        merged, est_bytes=affected_bytes, est_rows=n_src
    ).write.mode("overwrite").parquet(staging)
    adds = []
    tag = uuid.uuid4().hex[:8]
    for i, part in enumerate(
        sorted(p for p in os.listdir(staging) if p.endswith(".parquet"))
    ):
        name = f"merge-{tag}-{i:05d}.parquet"
        os.rename(os.path.join(staging, part), os.path.join(table_dir, name))
        adds.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    # a failed commit must not strand the renamed data files: readers
    # of a snapshot table are log-driven (so orphans were already
    # invisible to them), but raw directory consumers and disk space
    # deserve the rollback too.  A hard crash between rename and
    # commit is mopped up by operators/snapshot.py vacuum_orphans.
    # The new files' key envelopes ride the commit (stats-in-manifest)
    # so the NEXT merge plans them log-first, no footer reads.
    # everything from here to the commit sits inside the rollback
    # scope: a stats or bloom failure must unwind the renamed data
    # files exactly like a commit failure would
    try:
        new_stats = stats_for_files(table_dir, adds, [key_col])
        # "auto" sizes each file's filter at ~10 bits/key (clamped to
        # 1-16 KiB per entry) and builds it on the driver from the
        # files just written; shared policy with every other writer —
        # operators/snapshot.py attach_key_blooms
        attach_key_blooms(table_dir, adds, key_col, new_stats, bloom_bits)
        version = commit_version(
            table_dir,
            adds=adds,
            removes=affected,
            stats=new_stats,
            schema=(
                [[c, dict(merged.dtypes)[c]] for c in out_cols]
                if extra and allow_evolution
                else None
            ),
            planned_version=planned,
        )
    except BaseException:
        for name in adds:
            try:
                os.remove(os.path.join(table_dir, name))
            except OSError:
                pass
        raise
    return {
        "version": version,
        "n_affected": len(affected),
        "n_untouched": len(untouched),
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
        attach_key_blooms,
        commit_version,
        file_stats,
        plan_head,
        range_candidate_files,
        snapshot_dvs,
        snapshot_files,
        stats_for_files,
        strip_deleted_rows,
    )

    planned = plan_head(table_dir)
    active = snapshot_files(table_dir)
    rec = file_stats(table_dir)
    candidates = range_candidate_files(
        spark, table_dir, key_col, lo, hi, cast, recorded=rec
    )
    if not candidates:
        return {
            "version": None,
            "n_deleted": 0,
            "n_rewritten": 0,
            "n_removed": 0,
            "n_untouched": len(active),
            "adds": [],
        }
    pred = (F.col(key_col) >= F.lit(lo)) & (F.col(key_col) <= F.lit(hi))
    # schema-aware read: rewriting a pre-widening file must carry the
    # evolved columns (as NULL), not silently drop them
    from ..operators.snapshot import read_snapshot as _read_snapshot

    tbl_schema = _read_snapshot(spark, table_dir).schema
    base = spark.read.schema(tbl_schema).parquet(
        *[os.path.join(table_dir, f) for f in candidates]
    )
    # merge-on-read interplay: rows a live deletion vector already
    # removed must neither count as deleted again nor resurrect in
    # the rewrite — both raw reads below go through the DV filter.
    # The DV path names files via the _metadata tag it already
    # carries (input_file_name() is per-scan-task and unreliable
    # after the anti-join); the bare path keeps the original plan.
    dvs = snapshot_dvs(table_dir)
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
    n_deleted = sum(matches.values())
    if not affected:
        return {
            "version": None,
            "n_deleted": 0,
            "n_rewritten": 0,
            "n_removed": 0,
            "n_untouched": len(active),
            "adds": [],
        }
    survivors = spark.read.schema(tbl_schema).parquet(
        *[os.path.join(table_dir, f) for f in affected]
    )
    if dvs:
        survivors = strip_deleted_rows(
            spark, survivors, table_dir, dvs, affected
        )
    survivors = survivors.where(~pred | F.col(key_col).isNull())
    staging = os.path.join(table_dir, f"_tmp_delete_{uuid.uuid4().hex[:8]}")
    sized_for_write(
        survivors,
        est_bytes=sum(
            os.path.getsize(os.path.join(table_dir, f)) for f in affected
        ),
    ).write.mode("overwrite").parquet(staging)
    adds = []
    tag = uuid.uuid4().hex[:8]
    for i, part in enumerate(
        sorted(p for p in os.listdir(staging) if p.endswith(".parquet"))
    ):
        name = f"delete-{tag}-{i:05d}.parquet"
        os.rename(os.path.join(staging, part), os.path.join(table_dir, name))
        adds.append(name)
    shutil.rmtree(staging, ignore_errors=True)
    # ONE footer walk serves both the 0-row prune and the commit
    # stats (a 0-row file would be a NULL-stat manifest entry that
    # defeats pruning forever)
    all_stats = stats_for_files(table_dir, adds, [key_col])
    pruned_adds = []
    for name in adds:
        if int(all_stats[name][key_col]["n_rows"]) == 0:
            os.remove(os.path.join(table_dir, name))
        else:
            pruned_adds.append(name)
    adds = pruned_adds
    try:
        new_stats = {f: all_stats[f] for f in adds}
        attach_key_blooms(table_dir, adds, key_col, new_stats, bloom_bits)
        version = commit_version(
            table_dir,
            adds=adds,
            removes=affected,
            stats=new_stats or None,
            planned_version=planned,
        )
    except BaseException:
        for name in adds:
            try:
                os.remove(os.path.join(table_dir, name))
            except OSError:
                pass
        raise
    return {
        "version": version,
        "n_deleted": n_deleted,
        "n_rewritten": len(adds),
        "n_removed": len(affected),
        "n_untouched": len(active) - len(affected),
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
