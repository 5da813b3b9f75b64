"""Snapshot log + time-travel reads — the versioned-table layer a
lakehouse format (Delta/Iceberg transaction log) provides, built as
a minimal JSON commit log since those packages aren't installable
here.  Completes the table-format trio with the compaction planner
(operators/compaction.py — decides new file LAYOUTS) and the zone
maps (operators/zonemap.py — skips files by stats): the snapshot log
is WHICH FILES ARE THE TABLE at each version, so a compaction can be
committed as remove(small files)+add(compacted file) without
rewriting readers, and any historical version stays queryable.

Mechanics: ``<table>/_sps_log/v{N}.json`` entries hold
``{"version", "adds": [...], "removes": [...]}`` — plus, when the
writer provides them, per-added-file column envelopes under
``"stats"`` (the Delta/Iceberg stats-in-manifest move: the writer
records the envelope once at commit time and every later prune or
merge plans from the log with ZERO footer reads — at 100 TB,
reopening a million footers costs more than the scan being pruned).
File names are relative to the table directory.  A snapshot at
version v = replay of entries 1..v, and there is one replay:
:func:`table_state` lists the log once, seeds from the newest
checkpoint ≤ v and folds each later entry with :func:`_apply_entry`,
the one place the replay rules live (active files, per-file stats,
deletion-vector coverage, schema).  Every reader and writer takes one
state per call, so what it acts on all belongs to one version —
O(commits since checkpoint) driver work on a file-count-bounded log,
exactly the zonemap-manifest cost class.
Commits are two-phase (write tmp, ``os.link`` claim — atomic on
POSIX) and strictly sequential; like Delta's optimistic protocol
collapsed to the single-writer case, which is what a
driver-coordinated Spark job is.  Every writer's new files reach the
log by one path, :class:`Landing`: staged write, rename to flat
names, one footer read per file (0-row parts dropped; stats and key
blooms recorded from it), commit — and a scope left without a commit
removes everything it landed.  At 100 TB none of this changes: the
log stays tiny (one entry per commit), and the SCAN — the only
distributed part — schedules exactly the active files, the same
pre-plan file pruning the zone maps do, composable with them.

Correctness contract (tested + fuzzed): for every version v,
``read_snapshot(..., v)`` ≡ reading exactly the files a pure-Python
replay of the log says are active at v; a version that removed
everything reads as an EMPTY table with the original schema; asking
for a version the log doesn't have raises.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.localrel import local_rows_df

LOG_DIR = "_sps_log"

# internal row-identity tag columns shared by every merge-on-read
# path (strip_deleted_rows here, the DML writers in operators/mor.py)
# — one definition so the tag a writer records and the tag a reader
# anti-joins can never drift
MOR_FILE_TAG = "__sps_mor_file"
MOR_POS_TAG = "__sps_mor_pos"


class SnapshotConflictError(RuntimeError):
    """Raised when a commit cannot claim a version number — another
    writer keeps winning the claim race (or the semantic
    re-validation against the new head fails with its own error)."""


def _log_path(table_dir: str) -> str:
    return os.path.join(table_dir, LOG_DIR)


def _entry_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_path(table_dir), f"v{version:08d}.json")


def log_versions(table_dir: str) -> list[int]:
    """Committed versions, ascending.  Ignores foreign files."""
    d = _log_path(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _ckpt_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_path(table_dir), f"ckpt-v{version:08d}.json")


def log_checkpoints(table_dir: str) -> list[int]:
    """Versions with a committed checkpoint, ascending (see
    :func:`checkpoint_snapshot`)."""
    d = _log_path(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("ckpt-v") and f.endswith(".json"):
            try:
                out.append(int(f[6:-5]))
            except ValueError:
                continue
    return sorted(out)


# (path -> ((mtime_ns, size, inode), parsed state)): every
# table_state at or past a checkpoint seeds from it, and one writer
# takes a state to plan and another per commit attempt.  The key is
# the file's full stat identity, not bare mtime: a table directory
# deleted and recreated at the same path within one process can mint
# a new ckpt-v{N}.json at an identical path, and on coarse-mtime
# filesystems bare mtime would serve the OLD table's parsed state for
# the new one — mtime_ns + size + inode pins the exact file object.
# Bounded because a process reads a handful of tables.
_CKPT_CACHE: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _latest_ckpt(
    table_dir: str, v: int, versions: list[int]
) -> dict | None:
    """The newest checkpoint at a version ≤ ``v`` that is still in
    the log (a checkpoint whose version expired is skipped — its
    delta entries may be gone, so replaying forward from it could
    miss history; :func:`expire_snapshots` deletes those, this guard
    covers the crash window).  Returns the loaded state or None."""
    vset = set(versions)
    for c in reversed(log_checkpoints(table_dir)):
        if c <= v and c in vset:
            path = _ckpt_path(table_dir, c)
            try:
                st = os.stat(path)
                ident = (st.st_mtime_ns, st.st_size, st.st_ino)
                hit = _CKPT_CACHE.get(path)
                if hit and hit[0] == ident:
                    ck = hit[1]
                else:
                    with open(path) as f:
                        ck = json.load(f)
                    if len(_CKPT_CACHE) > 16:
                        _CKPT_CACHE.clear()
                    _CKPT_CACHE[path] = (ident, ck)
            except (OSError, json.JSONDecodeError):
                continue  # torn/foreign checkpoint: fall back
            if ck.get("version") == c:
                # READ-ONLY: the returned object IS the cached parsed
                # state; _state_at copies its containers, table_state
                # the per-file stats
                return ck
    return None


def _load_entry(table_dir: str, version: int) -> dict:
    with open(_entry_path(table_dir, version)) as f:
        return json.load(f)


@dataclass
class TableState:
    """The table at one version, replayed from ONE log listing.  Every
    reader and writer takes one per call, so the files, stats,
    deletion vectors and schema it acts on belong to the same version
    (a head read that resolved the head once per facet could pair one
    version's files with another's DVs and resurrect deleted rows).

    ``versions`` is the listing it was replayed from; ``active`` the
    file names; ``stats`` each active file's recorded envelopes
    (``{}`` when its add carried none), sorted by name; ``dvs`` the
    live deletion-vector coverage ``{sidecar: sorted covered files}``;
    ``schema`` the logged ``[[name, type], ...]`` or None.  Read-only
    to callers: :func:`_apply_entry` is the one thing that advances
    it."""

    table_dir: str
    version: int = 0
    versions: list[int] = field(default_factory=list)
    active: set[str] = field(default_factory=set)
    stats: dict[str, dict] = field(default_factory=dict)
    dvs: dict[str, list[str]] = field(default_factory=dict)
    schema: list[list[str]] | None = None


def _apply_entry(state: TableState, e: dict) -> None:
    """Fold one log entry into ``state`` — the replay rules, written
    once:

    - files: adds join the active set, then removes leave it;
    - stats: an add resets the file's stats to what THAT entry
      recorded (or ``{}``) and a remove drops them, so a name added,
      removed and re-added never inherits the dead add's envelope or
      bloom (a stale one would let a prune or merge skip a match);
    - deletion vectors: ``dv_adds`` assigns a sidecar's coverage,
      every removed file leaves all coverage, and a sidecar whose
      coverage empties drops out — a rewrite retires the DVs of the
      files it removes by construction, and a re-added name never
      resurrects a dead DV;
    - schema: the latest entry that records one wins."""
    removes = set(e["removes"])
    recorded = e.get("stats") or {}
    state.active.update(e["adds"])
    state.active -= removes
    for name in e["adds"]:
        state.stats[name] = recorded.get(name, {})
    for name in removes:
        state.stats.pop(name, None)
    for s, files in (e.get("dv_adds") or {}).items():
        state.dvs[s] = sorted(files)
    if removes:
        for s in list(state.dvs):
            state.dvs[s] = [f for f in state.dvs[s] if f not in removes]
            if not state.dvs[s]:
                del state.dvs[s]
    if e.get("schema"):
        state.schema = [list(c) for c in e["schema"]]


def _state_at(table_dir: str, versions: list[int], v: int) -> TableState:
    """Replay the listing ``versions`` up to ``v`` (0 = the empty table
    before v1): seeded from the newest checkpoint ≤ v, then one
    :func:`_apply_entry` per later entry, each opened once.  The
    per-file stats dicts may be the cached checkpoint's own: internal
    callers only read them, and :func:`table_state` copies them before
    they reach anyone else."""
    state = TableState(table_dir, versions=versions)
    start = 0
    ck = _latest_ckpt(table_dir, v, versions)
    if ck:
        # ck is the cached parsed checkpoint: _apply_entry rebinds
        # keys of these containers, so each gets its own
        state.active = set(ck["active"])
        state.stats = dict(ck.get("stats", {}))
        state.dvs = {s: list(c) for s, c in ck.get("dvs", {}).items()}
        if ck.get("schema"):
            state.schema = [list(c) for c in ck["schema"]]
        start = ck["version"]
    for n in versions:
        if start < n <= v:
            _apply_entry(state, _load_entry(table_dir, n))
    state.version = v
    state.stats = {f: state.stats.get(f, {}) for f in sorted(state.active)}
    return state


def table_state(table_dir: str, version: int | None = None) -> TableState:
    """The table at ``version`` (default: head) — the one log replay.
    One :func:`log_versions` listing resolves the version AND drives
    the replay, so a commit landing mid-read is either wholly visible
    or wholly invisible.  Raises for an empty log or a version the
    log does not hold."""
    versions = log_versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshot log under {table_dir!r}")
    head = versions[-1]
    v = head if version is None else int(version)
    if v not in versions:
        raise ValueError(f"version {v} not in log (head {head})")
    state = _state_at(table_dir, versions, v)
    # callers may mutate what they get: never the cached checkpoint
    state.stats = {
        f: {c: dict(s) for c, s in st.items()}
        for f, st in state.stats.items()
    }
    return state


def commit_version(
    table_dir: str,
    adds: list[str] | None = None,
    removes: list[str] | None = None,
    stats: dict | None = None,
    max_attempts: int = 10,
    schema: list[list[str]] | None = None,
    dv_adds: dict[str, list[str]] | None = None,
    data_change: bool = True,
    planned_version: int | None = None,
) -> int:
    """Append the next version to the log; returns its number.

    Two-phase: the entry is written to a unique tmp name and CLAIMED
    as ``v{N}.json`` via ``os.link`` — atomic, and it FAILS if the
    name exists — so readers never observe a torn entry and two
    writers can never silently last-write-win the same version (the
    first step of Delta/Iceberg optimistic concurrency).  On a lost
    claim the commit re-reads the log, RE-VALIDATES its adds/removes
    against the new head (a semantic conflict — our add now active,
    our remove now gone — raises ``ValueError`` exactly like a bad
    input), and retries with the next number; ``max_attempts``
    exhausted raises :class:`SnapshotConflictError`.
    ``adds``/``removes`` are table-relative file names.  A remove of
    a file the snapshot doesn't hold, or an add of one it already
    holds, is rejected — silently tolerating either corrupts every
    later replay.

    ``schema`` (optional) records the table schema AT this commit as
    ``[[name, spark-ddl-type], ...]`` — the Delta-style
    schema-in-the-log move that makes SCHEMA EVOLUTION work: when any
    replayed entry ≤ v carries a schema, :func:`read_snapshot` reads
    with that EXPLICIT schema (latest wins), so files written before
    a widening read their missing columns as NULL without a
    mergeSchema footer sweep, and time travel to a pre-evolution
    version still serves the narrow schema.

    ``stats`` (optional) embeds per-file column envelopes IN the
    commit entry — the Delta/Iceberg stats-in-manifest move: at
    100 TB a prune that must reopen a million parquet footers costs
    more than the scan it saves, so the writer (who just produced
    the file) records the envelope once and every later plan reads
    it from the log.  Shape: ``{file: {col: {"n_rows", "vmin",
    "vmax", "ord"}}}`` with the exact stringified values
    :func:`operators.zonemap.file_column_stats` emits (one envelope
    representation everywhere).  Keys must be a subset of ``adds`` —
    stats for a file this commit doesn't introduce are rejected.

    ``dv_adds`` (optional) attaches DELETION-VECTOR sidecars — the
    merge-on-read half of row-level DML (operators/mor.py; Delta DVs
    / Iceberg v2 position deletes are the public design): each entry
    maps a sidecar parquet name (schema ``file string, pos long``,
    0-based row positions) to the ACTIVE data files it covers.  A
    sidecar may only cover files that are already active and not
    removed by this commit (covering a same-commit add would make the
    change-feed image of that add ambiguous), its name must be fresh
    (never added as data or DV before — replay keys on names), and
    coverage must be non-empty.  Replay prunes a sidecar's coverage
    as its files are removed and drops it when none remain, so a
    rewrite (purge/zorder/compaction/merge) retires DVs by
    construction — see :func:`_apply_entry`.

    ``data_change=False`` marks a commit whose LOGICAL table content
    is identical to its parent (compaction, z-order, DV purge — the
    Delta ``dataChange=false`` move), so an incremental change-feed
    reader (operators/mor.py ``table_changes``) can skip it instead
    of emitting rewrite noise.

    ``planned_version`` (optional) is the READ-SET declaration — the
    log version whose state (active files AND deletion vectors) this
    commit's content was computed from.  With it, the commit performs
    transaction-level conflict detection against every intervening
    commit (``planned_version < n``), the second half of Delta-style
    optimistic concurrency on top of the O_EXCL version claim:

    - an intervening commit REMOVED a file this commit removes →
      :class:`SnapshotConflictError` (two writers rewrote the same
      file; replaying the loser would double-apply or resurrect);
    - an intervening commit attached a DELETION VECTOR covering a
      file this commit removes → :class:`SnapshotConflictError` (the
      rewrite was computed with the OLDER DV set, so committing it
      would resurrect the concurrently-deleted rows — sidecar-only
      commits never change the active set, which is exactly why the
      file-level re-validation alone cannot see them);
    - an intervening commit removed a file this commit's ``dv_adds``
      cover → :class:`SnapshotConflictError` (the tombstones name
      positions in a file a concurrent rewrite just retired; the
      re-validation would also reject this, but as a caller error —
      with a read-set it is correctly a concurrency conflict).

    The loser replans from the new head (all writers in
    operators/mor.py / sinks/merge.py / compaction surface this by
    raising; a retry re-reads the log and converges).  Without
    ``planned_version`` the historical file-level checks still run,
    but sidecar-only intervening commits are invisible to them."""
    adds = list(adds or [])
    removes = list(removes or [])
    dv_adds = {s: list(cov) for s, cov in (dv_adds or {}).items()}
    if not adds and not removes and not dv_adds:
        raise ValueError("empty commit")
    # FLAT names only: every layer that keys on a file (zone-map
    # manifests, bloom builds via input_file_name, vacuum's listdir)
    # identifies files by basename, so a path-shaped name would let
    # 'sub/x.parquet' silently vanish from pruned scans while reads
    # still resolve it.  One representation everywhere — reject,
    # don't guess.
    dv_names = list(dv_adds)
    dv_covered = [f for cov in dv_adds.values() for f in cov]
    shaped = [
        n
        for n in adds + removes + dv_names + dv_covered
        if "/" in n or "\\" in n
    ]
    if shaped:
        raise ValueError(
            f"file names must be flat (no path separators): {shaped}"
        )
    empty_cov = sorted(s for s, cov in dv_adds.items() if not cov)
    if empty_cov:
        raise ValueError(
            f"deletion-vector sidecars with empty coverage: {empty_cov}"
        )
    dv_clash = sorted(set(dv_names) & set(adds + removes))
    if dv_clash:
        raise ValueError(
            f"names are both data files and DV sidecars: {dv_clash}"
        )
    if stats:
        foreign = sorted(set(stats) - set(adds))
        if foreign:
            raise ValueError(
                f"stats for files this commit does not add: {foreign}"
            )
    import uuid

    def read_entry(n: int) -> dict:
        try:
            return _load_entry(table_dir, n)
        except FileNotFoundError:
            # listed, then gone: a concurrent expiry compacted the
            # history under this commit — a maintenance race
            raise SnapshotConflictError(
                f"log entry v{n} vanished mid-commit (a "
                "concurrent expire compacted history); replan"
            ) from None

    own_removes = set(removes)
    own_covered = set(dv_covered)
    # incremental scan state: entries are immutable once committed,
    # so a lost-claim retry re-scans only versions appended since the
    # previous attempt instead of re-walking the whole log (the
    # conflict scan and the dv-name-freshness walk both reuse it)
    scanned_up_to = planned_version if planned_version is not None else 0
    used_names: set[str] = set()
    names_scanned_up_to = 0
    for _ in range(max_attempts):
        # one listing per attempt: the head it claims past, the
        # conflict scan and the active set it validates against
        versions = log_versions(table_dir)
        if planned_version is not None:
            if versions and planned_version != 0 and (
                planned_version < versions[0]
            ):
                # history was COMPACTED under us (concurrent
                # expire_snapshots) — a maintenance race, not a
                # caller bug: the loser replans from the new head
                raise SnapshotConflictError(
                    f"planned_version {planned_version} expired from "
                    f"the log (head starts at v{versions[0]}) — a "
                    "concurrent expire compacted history; replan"
                )
            if planned_version != 0 and planned_version not in versions:
                raise ValueError(
                    f"planned_version {planned_version} not in log"
                )
            # read-set conflict scan: every commit that landed after
            # the version this commit's content was computed from
            for n in versions:
                if n <= scanned_up_to:
                    continue
                e = read_entry(n)
                their_removes = set(e["removes"])
                their_covered = {
                    f
                    for cov in (e.get("dv_adds") or {}).values()
                    for f in cov
                }
                clash_rm = sorted(own_removes & their_removes)
                if clash_rm:
                    raise SnapshotConflictError(
                        f"conflict with v{n}: it removed files this "
                        f"commit (planned at v{planned_version}) also "
                        f"removes: {clash_rm} — replan from the head"
                    )
                clash_dv = sorted(own_removes & their_covered)
                if clash_dv:
                    raise SnapshotConflictError(
                        f"conflict with v{n}: it deletion-vectored "
                        f"rows in files this commit (planned at "
                        f"v{planned_version}) rewrites without those "
                        f"DVs: {clash_dv} — committing would "
                        "resurrect the deleted rows; replan"
                    )
                clash_cov = sorted(own_covered & their_removes)
                if clash_cov:
                    raise SnapshotConflictError(
                        f"conflict with v{n}: it removed files this "
                        f"commit's deletion vectors (planned at "
                        f"v{planned_version}) cover: {clash_cov} — "
                        "the tombstone positions are stale; replan"
                    )
                clash_cc = sorted(own_covered & their_covered)
                if clash_cc:
                    # DV-vs-DV on the same file (Delta's
                    # ConcurrentDeleteDelete shape): two writers
                    # tombstoned positions of one file from the same
                    # parent — a concurrent overlapping MOR
                    # delete/upsert.  For a delete the union would
                    # still read correctly (n_deleted would double-
                    # count), but for an UPSERT both writers append a
                    # replacement for the same key, so silent
                    # composition breaks key uniqueness — fail the
                    # loser; the retry replans against the first
                    # writer's tombstones
                    raise SnapshotConflictError(
                        f"conflict with v{n}: it attached deletion "
                        f"vectors over files this commit (planned at "
                        f"v{planned_version}) also tombstones: "
                        f"{clash_cc} — concurrent row-level writers "
                        "on the same file; replan"
                    )
                scanned_up_to = n
        active = _state_at(
            table_dir, versions, versions[-1] if versions else 0
        ).active
        dup = [a for a in adds if a in active]
        if dup:
            raise ValueError(f"add of already-active files: {dup}")
        missing = [r for r in removes if r not in active]
        if missing:
            raise ValueError(f"remove of non-active files: {missing}")
        if dv_adds:
            bad_cov = sorted(set(dv_covered) - (active - set(removes)))
            if bad_cov:
                raise ValueError(
                    "DV coverage of files not active after this "
                    f"commit: {bad_cov}"
                )
            for n in versions:
                if n <= names_scanned_up_to:
                    continue
                e = read_entry(n)
                used_names |= set(e["adds"]) | set(e.get("dv_adds") or {})
                names_scanned_up_to = n
            stale = sorted(set(dv_names) & used_names)
            if stale:
                raise ValueError(
                    "DV sidecar names already used by the log "
                    f"(replay keys on names): {stale}"
                )
        v = (versions[-1] + 1) if versions else 1
        os.makedirs(_log_path(table_dir), exist_ok=True)
        import time as _time

        # commit wall-clock, clamped STRICTLY ABOVE the parent
        # entry's ts (parent + 1 ms — Delta's commit-timestamp
        # adjustment bumps the same way): raw wall clock from
        # whichever writer wins the claim can run backwards under
        # clock skew / an NTP step, and even a healthy clock lands
        # consecutive commits in the same ms-rounded instant — a TIE
        # would make 'latest version with ts <= query' resolve a
        # version's OWN commit time to its child (observed as a
        # flaky as-of read before the strict bump).  Strict
        # monotonicity also legalizes the early break in
        # version_at_timestamp.
        ts = round(_time.time(), 3)
        if versions:
            try:
                parent_ts = _load_entry(table_dir, versions[-1]).get("ts")
            except (OSError, json.JSONDecodeError):
                parent_ts = None  # expired/torn parent: keep wall clock
            if parent_ts is not None:
                ts = round(max(ts, float(parent_ts) + 0.001), 3)
        entry = {
            "version": v,
            # the TIMESTAMP AS OF resolver keys on it
            # (version_at_timestamp); replay semantics never read it
            "ts": ts,
            "adds": sorted(adds),
            "removes": sorted(removes),
        }
        if stats:
            entry["stats"] = stats
        if schema:
            entry["schema"] = [list(c) for c in schema]
        if dv_adds:
            entry["dv_adds"] = {s: sorted(cov) for s, cov in dv_adds.items()}
        if not data_change:
            entry["data_change"] = False
        # unique tmp per attempt/writer: two racers must never clobber
        # each other's staged entry
        tmp = _entry_path(table_dir, v) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        try:
            os.link(tmp, _entry_path(table_dir, v))
            return v
        except FileExistsError:
            # another writer claimed v between our listing and our
            # link: loop — re-list, re-validate against the new head
            continue
        finally:
            os.remove(tmp)
    raise SnapshotConflictError(
        f"could not claim a version in {table_dir!r} after "
        f"{max_attempts} attempts (concurrent writers)"
    )


def snapshot_zonemap_rows(state: TableState, cols: list[str]) -> list[tuple]:
    """Zone-map manifest rows for a snapshot — ``(file, col, n_rows,
    vmin, vmax, ord)`` tuples, the ``build_zonemap`` schema — read
    LOG-FIRST: files whose commit recorded stats for every requested
    column are served from the log (zero footer reads — the 100 TB
    fast path); the rest fall back to
    :func:`operators.zonemap.file_column_stats` footer walks, so
    mixed logs (pre-stats commits, foreign writers) stay exactly
    correct, just slower for those files.  Driver-side so the
    writers' ordering guards (a string-equality check over a
    file-count-sized list) mint no Spark job.

    SCHEMA EVOLUTION interaction: a file written BEFORE a widening
    has no footer entry for the evolved column — its rows hold NULL
    there, which matches no range predicate and no join key, so the
    file gets a NULL-stat manifest row (unprunable-by-envelope,
    never skipped blind; the read side sees the NULLs).  Raising
    here instead would make every merge/delete on an evolved column
    crash against pre-widening files."""
    from .zonemap import file_column_stats

    rows = []
    for name, st in state.stats.items():
        if all(c in st for c in cols):
            for c in cols:
                s = st[c]
                rows.append(
                    (
                        name,
                        c,
                        int(s["n_rows"]),
                        s["vmin"],
                        s["vmax"],
                        s["ord"],
                    )
                )
        else:
            # ONE metadata open decides column presence and the row
            # count; ONE stats walk covers every present column — not
            # an open per column (at the million-footer scale this
            # module budgets for, the multiplier is pure waste)
            path = os.path.join(state.table_dir, name)
            import pyarrow.parquet as _pq

            pf = _pq.ParquetFile(path)
            present = set(pf.schema_arrow.names)
            n = pf.metadata.num_rows
            want = [c for c in cols if c in present]
            if want:
                rows.extend(file_column_stats(path, want))
            for c in cols:
                if c not in present:
                    # pre-widening file: NULL-stat row — unprunable,
                    # never wrong
                    rows.append((name, c, int(n), None, None, None))
    return rows


def guard_zonemap_ordering(
    rows: list[tuple], key_col: str, cast: str, required: str, verb: str
) -> None:
    """Shared DRIVER-side ordering guard over zone-map rows: an
    envelope whose recorded comparison ordering disagrees with the
    cast's class raises (never a silent wrong prune).  A pure string
    equality over file-count-sized driver data — running it as a
    Spark filter+collect would bill a whole job for a list scan."""
    bad = next(
        (r for r in rows if r[5] is not None and r[5] != required), None
    )
    if bad is not None:
        raise ValueError(
            f"zone-map ordering mismatch on {key_col!r}: envelope "
            f"built {bad[5]}, {verb} cast {cast!r} "
            f"compares {required}"
        )


def _pack_words(words: list[int]) -> str:
    """Dense little-endian-free packing of int64 words → base64, the
    log-friendly form of a bloom filter's bit array."""
    import base64
    import struct

    return base64.b64encode(
        b"".join(struct.pack(">q", w) for w in words)
    ).decode("ascii")


def file_key_blooms(
    table_dir: str,
    files: list[str] | dict[str, int],
    key_col: str,
    num_bits: int = 1 << 13,
    num_hashes: int = 3,
) -> dict[str, dict]:
    """Per-FILE Bloom filter over ``key_col``, in the
    ``commit_version(stats=...)`` bloom shape: ``{file: {"m", "k",
    "b64"}}`` — the manifest index that makes copy-on-write MERGE
    work on UNSORTED tables.  A min/max envelope over a file whose
    keys are scattered spans the whole key domain, so every file
    looks affected and the merge degrades to a full rewrite; a 1 KiB
    bloom per file (default 2^13 bits ≈ 800 keys at 10 bits/key —
    raise ``num_bits`` for bigger files; the log entry grows with
    the FILTER, not the data) excludes files that provably lack
    every source key.  False positives cost an extra rewrite, never
    correctness; false negatives cannot happen because the build
    hashes the file's OWN full key column with
    ``operators/bloom.py`` ``_positions_np``, the same function the
    merge's driver-side plan (``sinks/merge.py`` ``plan_key_merge``)
    probes the source keys with.

    Built on the driver, no Spark job: each file's key column is read
    with pyarrow in record batches (memory bounded by the batch and
    the m-bit array), NULL keys are dropped (a NULL in a file can
    never equal a source key — sources reject NULL keys outright) and
    the k positions set bits.  Pass a ``{file: num_bits}`` dict to
    size each file's filter independently; a list builds every file
    at the scalar ``num_bits``.  A file whose key column is not an
    integer or date type gets no entry: it is probed by its envelope
    only."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as _pq

    from .bloom import _positions_np

    if not isinstance(files, dict):
        files = {f: num_bits for f in files}
    out = {}
    for f, m in files.items():
        if m < 64 or m % 64:
            # the packed form is whole int64 words; a ragged tail word
            # would make a probe position index past the dense array
            # (NULL under legacy, an error under ANSI — either way not
            # a filter).  Reject at build time, never at probe time.
            raise ValueError(
                f"num_bits must be a positive multiple of 64, got {m}"
                f" (file {f!r})"
            )
        with _pq.ParquetFile(os.path.join(table_dir, f)) as pf:
            typ = pf.schema_arrow.field(key_col).type
            if pa.types.is_date32(typ):
                typ = pa.int32()
            elif not pa.types.is_signed_integer(typ):
                continue
            bits = np.zeros(m, dtype=bool)
            for batch in pf.iter_batches(
                batch_size=1 << 16, columns=[key_col]
            ):
                keys = (
                    batch.column(0)
                    .drop_null()
                    .cast(typ)
                    .to_numpy(zero_copy_only=False)
                )
                bits[_positions_np(keys, m, num_hashes).ravel()] = True
        # bit i of word w is position 64*w + i: little-endian bit and
        # byte order inside each word
        words = np.packbits(bits, bitorder="little").view("<i8")
        out[f] = {
            "m": m,
            "k": num_hashes,
            "b64": _pack_words(words.tolist()),
        }
    return out


def attach_key_blooms(
    table_dir: str,
    adds: list[str],
    key_col: str,
    new_stats: dict[str, dict],
    bloom_bits: int | str | None = "auto",
) -> dict[str, dict]:
    """Mutates ``new_stats`` in place: per-file key blooms for
    ``adds``, sized "auto" at ~10 bits/key from the row count the
    stats pass measured (clamped to [2^13, 2^17] bits — the log
    grows with the FILTER, not the data), built on the driver from
    the files the commit just wrote (``file_key_blooms``).  The
    single bloom-sizing policy for every writer (merge, delete,
    merge-on-read upsert, streaming bootstrap)."""
    if not bloom_bits or not adds:
        return new_stats
    bits: dict[str, int] = {}
    for fname in adds:
        if bloom_bits == "auto":
            n = int(new_stats[fname][key_col]["n_rows"])
            bits[fname] = min(
                1 << 17,
                max(1 << 13, 1 << (10 * max(n, 1)).bit_length()),
            )
        else:
            bits[fname] = int(bloom_bits)
    for fname, b in file_key_blooms(table_dir, bits, key_col).items():
        new_stats[fname][key_col]["bloom"] = b
    return new_stats


def range_candidate_files(
    state: TableState, key_col: str, lo, hi, cast: str = "bigint"
) -> list[str]:
    """Active files whose ``key_col`` envelope can possibly hold a
    row in ``[lo, hi]`` — the shared pre-plan file cut of both
    row-level DELETE paths (copy-on-write ``sinks/merge.py
    delete_from_snapshot`` and merge-on-read ``operators/mor.py
    delete_from_snapshot_mor``); the keyed writers' key-set cut is
    ``sinks/merge.py`` ``plan_key_merge``.  Log-first manifest,
    guarded exactly like ``prune_files``: an envelope whose recorded
    ordering disagrees with the cast's comparison class raises (never
    a silent wrong prune), and the cut itself is
    ``zonemap.prune_file_rows`` on the driver — a bound it cannot
    prove (NULL stat, width-losing cast) KEEPS the file; never skip
    blind."""
    from .zonemap import _CAST_ORD, prune_file_rows

    required = _CAST_ORD.get(cast.lower().split("(")[0])
    if required is None:
        raise ValueError(f"unsupported delete key cast {cast!r}")
    if lo is None or hi is None:
        raise ValueError("delete bounds must be non-NULL")
    zrows = snapshot_zonemap_rows(state, [key_col])
    guard_zonemap_ordering(zrows, key_col, cast, required, "delete")
    return prune_file_rows(zrows, key_col, lo, hi, cast)


def stats_for_files(
    table_dir: str,
    files: list[str],
    cols: list[str],
    footers: dict | None = None,
) -> dict[str, dict]:
    """Footer-walk ``cols`` stats for ``files`` in the
    ``commit_version(stats=...)`` shape — what a writer calls on the
    files it just produced, before committing them.  ``footers``
    maps a file to its already-read ``FileMetaData`` (the landing's
    one footer read); other files are read here."""
    from .zonemap import file_column_stats

    footers = footers or {}
    out: dict[str, dict] = {}
    for name in files:
        st: dict[str, dict] = {}
        for _, c, n, vmin, vmax, ordv in file_column_stats(
            os.path.join(table_dir, name), cols, footers.get(name)
        ):
            st[c] = {"n_rows": n, "vmin": vmin, "vmax": vmax, "ord": ordv}
        out[name] = st
    return out


class Landing:
    """The one path by which new files enter a snapshot table: a
    rollback scope around "write, rename, drop empty parts, record
    stats and blooms, commit".  Every writer (``init_snapshot``,
    ``compact_snapshot``, ``zorder_snapshot``, the copy-on-write
    MERGE/DELETE in ``sinks/merge.py``, the merge-on-read DML and DV
    purge in ``operators/mor.py``) runs::

        with Landing(table_dir) as landing:
            adds = landing.land(df, "merge")
            version = landing.commit(adds, removes=..., stats_cols=...)

    :meth:`land` writes a DataFrame to ``_tmp_<op>_<tag>``, renames
    each part into the table directory as ``<op>-<tag>-<i>.parquet``
    (flat names — see :func:`commit_version`), reads each new
    footer ONCE — that read drops the 0-row parts (a 0-row file is a
    NULL-stat manifest entry, a permanent 'never skip blind'
    candidate every later merge/delete would rewrite) and keeps the
    row counts and the metadata the commit's stats are built from.
    :meth:`commit` records the footer stats and key blooms and calls
    :func:`commit_version`.

    Leaving the scope without a successful commit — an exception
    anywhere inside it, or a writer that decides nothing needs
    committing — removes every file landed under it (data parts, DV
    sidecars, every compaction bin) and every staging directory.
    New files are invisible to log-driven readers until the commit
    lands; a hard crash inside the scope leaves files that
    :func:`vacuum_orphans` reclaims."""

    def __init__(self, table_dir: str):
        import uuid

        self.table_dir = table_dir
        self.tag = uuid.uuid4().hex[:8]
        self.rows: dict[str, int] = {}
        self.version: int | None = None
        self._footers: dict = {}
        self._landed: list[str] = []
        self._staging: list[str] = []

    def __enter__(self) -> "Landing":
        return self

    def __exit__(self, *exc) -> None:
        import shutil

        for d in self._staging:
            shutil.rmtree(d, ignore_errors=True)
        if self.version is None:
            for name in self._landed:
                try:
                    os.remove(os.path.join(self.table_dir, name))
                except OSError:
                    pass

    def land(
        self,
        df: DataFrame,
        op: str,
        name: str = "{op}-{tag}-{i:05d}.parquet",
        one: str | None = None,
        keep_schema_part: bool = False,
    ) -> list[str]:
        """Land ``df``'s parts under ``name`` (formatted with ``op``,
        ``tag`` and the part index) and return the non-empty ones, in
        part order.  ``one`` requires exactly one part and names it in
        the error.  ``keep_schema_part`` keeps the first part when
        every part is empty, so an empty table still has a file that
        holds its schema."""
        import pyarrow.parquet as pq

        staging = os.path.join(self.table_dir, f"_tmp_{op}_{self.tag}")
        self._staging.append(staging)
        df.write.mode("overwrite").parquet(staging)
        parts = sorted(
            p for p in os.listdir(staging) if p.endswith(".parquet")
        )
        if one and len(parts) != 1:
            raise RuntimeError(f"expected one {one} part, got {len(parts)}")
        names = []
        for i, part in enumerate(parts):
            fname = name.format(op=op, tag=self.tag, i=i)
            path = os.path.join(self.table_dir, fname)
            os.rename(os.path.join(staging, part), path)
            self._landed.append(fname)
            self._footers[fname] = pq.ParquetFile(path).metadata
            names.append(fname)
        kept = [f for f in names if self._footers[f].num_rows]
        if not kept and keep_schema_part:
            kept = names[:1]
        for f in names:
            if f not in kept:
                os.remove(os.path.join(self.table_dir, f))
                self._landed.remove(f)
        self.rows.update((f, self._footers[f].num_rows) for f in kept)
        return kept

    def commit(
        self,
        adds: list[str],
        removes: list[str] | None = None,
        stats_cols: list[str] | None = None,
        bloom_key: str | None = None,
        bloom_bits: int | str | None = "auto",
        **entry,
    ) -> int:
        """Record ``stats_cols`` envelopes (plus ``bloom_key``'s, with
        its per-file key blooms) for ``adds`` from the footers
        :meth:`land` read, then :func:`commit_version` the entry;
        ``entry`` passes through (``schema``, ``dv_adds``,
        ``data_change``, ``planned_version``)."""
        cols = list(stats_cols or [])
        if bloom_key and bloom_key not in cols:
            cols.append(bloom_key)
        stats = stats_for_files(self.table_dir, adds, cols, self._footers)
        if bloom_key:
            attach_key_blooms(
                self.table_dir, adds, bloom_key, stats, bloom_bits
            )
        self.version = commit_version(
            self.table_dir,
            adds=adds,
            removes=removes,
            stats=stats if cols else None,
            **entry,
        )
        return self.version


def snapshot_files(table_dir: str, version: int | None = None) -> list[str]:
    """Table-relative file names active at ``version`` (default:
    head) — sorted, so downstream plans are deterministic."""
    return sorted(table_state(table_dir, version).active)


def _dv_sidecars(
    spark: SparkSession, table_dir: str, sidecars: list[str]
) -> tuple[DataFrame, bool]:
    """The one read of deletion-vector sidecars: ``(scan, broadcast)``,
    the scan as ``file string, pos long`` (``_metadata`` resolves) and
    whether the sidecars total at most 64 MiB — small enough to
    broadcast (a DV is bounded by deletes since the last purge, small
    by maintenance contract); past that the caller's join shuffles
    rather than OOM an executor.

    LOUD on a torn/foreign sidecar: reading one with the explicit
    schema would serve NULL positions, the join would match nothing,
    and every deleted row would silently RESURRECT — the one failure
    mode a deletion vector must never have.  The footer checks are
    driver-side and sidecar-count bounded."""
    import pyarrow.parquet as _pq

    paths = [os.path.join(table_dir, s) for s in sidecars]
    for s, path in zip(sidecars, paths):
        try:
            names = set(_pq.ParquetFile(path).schema_arrow.names)
        except Exception as exc:
            raise ValueError(
                f"unreadable deletion-vector sidecar {s!r}: {exc}"
            ) from exc
        if not {"file", "pos"} <= names:
            raise ValueError(
                f"deletion-vector sidecar {s!r} lacks (file, pos) "
                f"columns — found {sorted(names)}; refusing a read "
                "that would silently resurrect deleted rows"
            )
    scan = spark.read.schema("file string, pos long").parquet(*paths)
    return scan, sum(os.path.getsize(p) for p in paths) <= 64 << 20


def strip_deleted_rows(
    spark: SparkSession,
    scan: DataFrame,
    table_dir: str,
    dvs: dict[str, list[str]],
    files: list[str] | None = None,
    keep_tags: bool = False,
):
    """Anti-join DV-deleted row positions out of ``scan`` — the
    merge-on-read read path shared by :func:`read_snapshot` and every
    copy-on-write rewriter that reads raw parquet file subsets
    (compaction, COW MERGE/DELETE — a rewrite that ignored DVs would
    RESURRECT deleted rows into the new files).

    ``scan`` must be a parquet scan of files under ``table_dir`` (the
    hidden ``_metadata`` columns must still resolve — tag before any
    projection drops them); ``files`` restricts the DV build side to
    the files actually being read.  Row identity is
    ``(_metadata.file_name, _metadata.row_index)`` — Spark's parquet
    row index is the physical position in the file, the exact
    identity a Delta deletion vector / Iceberg position delete keys
    on.  The DV side is read, checked and sized by
    :func:`_dv_sidecars` (broadcast under its cut, shuffled past it).

    ``keep_tags=True`` returns the frame WITH the internal
    ``MOR_FILE_TAG``/``MOR_POS_TAG`` columns (the MOR DML writers
    need the positions they are about to record); default drops
    them."""
    fcol, pcol = MOR_FILE_TAG, MOR_POS_TAG
    clash = [c for c in (fcol, pcol) if c in scan.columns]
    if clash:
        raise ValueError(f"scan already has internal columns {clash}")
    covered: set[str] = set()
    for cov in dvs.values():
        covered.update(cov)
    if files is not None:
        covered &= set(files)
    data_cols = list(scan.columns)
    tagged = scan.select(
        "*",
        F.col("_metadata.file_name").alias(fcol),
        F.col("_metadata.row_index").alias(pcol),
    )
    if not covered:
        return tagged if keep_tags else scan
    sidecars = sorted(s for s, cov in dvs.items() if set(cov) & covered)
    dv, small = _dv_sidecars(spark, table_dir, sidecars)
    # DV side renamed to internal names: a TABLE column called
    # "file"/"pos" must not make the join condition ambiguous
    dv = dv.where(F.col("file").isin(sorted(covered))).select(
        F.col("file").alias("__sps_dv_file"),
        F.col("pos").alias("__sps_dv_pos"),
    )
    if small:
        dv = F.broadcast(dv)
    out = tagged.join(
        dv,
        (F.col(fcol) == F.col("__sps_dv_file"))
        & (F.col(pcol) == F.col("__sps_dv_pos")),
        "left_anti",
    )
    return out if keep_tags else out.select(*data_cols)


def _schema_ddl(cols: list[list[str]]) -> str:
    return ", ".join(f"`{n}` {t}" for n, t in cols)


def table_reader(spark: SparkSession, state: TableState):
    """``spark.read`` carrying ``state``'s logged schema, so a scan of
    any subset of the table's files — pre-widening ones included —
    serves every column; a bare reader (footer schema) when the log
    never recorded one."""
    if state.schema:
        return spark.read.schema(_schema_ddl(state.schema))
    return spark.read


def head_schema(spark: SparkSession, state: TableState) -> list[list[str]]:
    """``[[name, type], ...]`` of the table at ``state``: the logged
    schema — no DataFrame built — or, for a log that never recorded
    one, the schema Spark reads from the state's files."""
    if state.schema:
        return state.schema
    return [[c, t] for c, t in _scan(spark, state).dtypes]


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Scan EXACTLY the files of the requested snapshot.

    When the log carries a recorded schema at ``version`` (schema
    evolution — see :func:`commit_version`), the scan reads with
    that EXPLICIT schema: files written before a widening serve the
    new columns as NULL, and no footer sweep (mergeSchema) is
    needed.  An all-files-removed version reads as an empty table
    with the schema in force at that version (a filter-false scan of
    one historically-known file — metadata-only, no data pages).

    MERGE-ON-READ: when deletion-vector sidecars are live at
    ``version`` (operators/mor.py), the scan anti-joins their row
    positions out (:func:`strip_deleted_rows`), so every reader —
    summaries, time travel, the COW rewriters' schema probe — sees
    the post-delete table without a rewrite.  A version with no live
    DVs (every existing table) keeps the exact bare-scan plan.

    Files, DVs and schema all come from ONE :func:`table_state`, so a
    head read never pairs one version's files with another's DVs."""
    return _scan(spark, table_state(table_dir, version))


def _scan(spark: SparkSession, state: TableState) -> DataFrame:
    """:func:`read_snapshot` of a state already replayed."""
    d = state.table_dir
    files = sorted(state.active)
    reader = table_reader(spark, state)
    if files:
        scan = reader.parquet(*[os.path.join(d, f) for f in files])
        if state.dvs:
            scan = strip_deleted_rows(spark, scan, d, state.dvs, files)
        return scan
    # empty snapshot: recover the schema from ANY file ever logged
    for n in state.versions:
        adds = _load_entry(d, n)["adds"]
        if adds:
            return reader.parquet(os.path.join(d, adds[0])).filter(
                F.lit(False)
            )
    raise ValueError(f"log under {d!r} never added a file")


def version_at_timestamp(table_dir: str, ts: float) -> int:
    """Resolve TIMESTAMP AS OF semantics (Delta's rule): the LATEST
    version whose commit time is ≤ ``ts`` (epoch seconds).  Raises
    when ``ts`` predates the first commit — "the table did not exist
    yet" is an error, not an empty read.  Entries with no ``ts``
    field (written before commit timestamps existed) INHERIT their
    parent's commit time causally: a no-ts PREFIX is treated as the
    unknown past (resolves for any requested time — the
    backward-compatible reading for wholly-legacy logs), while a
    no-ts entry that FOLLOWS a timestamped one cannot predate its
    parent — it resolves only for times its parent also resolves
    for.  (The alternative — treating a late legacy entry as the
    unknown past — would let a query time from before the table
    existed resolve to one of its newest versions.)  Expiry
    preserves the cut version's ORIGINAL time on its baseline
    rewrite, so maintenance never shifts resolution.

    Commit timestamps are STRICTLY increasing by construction for
    every log this engine writes (``commit_version`` clamps each
    entry's ts to ``max(wall clock, parent_ts + 1 ms)`` — Delta's
    commit-timestamp adjustment, tie-proof even for same-millisecond
    commits).  LEGACY logs written before the clamp (raw wall clock)
    can carry NON-monotone timestamps under writer clock skew, and a
    break at the first entry past ``ts`` would either misresolve or
    raise on a query time sitting between out-of-order entries; a
    later dip is undetectable without reading past the break, so no
    early-exit scheme is exact for them.  The resolver therefore reads
    EVERY entry's timestamp: latest version with effective ts ≤ ``ts``
    over the whole log, exact for clamped and legacy logs alike.  Cost
    context: this is one tiny JSON read per version — metadata of the
    same order the log listing itself touches, and far below the
    checkpoint-seeded DATA replay the resolved read then performs —
    so exactness is bought for noise."""
    versions = log_versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshot log under {table_dir!r}")
    best: int | None = None
    eff: float | None = None  # effective ts after legacy inheritance
    for n in versions:
        e_ts = _load_entry(table_dir, n).get("ts")
        if e_ts is not None:
            eff = float(e_ts)
        # a no-ts entry keeps the previous eff (inherits its
        # parent's commit time; a wholly-None prefix keeps None =
        # the unknown past, which resolves for any query time)
        if eff is None or eff <= float(ts):
            best = n
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {table_dir!r}"
        )
    return best


def read_snapshot_asof(
    spark: SparkSession, table_dir: str, ts: float
) -> DataFrame:
    """``SELECT ... TIMESTAMP AS OF ts``: scan the snapshot that was
    current at ``ts`` (see :func:`version_at_timestamp`)."""
    return read_snapshot(spark, table_dir, version_at_timestamp(table_dir, ts))


def snapshot_history(
    spark: SparkSession, table_dir: str
) -> DataFrame:
    """One row per version: ``version, ts, n_adds, n_removes,
    n_active`` — the DESCRIBE HISTORY shape, log-sized (``ts`` is
    the commit wall-clock in epoch seconds; NULL for entries from
    before commit timestamps existed)."""
    rows = []
    state = TableState(table_dir)
    for n in log_versions(table_dir):
        e = _load_entry(table_dir, n)
        _apply_entry(state, e)
        ts = e.get("ts")
        rows.append(
            (
                n,
                float(ts) if ts is not None else None,
                len(e["adds"]),
                len(e["removes"]),
                len(state.active),
            )
        )
    return local_rows_df(
        spark,
        rows,
        "version int, ts double, n_adds int, n_removes int, n_active int",
    )


def snapshot_summary_oracle(
    table_dir: str,
    versions: list[int],
    agg_col: str,
) -> str:
    """DuckDB SQL summarizing each requested snapshot by reading the
    SAME file lists an independent replay of the log produces:
    ``version, n_rows, total`` (decimal-summed ``agg_col``).  A wrong
    replay, add/remove mixup, or torn commit shows up as a row-count
    or sum mismatch."""
    parts = []
    for v in versions:
        files = snapshot_files(table_dir, v)
        if files:
            lst = ", ".join(
                f"'{os.path.join(table_dir, f)}'" for f in files
            )
            src = f"read_parquet([{lst}])"
            parts.append(
                f"SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,"
                f" CAST(COALESCE(SUM(CAST({agg_col} AS DECIMAL(18,2))), 0)"
                f" AS DOUBLE) AS total FROM {src}"
            )
        else:
            parts.append(
                f"SELECT {v} AS version, CAST(0 AS BIGINT) AS n_rows,"
                f" CAST(0 AS DOUBLE) AS total"
            )
    return "\nUNION ALL\n".join(parts)


def time_travel_summary_oracle(
    key_col: str,
    agg_col: str,
    m: int = 24,
    probes: tuple[int, ...] = (8, 12, 18, 24, 26),
    table: str = "orders",
) -> str:
    """Closed-form DuckDB oracle for the checkpoint + TIMESTAMP AS OF
    gate (q:snapshot_time_travel).  The gate stages ``table`` as
    ``m`` single-slice commits (commit v adds the rows with
    ``key_col % m == v-1``), writes a LOG CHECKPOINT mid-stream (at
    v = m/2), then commits v=m+1 removing slices {0,1} and v=m+2
    removing slice {2}, and summarizes each probe version TWICE —
    once via ``read_snapshot(version)`` and once via
    ``read_snapshot_asof`` at the entry's pinned commit epoch — so
    checkpoint-seeded replay ≡ full replay ≡ timestamp resolution
    all land under the driver's one value hash (probes below the
    checkpoint must ignore it; probes above must seed from it; every
    as-of read must resolve to exactly its pinned version).  Content
    at probe v ≤ m is ``key % m < v``; after the removes, v=m+1 is
    ``key % m >= 2`` and v=m+2 is ``key % m >= 3``."""

    def pred(v: int) -> str:
        if v <= m:
            return f"{key_col} % {m} < {v}"
        if v == m + 1:
            return f"{key_col} % {m} >= 2"
        if v == m + 2:
            return f"{key_col} % {m} >= 3"
        raise ValueError(f"probe {v} beyond the staged history {m + 2}")

    blocks = []
    for v in probes:
        for path in ("version", "asof"):
            blocks.append(
                f"SELECT {v} AS version, '{path}' AS path,"
                f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
                f" CAST(COALESCE(SUM(CAST({agg_col} AS"
                f" DECIMAL(18,2))), 0) AS DOUBLE) AS total"
                f" FROM {table} WHERE {pred(v)}"
            )
    return "\nUNION ALL\n".join(blocks)


def snapshot_summary(
    spark: SparkSession,
    table_dir: str,
    versions: list[int],
    agg_col: str,
) -> DataFrame:
    """Spark side of :func:`snapshot_summary_oracle`: per-version
    row count + decimal sum over the time-travel scan.

    Versions with live data, a flat file layout, and one shared
    logged schema are FUSED into a single scan — per-(file,
    dv-sidecar) partial aggregates rolled up on the driver — instead
    of one scan+aggregate plan per version: a k-version summary would
    pay k relation builds and a k-branch union (driver planning
    dominated the gate wall in job traces).  count/decimal-sum are
    exactly distributive over files, so the fused totals are
    bit-identical.  Versions that don't qualify (empty snapshots, or
    a schema-evolution boundary) keep the per-version path and are
    unioned after.

    Versions with live deletion vectors fuse too.  The scan
    LEFT-joins the sidecars' (file, pos) rows, so every row lands in
    a partial-aggregate group keyed by (file, deleting-sidecar-or-
    live); a version's total is then the SUM of the groups live at it
    — its files' live groups, plus the groups of sidecars NOT live at
    it (their rows were still visible then).  Pure addition of
    disjoint partials: co-live sidecars are position-disjoint by the
    MOR writer contract (re-deletes are anti-joined out before a
    sidecar is written), and all arithmetic stays in the JVM decimal
    path, so the result is bit-identical to the per-version
    anti-join read.

    Fire threshold, measured not asserted: >4 qualifying versions,
    with or without DVs.  AQE executes independent per-version
    branches CONCURRENTLY (one stage deep, and concurrently with
    the gate's other subtrees under the same action), while any
    fused shape is a serialized chain — fusing the DML gate's
    3-version summary regressed ~1.5 s, fusing the 4-version MOR
    gate regressed ~1.0 s in both the join-shaped and
    collect-shaped variants (paired runs), and fusing the 10-probe
    time-travel gate cut it 3.6 → 1.8 s (join-shaped) and a further
    −20% (collect-shaped).

    Each version is read from ONE :func:`table_state`."""
    from ..functions.localrel import local_rows_df

    states = [table_state(table_dir, v) for v in versions]
    qualifying = [
        (st.version, sorted(st.active), st.dvs)
        for st in states
        if st.active
        and st.schema == states[0].schema
        and all(os.sep not in f for f in st.active)
        and all(os.sep not in s for s in st.dvs)
    ]
    fused = qualifying if len(qualifying) > 4 else []
    out = None
    if fused:
        all_files = sorted({f for _, fl, _ in fused for f in fl})
        # sidecars live at any fused version, with the union of their
        # per-version coverages — the (sidecar, file) pairs whose
        # positions must be split out of the live groups
        cov_any: dict[str, set[str]] = {}
        for _, _, dvs in fused:
            for s, cov in dvs.items():
                cov_any.setdefault(s, set()).update(cov)
        file_set = set(all_files)
        pairs = sorted(
            (s, f)
            for s, cov in cov_any.items()
            for f in cov
            if f in file_set
        )
        scan = table_reader(spark, states[0]).parquet(
            *[os.path.join(table_dir, f) for f in all_files]
        )
        rows = scan.select(
            F.col(agg_col).alias("_v"),
            F.col("_metadata.file_name").alias("_f"),
            F.col("_metadata.row_index").alias("_p"),
        )
        if pairs:
            dv, small = _dv_sidecars(
                spark, table_dir, sorted({s for s, _ in pairs})
            )
            # pair-level filter (not file-level): a sidecar can hold
            # positions for a file whose coverage it lost at every
            # fused version; those rows must stay in the live group
            dv = dv.select(
                F.col("file").alias("_df"),
                F.col("pos").alias("_dp"),
                F.col("_metadata.file_name").alias("_ds"),
            ).where(
                F.concat_ws("/", F.col("_ds"), F.col("_df")).isin(
                    [f"{s}/{f}" for s, f in pairs]
                )
            )
            if small:
                dv = F.broadcast(dv)
            rows = rows.join(
                dv,
                (F.col("_f") == F.col("_df"))
                & (F.col("_p") == F.col("_dp")),
                "left",
            )
            grouped = rows.select(
                "_v", "_f", F.coalesce(F.col("_ds"), F.lit("")).alias("_s")
            )
        else:
            grouped = rows.select("_v", "_f", F.lit("").alias("_s"))
        per_fs = grouped.groupBy("_f", "_s").agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_v").cast("decimal(18,2)")).alias("_t"),
        )
        # The partials are manifest-sized (files × (sidecars + 1)
        # upper bound), so the membership join + per-version rollup
        # assemble DRIVER-SIDE — one distributed job instead of a
        # sequential join+agg stage chain (the join-shaped fusion
        # measured SLOWER than the concurrent per-version branches
        # at gate scale; per-operator log).  Python Decimal addition
        # is exact like JVM decimal addition; the engine-sensitive
        # decimal→double cast stays in the JVM below.
        from decimal import Decimal

        pf = {(r["_f"], r["_s"]): (r["_n"], r["_t"]) for r in per_fs.collect()}
        vrows = []
        for v, fl, dvs in fused:
            fset = set(fl)
            keys = [(f, "") for f in fl]
            for s, cov in cov_any.items():
                live_cov = set(dvs.get(s, []))
                keys.extend(
                    (f, s)
                    for f in cov
                    if f in fset and f not in live_cov
                )
            n = 0
            t = Decimal(0)
            for k in keys:
                g = pf.get(k)
                if g:
                    n += g[0]
                    if g[1] is not None:
                        t += g[1]
            vrows.append((v, n, t))
        out = local_rows_df(
            spark, vrows, "version int, n_rows long, total decimal(38,2)"
        ).select(
            "version",
            "n_rows",
            F.col("total").cast("double").alias("total"),
        )
    fused_vs = {v for v, _, _ in fused}
    for st in states:
        if st.version in fused_vs:
            continue
        s = _scan(spark, st).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(
                F.sum(F.col(agg_col).cast("decimal(18,2)")), F.lit(0)
            )
            .cast("double")
            .alias("total"),
        ).select(
            F.lit(st.version).cast("int").alias("version"), "n_rows", "total"
        )
        out = s if out is None else out.unionByName(s)
    return out


def compact_snapshot(
    spark: SparkSession,
    table_dir: str,
    target_bytes: int,
    stats_cols: list[str] | None = None,
) -> dict:
    """Execute an OPTIMIZE pass over the snapshot's ACTIVE files as
    ONE atomic log commit — the execution half of the compaction
    planner (operators/compaction.py decides the bins; this rewrites
    them).  Bins holding a single file are left untouched BY NAME
    (rewriting a lone file buys nothing and churns the cache); every
    multi-file bin is read once and rewritten as one file; the
    commit swaps remove(binned small files) + add(compacted files)
    atomically, so concurrent readers of the previous snapshot are
    never torn and time travel keeps serving the pre-compaction
    layout.  Returns ``{"version", "n_rewritten", "n_kept",
    "adds"}`` with ``version=None`` when the layout is already
    optimal (the no-op makes repeated maintenance idempotent)."""
    from .compaction import compaction_plan

    state = table_state(table_dir)
    active = sorted(state.active)
    manifest = local_rows_df(
        spark,
        [
            (f, os.path.getsize(os.path.join(table_dir, f)))
            for f in active
        ],
        "file string, bytes long",
    )
    plan = compaction_plan(manifest, "bytes", "file", target_bytes)
    bins: dict[int, list[str]] = {}
    for r in plan.collect():  # manifest-sized
        bins.setdefault(int(r["bin"]), []).append(r["file"])
    # schema-aware: compacting pre-widening files must carry the
    # evolved columns (as NULL), not freeze the narrow footer
    reader = table_reader(spark, state)
    dvs = state.dvs
    with Landing(table_dir) as landing:
        adds: list[str] = []
        removes: list[str] = []
        for b, fs in sorted(bins.items()):
            if len(fs) < 2:
                continue
            merged = reader.parquet(
                *[os.path.join(table_dir, f) for f in sorted(fs)]
            )
            if dvs:
                # merge-on-read interplay: a bin rewrite that ignored
                # live deletion vectors would RESURRECT deleted rows
                # into the compacted file; applying them here also
                # PURGES the bin's DVs (the remove prunes their
                # coverage — see _apply_entry), exactly Delta's
                # OPTIMIZE-over-DVs move.  Single-file bins keep their
                # file AND its coverage.
                merged = strip_deleted_rows(
                    spark, merged, table_dir, dvs, sorted(fs)
                )
            # one file per bin (coalesce(1) guarantees it; never
            # silently drop a straggler part).  A bin whose every row
            # was DV-deleted lands nothing: its sources still leave
            # the table
            adds += landing.land(
                merged.coalesce(1),
                "compact",
                name=f"compact-{landing.tag}-{b:05d}.parquet",
                one="compacted",
            )
            removes.extend(sorted(fs))
        if not removes:
            return {
                "version": None,
                "n_rewritten": 0,
                "n_kept": len(active),
                "adds": [],
            }
        # stats_cols (optional) records the compacted files' envelopes
        # in the commit, so later merges/prunes plan them log-first
        version = landing.commit(
            adds,
            removes=removes,
            stats_cols=stats_cols,
            planned_version=state.version,
            # layout-only: logical content identical to the parent
            # (DVs applied above were already logically deleted), so
            # change-feed readers skip this commit
            data_change=False,
        )
    return {
        "version": version,
        "n_rewritten": len(removes),
        "n_kept": len(active) - len(removes),
        "adds": adds,
    }


def checkpoint_snapshot(table_dir: str) -> dict:
    """Write a LOG CHECKPOINT at the current head — the Delta
    ``_last_checkpoint`` move, without giving up any history: the
    full replayed state (active files, per-file stats/blooms, live
    deletion-vector coverage, evolved schema) lands as ONE
    ``_sps_log/ckpt-v{N}.json``, and every :func:`table_state` — so
    every reader and writer — seeds its replay from the newest
    checkpoint ≤ the requested version, paying O(commits since
    checkpoint) instead of O(all commits).

    Why this matters at 100 TB: a standing ingestion stream commits
    a version per micro-batch — thousands of entries per day — and
    WITHOUT a checkpoint every plan (merge candidate cut, pruned
    scan, DV build) re-reads the whole entry chain driver-side.
    Time travel is untouched: a read at a version BELOW a checkpoint
    simply ignores it (only checkpoints ≤ the target seed a replay),
    and unlike :func:`expire_snapshots` no history is deleted.

    Idempotent and crash-safe: content is a pure function of the log
    at version N, written tmp + ``os.replace`` (atomic; two racers
    produce identical bytes).  A checkpoint whose version later
    EXPIRES is deleted by ``expire_snapshots`` (and skipped by
    readers in the crash window) because its forward deltas may be
    gone.  Run it from maintenance (``expire_snapshots`` writes one
    at the surviving head automatically) or every N commits on hot
    tables.  Returns ``{"version", "n_active", "n_dvs"}``."""
    state = table_state(table_dir)
    head = state.version
    ck = {
        "version": head,
        "active": sorted(state.active),
        "stats": state.stats,
        "dvs": state.dvs,
        "schema": state.schema,
    }
    import uuid as _uuid

    # the ".tmp-" suffix puts a crashed writer's debris under
    # vacuum_orphans' existing claim-tmp reclaim pattern
    tmp = _ckpt_path(table_dir, head) + f".tmp-{_uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(ck, f)
    os.replace(tmp, _ckpt_path(table_dir, head))
    return {
        "version": head,
        "n_active": len(state.active),
        "n_dvs": len(state.dvs),
    }


def expire_snapshots(table_dir: str, keep_last: int = 7) -> dict:
    """Retention + log compaction in one maintenance pass — the
    remaining lifecycle half of a table format (Delta checkpoint +
    VACUUM): versions older than the newest ``keep_last`` stop being
    queryable, the oldest RETAINED version's entry is rewritten as a
    self-contained BASELINE (its full active file set, carrying
    forward every recorded stat/bloom so later merges keep planning
    log-first), the expired entries are deleted, and data files whose
    last reference died with them are removed from disk.

    Crash-safe at every step, by construction of the replay:
    1. the baseline entry replaces the cut version via ``os.replace``
       (atomic).  A replay that still sees the older entries PLUS the
       baseline computes the SAME active set: adds are set-unions
       (re-adding already-active files is idempotent) and the
       baseline carries EXPLICIT removes for everything the cut
       version dropped, so the stale prefix cannot resurrect a
       removed file through the union;
    2. expired entry files are deleted (a crash part-way leaves some
       history readable, never a wrong answer);
    3. now-unreferenced data files are deleted; a crash before this
       step leaves files that ``vacuum_orphans`` classifies as
       orphans (their add entries are gone), so the next maintenance
       pass reclaims them.

    Returns ``{"cut_version", "n_expired_versions",
    "deleted_files"}``; a log shorter than ``keep_last`` no-ops.

    CONCURRENCY CONTRACT (same single-maintenance-writer rule as
    ``vacuum_orphans``): concurrent WRITERS are protected — a commit
    racing an expiry fails loudly (the read-set scan raises
    SnapshotConflictError when its planned version or a mid-scan
    entry expired; the claim loop re-validates) — but a concurrent
    READER that listed versions just before the deletion loop can
    hit FileNotFoundError on an expired entry mid-replay; it should
    simply retry (the post-expiry log replays the identical state
    for every surviving version, by the baseline construction
    above).  Run expiry from the maintenance slot, not beside
    latency-critical readers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = log_versions(table_dir)
    if len(versions) <= keep_last:
        return {
            "cut_version": None,
            "n_expired_versions": 0,
            "deleted_files": [],
        }
    cut = versions[-keep_last]
    expired = [v for v in versions if v < cut]
    # the table at the cut (active set, stats, DVs, schema ride the
    # baseline) and just before it, plus every file the expired
    # prefix ever added (candidates for deletion)
    at_cut = _state_at(table_dir, versions, cut)
    before_cut = _state_at(table_dir, versions, expired[-1])
    ever_pre_cut: set[str] = set()
    dv_pre_cut: set[str] = set()
    for v in expired + [cut]:
        e = _load_entry(table_dir, v)
        ever_pre_cut |= set(e["adds"])
        dv_pre_cut |= set(e.get("dv_adds") or {})
    # files still referenced by ANY retained version: active at cut,
    # or (re)added by a retained entry after the cut.  DV sidecars
    # live at the cut ride the baseline; ones referenced by a
    # retained entry stay for time travel; the rest are dead weight.
    referenced = set(at_cut.active)
    dv_referenced = set(at_cut.dvs)
    for v in versions:
        if v > cut:
            e = _load_entry(table_dir, v)
            referenced |= set(e["adds"])
            dv_referenced |= set(e.get("dv_adds") or {})
    doomed = sorted(
        (ever_pre_cut - referenced) | (dv_pre_cut - dv_referenced)
    )
    # the baseline must carry EXPLICIT removes for everything active
    # just before the cut that the cut version dropped: replay is a
    # set-union of adds, so during the crash window where the old
    # entries still coexist with the baseline, a removes-free
    # baseline would RESURRECT files the original cut entry removed
    # (the prefix re-contributes them and nothing subtracts them).
    # With the removes present, both replays agree: prefix ∪ adds −
    # removes = active(cut) mid-crash, and adds − removes =
    # active(cut) after the prefix is deleted (replay subtracts
    # without validating, so removes of already-absent names are
    # harmless there).
    baseline = {
        "version": cut,
        "adds": sorted(at_cut.active),
        "removes": sorted(before_cut.active - at_cut.active),
        "baseline": True,
    }
    # the cut version's ORIGINAL commit time must survive the
    # baseline rewrite, or TIMESTAMP AS OF resolution shifts under
    # maintenance
    _cut_ts = _load_entry(table_dir, cut).get("ts")
    if _cut_ts is not None:
        baseline["ts"] = _cut_ts
    carried = {f: st for f, st in at_cut.stats.items() if st}
    if carried:
        baseline["stats"] = carried
    # the evolved schema must survive expiry exactly like stats do —
    # dropping the schema-carrying entry would silently revert every
    # later read to footer schemas (pre-widening files would then
    # resolve WITHOUT the new columns)
    if at_cut.schema:
        baseline["schema"] = at_cut.schema
    # deletion vectors live at the cut must survive expiry exactly
    # like stats and schema — dropping their entries would RESURRECT
    # the deleted rows at the baseline version.  Replay semantics
    # make the crash window safe: dv_adds ASSIGNS coverage (last
    # entry wins), so prefix+baseline and baseline-alone replays
    # agree on the live set.
    if at_cut.dvs:
        baseline["dv_adds"] = at_cut.dvs
    tmp = _entry_path(table_dir, cut) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(baseline, f)
    os.replace(tmp, _entry_path(table_dir, cut))
    # delete NEWEST-expired first: a crash mid-loop then leaves a
    # contiguous prefix starting at v1, and every surviving version
    # still replays over its FULL history — oldest-first deletion
    # would leave expired entries whose prefix is gone, replaying a
    # silently wrong (smaller) active set for them
    for v in reversed(expired):
        try:
            os.remove(_entry_path(table_dir, v))
        except OSError:
            pass
    for name in doomed:
        try:
            os.remove(os.path.join(table_dir, name))
        except OSError:
            pass
    # checkpoints at expired versions are now dead: their forward
    # delta entries are gone, so seeding a replay from one would
    # compute a silently stale state (readers already skip them via
    # the version-in-log guard; this reclaims the files)
    for c in log_checkpoints(table_dir):
        if c < cut:
            try:
                os.remove(_ckpt_path(table_dir, c))
            except OSError:
                pass
    # maintenance leaves a fresh checkpoint at the surviving head so
    # post-expiry reads start O(1)-deep (checkpoint_snapshot doc)
    checkpoint_snapshot(table_dir)
    return {
        "cut_version": cut,
        "n_expired_versions": len(expired),
        "deleted_files": doomed,
    }


def vacuum_orphans(
    table_dir: str, grace_seconds: float = 0.0
) -> list[str]:
    """Delete ``*.parquet`` files in ``table_dir`` that NO log entry
    ever added — data files stranded by a writer that crashed between
    rename and commit.  Every file any version references (active or
    historically removed) is untouched, so time travel keeps working
    for the whole log.  Returns the deleted names, sorted.

    CONCURRENCY CONTRACT: "never committed" is only provably "dead"
    when no OTHER writer is mid-commit — a concurrent merge/compact
    renames its data files into the table dir BEFORE its log commit,
    and this vacuum would eat them in that window (the race Delta's
    VACUUM keeps a retention window for).  Run it with no concurrent
    writers, or pass ``grace_seconds`` > 0 to skip any candidate
    whose mtime is within the window (an in-flight writer's files are
    seconds old; a crash orphan is reclaimed by the NEXT pass).

    Return shape: data files as bare names, reclaimed commit-claim
    tmps as ``_sps_log/``-relative paths (they live in the log dir,
    not the table dir) — one sorted list."""
    import time

    ever: set[str] = set()
    for n in log_versions(table_dir):
        e = _load_entry(table_dir, n)
        # deletion-vector sidecars are committed files too — eating
        # one would resurrect its deleted rows on every MOR read
        ever |= set(e["adds"]) | set(e.get("dv_adds") or {})
    if not ever:
        raise ValueError(f"no snapshot log under {table_dir!r}")
    cutoff = time.time() - grace_seconds
    gone = []
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet") and f not in ever:
            path = os.path.join(table_dir, f)
            if grace_seconds > 0 and os.path.getmtime(path) > cutoff:
                continue
            os.remove(path)
            gone.append(f)
    # claim tmps stranded by a writer that crashed between staging
    # its entry and linking it (commit_version's two-phase claim):
    # replay ignores them, but they are debris — reclaim under the
    # same single-writer/grace contract as the data files
    log_dir = _log_path(table_dir)
    for f in sorted(os.listdir(log_dir)):
        if ".tmp-" in f:
            path = os.path.join(log_dir, f)
            if grace_seconds > 0 and os.path.getmtime(path) > cutoff:
                continue
            try:
                os.remove(path)
                gone.append(os.path.join(LOG_DIR, f))
            except OSError:
                pass
    return sorted(gone)


def zorder_snapshot(
    spark: SparkSession,
    table_dir: str,
    col_a: str,
    col_b: str,
    n_files: int = 4,
    bits: int = 16,
    stats_cols: list[str] | None = None,
) -> dict:
    """OPTIMIZE ZORDER over a snapshot-logged table — the layout
    half of Delta's ``OPTIMIZE ... ZORDER BY (a, b)`` built from this
    repo's own pieces: read the ACTIVE file set, range-partition by
    the Morton interleave of ``(col_a, col_b)`` (operators/zorder.py
    zvalue — a codegen'd bit expression, one shuffle), sort within
    partitions, land ``n_files`` new files, and swap them in as ONE
    atomic remove+add commit with their column envelopes recorded in
    the manifest.

    Why this pays at 100 TB: compaction fixes file SIZES, z-ordering
    fixes file CONTENTS — after the rewrite every participating
    column has locally-narrow [vmin, vmax] envelopes per file, so
    manifest pruning (and parquet row-group skipping inside the
    survivors) cuts scans filtered on EITHER dimension, where a
    one-column sort helps only that column.  Readers of the previous
    snapshot never tear: the new layout is invisible until the
    commit lands, and time travel keeps serving the old one.

    ``stats_cols`` defaults to ``[col_a, col_b]`` — the dimensions
    whose envelopes the layout just tightened are exactly the ones
    later prunes want in the manifest.

    Returns ``{"version", "n_rewritten", "adds"}``."""
    from .zorder import zvalue

    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    state = table_state(table_dir)
    active = sorted(state.active)
    if not active:
        raise ValueError(f"snapshot at {table_dir!r} has no active files")
    # the snapshot read applies the logged evolved schema when one
    # exists, so a layout rewrite never drops post-widening columns
    # from pre-widening files
    base = _scan(spark, state)
    with Landing(table_dir) as landing:
        # n_files above the populated z-range bins (or a fully-DV-
        # deleted table) stages empty parts; the landing drops them
        adds = landing.land(
            base.withColumn("_z", zvalue(col_a, col_b, bits))
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z"),
            "zorder",
        )
        version = landing.commit(
            adds,
            removes=active,
            stats_cols=stats_cols or [col_a, col_b],
            # layout-only commit; reading through read_snapshot above
            # already applied any live deletion vectors, and removing
            # every active file retires them (_apply_entry prunes) —
            # z-order doubles as a full DV purge
            data_change=False,
            planned_version=state.version,
        )
    return {"version": version, "n_rewritten": len(active), "adds": adds}


def init_snapshot(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    stats_cols: list[str] | None = None,
    prefix: str = "init",
    bloom_key: str | None = None,
    bloom_bits: int | str | None = "auto",
) -> dict:
    """Bootstrap a snapshot-logged table from a DataFrame: write the
    data as parquet files, rename them to stable names, and commit
    version 1 with their column envelopes recorded (stats-in-manifest
    from the very first commit, so the first MERGE/DELETE already
    plans log-first).  Refuses a directory that already carries a
    log — bootstrap is not an upsert."""
    if log_versions(table_dir):
        raise ValueError(
            f"{table_dir!r} already has a snapshot log — use "
            "merge_into_snapshot/commit_version to change it"
        )
    os.makedirs(table_dir, exist_ok=True)
    with Landing(table_dir) as landing:
        # an all-empty bootstrap keeps one 0-row part as the table's
        # schema holder
        adds = landing.land(df, prefix, keep_schema_part=True)
        # schema-in-the-log from commit 1: the writer KNOWS df's
        # schema, and recording it makes every later read —
        # summaries, DML rewrites, time travel — an explicit-schema
        # parquet scan instead of a footer-inference pass (~80-115 ms
        # of driver work per un-schema'd read at local scale; at
        # 100 TB the inference job reopens footers the log already
        # describes).
        version = landing.commit(
            adds,
            stats_cols=stats_cols,
            bloom_key=bloom_key,
            bloom_bits=bloom_bits,
            schema=[[c, t] for c, t in df.dtypes],
        )
    return {"version": version, "adds": adds}
