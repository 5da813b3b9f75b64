"""Transaction-level optimistic concurrency on the snapshot log
(r11 — VERDICT r10 "Next round" #6 and the ADVICE r10 medium item):
``commit_version(planned_version=...)`` declares the read-set every
writer computed its commit from, and a conflicting intervening
commit fails the loser LOUDLY with ``SnapshotConflictError`` instead
of letting a stale rewrite land.

The headline race this closes: sidecar-only deletion-vector commits
never change the ACTIVE file set, so the historical file-level
re-validation could not see them — a purge/compact/zorder/COW
rewrite planned before a concurrent MOR delete committed would fold
the files WITHOUT the fresh DV and silently resurrect rows the
delete already reported gone (Delta detects the same race as a
DV-file conflict).

Also here: the r11 sharded deletion-vector write (VERDICT r10
"What's wrong" #1 — the single-task ``coalesce(1)`` funnel): a
commit may now carry several sidecars with disjoint file-coverage,
written in parallel, and the read path / purge / change feed must
treat the multi-sidecar commit exactly like the classic one.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from survivor_processing_spark.operators.mor import (
    delete_from_snapshot_mor,
    purge_dvs,
    table_changes,
    upsert_into_snapshot_mor,
)
from survivor_processing_spark.operators.snapshot import (
    SnapshotConflictError,
    commit_version,
    read_snapshot,
    snapshot_files,
    table_state,
)


def _write(d: str, name: str, keys: list[int | None]) -> str:
    pq.write_table(
        pa.table(
            {
                "k": pa.array(keys, type=pa.int64()),
                "amt": [float(k) if k is not None else -1.0 for k in keys],
            }
        ),
        os.path.join(d, name),
    )
    return name


@pytest.fixture()
def tbl():
    d = tempfile.mkdtemp(prefix="sps_occ_")
    _write(d, "f0.parquet", list(range(0, 50)) + [None])
    _write(d, "f1.parquet", list(range(50, 100)))
    _write(d, "f2.parquet", list(range(100, 150)))
    commit_version(d, adds=["f0.parquet", "f1.parquet", "f2.parquet"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _keys(spark, d, version=None) -> list:
    rows = read_snapshot(spark, d, version).collect()
    return sorted(
        (r["k"] for r in rows), key=lambda k: (k is None, k)
    )


# --- commit_version read-set conflict scan ---------------------------------


def test_conflict_remove_remove(tbl):
    """Two writers planned at v1 both rewrite f1: the second commit
    must fail as a CONFLICT (not a caller-error ValueError)."""
    _write(tbl, "w1.parquet", [999])
    commit_version(
        tbl, adds=["w1.parquet"], removes=["f1.parquet"],
        planned_version=1,
    )
    _write(tbl, "w2.parquet", [998])
    with pytest.raises(SnapshotConflictError, match="removed files"):
        commit_version(
            tbl, adds=["w2.parquet"], removes=["f1.parquet"],
            planned_version=1,
        )


def test_conflict_dv_added_under_planned_rewrite(spark, tbl):
    """ADVICE r10 medium: a sidecar-only DV commit lands between a
    rewriter's plan and its commit.  The rewrite's removes cover the
    DV'd file, so committing it (computed with the older DV set)
    would resurrect the freshly-deleted rows — must conflict."""
    out = delete_from_snapshot_mor(spark, tbl, "k", 10, 20)
    assert out["version"] == 2
    _write(tbl, "rw.parquet", list(range(0, 50)) + [None])
    with pytest.raises(SnapshotConflictError, match="deletion-vector"):
        commit_version(
            tbl, adds=["rw.parquet"], removes=["f0.parquet"],
            planned_version=1,
        )
    # planned AT the DV commit: no conflict (the rewrite saw the DV)
    commit_version(
        tbl, adds=["rw.parquet"], removes=["f0.parquet"],
        planned_version=2,
    )


def test_conflict_stale_dv_coverage(tbl):
    """The mirror race: a DV whose tombstones name positions in a
    file a concurrent rewrite just retired must conflict (with a
    read-set it is a concurrency conflict, not a caller bug)."""
    _write(tbl, "rw.parquet", list(range(50, 100)))
    commit_version(
        tbl, adds=["rw.parquet"], removes=["f1.parquet"],
        planned_version=1,
    )
    pq.write_table(
        pa.table({"file": ["f1.parquet"], "pos": pa.array([3], pa.int64())}),
        os.path.join(tbl, "dv-stale.parquet"),
    )
    with pytest.raises(SnapshotConflictError, match="stale"):
        commit_version(
            tbl, dv_adds={"dv-stale.parquet": ["f1.parquet"]},
            planned_version=1,
        )


def test_planned_version_must_exist(tbl):
    _write(tbl, "w.parquet", [1])
    with pytest.raises(ValueError, match="not in log"):
        commit_version(
            tbl, adds=["w.parquet"], planned_version=7,
        )


def test_disjoint_writers_compose(spark, tbl):
    """Writers over disjoint files both planned at v1 still compose —
    the conflict scan must not over-fire."""
    out = delete_from_snapshot_mor(spark, tbl, "k", 10, 20)  # f0 only
    assert out["n_files_covered"] == 1
    _write(tbl, "rw.parquet", list(range(100, 150)))
    v = commit_version(
        tbl, adds=["rw.parquet"], removes=["f2.parquet"],
        planned_version=1,
    )
    assert v == 3
    assert len(_keys(spark, tbl)) == 151 - 11


def test_purge_loses_to_concurrent_mor_delete(spark, tbl, monkeypatch):
    """Operation-level two-writer interleaving (VERDICT r10 #6 done
    criterion): a purge plans, then a MOR delete commits before the
    purge's commit — the purge must raise SnapshotConflictError, the
    concurrent delete must stay deleted, and a RETRIED purge must
    converge with both deletes intact."""
    from survivor_processing_spark.operators import snapshot as snap_mod

    delete_from_snapshot_mor(spark, tbl, "k", 10, 20)  # v2: DV on f0

    real_commit = snap_mod.commit_version
    state = {"armed": True}

    def racing_commit(table_dir, *args, **kwargs):
        if state["armed"] and not kwargs.get("data_change", True):
            # we are the purge's commit: inject the concurrent MOR
            # delete first (it uses the REAL commit path)
            state["armed"] = False
            out = delete_from_snapshot_mor(spark, tbl, "k", 30, 40)
            assert out["version"] == 3
        return real_commit(table_dir, *args, **kwargs)

    monkeypatch.setattr(snap_mod, "commit_version", racing_commit)
    with pytest.raises(SnapshotConflictError):
        purge_dvs(spark, tbl)
    # loser rolled back: no purge files landed, both deletes live
    assert set(snapshot_files(tbl)) == {
        "f0.parquet", "f1.parquet", "f2.parquet"
    }
    ks = _keys(spark, tbl)
    assert all(not (10 <= k <= 20) and not (30 <= k <= 40)
               for k in ks if k is not None)
    # retry from the new head converges: DVs folded, rows stay gone
    out = purge_dvs(spark, tbl)
    assert out["version"] == 4
    assert table_state(tbl).dvs == {}
    ks = _keys(spark, tbl)
    assert len(ks) == 151 - 22
    assert all(not (10 <= k <= 20) and not (30 <= k <= 40)
               for k in ks if k is not None)


def test_cow_delete_loses_to_concurrent_mor_delete(spark, tbl, monkeypatch):
    """Same interleaving through the COW DELETE writer: its rewrite
    of f0 planned before the concurrent MOR delete of f0 rows must
    conflict, not resurrect them."""
    from survivor_processing_spark.operators import snapshot as snap_mod
    from survivor_processing_spark.sinks.merge import delete_from_snapshot

    # a pre-existing DV puts the COW delete on the strip path, which
    # is the injection point (it runs after planned_version capture,
    # before the commit)
    delete_from_snapshot_mor(spark, tbl, "k", 0, 2)  # v2

    state = {"armed": True}
    orig_strip = snap_mod.strip_deleted_rows

    def inject_then_strip(*args, **kwargs):
        if state["armed"]:
            state["armed"] = False
            # the concurrent writer commits v3 while the COW delete
            # (planned at v2) is mid-flight; it uses mor.py's own
            # module-level strip binding, not this patched one
            delete_from_snapshot_mor(spark, tbl, "k", 5, 8)
        return orig_strip(*args, **kwargs)

    # merge.py resolves strip_deleted_rows from the snapshot module
    # at call time (function-local import), so patching it there
    # intercepts only the COW delete's plan
    monkeypatch.setattr(snap_mod, "strip_deleted_rows", inject_then_strip)
    with pytest.raises(SnapshotConflictError):
        delete_from_snapshot(spark, tbl, "k", 0, 20)
    # the concurrent delete survives; the COW delete rolled back
    ks = _keys(spark, tbl)
    assert all(not (0 <= k <= 2) and not (5 <= k <= 8)
               for k in ks if k is not None)
    assert 3 in ks and 20 in ks and len(ks) == 151 - 7


# --- sharded deletion-vector sidecars --------------------------------------


def test_sharded_mor_delete_roundtrip(spark, tbl):
    """A sharded delete lands SEVERAL disjoint-coverage sidecars in
    one commit; reads, time travel, purge and the feed must treat it
    exactly like the classic single-sidecar commit."""
    out = delete_from_snapshot_mor(spark, tbl, "k", 25, 125, shards=4)
    assert out["version"] == 2
    assert out["n_deleted"] == 101
    assert out["dv"] is None and len(out["dvs"]) >= 2
    # disjoint coverage, union == the three candidate files
    seen: set[str] = set()
    dvs = table_state(tbl).dvs
    assert sorted(dvs) == out["dvs"]
    for cov in dvs.values():
        assert not (seen & set(cov))
        seen |= set(cov)
    assert seen == {"f0.parquet", "f1.parquet", "f2.parquet"}
    ks = _keys(spark, tbl)
    assert len(ks) == 151 - 101
    assert all(not (25 <= k <= 125) for k in ks if k is not None)
    assert len(_keys(spark, tbl, 1)) == 151  # time travel intact
    # feed: the sharded commit emits each deleted row exactly once
    feed = table_changes(spark, tbl, 1, 2).collect()
    assert len(feed) == 101
    assert {r["k"] for r in feed} == set(range(25, 126))
    # purge folds every shard's coverage
    p = purge_dvs(spark, tbl)
    assert p["n_rewritten"] == 3
    assert table_state(tbl).dvs == {}
    assert len(_keys(spark, tbl)) == 151 - 101


def test_sharded_upsert_matches_cow_merge(spark, tbl):
    src = spark.createDataFrame(
        [(int(k), float(10_000 + k)) for k in range(40, 120)],
        "k long, amt double",
    )
    out = upsert_into_snapshot_mor(spark, tbl, src, "k", dv_shards=3)
    assert out["n_updated"] == 80
    assert out["n_inserted"] == 0
    assert len(out["dvs"]) >= 2
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, tbl).collect()
            if r["k"] is not None}
    assert len(rows) == 150
    for k in range(40, 120):
        assert rows[k] == float(10_000 + k)
    for k in list(range(0, 40)) + list(range(120, 150)):
        assert rows[k] == float(k)


def test_upsert_n_inserted_clamped_under_preexisting_dups(spark):
    """The documented approximate-stat edge (ADVICE r10 low): a key
    with duplicate live rows tombstones both, so n_inserted clamps
    at 0 instead of going negative; the table still converges."""
    d = tempfile.mkdtemp(prefix="sps_occ_dup_")
    try:
        _write(d, "a.parquet", [1, 2])
        _write(d, "b.parquet", [1, 3])  # k=1 duplicated across files
        commit_version(d, adds=["a.parquet", "b.parquet"])
        src = spark.createDataFrame([(1, 99.0)], "k long, amt double")
        out = upsert_into_snapshot_mor(spark, d, src, "k")
        assert out["n_updated"] == 2
        assert out["n_inserted"] == 0  # clamped (1 - 2 would be -1)
        ks = sorted(r["k"] for r in read_snapshot(spark, d).collect())
        assert ks == [1, 2, 3]  # converged: duplicates collapsed
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_same_commit_overlapping_sidecars_feed_once(spark, tbl):
    """ADVICE r10 low: one commit carrying two sidecars that both
    tombstone the same (file, pos) must emit that row ONCE in the
    change feed (sidecars fold into the DV state in sorted order
    within the commit)."""
    pq.write_table(
        pa.table({"file": ["f0.parquet"] * 3,
                  "pos": pa.array([1, 2, 3], pa.int64())}),
        os.path.join(tbl, "dv-a.parquet"),
    )
    pq.write_table(
        pa.table({"file": ["f0.parquet"] * 3,
                  "pos": pa.array([3, 4, 5], pa.int64())}),  # 3 overlaps
        os.path.join(tbl, "dv-b.parquet"),
    )
    commit_version(
        tbl,
        dv_adds={
            "dv-a.parquet": ["f0.parquet"],
            "dv-b.parquet": ["f0.parquet"],
        },
    )
    # read path: union semantics, 5 distinct positions deleted
    assert len(_keys(spark, tbl)) == 151 - 5
    feed = table_changes(spark, tbl, 1, 2).collect()
    assert len(feed) == 5  # not 6: the shared position emits once
    assert sorted(r["k"] for r in feed) == [1, 2, 3, 4, 5]


def test_conflict_dv_vs_dv_same_file(spark, tbl, monkeypatch):
    """Delta's ConcurrentDeleteDelete shape (review r11): two MOR
    writers tombstoning the SAME file from the same parent must not
    compose silently — for upserts both would append a replacement
    for one existing key, breaking key uniqueness.  The loser raises
    and a replan converges."""
    from survivor_processing_spark.operators import snapshot as snap_mod

    state = {"armed": True}
    real_commit = snap_mod.commit_version

    def racing_commit(table_dir, *args, **kwargs):
        if state["armed"] and kwargs.get("dv_adds"):
            state["armed"] = False
            # concurrent writer upserts k=5 (also in f0) first
            src = spark.createDataFrame([(5, 555.0)], "k long, amt double")
            out = upsert_into_snapshot_mor(spark, tbl, src, "k")
            assert out["version"] == 2
        return real_commit(table_dir, *args, **kwargs)

    monkeypatch.setattr(snap_mod, "commit_version", racing_commit)
    src = spark.createDataFrame([(7, 777.0)], "k long, amt double")
    with pytest.raises(SnapshotConflictError, match="deletion"):
        upsert_into_snapshot_mor(spark, tbl, src, "k")
    # loser rolled back: no duplicate keys, winner's update live
    rows = {}
    for r in read_snapshot(spark, tbl).collect():
        if r["k"] is not None:
            assert r["k"] not in rows, f"duplicate key {r['k']}"
            rows[r["k"]] = r["amt"]
    assert rows[5] == 555.0 and rows[7] == 7.0
    # replay from the new head converges
    out = upsert_into_snapshot_mor(spark, tbl, src, "k")
    assert out["version"] == 3 and out["n_updated"] == 1
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, tbl).collect()
            if r["k"] is not None}
    assert rows[7] == 777.0 and len(rows) == 150


def test_conflict_dv_vs_dv_disjoint_files_compose(spark, tbl):
    """The DV-vs-DV rule must not over-fire: sequential-planned-
    stale writers over DISJOINT files still compose."""
    delete_from_snapshot_mor(spark, tbl, "k", 10, 12)  # f0 only, v2
    # a delete over f2 only, planned at v1 (stale but disjoint)
    pq.write_table(
        pa.table({"file": ["f2.parquet"],
                  "pos": pa.array([0], pa.int64())}),
        os.path.join(tbl, "dv-disjoint.parquet"),
    )
    v = commit_version(
        tbl, dv_adds={"dv-disjoint.parquet": ["f2.parquet"]},
        planned_version=1,
    )
    assert v == 3
    assert len(_keys(spark, tbl)) == 151 - 4


def test_conflict_expired_planned_version(spark, tbl):
    """Review r11: a planned_version whose entry expired under a
    concurrent maintenance pass is a CONFLICT (replan), not a caller
    error — so the stream's conflict_retries survives mid-batch
    expiry instead of dying on ValueError."""
    from survivor_processing_spark.operators.snapshot import (
        expire_snapshots,
    )

    for i in range(5):
        _write(tbl, f"g{i}.parquet", [500 + i])
        commit_version(tbl, adds=[f"g{i}.parquet"])
    expire_snapshots(tbl, keep_last=2)  # cut = v5: v1..v4 expired
    _write(tbl, "w.parquet", [999])
    with pytest.raises(SnapshotConflictError, match="expired"):
        commit_version(tbl, adds=["w.parquet"], planned_version=2)
    # planning at a surviving version still works
    v = commit_version(tbl, adds=["w.parquet"], planned_version=5)
    assert v == 7
