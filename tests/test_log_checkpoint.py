"""Snapshot-log CHECKPOINTS (operators/snapshot.py
``checkpoint_snapshot``): the Delta ``_last_checkpoint`` move without
history loss — full replayed state (active set, per-file stats,
deletion-vector coverage, evolved schema) at one version, so every
reader seeds its replay from the newest checkpoint ≤ its target and
pays O(commits since checkpoint).  Time travel below a checkpoint
must ignore it; expiry must reclaim checkpoints whose forward deltas
died; a checkpointed table must answer every question byte-identically
to the checkpoint-free replay — and the one replay behind it
(``table_state``): every read and write takes one state per call, so
a head read never mixes two versions."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from survivor_processing_spark.operators.mor import (
    delete_from_snapshot_mor,
    purge_dvs,
)
from survivor_processing_spark.operators.snapshot import (
    _ckpt_path,
    checkpoint_snapshot,
    commit_version,
    expire_snapshots,
    head_schema,
    log_checkpoints,
    read_snapshot,
    snapshot_files,
    table_reader,
    table_state,
)


def _write(d: str, name: str, keys: list[int]) -> str:
    pq.write_table(
        pa.table({"k": pa.array(keys, type=pa.int64())}),
        os.path.join(d, name),
    )
    return name


@pytest.fixture()
def tbl():
    d = tempfile.mkdtemp(prefix="sps_ckpt_")
    for i in range(4):
        _write(d, f"f{i}.parquet", list(range(i * 10, i * 10 + 10)))
    commit_version(
        d,
        adds=["f0.parquet", "f1.parquet"],
        stats={
            "f0.parquet": {
                "k": {"n_rows": 10, "vmin": "0", "vmax": "9",
                      "ord": "numeric"}
            }
        },
    )
    commit_version(d, adds=["f2.parquet"], removes=["f0.parquet"])
    commit_version(
        d, adds=["f3.parquet"], schema=[["k", "bigint"]]
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _full_state(d, v=None):
    return (
        snapshot_files(d, v),
        table_state(d, v).stats,
        table_state(d, v).dvs,
        table_state(d, v).schema,
    )


def test_checkpoint_state_equals_full_replay(tbl):
    before = {v: _full_state(tbl, v) for v in (1, 2, 3)}
    out = checkpoint_snapshot(tbl)
    assert out["version"] == 3 and out["n_active"] == 3
    assert log_checkpoints(tbl) == [3]
    # every version answers identically with the checkpoint present
    for v in (1, 2, 3):
        assert _full_state(tbl, v) == before[v], v
    assert _full_state(tbl, None) == before[3]


def test_checkpoint_seeds_later_replay(tbl):
    checkpoint_snapshot(tbl)
    _write(tbl, "f4.parquet", list(range(40, 50)))
    commit_version(
        tbl,
        adds=["f4.parquet"],
        removes=["f1.parquet"],
        stats={
            "f4.parquet": {
                "k": {"n_rows": 10, "vmin": "40", "vmax": "49",
                      "ord": "numeric"}
            }
        },
    )
    assert snapshot_files(tbl) == [
        "f2.parquet", "f3.parquet", "f4.parquet"
    ]
    st = table_state(tbl).stats
    assert st["f4.parquet"]["k"]["vmax"] == "49"
    assert st["f2.parquet"] == {}  # added without stats, pre-ckpt
    assert table_state(tbl).schema == [["k", "bigint"]]
    # time travel below the checkpoint still exact
    assert snapshot_files(tbl, 1) == ["f0.parquet", "f1.parquet"]
    assert table_state(tbl, 1).stats["f0.parquet"]["k"]["vmin"] == "0"


def test_checkpoint_carries_dv_coverage(spark, tbl):
    out = delete_from_snapshot_mor(spark, tbl, "k", 12, 14)
    assert out["version"] == 4
    dvs_before = table_state(tbl).dvs
    rows_before = sorted(
        r["k"] for r in read_snapshot(spark, tbl).collect()
    )
    checkpoint_snapshot(tbl)
    assert table_state(tbl).dvs == dvs_before
    assert (
        sorted(r["k"] for r in read_snapshot(spark, tbl).collect())
        == rows_before
    )
    # a post-checkpoint rewrite still retires the checkpointed DV
    _write(tbl, "rw.parquet", [12, 13, 14, 15, 16, 17, 18, 19, 10, 11])
    commit_version(
        tbl, adds=["rw.parquet"], removes=["f1.parquet"],
        planned_version=4,
    )
    assert table_state(tbl).dvs == {}


def test_torn_checkpoint_falls_back_to_full_replay(tbl):
    want = _full_state(tbl)
    checkpoint_snapshot(tbl)
    with open(_ckpt_path(tbl, 3), "w") as f:
        f.write("{not json")
    assert _full_state(tbl) == want


def test_checkpoint_wrong_version_field_skipped(tbl):
    want = _full_state(tbl)
    checkpoint_snapshot(tbl)
    with open(_ckpt_path(tbl, 3)) as f:
        ck = json.load(f)
    ck["version"] = 99
    with open(_ckpt_path(tbl, 3), "w") as f:
        json.dump(ck, f)
    assert _full_state(tbl) == want


def test_expire_reclaims_stale_checkpoints_and_writes_head(tbl):
    checkpoint_snapshot(tbl)  # at v3
    for i in range(5):
        _write(tbl, f"g{i}.parquet", [100 + i])
        commit_version(tbl, adds=[f"g{i}.parquet"])
    checkpoint_snapshot(tbl)  # at v8
    want = _full_state(tbl)
    out = expire_snapshots(tbl, keep_last=3)
    assert out["cut_version"] == 6
    # the v3 checkpoint's delta entries died with expiry: reclaimed;
    # expiry leaves a fresh checkpoint at the surviving head
    assert log_checkpoints(tbl) == [8]
    assert _full_state(tbl) == want
    # and the remaining history still replays exactly
    assert snapshot_files(tbl, 6) == sorted(
        ["f1.parquet", "f2.parquet", "f3.parquet", "g0.parquet",
         "g1.parquet", "g2.parquet"]
    )


def test_checkpoint_idempotent(tbl):
    a = checkpoint_snapshot(tbl)
    with open(_ckpt_path(tbl, 3)) as f:
        payload_a = f.read()
    b = checkpoint_snapshot(tbl)
    with open(_ckpt_path(tbl, 3)) as f:
        payload_b = f.read()
    assert a == b and payload_a == payload_b


def test_table_changes_seeds_from_checkpoint(spark, tbl):
    """An incremental CDF read over a post-checkpoint window must
    apply the checkpointed DV coverage (pre-window deletes stay
    dead in delete images) and agree exactly with the
    checkpoint-free feed."""
    from survivor_processing_spark.operators.mor import table_changes

    delete_from_snapshot_mor(spark, tbl, "k", 12, 14)  # v4 DV on f1
    checkpoint_snapshot(tbl)  # at v4
    delete_from_snapshot_mor(spark, tbl, "k", 15, 16)  # v5
    want = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in table_changes(spark, tbl, 4, 5).collect()
    )
    # only the still-live rows of the second delete emit
    assert want == [(15, "delete", 5), (16, "delete", 5)]
    # remove the checkpoint: the feed must be identical without it
    os.remove(_ckpt_path(tbl, 4))
    bare = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in table_changes(spark, tbl, 4, 5).collect()
    )
    assert bare == want


# --- one log listing per read, one state per writer step -------------------


def test_replay_readers_list_log_exactly_once(spark, tbl, monkeypatch):
    """One listing per read: the listing that resolves the version
    also drives the replay, so a commit landing between two listings
    can never make a head read pair the newer head with an older
    entry chain (missing the newest entry's dv_adds / stats / schema).
    Pinned structurally for the snapshot view, the state itself and
    the Spark readers built on it — with live deletion vectors, and
    for the footer-schema fallback of a log that never recorded a
    schema."""
    import survivor_processing_spark.operators.snapshot as snap

    delete_from_snapshot_mor(spark, tbl, "k", 12, 14)  # a live DV
    plain = tempfile.mkdtemp(prefix="sps_ckpt_plain_")
    _write(plain, "p.parquet", [1, 2])
    commit_version(plain, adds=["p.parquet"])
    calls: list[str] = []
    real = snap.log_versions

    def counting(d):
        calls.append(d)
        return real(d)

    monkeypatch.setattr(snap, "log_versions", counting)
    reads = {
        "snapshot_files": lambda: snapshot_files(tbl),
        "table_state": lambda: table_state(tbl),
        "read_snapshot": lambda: read_snapshot(spark, tbl),
        "table_reader": lambda: table_reader(spark, table_state(tbl)),
        "head_schema": lambda: head_schema(spark, table_state(tbl)),
        "head_schema (footer)": lambda: head_schema(
            spark, table_state(plain)
        ),
    }
    try:
        for name, read in reads.items():
            calls.clear()
            read()  # head read — the racy case is version=None
            assert len(calls) == 1, name
    finally:
        shutil.rmtree(plain, ignore_errors=True)


def test_writers_list_log_at_most_twice(spark, tmp_path, monkeypatch):
    """Each of the eight snapshot writers takes ONE table state to
    plan (its version is the commit's read-set) and one per commit
    attempt: at most two log listings for an uncontended commit.  A
    writer that listed once per facet it reads (head, files, stats,
    DVs, schema) could plan from facets of different versions."""
    import pyspark.sql.functions as F

    import survivor_processing_spark.operators.mor as mor
    import survivor_processing_spark.operators.snapshot as snap
    from survivor_processing_spark.sinks.merge import (
        delete_from_snapshot,
        merge_into_snapshot,
    )

    d = str(tmp_path / "t")
    base = spark.range(0, 120).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("amt")
    )

    def src(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), F.lit(-1.0).alias("amt")
        )

    writers = [
        ("init_snapshot", lambda: snap.init_snapshot(
            spark, d, base.repartition(3), stats_cols=["k"], bloom_key="k"
        )),
        ("delete_from_snapshot_mor", lambda: mor.delete_from_snapshot_mor(
            spark, d, "k", 5, 9
        )),
        ("merge_into_snapshot", lambda: merge_into_snapshot(
            spark, d, src(0, 8), "k"
        )),
        ("delete_from_snapshot", lambda: delete_from_snapshot(
            spark, d, "k", 100, 104
        )),
        ("upsert_into_snapshot_mor", lambda: mor.upsert_into_snapshot_mor(
            spark, d, src(60, 70), "k"
        )),
        ("purge_dvs", lambda: mor.purge_dvs(spark, d)),
        ("compact_snapshot", lambda: snap.compact_snapshot(
            spark, d, target_bytes=1 << 30
        )),
        ("zorder_snapshot", lambda: snap.zorder_snapshot(
            spark, d, "k", "amt", n_files=2
        )),
    ]
    calls: list[str] = []
    real = snap.log_versions

    def counting(t):
        calls.append(t)
        return real(t)

    monkeypatch.setattr(snap, "log_versions", counting)
    monkeypatch.setattr(mor, "log_versions", counting)
    for want_version, (name, write) in enumerate(writers, start=1):
        calls.clear()
        out = write()
        assert out["version"] == want_version, name  # each one commits
        assert len(calls) <= 2, (name, len(calls))


def test_head_read_state_matches_resolved_version(spark, tbl, monkeypatch):
    """The loop-listing ⊇ replay-listing invariant, behaviorally: a
    commit that lands between two consecutive head reads is either
    entirely invisible (old head) or entirely visible (new head) —
    never a mixed read that claims the new head with the old DV
    state (the failure mode: MOR-deleted rows resurrecting)."""
    import survivor_processing_spark.operators.snapshot as snap

    delete_from_snapshot_mor(spark, tbl, "k", 12, 14)  # v4: adds a DV
    want_v4 = table_state(tbl, 4).dvs
    assert want_v4  # the DV is live at v4
    real = snap.log_versions
    # serve a STALE listing (pre-v4) for the first read, the full
    # log afterwards — simulating the commit landing mid-sequence
    served: list[list[int]] = [[1, 2, 3]]

    def racy(d):
        return served.pop(0) if served else real(d)

    monkeypatch.setattr(snap, "log_versions", racy)
    first = table_state(tbl).dvs  # one listing -> consistent v3 state
    second = table_state(tbl).dvs  # fresh listing -> consistent v4 state
    assert first == {} and second == want_v4


def test_head_read_snapshot_never_mixes_versions(spark, tmp_path, monkeypatch):
    """A head ``read_snapshot`` takes ONE table state.  A DV purge
    landing between a read's file listing and its DV listing (stood
    in for by a stale first listing) must leave the read at one
    consistent version — here the pre-purge one, whose rows equal the
    post-purge read — never the pre-purge files with the post-purge
    (empty) DV set, which resurrects the deleted keys 12-14."""
    import survivor_processing_spark.operators.snapshot as snap

    d = str(tmp_path / "t")
    os.makedirs(d)
    for i in range(3):
        _write(d, f"f{i}.parquet", list(range(i * 10, i * 10 + 10)))
    commit_version(d, adds=["f0.parquet", "f1.parquet", "f2.parquet"])
    delete_from_snapshot_mor(spark, d, "k", 12, 14)  # v2
    assert purge_dvs(spark, d)["version"] == 3
    want = sorted(r["k"] for r in read_snapshot(spark, d, 3).collect())
    assert want == [k for k in range(30) if not 12 <= k <= 14]
    real = snap.log_versions
    served: list[list[int]] = [[1, 2]]

    def racy(t):
        return served.pop(0) if served else real(t)

    monkeypatch.setattr(snap, "log_versions", racy)
    got = sorted(r["k"] for r in read_snapshot(spark, d).collect())
    assert got == want


# --- checkpoint cache identity + isolation ---------------------------------


def test_ckpt_cache_invalidates_on_recreated_same_mtime_file(tbl):
    """A table dir deleted and recreated at the
    same path can mint a new ckpt-v{N}.json at an identical path; on
    coarse-mtime filesystems a bare-mtime cache key would serve the
    OLD table's parsed state.  The key now pins (mtime_ns, size,
    inode), so a recreated file — even with a byte-identical mtime —
    is a cache miss."""
    checkpoint_snapshot(tbl)
    p = _ckpt_path(tbl, 3)
    st = os.stat(p)
    before = snapshot_files(tbl)  # primes the cache
    with open(p) as f:
        ck = json.load(f)
    ck["active"] = ["other.parquet"]
    tmp = p + ".new"
    with open(tmp, "w") as f:
        json.dump(ck, f)
    os.replace(tmp, p)  # new inode at the same path
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))  # identical mtime
    assert snapshot_files(tbl) == ["other.parquet"] != before


def test_ckpt_cache_state_is_isolated_from_caller_mutation(tbl):
    """The cache must hand out copies: a state seeded from a cached
    checkpoint copies its stats two levels deep, so a caller mutating
    an inner per-column stat dict cannot poison the cached parsed
    state for every later read."""
    checkpoint_snapshot(tbl)
    _write(tbl, "f9.parquet", [90])
    commit_version(
        tbl,
        adds=["f9.parquet"],
        stats={
            "f9.parquet": {
                "k": {"n_rows": 1, "vmin": "90", "vmax": "90",
                      "ord": "numeric"}
            }
        },
    )
    checkpoint_snapshot(tbl)  # v4 checkpoint carries f9's stats
    first = table_state(tbl).stats
    first["f9.parquet"]["k"]["vmax"] = "poisoned"
    assert table_state(tbl).stats["f9.parquet"]["k"]["vmax"] == "90"
