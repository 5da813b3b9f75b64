"""Row-level DML + layout maintenance over the snapshot log (r10):
copy-on-write range DELETE (rewrite only files that actually hold
matches), OPTIMIZE ZORDER (layout swap that measurably tightens
manifest pruning), and concurrent-writer conflict behavior now that
commits claim versions with O_EXCL semantics."""

from __future__ import annotations

import os
import random
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from survivor_processing_spark.operators.snapshot import (
    commit_version,
    read_snapshot,
    snapshot_files,
    zorder_snapshot,
)
from survivor_processing_spark.sinks.merge import delete_from_snapshot


def _write(d: str, name: str, keys: list[int | None]) -> str:
    pq.write_table(
        pa.table(
            {
                "k": pa.array(keys, type=pa.int64()),
                "amt": [float(k) if k is not None else 0.0 for k in keys],
            }
        ),
        os.path.join(d, name),
    )
    return name


@pytest.fixture()
def table_dir():
    d = tempfile.mkdtemp()
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _keys(spark, table_dir, version=None) -> list:
    return sorted(
        r["k"]
        for r in read_snapshot(spark, table_dir, version)
        .select("k")
        .collect()
    )


def test_delete_rewrites_only_matching_files(spark, table_dir):
    _write(table_dir, "a.parquet", list(range(1, 11)))
    _write(table_dir, "b.parquet", list(range(11, 21)))
    _write(table_dir, "c.parquet", list(range(21, 31)))
    _write(table_dir, "d.parquet", list(range(41, 51)))
    commit_version(
        table_dir,
        adds=["a.parquet", "b.parquet", "c.parquet", "d.parquet"],
    )
    out = delete_from_snapshot(spark, table_dir, "k", 5, 12)
    assert out["version"] == 2
    assert out["n_deleted"] == 8  # 5..10 in a, 11..12 in b
    assert out["n_removed"] == 2 and out["n_untouched"] == 2
    active = snapshot_files(table_dir)
    # untouched files survive BY NAME; affected ones were replaced
    assert "c.parquet" in active and "d.parquet" in active
    assert "a.parquet" not in active and "b.parquet" not in active
    want = [k for k in list(range(1, 31)) + list(range(41, 51))
            if not (5 <= k <= 12)]
    assert _keys(spark, table_dir) == want
    # time travel still serves the pre-delete table
    assert len(_keys(spark, table_dir, 1)) == 40


def test_delete_skips_envelope_false_positives(spark, table_dir):
    # f1's envelope [1, 30] intersects [4, 6] but holds no matching
    # row — the per-file match count must drop it from the rewrite
    # set, making the whole delete a no-op (no empty commit)
    _write(table_dir, "f1.parquet", [1, 2, 3, 30])
    _write(table_dir, "f2.parquet", list(range(10, 21)))
    commit_version(table_dir, adds=["f1.parquet", "f2.parquet"])
    out = delete_from_snapshot(spark, table_dir, "k", 4, 6)
    assert out["version"] is None and out["n_deleted"] == 0
    assert snapshot_files(table_dir) == ["f1.parquet", "f2.parquet"]


def test_delete_whole_file_removes_without_replacement(spark, table_dir):
    _write(table_dir, "a.parquet", [1, 2, 3])
    _write(table_dir, "b.parquet", [10, 11])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])
    out = delete_from_snapshot(spark, table_dir, "k", 1, 3)
    assert out["n_deleted"] == 3 and out["n_removed"] == 1
    assert out["n_rewritten"] == 0 and out["adds"] == []
    assert snapshot_files(table_dir) == ["b.parquet"]
    assert _keys(spark, table_dir) == [10, 11]
    # no stranded replacement parts on disk
    leftovers = [
        f for f in os.listdir(table_dir)
        if f.endswith(".parquet") and f not in ("a.parquet", "b.parquet")
    ]
    assert leftovers == []


def test_delete_keeps_null_keys(spark, table_dir):
    _write(table_dir, "a.parquet", [1, None, 2, None, 9])
    commit_version(table_dir, adds=["a.parquet"])
    out = delete_from_snapshot(spark, table_dir, "k", 1, 5)
    assert out["n_deleted"] == 2  # 1 and 2; NULLs never match a range
    got = [
        r["k"]
        for r in read_snapshot(spark, table_dir).select("k").collect()
    ]
    assert sorted(x for x in got if x is not None) == [9]
    assert sum(1 for x in got if x is None) == 2


def test_delete_idempotent_replay(spark, table_dir):
    _write(table_dir, "a.parquet", list(range(1, 21)))
    commit_version(table_dir, adds=["a.parquet"])
    first = delete_from_snapshot(spark, table_dir, "k", 5, 8)
    assert first["n_deleted"] == 4
    again = delete_from_snapshot(spark, table_dir, "k", 5, 8)
    # replay matches nothing: clean no-op, no new version
    assert again["version"] is None and again["n_deleted"] == 0
    assert _keys(spark, table_dir) == [
        k for k in range(1, 21) if not (5 <= k <= 8)
    ]


def _by_key(rows):
    return sorted(rows, key=lambda t: (t[0] is None, t[0]))


@pytest.mark.parametrize("seed", [0, 1])
def test_delete_random_ranges_match_dict_filter(spark, seed, table_dir):
    """Random disjoint key-range seed files (the first, and some
    others, with a NULL key) and a random delete range: the snapshot
    equals a dict filter, NULL keys survive, the count is exact, a
    file with no matching row survives by name even when its envelope
    intersects the range, a no-op delete mints no version, and
    version 1 stays intact."""
    rng = random.Random(seed)
    d = table_dir
    n_files = rng.randrange(2, 5)
    bounds = sorted(rng.sample(range(0, 400), n_files * 2))
    per_file = {}
    for i in range(n_files):
        ks = list(range(bounds[2 * i], bounds[2 * i + 1] + 1))
        if i == 0 or rng.random() < 0.3:
            ks.append(None)
        per_file[_write(d, f"s{i}.parquet", ks)] = ks
    commit_version(d, adds=list(per_file))
    rows = [
        (k, float(k) if k is not None else 0.0)
        for ks in per_file.values()
        for k in ks
    ]
    dlo = rng.randrange(0, 400)
    dhi = dlo + rng.randrange(0, 120)

    def hit(k):
        return k is not None and dlo <= k <= dhi

    out = delete_from_snapshot(spark, d, "k", dlo, dhi)
    drawn = (seed, bounds, dlo, dhi)
    got = _by_key((r["k"], r["amt"]) for r in read_snapshot(spark, d).collect())
    assert got == _by_key(t for t in rows if not hit(t[0])), drawn
    n_del = sum(hit(k) for k, _ in rows)
    assert out["n_deleted"] == n_del, drawn
    still = set(snapshot_files(d))
    for nm, ks in per_file.items():
        if not any(hit(k) for k in ks):
            assert nm in still, (drawn, nm)
    if n_del == 0:
        assert out["version"] is None, drawn
    v1 = _by_key((r["k"], r["amt"]) for r in read_snapshot(spark, d, 1).collect())
    assert v1 == _by_key(rows), drawn


def test_delete_failed_commit_rolls_back_files(spark, table_dir, monkeypatch):
    import survivor_processing_spark.sinks.merge as merge_mod

    _write(table_dir, "a.parquet", list(range(1, 11)))
    commit_version(table_dir, adds=["a.parquet"])

    def boom(*a, **k):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(
        "survivor_processing_spark.operators.snapshot.file_key_blooms",
        boom,
    )
    with pytest.raises(RuntimeError, match="injected"):
        delete_from_snapshot(spark, table_dir, "k", 2, 3)
    # rollback removed the renamed replacement files; table unchanged
    assert snapshot_files(table_dir) == ["a.parquet"]
    assert sorted(
        f for f in os.listdir(table_dir) if f.endswith(".parquet")
    ) == ["a.parquet"]
    assert _keys(spark, table_dir) == list(range(1, 11))


def test_zorder_snapshot_tightens_pruning(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        snapshot_zonemap_rows,
        table_state,
    )
    from survivor_processing_spark.operators.zonemap import prune_file_rows

    # round-robin layout: every file's [vmin, vmax] on BOTH columns
    # spans the whole domain, so pruning keeps everything.  Power-of-
    # two domain + 16 output files puts the z-range quantiles on
    # sub-quadrant boundaries, so both dimensions localize.
    n, files = 1024, 16
    for i in range(files):
        ks = [k for k in range(n) if k % files == i]
        pq.write_table(
            pa.table(
                {
                    "a": pa.array(ks, type=pa.int64()),
                    "b": pa.array(
                        [(k * 509) % n for k in ks], type=pa.int64()
                    ),
                }
            ),
            os.path.join(table_dir, f"rr{i}.parquet"),
        )
    commit_version(table_dir, adds=[f"rr{i}.parquet" for i in range(files)])
    zm_before = snapshot_zonemap_rows(table_state(table_dir), ["a"])
    kept_before = prune_file_rows(zm_before, "a", 0, n // 8)
    assert len(kept_before) == files  # round-robin defeats pruning

    before = sorted(
        (r["a"], r["b"])
        for r in read_snapshot(spark, table_dir).collect()
    )
    out = zorder_snapshot(spark, table_dir, "a", "b", n_files=files)
    assert out["version"] == 2 and out["n_rewritten"] == files

    # identical content, new layout
    after = sorted(
        (r["a"], r["b"])
        for r in read_snapshot(spark, table_dir).collect()
    )
    assert after == before
    # the SAME range predicate now schedules strictly fewer files,
    # planned log-first from the stats the commit recorded
    zm_after = snapshot_zonemap_rows(table_state(table_dir), ["a"])
    kept_after = prune_file_rows(zm_after, "a", 0, n // 8)
    assert len(kept_after) < files
    # and the b dimension is ALSO tighter than round-robin (z-curve
    # property: both interleaved dimensions localize)
    zb = snapshot_zonemap_rows(table_state(table_dir), ["b"])
    assert len(prune_file_rows(zb, "b", 0, n // 8)) < files
    # time travel keeps serving the pre-optimize layout
    assert snapshot_files(table_dir, 1) == sorted(
        f"rr{i}.parquet" for i in range(files)
    )


def test_concurrent_merge_vs_compact_stays_consistent(spark, table_dir):
    """Two maintenance writers race from the same snapshot: with the
    O_EXCL claim, one commits and the loser either serializes cleanly
    behind it or raises on re-validation — never a silent
    last-write-win, never a stranded replacement file."""
    import threading

    from survivor_processing_spark.operators.snapshot import (
        SnapshotConflictError,
        compact_snapshot,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", [1, 2, 3])
    _write(table_dir, "b.parquet", [4, 5])
    _write(table_dir, "c.parquet", [6])
    commit_version(table_dir, adds=["a.parquet", "b.parquet", "c.parquet"])

    source = spark.createDataFrame(
        [(2, 99.0), (7, 7.0)], "k long, amt double"
    )
    barrier = threading.Barrier(2)
    errs: dict[str, BaseException] = {}

    def do_merge():
        try:
            barrier.wait()
            merge_into_snapshot(spark, table_dir, source, "k")
        except BaseException as e:
            errs["merge"] = e

    def do_compact():
        try:
            barrier.wait()
            compact_snapshot(spark, table_dir, target_bytes=1 << 20)
        except BaseException as e:
            errs["compact"] = e

    ts = [threading.Thread(target=do_merge),
          threading.Thread(target=do_compact)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()

    # any loser raised a DETECTED conflict, not a silent overwrite
    for e in errs.values():
        assert isinstance(e, (ValueError, SnapshotConflictError)), e
    # the log replays cleanly and the table content is consistent
    # with exactly the operations that committed
    got = {
        r["k"]: r["amt"]
        for r in read_snapshot(spark, table_dir).collect()
    }
    if "merge" in errs:
        assert sorted(got) == [1, 2, 3, 4, 5, 6]
        assert got[2] == 2.0
    else:
        assert sorted(got) == [1, 2, 3, 4, 5, 6, 7]
        assert got[2] == 99.0 and got[7] == 7.0
    # no stranded files: everything on disk is log-referenced
    import json as _json

    from survivor_processing_spark.operators.snapshot import (
        _entry_path,
        log_versions,
    )

    ever: set[str] = set()
    for v in log_versions(table_dir):
        with open(_entry_path(table_dir, v)) as f:
            ever |= set(_json.load(f)["adds"])
    on_disk = {
        f for f in os.listdir(table_dir) if f.endswith(".parquet")
    }
    assert on_disk <= ever


def test_concurrent_disjoint_merges_both_commit(spark, table_dir):
    """Operation-level rebase-on-disjoint: two merges touching
    DISJOINT key ranges (hence disjoint affected-file sets) race from
    the same snapshot — the O_EXCL loser re-validates against the
    winner's head, finds no file overlap, and commits at the next
    version.  Both batches land; nothing is lost or doubled."""
    import threading

    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "low.parquet", [1, 2, 3, 4, 5])
    _write(table_dir, "high.parquet", [100, 101, 102])
    commit_version(table_dir, adds=["low.parquet", "high.parquet"])

    src_low = spark.createDataFrame([(2, -2.0)], "k long, amt double")
    src_high = spark.createDataFrame([(101, -101.0)], "k long, amt double")
    barrier = threading.Barrier(2)
    errs: list[BaseException] = []

    def do(src):
        try:
            barrier.wait()
            merge_into_snapshot(spark, table_dir, src, "k")
        except BaseException as e:  # pragma: no cover - failure path
            errs.append(e)

    ts = [threading.Thread(target=do, args=(s,)) for s in (src_low, src_high)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs  # disjoint writers never conflict, only retry
    got = {
        r["k"]: r["amt"]
        for r in read_snapshot(spark, table_dir).collect()
    }
    assert sorted(got) == [1, 2, 3, 4, 5, 100, 101, 102]
    assert got[2] == -2.0 and got[101] == -101.0  # both batches landed


def test_merge_schema_evolution_widens_and_time_travels(spark, table_dir):
    """allow_evolution=True: extra source columns become an explicit
    widening — recorded in the log, pre-widening files read the new
    column as NULL, time travel serves the narrow schema, and the
    default path still rejects."""
    from survivor_processing_spark.operators.snapshot import table_state
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", [1, 2, 3])
    _write(table_dir, "b.parquet", [10, 11])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])

    wide = spark.createDataFrame(
        [(2, 22.0, "x"), (50, 50.0, "y")],
        "k long, amt double, tag string",
    )
    # default: rejected with the evolve hint
    with pytest.raises(ValueError, match="allow_evolution"):
        merge_into_snapshot(spark, table_dir, wide, "k")
    out = merge_into_snapshot(
        spark, table_dir, wide, "k", allow_evolution=True
    )
    assert out["version"] == 2
    assert table_state(table_dir).schema == [
        ["k", "bigint"], ["amt", "double"], ["tag", "string"]
    ]
    got = {
        r["k"]: (r["amt"], r["tag"])
        for r in read_snapshot(spark, table_dir).collect()
    }
    assert sorted(got) == [1, 2, 3, 10, 11, 50]
    assert got[2] == (22.0, "x") and got[50] == (50.0, "y")
    # UNTOUCHED pre-widening file (b) serves the new column as NULL
    assert got[10] == (10.0, None) and got[11] == (11.0, None)
    # time travel to v1: the narrow schema, no tag column
    v1 = read_snapshot(spark, table_dir, 1)
    assert v1.columns == ["k", "amt"]
    assert v1.count() == 5


def test_evolved_table_survives_later_dml_and_compaction(spark, table_dir):
    """Every later rewrite of a pre-widening file must CARRY the
    evolved column as NULL — merge, delete, zorder, and compaction
    all read with the logged schema, never a narrow footer."""
    from survivor_processing_spark.operators.snapshot import (
        compact_snapshot,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", [1, 2, 3])
    _write(table_dir, "b.parquet", [10, 11])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])
    wide = spark.createDataFrame(
        [(50, 50.0, "y")], "k long, amt double, tag string"
    )
    merge_into_snapshot(spark, table_dir, wide, "k", allow_evolution=True)

    # a second merge touching the PRE-widening file a.parquet: the
    # kept rows and the new row must all carry the tag column
    upd = spark.createDataFrame(
        [(2, -2.0, "z")], "k long, amt double, tag string"
    )
    merge_into_snapshot(spark, table_dir, upd, "k")
    got = {
        r["k"]: (r["amt"], r["tag"])
        for r in read_snapshot(spark, table_dir).collect()
    }
    assert got[2] == (-2.0, "z") and got[1] == (1.0, None)

    # delete from the remaining pre-widening file keeps the schema
    delete_from_snapshot(spark, table_dir, "k", 11, 11)
    df = read_snapshot(spark, table_dir)
    assert df.columns == ["k", "amt", "tag"]
    assert sorted(r["k"] for r in df.collect()) == [1, 2, 3, 10, 50]

    # zorder + compaction over the mixed-schema set keep every column
    zorder_snapshot(spark, table_dir, "k", "k", n_files=2)
    compact_snapshot(spark, table_dir, target_bytes=1 << 20)
    df = read_snapshot(spark, table_dir)
    assert df.columns == ["k", "amt", "tag"]
    got = {r["k"]: r["tag"] for r in df.collect()}
    assert got == {1: None, 2: "z", 3: None, 10: None, 50: "y"}


def test_evolution_schema_survives_expiry(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        expire_snapshots,
        table_state,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", [1, 2])
    commit_version(table_dir, adds=["a.parquet"])               # v1
    wide = spark.createDataFrame(
        [(9, 9.0, "t")], "k long, amt double, tag string"
    )
    merge_into_snapshot(
        spark, table_dir, wide, "k", allow_evolution=True
    )                                                            # v2
    _write(table_dir, "c.parquet", [100])
    commit_version(table_dir, adds=["c.parquet"])                # v3
    _write(table_dir, "d.parquet", [200])
    commit_version(table_dir, adds=["d.parquet"])                # v4
    out = expire_snapshots(table_dir, keep_last=2)
    # the schema-carrying v2 entry expired: the baseline carries it
    assert out["cut_version"] == 3
    assert table_state(table_dir).schema == [
        ["k", "bigint"], ["amt", "double"], ["tag", "string"]
    ]
    df = read_snapshot(spark, table_dir)
    assert df.columns == ["k", "amt", "tag"]


def test_dml_on_evolved_column_tolerates_prewidening_files(spark, table_dir):
    """A merge or delete keyed on a column that some files PREDATE
    (schema evolution) must treat those files as NULL-stat
    unprunable, not crash on the missing footer entry — their rows
    are NULL on the evolved column, match nothing, and survive."""
    from survivor_processing_spark.operators.snapshot import (
        snapshot_zonemap_rows,
        table_state,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", [1, 2, 3])
    commit_version(table_dir, adds=["a.parquet"])
    wide = spark.createDataFrame(
        [(9, 9.0, 100)], "k long, amt double, tag long"
    )
    merge_into_snapshot(spark, table_dir, wide, "k", allow_evolution=True)
    # manifest on the EVOLVED column: the pre-widening file shows a
    # NULL-stat (unprunable) row instead of raising
    zm = snapshot_zonemap_rows(table_state(table_dir), ["tag"])
    stats = {r[0]: r[3] for r in zm}
    assert any(v is None for v in stats.values())
    # delete on the evolved column: only the row that HAS tag=100
    out = delete_from_snapshot(spark, table_dir, "tag", 100, 100)
    assert out["n_deleted"] == 1
    assert _keys(spark, table_dir) == [1, 2, 3]
    # merge keyed on the evolved column also plans cleanly
    src = spark.createDataFrame(
        [(7, 7.0, 200)], "k long, amt double, tag long"
    )
    merge_into_snapshot(spark, table_dir, src, "tag")
    got = read_snapshot(spark, table_dir)
    assert got.filter("tag = 200").count() == 1


def test_vacuum_reclaims_stranded_claim_tmps(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        _log_path,
        log_versions,
        vacuum_orphans,
    )

    _write(table_dir, "a.parquet", [1])
    commit_version(table_dir, adds=["a.parquet"])
    # a writer crashed between staging its entry and the os.link claim
    stranded = os.path.join(
        _log_path(table_dir), "v00000002.json.tmp-deadbeef"
    )
    with open(stranded, "w") as f:
        f.write("{}")
    assert log_versions(table_dir) == [1]  # replay never saw it
    gone = vacuum_orphans(table_dir)
    assert any(g.endswith(".tmp-deadbeef") for g in gone)
    assert not os.path.exists(stranded)
    # grace window spares a FRESH tmp (a live writer mid-claim)
    with open(stranded, "w") as f:
        f.write("{}")
    assert vacuum_orphans(table_dir, grace_seconds=3600.0) == []
    assert os.path.exists(stranded)


def test_zorder_never_commits_empty_parts(spark, tmp_path):
    """Review catch: n_files above the populated z-range bins stages
    0-row parts; committing one plants a NULL-stat manifest entry
    that every later merge/delete treats as affected forever."""
    import pyarrow.parquet as papq

    from survivor_processing_spark.operators.snapshot import (
        commit_version,
        snapshot_files,
        zorder_snapshot,
    )

    d = str(tmp_path)
    _write(d, "a.parquet", [1, 2, 3])
    commit_version(d, adds=["a.parquet"])
    zorder_snapshot(spark, d, "k", "amt", n_files=6)
    for f in snapshot_files(d):
        assert (
            papq.ParquetFile(os.path.join(d, f)).metadata.num_rows > 0
        )
