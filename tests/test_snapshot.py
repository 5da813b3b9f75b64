"""Snapshot log + time travel: replay correctness vs a pure-Python
reference, commit-protocol guards (duplicate add / bogus remove /
torn tmp entries), time-travel reads at every version, the
empty-snapshot schema contract, and the DuckDB summary oracle."""

from __future__ import annotations

import datetime
import os
import random
import shutil
import tempfile

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from survivor_processing_spark.operators.snapshot import (
    commit_version,
    log_versions,
    read_snapshot,
    snapshot_files,
    snapshot_history,
    snapshot_summary,
    snapshot_summary_oracle,
)


def _write(d: str, name: str, keys: list[int]) -> str:
    pq.write_table(
        pa.table({"k": keys, "amt": [float(k) for k in keys]}),
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


def test_commit_replay_roundtrip(table_dir):
    _write(table_dir, "a.parquet", [1, 2])
    _write(table_dir, "b.parquet", [3])
    _write(table_dir, "c.parquet", [4, 5, 6])
    assert commit_version(table_dir, adds=["a.parquet", "b.parquet"]) == 1
    assert commit_version(
        table_dir, adds=["c.parquet"], removes=["a.parquet"]
    ) == 2
    assert snapshot_files(table_dir, 1) == ["a.parquet", "b.parquet"]
    assert snapshot_files(table_dir, 2) == ["b.parquet", "c.parquet"]
    assert snapshot_files(table_dir) == ["b.parquet", "c.parquet"]  # head
    assert log_versions(table_dir) == [1, 2]


def test_commit_guards(table_dir):
    _write(table_dir, "a.parquet", [1])
    commit_version(table_dir, adds=["a.parquet"])
    with pytest.raises(ValueError, match="already-active"):
        commit_version(table_dir, adds=["a.parquet"])
    with pytest.raises(ValueError, match="non-active"):
        commit_version(table_dir, removes=["nope.parquet"])
    with pytest.raises(ValueError, match="empty commit"):
        commit_version(table_dir)
    with pytest.raises(ValueError, match="not in log"):
        snapshot_files(table_dir, 99)
    with pytest.raises(ValueError, match="no snapshot log"):
        snapshot_files(tempfile.mkdtemp(), 1)


def test_torn_tmp_entry_ignored(table_dir):
    _write(table_dir, "a.parquet", [1])
    commit_version(table_dir, adds=["a.parquet"])
    # a crashed writer leaves a .tmp — replay must not see it
    with open(
        os.path.join(table_dir, "_sps_log", "v00000002.json.tmp"), "w"
    ) as f:
        f.write("{ torn")
    assert log_versions(table_dir) == [1]
    assert snapshot_files(table_dir) == ["a.parquet"]


def test_time_travel_reads(spark, table_dir):
    _write(table_dir, "a.parquet", [1, 2])
    _write(table_dir, "b.parquet", [3])
    _write(table_dir, "b2.parquet", [30, 31])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])
    # "compaction" commit: b replaced by b2 in one atomic version
    commit_version(table_dir, adds=["b2.parquet"], removes=["b.parquet"])
    v1 = sorted(r["k"] for r in read_snapshot(spark, table_dir, 1).collect())
    v2 = sorted(r["k"] for r in read_snapshot(spark, table_dir, 2).collect())
    assert v1 == [1, 2, 3]
    assert v2 == [1, 2, 30, 31]
    # the scan schedules EXACTLY the snapshot's files
    got = sorted(
        os.path.basename(f)
        for f in read_snapshot(spark, table_dir, 1).inputFiles()
    )
    assert got == ["a.parquet", "b.parquet"]


def test_empty_snapshot_keeps_schema(spark, table_dir):
    _write(table_dir, "a.parquet", [1, 2])
    commit_version(table_dir, adds=["a.parquet"])
    commit_version(table_dir, removes=["a.parquet"])
    df = read_snapshot(spark, table_dir, 2)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["k", "amt"]


def test_history_shape(spark, table_dir):
    _write(table_dir, "a.parquet", [1])
    _write(table_dir, "b.parquet", [2])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])
    commit_version(table_dir, removes=["a.parquet"])
    rows = [tuple(r) for r in snapshot_history(spark, table_dir).collect()]
    # (version, ts, n_adds, n_removes, n_active) — ts is the commit
    # wall-clock (r11), monotone across the two commits
    assert [(r[0], *r[2:]) for r in rows] == [(1, 2, 0, 2), (2, 0, 1, 1)]
    assert rows[0][1] is not None and rows[0][1] <= rows[1][1]


def test_summary_matches_duckdb_oracle(spark, table_dir):
    _write(table_dir, "a.parquet", [1, 2])
    _write(table_dir, "b.parquet", [3])
    _write(table_dir, "c.parquet", [4, 5])
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])
    commit_version(table_dir, adds=["c.parquet"], removes=["a.parquet"])
    commit_version(table_dir, removes=["b.parquet", "c.parquet"])
    versions = [1, 2, 3]
    got = sorted(
        tuple(r)
        for r in snapshot_summary(
            spark, table_dir, versions, "amt"
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in duckdb.connect()
        .execute(snapshot_summary_oracle(table_dir, versions, "amt"))
        .fetchall()
    )
    assert got == want
    assert got[2] == (3, 0, 0.0)  # the emptied snapshot


# --- copy-on-write MERGE over the snapshot log ------------------------------


def _seed_table(spark, d, ranges):
    """One key-sorted file per range; commit v1 with all of them."""
    names = []
    for i, (lo, hi) in enumerate(ranges):
        nm = f"seed-{i}.parquet"
        pq.write_table(
            pa.table(
                {
                    "k": list(range(lo, hi)),
                    "amt": [float(x) for x in range(lo, hi)],
                }
            ),
            os.path.join(d, nm),
        )
        names.append(nm)
    commit_version(d, adds=names)
    return names


def test_merge_rewrites_only_intersecting_files(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    names = _seed_table(
        spark, table_dir, [(0, 100), (100, 200), (200, 300), (300, 400)]
    )
    # updates hit only [100, 200); inserts land beyond every envelope
    src = spark.createDataFrame(
        [(150, -1.0), (199, -2.0), (999, -3.0)], "k long, amt double"
    )
    out = merge_into_snapshot(spark, table_dir, src, "k")
    assert out["version"] == 2
    assert out["n_affected"] == 1  # only seed-1
    assert out["n_untouched"] == 3
    after = set(snapshot_files(table_dir))
    # copy-on-write minimality: the three untouched files survive
    # BY NAME; the affected one is gone
    assert {"seed-0.parquet", "seed-2.parquet", "seed-3.parquet"} <= after
    assert "seed-1.parquet" not in after
    # table semantics: full upsert
    rows = {
        r["k"]: r["amt"]
        for r in read_snapshot(spark, table_dir).collect()
    }
    assert len(rows) == 401  # 400 seeds + 1 insert
    assert rows[150] == -1.0 and rows[199] == -2.0 and rows[999] == -3.0
    assert rows[149] == 149.0  # unmatched row of the rewritten file
    assert rows[0] == 0.0 and rows[399] == 399.0
    # time travel still serves the PRE-merge table
    v1 = {
        r["k"]: r["amt"]
        for r in read_snapshot(spark, table_dir, 1).collect()
    }
    assert len(v1) == 400 and v1[150] == 150.0 and 999 not in v1


@pytest.mark.parametrize("seed", [0, 1])
def test_merge_random_batches_match_dict_upsert(spark, seed, table_dir):
    """Random disjoint key-range seed files and random update/insert
    batches: the merged snapshot equals a dict upsert of the batches,
    version 1 stays intact, and in the first batch a seed file whose
    key envelope excludes every batch key survives by name."""
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    rng = random.Random(seed)
    d = table_dir
    n_files = rng.randrange(2, 5)
    bounds = sorted(rng.sample(range(0, 400), n_files * 2))
    ranges = [(bounds[2 * i], bounds[2 * i + 1] + 1) for i in range(n_files)]
    names = _seed_table(spark, d, ranges)
    ref = {k: float(k) for lo, hi in ranges for k in range(lo, hi)}
    pre = dict(ref)
    for b in range(rng.randrange(1, 3)):
        batch = {
            rng.randrange(0, 500): float(rng.randrange(-99, 0))
            for _ in range(rng.randrange(1, 12))
        }
        src = spark.createDataFrame(
            sorted(batch.items()), "k long, amt double"
        )
        merge_into_snapshot(spark, d, src, "k")
        ref.update(batch)
        if b == 0:
            still = set(snapshot_files(d))
            for nm, (lo, hi) in zip(names, ranges):
                if not any(lo <= k < hi for k in batch):
                    assert nm in still, (seed, nm, sorted(batch))
    got = {r["k"]: r["amt"] for r in read_snapshot(spark, d).collect()}
    assert got == ref, (seed, ranges)
    v1 = {r["k"]: r["amt"] for r in read_snapshot(spark, d, 1).collect()}
    assert v1 == pre, (seed, ranges)


def test_merge_insert_only_touches_nothing(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50), (50, 100)])
    src = spark.createDataFrame([(5000, 1.0)], "k long, amt double")
    out = merge_into_snapshot(spark, table_dir, src, "k")
    assert out["n_affected"] == 0 and out["n_untouched"] == 2
    assert read_snapshot(spark, table_dir).count() == 101


def test_merge_is_idempotent(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50), (50, 100)])
    src = spark.createDataFrame(
        [(10, -1.0), (60, -2.0)], "k long, amt double"
    )
    merge_into_snapshot(spark, table_dir, src, "k")
    first = sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    )
    merge_into_snapshot(spark, table_dir, src, "k")
    second = sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    )
    assert first == second


def test_merge_guards(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50)])
    dup = spark.createDataFrame(
        [(1, 1.0), (1, 2.0)], "k long, amt double"
    )
    with pytest.raises(ValueError, match=r"not key-unique on 'k' \(e\.g\. 1\)"):
        merge_into_snapshot(spark, table_dir, dup, "k")
    ok = spark.createDataFrame([(1, 1.0)], "k long, amt double")
    with pytest.raises(ValueError, match="ordering mismatch"):
        merge_into_snapshot(spark, table_dir, ok, "k", cast="string")
    with pytest.raises(ValueError, match="unsupported merge key cast"):
        merge_into_snapshot(spark, table_dir, ok, "k", cast="binary")


# --- OPTIMIZE execution: compaction as an atomic snapshot commit -------------


def test_compact_snapshot_merges_small_keeps_large(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        compact_snapshot,
    )

    # 4 small files + 1 big one; target sized so the smalls bin
    # together while the big file anchors its own singleton bin
    for i in range(4):
        _write(table_dir, f"small-{i}.parquet", [i * 10 + j for j in range(3)])
    _write(table_dir, "big.parquet", list(range(1000, 1400)))
    commit_version(
        table_dir,
        adds=[f"small-{i}.parquet" for i in range(4)] + ["big.parquet"],
    )
    before = sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    )
    # target == the big file's size: it fills bin 0 alone, and the
    # smalls pack together into the next bin
    big_bytes = os.path.getsize(os.path.join(table_dir, "big.parquet"))
    out = compact_snapshot(spark, table_dir, target_bytes=big_bytes)
    assert out["version"] == 2
    assert out["n_rewritten"] == 4  # the four smalls
    after_files = snapshot_files(table_dir)
    assert "big.parquet" in after_files  # singleton bin kept BY NAME
    assert len(after_files) < 5
    after = sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    )
    assert after == before  # a layout move, never a data change
    # time travel still serves the fragmented layout
    assert len(snapshot_files(table_dir, 1)) == 5
    # maintenance is idempotent: an already-optimal table no-ops
    again = compact_snapshot(spark, table_dir, target_bytes=big_bytes)
    assert again["version"] is None and again["n_rewritten"] == 0
    assert snapshot_files(table_dir) == after_files


def test_merge_empty_batch_is_noop(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 10)])
    empty = spark.createDataFrame([], "k long, amt double")
    out = merge_into_snapshot(spark, table_dir, empty, "k")
    assert out["version"] is None and out["adds"] == []
    assert snapshot_files(table_dir) == ["seed-0.parquet"]


# --- round-9 ADVICE hardening: key/schema guards, rollback, vacuum ----------


def test_merge_rejects_null_keys(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 10)])
    src = spark.createDataFrame([(None, 1.0), (3, 2.0)], "k long, amt double")
    with pytest.raises(ValueError, match="NULL merge keys"):
        merge_into_snapshot(spark, table_dir, src, "k")
    # nothing was written and no version landed
    assert log_versions(table_dir) == [1]
    assert snapshot_files(table_dir) == ["seed-0.parquet"]


def test_merge_rejects_schema_drift(spark, table_dir):
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 10)])
    extra = spark.createDataFrame(
        [(500, 1.0, "x")], "k long, amt double, junk string"
    )
    # extra columns are REJECTED: a silent drop loses the caller's
    # data, a silent add drifts the table schema
    with pytest.raises(ValueError, match="columns the table lacks"):
        merge_into_snapshot(spark, table_dir, extra, "k")
    assert read_snapshot(spark, table_dir).columns == ["k", "amt"]
    retyped = spark.createDataFrame([(501, 1)], "k long, amt int")
    with pytest.raises(ValueError, match="drift"):
        merge_into_snapshot(spark, table_dir, retyped, "k")
    missing = spark.createDataFrame([(502,)], "k long")
    with pytest.raises(ValueError, match="missing table columns"):
        merge_into_snapshot(spark, table_dir, missing, "k")


def test_merge_failed_commit_rolls_back_files(spark, table_dir, monkeypatch):
    import survivor_processing_spark.operators.snapshot as snap
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50)])
    before = sorted(os.listdir(table_dir))

    def boom(*a, **k):
        raise RuntimeError("injected commit failure")

    monkeypatch.setattr(snap, "commit_version", boom)
    src = spark.createDataFrame([(10, -1.0)], "k long, amt double")
    with pytest.raises(RuntimeError, match="injected"):
        merge_into_snapshot(spark, table_dir, src, "k")
    # the renamed merge-* data files were removed again; the table
    # directory and the snapshot are exactly as before
    assert sorted(os.listdir(table_dir)) == before
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert rows[10] == 10.0


@pytest.fixture(scope="module")
def writer_template(spark):
    """A 4-file table (k 0..199, stats + blooms) with one live
    deletion vector, built once and copied per rollback case."""
    from survivor_processing_spark.operators.mor import (
        delete_from_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import init_snapshot

    root = tempfile.mkdtemp()
    d = os.path.join(root, "t")
    init_snapshot(
        spark,
        d,
        spark.range(0, 200)
        .selectExpr("id as k", "cast(id as double) as amt")
        .repartition(4, "k"),
        stats_cols=["k"],
        bloom_key="k",
    )
    delete_from_snapshot_mor(spark, d, "k", 150, 160)
    yield d
    shutil.rmtree(root, ignore_errors=True)


def _run_writer(spark, writer: str, d: str, scratch: str) -> None:
    from survivor_processing_spark.operators.mor import (
        delete_from_snapshot_mor,
        purge_dvs,
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import (
        compact_snapshot,
        init_snapshot,
        zorder_snapshot,
    )
    from survivor_processing_spark.sinks.merge import (
        delete_from_snapshot,
        merge_into_snapshot,
    )
    from survivor_processing_spark.streaming.lakehouse import (
        stream_into_snapshot,
    )

    # 20 updates of existing keys (some in the DV'd file) + 5 inserts
    batch = spark.createDataFrame(
        [(k, -1.0) for k in list(range(140, 160)) + list(range(900, 905))],
        "k long, amt double",
    )
    if writer == "init_snapshot":
        init_snapshot(spark, d, batch, stats_cols=["k"], bloom_key="k")
    elif writer == "compact_snapshot":
        compact_snapshot(spark, d, target_bytes=1 << 30, stats_cols=["k"])
    elif writer == "zorder_snapshot":
        zorder_snapshot(spark, d, "k", "amt", n_files=2)
    elif writer == "merge_into_snapshot":
        merge_into_snapshot(spark, d, batch, "k")
    elif writer == "stream_into_snapshot":
        stage = os.path.join(scratch, "stage")
        batch.write.parquet(stage)
        q = stream_into_snapshot(
            spark.readStream.schema("k long, amt double").parquet(stage),
            d,
            "k",
            os.path.join(scratch, "ckpt"),
        )
        q.awaitTermination()
    elif writer == "delete_from_snapshot":
        delete_from_snapshot(spark, d, "k", 10, 120)
    elif writer == "delete_from_snapshot_mor":
        delete_from_snapshot_mor(spark, d, "k", 10, 120, shards=2)
    elif writer == "upsert_into_snapshot_mor":
        upsert_into_snapshot_mor(spark, d, batch, "k")
    else:
        assert writer == "purge_dvs"
        purge_dvs(spark, d, stats_cols=["k"], bloom_key="k")


_WRITERS = [
    "init_snapshot",
    "compact_snapshot",
    "zorder_snapshot",
    "merge_into_snapshot",
    "stream_into_snapshot",
    "delete_from_snapshot",
    "delete_from_snapshot_mor",
    "upsert_into_snapshot_mor",
    "purge_dvs",
]


@pytest.mark.parametrize("step", ["stats_for_files", "commit_version"])
@pytest.mark.parametrize("writer", _WRITERS)
def test_writer_failure_leaves_table_unchanged(
    spark, writer_template, monkeypatch, writer, step
):
    """Every snapshot writer lands its files through one rollback
    scope: a failure in the footer-stats step or in the commit itself
    leaves the table directory listing (no staged ``_tmp_*``
    directory, no renamed part, no DV sidecar) and the snapshot
    exactly as they were."""
    import survivor_processing_spark.operators.snapshot as snap

    scratch = tempfile.mkdtemp()
    try:
        d = os.path.join(scratch, "t")
        if writer == "init_snapshot":
            os.makedirs(d)
        else:
            shutil.copytree(writer_template, d)

        def state():
            if not log_versions(d):
                return sorted(os.listdir(d)), None, None
            return (
                sorted(os.listdir(d)),
                snapshot_files(d),
                snap.table_state(d).dvs,
            )

        before = state()

        def boom(*a, **k):
            raise RuntimeError(f"injected {step} failure")

        monkeypatch.setattr(snap, step, boom)
        with pytest.raises(Exception, match=f"injected {step} failure"):
            _run_writer(spark, writer, d, scratch)
        monkeypatch.undo()
        after = state()
        assert not [f for f in after[0] if f.startswith("_tmp_")]
        assert after == before
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_merge_envelope_width_guard(spark, table_dir):
    """cast='int' against a bigint envelope beyond int32: the file's
    envelope is uncastable, so it must count as AFFECTED (update in
    place), never silently unaffected (duplicate insert)."""
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    big = 1 << 40
    _write(table_dir, "huge.parquet", [big + i for i in range(5)])
    commit_version(table_dir, adds=["huge.parquet"])
    src = spark.createDataFrame([(big, -1.0)], "k long, amt double")
    out = merge_into_snapshot(spark, table_dir, src, "k", cast="int")
    assert out["n_affected"] == 1
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert len(rows) == 5  # updated, NOT re-inserted
    assert rows[big] == -1.0


def test_keyed_writers_job_ratchet(spark, table_dir):
    """A warm keyed merge plans on the driver from one collect of the
    source keys: a copy-on-write merge of a small key-unique batch
    into a multi-file table launches at most 3 Spark jobs, and a
    merge-on-read upsert at most 4 into a table without deletion
    vectors and 5 with one live.  A probe that goes back to Spark
    jobs of its own breaks the bound (the probe-based plan launched
    9 each)."""
    import uuid

    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import init_snapshot
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    sc = spark.sparkContext

    def jobs(fn):
        group = f"ratchet-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    def batch(lo, v):
        ks = list(range(lo, lo + 30))
        return spark.createDataFrame(
            pa.table({"k": pa.array(ks, type=pa.int64()), "amt": [v] * 30})
        )

    init_snapshot(
        spark,
        table_dir,
        spark.range(0, 4000)
        .selectExpr("id as k", "cast(id as double) as amt")
        .repartition(4, "k"),
        stats_cols=["k"],
        bloom_key="k",
    )
    merge_into_snapshot(spark, table_dir, batch(100, -1.0), "k")  # warm-up
    cow = jobs(
        lambda: merge_into_snapshot(spark, table_dir, batch(107, -2.0), "k")
    )
    mor = jobs(
        lambda: upsert_into_snapshot_mor(
            spark, table_dir, batch(1000, -3.0), "k"
        )
    )
    # with a live deletion vector (the upsert above left one) the
    # tombstone scan anti-joins it, and its broadcast build side is
    # one more job: one task per live sidecar
    mor_dv = jobs(
        lambda: upsert_into_snapshot_mor(
            spark, table_dir, batch(2000, -4.0), "k"
        )
    )
    assert cow <= 3 and mor <= 4 and mor_dv <= 5, (cow, mor, mor_dv)
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert len(rows) == 4000
    assert rows[100] == -1.0 and rows[107] == -2.0 and rows[1029] == -3.0
    assert rows[2029] == -4.0


def test_vacuum_orphans_removes_only_uncommitted(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import vacuum_orphans

    _seed_table(spark, table_dir, [(0, 10), (10, 20)])
    # retire seed-1 (still referenced by v1 -> must survive vacuum)
    commit_version(table_dir, removes=["seed-1.parquet"])
    # strand an orphan, as a crash between rename and commit would
    _write(table_dir, "merge-dead-00000.parquet", [99])
    gone = vacuum_orphans(table_dir)
    assert gone == ["merge-dead-00000.parquet"]
    assert not os.path.exists(
        os.path.join(table_dir, "merge-dead-00000.parquet")
    )
    # time travel intact: v1 still reads the retired file
    assert read_snapshot(spark, table_dir, 1).count() == 20
    assert read_snapshot(spark, table_dir).count() == 10


# --- round-9: stats-in-commit-log (Delta/Iceberg stats-in-manifest) ---------


def test_commit_stats_replay_and_guard(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        stats_for_files,
        table_state,
    )

    _write(table_dir, "a.parquet", [1, 2, 3])
    _write(table_dir, "b.parquet", [10, 20])
    st = stats_for_files(table_dir, ["a.parquet"], ["k"])
    assert st["a.parquet"]["k"]["vmin"] == "1"
    assert st["a.parquet"]["k"]["vmax"] == "3"
    assert st["a.parquet"]["k"]["ord"] == "numeric"
    # stats for a file the commit does not add are rejected
    with pytest.raises(ValueError, match="does not add"):
        commit_version(
            table_dir, adds=["b.parquet"], stats=st
        )
    commit_version(table_dir, adds=["a.parquet", "b.parquet"], stats=st)
    rec = table_state(table_dir).stats
    assert rec["a.parquet"]["k"]["vmax"] == "3"
    assert rec["b.parquet"] == {}  # add without stats: envelope-less
    # removes drop the file's stats from the replay
    commit_version(table_dir, removes=["a.parquet"])
    assert "a.parquet" not in table_state(table_dir).stats
    # time travel keeps it
    assert "a.parquet" in table_state(table_dir, 1).stats


def test_snapshot_zonemap_log_first_no_footer_reads(spark, table_dir):
    """Files with recorded stats are planned FROM THE LOG: the
    manifest matches the footer builder's rows exactly, and still
    works after the data file's footer is destroyed — the proof no
    footer read happens on the fast path."""
    from survivor_processing_spark.operators.snapshot import (
        snapshot_zonemap_rows,
        stats_for_files,
        table_state,
    )
    from survivor_processing_spark.operators.zonemap import (
        build_zonemap,
        prune_file_rows,
    )

    _write(table_dir, "s0.parquet", list(range(0, 50)))
    _write(table_dir, "s1.parquet", list(range(50, 100)))
    footer = sorted(
        map(tuple, build_zonemap(spark, table_dir, ["k"]).collect())
    )
    commit_version(
        table_dir,
        adds=["s0.parquet", "s1.parquet"],
        stats=stats_for_files(
            table_dir, ["s0.parquet", "s1.parquet"], ["k"]
        ),
    )
    zm = snapshot_zonemap_rows(table_state(table_dir), ["k"])
    assert sorted(zm) == footer
    assert prune_file_rows(zm, "k", 0, 10) == ["s0.parquet"]
    # fast-path proof: truncate a data file's footer; the log-first
    # manifest still serves its envelope (a footer walk would raise)
    p = os.path.join(table_dir, "s1.parquet")
    with open(p, "r+b") as f:
        f.truncate(8)
    zm = snapshot_zonemap_rows(table_state(table_dir), ["k"])
    assert sorted(zm) == footer
    with pytest.raises(Exception):
        build_zonemap(spark, table_dir, ["k"], files=["s1.parquet"]).collect()


def test_snapshot_zonemap_mixed_log_falls_back(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        snapshot_zonemap_rows,
        stats_for_files,
        table_state,
    )
    from survivor_processing_spark.operators.zonemap import build_zonemap

    _write(table_dir, "old.parquet", [1, 2])  # pre-stats commit
    commit_version(table_dir, adds=["old.parquet"])
    _write(table_dir, "new.parquet", [100, 200])
    commit_version(
        table_dir,
        adds=["new.parquet"],
        stats=stats_for_files(table_dir, ["new.parquet"], ["k"]),
    )
    got = sorted(snapshot_zonemap_rows(table_state(table_dir), ["k"]))
    want = sorted(
        map(tuple, build_zonemap(spark, table_dir, ["k"]).collect())
    )
    assert got == want  # fallback keeps mixed logs exactly correct


def test_merge_records_stats_for_its_adds(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import table_state
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50), (50, 100)])
    src = spark.createDataFrame([(10, -1.0)], "k long, amt double")
    out = merge_into_snapshot(spark, table_dir, src, "k")
    rec = table_state(table_dir).stats
    for name in out["adds"]:
        assert rec[name]["k"]["ord"] == "numeric"
        assert int(rec[name]["k"]["vmin"]) >= 0
    # and a second merge (planned log-first over those stats) still
    # upserts correctly
    out2 = merge_into_snapshot(
        spark, table_dir, spark.createDataFrame(
            [(10, -2.0)], "k long, amt double"
        ), "k",
    )
    assert out2["n_affected"] >= 1
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert rows[10] == -2.0 and len(rows) == 100


def test_compact_snapshot_records_stats(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        compact_snapshot,
        table_state,
    )

    for i in range(3):
        _write(table_dir, f"sm-{i}.parquet", [i * 10 + j for j in range(5)])
    commit_version(table_dir, adds=[f"sm-{i}.parquet" for i in range(3)])
    out = compact_snapshot(
        spark, table_dir, target_bytes=10**9, stats_cols=["k"]
    )
    assert out["n_rewritten"] == 3
    rec = table_state(table_dir).stats
    (name,) = out["adds"]
    assert rec[name]["k"]["vmin"] == "0" and rec[name]["k"]["vmax"] == "24"


def test_merge_plans_log_first_without_touching_untouched_footers(
    spark, table_dir
):
    """End-to-end no-footer-read proof AT THE MERGE LEVEL: with key
    envelopes recorded in the log, a merge whose keys miss file B
    never opens B — not its footer, not its data — even when B's
    on-disk bytes are destroyed."""
    from survivor_processing_spark.operators.snapshot import (
        stats_for_files,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "a.parquet", list(range(0, 50)))
    _write(table_dir, "b.parquet", list(range(1000, 1050)))
    commit_version(
        table_dir,
        adds=["a.parquet", "b.parquet"],
        stats=stats_for_files(table_dir, ["a.parquet", "b.parquet"], ["k"]),
    )
    # destroy b's bytes: any footer read (or scan) of it would fail
    with open(os.path.join(table_dir, "b.parquet"), "r+b") as f:
        f.truncate(8)
    src = spark.createDataFrame([(10, -1.0)], "k long, amt double")
    out = merge_into_snapshot(spark, table_dir, src, "k")
    assert out["n_affected"] == 1 and out["n_untouched"] == 1
    assert "b.parquet" in snapshot_files(table_dir)  # survived BY NAME


# --- per-file key blooms in the manifest ------------------------------------


def test_bloom_cuts_merge_on_unsorted_table(spark, table_dir):
    """The case min/max envelopes cannot help: keys INTERLEAVED
    across files, so every envelope spans the whole domain.  With
    recorded blooms, a merge touching keys from one file rewrites
    ONLY that file; envelope-only would rewrite both."""
    from survivor_processing_spark.operators.snapshot import (
        file_key_blooms,
        stats_for_files,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    # evens in one file, odds in the other: identical envelopes
    _write(table_dir, "even.parquet", list(range(0, 200, 2)))
    _write(table_dir, "odd.parquet", list(range(1, 200, 2)))
    stats = stats_for_files(
        table_dir, ["even.parquet", "odd.parquet"], ["k"]
    )
    for f, b in file_key_blooms(
        table_dir, ["even.parquet", "odd.parquet"], "k"
    ).items():
        stats[f]["k"]["bloom"] = b
    commit_version(
        table_dir, adds=["even.parquet", "odd.parquet"], stats=stats
    )
    src = spark.createDataFrame(
        [(40, -1.0), (80, -2.0)], "k long, amt double"  # even keys only
    )
    out = merge_into_snapshot(spark, table_dir, src, "k")
    assert out["n_affected"] == 1  # bloom excluded odd.parquet
    assert "odd.parquet" in snapshot_files(table_dir)  # survived BY NAME
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert len(rows) == 200
    assert rows[40] == -1.0 and rows[80] == -2.0 and rows[41] == 41.0


def test_bloom_build_probe_agree_no_false_negatives(spark, table_dir):
    """Property: every key present in a file MUST hit its recorded
    bloom (no false negatives ever) — merges that update existing
    keys always mark the holding file affected, so repeated merges
    stay idempotent.  Runs the real merge path twice over
    bloom-recorded files."""
    import random

    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    rng = random.Random(99)
    keys = rng.sample(range(10**9), 300)
    _write(table_dir, "r0.parquet", sorted(keys[:150]))
    _write(table_dir, "r1.parquet", sorted(keys[150:]))
    commit_version(table_dir, adds=["r0.parquet", "r1.parquet"])
    # first merge records blooms for ITS new files
    upd1 = spark.createDataFrame(
        [(k, -1.0) for k in keys[:20]], "k long, amt double"
    )
    merge_into_snapshot(spark, table_dir, upd1, "k")
    # second merge updates keys now living in bloom-recorded files:
    # a false negative would INSERT a duplicate instead of updating
    upd2 = spark.createDataFrame(
        [(k, -2.0) for k in keys[:20]], "k long, amt double"
    )
    merge_into_snapshot(spark, table_dir, upd2, "k")
    rows = read_snapshot(spark, table_dir).collect()
    assert len(rows) == 300  # no duplicates ever minted
    vals = {r["k"]: r["amt"] for r in rows}
    assert all(vals[k] == -2.0 for k in keys[:20])


# --- round-9: retention + log compaction (expire_snapshots) -----------------


def test_expire_snapshots_retention_and_reclaim(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        expire_snapshots,
        stats_for_files,
        table_state,
    )

    # v1: a+b (with stats for a), v2: +c -a, v3: +d, v4: -b
    for n, ks in [("a", [1, 2]), ("b", [3]), ("c", [4]), ("d", [5])]:
        _write(table_dir, f"{n}.parquet", ks)
    commit_version(
        table_dir,
        adds=["a.parquet", "b.parquet"],
        stats=stats_for_files(table_dir, ["a.parquet"], ["k"]),
    )
    commit_version(table_dir, adds=["c.parquet"], removes=["a.parquet"])
    commit_version(table_dir, adds=["d.parquet"])
    commit_version(table_dir, removes=["b.parquet"])
    before_head = sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    )
    out = expire_snapshots(table_dir, keep_last=2)
    assert out["cut_version"] == 3 and out["n_expired_versions"] == 2
    # a died before the cut -> reclaimed; b is active AT the cut
    # (removed only at v4, which is retained) -> must survive on disk
    assert out["deleted_files"] == ["a.parquet"]
    assert not os.path.exists(os.path.join(table_dir, "a.parquet"))
    assert os.path.exists(os.path.join(table_dir, "b.parquet"))
    # retained versions replay identically
    assert log_versions(table_dir) == [3, 4]
    assert snapshot_files(table_dir, 3) == [
        "b.parquet", "c.parquet", "d.parquet"
    ]
    assert sorted(
        map(tuple, read_snapshot(spark, table_dir).collect())
    ) == before_head
    # expired versions are gone loudly, not wrongly
    with pytest.raises(ValueError, match="not in log"):
        snapshot_files(table_dir, 1)
    # commits continue from the head as before
    _write(table_dir, "e.parquet", [9])
    assert commit_version(table_dir, adds=["e.parquet"]) == 5
    # carried stats: b had none, the baseline must not invent any
    assert table_state(table_dir, 3).stats["b.parquet"] == {}


def test_expire_snapshots_carries_stats_and_blooms(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        expire_snapshots,
        table_state,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 50), (50, 100)])
    src = spark.createDataFrame([(10, -1.0)], "k long, amt double")
    merge_into_snapshot(spark, table_dir, src, "k")  # v2, stats+bloom
    merge_into_snapshot(
        spark, table_dir,
        spark.createDataFrame([(60, -1.0)], "k long, amt double"), "k",
    )  # v3
    out = expire_snapshots(table_dir, keep_last=1)
    assert out["cut_version"] == 3
    rec = table_state(table_dir).stats
    merged = [f for f in snapshot_files(table_dir) if f.startswith("merge-")]
    assert merged
    for f in merged:
        assert "bloom" in rec[f]["k"]  # blooms survived the expiry
    # and the next merge still plans + upserts correctly over the
    # baseline-carried manifest
    merge_into_snapshot(
        spark, table_dir,
        spark.createDataFrame([(10, -9.0)], "k long, amt double"), "k",
    )
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert rows[10] == -9.0 and len(rows) == 100


def test_expire_snapshots_noop_and_guard(table_dir):
    from survivor_processing_spark.operators.snapshot import (
        expire_snapshots,
    )

    _write(table_dir, "a.parquet", [1])
    commit_version(table_dir, adds=["a.parquet"])
    assert expire_snapshots(table_dir, keep_last=5)["cut_version"] is None
    with pytest.raises(ValueError, match=">= 1"):
        expire_snapshots(table_dir, keep_last=0)


def test_bloom_auto_sizing_scales_with_rows(spark, table_dir):
    """auto sizing: ~10 bits/key clamped to [2^13, 2^17], chosen per
    FILE from the just-measured stats; mixed sizes coexist because
    the probe reads m per row."""
    from survivor_processing_spark.operators.snapshot import table_state
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _seed_table(spark, table_dir, [(0, 10)])
    # big insert-only batch -> one or more new files totalling 5000
    # rows; every new file's m respects the clamp and the 10 bits/key
    # floor for ITS row count
    src = spark.createDataFrame(
        [(1000 + i, float(i)) for i in range(5000)], "k long, amt double"
    )
    out = merge_into_snapshot(spark, table_dir, src, "k")
    rec = table_state(table_dir).stats
    for f in out["adds"]:
        st = rec[f]["k"]
        m = st["bloom"]["m"]
        n = int(st["n_rows"])
        assert 1 << 13 <= m <= 1 << 17
        assert m >= min(1 << 17, 10 * n)  # >= 10 bits/key up to clamp
    # small update -> small file -> floor-clamped m
    out2 = merge_into_snapshot(
        spark, table_dir,
        spark.createDataFrame([(5, -1.0)], "k long, amt double"), "k",
    )
    rec2 = table_state(table_dir).stats
    assert all(rec2[f]["k"]["bloom"]["m"] == 1 << 13 for f in out2["adds"])
    # correctness unchanged
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert rows[5] == -1.0 and len(rows) == 5010


def test_bloom_guards_reject_ragged_and_ignore_corrupt(spark, table_dir):
    from survivor_processing_spark.operators.snapshot import (
        file_key_blooms,
        stats_for_files,
        table_state,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    _write(table_dir, "x.parquet", [1, 2, 3])
    with pytest.raises(ValueError, match="multiple of 64"):
        file_key_blooms(table_dir, ["x.parquet"], "k", num_bits=100)
    # a corrupt (truncated) recorded bloom degrades that file to
    # envelope-only: the merge still finds and updates its keys
    stats = stats_for_files(table_dir, ["x.parquet"], ["k"])
    good = file_key_blooms(table_dir, ["x.parquet"], "k")["x.parquet"]
    good["b64"] = good["b64"][: len(good["b64"]) // 2]  # torn payload
    stats["x.parquet"]["k"]["bloom"] = good
    commit_version(table_dir, adds=["x.parquet"], stats=stats)
    out = merge_into_snapshot(
        spark, table_dir,
        spark.createDataFrame([(2, -1.0)], "k long, amt double"), "k",
    )
    assert out["n_affected"] == 1
    rows = {r["k"]: r["amt"] for r in read_snapshot(spark, table_dir).collect()}
    assert rows[2] == -1.0 and len(rows) == 3
    # the rewrite re-recorded a HEALTHY bloom for its new file
    rec = table_state(table_dir).stats
    for f in out["adds"]:
        b = rec[f]["k"]["bloom"]
        assert len(b["b64"]) > 0 and b["m"] % 64 == 0


# Spark's range and edge values for each key type the driver-side
# bloom build accepts (date: days since the epoch, 0001-01-01 to
# 9999-12-31)
_BLOOM_KEY_TYPES = {
    "bigint": ("int64", -(1 << 63), (1 << 63) - 1),
    "int": ("int32", -(1 << 31), (1 << 31) - 1),
    "smallint": ("int16", -(1 << 15), (1 << 15) - 1),
    "tinyint": ("int8", -(1 << 7), (1 << 7) - 1),
    "date": ("int32", -719162, 2932896),
}


def _bloom_keys(rng, sql_type: str, n: int):
    """0, ±1, the type's extremes and ``n`` random values, as an
    int numpy array of the type's width."""
    import numpy as np

    dt, lo, hi = _BLOOM_KEY_TYPES[sql_type]
    edges = np.array([0, 1, -1, lo, hi], dtype=dt)
    return np.concatenate(
        [edges, rng.integers(lo, hi, n, dtype=dt, endpoint=True)]
    )


def _spark_rows(sql_type: str, keys):
    if sql_type == "date":
        epoch = datetime.date(1970, 1, 1)
        return [(epoch + datetime.timedelta(days=int(k)),) for k in keys]
    return [(int(k),) for k in keys]


@pytest.mark.parametrize("sql_type", sorted(_BLOOM_KEY_TYPES))
def test_positions_np_matches_spark(spark, sql_type):
    """The per-file key blooms are built by bloom.py ``_positions_np``
    on the driver and probed by ``_positions`` in the JVM
    (sinks/merge.py).  Both must give the same positions for every
    key, or the probe reads unset bits and a merge inserts keys a
    file already holds."""
    import numpy as np
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.bloom import (
        _positions,
        _positions_np,
    )

    keys = _bloom_keys(np.random.default_rng(7), sql_type, 3000)
    df = spark.createDataFrame(_spark_rows(sql_type, keys), f"k {sql_type}")
    sizes = [1 << 13, 1 << 16, 1 << 17]
    got = df.select(
        *[
            F.array(*_positions(F.col("k"), m, 3)).alias(f"p{m}")
            for m in sizes
        ]
    ).collect()
    for m in sizes:
        spark_pos = np.array([r[f"p{m}"] for r in got], dtype=np.int64).T
        np.testing.assert_array_equal(
            _positions_np(keys, m, 3), spark_pos, err_msg=f"m={m}"
        )


def _spark_file_key_blooms(spark, table_dir, bits_by_file, key_col, k=3):
    """Reference build, the distributed form the driver-side
    ``file_key_blooms`` replaced: one job reads ``key_col`` of every
    file, explodes the k positions of each non-NULL key (per-row m
    from a file→m map) and ``bit_or``s them per (file, word)."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.bloom import _positions, _powers
    from survivor_processing_spark.operators.snapshot import _pack_words

    names = sorted(bits_by_file)
    entries = ",".join(f"'{f}',{bits_by_file[f]}" for f in names)
    m_expr = F.element_at(F.expr(f"map({entries})"), F.col("_f"))
    pos = (
        spark.read.parquet(*[os.path.join(table_dir, f) for f in names])
        .select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_f"),
            F.col(key_col).alias("_k"),
        )
        .where(F.col("_k").isNotNull())
        .select(
            "_f",
            F.explode(F.array(*_positions(F.col("_k"), m_expr, k))).alias("p"),
        )
    )
    rows = (
        pos.select(
            "_f",
            (F.col("p") / F.lit(64)).cast("int").alias("w"),
            F.element_at(
                _powers(),
                F.col("p").bitwiseAND(F.lit(63)).cast("int") + F.lit(1),
            ).alias("b"),
        )
        .groupBy("_f", "w")
        .agg(F.bit_or("b").alias("word"))
        .collect()
    )
    sparse = {f: {} for f in names}
    for r in rows:
        sparse[r["_f"]][r["w"]] = r["word"]
    return {
        f: {
            "m": bits_by_file[f],
            "k": k,
            "b64": _pack_words(
                [sparse[f].get(w, 0) for w in range(bits_by_file[f] // 64)]
            ),
        }
        for f in names
    }


@pytest.mark.parametrize("sql_type", sorted(_BLOOM_KEY_TYPES))
def test_file_key_blooms_match_spark_build(spark, table_dir, sql_type):
    """The driver-side build logs byte-identical blooms to the
    distributed reference build, per key type, on files with NULL
    keys, a 1-row file, an all-NULL file and mixed per-file m."""
    import numpy as np

    from survivor_processing_spark.operators.snapshot import file_key_blooms

    rng = np.random.default_rng(11)
    atype = pa.date32() if sql_type == "date" else pa.from_numpy_dtype(
        np.dtype(_BLOOM_KEY_TYPES[sql_type][0])
    )

    def put(name, keys):
        pq.write_table(
            pa.table({"k": pa.array(keys, type=atype)}),
            os.path.join(table_dir, name),
        )

    many = _bloom_keys(rng, sql_type, 20000).tolist()
    put("big.parquet", many)
    with_nulls = [
        None if i % 20 == 3 else k
        for i, k in enumerate(_bloom_keys(rng, sql_type, 2000).tolist())
    ]
    put("nulls.parquet", with_nulls)
    put("one.parquet", many[-1:])
    put("empty.parquet", [None, None, None])
    bits = {
        "big.parquet": 1 << 17,
        "nulls.parquet": 1 << 16,
        "one.parquet": 1 << 13,
        "empty.parquet": 64,
    }
    got = file_key_blooms(table_dir, bits, "k")
    assert got == _spark_file_key_blooms(spark, table_dir, bits, "k")


@pytest.mark.parametrize(
    "sql_type,cast,key_of",
    [
        ("string", "string", lambda i: f"key-{i:06d}"),
        ("double", "double", float),
    ],
)
def test_unsupported_key_types_merge_by_envelope(
    spark, table_dir, sql_type, cast, key_of
):
    """A key type without a driver-side hash twin records stats but
    no bloom; copy-on-write merges and merge-on-read upserts over
    those files stay exact, the later ones probing by envelope only."""
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import (
        init_snapshot,
        table_state,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    schema = f"k {sql_type}, v bigint"
    model = {key_of(i): i for i in range(0, 400, 2)}
    init_snapshot(
        spark,
        table_dir,
        spark.createDataFrame(list(model.items()), schema).repartition(3),
        bloom_key="k",
    )

    def apply(writer, ids, v):
        batch = {key_of(i): v + i for i in ids}
        out = writer(
            spark,
            table_dir,
            spark.createDataFrame(list(batch.items()), schema),
            "k",
            cast=cast,
        )
        model.update(batch)
        got = read_snapshot(spark, table_dir).collect()
        assert len(got) == len(model)
        assert {r["k"]: r["v"] for r in got} == model
        return out

    # updates of existing keys plus inserts, through both writers, then
    # a second merge into the files the first merge and upsert wrote
    apply(merge_into_snapshot, list(range(10, 60, 2)) + [401, 403], 1000)
    apply(upsert_into_snapshot_mor, list(range(20, 80, 4)) + [405], 2000)
    apply(merge_into_snapshot, [10, 20, 401, 405, 407], 3000)
    rec = table_state(table_dir).stats
    assert rec and all(
        "n_rows" in st["k"] and "bloom" not in st["k"] for st in rec.values()
    )


def _spark_key_probe(spark, table_dir, source, key_col, cast):
    """Reference plan, the Spark probe ``plan_key_merge`` replaced:
    a broadcast join of the source keys against the log-first
    manifest (``try_cast`` envelopes; a NULL or uncastable bound keeps
    the file), then a test of each surviving key against its file's
    recorded bloom with the Column ``_positions`` at per-row m (a
    missing, undecodable or wrong-size bloom leaves the file
    envelope-only); affected = the distinct files left.  ``source``
    carries a ``case`` column, so one job plans many sources:
    returns ``{case: sorted affected files}``."""
    import base64
    import struct

    import pyspark.sql.functions as F

    from survivor_processing_spark.functions.localrel import local_rows_df
    from survivor_processing_spark.operators.bloom import _positions, _powers
    from survivor_processing_spark.operators.snapshot import (
        snapshot_zonemap_rows,
        table_state,
    )

    state = table_state(table_dir)
    rec = state.stats
    zm = local_rows_df(
        spark,
        snapshot_zonemap_rows(state, [key_col]),
        "file string, col string, n_rows long, "
        "vmin string, vmax string, ord string",
    )
    cmin = F.expr(f"try_cast(vmin as {cast})")
    cmax = F.expr(f"try_cast(vmax as {cast})")
    cand = source.select("case", F.col(key_col).alias("_k")).join(
        F.broadcast(zm),
        F.col("vmin").isNull()
        | cmin.isNull()
        | cmax.isNull()
        | ((cmin <= F.col("_k")) & (cmax >= F.col("_k"))),
        "inner",
    )
    brows = []
    for fname in sorted(rec):
        b = rec[fname].get(key_col, {}).get("bloom")
        if not (isinstance(b, dict) and b.get("k") == 3 and b.get("m")):
            continue
        try:
            raw = base64.b64decode(b["b64"])
            words = [
                struct.unpack(">q", raw[i : i + 8])[0]
                for i in range(0, len(raw), 8)
            ]
        except Exception:
            continue
        if len(words) * 64 == int(b["m"]):
            brows.append((fname, int(b["m"]), words))
    if brows:
        bm = local_rows_df(
            spark, brows, "file string, m long, words array<long>"
        )

        def bit_set(p):
            word = F.element_at(
                F.col("words"), (p / F.lit(64)).cast("int") + F.lit(1)
            )
            mask = F.element_at(
                _powers(), p.bitwiseAND(F.lit(63)).cast("int") + F.lit(1)
            )
            return word.bitwiseAND(mask) != F.lit(0)

        member = None
        for p in _positions(F.col("_k"), F.col("m"), 3):
            member = bit_set(p) if member is None else member & bit_set(p)
        cand = cand.join(F.broadcast(bm), "file", "left").where(
            F.col("m").isNull() | member
        )
    out = {}
    for r in cand.select("case", "file").distinct().collect():
        out.setdefault(r["case"], []).append(r["file"])
    return {c: sorted(fs) for c, fs in out.items()}


# key type -> (arrow type, merge cast, key of an int)
_PLAN_KEY_TYPES = {
    "bigint": (pa.int64(), "bigint", int),
    "int": (pa.int32(), "int", int),
    "smallint": (pa.int16(), "smallint", int),
    "tinyint": (pa.int8(), "tinyint", lambda i: i - 60),
    "date": (
        pa.date32(),
        "date",
        lambda i: datetime.date(2000, 1, 1) + datetime.timedelta(days=i),
    ),
    # 1-, 2- and 3-byte UTF-8 characters: envelopes hold multi-byte
    # bounds, and byte order is not the digit order of the generator
    "string": (
        pa.string(),
        "string",
        lambda i: "".join("aZé中0"[(i + 50) // 5**j % 5] for j in range(4)),
    ),
    "double": (pa.float64(), "double", lambda i: i * 0.37 - 20),
}


def _plan_table(table_dir, sql_type, rng, n_files=6):
    """``n_files`` files over keys 0..119 (as ``sql_type``): half are
    contiguous ranges, half scatter over the whole domain; blooms at
    mixed m, one torn, one recorded at the wrong m, and one file whose
    stats carry no envelope.  Returns ``{file: set of int keys}``."""
    from survivor_processing_spark.operators.snapshot import (
        file_key_blooms,
        stats_for_files,
    )

    atype, _cast, key_of = _PLAN_KEY_TYPES[sql_type]
    held = {}
    for i in range(n_files):
        if i % 2:
            ks = rng.sample(range(120), 20)
        else:
            lo = rng.randrange(0, 100)
            ks = list(range(lo, lo + rng.randrange(3, 20)))
        name = f"p{i}.parquet"
        pq.write_table(
            pa.table({"k": pa.array([key_of(k) for k in ks], type=atype)}),
            os.path.join(table_dir, name),
        )
        held[name] = set(ks)
    names = sorted(held)
    stats = stats_for_files(table_dir, names, ["k"])
    sizes = [256, 1024, 1 << 13, 1 << 14]
    blooms = file_key_blooms(
        table_dir, {f: rng.choice(sizes) for f in names}, "k"
    )
    for f, b in blooms.items():
        stats[f]["k"]["bloom"] = b
    if blooms:
        stats["p1.parquet"]["k"]["bloom"]["b64"] = blooms["p1.parquet"][
            "b64"
        ][:20]
        stats["p3.parquet"]["k"]["bloom"]["m"] *= 2
    stats["p5.parquet"]["k"].update(vmin=None, vmax=None, ord=None)
    commit_version(table_dir, adds=names, stats=stats)
    return held


def _plan_cases(spark, table_dir, sql_type, cases, cast=None):
    """``(driver plan, Spark probe)`` affected files per source in
    ``cases`` (lists of int ids, keyed as ``sql_type``)."""
    from survivor_processing_spark.operators.snapshot import table_state
    from survivor_processing_spark.sinks.merge import plan_key_merge

    atype, base, key_of = _PLAN_KEY_TYPES[sql_type]
    cast = cast or base

    def frame(cols):
        # an Arrow-built frame is a local relation: no Python workers
        return spark.createDataFrame(pa.table(cols))

    want = _spark_key_probe(
        spark,
        table_dir,
        frame(
            {
                "case": [c for c, ids in enumerate(cases) for _ in ids],
                "k": pa.array(
                    [key_of(i) for ids in cases for i in ids], type=atype
                ),
            }
        ),
        "k",
        cast,
    )
    out = []
    for c, ids in enumerate(cases):
        src = frame({"k": pa.array([key_of(i) for i in ids], type=atype)})
        n, got = plan_key_merge(table_state(table_dir), src, "k", cast)
        assert n == len(ids)
        out.append((got, want.get(c, [])))
    return out


@pytest.mark.parametrize("sql_type", sorted(_PLAN_KEY_TYPES))
def test_plan_key_merge_matches_spark_probe(spark, sql_type):
    """The driver-side plan against the Spark probe it replaced, on
    a seeded family of about 200 source keys x 6 files per key type:
    never a file fewer, and the same files wherever the driver
    compares bounds exactly (all but doubles).  A source NaN keeps
    every file (parquet stats leave NaN out)."""
    rng = random.Random(sql_type)
    for _ in range(2):
        d = tempfile.mkdtemp()
        try:
            held = _plan_table(d, sql_type, rng)
            every = set().union(*held.values())
            # keys just outside each file (held by no file), and each
            # range file's own bounds alone
            edges = sorted(
                {k for ks in held.values() for k in (min(ks) - 1, max(ks) + 1)}
                - every
            )
            cases = [rng.sample(range(-60, 180), 200), edges] + [
                [k] for f, ks in sorted(held.items())[::2] for k in (min(ks), max(ks))
            ]
            for ids, (got, want) in zip(
                cases, _plan_cases(spark, d, sql_type, cases)
            ):
                assert set(got) >= set(want), (sql_type, ids)
                if sql_type != "double":
                    assert got == want, (sql_type, ids)
                # no false negatives against the files' real contents
                hit = {f for f, ks in held.items() if ks & set(ids)}
                assert hit <= set(got), (sql_type, ids)
        finally:
            shutil.rmtree(d, ignore_errors=True)
    if sql_type == "double":
        d = tempfile.mkdtemp()
        try:
            _plan_table(d, sql_type, rng)
            src = spark.createDataFrame([(float("nan"),), (1.0,)], "k double")
            from survivor_processing_spark.operators.snapshot import (
                table_state,
            )
            from survivor_processing_spark.sinks.merge import plan_key_merge

            assert plan_key_merge(
                table_state(d), src, "k", "double"
            )[1] == sorted(snapshot_files(d))
        finally:
            shutil.rmtree(d, ignore_errors=True)


def test_plan_key_merge_width_guard_matches_spark_probe(spark, table_dir):
    """cast='int' over bigint envelopes: a bound beyond int32 is NULL
    to ``try_cast``, so its file is probed by its bloom alone — on
    both sides, whether or not the bloom admits a source key."""
    from survivor_processing_spark.operators.snapshot import (
        file_key_blooms,
        stats_for_files,
    )

    big = 1 << 40
    files = {
        "small.parquet": list(range(100)),
        "huge.parquet": [big + i for i in range(5)],
        "straddle.parquet": [7, big + 9],
    }
    for f, ks in files.items():
        _write(table_dir, f, ks)
    stats = stats_for_files(table_dir, sorted(files), ["k"])
    for f, b in file_key_blooms(table_dir, sorted(files), "k").items():
        stats[f]["k"]["bloom"] = b
    commit_version(table_dir, adds=sorted(files), stats=stats)
    cases = [[3, 500], [big + 2], [big + 9, 1000], [-5]]
    for ids, (got, want) in zip(
        cases, _plan_cases(spark, table_dir, "bigint", cases, cast="int")
    ):
        assert got == want, ids
        assert {f for f, ks in files.items() if set(ks) & set(ids)} <= set(
            got
        )


def test_expire_crash_window_cannot_resurrect_removed_files(spark, table_dir):
    """Simulate the crash between the baseline rewrite and the
    expired-entry deletion: restore the expired entries NEXT TO the
    baseline and replay — a file the cut version removed must stay
    removed (the baseline's explicit removes defeat the union), and
    every retained version replays identically."""
    import json as _json

    from survivor_processing_spark.operators.snapshot import (
        _entry_path,
        expire_snapshots,
    )

    for n, ks in [("a", [1]), ("b", [2]), ("c", [3]), ("d", [4])]:
        _write(table_dir, f"{n}.parquet", ks)
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])   # v1
    commit_version(table_dir, adds=["c.parquet"],
                   removes=["a.parquet"])                        # v2 (cut)
    commit_version(table_dir, adds=["d.parquet"])                # v3
    # stash the entries that expiry will delete
    stash = {
        v: open(_entry_path(table_dir, v)).read() for v in (1,)
    }
    out = expire_snapshots(table_dir, keep_last=2)
    assert out["cut_version"] == 2 and out["deleted_files"] == ["a.parquet"]
    want_v2 = snapshot_files(table_dir, 2)
    want_v3 = snapshot_files(table_dir, 3)
    assert "a.parquet" not in want_v2
    # baseline carries the explicit remove
    with open(_entry_path(table_dir, 2)) as f:
        base = _json.load(f)
    assert base["removes"] == ["a.parquet"] and base.get("baseline")
    # recreate the crash window: old v1 entry coexists with baseline
    for v, payload in stash.items():
        with open(_entry_path(table_dir, v), "w") as f:
            f.write(payload)
    assert snapshot_files(table_dir, 2) == want_v2   # no resurrection
    assert snapshot_files(table_dir, 3) == want_v3


def test_commit_conflict_two_writers_never_clobber(table_dir):
    """VERDICT r09 #4: interleaved commits produce v and v+1 — the
    O_EXCL claim turns a silent last-write-win into a retry."""
    import threading

    from survivor_processing_spark.operators.snapshot import table_state

    _write(table_dir, "a.parquet", [1])
    _write(table_dir, "b.parquet", [2])
    _write(table_dir, "c.parquet", [3])
    commit_version(table_dir, adds=["a.parquet"])  # v1
    barrier = threading.Barrier(2)
    got: dict[str, int] = {}
    errs: list[BaseException] = []

    def writer(name: str) -> None:
        try:
            barrier.wait()
            got[name] = commit_version(table_dir, adds=[name])
        except BaseException as e:  # pragma: no cover - failure path
            errs.append(e)

    ts = [
        threading.Thread(target=writer, args=(n,))
        for n in ("b.parquet", "c.parquet")
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert sorted(got.values()) == [2, 3]
    assert log_versions(table_dir) == [1, 2, 3]
    assert snapshot_files(table_dir) == ["a.parquet", "b.parquet", "c.parquet"]
    # both entries are intact (neither clobbered the other's payload)
    assert set(table_state(table_dir).stats) == {
        "a.parquet", "b.parquet", "c.parquet"
    }


def test_lost_claim_with_read_set_recommits_at_next_version(
    table_dir, monkeypatch
):
    """A writer that declares its read set (``planned_version``) and
    attaches deletion vectors loses the ``os.link`` claim to a
    disjoint commit: it must re-scan the new entry, find no conflict
    and land at the next version — not crash on the retry."""
    import os as _os

    from survivor_processing_spark.operators.snapshot import table_state

    for n, ks in [("a", [1]), ("b", [2]), ("c", [3]), ("d", [4])]:
        _write(table_dir, f"{n}.parquet", ks)
    commit_version(table_dir, adds=["a.parquet", "b.parquet"])  # v1
    real_link = _os.link
    raced: list[int] = []
    armed = [True]

    def link_losing_once(src, dst):
        if not armed:
            return real_link(src, dst)
        # a disjoint writer claims the version first
        armed.clear()
        raced.append(commit_version(table_dir, adds=["d.parquet"]))
        raise FileExistsError(dst)

    monkeypatch.setattr(_os, "link", link_losing_once)
    v = commit_version(
        table_dir,
        adds=["c.parquet"],
        dv_adds={"dv-x.parquet": ["a.parquet"]},
        planned_version=1,
    )
    assert raced == [2] and v == 3
    st = table_state(table_dir)
    assert st.version == 3
    assert st.active == {"a.parquet", "b.parquet", "c.parquet", "d.parquet"}
    assert st.dvs == {"dv-x.parquet": ["a.parquet"]}


def test_commit_conflict_claim_is_exclusive(table_dir):
    """The claim primitive itself: a pre-existing version file makes
    the commit retry PAST it (never overwrite), and a semantic
    conflict discovered on re-validation raises."""
    import json as _json

    from survivor_processing_spark.operators.snapshot import _entry_path

    _write(table_dir, "a.parquet", [1])
    _write(table_dir, "b.parquet", [2])
    commit_version(table_dir, adds=["a.parquet"])  # v1
    # simulate another writer having claimed v2 with a valid entry
    foreign = {"version": 2, "adds": ["b.parquet"], "removes": []}
    with open(_entry_path(table_dir, 2), "w") as f:
        _json.dump(foreign, f)
    # our add of b.parquet now re-validates as already-active: raises
    with pytest.raises(ValueError, match="already-active"):
        commit_version(table_dir, adds=["b.parquet"])
    # a non-conflicting add lands at v3, leaving the foreign v2 intact
    _write(table_dir, "c.parquet", [3])
    assert commit_version(table_dir, adds=["c.parquet"]) == 3
    with open(_entry_path(table_dir, 2)) as f:
        assert _json.load(f) == foreign


def test_file_stats_reset_on_remove_and_readd(table_dir):
    """ADVICE r09 (medium): a name added-with-stats, removed, then
    re-added with different content and NO new stats must NOT inherit
    the dead add's envelope — stale stats would let a prune skip a
    file that matches."""
    from survivor_processing_spark.operators.snapshot import table_state

    _write(table_dir, "a.parquet", [1, 2])
    st = {
        "a.parquet": {
            "k": {"n_rows": 2, "vmin": "1", "vmax": "2", "ord": "numeric"}
        }
    }
    commit_version(table_dir, adds=["a.parquet"], stats=st)      # v1
    commit_version(table_dir, removes=["a.parquet"])             # v2
    # same NAME, new content (9..10), re-added without stats
    _write(table_dir, "a.parquet", [9, 10])
    commit_version(table_dir, adds=["a.parquet"])                # v3
    assert table_state(table_dir).stats == {"a.parquet": {}}  # envelope gone
    # time travel still sees the original stats at v1
    assert table_state(table_dir, 1).stats == st


def test_vacuum_grace_window_spares_fresh_files(table_dir):
    from survivor_processing_spark.operators.snapshot import vacuum_orphans

    _write(table_dir, "a.parquet", [1])
    commit_version(table_dir, adds=["a.parquet"])
    _write(table_dir, "fresh_orphan.parquet", [9])  # mtime = now
    assert vacuum_orphans(table_dir, grace_seconds=3600.0) == []
    assert os.path.exists(os.path.join(table_dir, "fresh_orphan.parquet"))
    assert vacuum_orphans(table_dir) == ["fresh_orphan.parquet"]
