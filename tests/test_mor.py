"""Merge-on-read deletion vectors + change data feed
(operators/mor.py): sidecar-only DELETE commits, DV-aware reads at
every version, purge/compaction/zorder/COW interplay (a rewrite must
never resurrect DV-deleted rows and retires the coverage it folds),
lifecycle safety (vacuum/expire treat sidecars as referenced), and
the CDF's insert/delete/skip contract — cross-checked against DuckDB
``file_row_number`` as the independent position oracle."""

from __future__ import annotations

import json
import os
import random
import shutil
import tempfile

import duckdb
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
    checkpoint_snapshot,
    commit_version,
    compact_snapshot,
    expire_snapshots,
    read_snapshot,
    snapshot_files,
    table_state,
    vacuum_orphans,
    zorder_snapshot,
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
    d = tempfile.mkdtemp(prefix="sps_mor_")
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


def test_mor_delete_is_sidecar_only_and_exact(spark, tbl):
    before = set(snapshot_files(tbl))
    out = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    assert out["version"] == 2
    assert out["n_deleted"] == 21
    assert out["n_files_covered"] == 2  # f0, f1 envelopes intersect
    assert out["n_untouched"] == 1
    # zero data files rewritten: the active set is IDENTICAL
    assert set(snapshot_files(tbl)) == before
    # the head read drops exactly [40, 60]; NULL key survives
    ks = _keys(spark, tbl)
    assert None in ks
    assert 39 in ks and 61 in ks
    assert all(not (40 <= k <= 60) for k in ks if k is not None)
    assert len(ks) == 151 - 21
    # time travel to v1 still serves the pre-delete rows
    assert len(_keys(spark, tbl, 1)) == 151


def test_mor_delete_positions_match_duckdb(spark, tbl):
    out = delete_from_snapshot_mor(spark, tbl, "k", 10, 25)
    dv = os.path.join(tbl, out["dv"])
    got = sorted(
        (r["file"], r["pos"])
        for r in spark.read.parquet(dv).collect()
    )
    want = duckdb.sql(
        f"SELECT parse_filename(filename) AS f, file_row_number AS p "
        f"FROM read_parquet(['{tbl}/f0.parquet'], filename=true,"
        f" file_row_number=true) WHERE k BETWEEN 10 AND 25 ORDER BY 1, 2"
    ).fetchall()
    assert got == [(f, p) for f, p in want]


def test_mor_redelete_is_noop_and_overlap_counts_live_only(spark, tbl):
    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    out2 = delete_from_snapshot_mor(spark, tbl, "k", 55, 70)
    assert out2["n_deleted"] == 10  # 61..70 — 55..60 already dead
    again = delete_from_snapshot_mor(spark, tbl, "k", 40, 70)
    assert again["version"] is None and again["n_deleted"] == 0
    assert again["dv"] is None
    # a no-op leaves no sidecar behind
    assert not [
        f for f in os.listdir(tbl)
        if f.startswith("dv-") and f not in table_state(tbl).dvs
    ]
    assert len(_keys(spark, tbl)) == 151 - 31


def test_mor_delete_prunes_by_envelope(spark, tbl):
    # range entirely inside f2's envelope: only f2 is covered, and
    # the untouched count proves f0/f1 never entered the scan set
    out = delete_from_snapshot_mor(spark, tbl, "k", 120, 130)
    assert out["n_files_covered"] == 1
    assert out["n_untouched"] == 2
    assert table_state(tbl).dvs == {out["dv"]: ["f2.parquet"]}


def test_purge_rewrites_only_covered_files(spark, tbl):
    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    pre = _keys(spark, tbl)
    out = purge_dvs(spark, tbl, stats_cols=["k"])
    assert out["n_rewritten"] == 2 and out["n_untouched"] == 1
    assert table_state(tbl).dvs == {}
    # physical content identical to the MOR view, before and after
    assert _keys(spark, tbl) == pre
    # untouched file survives by NAME; covered files are gone
    active = set(snapshot_files(tbl))
    assert "f2.parquet" in active
    assert "f0.parquet" not in active and "f1.parquet" not in active
    # pre-purge versions still read DV-filtered (sidecar retained)
    assert _keys(spark, tbl, 2) == pre
    # purge on a clean table is a no-op
    assert purge_dvs(spark, tbl)["version"] is None


def test_fully_deleted_file_purges_to_removal(spark, tbl):
    # every row of f1 dies; purge must drop the empty replacement
    delete_from_snapshot_mor(spark, tbl, "k", 50, 99)
    out = purge_dvs(spark, tbl)
    assert "f1.parquet" not in set(snapshot_files(tbl))
    assert len(_keys(spark, tbl)) == 101
    assert all(
        pq.ParquetFile(os.path.join(tbl, a)).metadata.num_rows > 0
        for a in out["adds"]
    )


def test_zorder_applies_and_retires_dvs(spark, tbl):
    delete_from_snapshot_mor(spark, tbl, "k", 0, 9)
    pre = _keys(spark, tbl)
    zorder_snapshot(spark, tbl, "k", "amt", n_files=2)
    assert table_state(tbl).dvs == {}
    assert _keys(spark, tbl) == pre  # no resurrection


def test_compaction_applies_dvs_and_keeps_lone_coverage(spark, tbl):
    delete_from_snapshot_mor(spark, tbl, "k", 45, 55)  # covers f0+f1
    pre = _keys(spark, tbl)
    # bin f0+f1 together, leave f2 alone: the rewritten bin folds its
    # DV rows in; a lone DV'd file would keep its coverage instead
    sizes = {
        f: os.path.getsize(os.path.join(tbl, f))
        for f in snapshot_files(tbl)
    }
    target = sizes["f0.parquet"] + sizes["f1.parquet"] + 1
    out = compact_snapshot(spark, tbl, target_bytes=target)
    assert out["version"] is not None
    assert _keys(spark, tbl) == pre
    # whichever files were binned together lost their coverage; the
    # replay can only retain coverage for files still active
    for cov in table_state(tbl).dvs.values():
        assert set(cov) <= set(snapshot_files(tbl))


def test_cow_delete_and_merge_do_not_resurrect(spark, tbl):
    from survivor_processing_spark.sinks.merge import (
        delete_from_snapshot,
        merge_into_snapshot,
    )

    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    # COW delete of an overlapping range: deleted rows stay deleted,
    # and n_deleted counts only live rows
    out = delete_from_snapshot(spark, tbl, "k", 55, 70)
    assert out["n_deleted"] == 10
    ks = _keys(spark, tbl)
    assert all(not (40 <= k <= 70) for k in ks if k is not None)
    # COW merge rewriting a DV-covered file: the dead rows must not
    # ride the rewrite back in
    src = spark.createDataFrame([(45, 999.0)], "k long, amt double")
    merge_into_snapshot(spark, tbl, src, "k")
    ks2 = _keys(spark, tbl)
    assert 45 in ks2  # the upsert row
    assert all(
        not (40 <= k <= 70) or k == 45 for k in ks2 if k is not None
    )


def test_vacuum_and_expire_keep_referenced_sidecars(spark, tbl):
    out = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    dv = out["dv"]
    assert dv not in vacuum_orphans(tbl)
    assert os.path.exists(os.path.join(tbl, dv))
    # expire down to the head: the baseline must carry the coverage
    # (deleted rows stay deleted) and keep the sidecar on disk
    pre = _keys(spark, tbl)
    out = expire_snapshots(tbl, keep_last=1)
    assert out["cut_version"] == 2
    assert _keys(spark, tbl) == pre
    assert table_state(tbl).dvs == {dv: ["f0.parquet", "f1.parquet"]}
    assert os.path.exists(os.path.join(tbl, dv))


def test_expire_collects_dead_sidecars_after_purge(spark, tbl):
    out = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    dv = out["dv"]
    purge_dvs(spark, tbl)
    # while pre-purge versions are retained the sidecar must stay
    expire_snapshots(tbl, keep_last=2)
    assert os.path.exists(os.path.join(tbl, dv))
    # once every referencing version expires, the sidecar is garbage
    gone = expire_snapshots(tbl, keep_last=1)
    assert dv in gone["deleted_files"]
    assert not os.path.exists(os.path.join(tbl, dv))
    assert table_state(tbl).dvs == {}


def test_commit_validation_rejects_bad_dvs(tbl):
    with pytest.raises(ValueError, match="not active"):
        commit_version(tbl, dv_adds={"dv-x.parquet": ["ghost.parquet"]})
    with pytest.raises(ValueError, match="empty coverage"):
        commit_version(tbl, dv_adds={"dv-x.parquet": []})
    with pytest.raises(ValueError, match="flat"):
        commit_version(tbl, dv_adds={"a/dv.parquet": ["f0.parquet"]})
    # coverage of a file removed in the same commit
    with pytest.raises(ValueError, match="not active"):
        commit_version(
            tbl,
            removes=["f0.parquet"],
            dv_adds={"dv-x.parquet": ["f0.parquet"]},
        )
    # sidecar name reuse (replay keys on names)
    commit_version(tbl, dv_adds={"dv-x.parquet": ["f0.parquet"]})
    with pytest.raises(ValueError, match="already used"):
        commit_version(tbl, dv_adds={"dv-x.parquet": ["f1.parquet"]})


def test_readd_of_removed_name_sheds_old_coverage(spark, tbl):
    delete_from_snapshot_mor(spark, tbl, "k", 0, 4)
    commit_version(tbl, removes=["f0.parquet"])
    # re-add the NAME with different content: the dead DV must not
    # re-attach (positions 0-4 of the new file are live rows)
    _write(tbl, "f0b.parquet", list(range(200, 210)))
    os.replace(
        os.path.join(tbl, "f0b.parquet"), os.path.join(tbl, "f0.parquet")
    )
    commit_version(tbl, adds=["f0.parquet"])
    assert table_state(tbl).dvs == {}
    ks = _keys(spark, tbl)
    assert 200 in ks and len([k for k in ks if k is not None]) == 110


def test_table_changes_feed(spark, tbl):
    v2 = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)["version"]
    v3 = delete_from_snapshot_mor(spark, tbl, "k", 55, 70)["version"]
    v4 = purge_dvs(spark, tbl)["version"]
    tc = table_changes(spark, tbl, 0, v4)
    agg = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in tc.groupBy("_commit_version", "_change_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # v1 inserts everything, each delete emits exactly the newly-dead
    # rows, and the purge (data_change=False) contributes NOTHING
    assert agg == {(1, "insert"): 151, (v2, "delete"): 21, (v3, "delete"): 10}
    # the delete images carry the ROW VALUES, not just counts
    dead = sorted(
        r["k"]
        for r in tc.filter(
            (tc["_commit_version"] == v2) & (tc["_change_type"] == "delete")
        ).collect()
    )
    assert dead == list(range(40, 61))
    # an incremental consumer resuming from v2 sees only v3's delta
    inc = table_changes(spark, tbl, v2, v4)
    assert sorted(r["k"] for r in inc.collect()) == list(range(61, 71))
    # a range holding only the purge commit is an EMPTY feed with the
    # full schema
    empty = table_changes(spark, tbl, v3, v4)
    assert empty.count() == 0
    assert empty.columns == ["k", "amt", "_change_type", "_commit_version"]


def test_table_changes_removed_file_image_applies_parent_dvs(spark, tbl):
    # delete some of f1 via DV, then drop f1 entirely: the remove's
    # delete image must contain only the rows still live at the
    # parent version — emitting the DV'd rows twice would double-count
    delete_from_snapshot_mor(spark, tbl, "k", 50, 59)
    commit_version(tbl, removes=["f1.parquet"])
    tc = table_changes(spark, tbl, 2, 3)
    dead = sorted(r["k"] for r in tc.collect())
    assert dead == list(range(60, 100))


def test_table_changes_validates_range(spark, tbl):
    with pytest.raises(ValueError, match="not in log"):
        table_changes(spark, tbl, 0, 99)
    with pytest.raises(ValueError, match="v_from < v_to"):
        table_changes(spark, tbl, 1, 1)


def test_mor_read_zero_overhead_without_dvs(spark, tbl):
    # the DV-aware read path must keep the bare-scan plan when no DVs
    # are live: no join operator anywhere in the plan
    plan = read_snapshot(spark, tbl)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    delete_from_snapshot_mor(spark, tbl, "k", 0, 5)
    plan2 = (
        read_snapshot(spark, tbl)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan2 and "LeftAnti" in plan2


def test_data_change_flag_round_trips(tbl):
    commit_version(tbl, removes=["f2.parquet"], data_change=False)
    with open(os.path.join(tbl, "_sps_log", "v00000002.json")) as f:
        e = json.load(f)
    assert e["data_change"] is False
    with open(os.path.join(tbl, "_sps_log", "v00000001.json")) as f:
        assert "data_change" not in json.load(f)


def test_stream_ingest_composes_with_mor_delete(spark, tmp_path):
    """The standing production shape: stream commits, a MOR delete
    lands between batches, and a LATER batch's COW merge rewrites a
    DV-covered file — deleted keys must stay gone unless the stream
    itself re-upserts them, and the rewrite retires the coverage it
    folds."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.streaming.lakehouse import (
        stream_into_snapshot,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("amt")
    )
    base.coalesce(1).write.parquet(src + "/b0")
    part = next(
        p for p in sorted(os.listdir(src + "/b0")) if p.endswith(".parquet")
    )
    os.rename(f"{src}/b0/{part}", f"{src}/b0.parquet")
    shutil.rmtree(src + "/b0", ignore_errors=True)
    tbl = str(tmp_path / "tbl")
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_into_snapshot(stream, tbl, "k", str(tmp_path / "ck1"))
    q.awaitTermination()
    assert read_snapshot(spark, tbl).count() == 100
    # maintenance between batches: MOR-delete a key range
    out = delete_from_snapshot_mor(spark, tbl, "k", 10, 29)
    assert out["n_deleted"] == 20 and table_state(tbl).dvs
    # a later batch upserts SOME deleted keys (20..24) and new ones
    upd = spark.range(20, 30).select(
        F.col("id").alias("k"), F.lit(-5.0).alias("amt")
    ).filter("k < 25").union(
        spark.range(200, 205).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("amt")
        )
    )
    upd.coalesce(1).write.parquet(src + "/b1")
    part = next(
        p for p in sorted(os.listdir(src + "/b1")) if p.endswith(".parquet")
    )
    os.rename(f"{src}/b1/{part}", f"{src}/b1.parquet")
    shutil.rmtree(src + "/b1", ignore_errors=True)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # SAME checkpoint: only the new file processes.  (A fresh
    # checkpoint would replay b0 too, whose re-merge legitimately
    # re-upserts the deleted keys — the documented exactly-once-
    # EFFECT convergence, not a resurrection bug.)
    q = stream_into_snapshot(stream, tbl, "k", str(tmp_path / "ck1"))
    q.awaitTermination()
    got = {r["k"]: r["amt"] for r in read_snapshot(spark, tbl).collect()}
    # re-upserted keys are back with the new value; the rest of the
    # deleted range stays gone; nothing else was disturbed
    assert all(got[k] == -5.0 for k in range(20, 25))
    assert all(k not in got for k in range(10, 20))
    assert all(k not in got for k in range(25, 30))
    assert all(got[k] == float(k) for k in range(200, 205))
    assert len(got) == 100 - 20 + 5 + 5
    # the merge rewrote the covered file(s): coverage retired
    assert all(
        set(cov) <= set(snapshot_files(tbl))
        for cov in table_state(tbl).dvs.values()
    )


def test_torn_sidecar_refuses_instead_of_resurrecting(spark, tbl):
    """A corrupt or foreign-schema DV sidecar must fail LOUDLY: read
    with the explicit (file, pos) schema it would serve NULL
    positions, match nothing in the anti-join, and silently
    resurrect every deleted row — the one failure mode a deletion
    vector can never have.  Both readers of sidecars refuse: the
    snapshot read and the fused (more than 4 versions) summary."""
    from survivor_processing_spark.operators.snapshot import (
        snapshot_summary,
    )

    out = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)  # v2
    for i in range(3):  # v3..v5, the DV live throughout
        commit_version(tbl, adds=[_write(tbl, f"g{i}.parquet", [200 + i])])
    dv_path = os.path.join(tbl, out["dv"])

    def foreign():  # same name, wrong columns
        pq.write_table(pa.table({"x": [1, 2]}), dv_path)

    def torn():  # not parquet at all
        with open(dv_path, "wb") as f:
            f.write(b"PAR1garbage")

    for corrupt in (foreign, torn):
        corrupt()
        with pytest.raises(Exception, match="sidecar"):
            read_snapshot(spark, tbl).count()
        with pytest.raises(Exception, match="sidecar"):
            snapshot_summary(spark, tbl, [1, 2, 3, 4, 5], "amt").collect()


def _rows(spark, d, version=None):
    return sorted(
        ((r["k"], r["amt"]) for r in read_snapshot(spark, d, version).collect()),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )


def test_mor_upsert_matches_cow_merge(spark, tmp_path):
    """The MOR upsert's logical result must be IDENTICAL to the COW
    merge over the same table and batch — same keys win, table keys
    stay unique — while rewriting ZERO existing data files."""
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    dirs = {}
    for variant in ("mor", "cow"):
        d = str(tmp_path / variant)
        os.makedirs(d)
        _write(d, "f0.parquet", list(range(0, 50)) + [None])
        _write(d, "f1.parquet", list(range(50, 100)))
        commit_version(d, adds=["f0.parquet", "f1.parquet"])
        dirs[variant] = d
    src = spark.createDataFrame(
        [(40, -1.0), (60, -2.0), (200, -3.0)], "k long, amt double"
    )
    out = upsert_into_snapshot_mor(spark, dirs["mor"], src, "k")
    merge_into_snapshot(spark, dirs["cow"], src, "k")
    assert _rows(spark, dirs["mor"]) == _rows(spark, dirs["cow"])
    assert out["n_updated"] == 2 and out["n_inserted"] == 1
    assert out["n_files_covered"] == 2
    # zero rewrites: both seed files still active, plus the appends
    active = set(snapshot_files(dirs["mor"]))
    assert {"f0.parquet", "f1.parquet"} <= active
    assert set(out["adds"]) <= active
    # time travel to v1 serves the pre-upsert rows
    assert len(_rows(spark, dirs["mor"], 1)) == 101


def test_mor_upsert_replay_converges(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    src = spark.createDataFrame([(10, -7.0), (999, -8.0)], "k long, amt double")
    upsert_into_snapshot_mor(spark, tbl, src, "k")
    once = _rows(spark, tbl)
    out2 = upsert_into_snapshot_mor(spark, tbl, src, "k")
    # the replay tombstones the FIRST upsert's rows and re-inserts
    # identical values: content converges (exactly-once EFFECT)
    assert _rows(spark, tbl) == once
    assert out2["n_updated"] == 2 and out2["n_inserted"] == 0


def test_mor_upsert_over_mor_deleted_key_is_insert(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    src = spark.createDataFrame([(45, -9.0)], "k long, amt double")
    out = upsert_into_snapshot_mor(spark, tbl, src, "k")
    # the old row 45 is already dead: nothing to tombstone
    assert out["n_updated"] == 0 and out["n_inserted"] == 1
    got = dict(_rows(spark, tbl))
    assert got[45] == -9.0 and 44 not in got and 46 not in got


def test_mor_upsert_envelope_minimality(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    # keys land only in f2's envelope [100, 150): f0/f1 never covered
    src = spark.createDataFrame([(120, -1.0), (130, -2.0)], "k long, amt double")
    out = upsert_into_snapshot_mor(spark, tbl, src, "k")
    assert out["n_files_covered"] == 1
    assert table_state(tbl).dvs[out["dv"]] == ["f2.parquet"]


def test_mor_upsert_cdf_emits_exact_update_images(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    src = spark.createDataFrame([(10, -7.0), (999, -8.0)], "k long, amt double")
    v = upsert_into_snapshot_mor(spark, tbl, src, "k")["version"]
    tc = table_changes(spark, tbl, v - 1, v)
    got = sorted(
        (r["_change_type"], r["k"], r["amt"]) for r in tc.collect()
    )
    # delete = the OLD image of the updated key; inserts = new rows
    assert got == [
        ("delete", 10, 10.0),
        ("insert", 10, -7.0),
        ("insert", 999, -8.0),
    ]


def test_mor_upsert_scans_only_bloom_admitted_files(spark, tmp_path, monkeypatch):
    """On an unsorted table every file's envelope spans the key domain,
    so only the per-file key blooms can tell the files apart: the
    upsert scans just the files whose bloom admits a source key,
    still tombstones every matched row, and stays exact against a
    dict model.  Keys 12j+7 and 12j+9 lie inside every envelope and in
    no file."""
    import survivor_processing_spark.operators.mor as mor
    from survivor_processing_spark.operators.snapshot import (
        file_key_blooms,
        stats_for_files,
    )

    d = str(tmp_path)
    names = [_write(d, f"u{f}.parquet", list(range(f, 600, 12))) for f in range(6)]
    stats = stats_for_files(d, names, ["k"])
    for f, b in file_key_blooms(d, names, "k").items():
        stats[f]["k"]["bloom"] = b
    commit_version(d, adds=names, stats=stats)
    model = {k: float(k) for k in range(600) if k % 12 < 6}
    scanned = []
    real = mor.strip_deleted_rows

    def spy(spark_, scan, table_dir, dvs, files, **kw):
        scanned.append(sorted(files))
        return real(spark_, scan, table_dir, dvs, files, **kw)

    monkeypatch.setattr(mor, "strip_deleted_rows", spy)
    batch = {37: -1.0, 121: -2.0, 580: -3.0, 7: -4.0, 93: -5.0, 5000: -6.0}
    out = upsert_into_snapshot_mor(
        spark,
        d,
        spark.createDataFrame(sorted(batch.items()), "k long, amt double"),
        "k",
    )
    model.update(batch)
    assert scanned == [["u1.parquet", "u4.parquet"]]
    assert out["n_updated"] == 3 and out["n_inserted"] == 3
    assert out["n_files_covered"] == 2 and out["n_untouched"] == 4
    assert dict(_rows(spark, d)) == model


def test_mor_upsert_rejects_bad_sources(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    with pytest.raises(ValueError, match="NULL merge keys"):
        upsert_into_snapshot_mor(
            spark,
            tbl,
            spark.createDataFrame([(None, 1.0)], "k long, amt double"),
            "k",
        )
    with pytest.raises(ValueError, match="key-unique"):
        upsert_into_snapshot_mor(
            spark,
            tbl,
            spark.createDataFrame(
                [(1, 1.0), (1, 2.0)], "k long, amt double"
            ),
            "k",
        )
    with pytest.raises(ValueError, match="schema"):
        upsert_into_snapshot_mor(
            spark,
            tbl,
            spark.createDataFrame([(1, 1.0, "x")], "k long, amt double, z string"),
            "k",
        )
    # empty source: clean no-op, no version minted, no sidecar
    out = upsert_into_snapshot_mor(
        spark,
        tbl,
        spark.createDataFrame([], "k long, amt double"),
        "k",
    )
    assert out["version"] is None
    assert not [f for f in os.listdir(tbl) if f.startswith("upsert-")]


def test_mor_upsert_then_purge_folds_everything(spark, tbl):
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )

    src = spark.createDataFrame([(10, -7.0)], "k long, amt double")
    upsert_into_snapshot_mor(spark, tbl, src, "k")
    pre = _rows(spark, tbl)
    purge_dvs(spark, tbl, stats_cols=["k"])
    assert table_state(tbl).dvs == {}
    assert _rows(spark, tbl) == pre


def test_table_changes_after_expiry_baseline(spark, tbl):
    """Review catch: an expiry baseline re-states adds WITH dv_adds
    covering them (a shape real commits forbid) and removes files
    expiry deleted from disk.  The feed must emit it as ONE initial
    snapshot — the live rows at the cut — never a double-count of
    DV'd rows and never a scan of deleted files."""
    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)  # v2
    # v3 rewrites everything so expiry has files to delete from disk
    zorder_snapshot(spark, tbl, "k", "amt", n_files=2)
    delete_from_snapshot_mor(spark, tbl, "k", 0, 9)  # v4
    expire_snapshots(tbl, keep_last=2)  # baseline at v3
    tc = table_changes(spark, tbl, 0, 4)
    agg = {
        (r["_commit_version"], r["_change_type"]): r["n"]
        for r in tc.groupBy("_commit_version", "_change_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    # v3 baseline = initial snapshot of the 130 live rows (zorder is
    # data_change=False in a real log, but the BASELINE re-statement
    # is the feed's starting image); v4 deletes 10
    assert agg == {(3, "insert"): 130, (4, "delete"): 10}
    # resuming from the baseline yields only v4's delta
    inc = sorted(r["k"] for r in table_changes(spark, tbl, 3, 4).collect())
    assert inc == list(range(0, 10))


def test_table_changes_baseline_with_live_dvs_emits_live_rows_once(
    spark, tbl
):
    delete_from_snapshot_mor(spark, tbl, "k", 40, 60)  # v2
    expire_snapshots(tbl, keep_last=1)  # baseline v2: adds + dv_adds
    tc = table_changes(spark, tbl, 0, 2)
    got = sorted(
        (r["k"] for r in tc.collect()), key=lambda k: (k is None, k)
    )
    # exactly the 130 LIVE rows, each once, all 'insert' — the DV'd
    # 21 appear neither as insert nor as delete
    assert tc.filter("_change_type != 'insert'").count() == 0
    assert len(got) == 130 and 40 not in got and 39 in got


def test_mor_delete_and_read_on_evolved_table(spark, tbl):
    """Schema evolution × merge-on-read: after a widening, a MOR
    delete over pre-widening files must tombstone by position under
    the EVOLVED schema, and every read — head and range-filtered —
    serves the widened column as NULL for surviving pre-widening
    rows."""
    from survivor_processing_spark.operators.mor import (
        upsert_into_snapshot_mor,
    )
    from survivor_processing_spark.operators.snapshot import table_state
    from survivor_processing_spark.sinks.merge import merge_into_snapshot

    widened = spark.createDataFrame(
        [(500, 5.0, "new")], "k long, amt double, tag string"
    )
    merge_into_snapshot(spark, tbl, widened, "k", allow_evolution=True)
    assert table_state(tbl).schema is not None
    out = delete_from_snapshot_mor(spark, tbl, "k", 40, 60)
    assert out["n_deleted"] == 21
    head = read_snapshot(spark, tbl)
    assert head.columns == ["k", "amt", "tag"]
    rows = {r["k"]: r["tag"] for r in head.collect()}
    assert rows[500] == "new" and rows[39] is None and 40 not in rows
    # the MOR upsert takes the evolved schema as the contract
    src = spark.createDataFrame(
        [(39, -1.0, "upd")], "k long, amt double, tag string"
    )
    up = upsert_into_snapshot_mor(spark, tbl, src, "k")
    assert up["n_updated"] == 1
    got = {r["k"]: r["tag"] for r in read_snapshot(spark, tbl).collect()}
    assert got[39] == "upd"
    # a range-filtered read agrees with the head view
    pr = {
        r["k"]: r["tag"]
        for r in read_snapshot(spark, tbl)
        .filter("k BETWEEN 30 AND 70")
        .collect()
    }
    assert pr[39] == "upd" and 45 not in pr and pr[61] is None


# --- queued r12 gate: MOR UPSERT under the (future) driver hash -------------


def test_mor_upsert_gate_matches_closed_form_oracle(spark):
    """VERDICT r11 #4: the queued q:snapshot_mor_upsert gate
    (queries/etl.py snapshot_mor_upsert_gate) must hash-match its
    closed-form oracle (mor_upsert_summary_oracle) exactly the way
    the driver will compare them — per-version counts + decimal sums
    through the DV-aware read, plus the row-exact change-feed images
    over the upsert commit."""
    from survivor_processing_spark.operators.mor import (
        mor_upsert_summary_oracle,
    )
    from survivor_processing_spark.queries.etl import (
        snapshot_mor_upsert_gate,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (
            r["version"],
            r["n_rows"],
            r["total"],
            r["n_feed_deletes"],
            r["n_feed_inserts"],
            r["feed_del_total"],
        )
        for r in snapshot_mor_upsert_gate(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'"
    )
    want = sorted(
        tuple(row)
        for row in con.execute(
            mor_upsert_summary_oracle(
                "o_orderkey", "o_totalprice", 300, 900, 1000,
                100, 400, 600, 1500,
            )
        ).fetchall()
    )
    assert got == want
    # the upsert commit's feed is non-trivial at this sf (updates
    # exist, inserts exist) — guards against a vacuously-green gate
    v2 = next(r for r in got if r[0] == 2)
    assert v2[3] > 0 and v2[4] > v2[3] and v2[5] > 0.0


def test_dv_aware_fused_summary_matches_per_version_reads(spark, tbl):
    """r13 session 4: snapshot_summary's fused path (>4 qualifying
    versions) now fires on DV'd histories too — per-(file, sidecar)
    partials assembled driver-side must be BIT-IDENTICAL to the
    per-version DV-aware anti-join reads, across co-live disjoint
    sidecars on one file, a purge boundary (DVs retired,
    data_change=False), and the no-DV head versions."""
    import pyspark.sql.functions as F

    from survivor_processing_spark.operators.snapshot import (
        snapshot_summary,
    )

    delete_from_snapshot_mor(spark, tbl, "k", 10, 19)  # v2: DV on f0
    delete_from_snapshot_mor(spark, tbl, "k", 60, 69)  # v3: DV on f1
    delete_from_snapshot_mor(spark, tbl, "k", 110, 119)  # v4: DV f2
    delete_from_snapshot_mor(spark, tbl, "k", 0, 4)  # v5: 2nd DV on f0
    purge_dvs(spark, tbl)  # v6: rewrite, retires every DV
    versions = [1, 2, 3, 4, 5, 6]
    assert table_state(tbl, 5).dvs and not table_state(tbl, 6).dvs
    got = sorted(
        tuple(r)
        for r in snapshot_summary(spark, tbl, versions, "amt").collect()
    )
    want = []
    for v in versions:
        row = (
            read_snapshot(spark, tbl, v)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.coalesce(
                    F.sum(F.col("amt").cast("decimal(18,2)")), F.lit(0)
                )
                .cast("double")
                .alias("t"),
            )
            .collect()[0]
        )
        want.append((v, row["n"], row["t"]))
    assert got == sorted(want)
    # the history must actually exercise the fused branch: live DVs
    # at v2..v5 and >4 qualifying versions
    assert got[0][1] == 151 and got[4][1] == 151 - 10 - 10 - 10 - 5
    assert got[5][1:] == got[4][1:]  # purge is layout-only


@pytest.mark.parametrize("seed", [0, 1])
def test_random_dml_interleavings_match_model(spark, seed, tmp_path):
    """Random seed layouts (the first file with a NULL key), then a
    random order of two MOR deletes (sharded sidecar writes), two MOR
    upserts (random dv_shards), a purge, a z-order, a compaction and
    an expiry, with log checkpoints placed at random.
    Every logged version reads as a pure-Python model of the table at
    that version: a deletion vector applies from its commit on, a
    checkpoint is invisible, re-deletes count only live rows, upserts
    replace per key like a dict update, the layout operations keep
    logical content, and live DV coverage names only active files."""
    rng = random.Random(seed)
    d = str(tmp_path)
    n_files = rng.randrange(2, 5)
    bounds = sorted(rng.sample(range(0, 400), n_files * 2))
    names, keys = [], []
    for i in range(n_files):
        ks = list(range(bounds[2 * i], bounds[2 * i + 1] + 1))
        if i == 0 or rng.random() < 0.3:
            ks.append(None)  # NULL keys never match a range
        names.append(_write(d, f"s{i}.parquet", ks))
        keys += ks
    commit_version(d, adds=names)
    logical = sorted(
        ((k, float(k) if k is not None else -1.0) for k in keys),
        key=lambda t: (t[0] is None, t[0], t[1]),
    )
    history = {1: logical}
    kinds = ["delete", "delete", "upsert", "upsert"]
    kinds += ["purge", "zorder", "compact", "expire"]
    rng.shuffle(kinds)
    ops = []
    for kind in kinds:
        if rng.random() < 0.35:
            checkpoint_snapshot(d)
            ops.append("checkpoint")
        drawn = (seed, bounds, ops)
        if kind == "delete":
            dlo = rng.randrange(0, 400)
            dhi = dlo + rng.randrange(0, 120)
            shards = rng.choice([1, 1, 2, 3])
            ops.append(("delete", dlo, dhi, shards))
            out = delete_from_snapshot_mor(spark, d, "k", dlo, dhi, shards=shards)
            live_hits = [
                t for t in logical if t[0] is not None and dlo <= t[0] <= dhi
            ]
            if not live_hits:
                assert out["version"] is None, drawn
                continue
            assert out["n_deleted"] == len(live_hits), drawn
            logical = [
                t for t in logical if t[0] is None or not dlo <= t[0] <= dhi
            ]
            history[out["version"]] = logical
        elif kind == "upsert":
            batch = {
                rng.randrange(0, 500): float(rng.randrange(-99, 0))
                for _ in range(rng.randrange(1, 10))
            }
            dv_shards = rng.choice(["auto", 1, 2])
            ops.append(("upsert", sorted(batch), dv_shards))
            src = spark.createDataFrame(sorted(batch.items()), "k long, amt double")
            out = upsert_into_snapshot_mor(spark, d, src, "k", dv_shards=dv_shards)
            live_hit = sum(1 for t in logical if t[0] is not None and t[0] in batch)
            assert out["n_updated"] == live_hit, drawn
            assert out["n_inserted"] == len(batch) - live_hit, drawn
            logical = sorted(
                [t for t in logical if t[0] is None or t[0] not in batch]
                + list(batch.items()),
                key=lambda t: (t[0] is None, t[0], t[1]),
            )
            history[out["version"]] = logical
        elif kind == "purge":
            ops.append("purge")
            had = bool(table_state(d).dvs)
            out = purge_dvs(spark, d, stats_cols=["k"])
            assert had == (out["version"] is not None), drawn
            if out["version"] is not None:
                history[out["version"]] = logical
            assert not table_state(d).dvs, drawn
        elif kind == "zorder":
            ops.append("zorder")
            out = zorder_snapshot(spark, d, "k", "amt", n_files=2)
            history[out["version"]] = logical
            assert not table_state(d).dvs, drawn
        elif kind == "compact":
            ops.append("compact")
            out = compact_snapshot(spark, d, target_bytes=1 << 20, stats_cols=["k"])
            if out["version"] is not None:
                history[out["version"]] = logical
        else:
            ops.append("expire")
            out = expire_snapshots(d, keep_last=2)
            if out["cut_version"] is not None:
                history = {
                    v: rows for v, rows in history.items() if v >= out["cut_version"]
                }
    drawn = (seed, bounds, ops)
    active = set(snapshot_files(d))
    for cov in table_state(d).dvs.values():
        assert set(cov) <= active, drawn
    for v, want in sorted(history.items()):
        assert _rows(spark, d, v) == want, (drawn, v)