"""TIMESTAMP AS OF time travel (r11, operators/snapshot.py
``version_at_timestamp``/``read_snapshot_asof``): commit entries
carry their wall-clock, resolution follows Delta's rule (latest
version committed ≤ the requested time; earlier than the first
commit is an error), legacy entries without a timestamp resolve for
any time, and expiry's baseline rewrite preserves the cut version's
original commit time so maintenance never shifts resolution."""

from __future__ import annotations

import json
import os
import random
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from survivor_processing_spark.operators.snapshot import (
    _entry_path,
    checkpoint_snapshot,
    commit_version,
    expire_snapshots,
    log_versions,
    read_snapshot_asof,
    snapshot_files,
    version_at_timestamp,
)


def _write(d: str, name: str, keys: list[int]) -> str:
    pq.write_table(
        pa.table({"k": pa.array(keys, type=pa.int64())}),
        os.path.join(d, name),
    )
    return name


def _entry_ts(d: str, v: int) -> float:
    with open(_entry_path(d, v)) as f:
        return float(json.load(f)["ts"])


@pytest.fixture()
def tbl():
    d = tempfile.mkdtemp(prefix="sps_asof_ts_")
    for i in range(3):
        _write(d, f"f{i}.parquet", [i])
        commit_version(d, adds=[f"f{i}.parquet"])
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_resolution_follows_delta_rule(tbl):
    t1, t2, t3 = (_entry_ts(tbl, v) for v in (1, 2, 3))
    assert t1 <= t2 <= t3
    assert version_at_timestamp(tbl, t1) == 1
    assert version_at_timestamp(tbl, (t2 + t3) / 2) in (2, 3)
    assert version_at_timestamp(tbl, t3) == 3
    assert version_at_timestamp(tbl, t3 + 3600) == 3  # future = head
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(tbl, t1 - 3600)


def test_asof_read_serves_the_resolved_snapshot(spark, tbl):
    t1 = _entry_ts(tbl, 1)
    assert sorted(
        r["k"] for r in read_snapshot_asof(spark, tbl, t1).collect()
    ) == [0]
    t3 = _entry_ts(tbl, 3)
    assert sorted(
        r["k"] for r in read_snapshot_asof(spark, tbl, t3).collect()
    ) == [0, 1, 2]


def test_legacy_entries_without_ts_resolve_any_time(tbl):
    # strip v1's ts (a pre-feature log)
    p = _entry_path(tbl, 1)
    with open(p) as f:
        e = json.load(f)
    del e["ts"]
    with open(p, "w") as f:
        json.dump(e, f)
    t1_old = _entry_ts(tbl, 2) - 10_000
    assert version_at_timestamp(tbl, t1_old) == 1  # unknown past


def test_commit_ts_monotone_under_backwards_clock(tbl, monkeypatch):
    """ADVICE r11 (low): commit timestamps are clamped to
    ``max(parent_ts, wall clock)`` — a writer whose clock stepped
    backwards (skew between concurrent writers, an NTP step) can no
    longer mint a later version with an earlier ts, which would make
    the 'latest version with ts <= query' rule resolve PAST a
    version whose ts is in the future."""
    import time as _time

    t3 = _entry_ts(tbl, 3)
    monkeypatch.setattr(_time, "time", lambda: t3 - 500.0)
    _write(tbl, "f3.parquet", [3])
    commit_version(tbl, adds=["f3.parquet"])
    t4 = _entry_ts(tbl, 4)
    assert t4 >= t3  # clamped, monotone by construction
    assert version_at_timestamp(tbl, t4) == 4
    # the pre-clamp anomaly: v4's raw ts (t3 - 500) made a query from
    # before the table existed resolve to v4; clamped, it predates
    with pytest.raises(ValueError, match="predates"):
        version_at_timestamp(tbl, t3 - 250.0)


@pytest.mark.parametrize("seed", [0, 1])
def test_random_logs_under_skewed_clock_resolve_by_delta_rule(
    seed, monkeypatch, tmp_path
):
    """Random add/remove commit sequences with checkpoints placed at
    random, under a wall clock that jitters backwards: entry
    timestamps stay monotone, every entry's timestamp resolves to the
    latest version sharing it, and that version's active set equals
    the pure-Python model, checkpoint present or not."""
    import time as _time

    rng = random.Random(seed)
    d = str(tmp_path)
    base = _time.time()
    step = iter([rng.uniform(-5.0, 5.0) for _ in range(12)])
    monkeypatch.setattr(_time, "time", lambda: base + next(step, 10.0))
    model, active, plan = {}, set(), []
    for i in range(rng.randrange(4, 9)):
        nm = _write(d, f"f{i}.parquet", [i])
        removes = (
            [rng.choice(sorted(active))]
            if active and rng.random() < 0.4
            else []
        )
        commit_version(d, adds=[nm], removes=removes)
        active = (active | {nm}) - set(removes)
        model[i + 1] = active
        plan.append((nm, removes))
        if rng.random() < 0.3:
            checkpoint_snapshot(d)
            plan.append("checkpoint")
    entry_ts = {v: _entry_ts(d, v) for v in log_versions(d)}
    tss = list(entry_ts.values())
    assert tss == sorted(tss), (seed, plan, tss)
    for ts in tss:
        want_v = max(u for u, t in entry_ts.items() if t <= ts)
        got_v = version_at_timestamp(d, ts)
        assert got_v == want_v, (seed, plan, ts)
        assert set(snapshot_files(d, got_v)) == model[got_v], (seed, plan, got_v)


def test_expiry_baseline_preserves_cut_timestamp(tbl):
    for i in range(3, 6):
        _write(tbl, f"f{i}.parquet", [i])
        commit_version(tbl, adds=[f"f{i}.parquet"])
    cut_ts_before = _entry_ts(tbl, 4)
    out = expire_snapshots(tbl, keep_last=3)
    assert out["cut_version"] == 4
    assert _entry_ts(tbl, 4) == cut_ts_before
    assert version_at_timestamp(tbl, cut_ts_before) == 4


# --- queued r12 gate: checkpoints + TIMESTAMP AS OF under one hash ----------


def test_time_travel_gate_matches_closed_form_oracle(spark):
    """VERDICT r11 #5: the queued q:snapshot_time_travel gate
    (queries/etl.py snapshot_time_travel_gate) must hash-match its
    closed-form oracle — checkpoint-seeded replay ≡ full replay ≡
    timestamp resolution for every probe, under the exact comparison
    the driver runs."""
    import duckdb

    from survivor_processing_spark.operators.snapshot import (
        time_travel_summary_oracle,
    )
    from survivor_processing_spark.queries.etl import (
        snapshot_time_travel_gate,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r["version"], r["path"], r["n_rows"], r["total"])
        for r in snapshot_time_travel_gate(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'"
    )
    want = sorted(
        tuple(row)
        for row in con.execute(
            time_travel_summary_oracle("o_orderkey", "o_totalprice")
        ).fetchall()
    )
    assert got == want
    # both read paths present for every probe, all non-empty
    assert len(got) == 10 and all(r[2] > 0 for r in got)


def test_legacy_nonmonotone_log_full_scans(tbl):
    """ADVICE r12: a pre-clamp log whose raw wall-clock timestamps
    regressed under clock skew must resolve like the old full scan —
    latest version with ts <= query over ALL entries — not raise or
    resolve early off the out-of-order entry."""
    # rewrite the 3-entry log as a legacy skewed sequence:
    # v1 @ 100.0, v2 @ 50.0 (clock jumped back), v3 @ 120.0
    for v, t in ((1, 100.0), (2, 50.0), (3, 120.0)):
        p = _entry_path(tbl, v)
        with open(p) as f:
            e = json.load(f)
        e["ts"] = t
        with open(p, "w") as f:
            json.dump(e, f)
    # between the out-of-order pair: v2 (ts 50) is the latest <= 75
    assert version_at_timestamp(tbl, 75.0) == 2
    # past everything -> newest; at 100 -> v2 (50 <= 100, 120 > 100)
    assert version_at_timestamp(tbl, 130.0) == 3
    assert version_at_timestamp(tbl, 100.0) == 2
    # before everything still raises
    with pytest.raises(ValueError):
        version_at_timestamp(tbl, 10.0)
