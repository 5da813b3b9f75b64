"""Hypothesis property tests for operators whose correctness IS an
algebraic invariant — shapes randomized search finds that fixed
fixtures miss:

- content_fingerprint: a multiset invariant — ANY permutation and
  ANY partitioning of the same rows fingerprint identically, and any
  single-row multiset change does not (modulo the documented 2^-60
  lane collision, which hypothesis will not find).
- mad_outlier_stats: inlier/outlier counts partition the group, and
  the output is invariant to input row order (tie-invariance of the
  nearest-rank statistics)."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, seed, settings
from hypothesis import strategies as st

from survivor_processing_spark.operators.curation import mad_outlier_stats
from survivor_processing_spark.operators.fingerprint import (
    content_fingerprint,
)

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.one_of(st.none(), st.text(alphabet="abc '", max_size=5)),
    ),
    min_size=1,
    max_size=40,
)


@settings(**SETTINGS)
@given(rows=ROWS, data=st.data())
def test_fingerprint_multiset_invariance(spark, rows, data):
    df = spark.createDataFrame(rows, "k long, s string")
    base = tuple(content_fingerprint(df, ["k", "s"]).collect()[0])
    perm = data.draw(st.permutations(rows))
    parts = data.draw(st.integers(min_value=1, max_value=8))
    df2 = spark.createDataFrame(list(perm), "k long, s string").repartition(
        parts
    )
    assert tuple(content_fingerprint(df2, ["k", "s"]).collect()[0]) == base


@settings(**SETTINGS)
@given(rows=ROWS, data=st.data())
def test_fingerprint_detects_single_row_change(spark, rows, data):
    df = spark.createDataFrame(rows, "k long, s string")
    base = tuple(content_fingerprint(df, ["k", "s"]).collect()[0])
    idx = data.draw(st.integers(min_value=0, max_value=len(rows) - 1))
    k, s = rows[idx]
    mutated = rows[:idx] + [(k + 1, s)] + rows[idx + 1 :]
    df2 = spark.createDataFrame(mutated, "k long, s string")
    assert tuple(content_fingerprint(df2, ["k", "s"]).collect()[0]) != base



MADROWS = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.one_of(st.none(), st.integers(min_value=-30, max_value=30)),
    ),
    min_size=1,
    max_size=50,
)


@settings(**SETTINGS)
@given(rows=MADROWS, data=st.data())
def test_mad_partition_and_order_invariance(spark, rows, data):
    df = spark.createDataFrame(rows, "g string, v long")
    base = sorted(map(tuple, mad_outlier_stats(df, ["g"], "v").collect()))
    for g, n, med, mad, n_out, isum in base:
        assert 0 <= n_out <= n
    perm = data.draw(st.permutations(rows))
    df2 = spark.createDataFrame(list(perm), "g string, v long")
    assert (
        sorted(map(tuple, mad_outlier_stats(df2, ["g"], "v").collect()))
        == base
    )


# --- snapshot replay, SQ8 determinism, join shift ----------------------------


@seed(20260814)
@settings(**SETTINGS)
@given(n_files=st.integers(min_value=1, max_value=6), data=st.data())
def test_snapshot_replay_matches_reference(spark, n_files, data):
    """Any valid commit sequence (several adds and removes per commit,
    stats on some adds, deletion vectors over active files, schema
    changes, log checkpoints anywhere, and a removed name re-added
    with new stats) replays to exactly a reference model's active
    set, per-file stats, DV coverage and schema at EVERY version; on
    DV-free draws the per-version Spark summary also equals the
    DuckDB oracle over the same replayed file lists (the oracle reads
    files, not deletion vectors)."""
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from survivor_processing_spark.operators.snapshot import (
        checkpoint_snapshot,
        commit_version,
        snapshot_files,
        snapshot_summary,
        snapshot_summary_oracle,
        table_state,
    )

    schemas = [
        [["k", "bigint"], ["amt", "double"]],
        [["k", "bigint"], ["amt", "double"], ["note", "string"]],
    ]
    d = tempfile.mkdtemp()
    try:
        names = []
        for i in range(n_files):
            nm = f"f{i}.parquet"
            ks = data.draw(
                st.lists(st.integers(0, 99), min_size=1, max_size=19)
            )
            pq.write_table(
                pa.table({"k": ks, "amt": [float(k) for k in ks]}),
                os.path.join(d, nm),
            )
            names.append(nm)
        # the reference model, advanced by the rules in their plainest
        # form after every commit
        active: set = set()
        stats: dict = {}
        dvs: dict = {}
        schema = None
        history: dict[int, tuple] = {}
        n_dv = 0

        def new_stats(name):
            lo = data.draw(st.integers(0, 99))
            return {
                "k": {
                    "n_rows": data.draw(st.integers(1, 19)),
                    "vmin": str(lo),
                    "vmax": str(lo + data.draw(st.integers(0, 9))),
                    "ord": "numeric",
                }
            }

        def commit(adds, removes, entry_stats, dv_adds, sch):
            nonlocal schema
            v = commit_version(
                d,
                adds=adds,
                removes=removes,
                stats=entry_stats or None,
                dv_adds=dv_adds or None,
                schema=sch,
            )
            active.update(adds)
            active.difference_update(removes)
            for a in adds:
                stats[a] = entry_stats.get(a, {})
            for r in removes:
                del stats[r]
            for s, cov in dv_adds.items():
                dvs[s] = set(cov)
            for r in removes:
                for s in list(dvs):
                    dvs[s].discard(r)
                    if not dvs[s]:
                        del dvs[s]
            if sch:
                schema = sch
            history[v] = (
                sorted(active),
                {f: stats[f] for f in sorted(active)},
                {s: sorted(c) for s, c in dvs.items()},
                schema,
            )
            if data.draw(st.booleans()):  # invisible to every replay
                checkpoint_snapshot(d)

        for _ in range(data.draw(st.integers(1, 8))):
            inactive = sorted(set(names) - active)
            adds = data.draw(
                st.lists(st.sampled_from(inactive), unique=True)
                if inactive
                else st.just([])
            )
            removes = data.draw(
                st.lists(st.sampled_from(sorted(active)), unique=True)
                if active
                else st.just([])
            )
            kept = sorted(active - set(removes))
            dv_adds = {}
            if kept and data.draw(st.booleans()):
                n_dv += 1
                dv_adds[f"dv{n_dv}.parquet"] = data.draw(
                    st.lists(st.sampled_from(kept), min_size=1, unique=True)
                )
            if not adds and not removes and not dv_adds:
                continue
            entry_stats = {
                a: new_stats(a) for a in adds if data.draw(st.booleans())
            }
            sch = data.draw(st.sampled_from([None] + schemas))
            commit(adds, removes, entry_stats, dv_adds, sch)
        # a file leaves — a DV-covered one when a DV is live, so the
        # remove must prune that coverage — and comes back with new
        # stats: it must carry the new envelope, not the dead add's,
        # and none of its old DVs
        covered = sorted(f for c in dvs.values() for f in c)
        back = (covered or sorted(active) or names)[0]
        if back in active:
            commit([], [back], {}, {}, None)
        commit([back], [], {back: new_stats(back)}, {}, None)
        for v, (files, want_stats, want_dvs, want_schema) in history.items():
            state = table_state(d, v)
            assert snapshot_files(d, v) == files
            assert state.stats == want_stats, v
            assert state.dvs == want_dvs, v
            assert state.schema == want_schema, v
        if not n_dv:
            versions = sorted(history)
            got = sorted(
                tuple(r)
                for r in snapshot_summary(spark, d, versions, "amt").collect()
            )
            want = sorted(
                tuple(r)
                for r in duckdb.connect()
                .execute(snapshot_summary_oracle(d, versions, "amt"))
                .fetchall()
            )
            assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.lists(
            st.floats(
                min_value=-4, max_value=4, allow_nan=False
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=25,
    ),
    data=st.data(),
)
def test_sq8_codes_partition_and_order_invariant(spark, rows, data):
    """SQ8 bounds are global aggregates and codes are pure per-row
    integer arithmetic — permuting rows or changing partitioning
    cannot change any vector's code sum or reconstruction error."""
    from survivor_processing_spark.operators.quantize import sq8_summary

    recs = [(i, v) for i, v in enumerate(rows)]
    df = spark.createDataFrame(recs, "vec_id long, embedding array<double>")
    base = {
        r["vec_id"]: (r["code_sum"], r["max_err2"])
        for r in sq8_summary(df, dim=3).collect()
    }
    perm = data.draw(st.permutations(recs))
    parts = data.draw(st.integers(min_value=1, max_value=6))
    df2 = spark.createDataFrame(
        list(perm), "vec_id long, embedding array<double>"
    ).repartition(parts)
    again = {
        r["vec_id"]: (r["code_sum"], r["max_err2"])
        for r in sq8_summary(df2, dim=3).collect()
    }
    assert again == base


@settings(**SETTINGS)
@given(
    lrows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=5000),
        ),
        min_size=1,
        max_size=20,
    ),
    rrows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=5000),
        ),
        min_size=1,
        max_size=20,
    ),
    shift=st.integers(min_value=0, max_value=100000),
)
def test_interval_join_time_shift_invariant(spark, lrows, rrows, shift):
    """Shifting BOTH sides' timestamps by the same delta preserves
    the interval-join pair set exactly (integer-second grid)."""
    from survivor_processing_spark.streaming.joins import (
        stream_interval_join,
    )

    def build(rows, idname, tsname, delta):
        return spark.createDataFrame(
            [(u, i, s + delta) for i, (u, s) in enumerate(rows)],
            f"user_id long, {idname} long, sec long",
        ).selectExpr(
            "user_id", idname, f"timestamp_seconds(sec) AS {tsname}"
        )

    def pairs(delta):
        out = stream_interval_join(
            build(lrows, "view_id", "view_ts", delta),
            build(rrows, "click_id", "click_ts", delta),
            keys=["user_id"],
            left_ts="view_ts",
            right_ts="click_ts",
            upper="600 seconds",
        )
        return sorted(
            (r["user_id"], r["view_id"], r["click_id"])
            for r in out.collect()
        )

    assert pairs(0) == pairs(shift)
