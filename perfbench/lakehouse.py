"""The ``lakehouse_merge`` workload: writes beside reads.

One pass builds a fresh snapshot-logged table from ``orders`` and
drives a seeded rolling sequence of commits through every writer of
the table format, reading the table back after each commit:

    init_snapshot -> merge_into_snapshot (copy-on-write) ->
    upsert_into_snapshot_mor (merge-on-read) ->
    delete_from_snapshot_mor (a seeded key range) ->
    stream_into_snapshot (two micro-batches, copy-on-write merges) ->
    checkpoint_snapshot -> compact_snapshot ->
    read_snapshot_asof (a seeded earlier version)

and then applies the same two upsert batches through ``MergeTable.merge``,
the warehouse load path that rewrites the whole table.  A DuckDB
replay of the same operations is the oracle for every count, the
final table, the as-of read and the ``MergeTable`` table; the replay
and all checks run between operations, outside the timed region.
"""

from __future__ import annotations

import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from hostclock import Clock
from survivor_processing_spark.operators.mor import (
    delete_from_snapshot_mor,
    upsert_into_snapshot_mor,
)
from survivor_processing_spark.operators.snapshot import (
    LOG_DIR,
    checkpoint_snapshot,
    compact_snapshot,
    init_snapshot,
    log_versions,
    read_snapshot,
    read_snapshot_asof,
    snapshot_files,
    snapshot_history,
)
from survivor_processing_spark.sinks.merge import MergeTable, merge_into_snapshot
from survivor_processing_spark.streaming.lakehouse import stream_into_snapshot
from tools.check_correctness import compare

KEY = "o_orderkey"
WRITERS = (
    "init_snapshot",
    "merge_into_snapshot",
    "upsert_into_snapshot_mor",
    "delete_from_snapshot_mor",
    "stream_into_snapshot",
    "checkpoint_snapshot",
    "compact_snapshot",
    "merge_table",
)
# writers whose commits change user rows (the rewrite-usefulness base)
_DML = ("merge_into_snapshot", "upsert_into_snapshot_mor", "stream_into_snapshot")
_STREAM_TIMEOUT_S = 120


def _canon_sql(rel: str) -> str:
    # timestamps as text on both sides: the engines' pandas dtypes differ
    return (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, "
        f"o_orderpriority FROM {rel}"
    )


def _canon_spark(df):
    return df.withColumn("o_orderdate", F.col("o_orderdate").cast("string")).toPandas()


def _dir_files(path: str) -> dict[str, int]:
    """Relative path -> bytes of every file under ``path``.  Log
    entries count without their commit timestamp, whose printed width
    varies from run to run; every other byte is as written."""
    out: dict[str, int] = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, path)
            size = os.path.getsize(full)
            if os.path.basename(root) == LOG_DIR and f.endswith(".json"):
                with open(full) as fh:
                    entry = json.load(fh)
                if isinstance(entry, dict) and "ts" in entry:
                    size -= len(json.dumps(entry["ts"]))
            out[rel] = size
    return out


class LakehouseWorkload:
    name = "lakehouse_merge"
    nominal_pass_s = 8.0

    def __init__(self, sf_dir: str, work_dir: str):
        self.orders = os.path.join(sf_dir, "orders.parquet")
        self.schema = pq.read_schema(self.orders).remove_metadata()
        self.n = pq.ParquetFile(self.orders).metadata.num_rows
        self.work = work_dir
        self._passes = 0

    def close(self) -> None:
        pass

    # -- seeded inputs ------------------------------------------------------

    def _batch(self, rng, path: str, live: np.ndarray, next_key: int, n_upd: int, n_new: int):
        keys = np.concatenate(
            [rng.choice(live, n_upd, replace=False), np.arange(next_key, next_key + n_new)]
        ).astype(np.int64)
        n = len(keys)
        day = 86_400_000_000
        base = np.datetime64("1995-01-01", "us").astype(np.int64)
        table = pa.table(
            {
                "o_orderkey": keys,
                "o_custkey": rng.integers(0, max(1, self.n // 10), n, dtype=np.int64),
                "o_orderstatus": np.asarray(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)],
                "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
                "o_orderdate": pa.array(base + rng.integers(0, 2405, n) * day, pa.timestamp("us")),
                "o_orderpriority": np.asarray(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
                )[rng.integers(0, 5, n)],
            }
        ).cast(self.schema)
        pq.write_table(table, path)
        return keys

    # -- one pass -----------------------------------------------------------

    def run_pass(self, spark, tracer, rng) -> tuple[list[dict], dict]:
        self._passes += 1
        d = os.path.join(self.work, f"lake-{self._passes}")
        tbl = os.path.join(d, "table")
        wh = os.path.join(d, "warehouse")
        src = os.path.join(d, "src")
        stream_src = os.path.join(d, "stream_src")
        for p in (src, stream_src, wh):
            os.makedirs(p, exist_ok=True)
        con = duckdb.connect()
        con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{self.orders}')")
        con.execute("CREATE TABLE m AS SELECT * FROM t")
        run = _Pass(spark, tracer, con, tbl, wh)
        n_upd, n_new = max(2, self.n // 50), max(2, self.n // 100)
        live = np.arange(self.n, dtype=np.int64)
        next_key = self.n
        batches = []
        for i in range(2):
            path = os.path.join(src, f"batch{i}.parquet")
            keys = self._batch(rng, path, live, next_key, n_upd, n_new)
            next_key += n_new
            live = np.union1d(live, keys)
            batches.append(path)
        lo = int(rng.integers(0, self.n - self.n // 100))
        hi = lo + self.n // 100 - 1
        live_after_delete = live[(live < lo) | (live > hi)]
        stream_files = []
        shuffled = rng.permutation(live_after_delete)
        for i in range(2):
            path = os.path.join(stream_src, f"s{i}.parquet")
            pool = shuffled[i * n_upd // 2 : (i + 1) * n_upd // 2]
            self._batch(rng, path, pool, next_key, len(pool), n_new // 2)
            next_key += n_new // 2
            stream_files.append(path)
        stream_schema = spark.read.parquet(self.orders).schema
        steps = [
            ("merge_into_snapshot", batches[0]),
            ("upsert_into_snapshot_mor", batches[1]),
            ("delete_from_snapshot_mor", None),
            ("stream_into_snapshot", None),
        ]
        try:
            run.write("init_snapshot", lambda: init_snapshot(
                spark, tbl, spark.read.parquet(self.orders), stats_cols=[KEY], bloom_key=KEY
            ), supplied=[self.orders])
            run.read_count()
            for kind, path in steps:
                if kind == "delete_from_snapshot_mor":
                    run.write(kind, lambda: delete_from_snapshot_mor(spark, tbl, KEY, lo, hi),
                              replay=[f"DELETE FROM t WHERE {KEY} BETWEEN {lo} AND {hi}"])
                elif kind == "stream_into_snapshot":
                    run.write(kind, lambda: run.stream(
                        spark.readStream.schema(stream_schema)
                        .option("maxFilesPerTrigger", 1)
                        .parquet(stream_src),
                        os.path.join(d, "stream_ckpt"),
                    ), supplied=stream_files, replay=_upserts("t", stream_files))
                else:
                    fn = merge_into_snapshot if kind == "merge_into_snapshot" else upsert_into_snapshot_mor
                    run.write(kind, lambda fn=fn, path=path: fn(
                        spark, tbl, spark.read.parquet(path), KEY
                    ), supplied=[path], replay=_upserts("t", [path]))
                run.read_count()
            run.write("checkpoint_snapshot", lambda: checkpoint_snapshot(tbl))
            run.write("compact_snapshot", lambda: compact_snapshot(
                spark, tbl, 64 * 1024 * 1024, stats_cols=[KEY]
            ))
            run.read_count()
            run.asof(rng)
            run.final_check()
        except _Abort:
            pass
        # the warehouse load path: the same batches, whole-table rewrites
        mt = MergeTable(spark, os.path.join(wh, "orders"), [KEY])
        try:
            for path in [self.orders, *batches]:
                run.write("merge_table", lambda path=path: mt.merge(spark.read.parquet(path)),
                          supplied=[path], replay=_upserts("m", [path]) if path != self.orders else [])
            run.merge_table_check(mt)
        except _Abort:
            pass
        stats = run.pass_stats(self.work)
        con.close()
        return run.records, stats


class _Abort(Exception):
    """An operation failed; the rest of its sequence cannot run."""


def _upserts(table: str, paths: list[str]) -> list[str]:
    out = []
    for p in paths:
        out.append(f"DELETE FROM {table} WHERE {KEY} IN (SELECT {KEY} FROM read_parquet('{p}'))")
        out.append(f"INSERT INTO {table} SELECT * FROM read_parquet('{p}')")
    return out


class _Pass:
    """State of one lakehouse pass: op records, the replayed expected
    tables, and the byte accounting of the table directories."""

    def __init__(self, spark, tracer, con, tbl: str, wh: str):
        self.spark, self.tracer, self.con = spark, tracer, con
        self.tbl, self.wh = tbl, wh
        self.records: list[dict] = []
        self.seen: dict[str, int] = {}
        self.written = 0
        self.supplied = 0
        self.versions: list[int] = []  # head after each snapshot commit
        self.commit_ops: list[tuple[str, list[int], int]] = []  # (kind, versions, source rows)
        self.stream_progress: list[dict] = []

    def _account(self) -> None:
        for root in (self.tbl, self.wh):
            for rel, size in _dir_files(root).items():
                key = f"{root}/{rel}"
                if self.seen.get(key) != size:
                    self.seen[key] = size
                    self.written += size

    def _op(self, kind: str, body) -> tuple[dict, object]:
        self.spark.catalog.clearCache()
        rec = {"name": kind, "kind": "write" if kind in WRITERS else "read", "error": None}
        out = None
        clock = Clock()
        try:
            with self.tracer.op(kind) as op:
                rec["op"] = op
                out = body(op)
        except Exception as e:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"
        clock.stop(rec)
        self.records.append(rec)
        return rec, out

    def write(self, kind: str, call, supplied=(), replay=()) -> None:
        before = set(log_versions(self.tbl))

        def body(op):
            with self.tracer.phase(op, "write"):
                return call()

        rec, _ = self._op(kind, body)
        if rec["error"]:
            raise _Abort
        self._account()
        self.supplied += sum(os.path.getsize(p) for p in supplied)
        for stmt in replay:
            self.con.execute(stmt)
        if kind != "merge_table":
            new = [v for v in log_versions(self.tbl) if v not in before]
            if new:
                self.versions.append(new[-1])
                self.con.execute(f"CREATE TABLE v{new[-1]} AS SELECT * FROM t")
            rows = sum(pq.ParquetFile(p).metadata.num_rows for p in supplied)
            self.commit_ops.append((kind, new, rows))

    def _timed_read(self, kind: str, build) -> int:
        holder = {}

        def body(op):
            with self.tracer.phase(op, "build"):
                df = build().agg(F.count(F.lit(1)).alias("n"))
            if self.tracer.enabled:
                with self.tracer.phase(op, "plan"):
                    holder["qe"] = df._jdf.queryExecution()
                    holder["qe"].executedPlan()
            with self.tracer.phase(op, "execute"):
                return df.collect()[0][0]

        rec, n = self._op(kind, body)
        if rec["error"]:
            raise _Abort
        if "qe" in holder:
            rec["catalyst"] = catalyst_phases(holder["qe"])
        return n

    def _fail(self, msg: str) -> None:
        if self.records and not self.records[-1]["error"]:
            self.records[-1]["error"] = msg

    def read_count(self) -> None:
        n = self._timed_read("read_snapshot", lambda: read_snapshot(self.spark, self.tbl))
        want = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        if n != want:
            self._fail(f"count {n} != replay {want}")

    def stream(self, stream_df, ckpt: str):
        q = stream_into_snapshot(stream_df, self.tbl, KEY, ckpt)
        if not q.awaitTermination(_STREAM_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"stream still running after {_STREAM_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.stream_progress = list(q.recentProgress)

    def asof(self, rng) -> None:
        hist = {r["version"]: r["ts"] for r in snapshot_history(self.spark, self.tbl).collect()}
        v = int(rng.choice(self.versions[:-1]))
        ts = hist[v]
        self._timed_read("read_snapshot_asof", lambda: read_snapshot_asof(self.spark, self.tbl, ts))
        problems = compare(
            "asof",
            _canon_spark(read_snapshot_asof(self.spark, self.tbl, ts)),
            self.con.execute(_canon_sql(f"v{v}")).df(),
        )
        if problems:
            self._fail(f"as-of v{v}: {problems[:2]}")

    def final_check(self) -> None:
        problems = compare(
            "final",
            _canon_spark(read_snapshot(self.spark, self.tbl)),
            self.con.execute(_canon_sql("t")).df(),
        )
        if problems:
            self._fail(f"final snapshot: {problems[:2]}")

    def merge_table_check(self, mt: MergeTable) -> None:
        self._timed_read("merge_table_read", mt.read)
        problems = compare("merge_table", _canon_spark(mt.read()), self.con.execute(_canon_sql("m")).df())
        if problems:
            self._fail(f"MergeTable: {problems[:2]}")

    def pass_stats(self, scratch: str) -> dict:
        """Byte and file accounting of the pass, read from the table
        directories and the snapshot log after the last commit."""
        stats = {"write_amp": self.written / self.supplied if self.supplied else 0.0}
        if not self.versions:
            return stats
        tbl_bytes = sum(_dir_files(self.tbl).values())
        rewrite = os.path.join(scratch, "compacted")
        read_snapshot(self.spark, self.tbl).coalesce(1).write.mode("overwrite").parquet(rewrite)
        compacted = sum(
            os.path.getsize(os.path.join(rewrite, f))
            for f in os.listdir(rewrite)
            if f.endswith(".parquet")
        )
        stats["space_amp"] = tbl_bytes / compacted
        added = removed = useful = rewritten = 0
        first = log_versions(self.tbl)[0]
        for kind, versions, rows in self.commit_ops:
            for v in versions:
                cur = set(snapshot_files(self.tbl, v))
                prev = set(snapshot_files(self.tbl, v - 1)) if v > first else set()
                adds = cur - prev
                added += len(adds)
                removed += len(prev - cur)
                if kind in _DML:
                    rewritten += sum(
                        pq.ParquetFile(os.path.join(self.tbl, f)).metadata.num_rows for f in adds
                    )
            if kind in _DML:
                useful += rows
        stats["files_added"] = added
        stats["files_removed"] = removed
        stats["rewrite_useful_ratio"] = useful / rewritten if rewritten else 0.0
        stats["log_bytes"] = sum(
            size for rel, size in _dir_files(self.tbl).items() if rel.startswith(LOG_DIR + os.sep)
        )
        stats["commits"] = len(log_versions(self.tbl))
        prog = self.stream_progress
        stats["stream_batches"] = sum(1 for p in prog if p.get("numInputRows", 0) > 0)
        stats["stream_batch_s"] = sum(p["durationMs"].get("triggerExecution", 0) for p in prog) / 1e3
        stats["stream_planning_s"] = sum(p["durationMs"].get("queryPlanning", 0) for p in prog) / 1e3
        return stats


def catalyst_phases(qe) -> dict[str, float]:
    """Catalyst phase durations (seconds) from the query's tracker."""
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs() / 1e3
    return out
