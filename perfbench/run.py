"""Benchmark of the survivor_processing_spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--fixture sf0.01|sf0.001] [--out PATH]

Workloads: ``reference_etl``, ``vector_dedup`` (registered queries,
each result checked against its DuckDB oracle) and ``lakehouse_merge``
(a seeded commit sequence on a fresh snapshot table, checked against
a DuckDB replay).  See perfbench/README.md.

Load model: one driver process with one client in a closed loop (an
operation starts when the previous one ends) on
``local[$SPARK_GRAFT_CPUS]``, by default every core this process may
run on.  The fixture tables are the fixed seed-42 catalog tables under
perfbench/fixtures/, read-only; ``--seed`` orders each pass's queries
and draws the lakehouse batches.

A run starts the session and runs one full pass as warm-up (together
``setup_s``), then whole passes for about ``--seconds``: as many as
fit at the workload's nominal pass time on the reference host (at
least one), so every run stops at the same point of the JVM's
warm-up curve.  Timings are wall times less the share the hypervisor
stole from the VM (hostclock.py).  ``--trace 0`` prints the
end-to-end metrics.
``--trace 1`` runs half the passes untraced, restarts the context
with Spark's event log on, re-warms it with one more pass, runs the
other half with spans around every layer call, and prints the
per-layer metrics.  Everything the run writes stays under
``.perfbench/`` in the checkout; the last stdout line is one JSON
object, and the full result (provenance, every operation, spans) is
written to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import hostclock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURES = ("sf0.01", "sf0.001")

E2E = {
    "pass_s": "s",
    "setup_s": "s",
}
PER_LAYER = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.job_s": "s",
    "executor.task_run_s": "s",
    "executor.task_cpu_s": "s",
    "executor.task_wait_s": "s",
    "executor.gc_s": "s",
    "executor.input_mb": "MB",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "python.run_s": "s",
    "python.init_s": "s",
    "python.boot_s": "s",
    "python.sent_mb": "MB",
    "python.received_mb": "MB",
    "driver.gap_s": "s",
    "jvm_peak_rss_mb": "MB",
    **{f"snapshot.{w}_s": "s" for w in (
        "init_snapshot",
        "merge_into_snapshot",
        "upsert_into_snapshot_mor",
        "delete_from_snapshot_mor",
        "stream_into_snapshot",
        "checkpoint_snapshot",
        "compact_snapshot",
        "merge_table",
    )},
    "snapshot.read_s": "s",
    "snapshot.asof_read_s": "s",
    "snapshot.jobs_per_commit": "count",
    "snapshot.files_added": "count",
    "snapshot.files_removed": "count",
    "snapshot.log_bytes": "bytes",
    "snapshot.rewrite_useful_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.planning_s": "s",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "trace.overhead_s": "s",
    "trace.layer_sum_err": "ratio",
}
# the traced run's additivity check: on these workloads every
# operation's layers must add up to its wall time within this share
ADDITIVE_WORKLOADS = ("reference_etl", "vector_dedup")
ADDITIVE_TOLERANCE = 0.05


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--fixture", choices=FIXTURES, default=FIXTURES[0], help="fixture tables")
    p.add_argument("--out", help="full result JSON (default .perfbench/results/...)")
    return p.parse_args(argv)


class Session:
    """The Spark session of one run, with everything it writes kept
    under ``work``, and the driver JVM stopped and reaped at the end."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None
        self.proc = None

    def start(self, event_dir: str | None = None):
        from pyspark import SparkContext

        from survivor_processing_spark import get_spark

        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_dir,
                    # zstd is the default codec, and no reader for it is installed
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        return self.spark

    def stop_context(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("no VmHWM for the driver JVM")

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop_context()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.proc is not None:
            if self.proc.stdin:
                self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()


def _rng(seed: int, k: int):
    import numpy as np

    return np.random.default_rng([seed, k])


def _passes(workload, spark, tracer, seed: int, first: int, count: int, budget_s: float) -> list[dict]:
    """``count`` passes; none starts once they have taken ``budget_s``,
    so a host running far below its usual speed cannot stretch a run
    past its time limit."""
    out = []
    t0 = time.perf_counter()
    for i in range(count):
        if out and time.perf_counter() - t0 > budget_s:
            break
        records, stats = workload.run_pass(spark, tracer, _rng(seed, first + i))
        out.append({
            "ops": records,
            "stats": stats,
            "wall_s": sum(r["wall_s"] for r in records),
            "time_s": sum(r["time_s"] for r in records),
        })
    return out


def _quantile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _metric(value: float, unit: str, samples: int) -> dict:
    return {"value": value, "unit": unit, "samples": samples}


def end_to_end(passes: list[dict], setup_s: float) -> dict:
    """Timings are ``time_s``: wall time less the hypervisor's steal
    (hostclock.py)."""
    times = [p["time_s"] for p in passes]
    return {
        "pass_s": _metric(statistics.median(times), "s", len(times)),
        "setup_s": _metric(setup_s, "s", 1),
    }


def latencies(passes: list[dict]) -> dict:
    """Operation-time percentiles across all operations of ``passes``."""
    lat = [r["time_s"] for p in passes for r in p["ops"]]
    return {
        "op_p50_s": _metric(statistics.median(lat), "s", len(lat)),
        "op_p90_s": _metric(_quantile(lat, 90), "s", len(lat)),
    }


def per_layer(traced: list[dict], untraced: list[dict], tracer, jobs, rss_mb: float) -> tuple[dict, list]:
    """Per-layer metrics of the traced passes, as per-pass means (the
    snapshot writer and read timings as medians per call)."""
    import tracing

    spans = tracer.spans
    by_op = {s.op: s for s in spans if s.parent is None}
    phases: dict[int, dict] = {}
    for s in spans:
        if s.parent is not None:
            phases.setdefault(s.op, {})[s.name] = s
    attributed = tracing.attribute(jobs, spans)
    jobs_of: dict[int, dict[str, list]] = {}
    for (op, ph), js in attributed.items():
        jobs_of.setdefault(op, {})[ph] = js
    n = len(traced)
    totals: dict[str, float] = {}
    layers_per_op = []
    calls: dict[str, list[float]] = {}
    writer_jobs = 0

    def add(key, v):
        totals[key] = totals.get(key, 0.0) + v / n

    for p in traced:
        for rec in p["ops"]:
            op = rec.get("op")
            if op not in by_op:
                continue
            lay = tracing.op_layers(by_op[op], phases.get(op, {}), jobs_of.get(op, {}), rec.get("catalyst"))
            layers_per_op.append({"op": op, "name": rec["name"], **lay})
            add("queries.build_s", lay["build_s"])
            add("queries.build_jobs", lay["build_jobs"])
            add("queries.build_job_s", lay["build_job_s"])
            add("executor.job_s", lay["build_job_s"] + lay["job_s"])
            add("driver.gap_s", lay["gap_s"])
            for k, v in (rec.get("catalyst") or {}).items():
                add(f"catalyst.{k}_s", v)
            op_jobs = [j for js in jobs_of.get(op, {}).values() for j in js]
            t = tracing.job_totals(op_jobs)
            for key, src, scale in (
                ("executor.jobs", "jobs", 1),
                ("executor.stages", "stages", 1),
                ("executor.tasks", "tasks", 1),
                ("executor.task_run_s", "task_run_ms", 1e-3),
                ("executor.task_cpu_s", "task_cpu_ns", 1e-9),
                ("executor.task_wait_s", "task_wait_ms", 1e-3),
                ("executor.gc_s", "gc_ms", 1e-3),
                ("executor.input_mb", "input_b", 2**-20),
                ("executor.shuffle_read_mb", "shuffle_read_b", 2**-20),
                ("executor.shuffle_write_mb", "shuffle_write_b", 2**-20),
                ("executor.spill_mb", "spill_b", 2**-20),
                ("python.run_s", "python_run_ms", 1e-3),
                ("python.init_s", "python_init_ms", 1e-3),
                ("python.boot_s", "python_boot_ms", 1e-3),
                ("python.sent_mb", "python_sent_b", 2**-20),
                ("python.received_mb", "python_recv_b", 2**-20),
            ):
                add(key, t[src] * scale)
            name = rec["name"]
            if rec["kind"] == "write" and name != "merge_table":
                writer_jobs += len(op_jobs)
            key = {
                "read_snapshot": "snapshot.read_s",
                "read_snapshot_asof": "snapshot.asof_read_s",
            }.get(name, f"snapshot.{name}_s")
            if key in PER_LAYER:
                calls.setdefault(key, []).append(rec["wall_s"])
    out = {k: 0.0 for k in PER_LAYER}
    out.update(totals)
    out["jvm_peak_rss_mb"] = rss_mb
    for key, walls in calls.items():
        out[key] = statistics.median(walls)
    stats = [p["stats"] for p in traced]
    if stats and stats[0]:
        mean = lambda k: sum(s.get(k, 0.0) for s in stats) / len(stats)  # noqa: E731
        commits = sum(s.get("commits", 0) for s in stats)
        out["snapshot.jobs_per_commit"] = writer_jobs / commits if commits else 0.0
        for key, src in (
            ("snapshot.files_added", "files_added"),
            ("snapshot.files_removed", "files_removed"),
            ("snapshot.log_bytes", "log_bytes"),
            ("snapshot.rewrite_useful_ratio", "rewrite_useful_ratio"),
            ("streaming.batches", "stream_batches"),
            ("streaming.batch_s", "stream_batch_s"),
            ("streaming.planning_s", "stream_planning_s"),
            ("write_amp", "write_amp"),
            ("space_amp", "space_amp"),
        ):
            out[key] = mean(src)
    out["trace.overhead_s"] = statistics.median(p["time_s"] for p in traced) - statistics.median(
        p["time_s"] for p in untraced
    )
    out["trace.layer_sum_err"] = max((lay["sum_err"] for lay in layers_per_op), default=0.0)
    samples = {k: len(traced) for k in PER_LAYER}
    samples["jvm_peak_rss_mb"] = 1
    for key, walls in calls.items():
        samples[key] = len(walls)
    return {k: _metric(out[k], PER_LAYER[k], samples[k]) for k in PER_LAYER}, layers_per_op


def provenance(args, sf_dir: str, load_start, steal_start: float) -> dict:
    import pyspark

    git_head = None
    if os.path.exists(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=30
        )
        git_head = r.stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": {
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "nproc": len(os.sched_getaffinity(0)),
        },
        "git_head": git_head,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "loadavg_start": load_start,
        "loadavg_end": list(os.getloadavg()),
        "cpu_steal_s": hostclock.cpu_times()[1] - steal_start,
    }


def write_amps(passes: list[dict]) -> dict:
    """``write_amp`` and ``space_amp`` of the lakehouse passes, as
    medians over passes; empty for the query workloads."""
    out = {}
    for key in ("write_amp", "space_amp"):
        vals = [p["stats"][key] for p in passes if key in p["stats"]]
        if vals:
            out[key] = _metric(statistics.median(vals), "ratio", len(vals))
    return out


def run(args, work: str, sf_dir: str, oracle_dir: str) -> dict:
    import bench
    import tracing
    import workloads

    load_start = list(os.getloadavg())
    steal_start = hostclock.cpu_times()[1]
    session = Session(work)
    workload = workloads.make(args.workload, sf_dir, oracle_dir, work)
    try:
        clock = hostclock.Clock()
        spark = session.start()
        start = clock.stop({})
        warm = workload.run_pass(spark, tracing.Tracer(spark, False), _rng(args.seed, 0))[0]
        # the warm-up's timed operations; its output checks are not set-up
        setup_s = start["time_s"] + sum(r["time_s"] for r in warm)
        # a count that depends on how fast the first passes went would
        # flip between runs, and later passes are faster
        count = max(1, round(args.seconds / workload.nominal_pass_s / (2 if args.trace else 1)))
        budget_s = 2 * args.seconds / (2 if args.trace else 1)
        untraced = _passes(workload, spark, tracing.Tracer(spark, False), args.seed, 1, count, budget_s)
        traced, rewarm, tracer, layers = [], [], None, []
        if args.trace:
            session.stop_context()
            events = os.path.join(work, "eventlog")
            spark = session.start(events)
            app = spark.sparkContext.applicationId
            # a new context starts new Python workers and caches: one
            # untimed pass re-warms them before the traced passes
            first = 1 + len(untraced)
            rewarm = workload.run_pass(spark, tracing.Tracer(spark, False), _rng(args.seed, first))[0]
            tracer = tracing.Tracer(spark, True)
            traced = _passes(workload, spark, tracer, args.seed, first + 1, count, budget_s)
        rss = session.jvm_peak_rss_mb()
        # host context, not metrics; the 150-job overhead probe only
        # where the per-layer numbers it explains are measured
        probes = {"calibration_sec": bench._calibration(spark)}
        if args.trace:
            probes["job_overhead_sec"] = bench._job_overhead(spark)
            session.stop_context()  # flushes and closes the event log
            jobs = tracing.read_event_log(os.path.join(events, app))
            metrics, layers = per_layer(traced, untraced, tracer, jobs, rss)
            extra = {}
        else:
            metrics = end_to_end(untraced, setup_s)
            # printed with every untraced run, but not end-to-end metrics
            # of BENCHMARK.json (perfbench/README.md says why)
            extra = {
                **latencies(untraced),
                "pass_wall_s": _metric(statistics.median(p["wall_s"] for p in untraced), "s", len(untraced)),
                "jvm_peak_rss_mb": _metric(rss, "MB", 1),
                **write_amps(untraced),
            }
    finally:
        workload.close()
        session.close()
    ops = [r for p in [{"ops": warm}, *untraced, {"ops": rewarm}, *traced] for r in p["ops"]]
    failed = [r for r in ops if r["error"]]
    result = {
        "provenance": {**provenance(args, sf_dir, load_start, steal_start), "host_probes": probes},
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
        "extra_metrics": {"failed_frac": _metric(len(failed) / len(ops), "ratio", len(ops)), **extra},
        "passes": {"warmup": 1, "untraced": len(untraced), "rewarm": int(bool(rewarm)), "traced": len(traced)},
        "operations": ops,
        "pass_stats": [p["stats"] for p in [*untraced, *traced]],
    }
    if args.trace:
        result["layers"] = layers
        result["spans"] = tracer.to_json()
        bad = [lay for lay in layers if lay["sum_err"] > ADDITIVE_TOLERANCE]
        result["additive"] = {
            "checked": args.workload in ADDITIVE_WORKLOADS,
            "tolerance": ADDITIVE_TOLERANCE,
            "ops_outside": len(bad),
            "ops": len(layers),
        }
    return result


def main(argv=None) -> int:
    args = _args(argv)
    sys.path[:0] = [ROOT]
    try:
        import survivor_processing_spark  # noqa: F401
        import tools.check_correctness  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.NAMES:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.NAMES}", file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    state = os.path.join(ROOT, ".perfbench")
    sf_dir = os.path.join(HERE, "fixtures", args.fixture)
    work = os.path.join(state, f"work-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    try:
        result = run(args, work, sf_dir, os.path.join(state, "oracle", args.fixture))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out = args.out or os.path.join(
        state, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    prov = result["provenance"]
    print(
        f"# {args.workload} seed={args.seed} cpus={prov['cpus']} sf_dir={prov['sf_dir']} "
        f"passes={result['passes']} probes={prov['host_probes']} "
        f"cpu_steal_s={prov['cpu_steal_s']:.1f} result={out}"
    )
    for name, m in {**result["metrics"], **result["extra_metrics"]}.items():
        print(f"{name:32s} {m['value']:14.6f} {m['unit']:6s} n={m['samples']}")
    for r in result["operations"]:
        if r["error"]:
            print(f"FAILED {r['name']}: {r['error']}", file=sys.stderr)
    if args.trace and result["additive"]["checked"] and result["additive"]["ops_outside"]:
        print(
            f"# layers do not add up to wall time within {ADDITIVE_TOLERANCE:.0%} on "
            f"{result['additive']['ops_outside']}/{result['additive']['ops']} operations",
        )
    print(
        json.dumps(
            {
                "correct": result["correct"],
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    k: {"value": m["value"], "unit": m["unit"]} for k, m in result["metrics"].items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
