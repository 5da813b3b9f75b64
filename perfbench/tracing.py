"""Tracing for the benchmark's per-layer run.

Two sources, joined per operation:

* spans the benchmark records around each operation and each layer
  call inside it (build, plan, execute, write), kept in memory and
  written out with the result;
* Spark's own event log (uncompressed JSON lines): job intervals,
  stage and task counts, task metrics and the SQL metrics the Arrow
  Python runners report ("time to run Python workers" and friends).

Jobs are attributed to spans by a job group ``perfbench:<op>:<phase>``
set around each phase.  Jobs that Spark starts on its own threads
(broadcast exchanges, streaming micro-batches, thread-pooled collects)
carry another group or none; they fall back to the span whose wall
interval holds their submission time.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

_GROUP = re.compile(r"perfbench:(\d+):(\w+)$")

# SQL metric names of the Python runners -> layer metric keys
_PY_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_recv_b",
}
_JOB_SUMS = (
    "tasks",
    "stages",
    "task_run_ms",
    "task_cpu_ns",
    "task_wait_ms",
    "gc_ms",
    "input_b",
    "shuffle_read_b",
    "shuffle_write_b",
    "spill_b",
    *_PY_METRICS.values(),
)


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    start: float  # epoch seconds, the clock Spark stamps its events with
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``enabled`` false only operation spans are
    kept and no job group is set, so an untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._next_op = 0

    @contextmanager
    def op(self, name: str):
        """Span one operation; yields its id."""
        self._next_op += 1
        span = Span(name, self._next_op, None, time.time())
        try:
            yield span.op
        finally:
            span.end = time.time()
            self.spans.append(span)

    @contextmanager
    def phase(self, op: int, name: str):
        """Span one layer call inside operation ``op``."""
        if not self.enabled:
            yield
            return
        # the span holds the two py4j calls that tag its jobs, so the
        # phases of an operation tile it without gaps
        span = Span(name, op, "op", time.time())
        self.sc.setJobGroup(f"perfbench:{op}:{name}", name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            span.end = time.time()
            self.spans.append(span)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


@dataclass
class Job:
    id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = 0.0
    stage_ids: list[int] = field(default_factory=list)
    sums: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_JOB_SUMS, 0.0))


def read_event_log(path: str) -> list[Job]:
    """Jobs of one application with their stage and task totals."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    launches: list[tuple[int, float]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                job = Job(e["Job ID"], props.get("spark.jobGroup.id"), e["Submission Time"] / 1e3)
                job.stage_ids = list(e["Stage IDs"])
                jobs[job.id] = job
                for s in job.stage_ids:
                    stage_job[s] = job.id
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                if sid in stage_job:
                    jobs[stage_job[sid]].sums["stages"] += 1
                if info.get("Submission Time"):
                    stage_submit[sid] = info["Submission Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                if sid not in stage_job:
                    continue
                s = jobs[stage_job[sid]].sums
                info = e["Task Info"]
                m = e.get("Task Metrics") or {}
                s["tasks"] += 1
                launches.append((sid, info["Launch Time"] / 1e3))
                s["task_run_ms"] += m.get("Executor Run Time", 0)
                s["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                rd = m.get("Shuffle Read Metrics") or {}
                s["shuffle_read_b"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                s["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                s["spill_b"] += m.get("Disk Bytes Spilled", 0)
                for acc in info.get("Accumulables") or []:
                    key = _PY_METRICS.get(acc.get("Name"))
                    if key is not None:
                        s[key] += float(acc.get("Update") or 0)
    # queueing: how long each task waited for a core after its stage
    # was submitted (stage submit times arrive after the tasks end)
    for sid, launch in launches:
        if sid in stage_submit:
            jobs[stage_job[sid]].sums["task_wait_ms"] += max(0.0, launch - stage_submit[sid]) * 1e3
    return sorted(jobs.values(), key=lambda j: j.id)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(jobs: list[Job], spans: list[Span]) -> dict[tuple[int, str], list[Job]]:
    """Map (op, phase) -> jobs, by job group, else by wall interval."""
    ops = [s for s in spans if s.parent is None]
    phases = [s for s in spans if s.parent is not None]
    out: dict[tuple[int, str], list[Job]] = {}
    slack = 0.005  # Spark stamps events in whole milliseconds
    for job in jobs:
        m = _GROUP.match(job.group or "")
        if m:
            key = (int(m.group(1)), m.group(2))
        else:
            op = next((s for s in ops if s.start - slack <= job.submit <= s.end + slack), None)
            if op is None:
                continue  # set-up or check work outside every operation
            ph = next(
                (
                    p
                    for p in phases
                    if p.op == op.op and p.start - slack <= job.submit <= p.end + slack
                ),
                None,
            )
            key = (op.op, ph.name if ph else "execute")
        out.setdefault(key, []).append(job)
    return out


def op_layers(
    op: Span,
    phases: dict[str, Span],
    jobs: dict[str, list[Job]],
    catalyst: dict[str, float] | None,
) -> dict[str, float]:
    """Split one operation's wall time into layers.

    ``build_s`` is driver build time (Python, py4j, eager analysis)
    outside the jobs the build itself launched; ``catalyst_s`` is
    optimization plus planning of the final plan (Catalyst's tracker);
    ``job_s`` is the union of the execution jobs' intervals (event
    log); ``gap_s`` is the time the plan and execute spans held beyond
    Catalyst and the jobs.

    ``gap_s`` is a remainder, so the layers add up to the phase spans
    by construction.  ``sum_err`` measures the two ways they can still
    miss the operation's wall time, as a share of it: a part taken
    from Catalyst or the event log that is longer than the span it was
    attributed to (a job counted in the wrong operation or phase, or a
    job that outlived its span), and operation time outside every
    phase span.  It does not bound ``gap_s`` itself."""
    build_jobs = jobs.get("build", [])
    exec_jobs = [j for k, v in jobs.items() if k != "build" for j in v]
    build_job_s = _union([(j.submit, j.end) for j in build_jobs])
    job_s = _union([(j.submit, j.end) for j in exec_jobs])
    b = phases["build"].dur if "build" in phases else 0.0
    p = phases["plan"].dur if "plan" in phases else 0.0
    e = sum(phases[k].dur for k in ("execute", "write") if k in phases)
    cat = catalyst or {}
    catalyst_s = cat.get("optimization", 0.0) + cat.get("planning", 0.0)
    build_s = max(0.0, b - build_job_s)
    gap_s = max(0.0, p - catalyst_s) + max(0.0, e - job_s)
    overshoot = max(0.0, build_job_s - b) + max(0.0, catalyst_s - p) + max(0.0, job_s - e)
    wall = op.dur
    untiled = wall - (b + p + e)
    return {
        "wall_s": wall,
        "build_s": build_s,
        "build_job_s": build_job_s,
        "build_jobs": float(len(build_jobs)),
        "catalyst_s": catalyst_s,
        "job_s": job_s,
        "gap_s": gap_s,
        "sum_err": (overshoot + abs(untiled)) / wall if wall > 0 else 0.0,
    }


def job_totals(jobs: list[Job]) -> dict[str, float]:
    out = dict.fromkeys(_JOB_SUMS, 0.0)
    for j in jobs:
        for k, v in j.sums.items():
            out[k] += v
    out["jobs"] = float(len(jobs))
    return out
