"""Smoke test of the benchmark: every workload for one pass at sf0.001.

Checks, for each workload, that the untraced run prints every
end-to-end metric (and ``op_p50_s``, ``op_p90_s``, ``pass_wall_s``,
``failed_frac``, ``jvm_peak_rss_mb``, and on ``lakehouse_merge``
``write_amp`` and ``space_amp``) and the traced
run every per-layer metric, each with a unit and a sample count; that
no operation failed; that on the query workloads no layer measured by
Catalyst or the event log overshoots its span (``tracing.op_layers``);
that Python-worker time reads about 0 on ``reference_etl``; and that
at one seed the lakehouse log bytes and file counts repeat exactly
across two runs, and ``write_amp`` within 0.1%.

    python3 perfbench/smoke.py

Exits 0 when every check holds; prints each failed check otherwise.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from run import ADDITIVE_WORKLOADS, E2E, PER_LAYER  # noqa: E402
from workloads import NAMES  # noqa: E402

SEED = 7
# lakehouse counts that repeat at one seed, with the relative tolerance
# each repeats within: data files written after a shuffle hold their
# rows in an order that varies between runs, and their compressed size
# (so write_amp) varies with it, by about 1e-5
REPEATED = {"write_amp": 1e-3, "files_added": 0.0, "log_bytes": 0.0}
# printed beside the end-to-end metrics of an untraced run
EXTRA = {
    "op_p50_s": "s",
    "op_p90_s": "s",
    "pass_wall_s": "s",
    "failed_frac": "ratio",
    "jvm_peak_rss_mb": "MB",
}
EXTRA_LAKEHOUSE = {"write_amp": "ratio", "space_amp": "ratio"}


def _run(workload: str, trace: int, tag: str) -> tuple[dict, dict]:
    out = os.path.join(ROOT, ".perfbench", "smoke", f"{workload}-{trace}-{tag}.json")
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(SEED), "--seconds", "0",
        "--trace", str(trace), "--fixture", "sf0.001", "--out", out,
    ]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-2000:]}")
    last = json.loads(p.stdout.strip().splitlines()[-1])
    with open(out) as f:
        return last, json.load(f)


def _check_metrics(last: dict, full: dict, names: dict[str, str], extra: dict[str, str]) -> list[str]:
    bad = []
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        bad.append(f"result keys {sorted(last)}")
    if set(last["metrics"]) != set(names):
        bad.append(f"metrics {sorted(set(last['metrics']) ^ set(names))} differ")
    printed = {**full["metrics"], **full["extra_metrics"]}
    for name, unit in {**names, **extra}.items():
        m = printed.get(name, {})
        if m.get("unit") != unit or not m.get("samples"):
            bad.append(f"{name}: unit {m.get('unit')!r}, samples {m.get('samples')!r}")
    failed_frac = full["extra_metrics"]["failed_frac"]["value"]
    if failed_frac != 0 or not last["correct"]:
        errors = [f"{r['name']}: {r['error']}" for r in full["operations"] if r["error"]]
        bad.append(f"failed_frac {failed_frac}: {errors[:3]}")
    return bad


def main() -> int:
    problems: list[str] = []
    untraced = {}
    for w in NAMES:
        extra = {**EXTRA, **(EXTRA_LAKEHOUSE if w == "lakehouse_merge" else {})}
        last, full = untraced[w] = _run(w, 0, "a")
        problems += [f"{w} untraced: {p}" for p in _check_metrics(last, full, E2E, extra)]
        last, full = _run(w, 1, "a")
        problems += [f"{w} traced: {p}" for p in _check_metrics(last, full, PER_LAYER, {})]
        if w in ADDITIVE_WORKLOADS and full["additive"]["ops_outside"]:
            problems.append(f"{w}: layers miss wall time on {full['additive']['ops_outside']} ops")
        if w == "reference_etl" and full["metrics"]["python.run_s"]["value"] > 0.05:
            problems.append(f"{w}: python.run_s {full['metrics']['python.run_s']['value']}")
    first = untraced["lakehouse_merge"][1]["pass_stats"][0]
    again = _run("lakehouse_merge", 0, "b")[1]["pass_stats"][0]
    for key, tol in REPEATED.items():
        if not math.isclose(first[key], again[key], rel_tol=tol):
            problems.append(f"lakehouse_merge {key} does not repeat: {first[key]} vs {again[key]}")
    for p in problems:
        print(f"FAIL {p}")
    print(f"smoke: {len(problems)} failed checks")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
