"""Full-registry scale sweep: EVERY registered query, one cold rep,
at sf0.1 and the gen_scale.py ~sf1 fixture; writes SWEEP_SF1.json.

One rep, no warm-up (planning + first execution billed) — this is a
coverage-at-scale artifact proving every query RUNS and bounding its
cost at 10x data, not a best-of-N benchmark (that's bench.py
--stretch / BENCH_STRETCH.json).

Completeness is ASSERTED at the point that matters: `--check`
compares the COMMITTED SWEEP_SF1.json's keys against the CURRENT
registry and exits 1 on any mismatch, so a query registered after
the last regeneration fails tier-1 (tests/test_contract.py) until
the sweep is rerun.  (A generation-time self-check would be
tautological — the sweep iterates the registry itself.)

Usage: python tools/sweep.py [sf01_dir] [sf1_dir] | --check
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from survivor_processing_spark import get_spark  # noqa: E402
from survivor_processing_spark.queries import REGISTRY  # noqa: E402


def check_committed(repo: str) -> int:
    """Compare the committed artifact's query keys against the
    CURRENT registry — the completeness assertion that can actually
    catch a post-regeneration registration."""
    path = os.path.join(repo, "SWEEP_SF1.json")
    with open(path) as f:
        committed = set(json.load(f)["queries"])
    current = set(REGISTRY)
    missing = sorted(current - committed)
    extra = sorted(committed - current)
    if missing or extra:
        print(
            f"SWEEP_SF1.json is stale: missing={missing} extra={extra} "
            "— regenerate with tools/sweep.py"
        )
        return 1
    print(f"SWEEP_SF1.json complete: {len(committed)} == registry")
    return 0


def main() -> int:
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if "--check" in sys.argv:
        return check_committed(repo_root)
    sf01 = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf1 = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sps_scaled"
    spark = get_spark("sweep")
    spark.sparkContext.setLogLevel("ERROR")

    results: dict[str, dict] = {}
    errors: list[str] = []
    for name in REGISTRY:
        row: dict[str, float | None] = {}
        for label, d in (("sf01", sf01), ("sf1", sf1)):
            t0 = time.perf_counter()
            try:
                REGISTRY[name].fn(spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                row[label] = round(time.perf_counter() - t0, 2)
            except Exception:
                row[label] = None
                errors.append(f"{name}/{label}: {traceback.format_exc(limit=1)}")
            print(f"{name} {label}: {row[label]}", flush=True)
        results[name] = row

    doc = {
        "metric": "full_registry_single_rep_sweep",
        "n_queries": len(results),
        "n_errors": len(errors),
        "rep_semantics": (
            "ONE rep per query per scale, cold plan (planning + first "
            "execution billed; no warm-up) — a coverage-at-scale "
            "artifact, not a best-of-N benchmark.  Compare against "
            "BENCH_STRETCH.json for warm best-of-3 numbers."
        ),
        "totals_sec": {
            "sf0.1": round(
                sum(
                    r["sf01"]
                    for r in results.values()
                    if r["sf01"] is not None
                ),
                1,
            ),
            "sf1": round(
                sum(
                    r["sf1"] for r in results.values() if r["sf1"] is not None
                ),
                1,
            ),
        },
        "completeness": "verify with tools/sweep.py --check (committed keys vs current registry)",
        "errors": errors,
        "queries": results,
    }
    out = os.path.join(repo_root, "SWEEP_SF1.json")
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"wrote {out}: {len(results)} queries, {len(errors)} errors")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
