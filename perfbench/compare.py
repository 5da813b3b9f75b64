"""Compare two benchmark results, the JSON files perfbench/run.py writes.

    python3 perfbench/compare.py BASE.json NEW.json

Prints every metric of both with the ratio NEW/BASE.  Refuses (exit
2) to compare results of different workloads or trace modes, or
recorded on a different core count or fixture directory: a 4-core
figure is never compared with a 32-core one.
"""

from __future__ import annotations

import json
import sys

# provenance fields two comparable results must share
MUST_MATCH = ("workload", "trace", "cpus", "sf_dir")


def refusal(base: dict, new: dict) -> str | None:
    pb, pn = base["provenance"], new["provenance"]
    for key in MUST_MATCH:
        if pb.get(key) != pn.get(key):
            return f"{key} differs: {pb.get(key)!r} vs {pn.get(key)!r}"
    return None


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        base = json.load(f)
    with open(argv[1]) as f:
        new = json.load(f)
    why = refusal(base, new)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    new_metrics = {**new["metrics"], **new["extra_metrics"]}
    for name, b in {**base["metrics"], **base["extra_metrics"]}.items():
        n = new_metrics.get(name)
        if n is None:
            print(f"{name:32s} {b['value']:14.6f} {'-':>14s} {b['unit']}")
            continue
        ratio = f"{n['value'] / b['value']:.3f}" if b["value"] else "-"
        print(f"{name:32s} {b['value']:14.6f} {n['value']:14.6f} {b['unit']:6s} x{ratio}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
