#!/usr/bin/env python3
"""Tracing overhead per end-to-end metric: traced minus untraced median.

    python3 perfbench/overhead.py [workload ...]

Reads the run records ``run.py`` keeps under ``.perfbench/results/``
(``--trace 0`` and ``--trace 1`` runs of the same workloads) and prints,
per workload and metric, both medians with their run counts and the
difference, absolute and as a share of the untraced median.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")


def overhead(workload: str) -> dict[str, dict]:
    """Traced and untraced medians of each end-to-end metric. Only runs of
    the newest record's commit and query list count."""
    recs = []
    for path in sorted(glob.glob(os.path.join(RESULTS, workload, "*.json")), key=os.path.getmtime):
        with open(path) as f:
            recs.append(json.load(f))
    if not recs:
        return {}

    def same_code(r: dict) -> tuple:
        return r["stamp"]["commit"], r["stamp"]["queries"]

    runs = {0: [], 1: []}
    for r in recs:
        if same_code(r) == same_code(recs[-1]):
            runs[r["stamp"]["trace"]].append(r["e2e"])
    if not runs[0] or not runs[1]:
        return {}
    out = {}
    for metric in runs[0][0]:
        off = statistics.median(r[metric] for r in runs[0])
        on = statistics.median(r[metric] for r in runs[1])
        out[metric] = {
            "untraced": off, "untraced_runs": len(runs[0]),
            "traced": on, "traced_runs": len(runs[1]),
            "overhead": on - off, "overhead_share": (on - off) / off,
        }
    return out


def main() -> int:
    names = sys.argv[1:] or (sorted(os.listdir(RESULTS)) if os.path.isdir(RESULTS) else [])
    found = False
    for w in names:
        for metric, o in overhead(w).items():
            found = True
            print(
                f"{w:16s} {metric:12s} untraced {o['untraced']:8.3f} (n={o['untraced_runs']}) "
                f"traced {o['traced']:8.3f} (n={o['traced_runs']}) "
                f"overhead {o['overhead']:+.3f} ({o['overhead_share']:+.1%})"
            )
    if not found:
        print("no workload has both traced and untraced runs under " + RESULTS, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
