"""Compare two benchmark run records written by ``run.py``.

    python3 perfbench/compare.py perfbench/results/A.json perfbench/results/B.json

Prints every metric the two records share with its relative change. Exits
2 without comparing when the records were taken at different parallelism
(``nproc``, ``SPARK_GRAFT_CPUS`` or Spark's ``defaultParallelism``) or on
different workloads.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.envinfo import comparable  # noqa: E402


def compare(a: dict, b: dict) -> tuple[list[str], list[str]]:
    """(refusal reasons, metric lines)."""
    reasons = comparable(a["env"], b["env"])
    if a["workload"] != b["workload"]:
        reasons.append(f"workload: {a['workload']} != {b['workload']}")
    if reasons:
        return reasons, []
    lines = []
    for section in ("end_to_end", "per_layer"):
        ma, mb = a.get(section) or {}, b.get(section) or {}
        for k in sorted(set(ma) & set(mb)):
            change = (mb[k] - ma[k]) / ma[k] if ma[k] else float("nan")
            lines.append(f"{k} {ma[k]:.6g} -> {mb[k]:.6g} ({change:+.1%})")
    return [], lines


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    reasons, lines = compare(*records)
    if reasons:
        print("refusing to compare: " + "; ".join(reasons), file=sys.stderr)
        return 2
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
